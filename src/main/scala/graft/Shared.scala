package graft

/** Build-once-per-process derived relations and check-once guards — the
  * reuse under the shared-build catalog queries (the
  * [[CoPurchase]], [[TradeGraph]], [[NearDupGraph]] and
  * [[ContainmentRel]] relations, the per-process ANN/BM25 stores, the
  * streaming stores). [[StableStores]] is the cross-process tier.
  *
  * A relation is MATERIALIZED to a per-process parquet scratch dir
  * ([[TmpDirs]] — shutdown-hook cleaned) rather than held as a
  * cached/checkpointed Spark relation: the bench's between-query block
  * hygiene unpersists every RDD (a localCheckpoint reused across queries
  * would lose its blocks with no lineage to rebuild), and build once →
  * scan many with column pruning and predicate pushdown is what a
  * production pipeline does with a shared derived relation at 100 TB.
  * NOT a cross-run cache: a fresh process rebuilds from the inputs.
  *
  * Rules, for every caller:
  *  - the key is (name, canonical sfDir), so two spellings of one dir
  *    share one build; the scratch dir is `graft_<name>_<pid>_<digest>`;
  *  - every build attempt starts from an EMPTIED dir, so a retry after a
  *    failed build never appends to a half-written one;
  *  - only a build that returns is marked built, and only its seconds
  *    are recorded in [[BuildTimes]] under `name` (the `queries_build`
  *    row that keeps the first consumer's cold number honest);
  *  - one reentrant lock: builds nest (q212's build runs q209's, q211's
  *    runs q204's id-bound check), which `ConcurrentHashMap
  *    .computeIfAbsent` forbids, while a monitor re-entered by its own
  *    thread allows it.
  */
object Shared {

  private val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The scratch dir for (name, dir), built with `build` (handed the
    * emptied dir) at most once per process.
    */
  def relation(name: String, dir: String)(build: String => Unit): String = {
    val out = TmpDirs.perProcess(s"graft_$name", canonical(dir))
    guard(out) {
      val f = new java.io.File(out)
      TmpDirs.deleteRec(f)
      f.mkdirs(): Unit
      val t0 = System.nanoTime()
      build(out)
      BuildTimes.record(name, (System.nanoTime() - t0) / 1e9)
    }
    out
  }

  /** Run `check` at most once per process per (name, dir); a check that
    * throws runs again on the next call.
    */
  def once(name: String, dir: String)(check: => Unit): Unit =
    guard(s"$name|${canonical(dir)}")(check)

  private def canonical(dir: String): String =
    new java.io.File(dir).getCanonicalPath

  private def guard(key: String)(body: => Unit): Unit =
    if (!done.contains(key)) this.synchronized {
      if (!done.contains(key)) { body; done.add(key): Unit }
    }
}
