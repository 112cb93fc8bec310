package graft

/** Per-process scratch directories for queries that round-trip through a
  * written layout (q36 CSV round-trip, q98 partitioned parquet) and for
  * the [[Shared]] build-once relations. The
  * path is unique per (process, key) so concurrent Verify/Bench runs
  * never race on a shared directory, and a JVM shutdown hook removes
  * everything this process created — repeated runs must not accumulate
  * layouts in /tmp (the parse-bench dir in Bench.scala cleans up for the
  * same reason).
  */
object TmpDirs {

  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def perProcess(prefix: String, key: String): String = {
    val p = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"${prefix}_${ProcessHandle.current().pid()}_${digest(key)}").getPath
    if (registered.add(p)) {
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => deleteRec(new java.io.File(p))))
    }
    p
  }

  /** 8-byte md5 hex of `key` — the per-key suffix of every scratch and
    * stable-store dir. md5, not String.hashCode: two distinct keys (e.g.
    * sf dirs) colliding on a 32-bit hash would silently share a dir.
    */
  private[graft] def digest(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  private[graft] def deleteRec(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRec)
    f.delete(): Unit
  }
}
