package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark main, one workload per JVM. `perfbench/run.py` builds the
  * classpath and starts it; this class sets up, runs the one-time build
  * phase and the untimed output-check pass, then timed passes until the
  * time budget is spent, and prints one `PERFBENCH_REPORT {json}` line of
  * raw timings that run.py turns into metrics.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --cpus N
  * --scratch DIR --data DIR [--expected FILE] [--pin FILE]
  * [--trace-out FILE] [--smoke]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cpus: Int, scratch: String, data: String,
      expected: Option[String], pin: Option[String], traceOut: Option[String],
      smoke: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      kv.get("trace").contains("1"), req("cpus").toInt, req("scratch"),
      req("data"), kv.get("expected"), kv.get("pin"), kv.get("trace-out"),
      argv.contains("--smoke"))
  }

  final case class OpResult(op: String, layer: String, seconds: Double,
      bytes: Long, ok: Boolean, trace: Option[Tracer.OpTrace])

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  private def peakRssKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      finally src.close()
    } catch { case NonFatal(_) => 0L }

  private def session(a: Args): SparkSession = {
    val s = GraftSession.builder(s"local[${a.cpus}]", a.cpus)
      .config("spark.local.dir", new File(a.scratch, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.scratch, "warehouse").getPath)
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def loadPins(path: String): Map[String, Digest] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
      val Array(op, rows, hash, dsum) = l.trim.split("\\s+")
      op -> Digest.parse(rows.toLong, hash, dsum.toDouble)
    }.toMap
    finally src.close()
  }

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(argv: Array[String]): Unit = {
    val jvmStart = System.nanoTime() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val a = parse(argv)
    val ctx = Ctx(a.seed, a.data, new File(a.scratch, "inputs"),
      new File(a.scratch, "outputs"), a.smoke)
    val w = Workload(a.workload, ctx, a.expected.map(loadPins).getOrElse(Map.empty))

    // set-up, several times: the first from JVM start, the rest in a fresh
    // session of the same JVM
    var spark: SparkSession = null
    val setups = ArrayBuffer[Double]()
    for (i <- 0 until Setups) {
      val t0 = if (i == 0) jvmStart else System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a)
      val t1 = System.nanoTime()
      w.setup(spark)
      setups += (System.nanoTime() - t0) / 1e9
      log(f"setup ${i + 1}: ${setups.last}%.2f s (session ${(t1 - t0) / 1e9}%.2f s)")
    }
    val sc = spark.sparkContext
    val tracer = if (a.trace) Some(new Tracer) else None
    tracer.foreach(sc.addSparkListener(_))
    val root = tracer.map(_.begin(a.workload, "workload", 0L))

    var attempted = 0L
    val failures = ArrayBuffer[String]()
    def fail(msg: String): Unit = {
      failures += msg
      log(s"FAILED $msg")
    }

    def runOp(op: Op, pass: Option[Tracer.Span]): OpResult = {
      attempted += 1
      val span = for (t <- tracer; p <- pass) yield t.begin(op.name, "op", p.id)
      val t0 = System.nanoTime()
      var bytes = 0L
      val ok =
        try {
          bytes = (for (t <- tracer; s <- span) yield t.operation(sc, s)(op.run()))
            .getOrElse(op.run())
          true
        } catch { case NonFatal(e) => fail(s"${op.name}: $e"); false }
      val secs = (System.nanoTime() - t0) / 1e9
      OpResult(op.name, op.layer, secs, bytes, ok,
        for (t <- tracer; s <- span) yield t.summary(s))
    }

    def runPass(label: String, ops: Seq[Op], traced: Boolean): (Double, Seq[OpResult]) = {
      val span = if (traced) tracer.map(t => t.begin(label, "pass", root.get.id)) else None
      val t0 = System.nanoTime()
      val rs = ops.map(runOp(_, span))
      for (t <- tracer; s <- span) t.end(s)
      ((System.nanoTime() - t0) / 1e9, rs)
    }

    // phase 1: one-time store builds (llm_pipeline)
    val (buildS, built) = runPass("build", w.build(spark), traced = true)
    val storeBytes = if (built.isEmpty) 0L
      else treeBytes(new File(System.getProperty("java.io.tmpdir")))

    // untimed output checks, one per operation
    val ops = w.ops(spark)
    val pins = ArrayBuffer[(String, Digest)]()
    val c0 = System.nanoTime()
    ops.foreach { op =>
      attempted += 1
      try {
        val got = op.check()
        if (a.pin.isDefined) pins += op.name -> got
        else w.expected(op.name) match {
          case Some(exp) if exp.matches(got) =>
          case Some(exp) => fail(s"${op.name}: output ${got.json} != expected ${exp.json}")
          case None => fail(s"${op.name}: no expected output pinned")
        }
      } catch { case NonFatal(e) => fail(s"${op.name} (check): $e") }
    }
    val checkS = (System.nanoTime() - c0) / 1e9
    log(f"build phase ${buildS}%.2f s, check pass ${checkS}%.2f s")

    // timed passes until the budget is spent, at least one. A traced run
    // alternates untraced and traced passes, at least three, so the traced
    // pass sits between two untraced ones and warm-up does not bias
    // trace_overhead. The seed only permutes the order within each pass.
    val minPasses = if (a.trace) 3 else 1
    val budgetEnd = System.nanoTime() + (a.seconds * 1e9).toLong
    val passes = ArrayBuffer[(Boolean, Double, Seq[OpResult])]()
    while (passes.size < minPasses || System.nanoTime() < budgetEnd) {
      val p = passes.size
      val order = new scala.util.Random(a.seed * 1000003L + p).shuffle(ops)
      val traced = a.trace && p % 2 == 1
      val (s, rs) = runPass(s"pass $p", order, traced)
      passes += ((traced, s, rs))
      log(f"pass $p: ${s}%.2f s${if (traced) " (traced)" else ""}")
    }
    for (t <- tracer; r <- root) {
      t.end(r)
      a.traceOut.foreach(f => java.nio.file.Files.writeString(
        new File(f).toPath, t.spansJson))
    }
    spark.stop()

    if (a.pin.isDefined) {
      val txt = pins.map { case (op, d) =>
        s"$op ${d.rows} ${java.lang.Long.toHexString(d.hash)} ${Json.num(d.dsum)}"
      }.mkString("", "\n", "\n")
      java.nio.file.Files.writeString(new File(a.pin.get).toPath, txt)
    }

    def opJson(r: OpResult): ListMap[String, Any] = {
      val base = ListMap[String, Any]("op" -> r.op, "layer" -> r.layer,
        "s" -> r.seconds, "bytes" -> r.bytes, "ok" -> r.ok)
      r.trace.fold(base) { t =>
        val k = t.tasks
        base ++ ListMap("wall_s" -> t.wallS, "job_s" -> t.jobS,
          "self_s" -> t.selfS, "jobs" -> t.jobs, "tasks" -> k.tasks,
          "task_run_s" -> k.runMs / 1e3, "task_cpu_s" -> k.cpuNs / 1e9,
          "gc_s" -> k.gcMs / 1e3, "input_b" -> k.inputBytes,
          "shuffle_read_b" -> k.shuffleReadBytes,
          "shuffle_write_b" -> k.shuffleWriteBytes,
          "spill_b" -> k.spillBytes, "peak_exec_b" -> k.peakExecBytes)
      }
    }
    val report = ListMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "setup_s" -> setups.toSeq,
      "build_s" -> buildS, "build" -> built.map(opJson),
      "store_bytes" -> storeBytes, "check_s" -> checkS,
      "passes" -> passes.map { case (traced, s, rs) =>
        ListMap("traced" -> traced, "s" -> s, "ops" -> rs.map(opJson))
      },
      "sizes" -> w.sizes,
      "attempted" -> attempted, "failed" -> failures.size,
      "failures" -> failures.toSeq, "peak_rss_kb" -> peakRssKb())
    println("PERFBENCH_REPORT " + Json.render(report))
  }
}
