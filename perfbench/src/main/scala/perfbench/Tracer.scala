package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run.
  *
  * Spans nest workload → pass → operation → Spark job. The benchmark
  * opens the first three itself; jobs are linked to the operation that
  * ran them through the local property [[Tracer.Prop]], which Spark copies
  * into every job (and into the threads that run broadcast and subquery
  * jobs). Task metrics are summed per operation through the job's stages.
  * All times are epoch milliseconds, the clock Spark stamps events with.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val spans = ArrayBuffer[Span]()
  private var nextId = 0L
  private val stageOp =
    new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val taskAgg = new java.util.concurrent.ConcurrentHashMap[Long, Tasks]()

  private val baseNanos = System.nanoTime()
  private val baseMillis = System.currentTimeMillis().toDouble
  def nowMs(): Double = baseMillis + (System.nanoTime() - baseNanos) / 1e6

  def begin(name: String, kind: String, parent: Long): Span = synchronized {
    nextId += 1
    val s = Span(nextId, name, kind, parent, nowMs())
    spans += s
    s
  }

  def end(s: Span): Unit = s.endMs = nowMs()

  /** Run `body` as operation `op`: jobs it starts are tagged with the
    * operation's span id. Returns after the bus has delivered every event
    * the operation caused.
    */
  def operation[T](sc: SparkContext, op: Span)(body: => T): T = {
    sc.setLocalProperty(Prop, op.id.toString)
    try body
    finally {
      end(op)
      sc.setLocalProperty(Prop, null)
      org.apache.spark.PerfbenchBus.drain(sc, 120000L)
    }
  }

  /** Wall, job-covered and self time plus task totals of one operation. */
  def summary(op: Span): OpTrace = {
    val jobs = synchronized(spans.filter(s => s.kind == "job" && s.parent == op.id).toSeq)
    val cover = covered(jobs.map(j =>
      (math.max(j.startMs, op.startMs),
        math.min(if (j.endMs.isNaN) op.endMs else j.endMs, op.endMs))))
    val wall = (op.endMs - op.startMs) / 1e3
    OpTrace(wall, cover / 1e3, wall - cover / 1e3, jobs.size,
      Option(taskAgg.get(op.id)).getOrElse(new Tasks))
  }

  def spansJson: String = synchronized {
    spans.map(s => Json.render(scala.collection.immutable.ListMap(
      "id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))).mkString("[\n", ",\n", "\n]\n")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
    tag.foreach { t =>
      val opId = t.toLong
      val s = synchronized {
        nextId += 1
        val j = Span(nextId, s"job ${e.jobId}", "job", opId, e.time.toDouble)
        spans += j
        j
      }
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(id => stageOp.put(id, opId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val op = stageOp.get(e.stageId)
    if (m != null && op != null) {
      val t = taskAgg.computeIfAbsent(op.longValue, _ => new Tasks)
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.peakExecBytes = math.max(t.peakExecBytes, m.peakExecutionMemory)
      }
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"

  final case class Span(id: Long, name: String, kind: String, parent: Long,
      startMs: Double) {
    @volatile var endMs: Double = Double.NaN
  }

  final class Tasks {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inputBytes = 0L; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
    var spillBytes = 0L; var peakExecBytes = 0L
  }

  final case class OpTrace(wallS: Double, jobS: Double, selfS: Double,
      jobs: Int, tasks: Tasks)

  /** Length of the union of intervals (empty ones ignored). */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
