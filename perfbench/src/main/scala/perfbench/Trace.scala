package perfbench

import java.io.{OutputStream, PrintStream}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One wall clock for spans and Spark listener events, in epoch ms. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** A benchmark boundary: workload, operation or layer call. `op` is the
  * id of the operation the span belongs to (0 outside operations).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double) {
  var end: Double = Double.NaN
  def ms: Double = end - start
}

/** A Spark job as seen by [[JobListener]]. */
final class JobRec(val id: Int, val start: Double) {
  var end: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var outputBytes = 0L
}

/** Counts jobs, stages, tasks, executor run time and bytes per job. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
}

/** Collects the `[build] <stage>: <s>s` lines the index builder prints,
  * by teeing System.err; each line keeps the span open when it was
  * printed.
  */
final class BuildLog(currentSpan: () => Int) {
  final case class Line(stage: String, seconds: Double, span: Int, at: Double)
  val lines = mutable.ArrayBuffer[Line]()
  private val Pattern = """\[build\] (\S+): ([0-9.]+)s""".r

  def install(): Unit = {
    val orig = System.err
    val buf = new java.lang.StringBuilder
    val tee = new OutputStream {
      override def write(b: Int): Unit = {
        orig.write(b)
        if (b == '\n') {
          buf.toString match {
            case Pattern(stage, s) => synchronized {
              lines += Line(stage, s.toDouble, currentSpan(), Clock.nowMs)
            }
            case _ =>
          }
          buf.setLength(0)
        } else buf.append(b.toChar)
      }
      override def flush(): Unit = orig.flush()
    }
    System.setErr(new PrintStream(tee, true))
  }
}

object Tracer {
  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}

/** In-memory span recorder. With `enabled` false every call is a plain
  * pass-through; `recording` can pause an enabled tracer so traced and
  * untraced operations can be compared within one run.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  val listener = new JobListener
  val buildLog = new BuildLog(() => current)
  var recording: Boolean = enabled
  private var stack = List.empty[Span]
  private var ops = 0

  if (enabled) {
    sc.addSparkListener(listener)
    buildLog.install()
  }

  def current: Int = stack.headOption.map(_.id).getOrElse(0)

  /** Runs `f` inside a span; `op` starts a new operation. */
  def span[T](name: String, op: Boolean = false)(f: => T): T =
    if (!recording) f
    else {
      val parent = stack.headOption
      val opId = if (op) { ops += 1; ops } else parent.map(_.op).getOrElse(0)
      val s = Span(spans.size + 1, name, parent.map(_.id).getOrElse(0), opId, Clock.nowMs)
      spans += s
      stack = s :: stack
      try f
      finally {
        s.end = Clock.nowMs
        stack = stack.tail
      }
    }

  /** Waits for the listener bus so every job so far is accounted. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  /** A job's parent: the innermost span open when it started. Spans
    * nest on the client thread, so start time decides this even for
    * jobs that the engine submits from its own threads.
    */
  private def parentOf(j: JobRec): Int = {
    var best = 0
    spans.foreach(s => if (s.start <= j.start && j.start <= s.end) best = s.id)
    best
  }

  def allJobs: Seq[JobRec] = listener.synchronized(listener.jobs.values.toSeq)

  /** Jobs whose parent is span `s` or one of its descendants, i.e. the
    * jobs that started while `s` was open.
    */
  def jobsUnder(s: Span): Seq[JobRec] =
    allJobs.filter(j => j.start >= s.start && j.start <= s.end)

  /** Writes spans and jobs as JSON lines, with each span's self time:
    * its duration minus the time its child spans and jobs cover.
    */
  def write(path: java.nio.file.Path): Unit = {
    val children = spans.groupBy(_.parent)
    val jobsBySpan = allJobs.groupBy(parentOf)
    val out = new PrintStream(java.nio.file.Files.newOutputStream(path))
    try {
      spans.foreach { s =>
        val covered = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
          jobsBySpan.getOrElse(s.id, Nil).map(j => (j.start, j.end))
        val self = s.ms - Tracer.unionMs(covered.toSeq, s.start, s.end)
        out.println(Json.obj(Seq("kind" -> Json.str("span"), "id" -> s.id.toString,
          "name" -> Json.str(s.name), "parent" -> s.parent.toString, "op" -> s.op.toString,
          "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
          "self_ms" -> Json.num(self))))
      }
      jobsBySpan.values.flatten.toSeq.sortBy(_.id).foreach { j =>
        out.println(Json.obj(Seq("kind" -> Json.str("job"), "id" -> j.id.toString,
          "parent" -> parentOf(j).toString, "start_ms" -> Json.num(j.start),
          "end_ms" -> Json.num(j.end), "stages" -> j.stages.toString,
          "tasks" -> j.tasks.toString, "executor_run_ms" -> j.runMs.toString,
          "shuffle_read_bytes" -> j.shuffleRead.toString,
          "shuffle_write_bytes" -> j.shuffleWrite.toString,
          "output_bytes" -> j.outputBytes.toString)))
      }
    } finally out.close()
  }
}

/** Minimal JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
}
