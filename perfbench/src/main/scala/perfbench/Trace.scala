package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One span: a named interval with the span that caused it. Wall-clock
  * milliseconds place it against Spark's event times; nanoTime gives its
  * duration.
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder (workload → run → call). Spans are cheap and
  * always recorded: the call spans ARE the benchmark's timers. Only the
  * Spark listener and the span file belong to a traced run.
  */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def span[T](name: String)(body: => T): (T, Span) = {
    val s = new Span(spans.length, open.headOption.map(_.id).getOrElse(-1), name,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    try {
      val out = body
      (out, s)
    } finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Innermost span whose interval contains `ms`, if any. */
  def innermost(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs))
      .maxByOption(depth)

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  /** JSON lines, one span each, with self time and the Spark counters
    * attributed to the span itself (not its children).
    */
  def write(path: String, spark: Option[SparkCounters]): Unit = {
    spark.foreach(_.attribute(this))
    val kids = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val self = Stats.selfTime(s.startNs, s.endNs,
        kids.getOrElse(s.id, Nil).toSeq.map(c => (c.startNs, c.endNs))) / 1e9
      val base = Seq(
        "run_id" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "dur_s" -> Json.num(s.seconds), "self_s" -> Json.num(self))
      Json.obj(base ++ s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) })
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

/** Spark job, stage and task counters summed over an interval. */
final case class Counters(
    jobs: Int, stages: Int, taskS: Double, cpuS: Double,
    shuffleWrite: Long, shuffleRead: Long, fetchWaitS: Double,
    spillBytes: Long, gcS: Double, busyMs: Long)

/** A SparkListener keeping every job, stage and task end it hears about.
  * Read only after `drain`, which waits for the listener bus.
  */
final class SparkCounters extends SparkListener {
  private final case class T(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
      shW: Long, shR: Long, waitMs: Long, spill: Long, gcMs: Long)
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val stageStarts = mutable.ArrayBuffer.empty[Long]
  private val tasks = mutable.ArrayBuffer.empty[T]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobStarts += e.time }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { e.stageInfo.submissionTime.foreach(stageStarts += _) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += T(i.launchTime, i.finishTime, m.executorRunTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
  }

  def drain(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.perfbench.BusDrain(sc)

  /** Counters for everything that started in [fromMs, toMs]. */
  def between(fromMs: Long, toMs: Long): Counters = synchronized {
    def in(t: Long) = t >= fromMs && t <= toMs
    val ts = tasks.filter(t => in(t.launch))
    Counters(jobStarts.count(in), stageStarts.count(in),
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.shW).sum, ts.map(_.shR).sum, ts.map(_.waitMs).sum / 1e3,
      ts.map(_.spill).sum, ts.map(_.gcMs).sum / 1e3,
      Stats.covered(ts.toSeq.map(t => (math.max(t.launch, fromMs), math.min(t.finish, toMs)))))
  }

  /** Adds each job, stage and task to the innermost span open when it
    * started.
    */
  def attribute(tracer: Tracer): Unit = synchronized {
    def add(ms: Long, kv: (String, Double)*): Unit =
      tracer.innermost(ms).foreach(s => kv.foreach { case (k, v) =>
        s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v
      })
    jobStarts.foreach(add(_, "spark.jobs" -> 1))
    stageStarts.foreach(add(_, "spark.stages" -> 1))
    tasks.foreach(t => add(t.launch, "spark.tasks" -> 1, "spark.task_s" -> t.runMs / 1e3,
      "spark.cpu_s" -> t.cpuNs / 1e9, "spark.shuffle_write_bytes" -> t.shW.toDouble,
      "spark.shuffle_read_bytes" -> t.shR.toDouble, "spark.fetch_wait_s" -> t.waitMs / 1e3,
      "spark.spill_bytes" -> t.spill.toDouble, "spark.gc_s" -> t.gcMs / 1e3))
  }
}

/** Just enough JSON writing for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Full precision; non-finite values are not JSON, so they fail loudly. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    d.toString
  }

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
