package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Sums over a set of Spark tasks. */
final class Totals {
  var execMs = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
  var tasks = 0L
  /** Executor time of tasks that wrote output: the parquet encode side. */
  var encodeExecMs = 0L

  def add(o: Totals): Totals = {
    execMs += o.execMs; inputBytes += o.inputBytes; recordsRead += o.recordsRead
    shuffleBytes += o.shuffleBytes
    outputBytes += o.outputBytes; spillBytes += o.spillBytes
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs); tasks += o.tasks
    encodeExecMs += o.encodeExecMs
    this
  }
}

/** One Spark job as the listener saw it. `sites` splits its task totals by
  * the engine module that submitted each stage (`maintain/Merge.scala`),
  * read from the stage's call site; "" when no engine frame is on it.
  */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = startMs
  val sites = mutable.Map.empty[String, Totals]
  def total: Totals = sites.values.foldLeft(new Totals)(_ add _)
}

/** A call into one engine layer, timed by the benchmark around the public
  * function it calls. Spans never overlap: ops run one at a time.
  */
final case class Span(id: Int, op: String, iter: Int, traced: Boolean,
    startMs: Double, endMs: Double) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** A span with the jobs that started inside it. */
final case class TracedSpan(span: Span, jobs: Seq[JobRec]) {
  def total: Totals = jobs.foldLeft(new Totals)((t, j) => t.add(j.total))

  /** Wall time not covered by any of the span's jobs: driver-side work
    * such as manifest passes, footer stats, bytewise copies and the CAS
    * publish.
    */
  def driverS: Double = {
    val iv = jobs.map(j => (math.max(j.startMs.toDouble, span.startMs),
      math.min(j.endMs.toDouble, span.endMs))).filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    math.max(0.0, span.wallS - covered / 1e3)
  }
}

/** Listener that sums executor run time, input bytes and rows, shuffle,
  * spill and output bytes, task counts and the longest task per job and
  * stage call site.
  * Registered only in traced iterations.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSite = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time)
    e.stageInfos.foreach { si =>
      stageJob(si.stageId) = e.jobId
      stageSite(si.stageId) = JobListener.engineSite(si.details)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jid <- stageJob.get(e.stageId); job <- jobs.get(jid) if m != null) {
      val t = job.sites.getOrElseUpdate(stageSite.getOrElse(e.stageId, ""), new Totals)
      val out = m.outputMetrics.bytesWritten
      t.execMs += m.executorRunTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.recordsRead += m.inputMetrics.recordsRead
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.outputBytes += out
      t.spillBytes += m.diskBytesSpilled
      t.maxTaskMs = math.max(t.maxTaskMs, e.taskInfo.duration)
      t.tasks += 1
      if (out > 0) t.encodeExecMs += m.executorRunTime
    }
  }

  def snapshot(): Seq[JobRec] = synchronized { jobs.values.toSeq.sortBy(_.startMs) }
}

object JobListener {
  private val Frame = """^graft\.([a-z]+)\.[\w$.]+\(([\w]+\.scala):\d+\)""".r.unanchored

  /** `module/File.scala` of the first engine frame in a stage's call site. */
  def engineSite(details: String): String =
    Option(details).iterator.flatMap(_.linesIterator).collectFirst {
      case Frame(module, file) => s"$module/$file"
    }.getOrElse("")
}

/** Spans recorded by the benchmark around each call into the engine, plus
  * (in traced iterations) the Spark jobs each one ran. Everything stays in
  * memory until [[dump]].
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val listener = new JobListener
  private var attached = false
  var iter: Int = -1

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Time `f` as one call of `op`. */
  def span[A](op: String)(f: => A): A = {
    val s = nowMs
    try f
    finally spans += Span(spans.size, op, iter, attached, s, nowMs)
  }

  /** Runs one iteration; in a traced run every window iteration (not the
    * warm-up) carries the listener.
    */
  def iteration(i: Int)(f: => Unit): Unit = {
    iter = i
    val on = enabled && i >= 0
    if (on) { spark.sparkContext.addSparkListener(listener); attached = true }
    try f
    finally if (on) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      attached = false
    }
  }

  /** Whether the listener is attached to the current iteration. */
  def on: Boolean = attached

  /** Traced spans with their jobs: a job belongs to the last span that
    * started before it (1 ms slack for the listener's clock resolution).
    */
  lazy val traced: Seq[TracedSpan] = {
    val ts = spans.filter(_.traced).toIndexedSeq
    val starts = ts.map(_.startMs)
    val byIdx = listener.snapshot().groupBy { j =>
      val k = starts.lastIndexWhere(_ <= j.startMs + 1.0)
      if (k >= 0 && j.startMs <= ts(k).endMs + 1.0) k else -1
    }
    ts.indices.map(k => TracedSpan(ts(k), byIdx.getOrElse(k, Nil)))
  }

  def tracedOp(op: String): Seq[TracedSpan] = traced.filter(_.span.op == op)

  /** Iterations that ran with the listener attached. */
  def tracedIters: Int = traced.map(_.span.iter).distinct.size

  /** Sum of `f` over every traced op span (checks excluded), per traced
    * iteration.
    */
  def perIter(f: TracedSpan => Double): Double =
    traced.filterNot(_.span.op.startsWith("check")).map(f).sum / math.max(1, tracedIters)

  /** Mean per call of `op` (max for the longest task), as `<op>.*`. */
  def opLayer(op: String): Map[String, Double] = {
    val name = op
    val ts = tracedOp(op)
    def m(f: TracedSpan => Double) = Main.mean(ts.map(f))
    Map(s"$name.wall_s" -> m(_.span.wallS), s"$name.exec_s" -> m(_.total.execMs / 1e3),
      s"$name.driver_s" -> m(_.driverS),
      s"$name.input_bytes" -> m(_.total.inputBytes.toDouble),
      s"$name.shuffle_bytes" -> m(_.total.shuffleBytes.toDouble),
      s"$name.output_bytes" -> m(_.total.outputBytes.toDouble),
      s"$name.spill_bytes" -> m(_.total.spillBytes.toDouble),
      s"$name.max_task_s" -> (if (ts.isEmpty) 0.0 else ts.map(_.total.maxTaskMs).max / 1e3),
      s"$name.tasks" -> m(_.total.tasks.toDouble))
  }

  /** Spans then their jobs, one JSON object a line. */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    traced.foreach { ts =>
      val s = ts.span
      sb ++= Json.obj("kind" -> "span", "op_id" -> s.id, "op" -> s.op, "iter" -> s.iter,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
        "driver_s" -> ts.driverS, "jobs" -> ts.jobs.size) += '\n'
      ts.jobs.foreach { j =>
        j.sites.foreach { case (site, t) =>
          sb ++= Json.obj("kind" -> "job", "op_id" -> s.id, "job_id" -> j.id,
            "site" -> site, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
            "exec_ms" -> t.execMs, "input_bytes" -> t.inputBytes,
            "records_read" -> t.recordsRead,
            "shuffle_bytes" -> t.shuffleBytes, "output_bytes" -> t.outputBytes,
            "spill_bytes" -> t.spillBytes, "max_task_ms" -> t.maxTaskMs,
            "tasks" -> t.tasks) += '\n'
        }
      }
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
