package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, data: String, tiny: Boolean, corrupt: Boolean)

/** What a workload measured. `opSamples` are the wall times of its unit
  * operation inside the timed window.
  */
final case class Outcome(opSamples: Seq[Double], ops: Long, windowS: Double,
    perLayer: Map[String, Double], evidence: Map[String, Any])

/** Shared state of one run: the session, the trace, and the output checks.
  * A failed check or a failed operation counts against `attempted`.
  */
final class Ctx(val spark: SparkSession, val args: Args, val trace: Trace) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def failed: Long = failures.size.toLong
  def failureList: Seq[String] = failures.toSeq

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }

  /** Runs `f` as one attempted operation; an exception counts as a failure. */
  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Exception =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] FAILED $what"); e.printStackTrace()
        None
    }
  }

  /** Closed loop: warm-up iterations, then iterations until `seconds` pass
    * (at least one, at most `maxIters`), stopping only after a whole number
    * of `unit`s. Returns the window's wall time and iteration count.
    */
  def window(warmup: Int, maxIters: Int = Int.MaxValue, unit: Int = 1)(
      step: Int => Unit): (Double, Int) = {
    (0 until warmup).foreach(i => trace.iteration(-1 - i)(step(-1 - i)))
    val t0 = System.nanoTime()
    var i = 0
    while (i < maxIters &&
        (i == 0 || i % unit != 0 || (System.nanoTime() - t0) / 1e9 < args.seconds)) {
      trace.iteration(i)(step(i)); i += 1
    }
    ((System.nanoTime() - t0) / 1e9, i)
  }
}

trait Workload {
  /** Set-ups per run; `setup_s` is their median. Cheap set-ups run more
    * often, so the median is steady.
    */
  def setupReps: Int = 3
  /** Does every piece of input work into `dir`; runs several times. */
  def setup(ctx: Ctx, dir: Path): Unit
  /** Warm-up, timed window and output checks on the last set-up. */
  def run(ctx: Ctx): Outcome
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "stream_ingest" -> (() => new StreamIngest),
    "maintain_cycle" -> (() => new MaintainCycle),
    "scan_serve" -> (() => new ScanServe),
    "corpus_ops" -> (() => new CorpusOps))

  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = percentile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")), m("data"), m.get("tiny").contains("1"),
      m.get("corrupt").contains("1"))
  }

  def wipe(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p).sorted(java.util.Comparator.reverseOrder())
    try st.forEach(q => Files.deleteIfExists(q)) finally st.close()
  }

  /** Bytes of every regular file under `p`. */
  def duBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val st = Files.walk(p)
    try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally st.close()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))()
    wipe(args.work)
    Files.createDirectories(args.work)
    val cpus = Runtime.getRuntime.availableProcessors()
    // The fixed-work calibration probe runs while the session starts up.
    val calib = new java.util.concurrent.FutureTask[Double](() => graft.Bench.calibrate())
    new Thread(calib).start()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val ctx = new Ctx(spark, args, new Trace(spark, args.trace))
      val calibMs = calib.get()
      val loadBefore = graft.Bench.loadavg()
      val setupTimes = (0 until wl.setupReps).map { k =>
        val dir = args.work.resolve(s"setup$k")
        // Each set-up starts on a collected heap, so no set-up pays for the
        // garbage of the one before.
        System.gc()
        val t0 = System.nanoTime()
        wl.setup(ctx, dir)
        val s = (System.nanoTime() - t0) / 1e9
        if (k > 0) wipe(args.work.resolve(s"setup${k - 1}"))
        s
      }
      val out = wl.run(ctx)
      val failed = ctx.failed
      val attempted = math.max(1L, ctx.attempted)
      // A traced run reports its own end-to-end figures under trace.*: the
      // tracing overhead is these minus the untraced run's on the same seed.
      val metrics: Map[String, Double] =
        if (!args.trace) Map(
          "setup_s" -> median(setupTimes),
          "op_p50_s" -> median(out.opSamples),
          "ops_per_s" -> out.ops / out.windowS,
          "ok_op_share" -> (1.0 - failed.toDouble / attempted))
        else out.perLayer ++ Map(
          "trace.op_p50_s" -> median(out.opSamples),
          "trace.ops_per_s" -> out.ops / out.windowS)
      if (args.trace) ctx.trace.dump(args.work.resolve("spans.jsonl"))
      val rt = Runtime.getRuntime
      val evidence = Map[String, Any](
        "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
        "cores" -> cpus, "heap_max_bytes" -> rt.maxMemory(),
        "unified_memory_bytes" -> ((rt.maxMemory() - 300L * 1024 * 1024) *
          spark.conf.get("spark.memory.fraction", "0.6").toDouble).toLong,
        "calib_ms" -> calibMs, "loadavg_before" -> loadBefore,
        "loadavg_after" -> graft.Bench.loadavg(), "setup_runs_s" -> setupTimes,
        "window_s" -> out.windowS, "ops" -> out.ops, "op_p90_s" -> percentile(out.opSamples, 0.9),
        "failures" -> ctx.failureList.take(20)) ++ out.evidence
      println("PERFBENCH_EVIDENCE " + Json.value(evidence))
      println("PERFBENCH_RESULT " + Json.obj(
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics))
    } finally {
      spark.stop()
      Seq("spark-local", "warehouse").foreach(d => wipe(args.work.resolve(d)))
      (0 until wl.setupReps).foreach(k => wipe(args.work.resolve(s"setup$k")))
    }
  }
}
