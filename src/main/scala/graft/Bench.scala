package graft

import graft.ingest.TokenGen
import graft.maintain.{Cluster, Compact, Expire, Merge}
import graft.table.TokenTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): one JSON line with per-query
  * seconds plus the north-star metrics — post-maintenance full-scan
  * tokens/sec and compaction GB/s (BASELINE.json `metric`).
  *
  * The maintenance cycle runs on a deterministic TokenGen table sized by
  * SPARK_GRAFT_BENCH_ROWS (default 6M rows / ~588M tokens — the
  * BASELINE.md workload, so driver benches are same-scale); the
  * representative testdata queries run on SPARK_GRAFT_SF_DIR.
  *
  * SELF-ADJUDICATION (VERDICT r4 task 1): this box drifts 2-4x within
  * hours, which has produced phantom "regressions" two rounds running.
  * Every cycle is therefore preceded by a FIXED single-thread
  * calibration probe (memcpy + ALU, constant work) recorded as
  * `calib_ms`, plus /proc/loadavg at cycle start — so any reader can
  * normalize phase times against the box's instantaneous speed.
  * `phase_stats.<p>.norm_median` is the median of runs rescaled to the
  * invocation's FASTEST calibration (run_i * calib_min / calib_i);
  * cross-invocation, divide by the other artifact's calib.
  *
  * SCALING PAIRS (VERDICT r4 task 6): `SPARK_GRAFT_BENCH_PAIRS=w1,w2`
  * switches to the interleaved N-vs-4N campaign mode — the tool itself
  * alternates single cycles at the two widths (each pair ADJACENT in
  * time, so hour-scale drift multiplies both sides equally and cancels
  * in the ratio), emits per-pair per-phase ratios and efficiencies
  * ((t1/t2)/(w2/w1)), and writes the artifact to bench/. No more
  * hand-assembled pair JSONs.
  */
object Bench {

  /** Fixed-work single-thread calibration probe (~2 s): 3 GB of memcpy
    * over a 64 MB buffer plus a 6x10^8-step LCG ALU loop — the two
    * resources every bench phase rides. Constant work by construction;
    * the RATIO of two calib_ms values is the box's relative speed
    * between those instants.
    */
  def calibrate(): Double = {
    val buf = new Array[Byte](64 << 20)
    val buf2 = new Array[Byte](64 << 20)
    var acc = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 48) {
      System.arraycopy(buf, 0, buf2, 0, buf.length)
      buf((i * 2654435761L % buf.length).toInt) = (i + 1).toByte
      i += 1
    }
    var j = 0L
    var x = 0x9E3779B97F4A7C15L
    while (j < 600000000L) {
      x = x * 6364136223846793005L + 1442695040888963407L
      acc ^= x
      j += 1
    }
    if (acc == 42L) System.err.println("calibration sentinel") // keep acc live
    (System.nanoTime() - t0) / 1e6
  }

  /** 1/5/15-minute load averages at this instant ("" off-Linux). */
  def loadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Exception => "" }

  private def newSession(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One full north-star maintenance cycle on a fresh deterministic
    * table. Returns per-phase seconds plus the cycle's token/byte
    * totals (identical across reps — the generator is deterministic).
    */
  private case class Cycle(times: Map[String, Double], tokens: Long, bytesIn: Long)

  private def runCycle(spark: SparkSession, benchBase: String, cpus: Int,
      rep: Int, benchRows: Long): Cycle = {
    val cycleTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def ctimed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      cycleTimes(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    val loc = s"$benchBase/t_${benchRows}_${cpus}_rep$rep"
    wipe(loc)
    val t = TokenTable.create(spark, loc)
    val commits = 24
    ctimed("ns_ingest") {
      // Concurrent appenders (real ingest is many writers): the CAS
      // commit protocol auto-rebases append conflicts. Fixed partition
      // count -> identical file layout at every parallelism level (the
      // scaling comparison holds the plan constant, varying only
      // concurrency).
      val per = benchRows / commits
      val writers = math.max(1, math.min(4, cpus / 2))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fs = (0 until commits).map { c =>
        scala.concurrent.Future {
          t.append(TokenGen.asTokenRows(TokenGen.generate(
            spark, per, idOffset = c * per, minLen = 32, maxLen = 160,
            numPartitions = 32)))
        }
      }
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    }
    val bytesIn = t.filesLocal(t.current).map(_.bytes).sum
    // Work-unit size is a function of DATA, not core count, so the plan
    // is identical at every parallelism level (the N-vs-4N comparison
    // then varies only concurrency): ~64 units total, floor 8MB.
    val targetBytes = math.max(8L * 1024 * 1024, bytesIn / 64L)
    spark.conf.set("spark.sql.files.maxPartitionBytes", targetBytes.toString)
    ctimed("ns_compact") {
      Compact.run(t, targetBytes = targetBytes, jobId = "bench-compact",
        parallelism = cpus)
    }
    ctimed("ns_zorder") {
      Cluster.run(t, Cluster.ZOrder, "bench-zorder", targetBytes = targetBytes)
    }
    ctimed("ns_merge") {
      // 5% updates + 2% inserts
      val upd = TokenGen.generate(spark, benchRows / 20, idOffset = 0,
        minLen = 32, maxLen = 160, numPartitions = 32)
      val ins = TokenGen.generate(spark, benchRows / 50,
        idOffset = benchRows * 10, minLen = 32, maxLen = 160, numPartitions = 32)
      Merge.mergeInto(t, upd.unionByName(ins), "offset", "bench-merge")
    }
    ctimed("ns_expire") { Expire.run(t, retainLast = 1, graceMs = 0) }
    // Metadata-cheap scan: sum(n_tok) prunes to one int column.
    val tokens = ctimed("ns_scan") {
      t.scan().agg(sum(col("n_tok").cast("long"))).head().getLong(0)
    }
    // The headline metric — post-maintenance FULL scan: decodes every
    // token array and folds it into a checksum, so all bytes are read.
    val fullChecksum = ctimed("ns_scan_full") {
      t.scan().agg(
        sum(col("n_tok").cast("long")),
        sum(pmod(xxhash64(col("doc_id"), col("tokens")), lit(1000000007L)))).head()
    }
    require(fullChecksum.getLong(0) == tokens, "scan disagreement")
    // Row-level DELETE (M9) as the final phase — AFTER both scans, so
    // every earlier phase measures the identical table state it did
    // in prior rounds' artifacts. 2% of the keyspace by doc_id range:
    // post-Z-order the range prunes against file stats, the boundary
    // files rewrite copy-on-write.
    ctimed("ns_delete") {
      val lo = f"doc_${benchRows / 4}%012d"
      val hi = f"doc_${benchRows / 4 + benchRows / 50}%012d"
      val res = graft.maintain.Delete.deleteWhere(t,
        col("doc_id") >= lo && col("doc_id") < hi, "bench-delete")
      require(res.deletedRows > 0, "bench delete removed nothing")
    }
    wipe(loc) // keep tmpfs flat across reps
    Cycle(cycleTimes.toMap, tokens, bytesIn)
  }

  private val PhaseNames = Seq("ns_ingest", "ns_compact", "ns_zorder",
    "ns_merge", "ns_expire", "ns_scan", "ns_scan_full", "ns_delete")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val benchRows = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "6000000").toLong
    sys.env.get("SPARK_GRAFT_BENCH_PAIRS") match {
      case Some(pair) =>
        val ws = pair.split(",").map(_.trim.toInt)
        require(ws.length == 2 && ws(0) < ws(1),
          s"SPARK_GRAFT_BENCH_PAIRS must be 'w1,w2' with w1 < w2, got '$pair'")
        pairMain(ws(0), ws(1), benchRows)
      case None =>
        singleMain(benchRows)
    }
  }

  /** Scratch root layout shared by both modes (see the r3 ADVICE note:
    * only bench-OWNED subdirectories are ever wiped).
    */
  private def benchRoot(): String =
    sys.env.get("SPARK_GRAFT_BENCH_DIR")
      .map(d => s"${d.stripSuffix("/")}/graft_bench")
      .getOrElse(
        if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
          "/dev/shm/graft_bench"
        else s"${System.getProperty("java.io.tmpdir")}/graft_bench")

  private def localDirFor(benchBase: String): String =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR")
      .map(d => s"${d.stripSuffix("/")}/graft-spark-local")
      .getOrElse(s"$benchBase/spark-local")

  // ------------------------------------------------------- single mode

  private def singleMain(benchRows: Long): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Config-scoped scratch: concurrent benches at DIFFERENT configs
    // (e.g. a 24M scaling run and a 400k smoke) must not wipe each
    // other's live tables out from under them.
    val benchBase = s"${benchRoot()}/run_${benchRows}_$cpus"
    wipe(benchBase)
    val localDir = localDirFor(benchBase)
    wipe(localDir)
    val spark = newSession(cpus, localDir)

    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      times(name) = (System.nanoTime() - t0) / 1e9
      r
    }

    // The cycle runs SPARK_GRAFT_BENCH_REPS times (default 3) on a fresh
    // table each rep; the artifact reports per-phase MEDIANS plus min,
    // raw runs, per-rep calibration and loadavg (its own noise evidence).
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // JIT warm-up: the first cycle in a fresh JVM consistently runs
    // 1.5-2x slow (C2 compiling the whole write/stats/codegen stack),
    // which poisons a 3-rep median. One eighth-scale cycle compiles all
    // phases at ~1/8 cost; it is REPORTED (warmup_rows) but never mixed
    // into the stats. SPARK_GRAFT_BENCH_WARMUP=0 disables.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt
    val warmupRows = if (warmup > 0) math.max(benchRows / 8, 96000L) else 0L
    calibrate(); calibrate() // JIT-compile the probe itself
    if (warmup > 0) runCycle(spark, benchBase, cpus, -1, warmupRows)
    val calibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val loads = scala.collection.mutable.ArrayBuffer.empty[String]
    val cycles = (0 until reps).map { rep =>
      calibs += calibrate()
      loads += loadavg()
      runCycle(spark, benchBase, cpus, rep, benchRows)
    }
    // Deterministic generator ⇒ identical tables ⇒ identical totals.
    require(cycles.map(_.tokens).distinct.size == 1, "cross-rep token disagreement")
    require(cycles.map(_.bytesIn).distinct.size == 1, "cross-rep byte disagreement")
    val tokens = cycles.head.tokens
    val compactBytesIn = cycles.head.bytesIn
    val phaseRuns: Map[String, Seq[Double]] =
      PhaseNames.map(p => p -> cycles.map(_.times(p))).toMap
    PhaseNames.foreach(p => times(p) = median(phaseRuns(p)))

    // ---------------- representative testdata queries (driver contract)
    // SPARK_GRAFT_BENCH_SKIP_QUERIES=1 runs the north-star cycle only —
    // for N-vs-4N scaling runs, whose evidence is phase_stats alone.
    val skipQueries = sys.env.get("SPARK_GRAFT_BENCH_SKIP_QUERIES").contains("1")
    for (name <- if (skipQueries) Seq.empty[String]
      else Seq("d1_dedup_firstwins", "m3_stats_agg", "text_analyze",
        "dedup_exact", "dedup_minhash_lsh", "dedup_simhash_hamming",
        "dedup_ngram_jaccard", "sim_bruteforce_topk", "sim_lsh_ann",
        "sim_ivf_ann", "dedup_embedding", "multimodal_features",
        "dedup_clusters", "corpus_pack", "corpus_quality_filter",
        "dedup_lines", "dedup_substring", "corpus_vocab", "text_scrub",
        "text_line_dedup_doc", "text_repetition", "text_lm_perplexity",
        "corpus_domain_mix", "corpus_pipeline_e2e")) {
      timed(name) {
        try SparkEntry.queries(name)(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1L }
      }
    }
    // Each packSequences call releases its predecessor's cached
    // projection; drop the final one too so the session ends clean.
    ops.Corpus.releasePackCache()

    // queries carries the MEDIAN per ns_* phase; phase_stats carries
    // median/min, every raw run, AND norm_median — runs rescaled by the
    // per-rep calibration (run_i * calib_min / calib_i), so a reader can
    // separate box drift from code change without trusting any single
    // draw.
    val calibMin = calibs.min
    val scanTps = tokens / math.max(times("ns_scan_full"), 1e-9)
    val compactGbps = (compactBytesIn / 1e9) / math.max(times("ns_compact"), 1e-9)
    val total = times.values.sum
    val qs = times.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val stats = PhaseNames.map { p =>
      val runs = phaseRuns(p)
      val norm = runs.zip(calibs).map { case (r, c) => r * calibMin / c }
      s""""$p":{"median":${median(runs)},"min":${runs.min},""" +
        s""""norm_median":${median(norm)},"runs":[${runs.mkString(",")}]}"""
    }.mkString("{", ",", "}")
    // Which BASELINE.md row this artifact compares against (VERDICT r3
    // task 7): keyed by the workload config, so a 6M/32-cpu driver run
    // is never read against the 24M scaling table or vice versa.
    val baselineRow =
      s"BASELINE.md 'Current (round 5)' row rows=$benchRows cpus=$cpus"
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"""" +
        s""","cpus":$cpus,"bench_rows":$benchRows,"reps":$reps""" +
        s""","warmup_rows":$warmupRows,"tokens":$tokens""" +
        s""","scan_tokens_per_sec":${scanTps.toLong}""" +
        s""","compact_gb_per_sec":${f"$compactGbps%.4f"}""" +
        s""","compact_bytes_in":$compactBytesIn""" +
        s""","calib_ms":[${calibs.map(c => f"$c%.1f").mkString(",")}]""" +
        s""","loadavg":[${loads.map(l => s""""$l"""").mkString(",")}]""" +
        s""","baseline_row":"$baselineRow"""" +
        s""","phase_stats":$stats}""")
    spark.stop()
  }

  // --------------------------------------------------------- pair mode

  /** Interleaved N-vs-4N campaign: reps pairs of (w1 cycle, w2 cycle),
    * each pair adjacent in time. Per pair and phase: ratio = t1/t2,
    * efficiency = (t1/t2)/(w2/w1). The artifact lands in bench/ and on
    * stdout.
    */
  private def pairMain(w1: Int, w2: Int, benchRows: Long): Unit = {
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val benchBase = s"${benchRoot()}/run_${benchRows}_pair_${w1}_$w2"
    wipe(benchBase)
    val localDir = localDirFor(benchBase)
    wipe(localDir)
    val widthRatio = w2.toDouble / w1

    calibrate(); calibrate()
    // One JVM-wide JIT warm-up cycle (widest session: compiles every
    // phase's codegen at the smallest wall cost).
    val warmRows = math.max(benchRows / 8, 96000L)
    val warmSpark = newSession(w2, localDir)
    runCycle(warmSpark, benchBase, w2, -1, warmRows)
    warmSpark.stop()

    case class Leg(w: Int, calib: Double, load: String, times: Map[String, Double])
    val pairs = (0 until reps).map { rep =>
      val legs = Seq(w1, w2).map { w =>
        val spark = newSession(w, localDir)
        val c = calibrate()
        val l = loadavg()
        val cyc =
          try runCycle(spark, benchBase, w, rep, benchRows)
          finally spark.stop()
        Leg(w, c, l, cyc.times)
      }
      (legs(0), legs(1))
    }

    def fmt(d: Double) = f"$d%.4f"
    val pairJsons = pairs.zipWithIndex.map { case ((a, b), i) =>
      val ratios = PhaseNames.map { p =>
        s""""$p":${fmt(a.times(p) / math.max(b.times(p), 1e-9))}"""
      }.mkString("{", ",", "}")
      val effs = PhaseNames.map { p =>
        s""""$p":${fmt(a.times(p) / math.max(b.times(p), 1e-9) / widthRatio)}"""
      }.mkString("{", ",", "}")
      val ta = PhaseNames.map(p => s""""$p":${a.times(p)}""").mkString("{", ",", "}")
      val tb = PhaseNames.map(p => s""""$p":${b.times(p)}""").mkString("{", ",", "}")
      s"""{"rep":$i,"calib_ms":[${f"${a.calib}%.1f"},${f"${b.calib}%.1f"}],""" +
        s""""loadavg":["${a.load}","${b.load}"],""" +
        s""""w${w1}_times":$ta,"w${w2}_times":$tb,""" +
        s""""ratios":$ratios,"eff":$effs}"""
    }
    val effMedians = PhaseNames.map { p =>
      val es = pairs.map { case (a, b) =>
        a.times(p) / math.max(b.times(p), 1e-9) / widthRatio
      }
      s""""$p":${fmt(median(es))}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"pair_scaling","w1":$w1,"w2":$w2,"width_ratio":$widthRatio,""" +
        s""""bench_rows":$benchRows,"reps":$reps,""" +
        s""""pairs":[${pairJsons.mkString(",")}],""" +
        s""""eff_pair_ratio_median":$effMedians}"""
    // stdout FIRST: an unwritable artifact path must never discard a
    // multi-hour campaign's measurements.
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAIRS_OUT",
      s"bench/bench_${benchRows / 1000000}m_pairs_w${w1}_w$w2.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, json + "\n")
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage} " +
          "(the JSON line above is the artifact)")
    }
  }

  private def wipe(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      try st.iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally st.close()
    }
  }
}
