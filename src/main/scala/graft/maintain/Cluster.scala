package graft.maintain

import graft.functions.{CurveKeys, Search, SearchOps}
import graft.lineage.Lineage
import graft.table.{DataFile, Snapshot, TokenTable}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** Clustering (north-star M2): Z-order, Hilbert and doc_id range layouts.
  *
  * One pipeline serves all three: plan (one streamed inventory fold, the
  * carry set for incremental doc_id runs) -> ONE sample job over at most
  * [[SampleFileCap]] files ([[sampleOf]]) -> quantile boundaries
  * ([[quantileBounds]]) -> bucket id by boundary search -> salt-split
  * skewed buckets -> one exchange on the exact partition id
  * ([[exchangeByPid]]) -> in-partition sort -> write one file per
  * partition -> stats, lineage, manifest (carried ++ out) -> single
  * snapshot commit (`commitLayout`). What differs per layout comes in as
  * plain values: the sampled key (the doc_id string, or the curve's
  * long), its bucket expression, its salt hash, the sort column, the op
  * name and the carried files.
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
    * Found on the driver, with no Spark job, by evaluating the
    * exchange's own partition-id expression (`HashPartitioning`'s
    * `Pmod(Murmur3Hash(key), n)` over one non-null long) on 0, 1, 2, …
    * and keeping the least hit per residue. It is Spark's expression,
    * not a reimplementation of Murmur3, so it cannot drift from the
    * exchange. Coupon collector says ~n ln n candidates cover all n
    * residues; the span stops at 2048n.
    */
  def hashPreimages(n: Int): Array[Long] = {
    require(n >= 1, s"need at least one partition, got $n")
    // One partition: every key lands in it.
    if (n == 1) return Array(0L)
    val pid = HashPartitioning(Seq(BoundReference(0, LongType, nullable = false)), n)
      .partitionIdExpression
    val found = Array.fill(n)(-1L)
    val row = new GenericInternalRow(1)
    var left = n
    var x = 0L
    while (left > 0 && x < 2048L * n) {
      row.setLong(0, x)
      val p = pid.eval(row).asInstanceOf[Int]
      if (found(p) < 0) { found(p) = x; left -= 1 }
      x += 1
    }
    if (left > 0) throw new IllegalStateException(
      s"hashPreimages: ${2048L * n} candidates left a residue class mod $n empty")
    found
  }

  /** Exchange rows to partition `pid` exactly (see [[hashPreimages]]);
    * `pidCol` must be an INT in [0, n). */
  def exchangeByPid(df: DataFrame, pidCol: Column, n: Int): DataFrame = {
    val pre = hashPreimages(n)
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

  /** Cap on how many FILES the boundary/dictionary sample scan may
    * read. Bounds planning IO at O(cap x file size) instead of
    * O(table): at 100 TB a `.sample` over the full scan still schedules
    * every row group of every file just to keep 200k rows. At bench
    * scale (<= cap files) every file is picked.
    */
  val SampleFileCap: Int = 64

  /** Rows a layout sample aims to keep — MERGE's placement sample too. */
  val SampleRows: Double = 200000.0

  /** The one layout sample: a Bernoulli sample of `df`, which holds
    * about `rows` rows, sized to keep about [[SampleRows]], seed 42. */
  private[maintain] def sampleOf(df: DataFrame, rows: Long): DataFrame =
    df.sample(withReplacement = false, math.min(1.0, SampleRows / math.max(1L, rows)),
      seed = 42L)

  /** `n`-quantile boundaries of `sorted` (at most n - 1, distinct): the
    * split points of clustering's buckets and of MERGE's range exchange.
    */
  private[maintain] def quantileBounds[K: ClassTag](sorted: Array[K], n: Int): Array[K] =
    if (sorted.isEmpty) Array.empty
    else (1 until n)
      .map(i => sorted((i.toLong * sorted.length / n).toInt.min(sorted.length - 1)))
      .distinct.toArray

  /** One streamed pass picking every k-th file so at most `cap` survive,
    * spread across the manifest order (commits interleave the keyspace,
    * so order-spread approximates range-spread). Returns the picked
    * files and their total row count (for the sample fraction). O(cap)
    * memory.
    */
  def pickSampleFiles(it: Iterator[DataFile], total: Long, cap: Int)
      : (Seq[DataFile], Long) = {
    if (total <= 0) return (Nil, 0L)
    val k = math.max(1L, (total + cap - 1) / cap)
    var i = 0L
    val picked = Seq.newBuilder[DataFile]
    var rows = 0L
    it.foreach { f =>
      if (i % k == 0) { picked += f; rows += f.rows }
      i += 1
    }
    (picked.result(), rows)
  }

  /** Everything clustering PLANNING needs from the inventory, folded in
    * ONE streamed pass — O(1) driver memory regardless of file count.
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

  /** Streamed carry planning: the [[summarize]] fold, tapped to keep the
    * carry candidates (files with doc_id stats and >= `carryMinBytes`,
    * capped at `cap` largest by a min-heap — the same bounded-heap trick
    * Compact's streamed planner uses), then the greedy disjoint-interval
    * selection runs over the capped set. Missing doc_id stats anywhere in
    * the stream disable carrying entirely (no disjointness claim is
    * sound), matching [[carrySet]].
    */
  def planCarryStreaming(it: Iterator[DataFile], carryMinBytes: Long,
      cap: Int = CarryCap): (Seq[DataFile], InventorySummary) = {
    // Min-heap by bytes (ordering negated: dequeue drops the SMALLEST
    // kept candidate once over cap).
    val heap = scala.collection.mutable.PriorityQueue.empty[DataFile](
      Ordering.by((f: DataFile) => (-f.bytes, f.path)))
    val inv = summarize(it.tapEach { f =>
      if (f.minDocId != null && f.maxDocId != null && f.bytes >= carryMinBytes) {
        heap += f
        if (heap.size > cap) heap.dequeue()
      }
    })
    val carried =
      if (inv.anyMissingDocStats) Nil
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

  /** Range-cluster by doc_id: [[run]] with [[ByDocId]]. After this
    * layout, MERGE's manifest min/max pruning is maximally selective.
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
      incremental: Boolean = true): Result =
    run(table, ByDocId, jobId, targetBytes, incremental, SampleFileCap)

  def run(table: TokenTable, curve: Curve, jobId: String,
      targetBytes: Long = 128L * 1024 * 1024,
      incremental: Boolean = true): Result =
    run(table, curve, jobId, targetBytes, incremental, SampleFileCap)

  /** [[run]] with the sample-file cap as a parameter (tests shrink it). */
  private[maintain] def run(table: TokenTable, curve: Curve, jobId: String,
      targetBytes: Long, incremental: Boolean, sampleCap: Int): Result = {
    val spark = table.spark
    import spark.implicits._
    val parent = table.current
    // ONE streamed planning pass — the driver holds the (capped) carry
    // set and the fold totals, never the inventory. Curve layouts always
    // rewrite fully: manifests carry doc_id/n_tok bounds, not curve-key
    // bounds, so no sound carry set exists.
    val (carried, inv) =
      if (curve == ByDocId && incremental)
        planCarryStreaming(table.filesStream(parent), targetBytes / 2)
      else (Nil, summarize(table.filesStream(parent)))
    if (inv.files == 0) return Result(parent, 0, 0)
    val nRewrite = inv.files - carried.size
    if (nRewrite == 0) return Result(parent, 0, 0, carried.size, 0L)

    val carriedPaths = carried.map(_.path).toSet
    val rewriteBytes = inv.bytes - carried.map(_.bytes).sum
    val buckets = math.max(1, math.ceil(rewriteBytes.toDouble / targetBytes).toInt)
    // PINNED input: the snapshot planning saw, so a concurrent commit
    // aborts at the CAS instead of feeding a newer snapshot into a
    // rewrite projected under the parent schema. The carried files are
    // excluded through the FileIndex, never through a driver-held list.
    val input = table.scanExcluding(parent, carriedPaths)
    // The sample reads at most `sampleCap` of the REWRITE files (carried
    // files are not in this layout pass), picked spread across the
    // manifest stream, instead of scheduling every row group of the
    // table.
    def sample(cols: String*): DataFrame = {
      val (files, rows) = pickSampleFiles(
        table.filesStream(parent).filterNot(f => carriedPaths.contains(f.path)),
        nRewrite, sampleCap)
      sampleOf(table.read(parent, files).select(cols.map(col): _*), rows)
    }
    val (placed, op) = curve match {
      case ByDocId =>
        // Spark's UTF-8 binary string order, NOT Java's UTF-16 order —
        // they disagree on supplementary-plane characters, and the
        // executor-side bucket comparison is UTF-8. One bucket needs no
        // boundary and cannot be salted (its sample share is the mean),
        // so it skips the sample job.
        val keys =
          if (buckets == 1) Array.empty[String]
          else sample("doc_id").as[String].collect()
        (place(input, keys, Search.utf8Ordering, buckets,
          SearchOps.bucketOfStr(col("doc_id"), _), xxhash64(col("doc_id"), col("n_tok")),
          col("doc_id"), parent), "cluster-by-docid")
      case _ =>
        // ONE collected sample of (doc_id, source, n_tok) rows serves the
        // source dictionary AND the boundary keys. The dictionary needs
        // no full-table distinct (at 100 TB even a single-column pass is
        // a TB-scale read): the sampled sources plus every file's
        // manifest min/max source cover it; a source that is neither
        // maps to code 0 — a layout-quality effect only, vanishingly rare
        // because a source missing from a 200k sample is itself rare.
        val sampled = sample("doc_id", "source", "n_tok")
        val rows = sampled.collect()
        val dict = (rows.map(_.getString(1)).toSet ++ inv.sourceBounds)
          .toSeq.sorted.zipWithIndex.toMap
        val key = curveKey(curve, dict, inv.maxNtok)
        // The sampled keys come from the SAME expression the rewrite
        // projects (never a driver-side reimplementation of
        // xxhash64/interleave), evaluated on the driver over a local
        // relation: no Spark job.
        val keys = spark.createDataFrame(rows.toSeq.asJava, sampled.schema)
          .select(key).as[Long].collect()
        (place(input.withColumn("ckey", key), keys, Ordering.Long, buckets,
          SearchOps.bucketOf(col("ckey"), _), xxhash64(col("doc_id")), col("ckey"), parent),
          if (curve == ZOrder) "zorder" else "hilbert")
    }
    commitLayout(table, parent, jobId, op, placed, carried, nRewrite, rewriteBytes)
  }

  /** Rows exchanged and sorted into their output partitions, with the
    * bucket counts the commit reports. */
  private final case class Placed(rows: DataFrame, buckets: Int, saltedBuckets: Int)

  /** The one placement rule: `buckets`-quantile boundaries of the
    * sampled `keys` (in `ord`), salt factors for skewed buckets, one
    * exact-placement exchange, then an in-partition sort by `sortBy`.
    *
    * Exact placement: pid = base(bucket) + salt, where base is the prefix
    * sum of per-bucket salt factors; [[exchangeByPid]] sends row ->
    * partition pid exactly. Naive `repartition(n, $"pid")` would
    * HASH-collide distinct buckets into shared partitions (mixed key
    * ranges in one file), and `repartitionByRange(n, $"pid")` pays a
    * full second child execution for RangePartitioning's sampling job.
    * The skew work is already done by the explicit boundaries + salt —
    * the pid distribution is uniform by construction.
    */
  private def place[K: ClassTag](rows: DataFrame, keys: Array[K], ord: Ordering[K],
      buckets: Int, bucketOf: Array[K] => Column, saltHash: Column, sortBy: Column,
      parent: Snapshot): Placed = {
    val sorted = keys.sorted(ord)
    val boundaries = quantileBounds(sorted, buckets)
    // Skew detection on the same sample (duplicate-heavy key ranges).
    val salts = saltFactors(sorted, boundaries)(ord)
    val nBuckets = boundaries.length + 1
    val saltExpr = if (salts.isEmpty) lit(0) else {
      val factor = salts.foldLeft(lit(1)) { case (acc, (b, f)) =>
        when(col("bucket") === b, lit(f)).otherwise(acc)
      }
      pmod(saltHash, factor.cast("long")).cast("int")
    }
    val bases = new Array[Int](nBuckets)
    var acc = 0
    (0 until nBuckets).foreach { b => bases(b) = acc; acc += salts.getOrElse(b, 1) }
    val placed = exchangeByPid(
      rows
        .withColumn("bucket", if (boundaries.isEmpty) lit(0) else bucketOf(boundaries))
        .withColumn("salt", saltExpr)
        .withColumn("pid", element_at(lit(bases), col("bucket") + 1) + col("salt")),
      col("pid"), math.max(1, acc))
      .sortWithinPartitions(sortBy)
      // Project back to the TABLE's columns (drops the routing helpers);
      // schema-driven — from the PINNED parent snapshot, one read — so
      // evolved (added) columns survive the rewrite.
      .select(graft.table.Format.schemaOf(parent).fieldNames.toIndexedSeq.map(col): _*)
    Placed(placed, nBuckets, salts.size)
  }

  /** The one commit tail: write the placed rows, record lineage, and
    * commit a manifest of `carried ++ out`.
    */
  private def commitLayout(table: TokenTable, parent: Snapshot, jobId: String,
      op: String, placed: Placed, carried: Seq[DataFile], nRewrite: Long,
      rewriteBytes: Long): Result = {
    // Version-scoped output dir: re-running a jobId after its commit must
    // never overwrite files the current snapshot references.
    val t0 = System.nanoTime()
    val out = table.writeDataFilesTo(placed.rows, s"data/$jobId-v${parent.version}",
      overwrite = true, sortBy = None)
    // Lineage input is a bounded marker, not the rewrite path list — the
    // input set IS the inventory complement of the carried files, which
    // the driver deliberately never materializes.
    Lineage.completeTask(table, Lineage.TaskRecord(
      jobId, op, Seq(s"<all-but-carried:$nRewrite-files>"), out,
      rows = out.map(_.rows).sum, tokenCount = out.map(_.sumNtok).sum,
      status = "done", durationMs = (System.nanoTime() - t0) / 1000000))
    // Survivors are exactly carried ++ out (bounded): write the new
    // manifest DIRECTLY instead of filtering the parent inventory.
    // removedPaths stays empty — commit's rewrite-vs-append test also
    // keys on keepManifests == parent.manifests, which a fresh manifest
    // list fails, so a lost CAS race still aborts for re-plan.
    val snap = table.commit(Some(parent), op,
      addManifests = Seq(table.writeManifest(carried ++ out)), keepManifests = Nil,
      removedPaths = Set.empty,
      summary = Map(
        "buckets" -> placed.buckets.toString,
        "salted-buckets" -> placed.saltedBuckets.toString,
        "files-out" -> out.size.toString,
        "files-carried" -> carried.size.toString,
        "bytes-rewritten" -> rewriteBytes.toString))
    Result(snap, placed.buckets, placed.saltedBuckets, carried.size, rewriteBytes)
  }
}
