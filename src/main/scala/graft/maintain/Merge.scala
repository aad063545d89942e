package graft.maintain

import graft.functions.{Search, SearchOps}
import graft.table.{DataFile, Snapshot, TokenTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** MERGE INTO dedup-upsert keyed on `doc_id` (north-star M6).
  *
  * Plan:
  *  1. First-wins dedup of the source batch on `doc_id` — the
  *     reference's D1 semantics (`/root/reference/src/pipeline/mod.rs:58-80`:
  *     first occurrence wins, duplicates silently dropped), expressed as
  *     `row_number() over (partition by doc_id order by precedence) = 1`.
  *  2. Planning in one source pass ([[planPrune]]): one fold over the
  *     cached source's doc_id column yields the row count and a key
  *     sample that, up to [[KeySampleCap]] rows, is every key — then the
  *     keys ARE the extents and no aggregation runs. Only data files whose
  *     [minDocId, maxDocId] intersects a source-key extent are touched;
  *     everything else carries over untouched (no IO). Inside touched
  *     files, row groups outside every extent carry over as bytewise
  *     copies.
  *  3. Rewrite: `touched LEFT ANTI JOIN source keys ON doc_id` ∪ `source`
  *     (upsert = matched rows replaced, unmatched inserted), range-placed
  *     by one exchange on doc_id sized by the data: range bounds from a
  *     target sample plus one output range per hot run
  *     ([[extentClusterBounds]]), so every output file keeps tight stats.
  *  4. One atomic snapshot through [[Rewrite.commit]]: new files +
  *     untouched survivors. The source cache is released on every
  *     exit.
  */
object Merge {

  case class Result(snapshot: Snapshot, touchedFiles: Int, untouchedFiles: Int,
      sourceRows: Long, touchedBytes: Long = 0L,
      decodedBytes: Long = 0L, coldCopiedBytes: Long = 0L,
      fullyColdFiles: Int = 0)

  /** Segment-index pruning output: the touched file set, the capped
    * sorted file-endpoint array the segmentation started from, and the
    * per-segment source-key EXTENTS (extLo/extHi, parallel arrays sorted
    * by lo, disjoint — segments are disjoint intervals): `[extLo(i),
    * extHi(i)]` together cover every source key, so a file or row group
    * whose range intersects NO extent provably matches no key.
    */
  case class Prune(touchedPaths: Set[String], bounds: Array[String],
      extLo: Array[String] = Array.empty, extHi: Array[String] = Array.empty)

  /** Does [lo, hi] intersect any source-key extent? Extents are sorted
    * by lo and disjoint: find the first extent whose hi >= lo (binary
    * search on the parallel hi array, also sorted); intersect iff its
    * lo <= hi. Missing stats (null) ⇒ true (conservative).
    */
  def intersectsExtents(lo: String, hi: String,
      extLo: Array[UTF8String], extHi: Array[UTF8String]): Boolean = {
    if (lo == null || hi == null) return true
    if (extLo.isEmpty) return false
    val l = UTF8String.fromString(lo); val h = UTF8String.fromString(hi)
    // first i with extHi(i) >= l
    var a = 0; var b = extHi.length
    while (a < b) {
      val m = (a + b) >>> 1
      if (extHi(m).compareTo(l) < 0) a = m + 1 else b = m
    }
    a < extLo.length && extLo(a).compareTo(h) <= 0
  }

  /** First-wins dedup on doc_id ordered by `precedenceCol` asc (the
    * arrival-order stand-in; ties broken by token hash for determinism).
    */
  def dedupFirstWins(source: DataFrame, precedenceCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col(precedenceCol).asc, xxhash64(col("tokens")).asc)
    source
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** File pruning via manifest min/max stats (M3 pays off here) —
    * WITHOUT a join: a non-equi `min<=k<=max` join has no equi-key, so
    * Spark plans BroadcastNestedLoopJoin = O(#files x #source-keys) —
    * 10^12 comparisons at 10^6 files x 10^6 keys. Instead:
    *
    *  1. A segmentation of the keyspace is built from the sorted
    *     distinct file endpoints PLUS a capped deterministic sample of
    *     the source keys; `seg(k) = #(bounds <= k)` is one O(log B)
    *     codegen'd binary search per key. The sampled keys split wide
    *     file segments at actual key positions — endpoints alone fuse
    *     disjoint key clusters inside one segment into an extent
    *     spanning the dead gap between them.
    *  2. Per segment, the actual source-key EXTENT [min key, max key]:
    *     when the sample holds every key, each key is its own extent;
    *     otherwise one bounded aggregation collects them — output rows
    *     bounded by the segment count regardless of source size
    *     (map-side partial agg). The extents are disjoint, sorted, and
    *     together cover every source key.
    *  3. A file is touched iff its [min,max] INTERSECTS some extent
    *     ([[intersectsExtents]]: one binary search + one compare per
    *     file, on the driver, which streams the file list for
    *     planning). The same test classifies row GROUPS for the
    *     bytewise cold copy in [[mergeInto]].
    *
    * Over-approximates only within an extent between actual keys (a
    * false positive reads or anti-joins extra rows; never misses a
    * match).
    */
  def pruneTouched(files: Seq[DataFile], srcKeys: DataFrame): Set[String] = {
    val spark = srcKeys.sparkSession
    import spark.implicits._
    planPrune(() => files.iterator, srcKeys,
      () => spark.createDataset(files)).prune.touchedPaths
  }

  /** Pruning output plus what [[mergeInto]] plans with: the touched
    * DataFiles (driver memory tracks the TOUCHED count, not the file
    * count), the total inventory size and the source's row count.
    */
  case class PrunePlan(prune: Prune, touched: Seq[DataFile], totalFiles: Long,
      srcRows: Long)

  /** Endpoint-array cap: above this many distinct file endpoints the
    * exact driver-side endpoint collection switches to a distributed
    * every-k-th coarsening — a SUBSET of true endpoints is still a valid
    * (coarser) partition of the keyspace, so pruning stays sound and
    * merely over-approximates between kept endpoints.
    */
  val DefaultBoundsCap: Int = 1 << 17

  /** Source-row cap under which the anti join's key set broadcasts.
    * Keys-only build rows are ~50 bytes framed, so the default builds a ~100MB hash
    * relation — comfortably inside executor memory at any deployment
    * size, far under Spark's 8GB broadcast cap, and it removes the
    * full-table exchange+sort from the rewrite (guide §3.1). Above it
    * the key set joins unhinted and adaptive execution picks the join.
    */
  val DefaultBroadcastKeyRows: Long = 2000000L

  /** Size of the source-key sample the planning fold collects, and the
    * source-row count up to which that sample is the whole key set
    * (bounds the extent arrays the classifiers broadcast and binary-
    * search; 4k splits resolve any realistic cluster structure while
    * keeping the per-task array payload ~100KB).
    */
  val KeySampleCap: Int = 1 << 12

  /** At most this many hot runs get their own output range in the
    * rewrite exchange ([[extentClusterBounds]]).
    */
  val MaxHotRuns: Int = 32

  /** The [[KeySampleCap]] distinct keys of least (hash, key), folded one
    * key at a time. The least-hash keys are a uniform, deterministic
    * sample of the distinct keys, and the least-hash set of a union is
    * the least-hash set of its parts' least-hash sets, so per-task folds
    * merge on the driver; with at most [[KeySampleCap]] distinct keys the
    * sample IS the key set. Nulls match no key and are skipped.
    */
  private final class LeastHashKeys {
    private val set = scala.collection.mutable.TreeSet.empty[(Int, String)]
    def +=(k: String): Unit = if (k != null) {
      val e = (scala.util.hashing.MurmurHash3.stringHash(k), k)
      if (set.size < KeySampleCap) set += e
      else if (Ordering[(Int, String)].lt(e, set.last)) {
        set += e; set -= set.last
      }
    }
    def keys: Array[String] = set.iterator.map(_._2).toArray
  }

  /** The one source-side planning pass: a per-task fold over the key
    * projection, merged on the driver (as `Ingest`'s tally — a grouped
    * aggregate would plan an exchange and one more job per pass).
    * Returns the row count and the [[KeySampleCap]] least-hash distinct
    * keys, sorted.
    */
  private def tallyKeys(srcKeys: DataFrame): (Long, Array[String]) = {
    val spark = srcKeys.sparkSession
    import spark.implicits._
    val parts = srcKeys.select(col("doc_id")).as[String].mapPartitions { it =>
      var rows = 0L
      val least = new LeastHashKeys
      it.foreach { k => rows += 1; least += k }
      Iterator((rows, least.keys))
    }.collect()
    val least = new LeastHashKeys
    parts.foreach(_._2.foreach(least += _))
    (parts.map(_._1).sum, least.keys.sorted(Search.utf8Ordering))
  }

  /** Streaming, bounded-memory segment-index construction (VERDICT r3
    * task 4): ONE Spark pass over the source keys ([[tallyKeys]]) and
    * two driver passes over the manifest-row ITERATOR (never a
    * materialized Seq), holding at most `boundsCap` endpoints plus the
    * touched files. `filesDS` is consulted only on endpoint overflow,
    * where coarsening runs as Spark jobs.
    *
    * Up to `keyCap` source rows the fold has collected every key. Each
    * key is then a segmentation bound, so each segment holds exactly one
    * key and the extents are the sorted distinct keys themselves: the
    * per-segment extent aggregation is provably redundant and does not
    * run. Above `keyCap` the fold's key sample joins the file endpoints
    * in the segmentation and the aggregation runs after the fold.
    * `keyCap` is a test seam that forces the aggregation path; it may
    * not exceed [[KeySampleCap]], the sample the fold keeps.
    */
  private[maintain] def planPrune(filesIt: () => Iterator[DataFile],
      srcKeys: DataFrame, filesDS: () => org.apache.spark.sql.Dataset[DataFile],
      boundsCap: Int = DefaultBoundsCap, keyCap: Int = KeySampleCap): PrunePlan = {
    require(keyCap <= KeySampleCap, s"keyCap $keyCap exceeds the fold's sample")
    val spark = srcKeys.sparkSession
    import spark.implicits._
    val (srcRows, keySample) = tallyKeys(srcKeys)
    // Pass 1: endpoints (bounded) + inventory count.
    val epb = scala.collection.mutable.ArrayBuffer.empty[String]
    var overflow = false
    var anyStatted = false
    var total = 0L
    val it = filesIt()
    while (it.hasNext) {
      val f = it.next(); total += 1
      if (f.minDocId != null && f.maxDocId != null) {
        anyStatted = true
        if (!overflow) {
          epb += f.minDocId; epb += f.maxDocId
          if (epb.length > 2 * boundsCap) { overflow = true; epb.clear() }
        }
      }
    }
    if (total == 0L)
      return PrunePlan(Prune(Set.empty, Array.empty), Nil, 0L, srcRows)
    if (!anyStatted) {
      // No stats anywhere: every file is touched (never prunable).
      val all = filesIt().toSeq
      return PrunePlan(Prune(all.map(_.path).toSet, Array.empty),
        all, total, srcRows)
    }
    val fileBounds: Array[String] =
      if (!overflow) epb.distinct.sorted(Search.utf8Ordering).toArray
      else coarseEndpoints(filesDS(), boundsCap)
    // Source-key extents, sorted by lo and disjoint. Above the cap the
    // segmentation is the file endpoints PLUS the key sample: endpoints
    // alone make one extent per file segment, which fuses disjoint key
    // clusters inside a wide segment into one range spanning the dead
    // gap between them (a 2-cluster update inside one file classified
    // ~everything between the clusters hot). Sampled keys split such
    // segments at actual key positions, so empty slices between
    // clusters produce NO extent. String keyspaces have no numeric gap
    // metric — key-anchored splitting is the scale-safe way to discover
    // cluster structure.
    val (extLo, extHi) =
      if (srcRows <= keyCap) (keySample, keySample)
      else {
        val extBounds: Array[String] =
          (fileBounds ++ keySample).distinct.sorted(Search.utf8Ordering).toArray
        // Per-segment extents: ONE aggregation, output bounded by the
        // segment count.
        val extSorted = srcKeys
          .select(SearchOps.bucketOfStr(col("doc_id"), extBounds).as("seg"),
            col("doc_id"))
          .groupBy($"seg")
          .agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
          .as[(Int, String, String)].collect()
          .map(r => (r._2, r._3))
          .sortBy(_._1)(Search.utf8Ordering)
        (extSorted.map(_._1), extSorted.map(_._2))
      }
    val extLoU8 = extLo.map(UTF8String.fromString)
    val extHiU8 = extHi.map(UTF8String.fromString)
    // Pass 2: touched selection — files without stats can never be
    // pruned; statted files keep iff their range intersects a
    // source-key extent.
    val touched = scala.collection.mutable.ArrayBuffer.empty[DataFile]
    filesIt().foreach { f =>
      if (intersectsExtents(f.minDocId, f.maxDocId, extLoU8, extHiU8))
        touched += f
    }
    PrunePlan(Prune(touched.map(_.path).toSet, fileBounds, extLo, extHi),
      touched.toSeq, total, srcRows)
  }

  /** Distributed endpoint coarsening: every k-th of the distinct sorted
    * endpoints (Spark's string sort IS UTF8 binary order), k sized so at
    * most `cap` survive. Runs only when the exact endpoint set would
    * not fit the driver budget.
    */
  private def coarseEndpoints(files: org.apache.spark.sql.Dataset[DataFile],
      cap: Int): Array[String] = {
    val spark = files.sparkSession
    import spark.implicits._
    val eps = files.toDF()
      .select(explode(array(col("minDocId"), col("maxDocId"))).as("e"))
      .where(col("e").isNotNull)
      .distinct().sort("e").as[String]
    val n = eps.count()
    val k = math.max(1L, math.ceil(n.toDouble / cap).toLong)
    eps.rdd.zipWithIndex().filter(_._2 % k == 0).map(_._1).collect()
      .sorted(Search.utf8Ordering)
  }

  /** Extent-aligned split points: the source-key extents fused into hot
    * RUNS, each contributing [lo, succ(hi)) bounds — so hot key ranges
    * land in their own output files and every cold output's [min,max]
    * provably excludes them. Without these, a small rewrite (one
    * quantile range) emits one file spanning hot and cold rows alike,
    * and the NEXT merge/delete over the same keys re-grazes all of it
    * (PruningSpec pins this). succ(hi) = hi + '\u0000', the least string
    * above hi in binary order, so every key past a run's last one falls
    * outside the hot range.
    *
    * The coarsening rule: consecutive extents with no `targetKeys`
    * member (sorted, UTF-8 order) strictly between them fuse into one
    * run, since no target row can sit between them. Where more than
    * [[MaxHotRuns]] runs remain, runs split only at the widest gaps,
    * counted in target keys. A batch of contiguous key runs (an update
    * range, an insert range past the table's end) thus gets one output
    * range per run, whatever its key count, and no run spans a gap full
    * of cold rows that the next DELETE would have to decode.
    */
  private[maintain] def extentClusterBounds(extLo: Array[String],
      extHi: Array[String], targetKeys: Array[String]): Array[String] = {
    val n = extLo.length
    if (n == 0) return Array.empty
    val keys = targetKeys.map(UTF8String.fromString)
    // #(targetKeys < k)
    def below(k: String): Int = {
      val u = UTF8String.fromString(k)
      var a = 0; var b = keys.length
      while (a < b) {
        val m = (a + b) >>> 1
        if (keys(m).compareTo(u) < 0) a = m + 1 else b = m
      }
      a
    }
    val gaps = (0 until n - 1).map(i => below(extLo(i + 1)) - below(extHi(i) + "\u0000"))
    val cuts = gaps.indices.filter(gaps(_) > 0)
      .sortBy(i => (-gaps(i), i)).take(MaxHotRuns - 1).sorted
    val starts = 0 +: cuts.map(_ + 1)
    val ends = cuts :+ (n - 1)
    starts.zip(ends).flatMap { case (i, j) =>
      Seq(extLo(i), extHi(j) + "\u0000") }.toArray
  }

  def mergeInto(table: TokenTable, source: DataFrame,
      precedenceCol: String, jobId: String): Result =
    mergeInto(table, source, precedenceCol, jobId, DefaultBoundsCap, DefaultBroadcastKeyRows)

  /** [[mergeInto]] with the planning caps as parameters: tests force the
    * coarse endpoint path (a tiny `boundsCap`) and the unbroadcast anti
    * join (`broadcastKeyRows` 0).
    */
  private[maintain] def mergeInto(table: TokenTable, source: DataFrame,
      precedenceCol: String, jobId: String, boundsCap: Int,
      broadcastKeyRows: Long): Result = {
    val parent = table.current

    // Align the source to the table's PHYSICAL schema first (sources
    // address evolved tables by LOGICAL names; missing added columns
    // null-fill — SchemaEvolution.alignToPhysical), then dedup. The
    // schema comes from the PINNED parent snapshot — one read; a
    // concurrent ALTER mid-job can then never make the projection, the
    // target read schema and the committed snapshot disagree (the
    // commit's CAS still aborts on any concurrent version).
    val physSchema = graft.table.Format.schemaOf(parent)
    val physFields = physSchema.fieldNames.toIndexedSeq
    val src = dedupFirstWins(
        graft.table.SchemaEvolution.alignToPhysical(
          source, physSchema, keep = Seq(precedenceCol)),
        precedenceCol)
      .select(physFields.map(col): _*)
      .cache()
    // The cache is released on EVERY exit: a lost commit CAS, a failed
    // write or a source that throws while the cache builds must not
    // leave it registered in the session's cache manager.
    try mergeCached(table, parent, src, physSchema, jobId, boundsCap, broadcastKeyRows)
    finally src.unpersist()
  }

  /** The cached-source pipeline: plan, classify, rewrite, commit.
    * Planning and the anti join's build side read only the doc_id column
    * of the source cache. A separate keys-only cache would cost one more
    * job to build under adaptive execution, which materializes every
    * cached relation as its own query stage.
    */
  private def mergeCached(table: TokenTable, parent: Snapshot, src: DataFrame,
      physSchema: org.apache.spark.sql.types.StructType, jobId: String,
      boundsCap: Int, broadcastKeyRows: Long): Result = {
    val spark = table.spark
    import spark.implicits._
    val physFields = physSchema.fieldNames.toIndexedSeq
    val srcKeys = src.select($"doc_id")

    // Streamed planning: the driver holds the endpoint array (capped)
    // and the TOUCHED files — never the full inventory.
    val pruned = planPrune(() => table.filesStream(parent),
      srcKeys, () => table.files(parent), boundsCap)
    val srcRows = pruned.srcRows
    val prune = pruned.prune
    val touched = pruned.touched
    val untouchedCount = pruned.totalFiles - touched.size

    // Row-GROUP-level cold copy (below the file-level prune): groups
    // intersecting no source-key extent carry into the new snapshot as a
    // bytewise column-chunk copy — zero decode, zero re-encode — and
    // only hot groups enter the rewrite. Planned only when the update is
    // SPARSE relative to the touched rows: for a dense update
    // "everything hot" is the right answer and the footer reads are
    // pure cost.
    val touchedRows = touched.map(_.rows).sum
    val split = prune.extLo.nonEmpty && srcRows * 2 <= touchedRows
    val plan =
      if (split) Rewrite.byExtents(table, jobId, parent, prune.extLo, prune.extHi, touched)
      else Rewrite.decodeAll(touched)

    val target = table.read(parent, plan.decode)

    // The upsert. The anti join needs only the source's doc_id KEYS on
    // its build side. A bounded batch (srcRows <= broadcastKeyRows)
    // BROADCASTS them, so the touched data is never shuffled for the
    // join (a sort-merge plan measured 2.4GB of shuffle for a 1.2GB
    // table at bench scale, to match ~15MB of keys); Catalyst would not
    // pick this itself, as the cached source's size estimate exceeds
    // autoBroadcastJoinThreshold long before the key projection does.
    // Above the cap adaptive execution picks the join.
    val keys = if (srcRows <= broadcastKeyRows) broadcast(srcKeys) else srcKeys
    val merged = target.join(keys, Seq("doc_id"), "left_anti")
      .select(physFields.map(col): _*)
      .unionByName(src.select(physFields.map(col): _*))

    // Placement: a map-only rewrite emits one file per scan task, each
    // spanning the full keyspace after curve clustering, so every later
    // doc_id-keyed op grazes every output. One range exchange on sampled
    // doc_id bounds ∪ hot-run bounds (exact hash-preimage placement, as
    // runByDocId) moves only the DECODED bytes and keeps per-file
    // [min,max] tight. Round-6 A/B at bench scale: merge 12.3-12.8s /
    // next-delete 1.3s, vs map-only range-partitioned files
    // 11.8-17.0s / 1.6-2.4s (568 files) and no placement 8.4s / 5.3-7.8s.
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
    val nOut = math.max(1L, math.min(
      (plan.decodedBytes + maxPart - 1) / math.max(1L, maxPart),
      4L * spark.sessionState.conf.numShufflePartitions)).toInt
    // One target doc_id sample serves both the range bounds and the
    // hot-run coarsening, which needs it only between two extents.
    val sampleKeys: Array[String] =
      if (plan.decode.isEmpty || (nOut <= 1 && prune.extLo.length <= 1))
        Array.empty
      else Cluster.sampleOf(target.select($"doc_id"), touchedRows)
        .as[String].collect().sorted(Search.utf8Ordering)
    val rangeBounds = Cluster.quantileBounds(sampleKeys, nOut)
    // Target keys the gap rule counts: the decoded sample, plus the file
    // endpoints and the cold copies' endpoints — real keys the sample
    // cannot see (untouched, fully cold and row-group-copied rows).
    val coldEnds = plan.coldFiles.flatMap(f => Seq(f.minDocId, f.maxDocId)).filter(_ != null)
    val targetKeys = (sampleKeys ++ prune.bounds ++ coldEnds).sorted(Search.utf8Ordering)
    val bounds = (rangeBounds ++ extentClusterBounds(prune.extLo, prune.extHi, targetKeys))
      .distinct.sorted(Search.utf8Ordering)
    val rewriteDF =
      if (bounds.isEmpty) merged
      else Cluster.exchangeByPid(merged,
        SearchOps.bucketOfStr(col("doc_id"), bounds), bounds.length + 1)
    val (snap, _) = Rewrite.commit(table, parent, jobId, "merge", touched, plan,
        Some(rewriteDF)) { _ =>
      Map(
        "source-rows" -> srcRows.toString,
        "touched-files" -> touched.size.toString,
        "untouched-files" -> untouchedCount.toString,
        "touched-bytes" -> touched.map(_.bytes).sum.toString,
        "fully-cold-files" -> plan.fullyCold.size.toString)
    }
    Result(snap, touched.size, untouchedCount.toInt, srcRows,
      touchedBytes = touched.map(_.bytes).sum,
      decodedBytes = plan.decodedBytes,
      coldCopiedBytes = plan.coldCopiedBytes,
      fullyColdFiles = plan.fullyCold.size)
  }
}
