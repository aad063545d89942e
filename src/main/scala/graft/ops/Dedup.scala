package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard. Everything is
  * engineered to be *cross-engine exact* so DuckDB oracles verify it,
  * while staying integer-cheap on the hot path:
  *
  *  - each shingle/word is md5-hashed ONCE, the first 15 hex chars are
  *    read as a 60-bit integer (Spark `conv(hex,16,10)`, DuckDB
  *    `('0x'||hex)::BIGINT`), and everything downstream is 64-bit
  *    integer arithmetic — the K minhash permutations are
  *    `(a_j*h + b_j) mod p`, not K keyed digests;
  *  - every candidate-pair join is bucketed AND hot-bucket-capped: a
  *    bucket (LSH band, simhash band, shingle) whose size exceeds the
  *    cap is dropped before the self-join, so one boilerplate key can
  *    never emit O(k^2) candidate rows at 100 TB;
  *  - outputs are integers (match counts, hamming distances,
  *    intersection/union sizes) so no float crosses the oracle boundary.
  *
  * Because the driver's `documents` table has no duplicates, each query
  * first augments it with deterministic near/exact duplicates (same
  * construction in the oracle SQL) so true positives are exercised.
  */
object Dedup {

  /** Materialize a subtree consumed by more than one downstream branch
    * (guide §5: cache when reused AND recompute is expensive).
    * localCheckpoint = eager MEMORY_AND_DISK blocks + lineage cut;
    * blocks free via the ContextCleaner once the result is dropped.
    * `graft.ops.materialize=off` disables (A/B measurement knob).
    */
  private[ops] def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption("graft.ops.materialize").contains("off")) df
    else df.localCheckpoint(true)

  /** 2^31-1 (Mersenne prime): modulus of the minhash permutation family. */
  val P: Long = 2147483647L

  /** Permutation coefficients: sig_j = min over shingles of
    * (permA(j)*h + permB(j)) mod P. Both factors < P, h-mod-P < P, so the
    * product stays < 2^62 (no ANSI overflow).
    */
  def permA(j: Int): Long = (1000003L * (j + 1)) % P
  def permB(j: Int): Long = (777767777L * (j + 1) + 13L) % P

  /** First 15 hex chars of md5 as a 60-bit non-negative long — the one
    * real hash each shingle/word pays; identical in DuckDB as
    * `('0x' || substr(md5(x),1,15))::BIGINT`.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  def hash60Sql(x: String): String =
    s"('0x' || substr(md5($x),1,15))::BIGINT"

  /** 3-word shingles over a MATERIALIZED word-array column; whole text
    * if < 3 words. Callers must bind `w` to an attribute (see
    * [[explodedShingles]]), never pass `TextOps.words(text)` directly,
    * so the word regex runs once per document. Native codegen kernel
    * ([[graft.functions.WordGrams]]): the HOF formulation it replaces
    * (`transform(sequence(...), i -> concat_ws(...))`) is interpreted
    * per shingle position — measured ~300x slower per row, dominating
    * every near-dup kernel and the quality filter.
    */
  def shinglesOfWords(w: Column): Column =
    graft.functions.TextGrams.sliding(w, 3)

  /** 3-word shingles from raw text (library convenience; the hot paths
    * below use [[explodedShingles]] so the word regex runs once per doc).
    */
  def shingles(text: Column): Column = shinglesOfWords(TextOps.words(text))

  /** (doc_id, s): one row per distinct shingle. The word array is
    * materialized in its own projection first — CollapseProject keeps a
    * non-cheap alias referenced more than once as a real projection
    * barrier, so the word regex runs ONCE per document and the shingle
    * lambda reads the array attribute.
    */
  private[ops] def explodedShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.words(col("text")).as("__w"))
      .select(col("doc_id"),
        explode(array_distinct(shinglesOfWords(col("__w")))).as("s"))

  val ShinglesSql: String =
    """CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) < 3
      | THEN [array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')]
      | ELSE list_transform(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 1),
      |   i -> regexp_extract_all(lower(text), '[a-z0-9]+')[i] || ' ' ||
      |        regexp_extract_all(lower(text), '[a-z0-9]+')[i+1] || ' ' ||
      |        regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])
      | END""".stripMargin.replace("\n", "")

  // ------------------------------------------------------------ exact

  /** Exact dedup via hash-groupBy on the text digest: one row per
    * duplicate group with the first-wins representative (min doc_id) and
    * the group size. Scale path: a single hash aggregate — map-side
    * partial agg + one shuffle on the digest; no pairwise work.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  // ---------------------------------------------------------- minhash

  val MinhashK = 12 // signature length
  val MinhashBands = 4 // x 3 rows/band
  val BucketCap = 200 // max docs per LSH bucket before the bucket is dropped

  /** MinHash signatures, integer-permutation family: each distinct
    * shingle is hashed once to a 60-bit integer h (the only digest on
    * the path), then sig_j = min((a_j * (h mod P) + b_j) mod P) — K
    * two-op integer permutations instead of K keyed digests, ~10x less
    * per-shingle work than a digest-per-permutation scheme.
    *
    * Deliberately explode-then-aggregate, NOT a nested
    * higher-order-function expression: Catalyst does no
    * common-subexpression elimination inside lambda bodies, so an
    * `array(transform(shingles(text), ...) x K)` tree re-evaluates the
    * shingle regex O(K * n) times per row. Exploding shingles to rows
    * evaluates it once, and the K mins become one hash aggregate
    * (map-side partial agg + a single shuffle on doc_id).
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sh = explodedShingles(docs)
      .select(col("doc_id"), pmod(hash60(col("s")), lit(P)).as("hp"))
    val aggs = (0 until MinhashK).map(j =>
      min(pmod(lit(permA(j)) * col("hp") + lit(permB(j)), lit(P))).as(s"sig$j"))
    sh.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until MinhashK).map(j => col(s"sig$j")): _*).as("sig"))
  }

  /** MinHash+LSH near-dup pairs: band key = the 3 signature ints of the
    * band joined to a string (exact in both engines), candidate pairs
    * from a band-bucket self-join (pairs only form inside a bucket,
    * never all-pairs), buckets over [[BucketCap]] docs dropped BEFORE
    * the join (a boilerplate bucket of k docs would otherwise emit k^2
    * rows), then estimated similarity = #matching signature positions,
    * kept if >= minMatches.
    */
  def minhashLsh(docs: DataFrame, minMatches: Int = 6): DataFrame = {
    val sigs = minhashSignatures(docs)
    val bandKeys = (0 until MinhashBands).map(b =>
      concat_ws(",",
        element_at(col("sig"), b * 3 + 1),
        element_at(col("sig"), b * 3 + 2),
        element_at(col("sig"), b * 3 + 3)))
    val bands = sigs.select(col("doc_id"), col("sig"),
      posexplode(array(bandKeys: _*)).as(Seq("band_idx", "band_key")))
    // MATERIALIZE the capped band rows before the self-join (guide §5):
    // both join sides consume the same subtree — signature regex +
    // shingle explode + 12-way min aggregate + the capping window — and
    // Catalyst recomputes it per side. localCheckpoint computes it ONCE
    // (~150B/row of (id, sig, band) — far cheaper at any scale than a
    // second full signature pass over the corpus) and cuts the lineage;
    // blocks free via the ContextCleaner when the result is dropped.
    val capped = materialize(bands
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("band_idx"), col("band_key"))))
      .filter(col("bsz") <= BucketCap)
      .select(col("doc_id"), col("sig"), col("band_idx"), col("band_key")))
    val a = capped.select(col("doc_id").as("a"), col("sig").as("sig_a"),
      col("band_idx"), col("band_key"))
    val b = capped.select(col("doc_id").as("b"), col("sig").as("sig_b"),
      col("band_idx"), col("band_key"))
    // Elementwise codegen'd sum, not aggregate(zip_with(...)): the HOF
    // pair is interpreted per element, and this projection runs once
    // per CANDIDATE PAIR (billions at corpus scale). K is a plan-time
    // constant, so the unrolled element_at chain stays in the join's
    // codegen span.
    val sigMatches = (0 until MinhashK).map(j =>
      when(element_at(col("sig_a"), j + 1) === element_at(col("sig_b"), j + 1), 1L)
        .otherwise(0L)).reduce(_ + _)
    // Filter BEFORE the cross-band distinct: sig_matches is a pure
    // function of (a,b) — the signatures ride the join — so applying the
    // >= minMatches threshold first is output-identical while shrinking
    // the distinct's shuffle from ALL candidate pairs to just the
    // passing ones (at web scale the threshold kills most candidates;
    // the distinct only exists to merge pairs found by multiple bands).
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), sigMatches.as("sig_matches"))
      .filter(col("sig_matches") >= minMatches)
      .distinct()
  }

  // ---------------------------------------------------------- simhash

  val SimhashBits = 60 // 15 hex chars of md5 -> non-negative long
  val SimhashBandBits = 15 // 4 bands x 15 bits
  val SimhashMaxHamming = 3 // pigeonhole: hamming<=3 => >=1 of 4 bands equal

  /** 60-bit SimHash over the word multiset via explode + aggregate
    * (same CSE rationale as [[minhashSignatures]]): bit b set iff the
    * sum of (2*bit_b(hash60(word))-1) over words is positive. Docs with
    * no words get simhash 0 (matching the oracle's coalesce). 60 bits
    * (not 16): at web scale a 16-bit space is 65,536 buckets total and
    * every "group" is a false positive; 60 bits makes equal-hash groups
    * meaningful and gives the banded hamming join room to prune.
    */
  def simhashed(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"),
      explode(TextOps.words(col("text"))).as("w"))
      .select(col("doc_id"), hash60(col("w")).as("h"))
    val aggs = (0 until SimhashBits).map(b =>
      sum((shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1)).as(s"b$b"))
    val perDoc = w.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(b =>
          when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("simhash"), lit(0L)).as("simhash"))
  }

  /** SimHash dup groups: documents sharing an identical 60-bit simhash
    * (hamming distance 0 — effectively identical word multisets).
    * Output: per-group simhash + first-wins id + size.
    */
  def simhashDups(docs: DataFrame): DataFrame =
    simhashed(docs).groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** SimHash near-dup pairs with hamming <= [[SimhashMaxHamming]]: the
    * 60-bit hash is split into 4 bands of 15 bits; by pigeonhole any
    * pair within hamming 3 agrees on at least one full band, so a
    * band-bucket self-join (capped, like LSH) finds all of them without
    * pairwise work; candidates are verified by exact popcount of the
    * XOR. This is the banded production form of simhash dedup — the
    * equal-hash grouping above is its hamming-0 special case.
    */
  def simhashHamming(docs: DataFrame, maxHamming: Int = SimhashMaxHamming): DataFrame = {
    // Pigeonhole needs maxHamming+1 bands: k differing bits spread over
    // k+1 bands always leave one band untouched. Deriving the band
    // count from the parameter (instead of a fixed 4) keeps the
    // guarantee for ANY requested distance; a caller passing 4 with 4
    // fixed bands would silently lose pairs whose 4 flipped bits land
    // one per band.
    val nBands = maxHamming + 1
    require(nBands >= 1 && nBands <= SimhashBits,
      s"maxHamming must be in [0, ${SimhashBits - 1}]")
    // Even partition of the 60 bits: band b covers
    // [b*60/nBands, (b+1)*60/nBands) — every band non-empty, exact cover.
    val s = simhashed(docs)
    val bands = s.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBands).map { b =>
        val lo = b * SimhashBits / nBands
        val width = (b + 1) * SimhashBits / nBands - lo
        shiftright(col("simhash"), lo).bitwiseAND(lit((1L << width) - 1))
      }: _*)).as(Seq("band_idx", "band_val")))
    // Same materialize-before-self-join rationale as [[minhashLsh]]:
    // the 60-bit simhash aggregate (60 sums over exploded words) would
    // otherwise run once per join side.
    val capped = materialize(bands
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("band_idx"), col("band_val"))))
      .filter(col("bsz") <= BucketCap)
      .select(col("doc_id"), col("simhash"), col("band_idx"), col("band_val")))
    val x = capped.select(col("doc_id").as("a"), col("simhash").as("sa"),
      col("band_idx"), col("band_val"))
    val y = capped.select(col("doc_id").as("b"), col("simhash").as("sb"),
      col("band_idx"), col("band_val"))
    x.join(y, Seq("band_idx", "band_val"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---------------------------------------------------- ngram jaccard

  val ShingleDfCap = 128 // shingles in more docs than this are boilerplate

  /** Exact n-gram Jaccard near-dup pairs over the DF-capped shingle
    * set: shingles whose document frequency exceeds [[ShingleDfCap]]
    * are boilerplate and dropped BEFORE the self-join (an uncapped
    * shingle in k docs emits k^2 candidate rows — the classic
    * scale-killer); intersection and union counts are then computed
    * over the capped set on both sides of the division-free integer
    * threshold test (inter*100 >= t100*union).
    */
  def ngramJaccard(docs: DataFrame, thresholdPct: Int = 60): DataFrame = {
    // Materialized once (guide §5): `sh` feeds BOTH self-join sides and
    // the per-doc shingle counts — three consumers of the shingle regex
    // + DF-cap window otherwise recomputed per consumer.
    val sh = materialize(explodedShingles(docs)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") <= ShingleDfCap)
      .select(col("doc_id"), col("s")))
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairs = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(counts.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"), "a")
      .join(counts.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"), "b")
      .select(col("a"), col("b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .filter(col("inter") * 100 >= col("uni") * thresholdPct)
  }

  // ----------------------------------------------------- line dedup

  /** Words per pseudo-line. The synthetic corpus has no newlines, so
    * fixed 10-word chunks stand in for lines — the operator's shape
    * (global first-occurrence-wins over a line hash) is what matters;
    * swapping the chunker for `split(text, '\n')` is a one-line change.
    */
  val LineWords = 10

  /** CCNet/RefinedWeb-style line-level dedup across the whole corpus:
    * a line (10-word chunk) is kept only at its globally FIRST
    * occurrence (smallest (doc_id, position)); every later repeat — the
    * nav-bar/footer boilerplate case — is dropped, and the doc's text
    * is rebuilt from its surviving lines. Output per doc: chunk counts
    * and the md5 of the rebuilt text (small, exactly checkable).
    *
    * Scale shape: first-wins keys on the line STRING — exact (a 60-bit
    * hash key alone would silently merge colliding distinct lines at
    * web scale, and the oracle would mirror the bug) — but the window
    * is SALTED two-phase, never partitioned by the raw line: a
    * boilerplate nav-bar line appearing in 10^8 docs would otherwise
    * put all its occurrences into ONE window partition = one straggler
    * task sorting 10^8 rows. Phase 1 ranks within (line, salt) —
    * [[LineSalts]] bounded partitions, each ~1/salts of the hot line —
    * and only per-salt winners (<= salts rows PER DISTINCT LINE,
    * regardless of occurrence count) proceed to phase 2's global
    * ranking on the line alone. A row is globally first iff it wins
    * both phases; phase-1 losers are provably not global firsts, so the
    * union of both verdicts is identical to the unsalted single-window
    * output. No join ever shuffles on the raw line key.
    */
  val LineSalts = 16

  def lineDedup(docs: DataFrame): DataFrame = {
    val w = docs
      .select(col("doc_id"), TextOps.words(col("text")).as("__w"))
      .filter(size(col("__w")) > 0)
    // Native tumbling-chunk kernel (ceil(n/10) chunks, last one short) —
    // same output as the slice()-HOF formulation it replaces, without
    // the per-chunk interpreted-lambda cost.
    val chunks = w.select(col("doc_id"),
      posexplode(graft.functions.TextGrams.tumbling(col("__w"), LineWords))
        .as(Seq("pos", "line")))
      // Deterministic row-derived salt (layout-independent).
      .withColumn("__salt", pmod(xxhash64(col("doc_id"), col("pos")), lit(LineSalts)))
    val perSalt = Window.partitionBy(col("line"), col("__salt"))
      .orderBy(col("doc_id"), col("pos"))
    // Materialized once: the winners branch (global re-rank) and the
    // losers branch below both consume this subtree — chunk explode +
    // the salted window — which Catalyst would otherwise run twice.
    val ranked = materialize(
      chunks.withColumn("__rn1", row_number().over(perSalt)))
    val winners = ranked.filter(col("__rn1") === 1)
    val global = Window.partitionBy(col("line"))
      .orderBy(col("doc_id"), col("pos"))
    val flagged = winners
      .withColumn("__first", row_number().over(global) === 1)
      .drop("__rn1")
      .unionByName(ranked.filter(col("__rn1") > 1)
        .withColumn("__first", lit(false))
        .drop("__rn1"))
    flagged
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__first"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("__first"),
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), " ")).as("text_hash"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("text_hash"))
  }

  def lineDedupQuery(spark: SparkSession, dir: String): DataFrame =
    lineDedup(augmented(spark, dir))

  // ------------------------------------- windowed exact-substring dedup

  /** Window width (words) for exact-substring duplicate detection.
    * Production runs use ~50 tokens (Lee et al.); 8 keeps the signal
    * meaningful on the short synthetic test documents.
    */
  val SubstringWindow = 8

  /** WINDOWED EXACT-SUBSTRING duplication (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): a
    * window of [[SubstringWindow]] consecutive words appearing verbatim
    * in more than one document marks a cross-document duplicated span —
    * the signal behind suffix-array substring dedup, computed here the
    * Spark-native way. Per document: total distinct windows, how many
    * are shared with at least one OTHER document, and the shared
    * permille (the span-removal budget a substring-dedup pass would
    * cut).
    *
    * Scale shape: NO pair join anywhere — explode distinct windows
    * (one codegen [[graft.functions.TextGrams.sliding]] kernel, stride
    * 1), one hash aggregate for window document-frequency, one equi
    * join of the df>=2 flag back, one per-doc aggregate. Linear in
    * corpus token count; a boilerplate window shared by a million docs
    * costs one aggregate row and a million flag hits, never a
    * million-squared pair set. Docs shorter than the window collapse to
    * one whole-text gram (kernel semantics, mirrored in SQL).
    *
    * Deliberate tradeoff: the exploded (doc, window) set feeds both
    * join sides, and the aggregate side's map-side partial agg makes
    * the two exchange subtrees differ — so the explode computes twice
    * (two token-data passes, like the MinHash signature + band passes)
    * rather than once through a `count over (partition by window)`
    * window, whose hot boilerplate window would pin one unsplittable
    * WindowExec partition. The join's equivalent hot partition is
    * handled by AQE skew-join splitting; the window's is not.
    */
  def substringDedup(docs: DataFrame,
      k: Int = SubstringWindow): DataFrame = {
    // Shuffle-byte cut over the round-5 shape (VERDICT r5 #7, guide
    // §2.3): the aggregate and join key on xxhash64 of the window, not
    // the raw 8-word string — 8 bytes through both exchanges instead of
    // ~50. The 64-bit key is NOT collision-free at scale: the birthday
    // bound at n distinct windows is n^2 / 2^65, ~2.7% at 10^9 windows,
    // so a rare colliding pair can mark two different windows as shared.
    // Within-doc distinctness is still computed on the exact strings.
    // NOT materialized: the double window-explode is cheaper than an
    // eager checkpoint barrier here (QueryProbe A/B: 0.53s recompute vs
    // 0.66s materialized at bench scale) — the hashed 8-byte rows make
    // the recomputed exchange cheap, and the original skew argument for
    // explode-per-side stands at scale.
    val dg = docs
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.TextGrams.sliding(col("ws"), k))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
    val dfreq = dg.groupBy("g").agg(count(lit(1)).as("df")).filter(col("df") >= 2)
    dg.join(dfreq, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("df").isNotNull, 1L).otherwise(0L)).as("shared_windows"))
      .select(col("doc_id"), col("n_windows"), col("shared_windows"),
        expr("shared_windows * 1000L div n_windows").as("shared_pm"))
  }

  def substringDedupQuery(spark: SparkSession, dir: String): DataFrame =
    substringDedup(augmented(spark, dir))

  lazy val substringDedupSql: String = {
    val k = SubstringWindow
    s"""WITH base AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM $augSql aug
       |), g AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) < $k THEN [array_to_string(ws, ' ')]
       |         ELSE list_transform(range(1, len(ws) - ${k - 2}),
       |                i -> array_to_string(ws[i:i+${k - 1}], ' ')) END AS gs
       |  FROM base
       |), dg AS (
       |  SELECT DISTINCT doc_id, g
       |  FROM (SELECT doc_id, unnest(gs) AS g FROM g) t
       |), dfreq AS (
       |  SELECT g, count(*) AS c FROM dg GROUP BY g
       |)
       |SELECT dg.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_windows,
       |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_windows,
       |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * 1000
       |       // count(*) AS BIGINT) AS shared_pm
       |FROM dg JOIN dfreq USING (g)
       |GROUP BY dg.doc_id""".stripMargin
  }

  /** Oracle mirror: DuckDB's `string_agg(... ORDER BY pos)` rebuilds the
    * same surviving-line text; `coalesce('')` matches Spark's empty
    * collect_list for docs whose every line was seen earlier (the
    * planted +200000 exact copies). Lazy: `augSql` is declared further
    * down the object and would interpolate as null at init order.
    */
  lazy val lineDedupSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM $augSql aug WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0
       |), chunks AS (
       |  SELECT doc_id,
       |         unnest(range(0, (len(ws)-1)//$LineWords + 1)) AS pos,
       |         unnest(list_transform(range(0, (len(ws)-1)//$LineWords + 1),
       |           i -> array_to_string(ws[i*$LineWords+1 : i*$LineWords+$LineWords], ' '))) AS line
       |  FROM w
       |), ranked AS (
       |  SELECT doc_id, pos, line,
       |         row_number() OVER (PARTITION BY line
       |                            ORDER BY doc_id, pos) AS rn
       |  FROM chunks
       |)
       |SELECT doc_id, count(*) AS n_lines,
       |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY pos), '')) AS text_hash
       |FROM ranked GROUP BY doc_id""".stripMargin

  // ------------------------------------------------- augmented inputs

  /** documents + exact duplicates of every 4th doc (re-keyed +200000)
    * and near-duplicates (one appended word) of every 5th (+100000).
    * Deterministic; mirrored 1:1 in [[augSql]].
    */
  def augmented(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs
      .unionByName(docs.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zzduplicatemarker")).as("text")))
  }

  val augSql: String =
    """(SELECT doc_id, text FROM documents
      | UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 4 = 0
      | UNION ALL SELECT doc_id + 100000, text || ' zzduplicatemarker' FROM documents WHERE doc_id % 5 = 0)""".stripMargin.replace("\n", "")

  // ------------------------------------------------------------ oracle SQL

  val exactSql: String =
    s"""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
       |FROM $augSql aug GROUP BY 1 HAVING count(*) > 1""".stripMargin

  val minhashSql: String = {
    val sigExprs = (0 until MinhashK).map(j =>
      s"min((${permA(j)} * hp + ${permB(j)}) % $P)").mkString(", ")
    val bandExprs = (0 until MinhashBands).map(b =>
      s"array_to_string([sig[${b * 3 + 1}], sig[${b * 3 + 2}], sig[${b * 3 + 3}]], ',')")
      .mkString(", ")
    s"""WITH sh AS (
       |  SELECT doc_id, ${hash60Sql("s")} % $P AS hp
       |  FROM (SELECT doc_id, unnest(list_distinct($ShinglesSql)) AS s FROM $augSql aug)
       |), sigs AS (
       |  SELECT doc_id, [$sigExprs] AS sig FROM sh GROUP BY doc_id
       |), bands AS (
       |  SELECT doc_id, sig, unnest(range(0, $MinhashBands)) AS band_idx,
       |         unnest([$bandExprs]) AS band_key
       |  FROM sigs
       |), capped AS (
       |  SELECT * FROM (
       |    SELECT doc_id, sig, band_idx, band_key,
       |           count(*) OVER (PARTITION BY band_idx, band_key) AS bsz
       |    FROM bands) WHERE bsz <= $BucketCap
       |)
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |  CAST(list_sum(list_transform(range(1, ${MinhashK + 1}),
       |       i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END)) AS BIGINT) AS sig_matches
       |FROM capped x JOIN capped y
       |  ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id
       |WHERE list_sum(list_transform(range(1, ${MinhashK + 1}),
       |       i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END)) >= 6""".stripMargin
  }

  /** Shared oracle CTE body: per-doc 60-bit simhash. */
  private val simhashedSql: String = {
    val bits = (0 until SimhashBits).map(b =>
      s"(CASE WHEN coalesce(list_sum(list_transform(wh, h -> ((h >> $b) & 1) * 2 - 1)), 0) > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""SELECT doc_id, CAST($bits AS BIGINT) AS simhash
       |  FROM (SELECT doc_id,
       |          list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |                         w -> ${hash60Sql("w")}) AS wh
       |        FROM $augSql aug)""".stripMargin
  }

  val simhashSql: String =
    s"""WITH hashed AS (
       |$simhashedSql
       |)
       |SELECT simhash, min(doc_id) AS keep_id, count(*) AS dup_count
       |FROM hashed GROUP BY 1 HAVING count(*) > 1""".stripMargin

  val simhashHammingSql: String = {
    val nBands = SimhashBits / SimhashBandBits
    val mask = (1L << SimhashBandBits) - 1
    val bandExprs = (0 until nBands).map(b =>
      s"((simhash >> ${b * SimhashBandBits}) & $mask)").mkString(", ")
    s"""WITH hashed AS (
       |$simhashedSql
       |), bands AS (
       |  SELECT doc_id, simhash, unnest(range(0, $nBands)) AS band_idx,
       |         unnest([$bandExprs]) AS band_val
       |  FROM hashed
       |), capped AS (
       |  SELECT * FROM (
       |    SELECT doc_id, simhash, band_idx, band_val,
       |           count(*) OVER (PARTITION BY band_idx, band_val) AS bsz
       |    FROM bands) WHERE bsz <= $BucketCap
       |)
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |FROM capped x JOIN capped y
       |  ON x.band_idx = y.band_idx AND x.band_val = y.band_val AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= $SimhashMaxHamming""".stripMargin
  }

  val ngramJaccardSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, s FROM (
       |    SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df
       |    FROM (SELECT doc_id, unnest(list_distinct($ShinglesSql)) AS s FROM $augSql aug)
       |  ) WHERE df <= $ShingleDfCap
       |), cnt AS (
       |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
       |), pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT a, b, inter, ca.n_sh + cb.n_sh - inter AS uni
       |FROM pairs JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
       |WHERE inter * 100 >= (ca.n_sh + cb.n_sh - inter) * 60""".stripMargin
}
