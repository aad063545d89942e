package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CCNet-style n-gram language-model quality scoring — the stage the
  * CCNet pipeline (Wenzek et al. 2019) runs AFTER language ID and
  * dedup: train a small LM on the corpus, score each document by its
  * average per-token surprisal, and let downstream filtering keep the
  * low-perplexity (fluent) tail. The reference pipeline has no analog;
  * this completes the repo's CCNet trio (langid + line dedup + LM
  * score).
  *
  * The model is an add-one-smoothed bigram LM over a CAPPED vocabulary
  * (top-[[VocabCap]] words by frequency, rest mapped to `<unk>`, a
  * `<s>` start marker per document), and every quantity is INTEGER so
  * the DuckDB oracle matches bit-for-bit (repo convention): the log2
  * in the surprisal is [[lg1k]], a piecewise-linear fixed-point log2
  * (scale 1024, max error < 0.087 bits) built from `bin()` string
  * length + one integer divide — both engines compute it exactly, no
  * floating point anywhere.
  *
  * Scale shape (the reason a bigram-with-capped-vocab design is the
  * 100 TB-safe one):
  *   - bigram extraction is a per-document array op (slice + zip +
  *     one explode) — no shuffle;
  *   - per-(doc, bigram) counts hash-aggregate with map-side combine;
  *   - vocab is a capped TakeOrdered top-k (only k rows leave the
  *     executors) and broadcasts to the mapping joins;
  *   - the MODEL is provably bounded by (V+2)^2 rows REGARDLESS of
  *     corpus size (every token maps into vocab ∪ {unk, start}), so
  *     model and context tables always broadcast — scoring touches
  *     each doc's rows exactly once with zero data-sized join
  *     shuffles. Map-side partial aggregation bounds every task's
  *     model-agg output to (V+2)^2 rows too.
  */
object LmScore {

  /** Vocabulary cap: top-V words kept, the rest score as `<unk>`.
    * Bounds the model at (V+2)^2 entries — sized so it always
    * broadcasts. Interpolated into the oracle SQL so operator and
    * oracle cannot desynchronize.
    */
  val VocabCap = 1024

  val Start = "<s>" // per-document start marker (not a corpus word:
  val Unk = "<unk>" // '<'/'>' can't appear in [a-z0-9]+ tokens)

  /** Fixed-point log2, scale 1024: 1024*e + (n*1024 div 2^e) - 1024
    * where e = floor(log2 n) from the binary-string length (never a
    * floating log — DuckDB's ln(n)/ln(2) rounds floor(log2(2^k)) down
    * for exact powers). The chord of a concave function lies below it:
    * 1024*log2(n) - 89 <= lg1k(n) <= 1024*log2(n), monotone, exact in
    * integer arithmetic in both engines. Requires n >= 1.
    */
  def lg1k(n: Column): Column = {
    val e = (length(bin(n)) - lit(1)).cast("long")
    val p = call_function("shiftleft", lit(1L), e)
    lit(1024L) * e + call_function("div", n * lit(1024L), p) - lit(1024L)
  }

  /** SQL mirror of [[lg1k]] (DuckDB dialect), inlined per use site.
    * `n` is re-parenthesized at every splice — it arrives as a compound
    * expression (`c1 + vsize`) and `$n * 1024` would otherwise re-bind
    * by precedence.
    */
  def lg1kSql(n: String): String =
    s"(1024 * (length(bin(($n))) - 1) + (($n) * 1024) // (1::BIGINT << (length(bin(($n))) - 1)) - 1024)"

  /** Per-document LM score over `docs(doc_id, text)`: `n_big` = bigram
    * tokens (= word count, via the start marker), `bits_1k` = average
    * add-one-smoothed bigram surprisal in millibits-ish units
    * (fixed-point bits * 1024). Lower = more predictable text under
    * the corpus's own statistics. Documents with zero words drop out
    * (no bigrams to score).
    */
  def score(docs: DataFrame, vocabCap: Int = VocabCap): DataFrame = {
    val spark = docs.sparkSession
    val ws = docs
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .where(size(col("ws")) > 0)

    // Capped vocabulary: top-V by (count desc, word asc) — total order,
    // deterministic cut. TakeOrdered: the global sort never materializes.
    // Materialized (<= V rows): vocab otherwise recomputes its full
    // corpus word-explode + aggregate THREE times — once for the vsize
    // count and once per broadcast build (v1, v2).
    val vocab = materialize(ws
      .select(explode(col("ws")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word"))
      .limit(vocabCap)
      .select(col("word")))
    // Successor-space size for add-one smoothing: |vocab| + 1 (unk).
    // O(1)-row driver action on a capped aggregate.
    val vsize = vocab.count() + 1L

    // Bigrams per doc from the prepended array — zero-shuffle array op.
    val pre = concat(array(lit(Start)), col("ws"))
    val nW = size(col("ws"))
    val bigrams = ws
      .select(col("doc_id"),
        explode(arrays_zip(slice(pre, lit(1), nW), slice(pre, lit(2), nW))).as("b"))
      .select(col("doc_id"),
        col("b").getField("0").as("w1"), col("b").getField("1").as("w2"))

    // Per-(doc, raw bigram) counts, then vocab mapping via two
    // broadcast left joins (vocab <= V rows), re-aggregated on the
    // mapped names. docBig feeds both the model and the scoring pass.
    val rawCounts = bigrams
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    val v1 = broadcast(vocab.withColumnRenamed("word", "v1"))
    val v2 = broadcast(vocab.withColumnRenamed("word", "v2"))
    val mapped = rawCounts
      .join(v1, rawCounts("w1") === v1("v1"), "left")
      .join(v2, rawCounts("w2") === v2("v2"), "left")
      .select(col("doc_id"),
        when(col("w1") === Start, lit(Start))
          .when(col("v1").isNotNull, col("w1")).otherwise(lit(Unk)).as("w1"),
        when(col("v2").isNotNull, col("w2")).otherwise(lit(Unk)).as("w2"),
        col("n"))
    val docBig = mapped
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(sum(col("n")).as("n"))
      .cache()

    // Model: global bigram counts — bounded by (V+2)^2 rows no matter
    // the corpus size (map-side combine bounds each task's output the
    // same way), hence the explicit broadcasts below.
    val model = docBig.groupBy(col("w1"), col("w2"))
      .agg(sum(col("n")).as("c12"))
    val ctx = model.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))

    // Surprisal per bigram type: lg(c1 + V') - lg(c12 + 1) >= 0 with
    // V' = |vocab| + 1; per doc: sum over bigram TOKENS, then the
    // integer average. Self-scoring means c12 >= 1 always (inner join).
    val scored = docBig
      .join(broadcast(model), Seq("w1", "w2"))
      .join(broadcast(ctx), Seq("w1"))
      .withColumn("s",
        col("n") * (lg1k(col("c1") + lit(vsize)) - lg1k(col("c12") + lit(1L))))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_big"), sum(col("s")).as("stot"))
      .select(col("doc_id"), col("n_big"),
        call_function("div", col("stot"), col("n_big")).as("bits_1k"))
    // Materialize before releasing the shared intermediate.
    val out = materialize(scored)
    docBig.unpersist()
    out
  }

  def scoreQuery(spark: SparkSession, dir: String): DataFrame =
    score(spark.read.parquet(s"$dir/documents.parquet"))

  /** DuckDB replay: identical tokenization, vocab cut, counts and
    * fixed-point log arithmetic (IN-subquery instead of the broadcast
    * join — same mapping).
    */
  val scoreSql: String = {
    val lgC1 = lg1kSql("c1 + vsize")
    val lgC12 = lg1kSql("c12 + 1")
    s"""WITH d AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM documents),
       |nz AS (
       |  SELECT doc_id, ['$Start'] || ws AS pre, len(ws) AS nw
       |  FROM d WHERE len(ws) > 0),
       |big AS (
       |  SELECT doc_id, pre[i] AS w1, pre[i + 1] AS w2
       |  FROM (SELECT doc_id, pre, unnest(range(1, nw + 1)) AS i FROM nz)),
       |raw AS (
       |  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS n
       |  FROM big GROUP BY 1, 2, 3),
       |vocab AS (
       |  SELECT word FROM (
       |    SELECT unnest(ws) AS word FROM d)
       |  GROUP BY word ORDER BY count(*) DESC, word LIMIT $VocabCap),
       |vs AS (SELECT CAST(count(*) + 1 AS BIGINT) AS vsize FROM vocab),
       |dbm AS (
       |  SELECT doc_id,
       |         CASE WHEN w1 = '$Start' THEN w1
       |              WHEN w1 IN (SELECT word FROM vocab) THEN w1
       |              ELSE '$Unk' END AS w1,
       |         CASE WHEN w2 IN (SELECT word FROM vocab) THEN w2
       |              ELSE '$Unk' END AS w2,
       |         CAST(sum(n) AS BIGINT) AS n
       |  FROM raw GROUP BY 1, 2, 3),
       |model AS (
       |  SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c12 FROM dbm GROUP BY 1, 2),
       |ctx AS (
       |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM model GROUP BY 1),
       |sc AS (
       |  SELECT doc_id, CAST(sum(b.n) AS BIGINT) AS n_big,
       |         CAST(sum(b.n * ($lgC1 - $lgC12)) AS BIGINT) AS stot
       |  FROM dbm b
       |  JOIN model m USING (w1, w2)
       |  JOIN ctx USING (w1)
       |  CROSS JOIN vs
       |  GROUP BY 1)
       |SELECT doc_id, n_big, stot // n_big AS bits_1k FROM sc""".stripMargin
  }
}
