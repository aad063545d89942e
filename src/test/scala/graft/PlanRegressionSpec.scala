package graft

import graft.ingest.TokenGen
import graft.table.TokenTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan regression guards: the properties PLANS.md records,
  * asserted in CI. A change that
  * silently adds a shuffle, loses parquet filter pushdown, or degrades
  * a join to a nested loop fails here even though results stay correct.
  *
  * Assertions are string-level over the executed plan — coarse on
  * purpose (node class names are stable across Spark minor versions;
  * operator internals are not).
  */
class PlanRegressionSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Full-data shuffles only (broadcast exchanges excluded). */
  private def shuffles(df: DataFrame): Int =
    "Exchange (hash|range)partitioning".r.findAllIn(plan(df)).length

  private val docs = "/root/testdata/sf0.001"

  test("quality filter plans as a pure scan projection — zero exchanges") {
    val df = ops.Corpus.withVerdict(spark.read.parquet(s"$docs/documents.parquet"))
      .select($"doc_id", $"verdict")
    assert(shuffles(df) == 0, plan(df))
    assert(!plan(df).contains("BroadcastExchange"))
  }

  test("repetition metrics plan as a pure scan projection — zero exchanges, no lambdas") {
    val df = ops.TextOps.repetitionQuery(spark, docs)
    assert(shuffles(df) == 0, plan(df))
    assert(!plan(df).contains("BroadcastExchange"))
    assert(!plan(df).toLowerCase.contains("lambdafunction"),
      "grams must come from the codegen WordGrams kernel, not HOFs")
  }

  test("sequence packing plans exactly one full-data shuffle, offsets broadcast") {
    val df = ops.Corpus.packSequences(spark.read.parquet(s"$docs/documents.parquet"))
    assert(shuffles(df) == 1, plan(df))
    assert(plan(df).contains("BroadcastExchange"), plan(df))
  }

  test("first-wins dedup window shuffles once per key with map-side group limit") {
    val df = graft.maintain.Merge.dedupFirstWins(
      TokenGen.generate(spark, 1000, numPartitions = 2), "offset")
    assert(shuffles(df) == 1, plan(df))
    assert(plan(df).contains("WindowGroupLimit"), plan(df))
  }

  test("no nested-loop join anywhere in merge, scan or dedup plans") {
    val loc = tmpDir("planreg")
    val t = TokenTable.create(spark, loc)
    t.append(TokenGen.asTokenRows(TokenGen.generate(spark, 2000, numPartitions = 2)))
    val src = TokenGen.asTokenRows(
      TokenGen.generate(spark, 100, idOffset = 1000, numPartitions = 1))
    val merged = t.scan().join(src, Seq("doc_id"), "left_anti")
    assert(!plan(merged).contains("NestedLoop"), plan(merged))
    assert(plan(merged).contains("BroadcastHashJoin"), plan(merged))
  }

  test("filtered scan pushes predicates and prunes columns at the parquet source") {
    val loc = tmpDir("planreg2")
    val t = TokenTable.create(spark, loc)
    t.append(TokenGen.asTokenRows(TokenGen.generate(spark, 2000, numPartitions = 2)))
    val df = t.scan().filter($"source" === "web" && $"n_tok" > 100)
      .select($"doc_id", $"n_tok")
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("EqualTo(source,web)"), p)
    // Column pruning: the scan's ReadSchema must not include tokens.
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse(
      "ReadSchema: " + p.split("ReadSchema:").last.takeWhile(_ != '>'))
    assert(!readSchema.contains("tokens"), p)
  }

  test("substring dedup: equi join + hash aggregates, no nested loop, no window exec") {
    val df = graft.ops.Dedup.substringDedup(
      spark.read.parquet(s"$docs/documents.parquet"))
    val p = plan(df)
    assert(!p.contains("NestedLoop"), p)
    // The per-window document-frequency must be a (skew-splittable)
    // join against a map-side-combined aggregate, NOT a count-over-
    // partition window (one hot boilerplate window = one unsplittable
    // WindowExec partition at corpus scale).
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("rename alias is plan-transparent: pushdown + pruning reach parquet under physical names") {
    import org.apache.spark.sql.connector.catalog.TableChange
    val loc = tmpDir("planreg_evo")
    val t = TokenTable.create(spark, loc)
    t.append(TokenGen.asTokenRows(TokenGen.generate(spark, 2000, numPartitions = 2)))
    t.alterSchema(Seq(TableChange.renameColumn(Array("source"), "origin")))
    // Filter on the LOGICAL name over the aliased logical view: Catalyst
    // must rewrite it through the alias Project so the parquet scan sees
    // the PHYSICAL column — same pushdown as an unrenamed table.
    val df = t.scanLogical().filter($"origin" === "web" && $"n_tok" > 100)
      .select($"doc_id", $"n_tok")
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("EqualTo(source,web)"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse(
      "ReadSchema: " + p.split("ReadSchema:").last.takeWhile(_ != '>'))
    assert(!readSchema.contains("tokens"), p)
  }

  test("within-doc line dedup plans as a pure scan projection — zero exchanges, no lambdas") {
    val df = spark.read.parquet(s"$docs/documents.parquet")
      .select($"doc_id", graft.functions.TextGrams.lineDedupDoc($"text").as("d"))
    assert(shuffles(df) == 0, plan(df))
    assert(!plan(df).contains("BroadcastExchange"))
    assert(!plan(df).contains("lambdafunction"), plan(df))
  }

  test("hot paths carry no interpreted lambdas (HOFs are CodegenFallback, ~300x/row)") {
    // Spark higher-order functions (transform/aggregate/zip_with) show
    // up as `lambdafunction(...)` in the plan and evaluate interpreted
    // per ELEMENT. Every hot path uses the native kernels instead
    // (WordGrams, QuantizeVec/QDotVec, TokenSeq); a lambda sneaking
    // back into one of these plans is a performance regression even
    // though results stay correct.
    val d = spark.read.parquet(s"$docs/documents.parquet")
    val e = spark.read.parquet(s"$docs/embeddings.parquet")
    val hot: Seq[(String, DataFrame)] = Seq(
      "quality_filter" -> ops.Corpus.withVerdict(d).select($"doc_id", $"verdict"),
      "minhash_sigs" -> ops.Dedup.minhashSignatures(d.select($"doc_id", $"text")),
      "line_dedup" -> {
        // lineDedup's final text-rebuild transform runs once per DOC on
        // the already-aggregated survivors (not per element of a hot
        // array) — exclude the agg, guard the per-row chunking stage.
        d.select($"doc_id", ops.TextOps.words($"text").as("__w"))
          .select($"doc_id",
            posexplode(graft.functions.TextGrams.tumbling($"__w", ops.Dedup.LineWords))
              .as(Seq("pos", "line")))
      },
      "lsh_signatures" -> e.select($"vec_id",
        ops.Similarity.quantize($"embedding").as("q"))
        .withColumn("sig", ops.Similarity.lshSignature($"q", 64, 0, 8)),
      "token_gen" -> TokenGen.generate(spark, 100, numPartitions = 1))
    hot.foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("lambdafunction"), s"$name plan has an interpreted lambda:\n$p")
    }
  }

  test("curve-key projection stays in one whole-stage codegen span") {
    val df = TokenGen.asTokenRows(TokenGen.generate(spark, 100, numPartitions = 1))
      .select(graft.functions.CurveKeys.zkey(20,
        xxhash64($"doc_id").bitwiseAND(lit((1L << 20) - 1)),
        lit(3L), least($"n_tok".cast("long"), lit(1048575L))).as("z"))
    // In compact plan strings the whole-stage-codegen marker is the
    // "*(n)" stage prefix on the operator.
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan(df)).isDefined, plan(df))
  }

  private lazy val table: TokenTable = {
    val t = TokenTable.create(spark, tmpDir("planreg_stats"))
    t.append(TokenGen.asTokenRows(TokenGen.generate(spark, 2000, numPartitions = 2)))
    t
  }

  test("stats sum scan reads only n_tok") {
    val df = table.scan().agg(sum($"n_tok"))
    assert(plan(df).contains("ReadSchema: struct<n_tok:int>"), plan(df))
  }

  test("bucket assignment binary search stays in one whole-stage codegen span") {
    val df = table.scan().select(graft.functions.SearchOps.bucketOfStr(
      $"doc_id", Array("doc_000000000500", "doc_000000001000")).as("b"))
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan(df)).isDefined, plan(df))
  }

  test("merge-pruning distinct segment aggregate plans no join") {
    val bounds = table.filesLocal(table.current)
      .flatMap(f => Seq(f.minDocId, f.maxDocId)).distinct
      .sorted(graft.functions.Search.utf8Ordering).toArray
    val df = table.scan()
      .select(graft.functions.SearchOps.bucketOfStr($"doc_id", bounds).as("seg"))
      .distinct()
    assert(!plan(df).contains("Join"), plan(df))
    assert(plan(df).contains("HashAggregate"), plan(df))
  }
}
