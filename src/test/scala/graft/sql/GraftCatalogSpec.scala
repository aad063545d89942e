package graft.sql

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.table.TokenTable

/** DSv2 `graft` catalog (VERDICT r3 task 5): CREATE / INSERT / SELECT /
  * VERSION AS OF / DROP as plain SQL through the registered catalog, and
  * MERGE INTO through catalog + extensions with zero manual rule
  * application.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def withCatalog[A](f: => A): A = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    try f finally spark.conf.unset("spark.sql.catalog.graft")
  }

  private val ddlCols =
    "(doc_id STRING NOT NULL, tokens ARRAY<INT> NOT NULL, n_tok INT NOT NULL, source STRING NOT NULL)"

  test("aggregate pushdown: count/min/max/sum answered from manifest stats") {
    withCatalog {
      val loc = tmpDir("cat_agg")
      val t = TokenTable.create(spark, loc)
      (0 until 3).foreach { i =>
        t.append(TokenGen.asTokenRows(TokenGen.generate(
          spark, 200, idOffset = i * 200L, numPartitions = 2)))
      }
      val aggSql = s"SELECT count(*), count(doc_id), min(doc_id), max(doc_id), " +
        s"min(n_tok), max(n_tok), sum(n_tok), min(source), max(source) FROM graft.`$loc`"
      // Ground truth from the ordinary scan path first.
      val full = {
        import org.apache.spark.sql.functions._
        t.scan().agg(count(lit(1)), count(col("doc_id")),
          min(col("doc_id")), max(col("doc_id")),
          min(col("n_tok")), max(col("n_tok")), sum(col("n_tok")),
          min(col("source")), max(col("source"))).head()
      }
      assert(spark.sql(aggSql).head() == full)

      // THE zero-data-IO proof: delete every data file from disk (keep
      // manifests); the metadata aggregate must still answer, a data
      // query must fail.
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$loc/data"))
      try st.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".parquet"))
        .foreach(java.nio.file.Files.delete)
      finally st.close()
      assert(spark.sql(aggSql).head() == full,
        "metadata aggregates must not touch data files")
      intercept[Exception] {
        spark.sql(s"SELECT * FROM graft.`$loc`").collect()
      }
      // Filtered / grouped aggregates must NOT push down (they need the
      // data, which is gone — so they must fail, not fabricate answers).
      intercept[Exception] {
        spark.sql(s"SELECT count(*) FROM graft.`$loc` WHERE n_tok > 0").collect()
      }
      intercept[Exception] {
        spark.sql(s"SELECT source, count(*) FROM graft.`$loc` GROUP BY source").collect()
      }
    }
  }

  test("aggregate pushdown: empty table yields SQL semantics (0 / NULLs)") {
    withCatalog {
      val loc = tmpDir("cat_agg_empty")
      TokenTable.create(spark, loc)
      val r = spark.sql(
        s"SELECT count(*), min(doc_id), max(n_tok), sum(n_tok) FROM graft.`$loc`").head()
      assert(r.getLong(0) == 0L)
      assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
    }
  }

  test("CREATE + INSERT + SELECT + VERSION AS OF + DROP through the catalog") {
    withCatalog {
      val loc = tmpDir("cat_crud")
      spark.sql(s"CREATE TABLE graft.`$loc` $ddlCols")
      assert(TokenTable.exists(loc), "CREATE must initialize the table format")

      TokenGen.asTokenRows(TokenGen.generate(spark, 100, numPartitions = 2))
        .createOrReplaceTempView("cat_src_a")
      TokenGen.asTokenRows(TokenGen.generate(spark, 50, idOffset = 1000, numPartitions = 2))
        .createOrReplaceTempView("cat_src_b")
      spark.sql(s"INSERT INTO graft.`$loc` SELECT * FROM cat_src_a")
      val v1 = TokenTable.open(spark, loc).currentVersion
      spark.sql(s"INSERT INTO graft.`$loc` SELECT * FROM cat_src_b")

      // Catalog read = API read, exactly.
      val viaSql = spark.sql(
        s"SELECT doc_id, tokens, n_tok, source FROM graft.`$loc`")
      assert(checksum(viaSql) == checksum(TokenTable.open(spark, loc).scan()))
      assert(viaSql.count() == 150)

      // Filter + projection through the catalog scan (pushdown path).
      val one = spark.sql(
        s"SELECT n_tok FROM graft.`$loc` WHERE doc_id = 'doc_000000000007'")
      assert(one.count() == 1)
      assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$loc` WHERE n_tok >= 0")
        .head().getLong(0) == 150)

      // Time travel: the first INSERT's snapshot.
      assert(spark.sql(s"SELECT * FROM graft.`$loc` VERSION AS OF $v1").count() == 100)

      spark.sql(s"DROP TABLE graft.`$loc`")
      assert(!TokenTable.exists(loc))
    }
  }

  test("CREATE rejects foreign schemas; INSERT OVERWRITE and ALTER fail loudly") {
    withCatalog {
      val loc = tmpDir("cat_guard")
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE graft.`$loc` (a INT, b STRING)")
      }
      assert(e.getMessage.contains("token schema"), e.getMessage)
      spark.sql(s"CREATE TABLE graft.`$loc` $ddlCols")
      TokenGen.asTokenRows(TokenGen.generate(spark, 10, numPartitions = 1))
        .createOrReplaceTempView("cat_guard_src")
      spark.sql(s"INSERT INTO graft.`$loc` SELECT * FROM cat_guard_src")
      val e2 = intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE graft.`$loc` SELECT * FROM cat_guard_src")
      }
      assert(e2.getMessage != null)
      assert(TokenTable.open(spark, loc).scan().count() == 10,
        "failed overwrite must not corrupt the table")
    }
  }

  test("TIMESTAMP AS OF resolves the latest snapshot at or before the timestamp") {
    withCatalog {
      val loc = tmpDir("cat_ts")
      spark.sql(s"CREATE TABLE graft.`$loc` $ddlCols")
      TokenGen.asTokenRows(TokenGen.generate(spark, 40, numPartitions = 1))
        .createOrReplaceTempView("cat_ts_a")
      spark.sql(s"INSERT INTO graft.`$loc` SELECT * FROM cat_ts_a")
      val t = TokenTable.open(spark, loc)
      val ts1 = t.current.timestampMs
      Thread.sleep(5) // ensure the next commit lands strictly later
      TokenGen.asTokenRows(TokenGen.generate(spark, 25, idOffset = 500, numPartitions = 1))
        .createOrReplaceTempView("cat_ts_b")
      spark.sql(s"INSERT INTO graft.`$loc` SELECT * FROM cat_ts_b")
      val atFirst = spark.sql(
        s"SELECT * FROM graft.`$loc` TIMESTAMP AS OF " +
          s"timestamp_millis(${ts1})").count()
      assert(atFirst == 40, s"expected the first commit's 40 rows, got $atFirst")
      assert(spark.sql(s"SELECT * FROM graft.`$loc`").count() == 65)
    }
  }

  test("filter translation: pushable shapes translate, unknown shapes stay unpushed") {
    import org.apache.spark.sql.sources._
    def ok(f: Filter) = GraftScanBuilder.toColumn(f).isDefined
    assert(ok(EqualTo("doc_id", "x")))
    assert(ok(GreaterThan("n_tok", 5)) && ok(LessThanOrEqual("n_tok", 5)))
    assert(ok(In("source", Array("web", "books"))))
    assert(ok(StringStartsWith("doc_id", "doc_0")))
    assert(ok(And(IsNotNull("doc_id"), Or(EqualTo("source", "web"), IsNull("source")))))
    assert(ok(Not(EqualTo("source", "web"))))
    assert(!ok(StringContains("doc_id", "x")), "untranslated shapes must not claim pushdown")
    assert(!ok(And(EqualTo("a", 1), StringContains("b", "x"))),
      "a conjunct with an untranslatable side must not be pushed")
  }

  test("aggregate pushdown answers from the PINNED snapshot under VERSION AS OF") {
    withCatalog {
      val loc = tmpDir("cat_agg_tt")
      val t = TokenTable.create(spark, loc)
      t.append(TokenGen.asTokenRows(TokenGen.generate(spark, 100, numPartitions = 2)))
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 50, idOffset = 100L, numPartitions = 1)))
      // Time-travel metadata aggregate: v1's stats, not the head's.
      assert(spark.sql(
        s"SELECT count(*) FROM graft.`$loc` VERSION AS OF 1").head().getLong(0) == 100L)
      assert(spark.sql(
        s"SELECT count(*) FROM graft.`$loc`").head().getLong(0) == 150L)
    }
  }

  test("catalog + extensions session: plain spark.sql MERGE INTO, no manual rule") {
    withExtensions { s2 =>
      val loc = tmpDir("cat_merge")
      s2.sql(s"CREATE TABLE graft.`$loc` $ddlCols")
      TokenGen.asTokenRows(TokenGen.generate(s2, 100, numPartitions = 2))
        .createOrReplaceTempView("cm_base")
      s2.sql(s"INSERT INTO graft.`$loc` SELECT * FROM cm_base")
      // 10 updates (n_tok := 3) + 5 inserts above the keyspace.
      s2.sql(
        """SELECT doc_id, array(7, 8, 9) AS tokens, 3 AS n_tok, source
          |FROM cm_base WHERE doc_id < 'doc_000000000010'
          |UNION ALL
          |SELECT concat('doc_z_', doc_id) AS doc_id, tokens, n_tok, source
          |FROM cm_base WHERE doc_id < 'doc_000000000005'""".stripMargin)
        .createOrReplaceTempView("cm_src")
      val res = s2.sql(
        s"""MERGE INTO graft.`$loc` AS t USING cm_src AS s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      assert(res.nonEmpty, "MERGE must return its commit facts")
      val t = TokenTable.open(s2, loc)
      assert(t.scan().count() == 105)
      assert(t.scan().filter($"n_tok" === 3 && $"doc_id" < "doc_000000000010")
        .count() == 10, "updates must land")
      assert(t.scan().filter($"doc_id".startsWith("doc_z_")).count() == 5,
        "inserts must land")
      // The native z_interleave function also resolves in this session
      // (both injected by the same extensions class).
      assert(s2.sql("SELECT z_interleave(1L, 2L, 3L)").head().getLong(0) ==
        graft.functions.Keys.zInterleave(Array(1L, 2L, 3L), 20))
      // DELETE through the same catalog-resolved relation, plain SQL:
      // the analyzer binds doc_id to the DSv2 relation; the rule
      // re-anchors it and routes through Delete.deleteWhere.
      val del = s2.sql(
        s"DELETE FROM graft.`$loc` WHERE doc_id >= 'doc_z_'").collect()(0)
      assert(del.getLong(1) == 5L, s"DELETE must report 5 rows, got $del")
      assert(t.scan().count() == 100)
      assert(t.scan().filter($"doc_id".startsWith("doc_z_")).count() == 0)
      // UPDATE through the catalog relation, same binding path.
      val upd = s2.sql(
        s"UPDATE graft.`$loc` SET source = 'u' WHERE n_tok = 3").collect()(0)
      assert(upd.getLong(1) == 10L, s"UPDATE must report the 10 merged rows, got $upd")
      assert(t.scan().filter($"source" === "u").count() == 10)
    }
  }
}
