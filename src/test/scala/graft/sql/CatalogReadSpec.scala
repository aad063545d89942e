package graft.sql

import graft.{PlanAudit, SparkSpec}
import graft.ingest.TokenGen
import graft.table.{ManifestFileIndex, TokenTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._

/** Reads in a catalog + extensions session: [[CatalogScanRewrite]]
  * plans a catalog-resolved `graft.` read (current or VERSION AS OF) as
  * the engine's own [[ManifestFileIndex]] scan, once, while the
  * manifest-stats aggregates keep their zero-data-IO answers and a
  * renamed core column reads under its logical name.
  */
class CatalogReadSpec extends SparkSpec {

  private def table(s: SparkSession, prefix: String): TokenTable = {
    val t = TokenTable.create(s, tmpDir(prefix))
    (0 until 3).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        s, 100, idOffset = i * 100L, numPartitions = 2)))
    }
    t
  }

  private def scans(df: DataFrame): Seq[SparkPlan] =
    PlanAudit.planNodes(df.queryExecution.executedPlan)
      .filter(p => p.isInstanceOf[FileSourceScanExec] || p.isInstanceOf[RowDataSourceScanExec])

  /** One scan, the engine's file scan over the manifest index. */
  private def assertEngineScan(df: DataFrame): Unit = scans(df) match {
    case Seq(f: FileSourceScanExec) =>
      assert(f.relation.location.isInstanceOf[ManifestFileIndex], f.relation.location)
    case other => fail(s"expected one FileSourceScanExec, got ${other.map(_.nodeName)}")
  }

  test("filtered SELECT and VERSION AS OF plan one FileSourceScanExec, no RowDataSourceScanExec") {
    withExtensions { s2 =>
      val t = table(s2, "catread")
      val loc = t.location
      val v2 = t.currentVersion - 1 // ids 0..199
      val lookup = "WHERE doc_id >= 'doc_000000000150' AND doc_id < 'doc_000000000250'"
      val cur = s2.sql(s"SELECT doc_id, n_tok FROM graft.`$loc` $lookup")
      val old = s2.sql(s"SELECT doc_id, n_tok FROM graft.`$loc` VERSION AS OF $v2 $lookup")
      assertEngineScan(cur)
      assertEngineScan(old)
      def want(df: DataFrame) = df
        .filter(col("doc_id") >= "doc_000000000150" && col("doc_id") < "doc_000000000250")
        .select("doc_id", "n_tok").collect().toSet
      assert(cur.collect().toSet == want(t.scan()) && cur.count() == 100)
      assert(old.collect().toSet == want(t.scan(t.snapshotAt(v2))) && old.count() == 50)
      // The optimizer's output names and attribute ids survive the swap.
      assert(cur.columns.toSeq == Seq("doc_id", "n_tok"))
      val joined = cur.as("a").join(old.as("b"), col("a.doc_id") === col("b.doc_id"))
      assert(joined.count() == 50)
    }
  }

  test("count/min/max/sum(n_tok) still answer from manifest stats after every data file is deleted") {
    withExtensions { s2 =>
      val t = table(s2, "catread_agg")
      val loc = t.location
      val aggSql = "SELECT count(*), count(doc_id), min(doc_id), max(doc_id), " +
        s"min(n_tok), max(n_tok), sum(n_tok), min(source), max(source) FROM graft.`$loc`"
      val ttSql = s"SELECT count(*), sum(n_tok) FROM graft.`$loc` VERSION AS OF 1"
      val full = t.scan().agg(count(lit(1)), count(col("doc_id")),
        min(col("doc_id")), max(col("doc_id")), min(col("n_tok")), max(col("n_tok")),
        sum(col("n_tok")), min(col("source")), max(col("source"))).head()
      val v1 = t.scan(t.snapshotAt(1)).agg(count(lit(1)), sum(col("n_tok"))).head()
      assert(s2.sql(aggSql).head() == full)
      assert(s2.sql(ttSql).head() == v1)

      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$loc/data"))
      try st.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".parquet"))
        .foreach(java.nio.file.Files.delete)
      finally st.close()
      assert(s2.sql(aggSql).head() == full, "metadata aggregates must not touch data files")
      assert(s2.sql(ttSql).head() == v1)
      assert(scans(s2.sql(aggSql)).forall(_.isInstanceOf[RowDataSourceScanExec]))
      // Anything stats cannot answer needs the (deleted) data.
      intercept[Exception](s2.sql(s"SELECT * FROM graft.`$loc`").collect())
      intercept[Exception](
        s2.sql(s"SELECT count(*) FROM graft.`$loc` WHERE n_tok > 0").collect())
      intercept[Exception](
        s2.sql(s"SELECT sum(n_tok * 2) FROM graft.`$loc`").collect())
    }
  }

  test("a RENAME COLUMN'd core column reads under its logical name") {
    withExtensions { s2 =>
      val t = table(s2, "catread_rename")
      val loc = t.location
      s2.sql(s"ALTER TABLE graft.`$loc` RENAME COLUMN doc_id TO id")
      val df = s2.sql(s"SELECT id, n_tok FROM graft.`$loc` WHERE id < 'doc_000000000010'")
      assertEngineScan(df)
      assert(df.columns.toSeq == Seq("id", "n_tok"))
      assert(df.collect().map(_.getString(0)).sorted.toSeq ==
        (0 until 10).map(i => f"doc_$i%012d"))
      assert(s2.sql(s"SELECT min(id), max(id) FROM graft.`$loc`").head().toSeq ==
        Seq("doc_000000000000", "doc_000000000299"))
      intercept[org.apache.spark.sql.AnalysisException](
        s2.sql(s"SELECT doc_id FROM graft.`$loc`").collect())
    }
  }
}
