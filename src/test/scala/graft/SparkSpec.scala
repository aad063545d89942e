package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local-mode session for specs. One JVM-wide session (getOrCreate)
  * keeps the suite fast; each spec works in its own temp table dirs.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Fresh temp dir per call, cleaned by the OS eventually; tests that
    * assert deletion clean up themselves.
    */
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** Run `f` in a session with the `graft` catalog AND
    * [[graft.GraftExtensions]] (the SQL DML rules and the catalog-read
    * rewrite), sharing this spec's SparkContext; the shared session is
    * restored afterwards.
    */
  def withExtensions[A](f: SparkSession => A): A = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .withExtensions(new GraftExtensions())
      .getOrCreate()
    try f(s2) finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  /** Order-insensitive full-table checksum — the byte-equal token-array
    * invariant (BASELINE.json input_hint): (row count, sum n_tok,
    * wrap-around sum of xxhash64(doc_id, tokens, n_tok, source)).
    */
  def checksum(df: DataFrame): (Long, Long, Long) = {
    // pmod keeps the ANSI-mode sum far from Long overflow up to ~1e9 rows.
    val r = df.agg(
      count(lit(1)),
      sum(col("n_tok").cast("long")),
      sum(pmod(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source")),
        lit(1000000007L)))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
