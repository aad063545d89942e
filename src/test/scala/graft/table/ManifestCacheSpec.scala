package graft.table

import graft.SparkSpec
import graft.ingest.TokenGen
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The JVM-wide decoded-manifest cache behind [[Manifests.stream]]:
  * each immutable manifest is decoded from parquet once, an append's
  * manifest is cached as it is written, and a cached manifest whose dir
  * is gone still fails the read loudly.
  */
class ManifestCacheSpec extends SparkSpec {

  private def table(prefix: String, appends: Int): TokenTable = {
    val t = TokenTable.create(spark, tmpDir(prefix))
    (0 until appends).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 100, idOffset = i * 100L, numPartitions = 2)))
    }
    t
  }

  /** A copy of `t`'s directory: the same manifests under paths this JVM
    * has never read, i.e. a cold cache.
    */
  private def copyOf(t: TokenTable, prefix: String): TokenTable = {
    val from = Paths.get(t.location)
    val to = Paths.get(tmpDir(prefix))
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally st.close()
    TokenTable.open(spark, to.toString)
  }

  private def deleteTree(p: Path): Unit = {
    val st = Files.walk(p).sorted(java.util.Comparator.reverseOrder())
    try st.iterator().asScala.foreach(Files.delete) finally st.close()
  }

  private def decodes[A](body: => A): (A, Long) = {
    val before = Manifests.decodeCount
    val out = body
    (out, Manifests.decodeCount - before)
  }

  test("a second plan of the same snapshot and a stream right after append decode no manifest") {
    val t = table("mcache", appends = 3)
    val (files, afterAppend) = decodes(t.filesLocal(t.current))
    assert(afterAppend == 0, "append writes its manifest through the cache")
    assert(files.size == 6)

    val c = copyOf(t, "mcache_cold")
    val s = c.current
    def lookup() = {
      val df = c.scan(s).filter(col("doc_id") < "doc_000000000150")
      df.queryExecution.executedPlan
      df.collect().length
    }
    val (n1, cold) = decodes(lookup())
    assert(n1 == 150)
    assert(cold == s.manifests.size, s"cold plan decoded $cold of ${s.manifests.size} manifests")
    val (n2, warm) = decodes(lookup())
    assert(n2 == 150)
    assert(warm == 0, s"second plan of the same snapshot decoded $warm manifests")
    assert(decodes(c.filesLocal(s))._2 == 0)
    assert(c.filesLocal(s) == files, "cached rows equal the written rows")
  }

  test("a deleted manifest dir fails planning loudly, on a cold and on a cached read") {
    val t = table("mcache_damaged", appends = 2)
    val cold = copyOf(t, "mcache_damaged_cold")
    val rel = t.current.manifests.head
    t.scan().collect() // t's manifests are now cached
    assert(Manifests.isCached(s"${t.location}/$rel", spark.sessionState.newHadoopConf()))
    assert(!Manifests.isCached(s"${cold.location}/$rel", spark.sessionState.newHadoopConf()))

    for (x <- Seq(cold, t)) {
      deleteTree(Paths.get(x.location, rel))
      val e = intercept[java.io.FileNotFoundException] {
        x.scan().filter(col("n_tok") > 0).queryExecution.executedPlan
        x.scan().collect()
      }
      assert(e.getMessage.startsWith("manifest directory missing"), e.getMessage)
      intercept[java.io.FileNotFoundException](x.filesLocal(x.current))
    }
  }
}
