package graft.table

import graft.SparkSpec
import graft.functions.Search
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThan, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}

/** FileStats cross-block reduces (ADVICE r3: the Java-order merge hole),
  * row groups without min/max, and the no-n_tok-stats sentinel.
  */
class FileStatsSpec extends SparkSpec {
  import spark.implicits._

  test("multi-row-group min/max merge uses UTF8 byte order, not Java UTF-16 order") {
    // U+FFFF sorts ABOVE U+10000 in Java (UTF-16 code-unit) order but
    // BELOW it in UTF8 byte order (EF BF BF < F0 90 80 80) — Spark's
    // and the pruning stack's order. Build ONE parquet file with many
    // row groups where every block's byte-order max is a U+FFFF key
    // except the last, whose max is the U+10000 key: a Java-ordered
    // cross-block reduce picks a U+FFFF key (not a true UTF8 bound ⇒
    // pruning false-negative); the UTF8 reduce picks the U+10000 key.
    val bmp = "￿" // U+FFFF
    val supp = new String(Character.toChars(0x10000)) // U+10000
    val keys = (0 until 3999).map(i => f"$bmp%s_$i%06d") :+ (supp + "_zzz")
    val pad = "x" * 64 // bulk up rows so the tiny block size splits groups
    val dir = tmpDir("fstats_utf8")
    keys.toDF("doc_id")
      .withColumn("source", org.apache.spark.sql.functions.lit(pad))
      .withColumn("n_tok", org.apache.spark.sql.functions.lit(7))
      .coalesce(1)
      .sortWithinPartitions("doc_id") // UTF8 sort: supp key lands last
      .write
      .option("parquet.block.size", "2048")
      .option("parquet.page.size", "1024")
      .parquet(dir)
    val conf = new Configuration()
    val file = FileStats.listParquet(dir, conf).head

    // Precondition: the layout really has multiple row groups and the
    // supplementary key is isolated in the final one (else the test
    // wouldn't distinguish the two orders).
    val footer = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
    val nBlocks = try footer.getFooter.getBlocks.size finally footer.close()
    assert(nBlocks >= 2, s"need >=2 row groups to exercise the merge, got $nBlocks")

    val stats = FileStats.statsForFile(file, dir, conf).get
    val ord = Search.utf8Ordering
    assert(stats.maxDocId == keys.max(ord),
      s"max must be the UTF8-order max (${keys.max(ord).take(8)}…), got ${stats.maxDocId.take(8)}…")
    assert(stats.maxDocId.startsWith(supp), "UTF8 max is the supplementary-plane key")
    assert(keys.max.startsWith(bmp), "Java-order max differs — the orders genuinely diverge here")
    assert(stats.minDocId == keys.min(ord))
    assert(stats.rows == 4000L && stats.sumNtok == 4000L * 7)
  }

  test("inverted n_tok range (no-stats sentinel) never prunes a file") {
    // A file written without n_tok statistics persists the
    // Int.MaxValue/Int.MinValue accumulator sentinels; every range
    // check against them is vacuously false, which must read as
    // "unknown ⇒ keep", not "prune".
    val loc = tmpDir("fstats_sentinel")
    Manifests.writeLocal(s"$loc/metadata/manifest-0", Seq(
      DataFile("data/f0.parquet", 10L, 5L, "doc_a", "doc_z",
        Int.MaxValue, Int.MinValue, 0L, "web", "web")))
    val snap = Snapshot(0, -1, TokenTable.tokenSchema.json, "append",
      Seq("metadata/manifest-0"), Map.empty, 1L)
    val idx = new ManifestFileIndex(spark, loc, snap)
    val gt = GreaterThan(AttributeReference("n_tok", IntegerType)(), Literal(5))
    assert(idx.listFiles(Nil, Seq(gt)).head.files.size == 1,
      "absent n_tok stats must keep the file")
    // Sanity: a real range still prunes.
    Manifests.writeLocal(s"$loc/metadata/manifest-1", Seq(
      DataFile("data/f1.parquet", 10L, 5L, "doc_a", "doc_z", 1, 3, 10L, "web", "web")))
    val snap2 = snap.copy(manifests = Seq("metadata/manifest-1"))
    val idx2 = new ManifestFileIndex(spark, loc, snap2)
    assert(idx2.listFiles(Nil, Seq(gt)).head.files.isEmpty,
      "a genuine [1,3] range must prune n_tok > 5")
  }

  test("a row group without min/max (a doc_id over 4 KB) leaves the file's doc_id bound unknown") {
    import org.apache.spark.sql.functions.{array, lit}
    import scala.jdk.CollectionConverters._
    // parquet-hadoop writes no min/max for a chunk whose min and max
    // together exceed 4 KB. A fold over the groups that DO carry stats
    // would bound the file by the short ids alone, and a lookup of the
    // long id would prune the file that holds it.
    val longId = "doc_" + "z" * 5000
    val loc = tmpDir("fstats_longid")
    val t = TokenTable.create(spark, loc)
    val conf = new Configuration()
    val root = new org.apache.hadoop.fs.Path(loc).toUri.getPath
    def write(rel: String, ids: Seq[String]): DataFile = {
      ids.toDF("doc_id")
        .select($"doc_id", array(lit(1)).as("tokens"), lit(1).as("n_tok"),
          lit("web").as("source"))
        .coalesce(1)
        .sortWithinPartitions("doc_id") // the long id lands in the last group
        .write
        .option("parquet.block.size", "2048")
        .option("parquet.page.size", "1024")
        .parquet(s"$loc/$rel")
      FileStats.statsForFile(FileStats.listParquet(s"$loc/$rel", conf).head, root, conf).get
    }
    val short = (0 until 2000).map(i => f"doc_$i%012d")
    val mixed = write("data/mixed", short :+ longId)

    // Precondition: several groups, and the long id's group really has
    // no doc_id min/max in the footer.
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$loc/${mixed.path}"), conf))
    val blocks = try footer.getFooter.getBlocks.asScala.toSeq finally footer.close()
    assert(blocks.size >= 2, s"need >=2 row groups, got ${blocks.size}")
    assert(blocks.exists(_.getColumns.asScala.exists(c =>
      c.getPath.toDotString == "doc_id" && !c.getStatistics.hasNonNullValue)),
      "the long id's row group must carry no doc_id min/max")

    val ord = Search.utf8Ordering
    def coversLongId(f: DataFile): Boolean =
      f.minDocId == null || f.maxDocId == null ||
        (ord.lteq(f.minDocId, longId) && ord.gteq(f.maxDocId, longId))
    def lookup(f: DataFile): Long =
      t.read(t.current, Seq(f)).filter($"doc_id" === longId).count()
    assert(mixed.rows == 2001L)
    assert(coversLongId(mixed), s"bounds [${mixed.minDocId}, ${mixed.maxDocId}] miss the long id")
    assert(lookup(mixed) == 1L, "a lookup through the manifest row must find the long id")

    // Concat carries the inputs' bounds forward: its output must too.
    val plain = write("data/plain", (2000 until 3000).map(i => f"doc_$i%012d"))
    val cat = RowGroupCopy.concatFiles(Seq(plain, mixed), loc, "data/cat/concat.parquet", conf)
    assert(cat.rows == 3001L)
    assert(coversLongId(cat), s"concat bounds [${cat.minDocId}, ${cat.maxDocId}] miss the long id")
    assert(lookup(cat) == 1L, "a lookup through the concat's manifest row must find the long id")
  }
}
