package graft.maintain

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.table.{DataFile, ManifestFileIndex, TokenTable}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._

/** M9 predicate DELETE: three-way file classification (untouched /
  * metadata-only drop / copy-on-write rewrite), doc_id-list deletes on
  * both the inline-IN and anti-join paths, SQL text end-to-end, and the
  * soundness edges of [[ManifestFileIndex.mustMatchAll]].
  */
class DeleteSpec extends SparkSpec {

  private def clustered(prefix: String, rows: Int = 2400): TokenTable = {
    val dir = tmpDir(prefix)
    val t = TokenTable.create(spark, dir)
    (0 until 8).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, rows / 8, idOffset = i * (rows / 8).toLong, numPartitions = 2)))
    }
    Cluster.run(t, Cluster.ByDocId, s"$prefix-cluster", targetBytes = 64L * 1024)
    t
  }

  test("delete: doc_id range on clustered table exercises all three classes") {
    val t = clustered("del3way")
    val total = t.scan().count()
    val files = t.filesLocal(t.current).sortBy(_.minDocId)
    assert(files.size >= 4, s"need several clustered files, got ${files.size}")
    // Cut strictly inside the SECOND file's range: file 1 drops whole,
    // file 2 rewrites at the boundary, the tail stays untouched.
    val cut = files(1).maxDocId // inclusive: delete doc_id <= cut
    val expectDeleted = t.scan().where(col("doc_id") <= cut).count()
    assert(expectDeleted > 0 && expectDeleted < total)

    val res = Delete.deleteWhere(t, col("doc_id") <= lit(cut), "del3way-job")
    assert(res.droppedFiles >= 1, s"leading files must drop metadata-only: $res")
    assert(res.rewrittenFiles >= 1 || files(1).maxDocId == cut,
      s"boundary file should rewrite: $res")
    assert(res.untouchedFiles >= 1, s"tail files must survive verbatim: $res")
    assert(res.deletedRows == expectDeleted)
    assert(t.scan().count() == total - expectDeleted)
    assert(t.scan().where(col("doc_id") <= cut).count() == 0)
    // Rewritten bytes track only the boundary file(s), not the table.
    assert(res.rewrittenBytes < files.map(_.bytes).sum / 2)
  }

  test("delete: state of survivors is byte-identical (checksum invariant)") {
    val t = clustered("delinv", rows = 1600)
    val keep = checksum(t.scan().where(col("n_tok") <= 100))
    Delete.deleteWhere(t, col("n_tok") > 100, "delinv-job")
    assert(checksum(t.scan()) == keep,
      "surviving rows must be byte-identical after DELETE")
  }

  test("delete: no-op predicate commits nothing") {
    val t = clustered("delnoop", rows = 800)
    val v = t.currentVersion
    val res = Delete.deleteWhere(t, col("doc_id") === "absent", "delnoop-job")
    assert(res.deletedRows == 0L && res.droppedFiles == 0 && res.rewrittenFiles == 0)
    assert(t.currentVersion == v, "no-op DELETE must not commit a snapshot")
  }

  test("delete: NULL-yielding predicate keeps every row (three-valued logic)") {
    val t = clustered("delnull", rows = 800)
    val total = t.scan().count()
    val keep = checksum(t.scan())
    // try_element_at far out of bounds is NULL for every row; NULL is
    // not TRUE, so SQL DELETE must remove NOTHING. Before the null-safe
    // survivor filter, `NOT pred` was also NULL and dropped ALL rows in
    // the decode set (ADVICE r4 high).
    val res = Delete.deleteWhere(t,
      try_element_at(col("tokens"), lit(1000000)) > lit(0), "delnull-job")
    assert(res.deletedRows == 0L, s"NULL predicate deleted rows: $res")
    assert(t.scan().count() == total)
    assert(checksum(t.scan()) == keep, "all rows must survive byte-identical")
  }

  test("delete: null/false literal predicates short-circuit to a no-op") {
    val t = clustered("delconst", rows = 800)
    val v = t.currentVersion
    // Contradiction folds to Literal(false): provable no-op, no commit.
    val r1 = Delete.deleteWhere(t, lit(1) === lit(0), "delfalse-job")
    assert(r1.deletedRows == 0L && t.currentVersion == v,
      "WHERE 1=0 must not decode, rewrite, or commit anything")
    // Null-literal comparison folds to Literal(null) via NullPropagation.
    val r2 = Delete.deleteWhere(t,
      col("n_tok") === lit(null).cast("int"), "delnullc-job")
    assert(r2.deletedRows == 0L && t.currentVersion == v,
      "n_tok = CAST(NULL AS INT) must be a committed-nothing no-op")
    // IN list containing NULL: matches only the non-null member; the
    // null member must neither NPE the cover planner nor delete rows.
    val one = t.scan().select("doc_id").orderBy("doc_id").head().getString(0)
    val r3 = Delete.deleteWhere(t,
      col("doc_id").isin(one, null), "delinnull-job")
    assert(r3.deletedRows == 1L, s"IN ('$one', NULL) deletes exactly that id")
    assert(t.scan().where(col("doc_id") === one).count() == 0)
    assert(t.scan().count() == 799)
  }

  test("delete: source-only predicate cold-copies row groups on a zordered table") {
    import org.apache.spark.sql.functions.col
    spark.conf.set("graft.write.rowGroupBytes", (32 * 1024).toString)
    try {
      val dir = tmpDir("del_src_rg")
      val t = graft.table.TokenTable.create(spark, dir)
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 6000, minLen = 32, maxLen = 64, numPartitions = 2)))
      // Z-order leads with the source dimension: one big output file
      // whose row groups are source-runs — exactly the layout where a
      // source-only DELETE's footprint is a narrow group range, which
      // the doc_id-only cover of round 4 could not see (VERDICT r4
      // task 5: the boundary file decoded in FULL).
      Cluster.run(t, Cluster.ZOrder, "delsrc-cluster", targetBytes = 1L << 30)
      val expect = t.scan().where(col("source") === "wiki").count()
      assert(expect > 0)
      val outside = checksum(t.scan().where(col("source") =!= "wiki"))

      val res = Delete.deleteWhere(t, col("source") === "wiki", "delsrc-job")
      assert(res.deletedRows == expect)
      assert(res.coldCopiedBytes > 0, s"cold groups must byte-copy: $res")
      assert(res.decodedBytes < res.rewrittenBytes / 2,
        s"source predicate must decode only its group range: " +
          s"${res.decodedBytes} of ${res.rewrittenBytes}")
      assert(t.scan().where(col("source") === "wiki").count() == 0)
      assert(checksum(t.scan()) == outside,
        "survivors must be byte-identical after the group-level rewrite")
    } finally spark.conf.unset("graft.write.rowGroupBytes")
  }

  test("delete: unconditional TRUE predicate drops every file metadata-only") {
    val t = clustered("delall", rows = 800)
    val res = Delete.deleteWhere(t, lit(true), "delall-job")
    assert(res.rewrittenFiles == 0, s"TRUE delete must not rewrite: $res")
    assert(res.droppedFiles > 0 && res.untouchedFiles == 0)
    assert(t.scan().count() == 0)
  }

  test("deleteByDocIds: inline path prunes to the listed ids' files") {
    val t = clustered("delids")
    val total = t.scan().count()
    val ids = t.scan().select("doc_id").orderBy("doc_id").limit(25)
    val res = Delete.deleteByDocIds(t, ids, "delids-job")
    assert(res.deletedRows == 25)
    assert(res.untouchedFiles > 0, "range-disjoint files must not be touched")
    assert(t.scan().count() == total - 25)
  }

  test("deleteByDocIds: anti-join path (list above inline threshold)") {
    val t = clustered("delbig")
    val total = t.scan().count()
    val ids = t.scan().select("doc_id").orderBy("doc_id").limit(40)
    val res = Delete.deleteByDocIds(t, ids, "delbig-job", inlineLimit = 10)
    assert(res.deletedRows == 40)
    assert(t.scan().count() == total - 40)
    assert(t.scan().join(ids, Seq("doc_id"), "left_semi").count() == 0)
  }

  test("SQL DELETE FROM graft.`path` via injected extensions") {
    val t = clustered("delsql", rows = 800)
    val total = t.scan().count()
    val parsed = spark.sessionState.sqlParser.parsePlan(
      s"DELETE FROM graft.`${t.location}` WHERE n_tok >= 100")
    val expect = t.scan().where(col("n_tok") >= 100).count()
    assert(expect > 0)
    val row = GraftSqlBridge.ofRows(spark,
      graft.plans.TokenTableResolution(spark)(parsed)).collect()(0)
    assert(row.getLong(1) == expect, "command must report deleted rows")
    assert(t.scan().count() == total - expect)
    assert(t.scan().where(col("n_tok") >= 100).count() == 0)
  }

  test("deleteByDocIds anti-join path: extent cold copy decodes only id ranges") {
    import spark.implicits._
    spark.conf.set("graft.write.rowGroupBytes", (32 * 1024).toString)
    try {
      val dir = tmpDir("delids_rg")
      val t = TokenTable.create(spark, dir)
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 6000, minLen = 32, maxLen = 64, numPartitions = 1)
        .repartition(1).sortWithinPartitions("doc_id")))
      // Two disjoint narrow id clusters; force the anti-join path.
      def inRanges(c: org.apache.spark.sql.Column) =
        (c >= f"doc_${1000}%012d" && c <= f"doc_${1039}%012d") ||
          (c >= f"doc_${5000}%012d" && c <= f"doc_${5039}%012d")
      val ids = t.scan().select("doc_id").filter(inRanges(col("doc_id")))
      val outside = checksum(t.scan().filter(!inRanges(col("doc_id"))))

      val res = Delete.deleteByDocIds(t, ids, "delids-rg-job", inlineLimit = 10)
      assert(res.deletedRows == 80, s"both clusters must go: $res")
      assert(res.coldCopiedBytes > 0, "row groups between/around the clusters must byte-copy")
      assert(res.decodedBytes < res.rewrittenBytes / 2,
        s"anti join must decode only the id ranges: ${res.decodedBytes} of ${res.rewrittenBytes}")
      assert(t.scan().count() == 6000 - 80)
      assert(checksum(t.scan()) == outside,
        "survivors must be byte-identical after an extent cold-copy delete")
    } finally spark.conf.unset("graft.write.rowGroupBytes")
  }

  test("delete: narrow mid-range decodes only hot row groups; cold bytes copy") {
    import spark.implicits._
    spark.conf.set("graft.write.rowGroupBytes", (32 * 1024).toString)
    try {
      val dir = tmpDir("del_rg")
      val t = TokenTable.create(spark, dir)
      // One doc_id-sorted file with many tight row groups (same fixture
      // shape RowGroupMergeSpec uses for MERGE's cold copy).
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 6000, minLen = 32, maxLen = 64, numPartitions = 1)
        .repartition(1).sortWithinPartitions("doc_id")))
      val total = t.scan().count()
      val lo = f"doc_${3000}%012d"; val hi = f"doc_${3049}%012d"
      val outside = checksum(t.scan().filter($"doc_id" < lo || $"doc_id" > hi))

      val res = Delete.deleteWhere(t,
        col("doc_id") >= lo && col("doc_id") <= hi, "delrg-job")
      assert(res.deletedRows == 50, s"exactly the range must go: $res")
      assert(res.coldCopiedBytes > 0, "cold row groups must byte-copy")
      assert(res.decodedBytes < res.rewrittenBytes / 2,
        s"delete must decode only the hot slice: ${res.decodedBytes} of ${res.rewrittenBytes}")
      assert(t.scan().count() == total - 50)
      assert(checksum(t.scan()) == outside,
        "survivors must be byte-identical after a cold-copy delete")
      // Hot extracts are temporaries: gone after the commit.
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"$dir/data/delrg-job-v${res.snapshot.parentVersion}-hotx")))
    } finally spark.conf.unset("graft.write.rowGroupBytes")
  }

  test("delete: row-group planning over more files than the driver pool takes runs distributed") {
    // Every file of a hash-spread commit spans the whole keyspace, so a
    // narrow range grazes all of them and the row-group planner gets
    // more than StatsDistributeThreshold files: its mapPartitions branch.
    val dir = tmpDir("del_dist")
    val t = TokenTable.create(spark, dir)
    t.append(TokenGen.asTokenRows(TokenGen.generate(
      spark, 2000, minLen = 16, maxLen = 32, numPartitions = 4))
      .repartition(TokenTable.StatsDistributeThreshold + 16))
    val lo = f"doc_${1000}%012d"; val hi = f"doc_${1019}%012d"
    val hit = col("doc_id") >= lo && col("doc_id") <= hi
    val expected = checksum(t.scan().filter(!hit))
    val deleted = t.scan().filter(hit).count()
    assert(deleted > 0)

    val res = Delete.deleteWhere(t, hit, "deldist-job")
    assert(res.rewrittenFiles > TokenTable.StatsDistributeThreshold,
      s"the range must graze more files than the driver pool takes: $res")
    assert(res.deletedRows == deleted)
    assert(checksum(t.scan()) == expected, "survivors must equal the filtered table")
  }

  test("group-level cover: full predicate over doc_id/source/n_tok stats") {
    // The group-level hot/cold decision is mightMatch over a footer-
    // shaped stats row — verify its composition over ALL stats columns
    // (the old doc_id-only interval cover missed source/n_tok terms).
    def hot(sql: String, g: DataFile): Boolean =
      ManifestFileIndex.mightMatch(cond(sql), g)
    val g = df("b", "d", minN = 10, maxN = 20, minS = "src2", maxS = "src4")
    assert(hot("doc_id >= 'c' AND doc_id < 'z'", g))
    assert(!hot("doc_id > 'd'", g))
    assert(!hot("source = 'src9'", g), "source term alone must prune")
    assert(hot("source = 'src3'", g))
    assert(!hot("n_tok > 25", g), "n_tok term alone must prune")
    assert(!hot("source = 'src3' AND n_tok > 25", g), "AND composes prunes")
    assert(hot("source = 'src9' OR n_tok <= 20", g), "OR keeps if either side can")
    assert(!hot("source = 'src9' OR n_tok > 25", g), "OR prunes only if both sides do")
    assert(hot("doc_id LIKE 'b%'", g))
    assert(!hot("doc_id LIKE 'z%'", g))
    // No usable stats shape: conservative hot; and the canPrune gate
    // skips footer reads exactly when no group could ever classify cold
    // (Or needs BOTH arms prunable; And either).
    assert(hot("size(tokens) > 3", g))
    assert(!ManifestFileIndex.canPrune(cond("size(tokens) > 3")))
    assert(ManifestFileIndex.canPrune(cond("size(tokens) > 3 AND source = 'x'")))
    assert(!ManifestFileIndex.canPrune(cond("size(tokens) > 3 OR source = 'x'")),
      "an OR with a non-prunable arm can never prune — footer reads are waste")
    assert(ManifestFileIndex.canPrune(cond("n_tok > 5 OR source = 'x'")))
  }

  // ------------------------- mustMatchAll soundness edges

  private def df(minD: String, maxD: String, minN: Int = 1, maxN: Int = 9,
      minS: String = "s", maxS: String = "s"): DataFile =
    DataFile("f", 1L, 1L, minD, maxD, minN, maxN, 0L, minS, maxS)

  private def cond(sql: String) = {
    import spark.implicits._
    // Resolve against the token schema the same way Delete does.
    val probe = Seq(("a", Seq(1), 1, "s")).toDF("doc_id", "tokens", "n_tok", "source")
    // Same normalization Delete.deleteWhere applies (LIKE → StartsWith).
    org.apache.spark.sql.catalyst.optimizer.LikeSimplification(
        probe.filter(expr(sql)).queryExecution.analyzed)
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(sys.error("no filter"))
  }

  test("mustMatchAll: certain only when the whole range is inside the predicate") {
    val e = cond("doc_id >= 'b' AND doc_id < 'd'")
    assert(ManifestFileIndex.mustMatchAll(e, df("b", "c")))
    assert(!ManifestFileIndex.mustMatchAll(e, df("a", "c")), "min below range")
    assert(!ManifestFileIndex.mustMatchAll(e, df("b", "d")), "max at open bound")
    assert(ManifestFileIndex.mightMatch(e, df("a", "c")))

    // IN: certain only for a point range equal to a listed value.
    val in = cond("doc_id IN ('x', 'y')")
    assert(ManifestFileIndex.mustMatchAll(in, df("x", "x")))
    assert(!ManifestFileIndex.mustMatchAll(in, df("x", "y")),
      "range spanning two IN values holds unlisted values between them")

    // StartsWith: both endpoints carrying the prefix pins every row.
    val sw = cond("doc_id LIKE 'ab%'")
    assert(ManifestFileIndex.mustMatchAll(sw, df("abc", "abz")))
    assert(!ManifestFileIndex.mustMatchAll(sw, df("ab", "ac")))

    // Unknown shapes are never certain.
    assert(!ManifestFileIndex.mustMatchAll(cond("length(doc_id) = 1"), df("a", "a")))
  }

  test("mustMatchAll: no-stats n_tok sentinel is never certain") {
    val e = cond("n_tok < 100")
    assert(!ManifestFileIndex.mustMatchAll(e, df("a", "b", minN = Int.MaxValue,
      maxN = Int.MinValue)), "sentinel stats prove nothing")
    assert(ManifestFileIndex.mightMatch(e, df("a", "b", minN = Int.MaxValue,
      maxN = Int.MinValue)), "sentinel stats must keep the file")
  }

  test("mustMatchAll: UTF8 byte order on supplementary-plane bounds") {
    // U+FFFF ("￿") < U+10000 ("𐀀") in UTF8 byte order,
    // but the Java-String order INVERTS them. A file spanning
    // [U+FFFF, U+10000] must be certain for doc_id >= U+FFFF only under
    // byte order.
    val lo = "￿"
    val hi = new String(Character.toChars(0x10000))
    val e = cond(s"doc_id >= '$lo'")
    assert(ManifestFileIndex.mustMatchAll(e, df(lo, hi)))
    val e2 = cond(s"doc_id <= '$lo'")
    assert(!ManifestFileIndex.mustMatchAll(e2, df(lo, hi)),
      "file holds U+10000 which is above U+FFFF in byte order")
  }
}
