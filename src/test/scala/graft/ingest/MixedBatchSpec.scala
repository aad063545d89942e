package graft.ingest

import graft.SparkSpec
import graft.table.TokenTable

/** One batch carrying every per-message outcome at once — replayed,
  * fresh, duplicate offset, duplicate key, dropped `{}`, malformed and
  * null-element dead letters — so the batch's single aggregate pass must
  * attribute each message to exactly one count and its partition's
  * watermark.
  */
class MixedBatchSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: String, tokens: String = "[1,2]") =
    s"""{"doc_id":"$id","tokens":$tokens,"n_tok":2,"source":"web"}"""

  private val first = Seq(
    RawMessage("t", 0, 0, Some("a0"), doc("a0")),
    RawMessage("t", 0, 1, Some("a1"), doc("a1")),
    RawMessage("t", 1, 0, Some("b0"), doc("b0")),
    RawMessage("t", 1, 1, Some("b1"), doc("b1")))

  private val mixed = Seq(
    // t/1: every message already committed.
    RawMessage("t", 1, 0, Some("b0"), doc("b0")),
    RawMessage("t", 1, 1, Some("b1"), doc("b1")),
    // t/0: one replay, then fresh offsets 2..8.
    RawMessage("t", 0, 1, Some("a1"), doc("a1")),
    RawMessage("t", 0, 2, Some("x"), doc("x")),
    RawMessage("t", 0, 3, Some("y"), doc("y")),
    RawMessage("t", 0, 3, Some("z"), doc("z")), // same offset, other payload
    RawMessage("t", 0, 4, Some("x2"), doc("x", "[7,7]")), // duplicate key x
    RawMessage("t", 0, 5, Some("e"), "{}"),
    RawMessage("t", 0, 6, Some("m"), """{"doc_id":"m","tokens":[1"""),
    RawMessage("t", 0, 7, Some("n"), doc("n", "[1,null]")),
    RawMessage("t", 0, 8, None, doc("w")),
    // t/2: a partition this table has never seen.
    RawMessage("t", 2, 0, Some("c0"), doc("c0")),
    RawMessage("t", 2, 1, Some("c1"), doc("c1")))

  private def ingestBoth(dlq: String): Ingest.IngestResult = {
    val t = TokenTable.create(spark, tmpDir("mixed-tbl"))
    Ingest.ingestBatch(t, first.toDS(), deadLetterDir = Some(dlq))
    val r = Ingest.ingestBatch(t, mixed.toDS(), deadLetterDir = Some(dlq))
    val ids = t.scan().select($"doc_id").as[String].collect().sorted.toSeq
    // Offset 3's tie-break is the payload hash; z wins it.
    assert(ids == Seq("a0", "a1", "b0", "b1", "c0", "c1", "w", "x", "z"))
    assert(Ingest.watermarks(r.snapshot) == Map("t/0" -> 8L, "t/1" -> 1L, "t/2" -> 1L))
    r
  }

  private def batchDirs(dlq: String): Seq[String] =
    Option(new java.io.File(dlq).list()).toSeq.flatten.sorted

  test("mixed batch: counts, watermarks, dead letters and a stable DLQ dir") {
    val dlq = tmpDir("mixed-dlq")
    val r = ingestBoth(dlq)
    assert((r.appended, r.deduped, r.deadLettered, r.replayFiltered) == ((5L, 2L, 2L, 3L)))

    def deadRows() = spark.read.option("recursiveFileLookup", "true").parquet(dlq)
      .select($"partition", $"offset", $"value", $"error")
      .as[(Int, Long, String, String)].collect().sortBy(_._2).toSeq
    val expected = Seq(
      (0, 6L, """{"doc_id":"m","tokens":[1""", "ParseError: payload is not a JSON object"),
      (0, 7L, doc("n", "[1,null]"),
        "TypeMismatch: null or mistyped required field: tokens"))
    assert(deadRows() == expected)
    // md5 of the fresh ranges "(t/0,2,8);(t/2,0,1)"; the first batch had
    // no dead letters and wrote no directory.
    val dirs = Seq("batch-4d24edf51a054edc61fa540d1d47f529")
    assert(batchDirs(dlq) == dirs)

    // A byte-identical retry (the commit never landed) rewrites the same
    // directory instead of adding a second one.
    ingestBoth(dlq)
    assert(batchDirs(dlq) == dirs)
    assert(deadRows() == expected)
  }
}
