package graft.maintain

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.table.{DataFile, TokenTable}

/** Bounded boundary-sample IO (round-6 optimization): clustering's
  * planning sample must read at most `graft.cluster.sampleFiles` files,
  * not the whole table.
  */
class ClusterSampleSpec extends SparkSpec {

  private def df(i: Int): DataFile = DataFile(
    path = f"data/f$i%04d.parquet", bytes = 1000L, rows = 10L + i,
    minDocId = f"doc_$i%06d", maxDocId = f"doc_$i%06d",
    minNtok = 1, maxNtok = 2, sumNtok = 10L,
    minSource = "web", maxSource = "web", groups = 1)

  test("pickSampleFiles caps the subset, spreads it, and sums its rows") {
    val files = (0 until 1000).map(df)
    val (picked, rows) = Cluster.pickSampleFiles(files.iterator, 1000, 64)
    val paths = picked.map(_.path)
    assert(paths.size <= 64 && paths.size >= 32, s"got ${paths.size}")
    // Spread: every 16th of the stream, so indices cover the full range.
    assert(paths.head == "data/f0000.parquet")
    assert(paths.last >= "data/f0980.parquet")
    assert(rows == paths.map(p => files.find(_.path == p).get.rows).sum)
    // Fewer files than the cap: everything picked (bench-scale identity).
    val (all, allRows) = Cluster.pickSampleFiles(files.take(10).iterator, 10, 64)
    assert(all.size == 10 && allRows == files.take(10).map(_.rows).sum)
    // Empty inventory.
    assert(Cluster.pickSampleFiles(Iterator.empty, 0, 64) == ((Nil, 0L)))
  }

  test("curve clustering stays exact with a tiny sample-file cap") {
    val dir = tmpDir("csample")
    val t = TokenTable.create(spark, dir)
    (0 until 8).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 500, idOffset = i * 500L, numPartitions = 2)))
    }
    val before = checksum(t.scan())
    spark.conf.set("graft.cluster.sampleFiles", "3")
    try {
      Cluster.run(t, Cluster.ZOrder, "cs-z", targetBytes = 256L * 1024)
      assert(checksum(t.scan()) == before)
      Cluster.runByDocId(t, "cs-d", targetBytes = 256L * 1024)
      assert(checksum(t.scan()) == before)
    } finally spark.conf.unset("graft.cluster.sampleFiles")
  }
}
