package graft.maintain

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.table.TokenTable

/** ByDocId range clustering: preserves state, produces doc_id-disjoint
  * files, and makes MERGE file pruning actually selective.
  */
class ClusterByDocIdSpec extends SparkSpec {

  test("cluster-by-docid: state preserved, files have near-disjoint doc_id ranges") {
    val dir = tmpDir("cbd")
    val t = TokenTable.create(spark, dir)
    (0 until 8).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 300, idOffset = i * 300L, numPartitions = 2)))
    }
    val before = checksum(t.scan())
    val res = Cluster.run(t, Cluster.ByDocId, "job-cbd", targetBytes = 64L * 1024)
    assert(res.buckets > 2)
    assert(checksum(t.scan()) == before)

    // Sorted by minDocId, consecutive files must not overlap much:
    // with an exact range partition on unique keys, overlaps only occur
    // at boundary duplication — assert strictly increasing min ranges
    // and >= 80% of consecutive pairs fully disjoint.
    val files = t.filesLocal(t.current).sortBy(_.minDocId)
    val pairs = files.sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
    val disjoint = pairs.count { case (a, b) => a.maxDocId <= b.minDocId }
    assert(disjoint.toDouble / pairs.size >= 0.8,
      s"only $disjoint/${pairs.size} consecutive file pairs are doc_id-disjoint")
  }

  test("incremental recluster: carried files untouched, rewrite cost = new data only") {
    val dir = tmpDir("cbd_inc")
    val t = TokenTable.create(spark, dir)
    (0 until 8).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 300, idOffset = i * 300L, numPartitions = 2)))
    }
    // Full pass: everything overlaps, nothing carriable.
    val first = Cluster.run(t, Cluster.ByDocId, "inc-1", targetBytes = 64L * 1024)
    assert(first.carriedFiles == 0)
    val clusteredPaths = t.filesLocal(t.current).map(_.path).toSet
    val totalBytes = t.filesLocal(t.current).map(_.bytes).sum

    // Append ~10% new data INTERLEAVING the clustered key range (ids
    // 1000-1239 sit mid-table), recluster: the new rows become their own
    // tight run; the disjoint prior outputs carry by path.
    t.append(TokenGen.asTokenRows(TokenGen.generate(
      spark, 240, idOffset = 1000, numPartitions = 2)))
    val before = checksum(t.scan())
    val second = Cluster.run(t, Cluster.ByDocId, "inc-2", targetBytes = 64L * 1024)

    assert(second.carriedFiles > 0, "prior cluster outputs must carry over")
    assert(second.rewrittenBytes < totalBytes / 2,
      s"incremental pass rewrote ${second.rewrittenBytes} of $totalBytes bytes")
    val after = t.filesLocal(t.current).map(_.path).toSet
    assert(after.intersect(clusteredPaths).nonEmpty,
      "carried files must survive in the new snapshot BY PATH (zero IO)")
    assert(checksum(t.scan()) == before, "incremental recluster must preserve state")

    // The new run's files carry exact stats: every live file tight.
    val nulls = t.filesLocal(t.current).count(f => f.minDocId == null)
    assert(nulls == 0)

    // A third pass with no new data: everything disjoint and big enough
    // either carries (no-op) or only boundary fragments rewrite.
    val vBefore = t.currentVersion
    val third = Cluster.run(t, Cluster.ByDocId, "inc-3", targetBytes = 64L * 1024)
    assert(third.rewrittenBytes < totalBytes / 2,
      "a quiescent recluster must stay bounded by the overlapping run, not the table")
    assert(checksum(t.scan()) == before)
    if (third.buckets == 0) assert(t.currentVersion == vBefore, "pure no-op commits nothing")
  }

  test("carrySet: maximal disjoint set, bytes priority, null stats disable carry") {
    import graft.table.DataFile
    def f(p: String, min: String, max: String, bytes: Long) =
      DataFile(p, bytes, 10, min, max, 0, 9, 100, "s", "s")
    // b overlaps a and c; a and c disjoint; all big enough.
    val a = f("a", "d000", "d099", 1000)
    val b = f("b", "d050", "d149", 500)
    val c = f("c", "d100", "d199", 1000)
    assert(Cluster.carrySet(Seq(a, b, c), 100).map(_.path).sorted == Seq("a", "c"))
    // Priority: if the overlapper is biggest, it wins and excludes both.
    val bBig = f("b", "d050", "d149", 5000)
    assert(Cluster.carrySet(Seq(a, bBig, c), 100).map(_.path) == Seq("b"))
    // Too-small files never carry.
    assert(Cluster.carrySet(Seq(a.copy(bytes = 50)), 100).isEmpty)
    // Touching endpoints count as overlap (conservative).
    assert(Cluster.carrySet(Seq(a, f("d", "d099", "d150", 1000)), 100).size == 1)
    // Any null-stats file disables carrying entirely.
    assert(Cluster.carrySet(Seq(a, c, f("n", null, null, 1000)), 100).isEmpty)
  }

  test("after cluster-by-docid, MERGE with a narrow key range touches few files") {
    val dir = tmpDir("cbd2")
    val t = TokenTable.create(spark, dir)
    (0 until 8).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 300, idOffset = i * 300L, numPartitions = 2)))
    }
    Cluster.run(t, Cluster.ByDocId, "job-cbd2", targetBytes = 64L * 1024)
    val filesTotal = t.filesLocal(t.current).size
    // Narrow source: 20 consecutive ids out of 2400.
    val src = TokenGen.generate(spark, 20, idOffset = 1000, numPartitions = 1)
    val res = Merge.mergeInto(t, src, "offset", "job-cbd2-merge")
    assert(res.touchedFiles < filesTotal / 2,
      s"expected pruning: touched ${res.touchedFiles} of $filesTotal files")
    assert(res.untouchedFiles + res.touchedFiles == filesTotal)
    assert(t.scan().count() == 2400, "narrow merge must only update, not grow")
  }

  test("a one-bucket recluster runs no sample or preimage-probe job") {
    val t = TokenTable.create(spark, tmpDir("cbd_one"))
    (0 until 2).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 300, idOffset = i * 1000L, numPartitions = 2)))
    }
    t.append(TokenGen.asTokenRows(TokenGen.generate(
      spark, 300, idOffset = 500, numPartitions = 2)))
    val before = checksum(t.scan())
    assert(Cluster.hashPreimages(1).toSeq == Seq(0L))

    val sc = spark.sparkContext
    val group = s"cbd-one-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "one-bucket recluster")
    val res = try Cluster.runByDocId(t, "job-one", targetBytes = 64L * 1024 * 1024)
      finally sc.clearJobGroup()
    val jobs = sc.statusTracker.getJobIdsForGroup(group).length
    assert(res.buckets == 1 && res.saltedBuckets == 0)
    // The exchange's map stage and the write; no doc_id sample.
    assert(jobs <= 2, s"$jobs Spark jobs for a one-bucket recluster")
    assert(checksum(t.scan()) == before)
    val files = t.filesLocal(t.current)
    assert(files.size == 1 && files.head.rows == 900)
  }
}
