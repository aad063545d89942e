package graft.maintain

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.table.TokenTable

/** Job-count regression for clustering, in the style of
  * `MergeJobsSpec`: every layout runs one sample job before its
  * exchange. The curve layouts build the source dictionary and the
  * boundary keys from one collected sample (the keys are evaluated on
  * the driver), so a 3-bucket Z-order or Hilbert pass costs the same
  * jobs as a by-doc-id pass: sample, exchange, write.
  */
class ClusterJobsSpec extends SparkSpec {

  /** 32,000 rows in 8 appended files. */
  private def table(name: String): TokenTable = {
    val t = TokenTable.create(spark, tmpDir(name))
    (0 until 8).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 4000, idOffset = i * 4000L, numPartitions = 1)))
    }
    t
  }

  /** Clusters into 3 buckets; returns the result, its job count and the
    * table's bytes before the pass. */
  private def clusterJobs(t: TokenTable, curve: Cluster.Curve): (Cluster.Result, Int, Long) = {
    val bytes = t.filesStream(t.current).map(_.bytes).sum
    val before = checksum(t.scan())
    val sc = spark.sparkContext
    val group = s"cluster-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, s"cluster $curve")
    val res = try Cluster.run(t, curve, s"cj-$curve", (bytes + 2) / 3, incremental = false)
      finally sc.clearJobGroup()
    assert(checksum(t.scan()) == before, s"$curve must preserve the table")
    assert(res.buckets == 3, s"$curve planned ${res.buckets} buckets")
    (res, sc.statusTracker.getJobIdsForGroup(group).length, bytes)
  }

  for (curve <- Seq(Cluster.ZOrder, Cluster.Hilbert, Cluster.ByDocId))
    test(s"$curve into 3 buckets runs at most 3 jobs") {
      val (res, jobs, bytes) = clusterJobs(table(s"cj-$curve"), curve)
      assert(jobs <= 3, s"$jobs jobs for one $curve pass")
      // A full pass carries nothing and rewrites every byte; the curve
      // layouts report it like by-doc-id does.
      assert(res.carriedFiles == 0)
      assert(res.rewrittenBytes == bytes)
      assert(res.snapshot.summary("bytes-rewritten") == bytes.toString)
      assert(res.snapshot.summary("files-carried") == "0")
    }
}
