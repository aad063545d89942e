package graft.maintain

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.table.TokenTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Maintenance reads open their decode sets through the table's file
  * index, which takes sizes from manifest rows: no `getFileStatus` per
  * file and no listing job. A path-list read (`spark.read.parquet(paths)`)
  * of more than 32 paths would run Spark's parallel listing job
  * ("Listing leaf files and directories for N paths") before the op's
  * first real job.
  */
class ReadListingSpec extends SparkSpec {
  import spark.implicits._

  private val descriptions = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      descriptions.put(e.jobId, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** Run `op` under a fresh job group; return the descriptions of the
    * group's listing jobs.
    */
  private def listingJobs(op: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"read-listing-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "maintenance op")
    try op finally sc.clearJobGroup()
    val ids = sc.statusTracker.getJobIdsForGroup(group).toSeq
    // The listener bus is asynchronous: wait until it has seen every
    // job the tracker knows of.
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!ids.forall(descriptions.containsKey) && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(ids.forall(descriptions.containsKey), "listener missed a job start")
    ids.map(descriptions.get).filter(_.startsWith("Listing leaf files"))
  }

  test("DELETE, UPDATE, MERGE, Z-order and compaction over 48 files run no listing job") {
    val t = TokenTable.create(spark, tmpDir("read-listing"))
    // One append of 48 partitions: 48 small files, 50 contiguous ids each.
    t.append(TokenGen.asTokenRows(TokenGen.generate(
      spark, 2400, maxLen = 32, numPartitions = 48)))
    val base = t.current
    val nFiles = t.filesLocal(base).size
    assert(nFiles == 48)
    val state = checksum(t.scan())
    // Each op rewrites the table; rolling back restores the 48 files.
    def reset(): Unit = t.rollbackTo(base.version)
    // `n_tok % 7 = 0` has no stats shape: every file decodes whole.
    val everyFile = $"n_tok" % 7 === 0

    val listed = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    listed("delete") = listingJobs {
      val r = Delete.deleteWhere(t, everyFile, "rl-delete")
      assert(r.rewrittenFiles == nFiles && r.coldCopiedBytes == 0L)
    }
    reset()
    listed("update") = listingJobs {
      val r = Update.updateWhere(t, Seq("source" -> lit("x")), everyFile, "rl-update")
      assert(r.rewrittenFiles == nFiles && r.coldCopiedBytes == 0L)
    }
    reset()
    listed("merge") = listingJobs {
      // One key inside each file's only row group.
      val src = (0 until 2400 by 50).map(i => (f"doc_${i + 7}%012d", Seq(1, 2, 3), 3, "web"))
        .toDF("doc_id", "tokens", "n_tok", "source")
        .withColumn("__p", monotonically_increasing_id())
      val r = Merge.mergeInto(t, src, "__p", "rl-merge")
      assert(r.touchedFiles == nFiles && r.coldCopiedBytes == 0L)
    }
    reset()
    listed("zorder") = listingJobs {
      // 48 files are under the sample-file cap: the sample reads them all.
      Cluster.run(t, Cluster.ZOrder, "rl-zorder", targetBytes = 64L * 1024)
    }
    reset()
    listed("compact") = listingJobs {
      // Tiny row groups: the single bin re-encodes all 48 files.
      val r = Compact.run(t, targetBytes = 64L * 1024 * 1024, "rl-compact")
      assert(r.binsRewritten == 1 && r.filesOut == 1)
    }
    assert(checksum(t.scan()) == state)
    assert(listed.values.forall(_.isEmpty),
      s"listing jobs per op: ${listed.map { case (k, v) => s"$k=${v.size}" }.mkString(", ")}")
  }
}
