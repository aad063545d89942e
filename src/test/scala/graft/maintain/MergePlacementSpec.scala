package graft.maintain

import graft.{PlanAudit, SparkSpec}
import graft.functions.SearchOps
import graft.ingest.TokenGen
import graft.table.TokenTable
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Merge output placement: the extent split points put every key past an
  * extent outside its hot range, each run of hot keys gets its own output
  * range however many keys it holds, and a batch above the broadcast cap
  * takes the same single rewrite path (unhinted anti join, same range
  * placement) with the same result and the same prunable layout.
  */
class MergePlacementSpec extends SparkSpec {
  import spark.implicits._

  test("extent split point is the least string above the extent's last key") {
    val bounds = Merge.extentClusterBounds(Array("a"), Array("b"), Array.empty)
    val buckets = Seq("b", "b\u0001").toDF("doc_id")
      .select(SearchOps.bucketOfStr($"doc_id", bounds)).as[Int].collect()
    assert(buckets(0) != buckets(1),
      s"a key above the extent must leave its bucket: ${bounds.toSeq} -> ${buckets.toSeq}")
  }

  test("an update run and an insert run each get one output range, apart from the gap") {
    def doc(i: Long) = f"doc_$i%012d"
    val t = TokenTable.create(spark, tmpDir("mp_runs"))
    (0 until 4).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 2000, idOffset = i * 2000L, minLen = 32, maxLen = 64,
        numPartitions = 2)))
    }
    Cluster.run(t, Cluster.ByDocId, "mp-runs-cluster", targetBytes = 128L * 1024)
    // 130 updates inside the table, 50 inserts past its end: 180 keys.
    // 130 is not a multiple of 6, so cutting the keys into equal-count
    // slices of 6 would leave one slice straddling the gap.
    val upd = t.scan().filter($"doc_id" >= doc(1000) && $"doc_id" <= doc(1129))
      .select($"doc_id", array_repeat(lit(9), 3).as("tokens"), lit(3).as("n_tok"),
        $"source")
    val ins = TokenGen.generate(spark, 50, idOffset = 9000L, numPartitions = 1)
      .select($"doc_id", $"tokens", $"n_tok", $"source")
    val src = upd.unionByName(ins).withColumn("__p", monotonically_increasing_id())
    val hot = src.select($"doc_id").as[String].collect().sorted
    val gap = t.scan().select($"doc_id").as[String].collect()
      .filter(k => k > doc(1129) && k < doc(9000)).sorted
    val parentFiles = t.filesStream(t.current).map(_.path).toSet

    val writes = PlanAudit.capturedWrites(spark) {
      Merge.mergeInto(t, src, "__p", "mp-runs")
    }
    val exchanges = writes.flatMap(w => PlanAudit.planNodes(w.executedPlan))
      .collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
    // The rewrite decodes far less than one file split, so there are no
    // range bounds: 2 bounds per hot run plus one.
    assert(exchanges == Seq(2 * 2 + 1), s"rewrite exchange widths $exchanges")

    val outputs = t.filesStream(t.current).filterNot(f => parentFiles(f.path)).toSeq
    assert(outputs.nonEmpty)
    def holds(keys: Array[String], lo: String, hi: String) =
      keys.exists(k => k >= lo && k <= hi)
    val mixed = outputs.filter(f =>
      holds(hot, f.minDocId, f.maxDocId) && holds(gap, f.minDocId, f.maxDocId))
    assert(mixed.isEmpty, "output files span hot keys and the cold gap: " +
      mixed.map(f => s"${f.path} [${f.minDocId}, ${f.maxDocId}]").mkString(", "))
    assert(t.scan().count() == 8050L)
  }

  test("unbounded batch: same scan, no partition dirs, repeat merge stays pruned") {
    def build(name: String): (String, TokenTable) = {
      val dir = tmpDir(name)
      val t = TokenTable.create(spark, dir)
      (0 until 2).foreach { i =>
        t.append(TokenGen.asTokenRows(TokenGen.generate(
          spark, 2000, idOffset = i * 2000L, minLen = 32, maxLen = 64,
          numPartitions = 2)))
      }
      Cluster.run(t, Cluster.ByDocId, s"$name-cluster", targetBytes = 128L * 1024)
      (dir, t)
    }
    def updates(t: TokenTable, tokens: Int) = t.scan()
      .filter($"doc_id" >= f"doc_${100}%012d" && $"doc_id" <= f"doc_${149}%012d")
      .select($"doc_id", array_repeat(lit(tokens), 3).as("tokens"),
        lit(3).as("n_tok"), $"source")
      .withColumn("__p", monotonically_increasing_id())
    def twoMerges(t: TokenTable, job: String): Merge.Result = {
      Merge.mergeInto(t, updates(t, 5), "__p", s"$job-1")
      Merge.mergeInto(t, updates(t, 6), "__p", s"$job-2")
    }

    val (_, dflt) = build("mu_default")
    val dfltRepeat = twoMerges(dflt, "mu-d")

    val (forcedDir, forced) = build("mu_forced")
    spark.conf.set("graft.merge.broadcastKeyRows", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val forcedRepeat =
      try twoMerges(forced, "mu-f")
      finally {
        spark.conf.unset("graft.merge.broadcastKeyRows")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }

    assert(checksum(forced.scan()) == checksum(dflt.scan()),
      "the unbounded path must commit the same rows")
    val partDirs = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(forcedDir))
      try st.filter(_.getFileName.toString.startsWith("__part=")).count()
      finally st.close()
    }
    assert(partDirs == 0, "the rewrite must not write partition directories")
    assert(forcedRepeat.touchedFiles <= dfltRepeat.touchedFiles,
      s"repeat merge touched ${forcedRepeat.touchedFiles} files, " +
        s"default twin ${dfltRepeat.touchedFiles}")
  }
}
