package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Connected-components (dup-cluster) specs: transitive closure
  * semantics, logarithmic convergence on chains (the case plain label
  * propagation cannot handle), and the end-to-end planted-dup cluster.
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(pairs.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap

  test("chains, separate components, self-loops") {
    val labels = cc(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // chain -> one component
      (11L, 10L), // reversed order still canonicalizes
      (20L, 21L), (22L, 21L),
      (30L, 30L))) // self-loop dropped: 30 is NOT a cluster member
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("long chain converges within the logarithmic round bound") {
    // 0-1-2-...-300: label propagation needs ~300 rounds; the
    // large-star/small-star alternation must finish within the
    // default maxIter=30 (O(log^2 n)) or connectedComponents throws.
    val n = 300L
    val labels = cc((0L until n).map(i => (i, i + 1)))
    assert(labels.size == n + 1 && labels.values.forall(_ == 0L))
  }

  test("bridged stars merge into one component") {
    val starA = (1L to 9L).map(i => (0L, i))
    val starB = (101L to 109L).map(i => (100L, i))
    val labels = cc(starA ++ starB :+ (9L, 101L)) // bridge
    assert(labels.values.toSet == Set(0L) && labels.size == 20)
  }

  test("empty pair set yields empty clusters") {
    assert(cc(Seq.empty).isEmpty)
  }


  test("unconverged run fails loudly instead of returning wrong labels") {
    val chain = (0L until 40L).map(i => (i, i + 1))
    assertThrows[IllegalStateException] {
      Components.connectedComponents(chain.toDF("a", "b"), maxIter = 1).collect()
    }
  }

  test("random graphs match an in-memory union-find reference") {
    for (seed <- Seq(1, 2, 3)) {
      val rng = new scala.util.Random(seed)
      val edges = Seq.fill(120)((rng.nextInt(80).toLong, rng.nextInt(80).toLong))
        .filter { case (a, b) => a != b }
      // Reference: classic union-find with min-id labels.
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.map(n => n -> find(n)).toMap
      assert(cc(edges) == expected, s"seed $seed")
    }
  }

  test("dupClusters groups planted exact AND near dups of one base doc transitively") {
    val dir = "/root/testdata/sf0.001"
    val out = Components.dupClusters(spark, dir)
      .as[(Long, Long, Long)].collect()
    val byDoc = out.map(r => r._1 -> r._2).toMap
    // Base docs divisible by 20 get BOTH an exact copy (+200000) and a
    // near copy (+100000); minhashLsh reports them as separate pairs,
    // but the cluster must unite all three around the base id.
    val bases = spark.read.parquet(s"$dir/documents.parquet")
      .filter($"doc_id" % 20 === 0).select($"doc_id").as[Long].collect()
    assert(bases.nonEmpty)
    val united = bases.count(b =>
      byDoc.get(b + 200000).contains(byDoc.getOrElse(b, -1L)) &&
        byDoc.get(b + 100000).contains(byDoc.getOrElse(b, -1L)))
    // Exact dups always pair (identical signatures); near dups clear the
    // >=6-of-12 signature threshold for the vast majority of docs.
    assert(united >= bases.length * 8 / 10,
      s"only $united of ${bases.length} base docs fully clustered")
    // csize is consistent: every member of a cluster reports the size
    // equal to the member count of that cluster.
    val sizes = out.groupBy(_._2).map { case (c, rs) => c -> rs.length }
    assert(out.forall(r => sizes(r._2) == r._3))
  }

  test("reliable-checkpoint path (configured checkpoint dir) produces identical labels") {
    // With a checkpoint dir set, each round cuts lineage through durable
    // storage (executor-loss tolerant) instead of localCheckpoint's
    // block-storage — the production setting for long CC runs.
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val labels = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // The checkpointed round state actually landed in the durable dir.
    import scala.jdk.CollectionConverters._
    def entries(): Long = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.count(java.nio.file.Files.isRegularFile(_)).toLong
    val afterCc = entries()
    assert(afterCc > 0, "reliable checkpoint wrote nothing")
    // Every op's lineage cut goes through the same helper: the LM
    // scorer's vocab and output cuts land in the durable dir too.
    val scored = LmScore.score(Seq((1L, "a b c a"), (2L, "b c d")).toDF("doc_id", "text"))
    assert(scored.count() == 2)
    assert(entries() > afterCc, "LmScore.score did not use the reliable checkpoint")
    // NOTE: SparkContext has no public un-set for the checkpoint dir;
    // later op runs in this JVM simply keep using the reliable path
    // (also correct — the localCheckpoint path is covered by every test
    // that ran before this one).
  }
}
