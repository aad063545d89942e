package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate candidate pairs — the step
  * that turns pairwise dedup output ([[Dedup.minhashLsh]],
  * [[Dedup.simhashHamming]], [[Dedup.ngramJaccard]]) into transitive
  * duplicate CLUSTERS: if a~b and b~c, then {a,b,c} is one group and a
  * single representative survives. Pair output alone under-deletes —
  * a chain of k near-identical crawl snapshots is k-1 pairs but ONE
  * cluster.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
  * published shuffle-based CC algorithm that converges in O(log^2 n)
  * rounds with per-round work linear in the edge count. Unlike label
  * propagation (O(diameter) rounds — a 10^6-long chain of crawl dups
  * needs 10^6 rounds) or driver-side union-find (O(V) driver memory),
  * every step here is a groupBy + broadcast-free equi-join, so it runs
  * at any scale the edge list itself fits.
  *
  * Implementation notes for the iterative loop:
  *  - each round ends in an eager lineage cut ([[materialize]]) —
  *    iterating DataFrames without cutting lineage re-analyzes an
  *    exponentially-growing plan (the classic iterative-Catalyst trap);
  *    it is a reliable `checkpoint` when a checkpoint dir is set,
  *  - convergence is detected by an order-insensitive edge-set
  *    checksum (count + sum of per-edge xxhash64) — two scalars per
  *    round, not a full edge-set comparison.
  */
object Components {

  /** (doc_id, cluster_id) for every node of `pairs`, where cluster_id
    * is the smallest doc_id in the node's connected component. Input
    * columns `a`, `b` (long); self-loops and null endpoints are
    * dropped.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // Lineage cut per round through [[materialize]]: with a reliable
    // checkpoint dir a mid-iteration executor loss replays from durable
    // storage rather than failing the job — the production setting for
    // multi-hour CC runs over web-scale edge lists.
    val init = pairs
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()

    var edges = materialize(init)
    var lastSig: (Long, Long) = (-1L, 0L)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = materialize(smallStar(largeStar(edges)))
      // pmod keeps the ANSI-mode sum far from Long overflow (same
      // trick as SparkSpec.checksum): edge hashes are full-range longs.
      val sigRow = next.agg(
        count(lit(1)).cast("long"),
        coalesce(sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L))), lit(0L))).head()
      val sig = (sigRow.getLong(0), sigRow.getLong(1))
      // The two-scalar signature is probabilistic; a collision between
      // distinct edge sets would silently exit with wrong cluster ids
      // for the unconverged chains. Confirm signature equality with ONE
      // exact set check — counts already match, and both sides are
      // distinct, so an empty next∖prev difference proves set equality.
      // Runs once, at the final round only.
      converged = sig == lastSig && next.exceptAll(edges).isEmpty
      lastSig = sig
      edges = next
      it += 1
    }
    // Provably converges in O(log^2 n) rounds; hitting the bound means
    // a bug, and an unconverged edge set yields WRONG cluster ids for
    // chains — fail loudly rather than return them.
    if (!converged)
      throw new IllegalStateException(s"connectedComponents: no convergence in $maxIter rounds")

    // Converged edges form stars (member -> component min). Each node's
    // cluster is its smallest neighbor-or-self over both directions.
    val sym = edges.select(col("u").as("n"), col("v").as("m"))
      .unionByName(edges.select(col("v").as("n"), col("u").as("m")))
    sym.groupBy(col("n").as("doc_id"))
      .agg(least(min(col("m")), first(col("n"))).as("cluster_id"))
      .select(col("doc_id"), least(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Large-star: every node's strictly-larger neighbors re-attach to
    * the minimum of its closed neighborhood. Expressed as one
    * aggregate + one equi-join — no collect_list, so a hub with 10^7
    * neighbors never materializes its adjacency in a single row.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u").as("x"), col("v").as("y"))
      .unionByName(edges.select(col("v").as("x"), col("u").as("y")))
    val mins = sym.groupBy(col("x"))
      .agg(least(min(col("y")), first(col("x"))).as("mn"))
    sym.join(mins, "x")
      .filter(col("y") > col("x"))
      .select(col("y").as("u"), col("mn").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: every node's smaller-or-equal neighbors (and the node
    * itself) re-attach to the minimum among them. Operates on the
    * (u > v)-oriented edge list large-star produces.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy(col("u"))
      .agg(least(min(col("v")), first(col("u"))).as("mn"))
    val reattached = edges.join(mins, "u")
      .select(col("v").as("n"), col("mn"))
      .unionByName(mins.select(col("u").as("n"), col("mn")))
    reattached
      .filter(col("n") =!= col("mn"))
      .select(greatest(col("n"), col("mn")).as("u"), least(col("n"), col("mn")).as("v"))
      .distinct()
  }

  // ------------------------------------------------------------- query

  /** Driver query: transitive dup clusters over the MinHash+LSH pair
    * output on the augmented documents table — (doc_id, cluster_id,
    * csize) per clustered doc. The planted exact dups (+200000) and
    * near dups (+100000) of the same base doc land in ONE cluster here
    * even though minhashLsh reports them as separate pairs.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLsh(Dedup.augmented(spark, dir))
    connectedComponents(pairs.select(col("a"), col("b")))
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))).cast("long"))
  }

  /** Oracle: same pairs in DuckDB (the [[Dedup.minhashSql]] query
    * verbatim), closed transitively by a recursive CTE — min reachable
    * id == the component minimum the star algorithm converges to.
    */
  val dupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a, b FROM (${Dedup.minhashSql}) mh
       |), sym AS (
       |  SELECT a AS s, b AS t FROM pairs UNION SELECT b, a FROM pairs
       |), reach(s, t) AS (
       |  SELECT s, t FROM sym
       |  UNION
       |  SELECT r.s, e.t FROM reach r JOIN sym e ON r.t = e.s WHERE e.t <> r.s
       |), labeled AS (
       |  SELECT s AS doc_id, least(s, min(t)) AS cluster_id FROM reach GROUP BY s
       |)
       |SELECT doc_id, cluster_id,
       |       count(*) OVER (PARTITION BY cluster_id) AS csize
       |FROM labeled""".stripMargin
}
