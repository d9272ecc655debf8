package graft.dedup

import graft.Mat.Pinnable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Star-contraction connected components: a test-scope reference for
  * [[Dedup.clusterKeepers]]. */
object StarComponents {

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the variant for LONG-CHAIN graphs, where [[Dedup.clusterKeepers]]'s
    * min-label propagation needs O(diameter) rounds: star contraction
    * converges in O(log² n) rounds regardless of diameter. Near-dup
    * clusters are dense (diameter 2-3), so min-label stays the default;
    * use this when the pair graph chains (e.g. fuzzy-threshold chains of
    * drifting documents). Same output contract as [[Dedup.clusterKeepers]]:
    * (doc_id, keeper_id = min id in component) — pinned equal on random
    * graphs by PropertySpec, where it is the distributed reference the
    * min-label path is checked against.
    *
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its neighborhood (keeps the graph connected, shrinks height);
    *  - small-star: every node links its smaller-or-equal neighborhood to
    *    that minimum (contracts toward the root).
    *
    * Each round is groupByKey + flatMap + distinct on the same fixed
    * partitioner — the RDD loop for the same reason as [[Dedup.clusterKeepers]]
    * (per-round Catalyst replanning would dominate). Termination: the
    * edge set is a fixpoint (stars only), detected by an order-independent
    * edge fingerprint.
    */
  def clusterKeepersStar(ids: DataFrame, pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val idName = ids.columns.head
    val p = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .pinned
    val nParts = graft.Par.graphParts(p, 2L * p.count())
    val part = new org.apache.spark.HashPartitioner(nParts)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    def largeStar(e: org.apache.spark.rdd.RDD[(Long, Long)]) =
      e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
        .groupByKey(part)
        .flatMap { case (u, nbrs) =>
          var m = u
          nbrs.foreach(v => if (v < m) m = v)
          nbrs.iterator.filter(_ > u).map(v => (v, m))
        }
        .distinct(nParts)

    def smallStar(e: org.apache.spark.rdd.RDD[(Long, Long)]) =
      e.map { case (u, v) => if (u > v) (u, v) else (v, u) }
        .groupByKey(part)
        .flatMap { case (u, nbrs) =>
          var m = u
          nbrs.foreach(v => if (v < m) m = v)
          (nbrs.iterator ++ Iterator(u)).filter(_ != m).map(v => (v, m))
        }
        .distinct(nParts)

    // Order-independent fingerprint of the edge set (sum of a 64-bit mix
    // per edge): equal fingerprints across a full large+small round mean
    // the star fixpoint is reached. BigInt sum — exact, no overflow alias.
    def fingerprint(e: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      e.aggregate(BigInt(0))((acc, kv) => {
        var x = kv._1 * 0x9e3779b97f4a7c15L + kv._2
        x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
        x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
        acc + (x ^ (x >>> 31))
      }, _ + _)

    var edges = p.as[(Long, Long)].rdd
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.max(a, b), math.min(a, b)) }
      .distinct(nParts)
      .persist(lvl)
    var prev = fingerprint(edges)
    var converged = edges.isEmpty()
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(edges)).persist(lvl)
      val fp = fingerprint(next)
      converged = fp == prev
      prev = fp
      edges.unpersist(blocking = false)
      edges = next
      i += 1
    }
    // Fixpoint edges are (node, componentMin) stars; roots and isolated
    // nodes keep themselves.
    val stars = edges.toDF("doc_id", "keeper_id")
    ids.select(col(idName).cast("long").as("doc_id"))
      .join(stars, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("keeper_id"), col("doc_id")).as("keeper_id"))
      .orderBy(col("doc_id"))
  }
}
