package graft.analytics

import graft.{GraphPaths, SparkSpec}
import graft.dedup.Dedup

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** The driver-local graph layout against the distributed one: every
  * PageRank, TrustRank, spam-mass, HITS, LPA and components face returns
  * bit-identical rows (and stop rounds) on both, the size gate picks the
  * layout, and the local layout runs one job however many rounds. */
class GraphPathsSpec extends SparkSpec with GraphPaths {
  import spark.implicits._

  private def rows(df: DataFrame) = df.collect().toSeq

  /** Every face over `edges` (columns src, dst) with `seeds` (column v). */
  private def faces(edges: DataFrame, seeds: DataFrame): Seq[(String, () => Any)] = Seq(
    "ranks" -> (() => rows(PageRank.ranks(edges, "src", "dst", 4))),
    "ranksUntil" -> (() => {
      val (df, k) = PageRank.ranksUntil(edges, "src", "dst", 100000L, 30); (rows(df), k)
    }),
    "seededRanks" -> (() => rows(PageRank.seededRanks(edges, "src", "dst", seeds, "v", 4))),
    "seededRanksUntil" -> (() => {
      val (df, k) = PageRank.seededRanksUntil(edges, "src", "dst", seeds, "v", 100000L, 30)
      (rows(df), k)
    }),
    "convergence" -> (() => rows(PageRank.convergence(edges, "src", "dst", 5))),
    "spamMass" -> (() => rows(PageRank.spamMass(edges, "src", "dst", seeds, "v", 4))),
    "spamMassUntil" -> (() =>
      rows(PageRank.spamMassUntil(edges, "src", "dst", seeds, "v", 1000000L, 30))),
    "hits" -> (() => rows(PageRank.hits(edges, "src", "dst", 4))),
    "hitsUntil" -> (() => {
      val (df, k) = PageRank.hitsUntil(edges, "src", "dst", 10000000L, 30); (rows(df), k)
    }),
    "hitsConvergence" -> (() => rows(PageRank.hitsConvergence(edges, "src", "dst", 5))),
    "labelPropagation" -> (() => rows(Lpa.labelPropagation(edges, "src", "dst", 4))),
    "labelPropagationUntil" -> (() => {
      val (df, k) = Lpa.labelPropagationUntil(edges, "src", "dst", 1L, 20); (rows(df), k)
    }),
    "labelPropagationUntilPpm" -> (() => {
      val (df, k) = Lpa.labelPropagationUntilPpm(edges, "src", "dst", 100000L, 20)
      (rows(df), k)
    }),
    "lpaConvergence" -> (() => rows(Lpa.convergence(edges, "src", "dst", 5))))

  /** A face's value, or the class of what it threw. */
  private def outcome(f: () => Any): Any =
    try f() catch { case e: IllegalArgumentException => e.getClass }

  private def sameOnBothPaths(edges: DataFrame, seeds: DataFrame): Unit =
    faces(edges, seeds).foreach { case (name, f) =>
      val local = outcome(f)
      val dist = distributed(outcome(f))
      assert(local == dist, s"$name differs: local $local, distributed $dist")
    }

  private def randomEdges(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)((rnd.nextInt(n).toLong * 7 - 20, rnd.nextInt(n).toLong * 7 - 20))
  }

  test("every face is bit-identical on both layouts over random directed graphs") {
    for (trial <- 0 until 3) {
      // self-loops and multi-edges included: both layouts dedup per node
      val e = randomEdges(trial, 25 + 10 * trial, 90)
      sameOnBothPaths(e.toDF("src", "dst"), Seq(-20L, 15L, 999L).toDF("v"))
    }
  }

  test("edge cases agree on both layouts") {
    val seeds = Seq(1L, 99L).toDF("v")
    // empty edge set: the rank faces reject, the label faces are empty
    sameOnBothPaths(Seq.empty[(Long, Long)].toDF("src", "dst"), seeds)
    // a single node (a self-loop) and a lone edge
    sameOnBothPaths(Seq((1L, 1L)).toDF("src", "dst"), seeds)
    sameOnBothPaths(Seq((1L, 2L)).toDF("src", "dst"), seeds)
    // self-loops and multi-edges
    sameOnBothPaths(Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 3L))
      .toDF("src", "dst"), seeds)
    // null endpoints are dropped on both
    sameOnBothPaths(Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)),
      (Some(2L), Some(1L)), (None, None)).toDF("src", "dst"), seeds)
    // seeds all outside the graph: TrustRank rejects on both
    sameOnBothPaths(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), Seq(7L).toDF("v"))
  }

  test("components are identical on both layouts: absent endpoints, duplicate ids, cut-off") {
    val rnd = new scala.util.Random(5)
    for (trial <- 0 until 4) {
      val pairs = Seq.fill(30)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .toDF("id_a", "id_b")
      // ids cover part of the pair endpoints, plus ids off the pair graph
      // and duplicate rows; endpoints outside ids only carry labels
      val ids = ((0L until 40L).filter(_ % 3 != trial % 3) ++ Seq(100L, 101L, 5L, 100L))
        .toDF("doc_id")
      for (maxIter <- Seq(1, 2, 20)) {
        val local = rows(Dedup.clusterKeepers(ids, pairs, maxIter))
        val dist = distributed(rows(Dedup.clusterKeepers(ids, pairs, maxIter)))
        assert(local == dist, s"trial $trial maxIter $maxIter")
      }
    }
    // a chain cut off by maxIter: the label has not reached the far end
    val chain = (1L until 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ids = (1L to 6L).toDF("doc_id")
    val cut = rows(Dedup.clusterKeepers(ids, chain, maxIter = 2))
    assert(cut == distributed(rows(Dedup.clusterKeepers(ids, chain, maxIter = 2))))
    assert(cut.map(_.getLong(1)) == Seq(1L, 1L, 1L, 2L, 3L, 4L))
    // no pairs at all: every id keeps itself, duplicates merge
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val dupIds = Seq(3L, 1L, 3L).toDF("doc_id")
    assert(rows(Dedup.clusterKeepers(dupIds, none)).map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((1L, 1L), (3L, 3L)))
    assert(distributed(rows(Dedup.clusterKeepers(dupIds, none))) ==
      rows(Dedup.clusterKeepers(dupIds, none)))
  }

  /** Jobs started while `body` runs. */
  private def jobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      TestBus.drain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  test("the gate: one job for any round count, one more when skewed, one edge over it distributed") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L), (4L, 2L)).toDF("src", "dst")
    val exact = 16L * 6
    // a budget whose per-partition share holds every partition: one job
    val roomy = s"${exact * 4}b"
    val (fit1, j1) = withThreshold(roomy)(jobs(rows(PageRank.ranks(e, "src", "dst", 1))))
    val (fit6, j6) = withThreshold(roomy)(jobs(rows(PageRank.ranks(e, "src", "dst", 6))))
    assert(j1 == 1 && j6 == 1, s"local path ran $j1 / $j6 jobs")
    val (lpa, jl) = withThreshold(roomy)(jobs(rows(Lpa.labelPropagation(e, "src", "dst", 5))))
    val (hub, jh) = withThreshold(roomy)(jobs(rows(PageRank.hits(e, "src", "dst", 5))))
    assert(jl == 1 && jh == 1, s"local LPA ran $jl jobs, HITS $jh")
    // all edges in one of four partitions, at exactly |E|·16 bytes: past
    // that partition's share, so one more job collects it, still local
    val sc = spark.sparkContext
    val skewed = sc.parallelize(e.as[(Long, Long)].collect().toSeq, 1)
      .union(sc.parallelize(Seq.empty[(Long, Long)], 3)).toDF("src", "dst")
    val (sk, js) = withThreshold(s"${exact}b")(jobs(rows(PageRank.ranks(skewed, "src", "dst", 6))))
    assert(js == 2 && sk == fit6, s"skewed local path ran $js jobs")
    // one edge over the budget: the distributed loop, same ranks
    val (over, jo) = withThreshold(s"${exact - 16}b")(jobs(rows(PageRank.ranks(skewed, "src", "dst", 6))))
    assert(jo > 2, s"over the budget ran $jo jobs")
    assert(over == fit6)
    assert(fit1 != fit6)
    assert(lpa == distributed(rows(Lpa.labelPropagation(e, "src", "dst", 5))))
    assert(hub == distributed(rows(PageRank.hits(e, "src", "dst", 5))))
  }

  test("the distributed loops leave no persisted RDD behind") {
    // materialize=none: results are not pinned, so any RDD still
    // persisted after the call is a block the loop failed to drop
    spark.conf.set(graft.Mat.ConfKey, "none")
    try distributed {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val ids = (1L to 8L).toDF("doc_id")
      val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 9L)).toDF("id_a", "id_b")
      rows(Dedup.clusterKeepers(ids, pairs))
      assert(sc.getPersistentRDDs.keySet == before, "clusterKeepers leaked")
      val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
      rows(PageRank.ranksUntil(e, "src", "dst", 1000L, 10)._1)
      rows(Lpa.convergence(e, "src", "dst", 3))
      assert(sc.getPersistentRDDs.keySet == before, "a rank loop leaked")
    } finally spark.conf.unset(graft.Mat.ConfKey)
  }
}
