package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the fixed-point PageRank contract: mass conservation up to
  * documented truncation, symmetry, ordering by centrality, determinism
  * under partitioning, and multi-edge idempotence. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def sym(pairs: (Long, Long)*) =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")

  test("symmetric pair splits rank equally; mass conserved up to truncation") {
    val out = PageRank.ranks(sym((1L, 2L)), "src", "dst", iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    val total = out.values.sum
    // Each round truncates < 1 unit per node at the teleport and < 1 per
    // contribution: loss is tiny relative to Scale.
    assert(total <= PageRank.Scale && total > PageRank.Scale - 1000L)
  }

  test("star center outranks leaves; leaves tie") {
    val out = PageRank.ranks(sym((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)),
        "src", "dst").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(2L, 3L, 4L, 5L).map(out).distinct.size == 1)
    assert(out(1L) > out(2L))
  }

  test("partitioning and duplicate edges do not change ranks") {
    val base = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val a = PageRank.ranks(base.repartition(1), "src", "dst").collect().toSeq
    val b = PageRank.ranks(base.union(base).repartition(13), "src", "dst")
      .collect().toSeq
    assert(a == b)
    val dup = base.union(base).repartition(13)
    assert(PageRank.hits(base.repartition(1), "src", "dst").collect().toSeq ==
      PageRank.hits(dup, "src", "dst").collect().toSeq)
    assert(Lpa.labelPropagation(base.repartition(1), "src", "dst").collect().toSeq ==
      Lpa.labelPropagation(dup, "src", "dst").collect().toSeq)
  }

  test("edge contracts: empty edge sets and null endpoints") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    intercept[IllegalArgumentException] {
      PageRank.ranks(empty, "src", "dst").collect()
    }
    intercept[IllegalArgumentException] {
      PageRank.hits(empty, "src", "dst").collect()
    }
    assert(Lpa.labelPropagation(empty, "src", "dst").collect().isEmpty)
    // a row with a null endpoint is dropped whole: node 7 never appears
    val clean = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val withNulls = (clean.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((Some(7L), None), (None, Some(7L)), (None, None))).toDF("src", "dst")
    val cleanDf = clean.toDF("src", "dst")
    assert(PageRank.ranks(withNulls, "src", "dst").collect().toSeq ==
      PageRank.ranks(cleanDf, "src", "dst").collect().toSeq)
    assert(PageRank.hits(withNulls, "src", "dst").collect().toSeq ==
      PageRank.hits(cleanDf, "src", "dst").collect().toSeq)
    assert(Lpa.labelPropagation(withNulls, "src", "dst").collect().toSeq ==
      Lpa.labelPropagation(cleanDf, "src", "dst").collect().toSeq)
  }

  test("convergence curve == plain-Scala replay; residuals decay (F130)") {
    // exact integer replay of the fixed-point loop over a small graph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L), (4L, 1L))
    val iters = 8
    val d = 85
    val adj = edges.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted).toMap
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = vs.size.toLong
    val t = PageRank.Scale * (100L - d) / 100L / n
    var r = vs.map(_ -> PageRank.Scale / n).toMap
    val want = (1 to iters).map { k =>
      val contrib = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (v <- vs; ds <- adj.get(v); if r(v) != 0L) {
        val c = r(v) * d / 100L / ds.length
        ds.foreach(dst => contrib(dst) += c)
      }
      val next = vs.map(v => v -> (t + contrib(v))).toMap
      val diffs = vs.map(v => math.abs(next(v) - r(v)))
      val row = (k.toLong, diffs.sum, diffs.max,
        diffs.count(_ != 0L).toLong)
      r = next
      row
    }
    val got = PageRank.convergence(edges.toDF("src", "dst"), "src", "dst",
        iterations = iters, dampingPct = d)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .toSeq
    assert(got == want, s"got $got want $want")
    // the curve is a decay: the late-half residual is far below round 1's
    assert(got.last._2 < got.head._2 / 4, s"no decay: $got")
  }

  test("early-stop variants are bit-identical to fixed rounds at the stop round (F137)") {
    // The tolerance-mode contract: whatever round the residual rule
    // stops at, the shipped vector equals the fixed-round run of
    // exactly that length — the early stop changes WHEN you stop, never
    // WHAT a round computes.
    val base = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (2L, 5L))
    val (pr, kPr) = PageRank.ranksUntil(base, "src", "dst",
      tolFp = 100000L, maxIterations = 40)
    assert(kPr < 40, s"rank loop should converge in budget, stop=$kPr")
    assert(pr.collect().toSeq ==
      PageRank.ranks(base, "src", "dst", kPr).collect().toSeq)
    // TrustRank face (same core, seeded teleport)
    val seeds = Seq(1L).toDF("v")
    val (tr, kTr) = PageRank.seededRanksUntil(base, "src", "dst", seeds, "v",
      tolFp = 100000L, maxIterations = 40)
    assert(kTr < 40)
    assert(tr.collect().toSeq ==
      PageRank.seededRanks(base, "src", "dst", seeds, "v", kTr).collect().toSeq)
    // HITS on a directed bipartite graph (combined hub+auth residual)
    val bip = Seq((2L, 1L), (2L, 3L), (4L, 1L), (4L, 5L), (6L, 5L))
      .toDF("src", "dst")
    val (h, kH) = PageRank.hitsUntil(bip, "src", "dst",
      tolFp = 10000000L, maxIterations = 40)
    assert(kH < 40)
    assert(h.collect().toSeq ==
      PageRank.hits(bip, "src", "dst", kH).collect().toSeq)
    // LPA: zero churn (full settlement) on a two-triangle fixture — a
    // 2-node component would oscillate forever under synchronous
    // updates (the classic bipartite label swap), so both components
    // are odd cycles that genuinely settle
    val cliq = sym((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val (lp, kL) = Lpa.labelPropagationUntil(cliq, "src", "dst",
      maxChurn = 0L, maxRounds = 20)
    assert(kL < 20)
    assert(lp.collect().toSeq ==
      Lpa.labelPropagation(cliq, "src", "dst", kL).collect().toSeq)
    // scale-free churn stop (r15): |V| = 6, so 500000 ppm = an absolute
    // threshold of 3 — the ppm face must be bit-identical to the
    // absolute face at the derived count, including the stop round
    val (lpP, kP) = Lpa.labelPropagationUntilPpm(cliq, "src", "dst",
      maxChurnPpm = 500000L, maxRounds = 20)
    val (lpA, kA) = Lpa.labelPropagationUntil(cliq, "src", "dst",
      maxChurn = 3L, maxRounds = 20)
    assert(kP == kA)
    assert(lpP.collect().toSeq == lpA.collect().toSeq)
  }

  test("copurchase edges symmetrize the order-part projection") {
    val li = Seq((100L, 1L), (100L, 2L), (100L, 2L), (101L, 2L), (101L, 3L),
        (102L, 9L))
      .toDF("l_orderkey", "l_partkey")
    val e = PageRank.copurchaseEdges(li).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)))
    // part 9 never co-occurs: not a node
    val nodes = PageRank.copurchaseParts(li).select("part_id")
      .as[Long].collect().toSet
    assert(nodes == Set(1L, 2L, 3L))
  }

  test("trust decays with distance from the seed; unreachable nodes rank 0") {
    // Path 1-2-3-4 plus an isolated pair 8-9; seed = node 1.
    val edges = sym((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L))
    // 40 iterations: 10 leaves parity oscillation on a path graph (trust
    // arrives in alternating waves); near convergence decay is monotone.
    val out = PageRank.seededRanks(edges, "src", "dst",
        Seq(1L).toDF("v"), "v", iterations = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Decay is monotone beyond the first hop (the degree-1 seed hands
    // ALL its damped mass to node 2, which can out-rank it — rank
    // follows degree structure, not raw distance).
    assert(out(2L) > out(3L) && out(3L) > out(4L))
    assert(out(1L) > out(4L))
    assert(out(8L) == 0L && out(9L) == 0L)
    // total trust mass matches the PageRank discipline (≈ Scale)
    val total = out.values.sum
    assert(total <= PageRank.Scale && total > PageRank.Scale - 1000L)
  }

  test("seeds outside the graph are ignored; all-outside seeds reject") {
    val edges = sym((1L, 2L))
    val a = PageRank.seededRanks(edges, "src", "dst", Seq(1L).toDF("v"), "v")
      .collect().toSeq
    val b = PageRank.seededRanks(edges, "src", "dst",
      Seq(1L, 99L).toDF("v"), "v").collect().toSeq
    assert(a == b)
    intercept[IllegalArgumentException] {
      PageRank.seededRanks(edges, "src", "dst", Seq(99L).toDF("v"), "v")
        .collect()
    }
  }

  test("spam mass: far-from-seed nodes carry high ppm, the seed near 0") {
    // Seed community 1-2-3 tightly linked; spam farm 10-11-12 linked to
    // itself only, reachable from nowhere trusted.
    val edges = sym((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L))
    val out = PageRank.spamMass(edges, "src", "dst", Seq(1L).toDF("v"), "v")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("pr_fp"), r.getAs[Long]("tr_fp"),
          r.getAs[Long]("spam_mass_ppm"))).toMap
    // the spam triangle gets PR mass but zero trust: ppm = 1e6 exactly
    for (v <- Seq(10L, 11L, 12L)) {
      assert(out(v)._2 == 0L && out(v)._3 == 1000000L)
    }
    // the seed's own trust exceeds its open rank: ppm clamps at 0
    assert(out(1L)._3 == 0L)
    assert(out(2L)._3 < 500000L)
  }

  test("fused spam-mass loops == the single-chain faces run separately") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    // fixed rounds: pr_fp is ranks, tr_fp is seededRanks
    val edges = sym((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (10L, 11L),
      (11L, 12L), (10L, 12L), (4L, 10L))
    val seeds = Seq(1L).toDF("v")
    val fixed = PageRank.spamMass(edges, "src", "dst", seeds, "v", 7)
    assert(rows(fixed.select("node", "pr_fp")) ==
      rows(PageRank.ranks(edges, "src", "dst", 7)))
    assert(rows(fixed.select("node", "tr_fp")) ==
      rows(PageRank.seededRanks(edges, "src", "dst", seeds, "v", 7)))
    // tolerance mode: each chain's vector and stop round equal its own
    // loop's. In the first graph the PageRank chain stops first; in the
    // second the seeds are a whole triangle, whose uniform trust is
    // already stationary, so the trust chain stops first — both
    // straggler directions run
    val cases = Seq(
      sym((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
        (6L, 4L)) -> Seq(1L),
      sym((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L),
        (12L, 13L), (13L, 14L)) -> Seq(1L, 2L, 3L))
    val order = cases.map { case (g, s) =>
      val sd = s.toDF("v")
      val (pr, kPr) = PageRank.ranksUntil(g, "src", "dst", 1000000L, 40)
      val (tr, kTr) = PageRank.seededRanksUntil(g, "src", "dst", sd, "v",
        1000000L, 40)
      val both = PageRank.spamMassUntil(g, "src", "dst", sd, "v",
        1000000L, 40)
      assert(kPr < 40 && kTr < 40)
      assert(rows(both.select("node", "pr_fp")) == rows(pr))
      assert(rows(both.select("node", "tr_fp")) == rows(tr))
      val stops = both.select("pr_stop", "tr_stop").distinct().collect()
      assert(stops.length == 1)
      assert((stops.head.getLong(0), stops.head.getLong(1)) ==
        ((kPr.toLong, kTr.toLong)))
      kPr.compare(kTr).sign
    }
    assert(order.toSet == Set(-1, 1), s"stop orders $order")
  }

  test("more central part ranks higher in the copurchase graph") {
    // part 5 co-occurs with everyone; 6/7/8 only with 5.
    val li = Seq((1L, 5L), (1L, 6L), (2L, 5L), (2L, 7L), (3L, 5L), (3L, 8L))
      .toDF("l_orderkey", "l_partkey")
    val out = PageRank.copurchaseParts(li)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(5L) > out(6L))
    assert(out(6L) == out(7L) && out(7L) == out(8L))
  }

  test("LPA == plain-Scala reference over random directed graphs (r10)") {
    val rnd = new scala.util.Random(23)
    for (trial <- 0 until 3) {
      val n = 40
      val edges = (0 until 160).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val got = Lpa.labelPropagation(edges.toDF("src", "dst"), "src", "dst", 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: synchronous rounds, mode with smallest-label ties
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      var lab = nodes.map(v => v -> v).toMap
      for (_ <- 1 to 4) {
        val in = edges.groupBy(_._2).view
          .mapValues(_.map(e => lab(e._1))).toMap
        lab = nodes.map { v =>
          v -> in.get(v).map { ls =>
            val counts = ls.groupBy(identity).view.mapValues(_.size)
            counts.toSeq.minBy { case (l, c) => (-c, l) }._1
          }.getOrElse(lab(v))
        }.toMap
      }
      assert(got == lab, s"trial $trial")
    }
  }

  test("LPA convergence curve == plain-Scala churn replay (F135)") {
    val rnd = new scala.util.Random(31)
    val n = 30
    val edges = (0 until 120).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val rounds = 4
    val got = Lpa.convergence(edges.toDF("src", "dst"), "src", "dst", rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // reference replay: per-round churn + distinct-community count
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var lab = nodes.map(v => v -> v).toMap
    val want = (1 to rounds).map { k =>
      val in = edges.groupBy(_._2).view
        .mapValues(_.map(e => lab(e._1))).toMap
      val next = nodes.map { v =>
        v -> in.get(v).map { ls =>
          val counts = ls.groupBy(identity).view.mapValues(_.size)
          counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }.getOrElse(lab(v))
      }.toMap
      val changed = nodes.count(v => next(v) != lab(v)).toLong
      lab = next
      (k.toLong, changed, lab.values.toSet.size.toLong)
    }
    assert(got == want, s"got $got want $want")
    // labels flood inward: round-1 churn dominates, communities shrink
    assert(got.head._2 >= got.last._2)
    assert(got.head._3 >= got.last._3)
  }

  test("HITS convergence curve == plain-Scala residual replay (F136)") {
    val edges = Seq((0L, 101L), (0L, 103L), (2L, 101L), (2L, 105L),
      (4L, 103L), (4L, 105L), (6L, 101L))
    val iters = 4
    val got = PageRank.hitsConvergence(edges.toDF("src", "dst"),
        "src", "dst", iters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // exact integer replay of the double half-step + L1 deltas
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    def half(vec: Map[Long, Long], along: Seq[(Long, Long)]): Map[Long, Long] = {
      val raw = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      along.foreach { case (s, d) => if (vec(s) != 0L) raw(d) += vec(s) }
      val total = raw.values.sum
      nodes.map(v => v -> (if (total == 0L || raw(v) == 0L) 0L
        else (BigInt(raw(v)) * PageRank.Scale / total).toLong)).toMap
    }
    val rev = edges.map { case (s, d) => (d, s) }
    var hub = nodes.map(_ -> PageRank.Scale / n).toMap
    var auth = hub
    val want = (1 to iters).map { k =>
      val (ph, pa) = (hub, auth)
      auth = half(hub, edges)
      hub = half(auth, rev)
      (k.toLong, nodes.map(v => math.abs(hub(v) - ph(v))).sum,
        nodes.map(v => math.abs(auth(v) - pa(v))).sum)
    }
    assert(got == want, s"got $got want $want")
    // power iteration settles: the late residuals sit far below round 1
    assert(got.last._2 < got.head._2 / 4 && got.last._3 < got.head._3 / 4)
  }

  test("HITS == plain-Scala reference over a random bipartite graph (r10)") {
    val rnd = new scala.util.Random(31)
    val edges = (0 until 120).map(_ =>
      (rnd.nextInt(15).toLong * 2, rnd.nextInt(10).toLong * 2 + 1)).distinct
    val got = PageRank.hits(edges.toDF("src", "dst"), "src", "dst", 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // reference replaying the exact integer arithmetic
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val in = edges.groupBy(_._2).view.mapValues(_.map(_._1).distinct).toMap
    val scale = PageRank.Scale
    def half(vec: Map[Long, Long], along: Map[Long, Seq[Long]]): Map[Long, Long] = {
      val raw = scala.collection.mutable.Map.empty[Long, Long]
      along.foreach { case (u, outs) =>
        val x = vec(u)
        if (x != 0L) outs.foreach(d => raw(d) = raw.getOrElse(d, 0L) + x)
      }
      val total = raw.values.sum
      nodes.map { v =>
        val x = raw.getOrElse(v, 0L)
        v -> (if (total == 0L || x == 0L) 0L
              else (BigInt(x) * scale / total).toLong)
      }.toMap
    }
    var hub = nodes.map(v => v -> scale / nodes.length).toMap
    var auth = hub
    for (_ <- 1 to 4) {
      auth = half(hub, out)
      hub = half(auth, in)
    }
    assert(got == nodes.map(v => v -> ((hub(v), auth(v)))).toMap)
  }

  test("LPA: cliques converge to one label, components never merge, ties go low (r10)") {
    // Two disjoint symmetric triangles: each converges to its min id,
    // and no label crosses the component gap.
    val twoCliques = sym((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val out = Lpa.labelPropagation(twoCliques, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(out(_) == 1L), out.toString)
    assert(Seq(10L, 11L, 12L).forall(out(_) == 10L), out.toString)
    // directed chain: the source has no in-edges and keeps its own label
    val chain = Seq((1L, 2L)).toDF("src", "dst")
    val c = Lpa.labelPropagation(chain, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(1L) == 1L && c(2L) == 1L)
    // mode tie (labels 5 and 7 once each) elects the smaller, in ONE round
    val tie = Seq((5L, 9L), (7L, 9L)).toDF("src", "dst")
    val t = Lpa.labelPropagation(tie, "src", "dst", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t(9L) == 5L)
    // determinism
    assert(Lpa.labelPropagation(twoCliques, "src", "dst").collect().toSeq ==
      Lpa.labelPropagation(twoCliques, "src", "dst").collect().toSeq)
  }

  test("HITS: bipartite hubs/authorities separate; symmetric graph degenerates (r10)") {
    // Orders 1-3 all buy part 5; order 1 (the big basket) also buys 6, 7.
    val li = Seq((1L, 5L), (1L, 6L), (1L, 7L), (2L, 5L), (3L, 5L))
      .toDF("l_orderkey", "l_partkey")
    val out = PageRank.orderPartHits(li)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("hub_fp"), r.getAs[Long]("auth_fp"))).toMap
    // orders are pure hubs, parts pure authorities (bipartite direction)
    out.foreach { case ((kind, _), (h, a)) =>
      if (kind == "order") assert(a == 0L) else assert(h == 0L)
    }
    // part 5 (bought by every order) out-ranks the big basket's extras
    assert(out(("part", 5L))._2 > out(("part", 6L))._2)
    assert(out(("part", 6L))._2 == out(("part", 7L))._2)
    // order 1's basket hits 3 parts incl. the authority: top hub
    assert(out(("order", 1L))._1 > out(("order", 2L))._1)
    assert(out(("order", 2L))._1 == out(("order", 3L))._1)
    // L1 discipline: each vector's mass stays ~Scale (floor leaks only)
    val hubs = out.values.map(_._1).sum
    val auths = out.values.map(_._2).sum
    assert(hubs <= PageRank.Scale && hubs > PageRank.Scale - 100L)
    assert(auths <= PageRank.Scale && auths > PageRank.Scale - 100L)
    // a symmetric graph collapses the pair: hub == auth everywhere
    val symOut = PageRank.hits(
        sym((1L, 2L), (2L, 3L), (1L, 3L)), "src", "dst")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(symOut.forall { case (h, a) => h == a })
    // determinism across runs
    val again = PageRank.orderPartHits(li)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("hub_fp"), r.getAs[Long]("auth_fp"))).toMap
    assert(again == out)
  }
}
