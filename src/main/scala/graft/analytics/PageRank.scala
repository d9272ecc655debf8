package graft.analytics

import graft.Mat.Pinnable
import graft.analytics.Iterate.{Graph, Keep, prepareGraph}

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] PageRank in integer fixed-point arithmetic (`part_pagerank`
  * query) — graph centrality for catalog/link analysis, built so the
  * result is EXACTLY reproducible across engines and therefore carries a
  * full DuckDB oracle (rare for an iterative float algorithm).
  *
  * Why integers: float PageRank sums in-neighbor contributions, and
  * float addition is non-associative — a different partition/reduce
  * order produces a different last bit, which a hash-compare oracle
  * would flag. Here every rank is a fixed-point long (`scale` = 1e12
  * units = rank 1.0 spread over the graph), contributions use long
  * division, and integer addition IS associative — any reduce order,
  * any partitioning, any engine gives bit-identical ranks.
  *
  * Per iteration (damping d as an integer percentage):
  *   contrib(u→v) = (r(u)·d ∕ 100) ∕ outdeg(u)        (long division)
  *   r'(v)        = teleport + Σ contrib(u→v),
  *   teleport     = (scale·(100−d) ∕ 100) ∕ |V|
  * Truncation leaks a few units per node per round — bounded by
  * |V|·iterations units total (≈1e-7 of the mass here), deterministic,
  * and identical in the oracle, which replays the same divisions.
  *
  * Execution shape: the GraphX-style genuine-iterative RDD exception
  * (see [[graft.dedup.Dedup.clusterKeepers]] for the rationale — a
  * DataFrame loop would pay Catalyst replanning per round). Every face
  * runs on [[Iterate]]: the graph is prepared once (adjacency and node
  * set hash-partitioned and persisted), so each round's adjacency⋈ranks
  * join is narrow and the only per-round movement is the reduceByKey of
  * contributions — one exchange per iteration, the irreducible PageRank
  * cost. Dangling nodes cannot occur on a symmetrized graph (every node
  * has out-edges); for general edge lists the mass of dangling nodes
  * simply leaks, matching the oracle's replay.
  *
  * Scale: |E| edges per round through one exchange; partition count
  * follows the graph size, not the corpus-scan shuffle width.
  */
object PageRank {

  val Scale: Long = 1000000000000L

  private type Vec = RDD[(Long, Long)]
  private type Pair = RDD[(Long, (Long, Long))]
  private type Tele = RDD[(Long, (Long, Long))]

  /** Ranks over the node set of `edges` (directed (src, dst) pairs;
    * duplicates are deduplicated per node while building the adjacency,
    * so callers may emit multi-edges freely; rows with a null endpoint
    * are dropped): (node, rank_fp) with rank_fp in `Scale` fixed-point
    * units, ordered by node. Throws IllegalArgumentException on a graph
    * with no nodes. */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            iterations: Int = 10, dampingPct: Int = 85): DataFrame =
    rankChain(edges, srcCol, dstCol, None, dampingPct) { (g, it) =>
      it.fixed(iterations)(g.result(_, "node", "rank_fp"))
    }

  /** [EXT] [[ranks]] with a convergence-driven early stop: iterate until
    * the round's L1 residual Σ|r_k − r_{k−1}| drops below `tolFp` (in
    * `Scale` fixed-point units) or `maxIterations` is hit, whichever
    * first. Returns (ranks, stop round); the vector is BIT-identical to
    * `ranks(iterations = stop)` — same round arithmetic, plus one
    * residual action per round over the persisted node vectors. Worth
    * it when rounds are expensive and the curve is steep: the measured
    * fixture curve drops 4 decades in 6 rounds, so a tolerance stop
    * saves 30-40% of the |E|-shuffle rounds. */
  def ranksUntil(edges: DataFrame, srcCol: String, dstCol: String,
                 tolFp: Long, maxIterations: Int = 50,
                 dampingPct: Int = 85): (DataFrame, Int) =
    rankChain(edges, srcCol, dstCol, None, dampingPct)(rankUntil(tolFp, maxIterations))

  /** [[ranksUntil]] for the TrustRank teleport: BIT-identical to
    * `seededRanks(iterations = stop)`. */
  def seededRanksUntil(edges: DataFrame, srcCol: String, dstCol: String,
                       seeds: DataFrame, seedCol: String,
                       tolFp: Long, maxIterations: Int = 50,
                       dampingPct: Int = 85): (DataFrame, Int) =
    rankChain(edges, srcCol, dstCol, Some(seeds.select(col(seedCol).cast("long"))),
      dampingPct)(rankUntil(tolFp, maxIterations))

  /** [EXT] TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004): PageRank
    * with teleport restricted to a trusted SEED set — trust flows out of
    * the seeds along edges and decays with distance; nodes unreachable
    * from any seed rank 0. Initial mass and per-round teleport are
    * `Scale ∕ |S∩V|` and `Scale·(100−d) ∕ 100 ∕ |S∩V|` on seeds, 0
    * elsewhere, so total trust mass matches [[ranks]]'s total rank mass
    * and the two are directly comparable (the spam-mass premise). Seeds
    * outside the node set are ignored; at least one must be in it
    * (IllegalArgumentException otherwise). Output as [[ranks]]. */
  def seededRanks(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedCol: String,
                  iterations: Int = 10, dampingPct: Int = 85): DataFrame =
    rankChain(edges, srcCol, dstCol, Some(seeds.select(col(seedCol).cast("long"))),
        dampingPct) { (g, it) =>
      it.fixed(iterations)(g.result(_, "node", "rank_fp"))
    }

  /** F130: the per-round convergence curve of [[ranks]]
    * (`part_pagerank_convergence` query), so "10 rounds suffice" is a
    * measured decay curve, not an argument: round k's row is
    * (round, l1_delta_fp = Σ|r_k − r_{k−1}|, linf_delta_fp =
    * max|r_k − r_{k−1}|, n_changed = #{v : r_k(v) ≠ r_{k−1}(v)}), in
    * `Scale` fixed-point units — integer arithmetic end to end, so the
    * curve hash-matches the oracle's unrolled replay. `iterations` rows,
    * ordered by round; the whole curve is one job sharing the rank
    * chain's shuffles. */
  def convergence(edges: DataFrame, srcCol: String, dstCol: String,
                  iterations: Int = 10, dampingPct: Int = 85): DataFrame =
    rankChain(edges, srcCol, dstCol, None, dampingPct) { (g, it) =>
      it.curve(iterations) { (k, next, prev) =>
        next.join(prev).map { case (_, (a, b)) =>
          val d = math.abs(a - b)
          (k, (d, d, if (d != 0L) 1L else 0L))
        }
      } { ds =>
        g.result(g.sc.union(ds)
            .reduceByKey((a, b) => (a._1 + b._1, math.max(a._2, b._2), a._3 + b._3))
            .map { case (k, (s, m, c)) => (k, s, m, c) },
          "round", "l1_delta_fp", "linf_delta_fp", "n_changed")
      }
    }

  /** [EXT] Spam mass (Gyöngyi et al. 2006, `trust_propagation` query):
    * how much of a node's PageRank is NOT accounted for by trust flowing
    * from the seed set. Both rank vectors carry total mass ≈ `Scale`
    * (matched teleport totals), so the comparison is direct:
    * spam_mass_ppm = max(0, pr − tr)·10⁶ ∕ pr in integer parts-per-
    * million — near 10⁶ means the node's rank comes almost entirely from
    * outside the trusted neighborhood (the spam signal); trusted hubs
    * sit near 0. Long arithmetic end to end (pr ≤ Scale = 10¹², ×10⁶
    * stays far under Long.Max), bit-identical in the oracle. Output
    * (node, pr_fp, tr_fp, spam_mass_ppm) ordered by node; pr_fp equals
    * [[ranks]] and tr_fp [[seededRanks]] at the same round count — the
    * two chains run fused, one contribution shuffle per round.
    *
    * This fixed-round face is the ORACLE twin (an unrolled SQL chain
    * needs a static round count); the production default is
    * [[spamMassUntil]]. */
  def spamMass(edges: DataFrame, srcCol: String, dstCol: String,
               seeds: DataFrame, seedCol: String,
               iterations: Int = 10, dampingPct: Int = 85): DataFrame =
    pairChain(edges, srcCol, dstCol, seeds, seedCol, dampingPct) { (g, _, _, it) =>
      it.fixed(iterations)(both => g.frame(flat(both), "node", "pr_fp", "tr_fp").pinned)
    }.withColumn("spam_mass_ppm", spamPpm).orderBy(col("node"))

  /** PRODUCTION face of the spam-mass triple: both rank vectors
    * tolerance-stopped, each on its OWN residual curve (open PageRank
    * spreads mass everywhere, seeded trust concentrates, so the two stop
    * rounds are independent). tolFp = 10⁶ fp units = one millionth of
    * either vector's total mass; `maxIterations` is a safety rail.
    * Output (node, pr_fp, tr_fp, spam_mass_ppm, pr_stop, tr_stop)
    * ordered by node; (pr_fp, pr_stop) equals [[ranksUntil]] and
    * (tr_fp, tr_stop) [[seededRanksUntil]] run separately. Fixed-round
    * twin: [[spamMass]]. */
  def spamMassUntil(edges: DataFrame, srcCol: String, dstCol: String,
                    seeds: DataFrame, seedCol: String,
                    tolFp: Long = 1000000L, maxIterations: Int = 50,
                    dampingPct: Int = 85): DataFrame = {
    require(tolFp >= 0L, "tolFp is a non-negative fixed-point residual")
    val (both, kPr, kTr) =
      pairChain(edges, srcCol, dstCol, seeds, seedCol, dampingPct) {
          (g, telePr, teleTr, it) =>
        def out(v: Pair, kPr: Int, kTr: Int) =
          (g.frame(flat(v), "node", "pr_fp", "tr_fp").pinned, kPr, kTr)
        // Joint rounds while BOTH chains run — one residual action serves
        // both stop rules ...
        var done = (false, false)
        it.until(maxIterations) { (next, prev) =>
          val (l1p, l1t) = next.join(prev).map { case (_, ((ap, at), (bp, bt))) =>
            (math.abs(ap - bp), math.abs(at - bt))
          }.fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
          done = (l1p < tolFp, l1t < tolFp)
          done._1 || done._2
        } { (v, k) =>
          if (done._1 == done._2 || k == maxIterations) out(v, k, k)
          else {
            // ... then the straggler goes on alone on the single-chain
            // round with the other vector frozen, which is exactly what
            // "its own loop ended" means.
            val prFrozen = done._1
            rankIterate(g, if (prFrozen) teleTr else telePr, dampingPct,
                v.mapValues(p => if (prFrozen) p._2 else p._1))
              .until(maxIterations - k)(l1(_, _) < tolFp) { (s, ks) =>
                val joined = v.join(s).mapValues { case ((p, t), x) =>
                  if (prFrozen) (p, x) else (x, t)
                }
                if (prFrozen) out(joined, k, k + ks) else out(joined, k + ks, k)
              }
          }
        }
      }
    both.withColumn("spam_mass_ppm", spamPpm)
      .select(col("node"), col("pr_fp"), col("tr_fp"), col("spam_mass_ppm"),
        lit(kPr.toLong).as("pr_stop"), lit(kTr.toLong).as("tr_stop"))
      .orderBy(col("node"))
  }

  /** ONE rank round over the prepared graph — shared by every rank face,
    * so their bit-identity contracts hold by construction. Zero-rank
    * sources contribute nothing; no-in-edge nodes fall back to teleport
    * alone (the left join is narrow — both sides share `part`). */
  private def rankRound(adj: RDD[(Long, Array[Long])], tele: Tele,
                        part: HashPartitioner, dampingPct: Int)(ranks: Vec): Vec = {
    val contribs = adj.join(ranks)
      .flatMap { case (_, (dsts, r)) =>
        if (r == 0L) Iterator.empty
        else {
          val c = r * dampingPct / 100L / dsts.length
          dsts.iterator.map(d => (d, c))
        }
      }
      .reduceByKey(part, _ + _)
    tele.leftOuterJoin(contribs)
      .mapValues { case ((t, _), c) => t + c.getOrElse(0L) }
  }

  /** ONE rank round over TWO vectors at once — the [[rankRound]]
    * arithmetic applied componentwise to a (pr, tr) pair riding one RDD,
    * so the spam-mass chains share one contribution shuffle per round
    * and each component stays bit-identical to [[rankRound]] alone (a
    * zero rank contributes the same 0 it used to skip). */
  private def rankRound2(adj: RDD[(Long, Array[Long])],
                         tele2: RDD[(Long, ((Long, Long), (Long, Long)))],
                         part: HashPartitioner, dampingPct: Int)(ranks: Pair): Pair = {
    val contribs = adj.join(ranks)
      .flatMap { case (_, (dsts, (rp, rt))) =>
        if (rp == 0L && rt == 0L) Iterator.empty
        else {
          val cp = rp * dampingPct / 100L / dsts.length
          val ct = rt * dampingPct / 100L / dsts.length
          dsts.iterator.map(d => (d, (cp, ct)))
        }
      }
      .reduceByKey(part, (a, b) => (a._1 + b._1, a._2 + b._2))
    tele2.leftOuterJoin(contribs)
      .mapValues { case (((tp, _), (tt, _)), c) =>
        val (cp, ct) = c.getOrElse((0L, 0L))
        (tp + cp, tt + ct)
      }
  }

  /** Per-node (teleport, initial rank), persisted with the graph:
    * uniform over all nodes for PageRank, restricted to the in-graph
    * seed set for TrustRank. Partitioned like the adjacency, so each
    * round's final join stays narrow. */
  private def teleOf(g: Graph, seedsOpt: Option[DataFrame], dampingPct: Int): Tele =
    g.pin(seedsOpt match {
      case None =>
        require(g.n > 0, "PageRank needs a non-empty graph")
        val t = Scale * (100L - dampingPct) / 100L / g.n
        val r0 = Scale / g.n
        g.nodes.mapValues(_ => (t, r0))
      case Some(seeds) =>
        val spark = seeds.sparkSession
        import spark.implicits._
        val seedRdd = seeds.filter(col(seeds.columns.head).isNotNull)
          .distinct().as[Long].rdd.map(v => (v, ())).partitionBy(g.part)
        val inGraph = g.nodes.join(seedRdd).mapValues(_ => ())
        val s = inGraph.count()
        require(s > 0, "TrustRank needs at least one seed inside the graph")
        val t = Scale * (100L - dampingPct) / 100L / s
        val r0 = Scale / s
        g.nodes.leftOuterJoin(inGraph)
          .mapValues { case (_, m) => if (m.isDefined) (t, r0) else (0L, 0L) }
    })

  /** The single-chain rank loop from `start`. */
  private def rankIterate(g: Graph, tele: Tele, dampingPct: Int,
                          start: Vec): Iterate[Vec] =
    Iterate[Vec](_.vec(start))((r, k) =>
      k.vec(rankRound(g.adj, tele, g.part, dampingPct)(r)))

  /** Prepares the graph and its teleport and hands `run` the rank loop. */
  private def rankChain[A](edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: Option[DataFrame], dampingPct: Int)(
                           run: (Graph, Iterate[Vec]) => A): A = {
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct is a percentage")
    prepareGraph(edges, srcCol, dstCol) { g =>
      val tele = teleOf(g, seeds, dampingPct)
      run(g, rankIterate(g, tele, dampingPct, tele.mapValues(_._2)))
    }
  }

  private def rankUntil(tolFp: Long, maxIterations: Int)
      : (Graph, Iterate[Vec]) => (DataFrame, Int) = {
    require(tolFp >= 0L, "tolFp is a non-negative fixed-point residual")
    (g, it) => it.until(maxIterations)(l1(_, _) < tolFp)((r, k) =>
      (g.result(r, "node", "rank_fp"), k))
  }

  /** The fused (pr, tr) loop of the spam-mass faces over one prepared
    * graph; `run` also gets the two single-chain teleports. */
  private def pairChain[A](edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String, dampingPct: Int)(
                           run: (Graph, Tele, Tele, Iterate[Pair]) => A): A = {
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct is a percentage")
    prepareGraph(edges, srcCol, dstCol) { g =>
      val telePr = teleOf(g, None, dampingPct)
      val teleTr = teleOf(g, Some(seeds.select(col(seedCol).cast("long"))), dampingPct)
      val tele2 = g.pin(telePr.join(teleTr))
      run(g, telePr, teleTr, Iterate[Pair](k =>
          k.vec(tele2.mapValues { case ((_, rp), (_, rt)) => (rp, rt) }))((r, k) =>
        k.vec(rankRound2(g.adj, tele2, g.part, dampingPct)(r))))
    }
  }

  /** Σ|a − b| over two co-partitioned vectors — one narrow join, one action. */
  private def l1(a: Vec, b: Vec): Long =
    a.join(b).map { case (_, (x, y)) => math.abs(x - y) }.fold(0L)(_ + _)

  private def flat(v: Pair) = v.map { case (n, (p, t)) => (n, p, t) }

  // DIV, not `/`: Spark's `/` on longs is double division — the
  // truncating integer quotient is what the oracle replays.
  private def spamPpm: Column = expr("CASE WHEN pr_fp > 0 THEN " +
    "greatest(pr_fp - tr_fp, 0L) * 1000000L DIV pr_fp ELSE 0L END")

  /** [EXT] HITS hubs & authorities (Kleinberg 1999) in the same
    * integer fixed-point discipline as [[ranks]]: authority(v) =
    * Σ hub(u) over in-edges u→v, hub(u) = Σ auth(v) over out-edges,
    * each vector L1-normalized to `Scale` after its half-step (rankings
    * are normalization-invariant, and an L1 step is exact integer
    * arithmetic where L2 would need a square root). Output (node,
    * hub_fp, auth_fp) ordered by node; rows with a null endpoint are
    * dropped, and a graph with no nodes throws IllegalArgumentException.
    * On a SYMMETRIC graph hub == auth every round — run it on a DIRECTED
    * graph, e.g. the bipartite order→part projection ([[orderPartHits]]). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 10): DataFrame =
    hitsChain(edges, srcCol, dstCol)((g, it) => it.fixed(iterations)(hubAuth(g)))

  /** [EXT] [[hits]] with a convergence-driven early stop: iterate until
    * the round's COMBINED L1 residual Σ|h_k − h_{k−1}| + Σ|a_k − a_{k−1}|
    * drops below `tolFp`, or `maxIterations`. Returns ((node, hub_fp,
    * auth_fp), stop round), BIT-identical to `hits(iterations = stop)`;
    * the stop adds one action per round (both delta sums in one fold). */
  def hitsUntil(edges: DataFrame, srcCol: String, dstCol: String,
                tolFp: Long, maxIterations: Int = 50): (DataFrame, Int) = {
    require(tolFp >= 0L, "tolFp is a non-negative fixed-point residual")
    hitsChain(edges, srcCol, dstCol) { (g, it) =>
      it.until(maxIterations) { case ((hub, auth), (prevHub, prevAuth)) =>
        val (dh, da) = g.sc.union(Seq(
            hub.join(prevHub).map { case (_, (a, b)) => (math.abs(a - b), 0L) },
            auth.join(prevAuth).map { case (_, (a, b)) => (0L, math.abs(a - b)) }))
          .fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
        dh + da < tolFp
      }((v, k) => (hubAuth(g)(v), k))
    }
  }

  /** F136: the per-round convergence curve of [[hits]]
    * (`order_part_hits_convergence`): (round, l1_hub_delta_fp,
    * l1_auth_delta_fp), the L1 deltas of both normalized vectors in
    * `Scale` units, `iterations` rows ordered by round. Round 1's
    * authority delta is measured against the uniform start (hub and auth
    * begin equal), mirroring the oracle's h0 join. */
  def hitsConvergence(edges: DataFrame, srcCol: String, dstCol: String,
                      iterations: Int = 10): DataFrame =
    hitsChain(edges, srcCol, dstCol) { (g, it) =>
      it.curve(iterations) { case (k, (hub, auth), (prevHub, prevAuth)) =>
        Seq(hub.join(prevHub).map { case (_, (a, b)) => (k, (math.abs(a - b), 0L)) },
          auth.join(prevAuth).map { case (_, (a, b)) => (k, (0L, math.abs(a - b))) })
      } { ds =>
        g.result(g.sc.union(ds.flatten).reduceByKey((x, y) => (x._1 + y._1, x._2 + y._2))
            .map { case (k, (h, a)) => (k, h, a) },
          "round", "l1_hub_delta_fp", "l1_auth_delta_fp")
      }
    }

  /** ONE HITS half-step: raw sums along `along`, their L1 total, then the
    * BigInt-normalized vector (x·Scale can exceed a Long; DuckDB's
    * HUGEINT `//` replays the floor). The raw sums are persisted for the
    * round: the total is an action, and without the persist every later
    * total would recompute all earlier rounds. */
  private def hitsHalfStep(g: Graph, keep: Keep)(
      vec: Vec, along: RDD[(Long, Array[Long])]): Vec = {
    val raw = keep.temp(along.join(vec)
      .flatMap { case (_, (outs, x)) =>
        if (x == 0L) Iterator.empty else outs.iterator.map(d => (d, x))
      }
      .reduceByKey(g.part, _ + _))
    val total = raw.map(_._2).fold(0L)(_ + _)
    g.nodes.leftOuterJoin(raw).mapValues { case (_, o) =>
      val x = o.getOrElse(0L)
      if (total == 0L || x == 0L) 0L
      else (BigInt(x) * Scale / total).toLong
    }
  }

  /** The HITS loop over (hub, auth): both start uniform, each round is
    * the double half-step. */
  private def hitsChain[A](edges: DataFrame, srcCol: String, dstCol: String)(
      run: (Graph, Iterate[(Vec, Vec)]) => A): A =
    prepareGraph(edges, srcCol, dstCol) { g =>
      run(g, Iterate[(Vec, Vec)] { k =>
        require(g.n > 0, "HITS needs a non-empty graph")
        val r0 = Scale / g.n
        val h = k.vec(g.nodes.mapValues(_ => r0))
        (h, h)
      } { case ((hub, _), k) =>
        val auth = k.vec(hitsHalfStep(g, k)(hub, g.adj)) // Σ hub over in-edges
        (k.vec(hitsHalfStep(g, k)(auth, g.radj)), auth)  // Σ auth over out-edges
      })
    }

  private def hubAuth(g: Graph)(v: (Vec, Vec)): DataFrame =
    g.result(v._1.join(v._2).map { case (n, (h, a)) => (n, h, a) },
      "node", "hub_fp", "auth_fp")

  /** [[hitsConvergence]] on the standing order→part bipartite fixture
    * (the [[orderPartHits]] 2k/2k+1 encoding). */
  def orderPartHitsConvergence(lineitem: DataFrame,
                               iterations: Int = 10): DataFrame =
    hitsConvergence(graft.Par.widen(lineitem)
        .select((col("l_orderkey").cast("long") * 2).as("src"),
          (col("l_partkey").cast("long") * 2 + 1).as("dst")),
        "src", "dst", iterations)

  /** `order_part_hits_earlystop` query: [[hitsUntil]] on the
    * standing bipartite fixture — the F136 curve put to work. The
    * default tolerance (3·10⁹ fp units combined hub+auth residual,
    * ~0.3% of the two Scale-normalized masses) is crossed at round 5 of
    * the 8-round budget on the measured curve. Output decodes like
    * [[orderPartHits]] plus the stop round; oracle derives the stop
    * from the same combined-residual rule over the unrolled chain. */
  def orderPartHitsEarlyStop(lineitem: DataFrame,
                             tolFp: Long = 3000000000L,
                             maxIterations: Int = 8): DataFrame = {
    val (df, stop) = hitsUntil(graft.Par.widen(lineitem)
        .select((col("l_orderkey").cast("long") * 2).as("src"),
          (col("l_partkey").cast("long") * 2 + 1).as("dst")),
        "src", "dst", tolFp, maxIterations)
    df.select(
        when(col("node") % 2 === 0, "order").otherwise("part").as("kind"),
        expr("node DIV 2").as("id"), col("hub_fp"), col("auth_fp"),
        lit(stop.toLong).as("stop_round"))
      .orderBy(col("kind"), col("id"))
  }

  /** `order_part_hits` query: HITS on the DIRECTED bipartite
    * order→part graph — orders are pure hubs (good baskets point at
    * good parts), parts pure authorities. The two id spaces interleave
    * via the reversible 2k / 2k+1 encoding so they can never collide;
    * the output decodes. */
  def orderPartHits(lineitem: DataFrame, iterations: Int = 10): DataFrame =
    hits(graft.Par.widen(lineitem)
        .select((col("l_orderkey").cast("long") * 2).as("src"),
          (col("l_partkey").cast("long") * 2 + 1).as("dst")),
        "src", "dst", iterations)
      .select(
        when(col("node") % 2 === 0, "order").otherwise("part").as("kind"),
        expr("node DIV 2").as("id"), col("hub_fp"), col("auth_fp"))
      .orderBy(col("kind"), col("id"))

  /** DuckDB mirror of [[orderPartHits]]: the double half-step unrolls
    * into one CTE chain per round (raw sum → L1 total → normalized
    * vector, HUGEINT `//` replaying the BigInt floor). Every CTE is
    * `AS MATERIALIZED`: per round, the raw-sum and vector CTEs are
    * each referenced TWICE (total + normalize; join + next round), and
    * DuckDB's default inlining would expand the reference tree
    * 2^iterations-fold — observed as an fd-exhaustion storm of
    * re-opened parquet scans, not just slowness. */
  def sqlOrderPartHits(iterations: Int = 10): String = {
    val iters = (1 to iterations).map { k =>
      s"""ar$k AS MATERIALIZED (
         |  SELECT e.dst AS v, SUM(h.r) AS s
         |  FROM e JOIN h${k - 1} h ON e.src = h.v WHERE h.r > 0 GROUP BY 1),
         |at$k AS MATERIALIZED (SELECT SUM(s) AS t FROM ar$k),
         |a$k AS MATERIALIZED (
         |  SELECT n.v,
         |    CAST(CASE WHEN COALESCE(t.t, 0) = 0 OR COALESCE(ar.s, 0) = 0
         |      THEN 0 ELSE ar.s::HUGEINT * $Scale // t.t END AS BIGINT) AS r
         |  FROM nodes n CROSS JOIN at$k t LEFT JOIN ar$k ar ON n.v = ar.v),
         |hr$k AS MATERIALIZED (
         |  SELECT e.src AS v, SUM(a.r) AS s
         |  FROM e JOIN a$k a ON e.dst = a.v WHERE a.r > 0 GROUP BY 1),
         |ht$k AS MATERIALIZED (SELECT SUM(s) AS t FROM hr$k),
         |h$k AS MATERIALIZED (
         |  SELECT n.v,
         |    CAST(CASE WHEN COALESCE(t.t, 0) = 0 OR COALESCE(hr.s, 0) = 0
         |      THEN 0 ELSE hr.s::HUGEINT * $Scale // t.t END AS BIGINT) AS r
         |  FROM nodes n CROSS JOIN ht$k t LEFT JOIN hr$k hr ON n.v = hr.v)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
       |  FROM lineitem),
       |nodes AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |h0 AS MATERIALIZED (SELECT v, CAST($Scale // n AS BIGINT) AS r
       |       FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT CASE WHEN n.v % 2 = 0 THEN 'order' ELSE 'part' END AS kind,
       |  CAST(n.v // 2 AS BIGINT) AS id, h.r AS hub_fp, a.r AS auth_fp
       |FROM nodes n JOIN h$iterations h ON n.v = h.v
       |     JOIN a$iterations a ON n.v = a.v
       |ORDER BY kind, id""".stripMargin
  }

  /** DuckDB mirror of [[orderPartHitsConvergence]]: the
    * [[sqlOrderPartHits]] chain (all CTEs MATERIALIZED — the extra
    * delta references would otherwise compound the 2^iterations
    * inlining), then one L1-delta aggregate per round for each vector;
    * round 1's authority delta joins h0 (the shared uniform start). */
  def sqlOrderPartHitsConvergence(iterations: Int = 10): String = {
    val iters = (1 to iterations).map { k =>
      s"""ar$k AS MATERIALIZED (
         |  SELECT e.dst AS v, SUM(h.r) AS s
         |  FROM e JOIN h${k - 1} h ON e.src = h.v WHERE h.r > 0 GROUP BY 1),
         |at$k AS MATERIALIZED (SELECT SUM(s) AS t FROM ar$k),
         |a$k AS MATERIALIZED (
         |  SELECT n.v,
         |    CAST(CASE WHEN COALESCE(t.t, 0) = 0 OR COALESCE(ar.s, 0) = 0
         |      THEN 0 ELSE ar.s::HUGEINT * $Scale // t.t END AS BIGINT) AS r
         |  FROM nodes n CROSS JOIN at$k t LEFT JOIN ar$k ar ON n.v = ar.v),
         |hr$k AS MATERIALIZED (
         |  SELECT e.src AS v, SUM(a.r) AS s
         |  FROM e JOIN a$k a ON e.dst = a.v WHERE a.r > 0 GROUP BY 1),
         |ht$k AS MATERIALIZED (SELECT SUM(s) AS t FROM hr$k),
         |h$k AS MATERIALIZED (
         |  SELECT n.v,
         |    CAST(CASE WHEN COALESCE(t.t, 0) = 0 OR COALESCE(hr.s, 0) = 0
         |      THEN 0 ELSE hr.s::HUGEINT * $Scale // t.t END AS BIGINT) AS r
         |  FROM nodes n CROSS JOIN ht$k t LEFT JOIN hr$k hr ON n.v = hr.v)"""
        .stripMargin
    }.mkString(",\n")
    val curve = (1 to iterations).map { k =>
      val prevA = if (k == 1) "h0" else s"a${k - 1}"
      s"""SELECT CAST($k AS BIGINT) AS round,
         |  (SELECT CAST(SUM(ABS(x.r - y.r)) AS BIGINT)
         |   FROM h$k x JOIN h${k - 1} y ON x.v = y.v) AS l1_hub_delta_fp,
         |  (SELECT CAST(SUM(ABS(x.r - y.r)) AS BIGINT)
         |   FROM a$k x JOIN $prevA y ON x.v = y.v) AS l1_auth_delta_fp"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
       |  FROM lineitem),
       |nodes AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |h0 AS MATERIALIZED (SELECT v, CAST($Scale // n AS BIGINT) AS r
       |       FROM nodes CROSS JOIN nn),
       |$iters
       |$curve
       |ORDER BY round""".stripMargin
  }

  /** DuckDB mirror of [[orderPartHitsEarlyStop]]: the
    * [[sqlOrderPartHits]] chain to the round budget (all MATERIALIZED),
    * the combined hub+auth residual per round (round 1's authority
    * delta joins h0, the shared uniform start — the engine's
    * `auth = hub` initialization), the stop round, and a CASE over the
    * per-round vector pairs. */
  def sqlOrderPartHitsEarlyStop(tolFp: Long = 3000000000L,
                                maxIterations: Int = 8): String = {
    val iters = (1 to maxIterations).map { k =>
      s"""ar$k AS MATERIALIZED (
         |  SELECT e.dst AS v, SUM(h.r) AS s
         |  FROM e JOIN h${k - 1} h ON e.src = h.v WHERE h.r > 0 GROUP BY 1),
         |at$k AS MATERIALIZED (SELECT SUM(s) AS t FROM ar$k),
         |a$k AS MATERIALIZED (
         |  SELECT n.v,
         |    CAST(CASE WHEN COALESCE(t.t, 0) = 0 OR COALESCE(ar.s, 0) = 0
         |      THEN 0 ELSE ar.s::HUGEINT * $Scale // t.t END AS BIGINT) AS r
         |  FROM nodes n CROSS JOIN at$k t LEFT JOIN ar$k ar ON n.v = ar.v),
         |hr$k AS MATERIALIZED (
         |  SELECT e.src AS v, SUM(a.r) AS s
         |  FROM e JOIN a$k a ON e.dst = a.v WHERE a.r > 0 GROUP BY 1),
         |ht$k AS MATERIALIZED (SELECT SUM(s) AS t FROM hr$k),
         |h$k AS MATERIALIZED (
         |  SELECT n.v,
         |    CAST(CASE WHEN COALESCE(t.t, 0) = 0 OR COALESCE(hr.s, 0) = 0
         |      THEN 0 ELSE hr.s::HUGEINT * $Scale // t.t END AS BIGINT) AS r
         |  FROM nodes n CROSS JOIN ht$k t LEFT JOIN hr$k hr ON n.v = hr.v)"""
        .stripMargin
    }.mkString(",\n")
    val curve = (1 to maxIterations).map { k =>
      val prevA = if (k == 1) "h0" else s"a${k - 1}"
      s"""SELECT CAST($k AS BIGINT) AS round,
         |  (SELECT CAST(SUM(ABS(x.r - y.r)) AS BIGINT)
         |   FROM h$k x JOIN h${k - 1} y ON x.v = y.v) +
         |  (SELECT CAST(SUM(ABS(x.r - y.r)) AS BIGINT)
         |   FROM a$k x JOIN $prevA y ON x.v = y.v) AS l1""".stripMargin
    }.mkString("\nUNION ALL\n")
    val hubCases = (1 to maxIterations).map(k => s"WHEN $k THEN xh$k.r").mkString(" ")
    val authCases = (1 to maxIterations).map(k => s"WHEN $k THEN xa$k.r").mkString(" ")
    val joins = (1 to maxIterations)
      .map(k => s"JOIN h$k xh$k ON n.v = xh$k.v JOIN a$k xa$k ON n.v = xa$k.v")
      .mkString("\n|")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
       |  FROM lineitem),
       |nodes AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |h0 AS MATERIALIZED (SELECT v, CAST($Scale // n AS BIGINT) AS r
       |       FROM nodes CROSS JOIN nn),
       |$iters,
       |curve AS ($curve),
       |stopr AS (SELECT CAST(COALESCE(MIN(round), $maxIterations) AS BIGINT) AS k
       |          FROM curve WHERE l1 < $tolFp)
       |SELECT CASE WHEN n.v % 2 = 0 THEN 'order' ELSE 'part' END AS kind,
       |  CAST(n.v // 2 AS BIGINT) AS id,
       |  CAST(CASE stopr.k $hubCases END AS BIGINT) AS hub_fp,
       |  CAST(CASE stopr.k $authCases END AS BIGINT) AS auth_fp,
       |  stopr.k AS stop_round
       |FROM nodes n CROSS JOIN stopr
       |$joins
       |ORDER BY kind, id""".stripMargin
  }

  /** Co-purchase part graph: parts sharing an order are linked (both
    * directions) — the symmetric projection of the order–part bipartite
    * graph. ONE exchange keyed by the order: `collect_set` gathers each
    * order's distinct parts, then the pair fan-out is a per-row double
    * explode — measured ~3× cheaper than the equivalent self-join, which
    * paid a distinct + sort-merge + corpus-wide distinct. Per-order
    * fan-out is quadratic in the order's DISTINCT part count, which
    * TPC-H-style data bounds at a handful. Cross-order duplicate pairs
    * are left in (deduplicated per node inside [[ranks]]). */
  def copurchaseEdges(lineitem: DataFrame): DataFrame = {
    val byOrder = graft.Par.widen(lineitem)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .filter(size(col("ps")) >= 2)
    byOrder
      .select(explode(col("ps")).as("s"), col("ps"))
      .select(col("s"), explode(col("ps")).as("d"))
      .filter(col("s") =!= col("d"))
      .select(col("s").cast("long").as("src"), col("d").cast("long").as("dst"))
  }

  /** `part_pagerank` query: centrality of parts in the co-purchase
    * graph — (part_id, rank_fp). */
  def copurchaseParts(lineitem: DataFrame, iterations: Int = 10): DataFrame =
    ranks(copurchaseEdges(lineitem), "src", "dst", iterations)
      .select(col("node").as("part_id"), col("rank_fp"))

  /** `part_pagerank_convergence` query: [[convergence]] residual curve
    * on the standing co-purchase graph fixture. */
  def copurchaseConvergence(lineitem: DataFrame,
                            iterations: Int = 10): DataFrame =
    convergence(copurchaseEdges(lineitem), "src", "dst", iterations)

  /** `part_pagerank_earlystop` query: [[ranksUntil]] on the
    * standing co-purchase fixture — the F130 curve put to work. The
    * default tolerance (10⁶ fp units = one millionth of the total rank
    * mass) is crossed at round 7 of the registered 10 on the measured
    * curve, so the loop ships three rounds early with a sub-tolerance
    * residual. Output: (part_id, rank_fp, stop_round) — both the
    * early-stopped VECTOR and the data-dependent stop round are
    * hash-checked: the oracle replays the unrolled chain, derives the
    * stop round from the same residual rule, and selects that round's
    * vector. */
  def copurchaseEarlyStop(lineitem: DataFrame, tolFp: Long = 1000000L,
                          maxIterations: Int = 10): DataFrame = {
    val (df, stop) = ranksUntil(copurchaseEdges(lineitem), "src", "dst",
      tolFp, maxIterations)
    df.select(col("node").as("part_id"), col("rank_fp"),
      lit(stop.toLong).as("stop_round"))
  }

  /** `trust_propagation` query: PageRank vs TrustRank vs spam mass on
    * the co-purchase part graph, seeds = part ids ≡ 0 (mod seedMod) —
    * the host-graph anti-spam triple demonstrated on the repo's standing
    * graph fixture. Output: (part_id, pr_fp, tr_fp, spam_mass_ppm). */
  def copurchaseSpamMass(lineitem: DataFrame, seedMod: Int = 50,
                         iterations: Int = 10): DataFrame = {
    val edges = copurchaseEdges(lineitem)
    val seeds = lineitem.select(col("l_partkey").cast("long").as("v"))
      .filter(col("v") % seedMod === 0).distinct()
    spamMass(edges, "src", "dst", seeds, "v", iterations)
      .select(col("node").as("part_id"), col("pr_fp"), col("tr_fp"),
        col("spam_mass_ppm"))
  }

  /** `trust_propagation_earlystop` query: the spam-mass triple
    * with BOTH rank vectors tolerance-stopped — F137 completed across
    * the fourth iterative family at query level. Each loop stops on its
    * OWN residual curve (the two decay at different rates: open
    * PageRank spreads mass everywhere, seeded trust concentrates), so
    * the output carries two independent data-dependent stop rounds,
    * both derived by the oracle from the same rules over the two
    * unrolled chains. The ppm division runs on the early-stopped
    * vectors — the production composition a tolerance-mode deployment
    * would ship. */
  def copurchaseSpamMassEarlyStop(lineitem: DataFrame,
                                  tolFp: Long = 1000000L,
                                  maxIterations: Int = 10,
                                  seedMod: Int = 50): DataFrame = {
    val seeds = lineitem.select(col("l_partkey").cast("long").as("v"))
      .filter(col("v") % seedMod === 0).distinct()
    spamMassUntil(copurchaseEdges(lineitem), "src", "dst", seeds, "v",
        tolFp, maxIterations)
      .select(col("node").as("part_id"), col("pr_fp"), col("tr_fp"),
        col("spam_mass_ppm"), col("pr_stop"), col("tr_stop"))
      .orderBy(col("part_id"))
  }

  /** DuckDB mirror of [[copurchaseSpamMassEarlyStop]]: both unrolled
    * chains MATERIALIZED (each round frame now has three readers), one
    * residual curve and stop round PER chain, CASE-selected vectors,
    * then the same ppm division. */
  def sqlCopurchaseSpamMassEarlyStop(tolFp: Long = 1000000L,
                                     maxIterations: Int = 10,
                                     seedMod: Int = 50,
                                     dampingPct: Int = 85): String = {
    def chain(pfx: String, teleExpr: String): String =
      (1 to maxIterations).map { k =>
        s"""$pfx$k AS MATERIALIZED (
           |  SELECT n.v AS v, CAST($teleExpr + COALESCE(c.s, 0) AS BIGINT) AS r
           |  FROM nodes n $teleJoins LEFT JOIN (
           |    SELECT e.dst AS v,
           |      CAST(SUM(r.r * $dampingPct // 100 // dg.d) AS BIGINT) AS s
           |    FROM e JOIN $pfx${k - 1} r ON e.src = r.v JOIN deg dg ON dg.src = e.src
           |    GROUP BY 1) c ON n.v = c.v)""".stripMargin
      }.mkString(",\n")
    def curve(pfx: String): String =
      (1 to maxIterations).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS round,
           |  CAST(SUM(ABS(a.r - b.r)) AS BIGINT) AS l1
           |FROM $pfx$k a JOIN $pfx${k - 1} b ON a.v = b.v""".stripMargin
      }.mkString("\nUNION ALL\n")
    def cases(pfx: String, stop: String): String =
      s"CASE $stop.k " +
        (1 to maxIterations).map(k => s"WHEN $k THEN x$pfx$k.r").mkString(" ") +
        " END"
    def joins(pfx: String): String =
      (1 to maxIterations)
        .map(k => s"JOIN $pfx$k x$pfx$k ON n.v = x$pfx$k.v").mkString("\n|")
    s"""WITH ${sqlGraphCtes(dampingPct)},
       |seeds AS (SELECT v FROM nodes WHERE v % $seedMod = 0),
       |ns AS (SELECT COUNT(*) AS n FROM seeds),
       |stp AS (SELECT CAST($Scale * ${100 - dampingPct} // 100 // n AS BIGINT) AS t FROM ns),
       |r0 AS MATERIALIZED (
       |  SELECT v, CAST($Scale // n AS BIGINT) AS r FROM nodes CROSS JOIN nn),
       |t0 AS MATERIALIZED (
       |  SELECT n.v,
       |    CAST(CASE WHEN s.v IS NOT NULL THEN $Scale // ns.n ELSE 0 END AS BIGINT) AS r
       |  FROM nodes n CROSS JOIN ns LEFT JOIN seeds s ON n.v = s.v),
       |${chain("r", "tp.t")},
       |${chain("t", "CASE WHEN s.v IS NOT NULL THEN stp.t ELSE 0 END")},
       |cr AS (${curve("r")}),
       |ct AS (${curve("t")}),
       |stopr AS (SELECT CAST(COALESCE(MIN(round), $maxIterations) AS BIGINT) AS k
       |          FROM cr WHERE l1 < $tolFp),
       |stopt AS (SELECT CAST(COALESCE(MIN(round), $maxIterations) AS BIGINT) AS k
       |          FROM ct WHERE l1 < $tolFp),
       |pick AS (
       |  SELECT n.v AS part_id,
       |    CAST(${cases("r", "stopr")} AS BIGINT) AS pr_fp,
       |    CAST(${cases("t", "stopt")} AS BIGINT) AS tr_fp,
       |    stopr.k AS pr_stop, stopt.k AS tr_stop
       |  FROM nodes n CROSS JOIN stopr CROSS JOIN stopt
       |${joins("r")}
       |${joins("t")})
       |SELECT part_id, pr_fp, tr_fp,
       |  CAST(CASE WHEN pr_fp > 0
       |    THEN greatest(pr_fp - tr_fp, 0) * 1000000 // pr_fp ELSE 0 END AS BIGINT)
       |    AS spam_mass_ppm,
       |  pr_stop, tr_stop
       |FROM pick
       |ORDER BY part_id""".stripMargin
  }

  /** Shared graph CTEs for the co-purchase oracles (li, e, deg, nodes,
    * nn, tp). */
  private def sqlGraphCtes(dampingPct: Int): String =
    s"""li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.p AS src, b.p AS dst
       |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS v FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |tp AS (SELECT CAST($Scale * ${100 - dampingPct} // 100 // n AS BIGINT) AS t FROM nn)""".stripMargin

  /** One unrolled iteration chain `<pfx>1..<pfx>iterations` over a base
    * CTE `<pfx>0`: per-node rank = its teleport + the damped in-neighbor
    * contribution sum, exact long divisions. `teleExpr` references n
    * (node alias) and may reference seeds/stp. */
  private def sqlIterChain(pfx: String, teleExpr: String, iterations: Int,
                           dampingPct: Int): String =
    (1 to iterations).map { k =>
      s"""$pfx$k AS (
         |  SELECT n.v AS v, CAST($teleExpr + COALESCE(c.s, 0) AS BIGINT) AS r
         |  FROM nodes n $teleJoins LEFT JOIN (
         |    SELECT e.dst AS v,
         |      CAST(SUM(r.r * $dampingPct // 100 // dg.d) AS BIGINT) AS s
         |    FROM e JOIN $pfx${k - 1} r ON e.src = r.v JOIN deg dg ON dg.src = e.src
         |    GROUP BY 1) c ON n.v = c.v)""".stripMargin
    }.mkString(",\n")

  // Every chain row needs the uniform teleport (tp), and the trust chain
  // additionally probes seed membership (seeds, stp) — joining all three
  // in both chains keeps the builder uniform; the PageRank chain's
  // tele-expr simply ignores the seed columns.
  private val teleJoins =
    "CROSS JOIN tp CROSS JOIN stp LEFT JOIN seeds s ON n.v = s.v"

  /** DuckDB mirror of [[copurchaseSpamMass]]: TWO unrolled chains (r* =
    * PageRank, t* = TrustRank with teleport and initial mass restricted
    * to seeds) over the shared graph CTEs, then the same ppm division. */
  def sqlCopurchaseSpamMass(seedMod: Int = 50, iterations: Int = 10,
                            dampingPct: Int = 85): String = {
    s"""WITH ${sqlGraphCtes(dampingPct)},
       |seeds AS (SELECT v FROM nodes WHERE v % $seedMod = 0),
       |ns AS (SELECT COUNT(*) AS n FROM seeds),
       |stp AS (SELECT CAST($Scale * ${100 - dampingPct} // 100 // n AS BIGINT) AS t FROM ns),
       |r0 AS (SELECT v, CAST($Scale // n AS BIGINT) AS r FROM nodes CROSS JOIN nn),
       |t0 AS (
       |  SELECT n.v,
       |    CAST(CASE WHEN s.v IS NOT NULL THEN $Scale // ns.n ELSE 0 END AS BIGINT) AS r
       |  FROM nodes n CROSS JOIN ns LEFT JOIN seeds s ON n.v = s.v),
       |${sqlIterChain("r", "tp.t", iterations, dampingPct)},
       |${sqlIterChain("t", "CASE WHEN s.v IS NOT NULL THEN stp.t ELSE 0 END", iterations, dampingPct)}
       |SELECT pr.v AS part_id, pr.r AS pr_fp, tr.r AS tr_fp,
       |  CAST(CASE WHEN pr.r > 0
       |    THEN greatest(pr.r - tr.r, 0) * 1000000 // pr.r ELSE 0 END AS BIGINT)
       |    AS spam_mass_ppm
       |FROM r$iterations pr JOIN t$iterations tr ON pr.v = tr.v
       |ORDER BY part_id""".stripMargin
  }

  /** DuckDB mirror of [[copurchaseConvergence]]: the
    * [[sqlCopurchaseParts]] chain, then one delta aggregate per
    * consecutive round pair, UNION ALL'd into the curve. Same exact
    * long divisions; ABS/MAX/SUM over BIGINTs replay bit-identically. */
  def sqlCopurchaseConvergence(iterations: Int = 10,
                               dampingPct: Int = 85): String = {
    val iters = (1 to iterations).map { k =>
      s"""r$k AS (
         |  SELECT n.v AS v, CAST(tp.t + COALESCE(c.s, 0) AS BIGINT) AS r
         |  FROM nodes n CROSS JOIN tp LEFT JOIN (
         |    SELECT e.dst AS v,
         |      CAST(SUM(r.r * $dampingPct // 100 // dg.d) AS BIGINT) AS s
         |    FROM e JOIN r${k - 1} r ON e.src = r.v JOIN deg dg ON dg.src = e.src
         |    GROUP BY 1) c ON n.v = c.v)""".stripMargin
    }.mkString(",\n")
    val curve = (1 to iterations).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS round,
         |  CAST(SUM(ABS(a.r - b.r)) AS BIGINT) AS l1_delta_fp,
         |  CAST(MAX(ABS(a.r - b.r)) AS BIGINT) AS linf_delta_fp,
         |  CAST(SUM(CASE WHEN a.r <> b.r THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
         |FROM r$k a JOIN r${k - 1} b ON a.v = b.v""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.p AS src, b.p AS dst
       |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS v FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |tp AS (SELECT CAST($Scale * ${100 - dampingPct} // 100 // n AS BIGINT) AS t FROM nn),
       |r0 AS (SELECT v, CAST($Scale // n AS BIGINT) AS r FROM nodes CROSS JOIN nn),
       |$iters
       |$curve
       |ORDER BY round""".stripMargin
  }

  /** DuckDB mirror of [[copurchaseParts]]: the iteration unrolls into a
    * WITH-chain (one CTE per round) replaying the exact long divisions —
    * `//` floors and all quantities are non-negative, so it agrees with
    * the JVM's truncating division everywhere. */
  def sqlCopurchaseParts(iterations: Int = 10, dampingPct: Int = 85): String = {
    val iters = (1 to iterations).map { k =>
      s"""r$k AS (
         |  SELECT n.v AS v, CAST(tp.t + COALESCE(c.s, 0) AS BIGINT) AS r
         |  FROM nodes n CROSS JOIN tp LEFT JOIN (
         |    SELECT e.dst AS v,
         |      CAST(SUM(r.r * $dampingPct // 100 // dg.d) AS BIGINT) AS s
         |    FROM e JOIN r${k - 1} r ON e.src = r.v JOIN deg dg ON dg.src = e.src
         |    GROUP BY 1) c ON n.v = c.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.p AS src, b.p AS dst
       |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS v FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |tp AS (SELECT CAST($Scale * ${100 - dampingPct} // 100 // n AS BIGINT) AS t FROM nn),
       |r0 AS (SELECT v, CAST($Scale // n AS BIGINT) AS r FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT v AS part_id, r AS rank_fp FROM r$iterations ORDER BY part_id""".stripMargin
  }

  /** DuckDB mirror of [[copurchaseEarlyStop]]: the unrolled chain (each
    * round MATERIALIZED — every r_k is referenced three times here:
    * next round, residual curve, final vector pick — the
    * `order_part_hits` inlining lesson), the residual curve, the stop
    * round as `MIN(round) WHERE l1 < tol` (falling back to the round
    * budget, exactly the engine's loop exit), and a CASE over the
    * per-round vectors to ship the stop round's ranks. */
  def sqlCopurchaseEarlyStop(tolFp: Long = 1000000L, maxIterations: Int = 10,
                             dampingPct: Int = 85): String = {
    val iters = (1 to maxIterations).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT n.v AS v, CAST(tp.t + COALESCE(c.s, 0) AS BIGINT) AS r
         |  FROM nodes n CROSS JOIN tp LEFT JOIN (
         |    SELECT e.dst AS v,
         |      CAST(SUM(r.r * $dampingPct // 100 // dg.d) AS BIGINT) AS s
         |    FROM e JOIN r${k - 1} r ON e.src = r.v JOIN deg dg ON dg.src = e.src
         |    GROUP BY 1) c ON n.v = c.v)""".stripMargin
    }.mkString(",\n")
    val curve = (1 to maxIterations).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS round,
         |  CAST(SUM(ABS(a.r - b.r)) AS BIGINT) AS l1
         |FROM r$k a JOIN r${k - 1} b ON a.v = b.v""".stripMargin
    }.mkString("\nUNION ALL\n")
    val cases = (1 to maxIterations).map(k => s"WHEN $k THEN x$k.r").mkString(" ")
    val joins = (1 to maxIterations)
      .map(k => s"JOIN r$k x$k ON n.v = x$k.v").mkString("\n|")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.p AS src, b.p AS dst
       |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |tp AS (SELECT CAST($Scale * ${100 - dampingPct} // 100 // n AS BIGINT) AS t FROM nn),
       |r0 AS MATERIALIZED (
       |  SELECT v, CAST($Scale // n AS BIGINT) AS r FROM nodes CROSS JOIN nn),
       |$iters,
       |curve AS ($curve),
       |stopr AS (SELECT CAST(COALESCE(MIN(round), $maxIterations) AS BIGINT) AS k
       |          FROM curve WHERE l1 < $tolFp)
       |SELECT n.v AS part_id,
       |  CAST(CASE stopr.k $cases END AS BIGINT) AS rank_fp,
       |  stopr.k AS stop_round
       |FROM nodes n CROSS JOIN stopr
       |$joins
       |ORDER BY part_id""".stripMargin
  }
}
