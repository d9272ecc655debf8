package graft.analytics

import graft.analytics.Iterate.{Graph, prepareGraph}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.LongMap

/** [EXT] Synchronous label propagation (`part_communities` query) —
  * community detection at link-graph scale (Raghavan et al. 2007): each
  * round, every node adopts the most frequent label among its
  * in-neighbors. Communities are the "what cluster does this host/part
  * belong to" signal that PageRank-family scores deliberately ignore —
  * the crawl-side uses are link-farm clusters (one community, high spam
  * mass) and per-community quota/caps.
  *
  * Determinism: classic LPA breaks mode ties randomly and updates
  * asynchronously — neither survives a cross-engine hash gate. This is
  * the SYNCHRONOUS variant with total tie-breaks: mode ties elect the
  * SMALLEST label (row_number over (count desc, label asc)), all nodes
  * update together, labels start as node ids, a fixed round count.
  * Every step is integer/rank arithmetic — bit-identical in DuckDB.
  *
  * Scale shape: the [[PageRank]] discipline on [[Iterate]]. A graph
  * whose edges fit `spark.sql.autoBroadcastJoinThreshold` is collected
  * once and every vote runs over driver arrays (no per-round job).
  * Above it, one lazy lineage evaluated once (a DataFrame-loop draft
  * paid Catalyst replanning + eager checkpoints per round); per round
  * ONE vote shuffle: `aggregateByKey` combines (node, label) votes
  * map-side into per-node label→count maps and the election runs in the
  * finalizer; then a NARROW leftOuterJoin back to the co-partitioned
  * node vector (no-in-edge nodes keep their label). No per-round
  * action, no global anything, nothing quadratic.
  *
  * Skew bound: a node's vote map is bounded by its DISTINCT in-neighbor
  * labels — the map-side combine spreads the build, but one reducer
  * merges one node's partials, so a celebrity host with millions of
  * distinct in-labels is a single-task hotspot (inherent to LPA's
  * per-node histogram, the same class as any aggregation on a
  * power-law key; cap in-degree upstream if the graph carries such
  * nodes).
  */
object Lpa {

  /** The election: the most frequent label, ties to the SMALLEST (count
    * desc, label asc — a total order), over one node's in-label
    * histogram — shared by both graph layouts. */
  private def elect(m: LongMap[Long]): Long = {
    var bestLab = Long.MaxValue
    var bestC = -1L
    m.foreach { case (lab, c) =>
      if (c > bestC || (c == bestC && lab < bestLab)) {
        bestC = c; bestLab = lab
      }
    }
    bestLab
  }

  private val nodeRow: (Long, Long) => Product = (n, x) => (n, x)

  /** The label loop over one prepared graph: labels start as node ids;
    * every round is ONE synchronous vote ([[Graph.vote]] with [[elect]])
    * — shared by every label face, so their bit-identity contracts hold
    * by construction. */
  private def labelsOf(g: Graph): Iterate[g.Vec[Long]] =
    Iterate[g.Vec[Long]](k => g.vec(k)(g.init(v => v)))((l, k) =>
      g.vec(k)(g.vote(l)(elect)))

  /** (node, community) after `rounds` synchronous rounds, ordered by
    * node; directed (src, dst) edges vote along their direction,
    * multi-edges count once, rows with a null endpoint are dropped, and
    * an empty edge set gives an empty frame. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 5): DataFrame =
    prepareGraph(edges, srcCol, dstCol) { g =>
      labelsOf(g).fixed(rounds)(g.result(_, "node", "community")(nodeRow))
    }

  /** [EXT] [[labelPropagation]] with a convergence-driven early stop:
    * propagate until the round's churn — #{v : label changed} — drops to
    * `maxChurn` or below, or `maxRounds` is hit. LPA's natural stopping
    * rule is churn = 0 (the default); a positive `maxChurn` stops at
    * "practically settled" on graphs whose label frontier rings forever.
    * Returns ((node, community), stop round), BIT-identical to
    * `labelPropagation(rounds = stop)`; the stop adds one churn action
    * per round. */
  def labelPropagationUntil(edges: DataFrame, srcCol: String, dstCol: String,
                            maxChurn: Long = 0L, maxRounds: Int = 50)
      : (DataFrame, Int) = {
    require(maxChurn >= 0L, "maxChurn is a non-negative node count")
    labelUntil(edges, srcCol, dstCol, _ => maxChurn, maxRounds)
  }

  /** [EXT] [[labelPropagationUntil]] with a SCALE-FREE threshold:
    * `maxChurnPpm` parts-per-million of |V|, so one setting means the
    * same RELATIVE settledness at every corpus size (a fixed 1200-flip
    * threshold is 10× tighter on a 10× graph: the absolute face went
    * 12.0× slower at m10 because its stop ran deeper into the rail). The
    * rule `churn · 10⁶ ≤ ppm · |V|` is integer-exact, equivalent to
    * `churn ≤ ⌊ppm·|V|∕10⁶⌋` — the form the DuckDB oracle replays.
    * `maxChurnPpm` must lie in [0, 10⁶]: above that every round would
    * stop, and a huge value would overflow `|V| · ppm`. */
  def labelPropagationUntilPpm(edges: DataFrame, srcCol: String,
                               dstCol: String, maxChurnPpm: Long = 0L,
                               maxRounds: Int = 50): (DataFrame, Int) = {
    require(maxChurnPpm >= 0L && maxChurnPpm <= 1000000L,
      "maxChurnPpm is a ppm of |V| in [0, 1000000]")
    labelUntil(edges, srcCol, dstCol, _.n * maxChurnPpm / 1000000L, maxRounds)
  }

  /** The early-stop loop of both churn faces. The threshold is taken
    * from the prepared graph, so the ppm face counts |V| on the
    * prepared node set instead of deriving the edges twice. */
  private def labelUntil(edges: DataFrame, srcCol: String, dstCol: String,
                         thresholdOf: Graph => Long, maxRounds: Int)
      : (DataFrame, Int) =
    prepareGraph(edges, srcCol, dstCol) { g =>
      val maxChurn = thresholdOf(g)
      labelsOf(g).until(maxRounds)((next, prev) => churn(g)(next, prev) <= maxChurn)(
        (l, k) => (g.result(l, "node", "community")(nodeRow), k))
    }

  private def churn(g: Graph)(a: g.Vec[Long], b: g.Vec[Long]): Long =
    g.fold(g.zip(a, b))(0L)((s, p) => if (p._1 != p._2) s + 1L else s, _ + _)

  /** `part_communities`: LPA over the co-purchase part graph
    * ([[PageRank.copurchaseEdges]] — symmetric, so communities are the
    * dense co-purchase clusters). */
  def partCommunities(lineitem: DataFrame, rounds: Int = 5): DataFrame =
    labelPropagation(PageRank.copurchaseEdges(lineitem), "src", "dst", rounds)
      .select(col("node").as("part_id"), col("community"))

  /** F135: the per-round convergence curve of [[labelPropagation]]
    * (`part_communities_convergence`): (round, n_changed =
    * #{v : label changed}, n_communities = distinct labels), `rounds`
    * rows ordered by round. Running LPA at a fixed round count (the
    * cross-engine determinism requirement) is licensed only if the churn
    * curve shows the graph converged — this makes that a hash-checked
    * number. On the distributed layout the whole curve is one job sharing
    * the vote shuffles. */
  def convergence(edges: DataFrame, srcCol: String, dstCol: String,
                  rounds: Int = 5): DataFrame =
    prepareGraph(edges, srcCol, dstCol) { g =>
      labelsOf(g).curve(rounds) { (k, next, prev) =>
        (g.rows(k, g.map(g.zip(next, prev))(p => if (p._1 != p._2) 1L else 0L))(_ + _),
          g.distinctRows(k, next))
      } { ds =>
        val (changed, labs) = ds.unzip
        g.table(g.joinRows(g.sumRows(changed)(_ + _), g.countDistinct(labs)),
          "round", "n_changed", "n_communities") { case (k, (ch, nc)) => (k, ch, nc) }
      }
    }

  /** [[convergence]] on the standing co-purchase graph fixture. */
  def partCommunitiesConvergence(lineitem: DataFrame,
                                 rounds: Int = 5): DataFrame =
    convergence(PageRank.copurchaseEdges(lineitem), "src", "dst", rounds)

  /** `part_communities_earlystop` query: [[labelPropagationUntil]]
    * on the standing fixture — the F135 churn curve put to work. The
    * measured curve (2000 → 1692 → 1115 changed nodes) crosses the
    * default 1200-node churn threshold at round 3 of the 5-round
    * budget; zero-churn full settlement is beyond this dense graph's
    * budget, which is exactly the case a positive threshold exists for.
    * Output: (part_id, community, stop_round); the oracle derives the
    * stop from the same churn rule over the unrolled chain. */
  def partCommunitiesEarlyStop(lineitem: DataFrame, maxChurn: Long = 1200L,
                               maxRounds: Int = 5): DataFrame = {
    val (df, stop) = labelPropagationUntil(
      PageRank.copurchaseEdges(lineitem), "src", "dst", maxChurn, maxRounds)
    df.select(col("node").as("part_id"), col("community"),
      lit(stop.toLong).as("stop_round"))
  }

  /** The scale-free twin (`part_communities_earlystop_ppm`): stop
    * at ≤ 40% of |V| still churning — on the sf0.01 fixture that is
    * threshold 800 against curve (2000, 1692, 1115, 714, 132), stop
    * round 4 of 5, deliberately DIFFERENT from the absolute twin's
    * round 3 so the gate distinguishes the two rules. */
  def partCommunitiesEarlyStopPpm(lineitem: DataFrame,
                                  maxChurnPpm: Long = 400000L,
                                  maxRounds: Int = 5): DataFrame = {
    val (df, stop) = labelPropagationUntilPpm(
      PageRank.copurchaseEdges(lineitem), "src", "dst", maxChurnPpm, maxRounds)
    df.select(col("node").as("part_id"), col("community"),
      lit(stop.toLong).as("stop_round"))
  }

  // ------------------------------------------------- shared SQL template
  // The four DuckDB mirrors below differ only in their tails; the
  // prelude (graph + l0), the per-round (counts -> election ->
  // carry-forward) triple, the churn curve, and the stop-select are
  // emitted from ONE template each so an election or MATERIALIZED-hint
  // fix can never drift between mirrors.

  /** Prelude CTEs: co-purchase edge derivation, node set, initial
    * labels. `extraCtes` (e.g. a node-count CTE) splices between
    * `nodes` and `l0`, complete with its trailing ",\n". */
  private def lpaPrelude(extraCtes: String = ""): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.p AS src, b.p AS dst
       |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
       |nodes AS MATERIALIZED (
       |  SELECT src AS v FROM e UNION SELECT dst FROM e),
       |${extraCtes}l0 AS MATERIALIZED (SELECT v, v AS lab FROM nodes)""".stripMargin

  /** One (counts -> election -> carry-forward) CTE triple per round,
    * ALL MATERIALIZED (each label frame is referenced twice — default
    * inlining would expand 2^rounds-fold, the `order_part_hits`
    * lesson). */
  private def lpaIters(rounds: Int): String =
    (1 to rounds).map { k =>
      s"""cnt$k AS MATERIALIZED (
         |  SELECT e.dst AS v, l.lab, COUNT(*) AS c
         |  FROM e JOIN l${k - 1} l ON e.src = l.v GROUP BY 1, 2),
         |el$k AS MATERIALIZED (
         |  SELECT v, lab FROM (
         |    SELECT v, lab,
         |      row_number() OVER (PARTITION BY v
         |                         ORDER BY c DESC, lab ASC) AS rn
         |    FROM cnt$k) WHERE rn = 1),
         |l$k AS MATERIALIZED (
         |  SELECT l.v, COALESCE(el.lab, l.lab) AS lab
         |  FROM l${k - 1} l LEFT JOIN el$k el ON l.v = el.v)""".stripMargin
    }.mkString(",\n")

  /** Per-round churn rows (the early-stop curves). */
  private def lpaChurnCurve(rounds: Int): String =
    (1 to rounds).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS round,
         |  CAST(SUM(CASE WHEN a.lab <> b.lab THEN 1 ELSE 0 END) AS BIGINT)
         |    AS churn
         |FROM l$k a JOIN l${k - 1} b ON a.v = b.v""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Curve + stop-round + vector-at-stop tail shared by both early-stop
    * mirrors; `stoprSql` is the one clause that differs (absolute
    * threshold vs ppm-of-|V|). */
  private def lpaStopTail(maxRounds: Int, stoprSql: String): String = {
    val cases = (1 to maxRounds).map(k => s"WHEN $k THEN x$k.lab").mkString(" ")
    val joins = (1 to maxRounds)
      .map(k => s"JOIN l$k x$k ON n.v = x$k.v").mkString("\n")
    s"""curve AS (${lpaChurnCurve(maxRounds)}),
       |stopr AS ($stoprSql)
       |SELECT n.v AS part_id,
       |  CAST(CASE stopr.k $cases END AS BIGINT) AS community,
       |  stopr.k AS stop_round
       |FROM nodes n CROSS JOIN stopr
       |$joins
       |ORDER BY part_id""".stripMargin
  }

  /** DuckDB mirror of [[partCommunities]]. */
  def sqlPartCommunities(rounds: Int = 5): String =
    s"""${lpaPrelude()},
       |${lpaIters(rounds)}
       |SELECT v AS part_id, CAST(lab AS BIGINT) AS community
       |FROM l$rounds ORDER BY part_id""".stripMargin

  /** DuckDB mirror of [[partCommunitiesConvergence]]: the label chain,
    * then one churn/community aggregate per round. */
  def sqlPartCommunitiesConvergence(rounds: Int = 5): String = {
    val curve = (1 to rounds).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS round,
         |  CAST(SUM(CASE WHEN a.lab <> b.lab THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_changed,
         |  CAST(COUNT(DISTINCT a.lab) AS BIGINT) AS n_communities
         |FROM l$k a JOIN l${k - 1} b ON a.v = b.v""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${lpaPrelude()},
       |${lpaIters(rounds)}
       |$curve
       |ORDER BY round""".stripMargin
  }

  /** DuckDB mirror of [[partCommunitiesEarlyStop]]: unrolled chain, the
    * churn curve, the first round at or under the ABSOLUTE threshold,
    * and the label vector at that round. */
  def sqlPartCommunitiesEarlyStop(maxChurn: Long = 1200L,
                                  maxRounds: Int = 5): String =
    s"""${lpaPrelude()},
       |${lpaIters(maxRounds)},
       |${lpaStopTail(maxRounds,
          s"SELECT CAST(COALESCE(MIN(round), $maxRounds) AS BIGINT) AS k\n" +
            s"          FROM curve WHERE churn <= $maxChurn")}""".stripMargin

  /** DuckDB mirror of [[partCommunitiesEarlyStopPpm]]: the
    * [[sqlPartCommunitiesEarlyStop]] chain with the stop rule derived
    * from |V| inside the query — `churn · 10⁶ ≤ ppm · COUNT(nodes)`,
    * the integer-exact form of the Spark side's
    * `churn ≤ ⌊ppm·|V|∕10⁶⌋` (equivalent for integer churn). */
  def sqlPartCommunitiesEarlyStopPpm(maxChurnPpm: Long = 400000L,
                                     maxRounds: Int = 5): String =
    s"""${lpaPrelude("nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),\n")},
       |${lpaIters(maxRounds)},
       |${lpaStopTail(maxRounds,
          s"SELECT CAST(COALESCE(MIN(round), $maxRounds) AS BIGINT) AS k\n" +
            "          FROM curve CROSS JOIN nv\n" +
            s"          WHERE churn * 1000000 <= $maxChurnPpm * nv.n")}""".stripMargin
}
