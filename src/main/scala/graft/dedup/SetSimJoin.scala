package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Mat.Pinnable

/** [EXT] Blockless EXACT set-similarity self-join via global-frequency
  * prefix filtering (`similarity_join_exact` query) — the AllPairs/PPJoin
  * family (Bayardo et al. 2007; Xiao et al. 2008) in the MapReduce shape
  * of Vernica et al. 2010 — plus the INCREMENTAL face
  * (`similarity_join_incremental`): new-batch pairs against a frozen
  * prefix index without re-pairing history.
  *
  * The repo's other two near-dup joins each trade something away:
  * [[Dedup.jaccardPairs]] is exact but needs a caller-supplied blocking
  * key to bound its quadratic fan-out (audit scope), and
  * [[Dedup.nearDupMinHash]] is blockless but probabilistic (LSH can miss
  * a qualifying pair). This operator is both blockless AND exact: every
  * pair with round(J, 4) ≥ t is emitted, none invented — the DuckDB
  * oracle computes brute-force relational Jaccard over ALL pairs, so the
  * correctness gate itself proves the pruning lossless.
  *
  * How the quadratic dies: tokens are globally ordered rarest-first
  * (ascending document frequency, ties by token). A set of size n with
  * threshold t only indexes its first p = n − ⌈t·n⌉ + 1 ordered tokens
  * (~n/10 at t = 0.9): if J(A,B) ≥ t then |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and
  * two sets overlapping that much MUST share a token inside both prefixes
  * (suffixes hold only ⌈t·n⌉ − 1 < |A∩B| tokens each — the standard
  * prefix-filtering lemma). Equi-joining prefix rows on the token finds
  * every qualifying pair, and because prefixes hold the RAREST tokens,
  * hot tokens (stopwords — the quadratic's usual engine) never generate
  * candidates. Two more per-row integer guards run inside the join:
  * the length filter (min ≥ t·max) and PPJoin's positional filter
  * (overlap upper bound 1 + min(n_a − i, n_b − j) must reach the
  * equivalent-overlap bound ⌈t/(1+t)·(n_a+n_b)⌉).
  *
  * 100 TB shape: candidates cross the exchange as (id_a, id_b) ONLY —
  * token arrays never ride the candidate join; verification re-joins the
  * pinned token table by id and runs the early-exit merge walk
  * ([[Dedup.jaccardSortedBounded]]). Every stage is an equi-join or
  * aggregate on a natural key (token, id, pair); nothing is broadcast by
  * hint (the token-frequency join is vocabulary-sized — AQE decides),
  * and no stage is quadratic in the corpus.
  *
  * Output-bound caveat (measured, BASELINE.md 10× audit): a PAIR join's
  * answer is quadratic in the duplication factor by definition — a
  * 10×-replicated corpus returns 100× the pairs and pays for them
  * (~263k verified pairs/s, cost tracking output, candidates still
  * linear). On duplication-heavy corpora run exact dedup FIRST (the
  * RefinedWeb stage order) or use the keepers/CC form
  * ([[Dedup.nearDupKeepersScaled]]); this operator is the audit
  * surface, and its cost is its answer's size.
  */
object SetSimJoin {

  /** Conservative threshold for all integer bounds: matches the
    * downstream round(J, 4) ≥ t comparison, and the 1e-9 ceil nudge
    * keeps an FP-inflated product from rounding UP past the true bound
    * (which would shrink a prefix below the lossless length). */
  private def tprime(threshold: Double): Double = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    threshold - 0.5e-4
  }

  /** Token table (id, toks lex-sorted, n > 0), pinned: it feeds the
    * frequency aggregate, the prefix generator, and both verify joins. */
  private def tokenTable(df: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    graft.Par.widen(df)
      .select(col(idCol).as("id"), Dedup.tokenSet(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0) // empty sets: J is 0/0 → null in both engines
      .pinned

  /** Prefix rows (id, n, i, tok): position i (1-based) of each of the
    * first p = n − ⌈tp·n⌉ + 1 tokens under ascending (df, token) order.
    * Tokens absent from `order` rank df = 0 — BEFORE every present token,
    * which is order-consistent for the incremental face: a frozen index's
    * history docs can't contain a then-unseen token, so extending the
    * order at the front never reorders any history prefix. array_sort on
    * (df, tok) structs sorts by df then tok — exactly the global order. */
  private def orderedPrefixes(t: DataFrame, order: DataFrame,
                              tp: Double): DataFrame =
    t.select(col("id"), col("n"), explode(col("toks")).as("tok"))
      .join(order, Seq("tok"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy("id")
      .agg(first(col("n")).as("n"),
        array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("id"), col("n"),
        posexplode(expr(
          "transform(slice(ord, 1, cast(n - ceil(n * " + tp +
            " - 1e-9) + 1 as int)), s -> s.tok)")))
      .select(col("id"), col("n"), (col("pos") + 1).as("i"), col("col").as("tok"))
      .pinned

  /** The two integer candidate guards (length + positional), symmetric
    * in the two sides. */
  private def candGuards(tp: Double): Column = {
    // Equivalent-overlap bound: J ≥ tp ⇔ |A∩B| ≥ tp/(1+tp)·(|A|+|B|).
    val minInter = ceil((col("n_a") + col("n_b")).cast("double")
      * lit(tp / (1.0 + tp)) - lit(1e-9)).cast("int")
    // Length filter: min ≥ t·max.
    least(col("n_a"), col("n_b")) >=
      ceil(greatest(col("n_a"), col("n_b")).cast("double") * lit(tp)
        - lit(1e-9)).cast("int") &&
      // Positional filter: tokens before i_a/i_b can't all be shared.
      lit(1) + least(col("n_a") - col("i_a"), col("n_b") - col("i_b")) >= minInter
  }

  /** Verify: ids-only candidates (id_a < id_b) pick their sorted token
    * arrays back up by id and run the early-exit merge walk. Exact, so
    * the pruning upstream can only ever remove work, never answers. */
  private def verify(cands: DataFrame, tokens: DataFrame,
                     threshold: Double): DataFrame = {
    val va = tokens.select(col("id").as("id_a"), col("toks").as("toks_a"),
      col("n").as("n_a"))
    val vb = tokens.select(col("id").as("id_b"), col("toks").as("toks_b"),
      col("n").as("n_b"))
    cands.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("jaccard", round(Dedup.jaccardSortedBounded(
        col("toks_a"), col("toks_b"), col("n_a"), col("n_b"), threshold), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private def side(pref: DataFrame, suffix: String): DataFrame =
    pref.select(col("id").as(s"id_$suffix"), col("n").as(s"n_$suffix"),
      col("i").as(s"i_$suffix"), col("tok").as(s"tok_$suffix"))

  /** The probe side of the candidate join, replicated once per LENGTH a
    * qualifying partner can have (r17, guide §2.5/§3): the length
    * filter bounds a partner's size to n_b ∈ [⌈tp·n_a − 1e-9⌉,
    * ⌊(n_a + 1e-9)∕tp⌋] (the two directions of min ≥ ⌈tp·max⌉ for
    * integer sizes), so joining on (token, length) instead of token
    * alone scans ONLY length-compatible pairs — measured 44.8M → 8.8M
    * scanned pairs at sf0.1 (hot prefix tokens are the quadratic's
    * engine), and at scale the extra key splits a hot token's hash
    * bucket across its length range. Lossless and duplicate-free: a
    * pair passing the length filter matches exactly ONE replica
    * (nb_a = n_b), a pair failing it may never match, and [[candGuards]]
    * still runs as the belt. Replication factor ≈ n·(1∕tp − tp) + 2 —
    * ~6 rows per prefix row at tp = 0.9, trivial next to the scan
    * savings. */
  private def sideRepl(pref: DataFrame, tp: Double): DataFrame =
    pref.select(col("id").as("id_a"), col("n").as("n_a"),
      col("i").as("i_a"), col("tok").as("tok_a"),
      explode(sequence(
        ceil(col("n").cast("double") * lit(tp) - lit(1e-9)).cast("int"),
        floor((col("n").cast("double") + lit(1e-9)) / lit(tp)).cast("int")))
        .as("nb_a"))

  /** All unordered pairs with round(jaccard, 4) ≥ threshold over the
    * documents' token sets ([[Dedup.tokenSet]] — lowercased, distinct,
    * whitespace-split), no blocking key. Output: (id_a, id_b, jaccard)
    * with id_a < id_b, ordered. */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double): DataFrame = {
    val tp = tprime(threshold)
    val t = tokenTable(df, idCol, textCol)
    // Global order = this corpus's own document frequencies. The order
    // only shapes the CANDIDATE set (any consistent total order is
    // lossless) — outputs never depend on it.
    val order = t.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val pref = orderedPrefixes(t, order, tp)
    val cands = sideRepl(pref, tp).join(side(pref, "b"),
        col("tok_a") === col("tok_b") && col("nb_a") === col("n_b") &&
          col("id_a") < col("id_b") && candGuards(tp))
      .select(col("id_a"), col("id_b")).distinct()
    verify(cands, t, threshold)
  }

  /** Frozen prefix-index state for the incremental face: the token
    * order at index time, the lex-sorted token arrays, and the prefix
    * rows. Persist each as its own table; [[absorb]] appends a batch. */
  final case class PrefixIndex(order: DataFrame, tokens: DataFrame,
                               prefixes: DataFrame)

  /** Build the index over a history corpus. */
  def index(df: DataFrame, idCol: String, textCol: String,
            threshold: Double): PrefixIndex = {
    val tp = tprime(threshold)
    val t = tokenTable(df, idCol, textCol)
    val order = t.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .pinned
    PrefixIndex(order, t, orderedPrefixes(t, order, tp))
  }

  /** [EXT] INCREMENTAL exact set-similarity join
    * (`similarity_join_incremental` query): every qualifying pair with
    * AT LEAST ONE member in the batch — history–batch and batch–batch —
    * without re-pairing history against itself. Equals the id_b-in-batch
    * rows of a full [[jaccardJoin]] over history ∪ batch under the
    * append-only id contract (batch ids follow history ids).
    *
    * Batch tokens rank under the FROZEN index order (unseen tokens tie
    * at df = 0, before everything — see [[orderedPrefixes]] for why
    * that extension is order-consistent), so the prefix lemma holds for
    * every (history, batch) pair. The frozen order drifts from the true
    * frequencies as the corpus grows — candidate EFFICIENCY degrades,
    * correctness never does; re-index on the compaction cadence.
    *
    * Per-batch cost: tokenize + prefix the batch, one token-keyed
    * equi-join of batch prefixes against (index ∪ batch) prefixes, and
    * id-keyed verify joins — O(batch × matches), never O(history²). */
  def incremental(batch: DataFrame, idCol: String, textCol: String,
                  threshold: Double, idx: PrefixIndex): DataFrame =
    incrementalWithState(batch, idCol, textCol, threshold, idx)._1

  /** [[incremental]] plus the batch's own token and prefix frames — the
    * streaming face persists EXACTLY the frames the join probed
    * ([[graft.streaming.StreamingIngest.setSimBatch]]), so state and
    * output can never drift apart. */
  def incrementalWithState(batch: DataFrame, idCol: String, textCol: String,
                           threshold: Double, idx: PrefixIndex)
      : (DataFrame, DataFrame, DataFrame) = {
    val tp = tprime(threshold)
    val bt = tokenTable(batch, idCol, textCol)
    val bPref = orderedPrefixes(bt, idx.order, tp)
    val allPref = idx.prefixes.unionByName(bPref)
    // Batch side probes both directions (a batch doc may carry the
    // smaller OR larger id of its pair): join on the token with id
    // inequality, then normalize to id_a < id_b. Batch–batch pairs
    // arrive in both orientations; the pair distinct collapses them.
    val cands = sideRepl(bPref, tp).join(side(allPref, "b"),
        col("tok_a") === col("tok_b") && col("nb_a") === col("n_b") &&
          col("id_a") =!= col("id_b") && candGuards(tp))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    (verify(cands, idx.tokens.unionByName(bt), threshold), bt, bPref)
  }

  /** The ascending-(df, token) order table of a corpus — the frame the
    * streaming face freezes at batch 0. */
  def tokenOrder(df: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenTable(df, idCol, textCol)
      .select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))

  /** The index after absorbing a batch: the order stays FROZEN (the
    * documented efficiency-drift trade — rebuilding it would reorder
    * history prefixes and force a re-index), token arrays and prefix
    * rows append. */
  def absorb(idx: PrefixIndex, batch: DataFrame, idCol: String,
             textCol: String, threshold: Double): PrefixIndex = {
    val bt = tokenTable(batch, idCol, textCol)
    PrefixIndex(idx.order,
      idx.tokens.unionByName(bt),
      idx.prefixes.unionByName(orderedPrefixes(bt, idx.order,
        tprime(threshold))))
  }

  /** Brute-force DuckDB mirror over a relation exposing (idCol, textCol):
    * exploded-token equi-join → per-pair intersection counts → J =
    * i/(n_a+n_b−i), NO pruning — the oracle that proves the Spark side's
    * prefix filtering lossless. Pairs sharing zero tokens have J = 0 < t
    * and are unrepresentable in both engines. `extraWhere` narrows the
    * pair set (the incremental query appends `AND id_b >= split`). */
  def sqlJaccardJoin(rel: String, idCol: String, textCol: String,
                     threshold: Double, extraWhere: String = ""): String =
    s"""WITH tt AS (
       |  SELECT $idCol AS id,
       |         list_distinct(regexp_extract_all(lower($textCol),
       |                       '[^ \\t\\n\\x0B\\f\\r]+')) AS toks
       |  FROM $rel),
       |ss AS (SELECT id, len(toks) AS n, unnest(toks) AS tok
       |       FROM tt WHERE len(toks) > 0),
       |cc AS (
       |  SELECT sa.id AS id_a, sb.id AS id_b, sa.n AS n_a, sb.n AS n_b,
       |         count(*) AS i
       |  FROM ss sa JOIN ss sb ON sa.tok = sb.tok AND sa.id < sb.id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b,
       |       round(i::DOUBLE / nullif(n_a + n_b - i, 0)::DOUBLE, 4) AS jaccard
       |FROM cc
       |WHERE round(i::DOUBLE / nullif(n_a + n_b - i, 0)::DOUBLE, 4)
       |        >= $threshold$extraWhere
       |ORDER BY id_a, id_b""".stripMargin
}
