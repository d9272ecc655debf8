package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** [EXT] Unigram-LM (SentencePiece-class) subword tokenizer
  * (`unigram_encode_stats` / `unigram_fertility` queries) — the OTHER
  * member of the tokenizer family next to [[Bpe]] (Kudo 2018,
  * "Subword Regularization"): instead of growing pieces bottom-up by
  * merge frequency, the unigram model starts from a large seeded
  * candidate vocabulary, fits piece probabilities by EM over the
  * word-frequency dictionary, prunes to the target size, and encodes by
  * VITERBI — the maximum-likelihood segmentation under the piece
  * unigram LM. Modern multilingual pipelines budget in unigram-LM
  * pieces; the repo's fertility audit (`bpe_fertility`) skews
  * differently under it, which is exactly what the paired
  * `unigram_fertility` query exposes.
  *
  * Training follows the [[Bpe.fitMerges]] discipline — fit on the
  * BOUNDED word-frequency dictionary, never the token stream: seed
  * candidates are all substrings (length ≤ `maxPieceLen`) of dictionary
  * words weighted by word count, capped to `seedSize` by (count desc,
  * piece asc) with every single character kept for coverage; EM rounds
  * are HARD (Viterbi) E-steps — re-segment the dictionary under current
  * probabilities, recount, re-normalize — a deterministic simplification
  * of Kudo's soft EM + loss-ranked pruning. MEASURED divergence (r12,
  * vs the in-repo [[fitOnDictSoft]] soft-EM reference on the sf0.001
  * dictionary, UnigramSoftSpec): the hard fit's vocab is STRICTLY
  * CONTAINED in the soft fit's (55 vs 259 pieces, Jaccard 0.21) — the
  * gap is the E-steps' pruning asymmetry (Viterbi zeroes any piece off
  * every best path; forward-backward keeps fractional mass), and the
  * per-language fertility cost of the smaller hard vocab is what the
  * `unigram_fit_divergence` query reports. At 100 TB the dictionary is
  * still vocabulary-scale, so the collect is bounded and the cluster
  * never re-scans the corpus per round.
  *
  * Probabilities live as INTEGER MICRO-NATS (`⌊ln(c∕Σc)·10⁶⌋`, the
  * [[LmScore]] fixed-point discipline): the doubles die at fit time on
  * the driver, and both engines' Viterbi runs in pure BIGINT addition —
  * no float fold anywhere, so the DP is bit-identical by construction.
  * Unknown single characters cost [[UnkMicro]] (≈ ln 1e-10); multi-char
  * candidates must be in the vocabulary. Ties break identically in both
  * engines: higher score, then FEWER pieces, then the LONGER last piece.
  *
  * The oracle is the [[graft.similarity.FittedOracle]] printed-constant
  * channel: the fitted (piece, lp) table prints into a DuckDB MAP
  * constant and the Viterbi DP replays as a `list_reduce` fold over
  * positions (accumulator = the dp array as a STRUCT(s, n) list; the
  * current position is `len(acc)` — no recursion, no aggregate-in-
  * recursion). Character indexing is BMP-code-unit on both engines
  * (the [[Bpe]] contract; astral input is out of contract for the
  * fixture corpus).
  *
  * Scale shape: encode is a broadcast-table per-partition map over the
  * token arrays — no shuffle; stats aggregate on doc_id / the bounded
  * language key. Reference for semantics: Kudo 2018 §3; SentencePiece's
  * public unigram trainer (seed → EM → prune → Viterbi encode).
  */
object Unigram {

  /** Cost of an out-of-vocabulary single character, in micro-nats
    * (≈ ln 1e-10 — harsh enough that any in-vocab segmentation wins,
    * finite so encode stays total on unseen scripts). */
  val UnkMicro: Long = -23025851L

  private def lpMicro(cnt: Long, total: Long): Long =
    math.floor(math.log(cnt.toDouble / total.toDouble) * 1e6).toLong

  /** Viterbi DP over one token under integer piece log-probs. Returns
    * (score, nPieces, backpointers) — the tournament order (score desc,
    * pieces asc, last-piece-length desc) is the one the SQL fold
    * replays. */
  private def viterbiDp(tok: String, lp: collection.Map[String, Long],
                        maxLen: Int): (Array[Long], Array[Int], Array[Int]) = {
    val n = tok.length
    val s = new Array[Long](n + 1)
    val np = new Array[Int](n + 1)
    val bk = new Array[Int](n + 1)
    var pos = 1
    while (pos <= n) {
      var bestS = Long.MinValue
      var bestN = Int.MaxValue
      var bestK = 0
      var k = 1
      val kMax = math.min(maxLen, pos)
      while (k <= kMax) {
        val piece = tok.substring(pos - k, pos)
        val c = lp.get(piece) match {
          case Some(v) => v
          case None => if (k == 1) UnkMicro else Long.MinValue
        }
        if (c != Long.MinValue) {
          val cs = s(pos - k) + c
          val cn = np(pos - k) + 1
          if (cs > bestS || (cs == bestS &&
            (cn < bestN || (cn == bestN && k > bestK)))) {
            bestS = cs; bestN = cn; bestK = k
          }
        }
        k += 1
      }
      s(pos) = bestS; np(pos) = bestN; bk(pos) = bestK
      pos += 1
    }
    (s, np, bk)
  }

  /** Piece count of the Viterbi segmentation (encode hot path). */
  private[text] def viterbiPieces(tok: String, lp: collection.Map[String, Long],
                                  maxLen: Int): Int =
    if (tok.isEmpty) 0 else viterbiDp(tok, lp, maxLen)._2(tok.length)

  /** The Viterbi segmentation itself (EM E-step + specs). */
  private[text] def viterbiPath(tok: String, lp: collection.Map[String, Long],
                                maxLen: Int): List[String] = {
    if (tok.isEmpty) return Nil
    val bk = viterbiDp(tok, lp, maxLen)._3
    var pos = tok.length
    var out = List.empty[String]
    while (pos > 0) {
      val k = bk(pos)
      out = tok.substring(pos - k, pos) :: out
      pos -= k
    }
    out
  }

  /** Greedy longest-match-first segmentation over the same piece
    * vocabulary — the WordPiece/MaxMatch ENCODE family (Wu et al. 2016;
    * HuggingFace BERT tokenizers run exactly this loop): from the left,
    * take the longest vocab piece at the cursor, else consume one
    * (UNK-priced) character. No `##` continuation marking (documented
    * simplification: the fitted vocab is positionless); no look-back —
    * which is WHY it diverges from Viterbi: greedy grabbing a long
    * piece can strand the remainder in singles where the
    * maximum-likelihood split is cheaper overall. The spec pins the
    * divergence; `maxmatch_encode_stats` measures it on the corpus
    * (compare its compression column with `unigram_encode_stats`). */
  private[text] def maxMatchPieces(tok: String, vocab: collection.Set[String],
                                   maxLen: Int): Int = {
    var pos = 0
    var n = 0
    while (pos < tok.length) {
      var k = math.min(maxLen, tok.length - pos)
      while (k > 1 && !vocab.contains(tok.substring(pos, pos + k))) k -= 1
      pos += k
      n += 1
    }
    n
  }

  /** The greedy segmentation itself — [[maxMatchPieces]]'s cursor walk
    * emitting the pieces (decode/round-trip path). */
  private[text] def maxMatchPath(tok: String, vocab: collection.Set[String],
                                 maxLen: Int): List[String] = {
    var pos = 0
    val out = List.newBuilder[String]
    while (pos < tok.length) {
      var k = math.min(maxLen, tok.length - pos)
      while (k > 1 && !vocab.contains(tok.substring(pos, pos + k))) k -= 1
      out += tok.substring(pos, pos + k)
      pos += k
    }
    out.result()
  }

  /** Per-document greedy MaxMatch statistics (`maxmatch_encode_stats`):
    * the [[encodeStats]] shape under the greedy coder — same vocab,
    * different algorithm, so the two queries' compression columns
    * measure what Viterbi buys. */
  def maxMatchStats(docs: DataFrame, idCol: String, textCol: String,
                    pieces: Seq[(String, Long)],
                    maxPieceLen: Int = 6): DataFrame = {
    val bc = docs.sparkSession.sparkContext
      .broadcast(pieces.map(_._1).toSet)
    val enc = udf { toks: Seq[String] =>
      var p = 0L
      toks.foreach(t => p += maxMatchPieces(t, bc.value, maxPieceLen))
      p
    }
    graft.Par.widen(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(lower(col(textCol))).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        enc(col("toks")).as("n_pieces"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
        round(col("n_tokens").cast("double") /
          col("n_pieces").cast("double"), 4).as("compression"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of [[maxMatchStats]]: the greedy cursor walk as a
    * string-position `list_reduce` fold — the accumulator is
    * [cursor, count] (BIGINT pair); each step tries lengths
    * min(L, len−cursor+1)…2 via the piece map and falls back to one
    * character. The elements are dummies; only fold ORDER matters, and
    * one element per character is an upper bound on steps (a step
    * consumes ≥ 1 char — steps where the cursor is already past the
    * end are identity). */
  def sqlMaxMatchStats(pieces: Seq[(String, Long)],
                       maxPieceLen: Int = 6): String = {
    require(pieces.nonEmpty, "maxmatch oracle needs a non-empty fitted vocab")
    val ps = pieces.map(p => sqlQuote(p._1)).mkString(", ")
    val tokRe = "[^ \\t\\n\\x0B\\f\\r]+"
    // longest k in [2, min(L, remaining)] whose substring is in vocab,
    // else 1 — list_max over the matching lengths. The done-state guard
    // is BRANCH-FREE arithmetic (`g` = cursor still in bounds): a CASE
    // expression inside a list_reduce lambda miscompiles in DuckDB 1.0
    // (returns a zeroed accumulator — bisected in r11), so steps past
    // the end multiply their advance/count by g = 0 instead.
    val step =
      s"""list_transform([COALESCE(list_max(list_filter(
         |      range(2, least($maxPieceLen, length(tok) - acc[1] + 1) + 1),
         |      k -> len(m[substring(tok, CAST(acc[1] AS INT), CAST(k AS INT))]) > 0)),
         |    1)],
         |    kk -> [acc[1] + kk * CAST(acc[1] <= length(tok) AS BIGINT),
         |           acc[2] + CAST(acc[1] <= length(tok) AS BIGINT)])[1]""".stripMargin
    s"""WITH mm_vm AS (SELECT MAP([$ps], [$ps]) AS m),
       |mm_dtok AS (
       |  SELECT DISTINCT UNNEST(regexp_extract_all(lower(text), '$tokRe')) AS tok
       |  FROM documents),
       |mm_dp AS (
       |  SELECT tok, list_reduce(
       |    list_prepend([CAST(1 AS BIGINT), CAST(0 AS BIGINT)],
       |      list_transform(range(1, length(tok) + 1),
       |        i -> [CAST(1 AS BIGINT), CAST(0 AS BIGINT)])),
       |    (acc, x) -> $step) AS st
       |  FROM mm_dtok CROSS JOIN mm_vm),
       |mm_pieces AS (SELECT tok, st[2] AS np FROM mm_dp),
       |mm_dt AS (
       |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '$tokRe')) AS tok
       |  FROM documents),
       |mm_doc AS (
       |  SELECT mm_dt.doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(mm_pieces.np) AS BIGINT) AS n_pieces
       |  FROM mm_dt JOIN mm_pieces USING (tok) GROUP BY mm_dt.doc_id)
       |SELECT doc_id, n_tokens, n_pieces,
       |  round(n_tokens::DOUBLE / n_pieces::DOUBLE, 4) AS compression
       |FROM mm_doc WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin
  }

  /** Substring counts of the dictionary (length ≤ maxPieceLen),
    * weighted by word frequency — the shared candidate seed of the
    * hard- and soft-EM fits. */
  private def seedCounts(dict: Array[(String, Long)],
                         maxPieceLen: Int): mutable.HashMap[String, Long] = {
    val cnt = mutable.HashMap.empty[String, Long]
    dict.foreach { case (w, n) =>
      var i = 0
      while (i < w.length) {
        var j = i + 1
        val jMax = math.min(i + maxPieceLen, w.length)
        while (j <= jMax) {
          val p = w.substring(i, j)
          cnt.update(p, cnt.getOrElse(p, 0L) + n)
          j += 1
        }
        i += 1
      }
    }
    cnt
  }

  /** Seed-vocabulary cap: every single character survives (coverage);
    * multi-char candidates by (count desc, piece asc) up to seedSize. */
  private def seedVocab(cnt: mutable.HashMap[String, Long],
                        seedSize: Int): IndexedSeq[String] = {
    val chars = cnt.keysIterator.filter(_.length == 1).toIndexedSeq.sorted
    val multi = cnt.iterator.filter(_._1.length > 1).toIndexedSeq
      .sortBy { case (p, c) => (-c, p) }
      .take(math.max(0, seedSize - chars.size)).map(_._1)
    chars ++ multi
  }

  /** Driver-side unigram fit over a word dictionary: (piece, lpMicro)
    * sorted by piece. Pure function of the dictionary (sorted takes,
    * commutative sums — no hash-order dependence). */
  private[text] def fitOnDict(dict: Array[(String, Long)], vocabSize: Int,
                              maxPieceLen: Int = 6, emRounds: Int = 3,
                              seedSize: Int = 2000): Seq[(String, Long)] = {
    val cnt = seedCounts(dict, maxPieceLen)
    if (cnt.isEmpty) return Seq.empty
    var counts: Map[String, Long] =
      seedVocab(cnt, seedSize).iterator.map(p => p -> cnt(p)).toMap
    def toProbs(c: Map[String, Long]): Map[String, Long] = {
      val tot = c.valuesIterator.sum
      c.map { case (p, n) => p -> lpMicro(n, tot) }
    }
    var probs = toProbs(counts)
    // hard-EM rounds: Viterbi re-segmentation of the dictionary,
    // recount, renormalize. Characters keep a floor count of 1 so
    // coverage never collapses; multi-char pieces the best
    // segmentations stopped using drop out (implicit pruning).
    var round = 0
    while (round < emRounds) {
      val ncnt = mutable.HashMap.empty[String, Long]
      dict.foreach { case (w, n) =>
        viterbiPath(w, probs, maxPieceLen)
          .foreach(p => ncnt.update(p, ncnt.getOrElse(p, 0L) + n))
      }
      counts = counts.keysIterator.map { p =>
        val c = ncnt.getOrElse(p, 0L)
        p -> (if (p.length == 1) math.max(c, 1L) else c)
      }.filter(_._2 > 0).toMap
      probs = toProbs(counts)
      round += 1
    }
    // final prune to vocabSize: every character survives; multi-char by
    // (count desc, piece asc); renormalize over the kept set.
    val keptChars = counts.keysIterator.filter(_.length == 1).toIndexedSeq.sorted
    val keptMulti = counts.iterator.filter(_._1.length > 1).toIndexedSeq
      .sortBy { case (p, c) => (-c, p) }
      .take(math.max(0, vocabSize - keptChars.size)).map(_._1)
    val kept = (keptChars ++ keptMulti).toSet
    toProbs(counts.filter { case (p, _) => kept(p) })
      .toIndexedSeq.sortBy(_._1)
  }

  /** Train on `textCol`: the [[Bpe.wordDict]] bounded dictionary, then
    * [[fitOnDict]]. */
  def fitPieces(docs: DataFrame, textCol: String, vocabSize: Int,
                maxPieceLen: Int = 6, emRounds: Int = 3,
                seedSize: Int = 2000,
                maxVocabWords: Int = 100000): Seq[(String, Long)] =
    fitOnDict(Bpe.wordDict(docs, textCol, maxVocabWords), vocabSize,
      maxPieceLen, emRounds, seedSize)

  // -------------------------------------------------- soft-EM reference

  /** ln 1e-10 — [[UnkMicro]] in nats, the lattice cost of an
    * out-of-vocab single character during the soft E-step. */
  private val UnkLog: Double = UnkMicro.toDouble / 1e6

  private def logSumExp(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else { val m = math.max(a, b); m + math.log1p(math.exp(math.min(a, b) - m)) }

  /** Accumulate the EXPECTED piece counts of one dictionary word into
    * `out` — the forward-backward pass over the segmentation lattice
    * that makes the E-step soft (Kudo 2018 §3.2: every segmentation
    * contributes, weighted by its posterior, where the hard fit keeps
    * only the Viterbi path). Log-domain throughout; `n` is the word's
    * corpus count. */
  private[text] def addExpectedCounts(w: String, n: Long,
                                lp: collection.Map[String, Double],
                                maxLen: Int,
                                out: mutable.HashMap[String, Double]): Unit = {
    val L = w.length
    def cost(i: Int, j: Int): Double = lp.get(w.substring(i, j)) match {
      case Some(v) => v
      case None => if (j - i == 1) UnkLog else Double.NegativeInfinity
    }
    val alpha = Array.fill(L + 1)(Double.NegativeInfinity)
    alpha(0) = 0.0
    var pos = 1
    while (pos <= L) {
      var k = 1
      val kMax = math.min(maxLen, pos)
      while (k <= kMax) {
        val c = cost(pos - k, pos)
        if (c != Double.NegativeInfinity &&
          alpha(pos - k) != Double.NegativeInfinity)
          alpha(pos) = logSumExp(alpha(pos), alpha(pos - k) + c)
        k += 1
      }
      pos += 1
    }
    val z = alpha(L)
    if (z == Double.NegativeInfinity) return
    val beta = Array.fill(L + 1)(Double.NegativeInfinity)
    beta(L) = 0.0
    pos = L - 1
    while (pos >= 0) {
      var k = 1
      val kMax = math.min(maxLen, L - pos)
      while (k <= kMax) {
        val c = cost(pos, pos + k)
        if (c != Double.NegativeInfinity &&
          beta(pos + k) != Double.NegativeInfinity)
          beta(pos) = logSumExp(beta(pos), c + beta(pos + k))
        k += 1
      }
      pos -= 1
    }
    var i = 0
    while (i < L) {
      var k = 1
      val kMax = math.min(maxLen, L - i)
      while (k <= kMax) {
        val c = cost(i, i + k)
        if (c != Double.NegativeInfinity &&
          alpha(i) != Double.NegativeInfinity &&
          beta(i + k) != Double.NegativeInfinity) {
          val e = math.exp(alpha(i) + c + beta(i + k) - z) * n
          val p = w.substring(i, i + k)
          out.update(p, out.getOrElse(p, 0.0) + e)
        }
        k += 1
      }
      i += 1
    }
  }

  /** SOFT-EM reference fit (Kudo 2018's E-step, not the hard Viterbi
    * simplification [[fitOnDict]] ships): same seed, same rounds, same
    * char floor and final prune — the ONLY difference is the E-step,
    * which replaces the Viterbi re-segmentation count with the
    * forward-backward EXPECTED count over all segmentations. Exists to
    * MEASURE the hard fit's divergence (`unigram_fit_divergence` query;
    * UnigramSoftSpec pins the vocab overlap), the way the F113 coverage
    * audit measured the window-dedup approximation: the documented
    * divergence becomes a number. Deterministic: expected counts
    * accumulate in dictionary order, totals sum in sorted piece order,
    * and the doubles die at fit time in the same micro-nat floor as the
    * hard fit. (Kudo additionally prunes by likelihood LOSS per round;
    * both fits here prune once, by count, at the end — so the measured
    * delta isolates hard-vs-soft E-steps under a shared prune rule.) */
  private[text] def fitOnDictSoft(dict: Array[(String, Long)], vocabSize: Int,
                                  maxPieceLen: Int = 6, emRounds: Int = 3,
                                  seedSize: Int = 2000): Seq[(String, Long)] = {
    val cnt = seedCounts(dict, maxPieceLen)
    if (cnt.isEmpty) return Seq.empty
    var counts: Map[String, Double] =
      seedVocab(cnt, seedSize).iterator.map(p => p -> cnt(p).toDouble).toMap
    def sortedTotal(c: Map[String, Double]): Double =
      c.toIndexedSeq.sortBy(_._1).iterator.map(_._2).sum
    def toLogProbs(c: Map[String, Double]): Map[String, Double] = {
      val tot = sortedTotal(c)
      c.map { case (p, n) => p -> math.log(n / tot) }
    }
    var lp = toLogProbs(counts)
    var round = 0
    while (round < emRounds) {
      val exp = mutable.HashMap.empty[String, Double]
      dict.foreach { case (w, n) =>
        addExpectedCounts(w, n, lp, maxPieceLen, exp)
      }
      counts = counts.keysIterator.map { p =>
        val c = exp.getOrElse(p, 0.0)
        p -> (if (p.length == 1) math.max(c, 1.0) else c)
      }.filter(_._2 > 0.0).toMap
      lp = toLogProbs(counts)
      round += 1
    }
    val keptChars = counts.keysIterator.filter(_.length == 1).toIndexedSeq.sorted
    val keptMulti = counts.iterator.filter(_._1.length > 1).toIndexedSeq
      .sortBy { case (p, c) => (-c, p) }
      .take(math.max(0, vocabSize - keptChars.size)).map(_._1)
    val kept = (keptChars ++ keptMulti).toSet
    val final_ = counts.filter { case (p, _) => kept(p) }
    val tot = sortedTotal(final_)
    final_.iterator
      .map { case (p, c) => p -> math.floor(math.log(c / tot) * 1e6).toLong }
      .toIndexedSeq.sortBy(_._1)
  }

  /** [[fitPiecesSoft]] = [[fitOnDictSoft]] over the bounded dictionary. */
  def fitPiecesSoft(docs: DataFrame, textCol: String, vocabSize: Int,
                    maxPieceLen: Int = 6, emRounds: Int = 3,
                    seedSize: Int = 2000,
                    maxVocabWords: Int = 100000): Seq[(String, Long)] =
    fitOnDictSoft(Bpe.wordDict(docs, textCol, maxVocabWords), vocabSize,
      maxPieceLen, emRounds, seedSize)

  // ------------------------------------ promoted soft path (r13, F138)

  /** Best ALTERNATIVE segmentation log-prob of piece `p` — the Viterbi
    * DP over `p`'s characters using every vocab entry EXCEPT `p`
    * itself. Finite whenever single-character coverage holds (the char
    * floor guarantees it), so every multi-char piece has a well-defined
    * removal cost. */
  private def altSegLogProb(p: String, lp: collection.Map[String, Double],
                            maxLen: Int): Double = {
    val L = p.length
    val dp = Array.fill(L + 1)(Double.NegativeInfinity)
    dp(0) = 0.0
    var pos = 1
    while (pos <= L) {
      var k = 1
      val kMax = math.min(maxLen, pos)
      while (k <= kMax) {
        // the piece itself spans [0, L) exactly once — skip that arc
        if (!(pos == L && k == L)) {
          val sub = p.substring(pos - k, pos)
          val c = lp.get(sub) match {
            case Some(v) => v
            case None => if (k == 1) UnkLog else Double.NegativeInfinity
          }
          if (c != Double.NegativeInfinity &&
            dp(pos - k) != Double.NegativeInfinity &&
            dp(pos - k) + c > dp(pos)) dp(pos) = dp(pos - k) + c
        }
        k += 1
      }
      pos += 1
    }
    dp(L)
  }

  /** The PRODUCTION soft fit (Kudo 2018 §3.2 in full): soft-EM rounds
    * over the seed vocabulary, then ITERATIVE LOSS-RANKED pruning — per
    * prune step, each multi-char piece's removal loss is its expected
    * count times (its own log-prob minus its best alternative
    * segmentation by the remaining vocab), i.e. exactly how much corpus
    * log-likelihood dies if its occurrences re-segment without it; the
    * lowest-loss quarter drops (never below the target), one soft-EM
    * round re-estimates, repeat until the vocab budget is met. This is
    * the piece Kudo's trainer runs that the F123 audit fit
    * ([[fitOnDictSoft]]) deliberately omitted — that audit isolates the
    * E-step delta under a SHARED count prune and keeps its contract;
    * this path is the promoted production fit the r12 verdict asked
    * for. Deterministic like the audit fit: dictionary-order
    * accumulation, sorted-piece totals, loss ties broken by piece asc,
    * micro-nat floor at print. */
  private[text] def fitOnDictSoftPruned(dict: Array[(String, Long)],
                                        vocabSize: Int,
                                        maxPieceLen: Int = 6,
                                        emRounds: Int = 3,
                                        seedSize: Int = 2000,
                                        keepPct: Int = 75): Seq[(String, Long)] = {
    require(keepPct > 0 && keepPct < 100, "keepPct is a percentage")
    val cnt = seedCounts(dict, maxPieceLen)
    if (cnt.isEmpty) return Seq.empty
    var counts: Map[String, Double] =
      seedVocab(cnt, seedSize).iterator.map(p => p -> cnt(p).toDouble).toMap
    def sortedTotal(c: Map[String, Double]): Double =
      c.toIndexedSeq.sortBy(_._1).iterator.map(_._2).sum
    def toLogProbs(c: Map[String, Double]): Map[String, Double] = {
      val tot = sortedTotal(c)
      c.map { case (p, n) => p -> math.log(n / tot) }
    }
    def emRound(lp0: Map[String, Double],
                c0: Map[String, Double]): Map[String, Double] = {
      val exp = mutable.HashMap.empty[String, Double]
      dict.foreach { case (w, n) => addExpectedCounts(w, n, lp0, maxPieceLen, exp) }
      c0.keysIterator.map { p =>
        val c = exp.getOrElse(p, 0.0)
        p -> (if (p.length == 1) math.max(c, 1.0) else c)
      }.filter(_._2 > 0.0).toMap
    }
    var round = 0
    while (round < emRounds) {
      counts = emRound(toLogProbs(counts), counts)
      round += 1
    }
    // Loss-ranked prune loop: shrink the multi-char tail toward the
    // budget, re-estimating between steps so later losses see the
    // re-segmented probability mass.
    val nChars = counts.keysIterator.count(_.length == 1)
    val targetMulti = math.max(0, vocabSize - nChars)
    var multi = counts.keysIterator.count(_.length > 1)
    while (multi > targetMulti) {
      val lp = toLogProbs(counts)
      val keepN = math.max(targetMulti, multi * keepPct / 100)
      val kept = counts.iterator.filter(_._1.length > 1).toIndexedSeq
        .map { case (p, c) =>
          val loss = c * (lp(p) - altSegLogProb(p, lp, maxPieceLen))
          (p, loss)
        }
        .sortBy { case (p, loss) => (-loss, p) }
        .take(keepN).iterator.map(_._1).toSet
      counts = counts.filter { case (p, _) => p.length == 1 || kept(p) }
      counts = emRound(toLogProbs(counts), counts)
      multi = counts.keysIterator.count(_.length > 1)
    }
    val tot = sortedTotal(counts)
    counts.iterator
      .map { case (p, c) => p -> math.floor(math.log(c / tot) * 1e6).toLong }
      .toIndexedSeq.sortBy(_._1)
  }

  /** [[fitOnDictSoftPruned]] over the bounded dictionary. */
  def fitPiecesSoftPruned(docs: DataFrame, textCol: String, vocabSize: Int,
                          maxPieceLen: Int = 6, emRounds: Int = 3,
                          seedSize: Int = 2000, keepPct: Int = 75,
                          maxVocabWords: Int = 100000): Seq[(String, Long)] =
    fitOnDictSoftPruned(Bpe.wordDict(docs, textCol, maxVocabWords), vocabSize,
      maxPieceLen, emRounds, seedSize, keepPct)

  /** Fit-mode switch for the production unigram path (r13): `HardEm` is
    * the established Viterbi-EM fit ([[fitPieces]]); `SoftEm` is the
    * Kudo-faithful forward-backward fit with loss-ranked pruning
    * ([[fitPiecesSoftPruned]]). Both produce the same (piece, micro-nat
    * log-prob) table shape, so every downstream consumer — Viterbi and
    * MaxMatch coders, packing, fertility — is fit-mode-agnostic. */
  sealed trait FitMode
  case object HardEm extends FitMode
  case object SoftEm extends FitMode

  /** The production fit entry: one knob selects the E-step family.
    *
    * DEFAULT = `SoftEm`: Kudo
    * 2018's trainer IS soft-EM — the §2.2 M-step re-estimates piece
    * probabilities from forward-backward EXPECTED counts, and §3.2
    * prunes by each piece's likelihood-loss contribution; hard
    * (Viterbi-count) EM is this repo's earlier simplification. The
    * choice is real, not a tie-break: on the standing sf0.001
    * dictionary the two fits' vocabularies overlap at Jaccard 0.21
    * (UnigramSoftSpec) and the fertility deltas per language are
    * hash-pinned by `unigram_fit_divergence`. Queries that pin
    * hard-fit constants call [[fitPieces]] (or pass `HardEm`)
    * explicitly — the default steers NEW consumers to the faithful
    * trainer. */
  def fit(docs: DataFrame, textCol: String, vocabSize: Int,
          maxPieceLen: Int = 6, emRounds: Int = 3, seedSize: Int = 2000,
          maxVocabWords: Int = 100000,
          mode: FitMode = SoftEm): Seq[(String, Long)] = mode match {
    case HardEm => fitPieces(docs, textCol, vocabSize, maxPieceLen,
      emRounds, seedSize, maxVocabWords)
    case SoftEm => fitPiecesSoftPruned(docs, textCol, vocabSize, maxPieceLen,
      emRounds, seedSize, maxVocabWords = maxVocabWords)
  }

  private def pieceUdf(docs: DataFrame, pieces: Seq[(String, Long)],
                       maxPieceLen: Int) = {
    val bc = docs.sparkSession.sparkContext.broadcast(pieces.toMap)
    udf { toks: Seq[String] =>
      var p = 0L
      toks.foreach(t => p += viterbiPieces(t, bc.value, maxPieceLen))
      p
    }
  }

  /** Per-document unigram PIECE counts as a packing unit — the
    * [[Bpe.pieceCounts]] twin: trainers budget sequences in tokenizer
    * units, and a pipeline standardizing on the unigram model packs in
    * ITS pieces ([[graft.pipeline.Curation.packChunksUnigram]]).
    * Broadcast piece table, per-partition Viterbi, no shuffle. */
  def pieceCounts(docs: DataFrame, idCol: String, textCol: String,
                  pieces: Seq[(String, Long)],
                  maxPieceLen: Int = 6): DataFrame = {
    val enc = pieceUdf(docs, pieces, maxPieceLen)
    graft.Par.widen(docs)
      .select(col(idCol).cast("long").as(idCol),
        TextAnalysis.tokens(lower(col(textCol))).as("toks"))
      .select(col(idCol), enc(col("toks")).as("n_tokens"))
  }

  /** Per-document Viterbi encode statistics (`unigram_encode_stats`):
    * (doc_id, n_tokens, n_pieces, compression) — the [[Bpe.encodeStats]]
    * twin under the unigram model. Broadcast piece table, per-partition
    * encode, no shuffle. */
  def encodeStats(docs: DataFrame, idCol: String, textCol: String,
                  pieces: Seq[(String, Long)],
                  maxPieceLen: Int = 6): DataFrame = {
    val enc = pieceUdf(docs, pieces, maxPieceLen)
    graft.Par.widen(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(lower(col(textCol))).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        enc(col("toks")).as("n_pieces"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
        round(col("n_tokens").cast("double") /
          col("n_pieces").cast("double"), 4).as("compression"))
      .orderBy(col("doc_id"))
  }

  /** F129: decode round-trip audit (`tokenizer_roundtrip`) — the
    * losslessness contract every tokenizer owes its trainer: detokenize
    * (concatenate pieces per token, re-join tokens with single spaces)
    * must reproduce the canonical text EXACTLY, under BOTH coders over
    * the same fitted vocab (Viterbi and greedy MaxMatch). SentencePiece
    * ships this as its self-test; a gapped, overlapped or reordered
    * segmentation anywhere in the DP/cursor code would corrupt training
    * text silently — this query makes it a hash mismatch instead.
    *
    * The oracle is deliberately fit-free: DuckDB computes the canonical
    * form (lowercase, ASCII-whitespace-collapsed — SplitWhitespace's
    * byte set) INDEPENDENTLY from the raw text and asserts both decode
    * md5s equal it with both ok flags 1, so the gate proves Spark's
    * reassembled bytes — not just piece counts — are right. Broadcast
    * piece table, per-partition decode, no shuffle. */
  def roundTrip(docs: DataFrame, idCol: String, textCol: String,
                pieces: Seq[(String, Long)],
                maxPieceLen: Int = 6): DataFrame = {
    val sc = docs.sparkSession.sparkContext
    val bcLp = sc.broadcast(pieces.toMap)
    val bcV = sc.broadcast(pieces.iterator.map(_._1).toSet)
    val vit = udf { toks: Seq[String] =>
      toks.iterator.map(t => viterbiPath(t, bcLp.value, maxPieceLen).mkString)
        .mkString(" ")
    }
    val mm = udf { toks: Seq[String] =>
      toks.iterator.map(t => maxMatchPath(t, bcV.value, maxPieceLen).mkString)
        .mkString(" ")
    }
    graft.Par.widen(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(lower(col(textCol))).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        array_join(col("toks"), " ").as("canon"),
        vit(col("toks")).as("dec_v"), mm(col("toks")).as("dec_m"))
      .select(col("doc_id"), col("n_tokens"),
        md5(col("dec_v")).as("viterbi_md5"),
        md5(col("dec_m")).as("maxmatch_md5"),
        (col("dec_v") === col("canon")).cast("int").as("viterbi_ok"),
        (col("dec_m") === col("canon")).cast("int").as("maxmatch_ok"))
      .orderBy(col("doc_id"))
  }

  /** Fertility by language under the unigram model
    * (`unigram_fertility`): the [[Bpe.fertilityByLang]] audit with the
    * Viterbi piece counts — integer sums end-to-end, one shuffle on the
    * bounded language key. */
  def fertilityByLang(docs: DataFrame, idCol: String, textCol: String,
                      langCol: String, pieces: Seq[(String, Long)],
                      maxPieceLen: Int = 6): DataFrame = {
    val enc = pieceUdf(docs, pieces, maxPieceLen)
    graft.Par.widen(docs)
      .select(coalesce(col(langCol), lit("und")).as("lang"),
        TextAnalysis.tokens(lower(col(textCol))).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("lang"),
        size(col("toks")).cast("long").as("n_tokens"),
        enc(col("toks")).as("n_pieces"),
        aggregate(transform(col("toks"), t => octet_length(t).cast("long")),
          lit(0L), _ + _).as("n_bytes"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("n_bytes")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_pieces"),
        col("n_bytes"),
        round(col("n_pieces").cast("double") /
          col("n_tokens").cast("double"), 4).as("fertility"),
        round(col("n_bytes").cast("double") /
          col("n_pieces").cast("double"), 4).as("bytes_per_piece"))
      .orderBy(col("lang"))
  }

  /** Per-language fertility under TWO fits of the same dictionary
    * (`unigram_fit_divergence` query): the hard-EM production fit vs
    * the [[fitOnDictSoft]] soft-EM reference, encoded by the SAME
    * integer Viterbi, so `fertility_delta` is exactly what the hard
    * E-step costs (or buys) per language. One text scan, both encodes
    * per row, one bounded-key shuffle. */
  def fertilityCompare(docs: DataFrame, idCol: String, textCol: String,
                       langCol: String, piecesHard: Seq[(String, Long)],
                       piecesSoft: Seq[(String, Long)],
                       maxPieceLen: Int = 6): DataFrame = {
    // one UDF, both tables: per token, piece counts under each fit plus
    // the ABSOLUTE per-token difference — the aggregate deltas can
    // cancel across tokens, the abs-diff cannot, so a zero
    // pieces_absdiff is a real "the pruned vocab encodes every token to
    // the same length" finding, not an artifact of summation.
    val bcH = docs.sparkSession.sparkContext.broadcast(piecesHard.toMap)
    val bcS = docs.sparkSession.sparkContext.broadcast(piecesSoft.toMap)
    val enc = udf { toks: Seq[String] =>
      var ph = 0L; var ps = 0L; var ad = 0L
      toks.foreach { t =>
        val h = viterbiPieces(t, bcH.value, maxPieceLen)
        val s = viterbiPieces(t, bcS.value, maxPieceLen)
        ph += h; ps += s; ad += math.abs(h - s)
      }
      (ph, ps, ad)
    }
    def fert(c: org.apache.spark.sql.Column) =
      c.cast("double") / col("n_tokens").cast("double")
    graft.Par.widen(docs)
      .select(coalesce(col(langCol), lit("und")).as("lang"),
        TextAnalysis.tokens(lower(col(textCol))).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("lang"),
        size(col("toks")).cast("long").as("n_tokens"),
        enc(col("toks")).as("e"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("e._1")).as("pieces_hard"),
        sum(col("e._2")).as("pieces_soft"),
        sum(col("e._3")).as("pieces_absdiff"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("pieces_hard"), col("pieces_soft"), col("pieces_absdiff"),
        round(fert(col("pieces_hard")), 4).as("fertility_hard"),
        round(fert(col("pieces_soft")), 4).as("fertility_soft"),
        round(fert(col("pieces_hard")) - fert(col("pieces_soft")), 4)
          .as("fertility_delta"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------- SQL

  private def sqlQuote(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Shared WITH-fragments of the unigram oracles: the fitted pieces as
    * a MAP constant, the Viterbi DP as a list_reduce fold over positions
    * (dp array = STRUCT(s BIGINT, n BIGINT) list; position = len(acc);
    * candidates k = 1..min(L, pos) with the (score desc, pieces asc,
    * k desc) tournament — exactly [[viterbiDp]]'s argmax), then the
    * per-document joins the [[Bpe]] oracles established. */
  private def sqlUnigramCommon(pieces: Seq[(String, Long)],
                               maxPieceLen: Int,
                               pfx: String = "u"): String = {
    require(pieces.nonEmpty, "unigram oracle needs a non-empty fitted vocab")
    val ps = pieces.map(p => sqlQuote(p._1)).mkString(", ")
    val ls = pieces.map(_._2.toString).mkString(", ")
    val tokRe = "[^ \\t\\n\\x0B\\f\\r]+"
    // candidate for last-piece length k at position len(acc); NULL score
    // for an out-of-vocab multi-char piece drops the candidate
    val cand =
      s"""list_filter(list_transform(range(1, least($maxPieceLen, len(acc)) + 1), k ->
         |      {'s': acc[CAST(len(acc) - k + 1 AS INT)].s +
         |              (CASE WHEN k = 1
         |                THEN COALESCE(m[tok[CAST(len(acc) - k + 1 AS INT)]][1], ${UnkMicro}::BIGINT)
         |                ELSE m[substring(tok, CAST(len(acc) - k + 1 AS INT), CAST(k AS INT))][1] END),
         |       'n': acc[CAST(len(acc) - k + 1 AS INT)].n + 1,
         |       'k': k}), c -> c.s IS NOT NULL)""".stripMargin
    val best =
      s"""list_reduce($cand,
         |      (a, b) -> CASE WHEN b.s > a.s OR (b.s = a.s AND
         |        (b.n < a.n OR (b.n = a.n AND b.k > a.k))) THEN b ELSE a END)""".stripMargin
    s"""${pfx}_vm AS (SELECT MAP([$ps], [$ls]::BIGINT[]) AS m),
       |${pfx}_dtok AS (
       |  SELECT DISTINCT UNNEST(regexp_extract_all(lower(text), '$tokRe')) AS tok
       |  FROM documents),
       |${pfx}_dp AS (
       |  SELECT tok, list_reduce(
       |    list_prepend([{'s': CAST(0 AS BIGINT), 'n': CAST(0 AS BIGINT)}],
       |      list_transform(range(1, length(tok) + 1),
       |        i -> [{'s': CAST(0 AS BIGINT), 'n': CAST(0 AS BIGINT)}])),
       |    (acc, x) -> list_append(acc,
       |      list_transform([$best], b -> {'s': b.s, 'n': b.n})[1])) AS dp
       |  FROM ${pfx}_dtok CROSS JOIN ${pfx}_vm),
       |${pfx}_pieces AS (SELECT tok, dp[len(dp)].n AS np FROM ${pfx}_dp),
       |${pfx}_dt AS (
       |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '$tokRe')) AS tok
       |  FROM documents),
       |${pfx}_doc AS (
       |  SELECT ${pfx}_dt.doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(${pfx}_pieces.np) AS BIGINT) AS n_pieces
       |  FROM ${pfx}_dt JOIN ${pfx}_pieces USING (tok) GROUP BY ${pfx}_dt.doc_id)""".stripMargin
  }

  /** DuckDB mirror of [[encodeStats]] — the FULL oracle for
    * `unigram_encode_stats`. */
  def sqlEncodeStats(pieces: Seq[(String, Long)],
                     maxPieceLen: Int = 6): String =
    s"""WITH ${sqlUnigramCommon(pieces, maxPieceLen)}
       |SELECT doc_id, n_tokens, n_pieces,
       |  round(n_tokens::DOUBLE / n_pieces::DOUBLE, 4) AS compression
       |FROM u_doc WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of [[graft.pipeline.Curation.packChunksUnigram]] —
    * the FULL oracle for `sequence_packing_unigram`: the Viterbi piece
    * counts feed the same prefix-sum chunk arithmetic the
    * `sequence_packing`/`sequence_packing_bpe` oracles pin. Docs with
    * zero tokens pack 0 pieces and span 0 chunks. */
  def sqlPackChunks(pieces: Seq[(String, Long)], budget: Long,
                    maxPieceLen: Int = 6): String =
    s"""WITH ${sqlUnigramCommon(pieces, maxPieceLen)},
       |u_np AS (
       |  SELECT d.doc_id, COALESCE(p.n_pieces, 0) AS n_tokens
       |  FROM documents d LEFT JOIN u_doc p ON d.doc_id = p.doc_id),
       |u_o AS (
       |  SELECT doc_id, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS off
       |  FROM u_np)
       |SELECT doc_id, n_tokens,
       |  CAST(floor(off / $budget.0) AS BIGINT) AS chunk_id,
       |  CASE WHEN n_tokens = 0 THEN 0
       |       ELSE CAST(floor((off + n_tokens - 1) / $budget.0) -
       |                 floor(off / $budget.0) + 1 AS BIGINT) END AS n_chunks
       |FROM u_o ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of [[fertilityCompare]] — the FULL oracle for
    * `unigram_fit_divergence`: TWO printed piece tables, TWO Viterbi
    * folds (prefix-disambiguated CTE chains), one per-language join. */
  def sqlFertilityCompare(piecesHard: Seq[(String, Long)],
                          piecesSoft: Seq[(String, Long)],
                          maxPieceLen: Int = 6): String =
    s"""WITH ${sqlUnigramCommon(piecesHard, maxPieceLen, "uh")},
       |${sqlUnigramCommon(piecesSoft, maxPieceLen, "us")},
       |fc_tok AS (
       |  SELECT h.tok, h.np AS ph, s2.np AS ps, abs(h.np - s2.np) AS ad
       |  FROM uh_pieces h JOIN us_pieces s2 USING (tok)),
       |fc_doc AS (
       |  SELECT dt.doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(t.ph) AS BIGINT) AS ph,
       |    CAST(SUM(t.ps) AS BIGINT) AS ps,
       |    CAST(SUM(t.ad) AS BIGINT) AS ad
       |  FROM uh_dt dt JOIN fc_tok t USING (tok) GROUP BY dt.doc_id),
       |fc_j AS (
       |  SELECT COALESCE(d.lang, 'und') AS lang, f.n_tokens, f.ph, f.ps, f.ad
       |  FROM fc_doc f JOIN documents d ON d.doc_id = f.doc_id)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(ph) AS BIGINT) AS pieces_hard,
       |  CAST(SUM(ps) AS BIGINT) AS pieces_soft,
       |  CAST(SUM(ad) AS BIGINT) AS pieces_absdiff,
       |  round(SUM(ph)::DOUBLE / SUM(n_tokens)::DOUBLE, 4) AS fertility_hard,
       |  round(SUM(ps)::DOUBLE / SUM(n_tokens)::DOUBLE, 4) AS fertility_soft,
       |  round(SUM(ph)::DOUBLE / SUM(n_tokens)::DOUBLE -
       |        SUM(ps)::DOUBLE / SUM(n_tokens)::DOUBLE, 4) AS fertility_delta
       |FROM fc_j GROUP BY lang ORDER BY lang""".stripMargin

  /** DuckDB mirror of [[fertilityByLang]] — the FULL oracle for
    * `unigram_fertility`. */
  def sqlFertilityByLang(pieces: Seq[(String, Long)],
                         maxPieceLen: Int = 6): String =
    s"""WITH ${sqlUnigramCommon(pieces, maxPieceLen)},
       |u_db AS (
       |  SELECT doc_id, COALESCE(lang, 'und') AS lang,
       |    COALESCE(list_sum(list_transform(
       |      regexp_extract_all(lower(text), '[^ \\t\\n\\x0B\\f\\r]+'),
       |      t -> strlen(t))), 0) AS nb
       |  FROM documents),
       |u_j AS (
       |  SELECT u_db.lang, u_doc.n_tokens, u_doc.n_pieces, u_db.nb
       |  FROM u_doc JOIN u_db ON u_doc.doc_id = u_db.doc_id)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(SUM(nb) AS BIGINT) AS n_bytes,
       |  round(SUM(n_pieces)::DOUBLE / SUM(n_tokens)::DOUBLE, 4) AS fertility,
       |  round(SUM(nb)::DOUBLE / SUM(n_pieces)::DOUBLE, 4) AS bytes_per_piece
       |FROM u_j GROUP BY lang ORDER BY lang""".stripMargin
}
