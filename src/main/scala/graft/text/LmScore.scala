package graft.text

import graft.Mat.Pinnable

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** [EXT] Bigram language-model scoring (`lm_scores` query) — the
  * CCNet-style quality signal: score each document by how predictable
  * its text is under an n-gram model fit on the corpus itself. Low cost
  * = fluent/common phrasing; high cost = gibberish, mangled encodings,
  * keyword stuffing. The standard curation use is filtering or bucketing
  * by LM perplexity (CCNet trains KenLM on Wikipedia; here the model is
  * the corpus's own bigram table, which needs no external artifact).
  *
  * Per document: cost(D) = Σ over bigram occurrences (w1 w2) of
  * −ln p̂(w2|w1), with the LAPLACE-smoothed conditional
  * p̂(w2|w1) = (c(w1 w2) + 1) ∕ (c(w1) + V), V = vocabulary size.
  * Smoothing is not optional here: the unsmoothed MLE on a self-fit
  * corpus scores singleton contexts as perfectly predictable (c(w1) =
  * c(w1 w2) = 1 ⇒ p = 1 ⇒ cost 0), handing unique gibberish a BETTER
  * score than common prose — exactly backwards. With +V smoothing a
  * never-repeated bigram costs ≈ ln(V∕2) while a frequent one costs
  * ≈ ln(V∕c), restoring the fluency ordering.
  *
  * The engine emits each term as ⌊ln((c(w1)+V) ∕ (c(w1 w2)+1)) · 1e6⌋ —
  * an integer number of micro-nats — so the per-document SUM is an
  * integer: associative, partition-order-independent, and bit-identical
  * in DuckDB, which is what lets a floating-point NLP scorer carry a
  * full hash-checked oracle (one `ln` call per DISTINCT bigram is the
  * only libm dependency; c(w1 w2)+1 ≤ c(w1)+V keeps every term ≥ 0, so
  * the final integer division floors identically on both engines).
  *
  * Scale shape: two count aggregates (map-side combined) build the
  * unigram and bigram tables; the cost table is their equi-join keyed by
  * the bigram's first token; scoring re-keys the corpus bigram stream
  * once to meet the cost table, then aggregates by doc id — two wide
  * exchanges of the bigram stream total, both irreducible for an exact
  * corpus-fit model. The 100 TB swap (documented, not the oracle path):
  * prune the cost table to df ≥ k bigrams + a constant backoff cost for
  * the tail, which shrinks the join's build side to a broadcastable
  * head and turns the stream join into a map-side lookup.
  */
object LmScore {

  /** Corpus n-gram count tables for every order 1..maxN in ONE scan and
    * ONE aggregate exchange (r17, guide §1.2/§2.4): tokenize each
    * document once, emit every n-gram tagged by its order, count by
    * (order, gram), pin. The former shape ran one corpus scan, one
    * tokenize pass and one aggregate exchange PER ORDER, and any join
    * reading a table twice (the trigram cost table reads the bigram
    * table for both the leading and trailing context) re-ran that
    * order's whole subtree. Counts are identical — the order tag keys
    * each gram to its own aggregate group, and an order-n gram string
    * can never collide with an order-m one under the tag. The pinned
    * frame is model-table-sized (distinct n-grams — sublinear in the
    * corpus), never corpus-sized. */
  private def ngramCounts(docs: DataFrame, textCol: String,
                          maxN: Int): DataFrame = {
    val tagged = (1 to maxN).map { n =>
      val grams =
        if (n == 1) col("ws") else TextAnalysis.shinglesOfTokens(col("ws"), n)
      transform(grams, g => struct(lit(n).as("n"), g.as("g")))
    }
    graft.Par.widen(docs)
      .select(TextAnalysis.tokens(lower(col(textCol))).as("ws"))
      .select(explode(concat(tagged: _*)).as("x"))
      .groupBy(col("x.n").as("n"), col("x.g").as("g"))
      .agg(count(lit(1)).as("c"))
      .pinned
  }

  /** One order's count table out of a pinned [[ngramCounts]] frame. */
  private def gramsOf(counts: DataFrame, n: Int, gName: String,
                      cName: String): DataFrame =
    counts.filter(col("n") === n)
      .select(col("g").as(gName), col("c").as(cName))

  /** The Laplace bigram cost join over given unigram/bigram tables. */
  private def bigramCostOf(uni: DataFrame, big: DataFrame): DataFrame = {
    val vocab = uni.agg(count(lit(1)).as("v"))
    big.join(uni, split(col("bg"), " ").getItem(0) === col("w"))
      .crossJoin(broadcast(vocab))
      .select(col("bg"),
        floor(log((col("cu") + col("v")).cast("double") /
          (col("cb") + lit(1L)).cast("double")) *
          lit(1000000.0)).cast("long").as("c"))
  }

  /** Integer micro-nat cost per distinct bigram: (bg, c) where
    * c = ⌊ln((c(w1)+V) ∕ (c(w1 w2)+1)) · 1e6⌋ ≥ 0. */
  def bigramCostTable(docs: DataFrame, textCol: String): DataFrame = {
    val counts = ngramCounts(docs, textCol, 2)
    bigramCostOf(gramsOf(counts, 1, "w", "cu"), gramsOf(counts, 2, "bg", "cb"))
  }

  /** Per-document LM cost (`lm_scores` query): (doc_id, n_bigrams,
    * total_cost_micro, avg_cost_micro) for every document with at least
    * one bigram. avg = total ∕∕ n (integer division; both operands
    * non-negative, so truncation ≡ floor on both engines). */
  def scores(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cost = bigramCostTable(docs, textCol)
    graft.Par.widen(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextAnalysis.shingles(col(textCol), 2)).as("bg"))
      .join(cost, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("total_cost_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("total_cost_micro"),
        // `div` is true integer division — a double `/` + cast could slip
        // a ulp across the truncation boundary on large totals.
        expr("total_cost_micro div n_bigrams").as("avg_cost_micro"))
      .orderBy(col("doc_id"))
  }

  /** [EXT] CROSS-FIT LM scoring (`lm_scores_crossfit` query) — the shape
    * CCNet actually runs (Wenzek et al. fit the KenLM on the TARGET
    * domain, not on the corpus being scored): fit the Laplace bigram
    * model on `modelDocs` (here: the target-language slice), score every
    * document of `docs` under it. Self-fit [[scores]] can never see an
    * out-of-vocabulary bigram; cross-fit must price them — an unseen
    * bigram backs off to its first token's unigram mass,
    * c = ⌊ln(c_model(w1) + V) · 1e6⌋ (the `c(bg)+1 = 1` branch of the
    * same Laplace formula; an unseen w1 degenerates to ⌊ln(V) · 1e6⌋),
    * so foreign-domain text scores strictly costlier instead of being
    * silently dropped by the model join.
    *
    * Scale shape: the model corpus is the bounded clean target (a wiki
    * slice, not the crawl), so its unigram and bigram-cost tables
    * BROADCAST — scoring is one map-side pass over the corpus bigram
    * stream plus the per-doc aggregate; the corpus is never re-keyed by
    * token. Same integer micro-nat discipline as [[scores]] → full
    * oracle. */
  def scoresCrossFit(docs: DataFrame, idCol: String, textCol: String,
                     modelDocs: DataFrame, modelTextCol: String): DataFrame = {
    // One model-corpus scan for the whole fit (r17): the cost table and
    // the backoff unigram table both come from the same pinned
    // ngramCounts frame — the former shape scanned and tokenized
    // modelDocs four times (uni in the cost table, big, the backoff uni
    // again, vocab).
    val counts = ngramCounts(modelDocs, modelTextCol, 2)
    val uniT = gramsOf(counts, 1, "w", "cu")
    val cost = bigramCostOf(uniT, gramsOf(counts, 2, "bg", "cb"))
    val uni = uniT.select(col("w").as("w1"), col("cu"))
    val vocab = uniT.agg(count(lit(1)).as("v"))
    graft.Par.widen(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextAnalysis.shingles(col(textCol), 2)).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(broadcast(cost), Seq("bg"), "left")
      .join(broadcast(uni), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        coalesce(col("c"),
          floor(log((coalesce(col("cu"), lit(0L)) + col("v")).cast("double")) *
            lit(1000000.0)).cast("long")).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("total_cost_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("total_cost_micro"),
        expr("total_cost_micro div n_bigrams").as("avg_cost_micro"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of [[scoresCrossFit]] with model = `lang = 'en'`. */
  def sqlScoresCrossFit: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks FROM documents),
      |mtok AS (
      |  SELECT regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks
      |  FROM documents WHERE lang = 'en'),
      |bg AS (
      |  SELECT doc_id, UNNEST(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS bg
      |  FROM tok),
      |u AS (SELECT w, COUNT(*) AS cu FROM (SELECT UNNEST(toks) AS w FROM mtok) GROUP BY 1),
      |v AS (SELECT COUNT(*) AS v FROM u),
      |mb AS (
      |  SELECT bg, COUNT(*) AS cb FROM (
      |    SELECT UNNEST(list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i+1])) AS bg
      |    FROM mtok) GROUP BY 1),
      |cost AS (
      |  SELECT mb.bg,
      |    CAST(FLOOR(ln((u.cu + v.v)::DOUBLE / (mb.cb + 1)::DOUBLE) * 1000000.0) AS BIGINT) AS c
      |  FROM mb JOIN u ON u.w = split_part(mb.bg, ' ', 1) CROSS JOIN v),
      |priced AS (
      |  SELECT bg.doc_id,
      |    COALESCE(cost.c,
      |      CAST(FLOOR(ln((COALESCE(u.cu, 0) + v.v)::DOUBLE) * 1000000.0) AS BIGINT)) AS c
      |  FROM bg
      |  LEFT JOIN cost ON bg.bg = cost.bg
      |  LEFT JOIN u ON u.w = split_part(bg.bg, ' ', 1)
      |  CROSS JOIN v),
      |d AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(c) AS BIGINT) AS total_cost_micro
      |  FROM priced GROUP BY 1)
      |SELECT doc_id, n_bigrams, total_cost_micro,
      |  total_cost_micro // n_bigrams AS avg_cost_micro
      |FROM d ORDER BY doc_id""".stripMargin

  /** LM-quality floor (`lm_quality_floor` query) — the curation loop
    * closed: [[scores]] feeds a robust corpus threshold (exact
    * interpolated percentile, the [[graft.relational.Relational
    * .orderPercentiles]] discipline) and documents costlier than the
    * `q`-quantile drop — CCNet's "keep the head/middle of the
    * perplexity distribution" policy with a data-derived cut instead of
    * a magic constant. One extra single-row aggregate broadcast back;
    * `percentile_approx` is the documented 100 TB swap.
    *
    * Cross-engine parity note: the hash-checked oracle rests on Spark
    * `percentile` and DuckDB `quantile_cont` producing bit-identical
    * interpolated doubles. That holds for DYADIC `q` (0.5, 0.25, 0.75,
    * …: the interpolation fraction is exact in binary); a non-dyadic `q`
    * can differ by a ulp between engines and flip a document sitting
    * exactly on the cut. Keep `q` dyadic (the default 0.5 is), or
    * switch the cut to the exact k-th order statistic (an integer)
    * before relying on the oracle at other quantiles. */
  def qualityFloor(docs: DataFrame, idCol: String, textCol: String,
                   q: Double = 0.5): DataFrame = {
    // Pin the (per-doc-sized) score table: the percentile cut and the
    // filter both read it — unpinned, each branch re-ran the whole
    // scores pipeline (r17, guide §1.2).
    val s = scores(docs, idCol, textCol).pinned
    val cut = s.agg(expr(s"percentile(avg_cost_micro, $q)").as("cut"))
    s.crossJoin(broadcast(cut))
      .filter(col("avg_cost_micro") <= col("cut"))
      .select(col("doc_id"), col("n_bigrams"), col("avg_cost_micro"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of [[qualityFloor]]. */
  def sqlQualityFloor(q: Double = 0.5): String =
    s"""WITH s AS (${sqlScores.replace("ORDER BY doc_id", "")}),
       |m AS (SELECT quantile_cont(avg_cost_micro, $q) AS cut FROM s)
       |SELECT doc_id, n_bigrams, avg_cost_micro
       |FROM s, m WHERE avg_cost_micro <= m.cut
       |ORDER BY doc_id""".stripMargin

  /** CCNet perplexity buckets (`lm_perplexity_buckets` query) —
    * Wenzek et al. 2020's head/middle/tail split: every scored document
    * is assigned the tercile of its LM cost (head = cheapest third =
    * most fluent; CCNet trains on head+middle and ships tail for
    * auditing). `ntile` is pure integer rank arithmetic (bucket =
    * ⌊(rank−1)·3 ∕ n⌋ + 1 with ties broken by doc id), so unlike a
    * quantile-interpolation cut there is NO float boundary to disagree
    * on — the query carries a full hash-checked oracle at every corpus
    * size.
    *
    * This reference form runs a global `ntile` window (single-partition
    * sort — fine only as the semantic statement and in specs);
    * [[perplexityBucketsScalable]] computes the IDENTICAL assignment
    * by prefix sum and is what the `lm_perplexity_buckets` query binds
    * to. LmScoreSpec pins the two output-equal. */
  def perplexityBuckets(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = scores(docs, idCol, textCol)
    s.withColumn("bucket",
        ntile(3).over(Window.orderBy(col("avg_cost_micro"), col("doc_id"))))
      .select(col("doc_id"), col("n_bigrams"), col("avg_cost_micro"),
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle")
          .otherwise("tail").as("tier"))
      .orderBy(col("doc_id"))
  }

  /** [[perplexityBuckets]] without the single-partition window — the
    * 100 TB form (`lm_perplexity_buckets` query since r8): rank by
    * (cost, doc_id) and the total n from [[graft.Par.prefixSum]], then
    * the closed-form bucket ⌊(rank−1)·3 ∕ n⌋ + 1, integer `div`. For
    * k = 3 this is PROVABLY ntile's big-buckets-first split at every n
    * (n = 3q+1 → sizes q+1,q,q; n = 3q+2 → q+1,q+1,q), so the output is
    * bit-identical to the reference form (LmScoreSpec pins it) and the
    * `ntile`-based DuckDB oracle is unchanged.
    *
    * Skew bound: a single massively-repeated cost value lands in one
    * range partition — the same mass a global sort would put on one
    * boundary anyway. */
  def perplexityBucketsScalable(docs: DataFrame, idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame =
    bucketsFromScores(scores(docs, idCol, textCol))

  /** [[perplexityBucketsScalable]] under a CROSS-FIT model
    * ([[scoresCrossFit]]): the Wenzek-et-al. shape — tiers of the corpus
    * by perplexity under the TARGET-domain model, OOV priced by backoff.
    * Same rank, same closed-form terciles. */
  def perplexityBucketsCrossFit(docs: DataFrame, idCol: String, textCol: String,
                                modelDocs: DataFrame, modelTextCol: String): DataFrame =
    bucketsFromScores(
      scoresCrossFit(docs, idCol, textCol, modelDocs, modelTextCol))

  /** The tercile tail over any (doc_id, n_bigrams, avg_cost_micro) score
    * table — shared by the self-fit and cross-fit bucket forms. */
  private def bucketsFromScores(s: DataFrame): DataFrame = {
    val (ranked, Seq(n)) = graft.Par.prefixSum(s,
      Seq(col("avg_cost_micro"), col("doc_id")), "__b" -> lit(1L))
    ranked
      .withColumn("bucket", expr(s"(__b * 3) div ${math.max(n, 1L)}") + 1L)
      .select(col("doc_id"), col("n_bigrams"), col("avg_cost_micro"),
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle")
          .otherwise("tail").as("tier"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of [[perplexityBuckets]]. */
  def sqlPerplexityBuckets: String =
    s"""WITH s AS (${sqlScores.replace("ORDER BY doc_id", "")}),
       |b AS (SELECT doc_id, n_bigrams, avg_cost_micro,
       |        NTILE(3) OVER (ORDER BY avg_cost_micro, doc_id) AS bucket
       |      FROM s)
       |SELECT doc_id, n_bigrams, avg_cost_micro,
       |  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |       ELSE 'tail' END AS tier
       |FROM b ORDER BY doc_id""".stripMargin

  /** Integer micro-nat cost per distinct trigram under STUPID BACKOFF
    * (Brants et al., "Large Language Models in Machine Translation"):
    *
    *   S(w3|w1 w2) = c(w1w2w3) ∕ c(w1w2)            if c(w1w2w3) ≥ minCount
    *               = α · (c(w2w3)+1) ∕ (c(w2)+V)    otherwise
    *
    * i.e. trust the trigram MLE where the trigram repeats, else back off
    * to the LAPLACE bigram conditional scaled by α. On a self-fit corpus
    * every scored trigram has count ≥ 1, so the backoff gate is the
    * `minCount` threshold (default 2): singleton trigrams are exactly
    * the degenerate self-fit cases (c3 = 1, often c2 = 1 ⇒ MLE cost 0
    * for unique gibberish) and get the backed-off estimate instead.
    *
    * α is a RATIONAL (alphaNum ∕ alphaDen, default 4∕10 — Brants'
    * recommended 0.4) folded INSIDE the single log argument as integer
    * multiplications, so the micro-nat discipline is unchanged: each
    * distinct trigram costs ⌊ln(num ∕ den) · 1e6⌋ with num, den exact
    * BIGINTs, num ≥ den ⇒ cost ≥ 0, one libm call, and the per-doc sum
    * stays an order-independent integer the DuckDB oracle hash-matches.
    *
    * Scale shape: three count aggregates (map-combined) for the uni/bi/
    * trigram tables; the cost table joins the trigram table to the
    * bigram table twice (leading bigram for the MLE, trailing bigram
    * for the backoff) and the unigram table once, all keyed equi-joins
    * on model-table keys (distinct n-grams, sublinear in corpus size);
    * scoring re-keys the corpus trigram stream once — same two-exchange
    * class as the bigram model. */
  def trigramCostTable(docs: DataFrame, textCol: String,
                       minCount: Long = 2L, alphaNum: Long = 4L,
                       alphaDen: Long = 10L): DataFrame = {
    require(minCount >= 2, "minCount < 2 never backs off on a self-fit corpus")
    require(alphaNum > 0 && alphaDen >= alphaNum,
      "need 0 < alpha = alphaNum/alphaDen <= 1")
    // One corpus scan for all three model tables (r17, ngramCounts) —
    // the former shape scanned and tokenized the corpus five times
    // here (uni, vocab-over-uni, big ×2 via the lead/trail joins, tri).
    val counts = ngramCounts(docs, textCol, 3)
    val uni = gramsOf(counts, 1, "w", "cu")
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = gramsOf(counts, 2, "bg", "cb")
    val tri = gramsOf(counts, 3, "tg", "c3")
    val parts = split(col("tg"), " ")
    val keyed = tri
      .withColumn("lead2", concat_ws(" ", slice(parts, 1, 2)))
      .withColumn("trail2", concat_ws(" ", slice(parts, 2, 2)))
      .withColumn("w2", parts.getItem(1))
    keyed
      .join(big.select(col("bg").as("lead2"), col("cb").as("c2")), Seq("lead2"))
      .join(big.select(col("bg").as("trail2"), col("cb").as("cb23")), Seq("trail2"))
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(vocab))
      .select(col("tg"),
        when(col("c3") >= minCount,
          floor(log(col("c2").cast("double") / col("c3").cast("double")) *
            lit(1000000.0)))
          .otherwise(
            floor(log((lit(alphaDen) * (col("cu2") + col("v"))).cast("double") /
              (lit(alphaNum) * (col("cb23") + lit(1L))).cast("double")) *
              lit(1000000.0)))
          .cast("long").as("c"))
  }

  /** Per-document trigram LM cost (`lm_scores_trigram` query):
    * (doc_id, n_trigrams, total_cost_micro, avg_cost_micro) for every
    * document with at least one trigram (≥ 3 tokens). Strictly better
    * fluency signal than [[scores]] — more context per prediction
    * (CCNet uses a 5-gram KenLM; trigram+backoff is the same family). */
  def scoresTrigram(docs: DataFrame, idCol: String, textCol: String,
                    minCount: Long = 2L): DataFrame = {
    val cost = trigramCostTable(docs, textCol, minCount)
    graft.Par.widen(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextAnalysis.shingles(col(textCol), 3)).as("tg"))
      .join(cost, Seq("tg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("c")).as("total_cost_micro"))
      .select(col("doc_id"), col("n_trigrams"), col("total_cost_micro"),
        expr("total_cost_micro div n_trigrams").as("avg_cost_micro"))
      .orderBy(col("doc_id"))
  }

  /** Broadcast-head pruned LM scoring (`lm_scores_pruned` query) — the
    * 100 TB swap the [[bigramCostTable]] scaladoc documents, as a real
    * operator: keep exact costs only for HEAD bigrams (corpus count ≥
    * `minDf`), charge every tail occurrence the constant singleton cost
    * ⌊ln((1+V) ∕ 2) · 1e6⌋. The head table is sublinear in the corpus
    * (df-thresholded distinct bigrams) and explicitly `broadcast()`, so
    * the scoring join is map-side — the corpus token stream is never
    * shuffled for scoring; the only wide exchanges left are the model
    * fit's count aggregates (LmScoreSpec pins the BroadcastHashJoin and
    * the k=1 ≡ exact equivalence; the estimate-vs-exact error is
    * bounded there too, the `boilerplate_ngrams_sampled` discipline).
    * Extra column `n_backoff` = tail occurrences charged the constant —
    * the estimate-quality signal (0 at minDf=1). */
  def prunedScores(docs: DataFrame, idCol: String, textCol: String,
                   minDf: Long = 3L): DataFrame = {
    // One corpus scan for the model fit (r17, ngramCounts).
    val counts = ngramCounts(docs, textCol, 2)
    val uni = gramsOf(counts, 1, "w", "cu")
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = gramsOf(counts, 2, "bg", "cb")
    val head = big.filter(col("cb") >= minDf)
      .join(uni, split(col("bg"), " ").getItem(0) === col("w"))
      .crossJoin(broadcast(vocab))
      .select(col("bg"),
        floor(log((col("cu") + col("v")).cast("double") /
          (col("cb") + lit(1L)).cast("double")) *
          lit(1000000.0)).cast("long").as("c"))
    val tailCost = floor(log((lit(1L) + col("v")).cast("double") / lit(2.0)) *
      lit(1000000.0)).cast("long")
    graft.Par.widen(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextAnalysis.shingles(col(textCol), 2)).as("bg"))
      .join(broadcast(head), Seq("bg"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("c"), tailCost)).as("total_cost_micro"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_backoff"))
      .select(col("doc_id"), col("n_bigrams"), col("total_cost_micro"),
        expr("total_cost_micro div n_bigrams").as("avg_cost_micro"),
        col("n_backoff"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of [[scoresTrigram]] over `documents`. */
  def sqlScoresTrigram(minCount: Long = 2L, alphaNum: Long = 4L,
                       alphaDen: Long = 10L): String =
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[^ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents),
       |tg AS (
       |  SELECT doc_id, UNNEST(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tg
       |  FROM tok),
       |bgs AS (
       |  SELECT UNNEST(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS bg
       |  FROM tok),
       |u AS (SELECT w, COUNT(*) AS cu FROM (SELECT UNNEST(toks) AS w FROM tok) GROUP BY 1),
       |v AS (SELECT COUNT(*) AS v FROM u),
       |b AS (SELECT bg, COUNT(*) AS cb FROM bgs GROUP BY 1),
       |t3 AS (SELECT tg, COUNT(*) AS c3 FROM tg GROUP BY 1),
       |cost AS (
       |  SELECT t3.tg,
       |    CASE WHEN t3.c3 >= $minCount THEN
       |      CAST(FLOOR(ln(b1.cb::DOUBLE / t3.c3::DOUBLE) * 1000000.0) AS BIGINT)
       |    ELSE
       |      CAST(FLOOR(ln(($alphaDen * (u.cu + v.v))::DOUBLE /
       |        ($alphaNum * (b2.cb + 1))::DOUBLE) * 1000000.0) AS BIGINT)
       |    END AS c
       |  FROM t3
       |  JOIN b b1 ON b1.bg = split_part(t3.tg, ' ', 1) || ' ' || split_part(t3.tg, ' ', 2)
       |  JOIN b b2 ON b2.bg = split_part(t3.tg, ' ', 2) || ' ' || split_part(t3.tg, ' ', 3)
       |  JOIN u ON u.w = split_part(t3.tg, ' ', 2)
       |  CROSS JOIN v),
       |d AS (
       |  SELECT tg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       |    CAST(SUM(cost.c) AS BIGINT) AS total_cost_micro
       |  FROM tg JOIN cost ON tg.tg = cost.tg GROUP BY 1)
       |SELECT doc_id, n_trigrams, total_cost_micro,
       |  total_cost_micro // n_trigrams AS avg_cost_micro
       |FROM d ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of [[prunedScores]] over `documents`. */
  def sqlScoresPruned(minDf: Long = 3L): String =
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[^ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents),
       |bg AS (
       |  SELECT doc_id, UNNEST(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS bg
       |  FROM tok),
       |u AS (SELECT w, COUNT(*) AS cu FROM (SELECT UNNEST(toks) AS w FROM tok) GROUP BY 1),
       |v AS (SELECT COUNT(*) AS v FROM u),
       |b AS (SELECT bg, COUNT(*) AS cb FROM bg GROUP BY 1),
       |head AS (
       |  SELECT b.bg,
       |    CAST(FLOOR(ln((u.cu + v.v)::DOUBLE / (b.cb + 1)::DOUBLE) * 1000000.0) AS BIGINT) AS c
       |  FROM b JOIN u ON u.w = split_part(b.bg, ' ', 1) CROSS JOIN v
       |  WHERE b.cb >= $minDf),
       |d AS (
       |  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(COALESCE(head.c,
       |      CAST(FLOOR(ln((1 + v.v)::DOUBLE / 2::DOUBLE) * 1000000.0) AS BIGINT)))
       |      AS BIGINT) AS total_cost_micro,
       |    CAST(SUM(CASE WHEN head.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff
       |  FROM bg LEFT JOIN head ON bg.bg = head.bg CROSS JOIN v GROUP BY 1)
       |SELECT doc_id, n_bigrams, total_cost_micro,
       |  total_cost_micro // n_bigrams AS avg_cost_micro, n_backoff
       |FROM d ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of [[scores]] over `documents`. */
  def sqlScores: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks FROM documents),
      |bg AS (
      |  SELECT doc_id, UNNEST(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS bg
      |  FROM tok),
      |u AS (SELECT w, COUNT(*) AS cu FROM (SELECT UNNEST(toks) AS w FROM tok) GROUP BY 1),
      |v AS (SELECT COUNT(*) AS v FROM u),
      |b AS (SELECT bg, COUNT(*) AS cb FROM bg GROUP BY 1),
      |cost AS (
      |  SELECT b.bg,
      |    CAST(FLOOR(ln((u.cu + v.v)::DOUBLE / (b.cb + 1)::DOUBLE) * 1000000.0) AS BIGINT) AS c
      |  FROM b JOIN u ON u.w = split_part(b.bg, ' ', 1) CROSS JOIN v),
      |d AS (
      |  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(cost.c) AS BIGINT) AS total_cost_micro
      |  FROM bg JOIN cost ON bg.bg = cost.bg GROUP BY 1)
      |SELECT doc_id, n_bigrams, total_cost_micro,
      |  total_cost_micro // n_bigrams AS avg_cost_micro
      |FROM d ORDER BY doc_id""".stripMargin
}
