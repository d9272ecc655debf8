package graft.pipeline

import graft.Mat.Pinnable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Corpus-curation operators for LLM-training-data pipelines:
  * reproducible sampling, per-group quotas, and repetition-based quality
  * signals (the Gopher-style "repetitious documents are low quality"
  * heuristics). All per-row expression work or a single window/top-k —
  * no operator here shuffles more than once.
  */
object Curation {

  /** Stable 0..9999 bucket from the md5 of a key column — the reproducible
    * sampling primitive: the same row lands in the same bucket in ANY
    * engine (md5 prefix as an integer), so a sample drawn today can be
    * re-drawn, extended (rate 5% ⊃ rate 1%), or audited years later.
    * Content keys (the text itself) make the sample duplicate-consistent:
    * exact copies sample together. Engine-seeded `df.sample()` offers no
    * such contract. */
  def sampleBucket(key: Column): Column =
    conv(substring(md5(key), 1, 8), 16, 10).cast("long") % 10000

  /** Keep rows whose bucket < rateBp (basis points: 1000 = 10%). A pure
    * per-row filter — pushes to the scan, no shuffle, trivially parallel
    * at any scale. */
  def sampleDeterministic(df: DataFrame, keyCol: String, rateBp: Int): DataFrame =
    df.filter(sampleBucket(col(keyCol)) < rateBp)

  /** [EXT] Class-BALANCED deterministic sample (`balanced_sample` query):
    * exactly min(k, |class|) rows per class, chosen by the content-keyed
    * md5 order (same reproducibility contract as [[sampleBucket]]; ties
    * broken by the key) — the eval-set construction that prevents class
    * skew from leaking into benchmark composition. Output keeps the
    * class and key columns, ordered (class, key).
    *
    * Scale shape: one exchange keyed by class for the per-class rank
    * window. A mega-class bounds that window's partition at the class
    * size; for k ≪ |class| at 100 TB, pre-filter with
    * [[sampleDeterministic]] at a rate comfortably above k∕|class|
    * (the nested-sample contract keeps the same winners), then rank the
    * survivors — the same two-step the token-quota discipline uses. */
  def balancedSample(df: DataFrame, classCol: String, keyCol: String,
                     k: Int): DataFrame = {
    val w = Window.partitionBy(col(classCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.select(col(classCol), col(keyCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(classCol), col(keyCol))
      .orderBy(col(classCol), col(keyCol))
  }

  /** Quality-weighted deterministic sampling (`sample_weighted` query):
    * keep a row with probability `weight` (∈ [0,1], e.g. a quality score)
    * — the "sample good documents more" curation step (DoReMi/DataComp-
    * style quality-proportional selection) — while KEEPING the
    * [[sampleBucket]] contract: content-keyed (duplicates decide
    * together), reproducible in any engine, re-drawable, and NESTED under
    * any uniform sample with rate ≥ max weight. Pure per-row expression:
    * the same row survives iff its bucket < weight·10000, no RNG state.
    * The weight must be a deterministic expression both engines compute
    * identically (quality scores here are IEEE-exact by construction). */
  def sampleWeighted(df: DataFrame, keyCol: String, weight: Column): DataFrame =
    df.filter(sampleBucket(col(keyCol)).cast("double") < weight * 10000.0)

  /** F128: EXACT-k weighted sampling without replacement (Efraimidis &
    * Spiliotis 2006's A-ES in its exponential-clocks form): each row
    * draws an exponential "arrival time" with rate = its weight —
    * t_i = −ln(u_i)∕w_i — and the k EARLIEST arrivals win. P(row i
    * arrives first) = w_i∕Σw, then the property recurses over the
    * remainder: exactly successive weighted draws without replacement.
    * [[sampleWeighted]] keeps each row independently (output size is
    * random); this returns exactly min(k, eligible) rows — the "give me
    * the 10M best-quality-biased documents" budget cut.
    *
    * Determinism/cross-engine: u_i = (md5-prefix(seed ‖ ':' ‖ key)+1) ∕
    * 2^32 ∈ (0,1] — the [[sampleBucket]] hash discipline, re-drawable in
    * any engine, seeded so audits can draw independent replicates. The
    * key is materialized as ⌊−10^9·ln(u)∕w⌋ (integer nano-clock; the
    * LmScore micro-nat discipline — double ln then one floor, IEEE-
    * identical both engines), totally ordered by (clock, id). Rows with
    * weight ≤ 0 can never win an exponential race: filtered, matching
    * A-ES's w > 0 domain.
    *
    * Scale shape: pure per-row expressions + one global top-k —
    * Catalyst plans `TakeOrderedAndProject`, the mergeable per-partition
    * partial top-k (this IS a distributed weighted reservoir: each
    * partition keeps its k best clocks, the driver merges k-sized
    * heaps). No shuffle of data rows, no RNG state, no collect. */
  def weightedReservoir(df: DataFrame, idCol: String, keyCol: String,
                        weight: Column, k: Int,
                        seed: String = "res"): DataFrame = {
    val h = conv(substring(md5(concat_ws(":", lit(seed), col(keyCol))),
      1, 8), 16, 10).cast("long")
    val u = (h + lit(1L)).cast("double") / lit(4294967296.0)
    val clock = floor((lit(-1.0e9) * log(u)) / weight).cast("long")
    df.filter(weight > lit(0.0))
      .withColumn("res_clock", clock)
      .orderBy(col("res_clock"), col(idCol))
      .limit(k)
  }

  /** DuckDB expression for [[weightedReservoir]]'s integer nano-clock
    * over a text key (the oracle mirror — same hash, same ln, same
    * floor). `wExpr` must be the exact weight expression both engines
    * compute identically. */
  def sqlReservoirClock(keyExpr: String, wExpr: String,
                        seed: String = "res"): String =
    s"CAST(FLOOR((-1000000000.0 * ln((('0x' || substring(md5('$seed:' || " +
      s"$keyExpr), 1, 8))::UBIGINT + 1)::DOUBLE / 4294967296.0)) / " +
      s"($wExpr)) AS BIGINT)"

  /** F133: the stratified face of [[weightedReservoir]] — exactly
    * min(k, |group|) weight-biased rows PER GROUP (`weighted_reservoir_
    * by_source` query): per-language token budgets, per-source eval
    * slices, per-domain caps with a quality bias. Same exponential
    * clocks; selection is one rank window over the group key — a single
    * keyed exchange, the [[balancedSample]] plan shape with weights.
    * Groups stay independent: adding a group never changes another
    * group's picks (the clock is row-content-keyed), so per-group states
    * merge exactly like [[mergeReservoirs]]. */
  def weightedReservoirPerGroup(df: DataFrame, groupCol: String,
                                idCol: String, keyCol: String,
                                weight: Column, k: Int,
                                seed: String = "res"): DataFrame = {
    val h = conv(substring(md5(concat_ws(":", lit(seed), col(keyCol))),
      1, 8), 16, 10).cast("long")
    val u = (h + lit(1L)).cast("double") / lit(4294967296.0)
    val clock = floor((lit(-1.0e9) * log(u)) / weight).cast("long")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("res_clock"), col(idCol))
    df.filter(weight > lit(0.0))
      .withColumn("res_clock", clock)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Merge [[weightedReservoir]] states (`weighted_reservoir_incremental`
    * query): a reservoir over a UNION of batches equals the k best
    * clocks over the union of each batch's reservoir — the clock is a
    * pure function of (seed, key, weight), so a row outside its own
    * batch's top k can never enter the global top k. That makes the
    * k-row reservoir a MERGEABLE state: batches/partitions/days keep k
    * rows each, merge is union + re-take, associative and commutative —
    * the incremental face of the budget cut (the oracle replays the
    * ONE-SHOT form over the whole corpus; hash-equality IS the merge
    * proof). Inputs must carry `res_clock` (i.e. be reservoir outputs
    * under the same seed and k). */
  def mergeReservoirs(parts: Seq[DataFrame], idCol: String,
                      k: Int): DataFrame = {
    require(parts.nonEmpty, "need at least one reservoir state")
    parts.reduce(_.unionByName(_))
      .orderBy(col("res_clock"), col(idCol))
      .limit(k)
  }

  /** Deterministic train/val/test split (`corpus_split` query): name a
    * split for each row from its [[sampleBucket]] — the last `testBp` basis
    * points are test, the `valBp` before them val, the rest train.
    *
    * Content-keyed (key = the text itself), so exact duplicates land in
    * the SAME split — no train/test leakage through copies — and the
    * assignment is reproducible in any engine and stable under corpus
    * growth (adding documents never moves an existing one, unlike
    * `randomSplit`, whose assignment depends on partitioning and sampler
    * state). Pure per-row expression: no shuffle, no RNG state. */
  def splitCorpus(df: DataFrame, keyCol: String,
                  valBp: Int, testBp: Int): DataFrame = {
    require(valBp >= 0 && testBp >= 0 && valBp + testBp <= 10000,
      "need valBp, testBp >= 0 with valBp + testBp <= 10000")
    val b = sampleBucket(col(keyCol))
    df.withColumn("split",
      when(b < 10000 - valBp - testBp, "train")
        .when(b < 10000 - testBp, "val")
        .otherwise("test"))
  }

  /** Near-dup pairs that CROSS a train/val/test boundary
    * (`split_leakage` query) — the audit behind every "did the test set
    * leak into training?" question. [[splitCorpus]]'s content keying
    * already pins exact copies to one split; what it cannot pin is
    * NEAR-duplicates (a crop, a boilerplate re-wrap, a paraphrase), and
    * those are exactly what benchmark-contamination studies keep finding
    * across published splits. This runs the corpus-wide MinHash→verify
    * near-dup join ([[graft.dedup.Dedup.nearDupMinHash]]), annotates
    * each pair with both members' split assignments, and keeps the
    * pairs whose sides DISAGREE — the leaks.
    *
    * Scale shape: the pair table is the banded-LSH candidate output
    * (bounded by true near-dup mass, never all-pairs); the two
    * annotation joins key on the doc id against an (id, split)
    * projection whose split is a pure scan-stage expression — ids and
    * 4-byte split labels through the exchange, never text. Identical
    * texts share a split by construction, so every reported pair is a
    * genuinely distinct-bytes near-dup. */
  def splitLeakage(docs: DataFrame, idCol: String, textCol: String,
                   valBp: Int, testBp: Int,
                   threshold: Double = 0.9): DataFrame = {
    val pairs = graft.dedup.Dedup.nearDupMinHash(docs, idCol, textCol, threshold)
    // Pinned: both sides of the pair join read the split assignment —
    // unpinned, each read re-ran the whole splitCorpus hash pass (r17,
    // guide §1.2).
    val splits = graft.Mat.pin(splitCorpus(docs, textCol, valBp, testBp)
      .select(col(idCol).as("id"), col("split")))
    pairs
      .join(splits.select(col("id").as("id_a"), col("split").as("split_a")), Seq("id_a"))
      .join(splits.select(col("id").as("id_b"), col("split").as("split_b")), Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("split_a"), col("split_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** At most k rows per group, chosen by the given ordering (e.g. best-
    * quality-first) — the "cap each source/language at N documents"
    * curation step. One shuffle on the group key; `row_number` needs no
    * global sort. Ties must be broken by the ordering for determinism —
    * include a unique column. */
  def quotaPerGroup(df: DataFrame, groupCol: String, k: Int,
                    ordering: Seq[Column]): DataFrame =
    df.withColumn("rk",
        row_number().over(Window.partitionBy(col(groupCol)).orderBy(ordering: _*)))
      .filter(col("rk") <= k)

  /** Per-registered-domain document caps (`domain_caps` query) — the
    * RefinedWeb-style domain-skew defense every web corpus needs: a few
    * registered domains contribute a huge share of crawled pages, and
    * uncapped they dominate the training mixture. Key =
    * [[graft.ingest.Urls.registeredDomain]] (subdomains collapse onto
    * their eTLD+1), cap = [[quotaPerGroup]]'s per-group `row_number`
    * discipline under the caller's ordering (best-first; include a
    * unique tie-break). One shuffle on the domain key; the extreme skew
    * of web domains is exactly what `row_number` handles — the window
    * streams each domain's partition, no group materialization. */
  def domainCaps(df: DataFrame, urlCol: String, cap: Int,
                 ordering: Seq[Column]): DataFrame =
    quotaPerGroup(
      df.withColumn("domain", graft.ingest.Urls.registeredDomain(col(urlCol))),
      "domain", cap, ordering)

  /** INCREMENTAL per-domain caps — [[domainCaps]] at ingest time: a
    * batch is admitted against the PERSISTED per-domain tally
    * (`state(domain, n_kept)`) without re-reading history, the
    * append-only discipline of the dedup indexes. Semantics are
    * first-come-first-kept (arrival order is the cap order — an
    * already-shipped doc can't be evicted by a later better one), so
    * chained batches equal one [[domainCaps]] pass over the union
    * ordered by arrival (CurationSpec pins it). Shape: one shuffle on
    * the domain key for the within-batch rank, a broadcast join of the
    * tally (≤ |domains| rows), and the new state is the old tally plus
    * the batch's kept counts — state size is bounded by the domain
    * universe, never the corpus. Returns (kept rows, new state). */
  def domainCapsIncremental(batch: DataFrame, state: DataFrame, urlCol: String,
                            cap: Int, ordering: Seq[Column]): (DataFrame, DataFrame) =
    domainCapsIncrementalOnDomain(
      batch.withColumn("domain", graft.ingest.Urls.registeredDomain(col(urlCol))),
      state, cap, ordering)

  /** The admit core of [[domainCapsIncremental]] over a batch that
    * ALREADY carries a `domain` column — the one implementation of the
    * first-come cap semantics, shared with the preset streaming face
    * ([[graft.streaming.StreamingIngest.refinedWebViaSinkState]]'s
    * stage 7), so the CurationSpec pins cover both callers. */
  def domainCapsIncrementalOnDomain(batch: DataFrame, state: DataFrame,
                                    cap: Int,
                                    ordering: Seq[Column]): (DataFrame, DataFrame) = {
    val ranked = batch.withColumn("__rk",
      row_number().over(Window.partitionBy(col("domain")).orderBy(ordering: _*)))
    // No broadcast HINT on the tally: at blog-corpus scale the state is a
    // few thousand rows and statistics/AQE pick a broadcast join anyway,
    // but the registered-domain universe of a real web crawl is tens of
    // millions of rows — a forced broadcast would OOM the driver there,
    // while AQE correctly falls back to a shuffle join keyed by the same
    // domain the window just partitioned on.
    val kept = ranked
      .join(state.select(col("domain"), col("n_kept")), Seq("domain"), "left")
      .filter(col("__rk") <= lit(cap) - coalesce(col("n_kept"), lit(0L)))
      .drop("__rk", "n_kept")
      .pinned // feeds the output AND the state update once
    val newState = state.select(col("domain"), col("n_kept"))
      .unionByName(kept.groupBy(col("domain")).agg(count(lit(1)).as("n_kept")))
      .groupBy(col("domain")).agg(sum(col("n_kept")).as("n_kept"))
    (kept, newState)
  }

  /** Per-registered-domain quality profile (`domain_quality` query) —
    * the domain-LEVEL filtering signal FineWeb-class pipelines compute
    * after per-document gates: a domain whose documents are uniformly
    * low-quality is boilerplate/SEO-farm territory, and flagging it
    * feeds the blocklist that [[excludeByKey]] then applies (document
    * gates miss domains that are individually-passable but collectively
    * worthless). `flagged` requires BOTH a mean below `floor` AND at
    * least `minDocs` documents — a one-page domain is an estimate, not
    * evidence.
    *
    * Integer discipline for the mean: per-document quality (already
    * rounded to 4 decimals by [[graft.text.TextAnalysis.qualityScore]])
    * is lifted to an exact integer (×10⁴) BEFORE aggregation, so the
    * sum is order-independent long arithmetic and the one division at
    * the end is engine-exact — float summation order can never produce
    * a cross-engine mismatch. One domain-keyed aggregate (scan-stage
    * PSL key), no window. */
  def domainQuality(docs: DataFrame, urlCol: String, textCol: String,
                    minDocs: Long, floor: Double): DataFrame =
    // null/unparseable URLs group under '' explicitly (the RefinedWeb
    // null-domain lesson: engines sort nulls differently, and a null
    // group is an accident, not a decision)
    docs.select(
        coalesce(graft.ingest.Urls.registeredDomain(col(urlCol)), lit(""))
          .as("domain"),
        round(graft.text.TextAnalysis.qualityScore(col(textCol)) * 10000)
          .cast("long").as("__qe4"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__qe4")).as("__qs"))
      .withColumn("mean_quality",
        round(col("__qs").cast("double") / (col("n_docs") * 10000.0), 4))
      .withColumn("flagged",
        col("n_docs") >= minDocs && col("mean_quality") < floor)
      .select(col("domain"), col("n_docs"), col("mean_quality"), col("flagged"))
      .orderBy(col("domain"))

  /** DuckDB twin of [[domainQuality]]'s aggregate over a relation that
    * already carries (domain, text) — the PSL domain CTEs are assembled
    * by the caller ([[graft.ingest.Psl.sqlDomainCtes]]). */
  def sqlDomainQuality(domRel: String, textCol: String,
                       minDocs: Long, floor: Double): String =
    s"""SELECT domain, n_docs,
       |  round(__qs::DOUBLE / (n_docs * 10000.0), 4) AS mean_quality,
       |  (n_docs >= $minDocs AND
       |   round(__qs::DOUBLE / (n_docs * 10000.0), 4) < $floor) AS flagged
       |FROM (
       |  SELECT COALESCE(domain, '') AS domain,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    SUM(CAST(round(${graft.text.TextAnalysis.sqlQuality(textCol)} * 10000)
       |        AS BIGINT)) AS __qs
       |  FROM $domRel GROUP BY 1)
       |ORDER BY domain""".stripMargin

  /** [[domainQuality]] composed with [[excludeByKey]]
    * (`domain_quality_exclusion` query): drop every document whose
    * registered domain was flagged — the full FineWeb-style loop from
    * signal to cut in one plan. The flagged list is an aggregate over
    * ≤ |domains| rows, so the exclusion stays a broadcast anti-join;
    * the corpus scans twice (once to measure, once to cut) — inherent
    * to any measure-then-filter aggregate, and both scans are
    * column-pruned. */
  def excludeFlaggedDomains(docs: DataFrame, urlCol: String, textCol: String,
                            minDocs: Long, floor: Double): DataFrame =
    excludeByKey(docs,
      coalesce(graft.ingest.Urls.registeredDomain(col(urlCol)), lit("")),
      domainQuality(docs, urlCol, textCol, minDocs, floor)
        .filter(col("flagged")).select(col("domain")))

  /** Release-compliance exclusion (`takedown_requests` /
    * `domain_blocklist` queries): drop every row whose key appears in
    * the exclusion list. Two keys cover the real cases: CONTENT HASH —
    * a takedown/opt-out request removes ALL copies of the content, not
    * just the requested id (the legally meaningful semantic, and why the
    * key is the hash, not the id) — and REGISTERED DOMAIN
    * ([[graft.ingest.Urls.registeredDomain]]) for URL blocklists.
    * Exclusion lists are human-curated and therefore small by contract →
    * broadcast LEFT ANTI join; the corpus side never re-keys or
    * shuffles. The list's FIRST column is the key. */
  def excludeByKey(df: DataFrame, key: Column, excluded: DataFrame): DataFrame = {
    val k = excluded.columns.head
    // No distinct on the list: LEFT ANTI output is unchanged by duplicate
    // keys, and dropping it keeps the plan a single broadcast — no
    // list-side shuffle (PlanQualitySpec pins the shape).
    df.withColumn("__xk", key)
      .join(broadcast(excluded.select(col(k).as("__xk"))), Seq("__xk"), "left_anti")
      .drop("__xk")
  }

  /** Per-source TOKEN budgets (`token_quota` query) — the quota corpus
    * releases actually publish ("X billion tokens of web, Y of code"):
    * [[quotaPerGroup]] caps document COUNTS, but mixture design is
    * stated in tokens. Documents are taken per source in the
    * deterministic content-keyed order ([[sampleBucket]], doc id
    * tie-break — the same order a re-run or a grown corpus reproduces)
    * until the running token total would exceed `budgetTokens`: a
    * document is kept iff its INCLUSIVE running sum fits the budget, so
    * the boundary document that would cross it drops (standard
    * stop-before-exceeding; a single over-budget document yields an
    * empty source rather than a blown budget).
    *
    * One shuffle keyed by source (the window); the token count is a
    * per-row expression on the same pass. Skewed sources are bounded:
    * the running sum is a streaming frame, never a materialized group. */
  def quotaTokensPerSource(df: DataFrame, idCol: String, sourceCol: String,
                           textCol: String, budgetTokens: Long): DataFrame = {
    val nTok = size(graft.text.TextAnalysis.tokens(lower(col(textCol)))).cast("long")
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(sampleBucket(col(textCol)), md5(col(textCol)), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(sourceCol), col(textCol), nTok.as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .drop(textCol)
      .filter(col("cum_tokens") <= budgetTokens)
      .orderBy(col(idCol))
  }

  /** Sliding-window chunk EXPANSION (`chunk_texts` query): emit the actual
    * chunk rows — `chunkTokens`-wide token windows stepping by
    * `chunkTokens − overlap` — per document, the RAG/pretraining prep step
    * that [[packChunks]]'s assignment arithmetic feeds. Pure per-row
    * explode: chunk starts are a `sequence`, texts are `slice` +
    * `concat_ws` over the token array — no shuffle, fan-out ≈
    * n_tokens/step per doc. The final short window is kept (standard
    * practice: a trailing partial chunk still trains); empty docs emit
    * nothing. */
  def chunkTexts(docs: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val step = chunkTokens - overlap
    val toks = graft.text.TextAnalysis.tokens(lower(col(textCol)))
    val n = size(col("toks"))
    // Keep a window only if it contributes at least one NEW token beyond
    // the previous window's coverage — for a non-first start that means
    // start + overlap <= n_tokens (a later start only re-slices tokens the
    // previous window already emitted). The final kept window may be
    // short (a trailing partial chunk still trains).
    val starts = filter(
      sequence(lit(1), n, lit(step)),
      s => s === 1 || (s + lit(overlap)) <= n)
    graft.Par.widen(docs)
      .select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol),
        posexplode(transform(starts,
          start => concat_ws(" ", slice(col("toks"), start, lit(chunkTokens)))))
          .as(Seq("chunk_idx", "chunk_text")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_text"))
      .orderBy(col(idCol), col("chunk_idx"))
  }

  /** Sampled boilerplate mining (`boilerplate_ngrams_sampled` query): run
    * [[graft.text.TextAnalysis.frequentShingles]] over a deterministic
    * md5-bucket sample and scale counts back up (`df_est = df_sample ·
    * 10000 / rateBp`). The 100 TB first cut: the full-corpus shingle
    * shuffle touches every (doc, shingle) pair, the sampled one `rate` of
    * it — and because the sample is deterministic, the estimate is
    * reproducible, re-drawable at a higher rate, and its survivors can be
    * counted exactly afterwards. Estimates carry sampling error (binomial
    * on df), so the threshold is applied to the SCALED estimate; a shingle
    * at exactly minDf can land either side — rows-only check, error bound
    * pinned by CurationSpec on a planted corpus. */
  def boilerplateSampled(docs: DataFrame, textCol: String, n: Int,
                         minDf: Long, rateBp: Int): DataFrame =
    graft.text.TextAnalysis
      .frequentShingles(sampleDeterministic(docs, textCol, rateBp), textCol, n, 1L)
      .withColumn("df_est", floor(col("df") * 10000L / rateBp))
      .filter(col("df_est") >= minDf)
      .select(col("shingle"), col("df_est"))
      .orderBy(col("df_est").desc, col("shingle").asc)

  /** Deterministic data mixing (`corpus_mix` query): per-source sampling
    * rates — the "2 parts web, 1 part code, 0.1 parts forums" recipe of
    * LLM dataset assembly — applied with the same md5-bucket primitive as
    * [[sampleDeterministic]], so the mix is reproducible and each rate is
    * individually rate-nested (raising one source's rate only ADDS rows).
    * Unlisted sources drop (rate 0). The rate lookup is a broadcast join
    * against a literal table — no per-row map lookup UDF, no shuffle of
    * the corpus. */
  def mixCorpus(df: DataFrame, keyCol: String, sourceCol: String,
                ratesBp: Map[String, Int]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rates = ratesBp.toSeq.toDF(sourceCol, "__rate_bp")
    df.join(broadcast(rates), Seq(sourceCol))
      .filter(sampleBucket(col(keyCol)) < col("__rate_bp"))
      .drop("__rate_bp")
  }

  /** Mixing with rates ABOVE 1 (`corpus_mix_epochs` query): DoReMi-style
    * domain weights routinely exceed 1.0, which [[mixCorpus]]'s
    * keep-or-drop filter cannot express — a rate of 2.5 means every
    * document appears twice and HALF the documents (content-chosen, the
    * same [[sampleBucket]] draw) a third time. Each emitted copy carries
    * an `epoch` number (1-based), so downstream shuffling/packing can
    * interleave repeats instead of clustering them. Fractional-part
    * selection is bucket < rate mod 10000 — the uniform-sample contract,
    * so the output is reproducible, duplicate-consistent, and monotone
    * in the rate (raising a rate only ADDS copies). Unlisted sources
    * drop. Pure per-row fan-out after a broadcast rate join — the corpus
    * never shuffles. */
  def mixCorpusWithRepetition(df: DataFrame, keyCol: String, sourceCol: String,
                              ratesBp: Map[String, Int]): DataFrame = {
    require(ratesBp.values.forall(_ >= 0), "rates must be non-negative")
    val spark = df.sparkSession
    import spark.implicits._
    val rates = ratesBp.toSeq.toDF(sourceCol, "__rate_bp")
    val copies = (expr("__rate_bp div 10000") +
      when(sampleBucket(col(keyCol)) < col("__rate_bp") % 10000, 1)
        .otherwise(0)).cast("int")
    df.join(broadcast(rates), Seq(sourceCol))
      .withColumn("__copies", copies)
      .select(df.columns.map(col) :+
        explode(when(col("__copies") >= 1, sequence(lit(1), col("__copies")))
          .otherwise(array().cast("array<int>"))).as("epoch"): _*)
      .withColumn("epoch", col("epoch").cast("long"))
  }

  /** Temperature-scaled source mixing (`corpus_mix_temperature` query):
    * the multilingual/domain-balancing sampler (XLM-R/mT5's α-temperature
    * recipe) in its downsampling-only form. With per-source counts n_i
    * and temperature α = 0.5, each source keeps
    * rate_i = (n_min ∕ n_i)^(1−α) = sqrt(n_min ∕ n_i), so expected kept
    * counts are ∝ n_i^α: the smallest source keeps everything and large
    * sources are flattened toward it. Rows are selected by the same
    * content-keyed [[sampleBucket]] primitive as [[mixCorpus]], so the
    * draw is reproducible, duplicate-consistent, and rate-nested.
    *
    * Cross-engine exactness: rate_bp = floor(10000 · sqrt(n_min∕n_i)).
    * Division and sqrt are single correctly-rounded IEEE ops and the
    * multiply-by-10000 + floor sit below 2⁵³, so both engines produce the
    * SAME integer rate — the query hash-matches. α is pinned at 0.5
    * because sqrt is the exactly-rounded dyadic case (α = 0.25 would be
    * sqrt∘sqrt, etc.); arbitrary pow() carries cross-engine ulp risk.
    *
    * Scale shape: one tiny per-source count agg (map-combined), a
    * broadcast rate join, then a pure per-row filter — the corpus itself
    * never shuffles. */
  def mixCorpusTemperature(df: DataFrame, keyCol: String,
                           sourceCol: String): DataFrame = {
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
    val nmin = counts.agg(min(col("__n")).as("__nmin"))
    val rates = counts.crossJoin(broadcast(nmin))
      .select(col(sourceCol),
        floor(lit(10000.0) *
          sqrt(col("__nmin").cast("double") / col("__n").cast("double")))
          .cast("long").as("__rate_bp"))
    df.join(broadcast(rates), Seq(sourceCol))
      .filter(sampleBucket(col(keyCol)) < col("__rate_bp"))
      .drop("__rate_bp")
  }

  /** Deterministic global corpus shuffle (`corpus_shuffle` query): a
    * seeded total order over documents — the training-order
    * randomization step (epoch shuffles, curriculum-free pretraining) —
    * as pure relational algebra. Each row's sort key is
    * md5(seed ‖ ':' ‖ key); `shuffle_pos` is its 1-based global rank
    * (ties broken by `tieCol` — md5-equal rows are content-equal, so the
    * tie-break only fixes duplicate order) and `shard` is
    * floor(h₃₂ · nShards ∕ 2³²) over the hash's first 32 bits.
    *
    * Because lowercase fixed-width hex compares lexicographically as its
    * numeric value and `shard` is monotone in the hash PREFIX, ordering
    * by (shard, h, tie) EQUALS ordering by (h, tie) — so the global rank
    * is computed hierarchically (the [[packChunks]]/scalable prefix-sum
    * discipline): one exchange on shard, a per-shard `row_number`, and a
    * broadcast nShards-row cumulative-offset join. No global single-
    * partition window, no driver collect; a new seed is a brand-new,
    * uncorrelated order. The ∕2³² step is a power-of-two double divide —
    * exact — so both engines compute identical shards. */
  def shuffleCorpus(df: DataFrame, keyCol: String, seed: String,
                    nShards: Int = 1024,
                    tieCol: String = "doc_id"): DataFrame = {
    val h = md5(concat_ws(":", lit(seed), col(keyCol)))
    val withH = df.withColumn("__h", h)
      .withColumn("shard",
        floor(conv(substring(col("__h"), 1, 8), 16, 10).cast("long")
          .cast("double") * nShards / 4294967296.0).cast("int"))
    val wIn = Window.partitionBy(col("shard"))
      .orderBy(col("__h"), col(tieCol))
    val posIn = withH.withColumn("__p", row_number().over(wIn).cast("long"))
    // Shard sizes from the PRE-window frame (r17): counting posIn rows
    // re-ran the per-shard sort window a second time just to throw the
    // positions away — the count per shard is identical either way, and
    // this branch now reaches the scan through a map-combined aggregate
    // with no sort exchange (guide §1.2/§2.3).
    val sizes = withH.groupBy(col("shard")).agg(count(lit(1)).as("__c"))
    // bounded input: ≤ nShards aggregated rows through this global window
    val wOff = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sizes
      .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
      .select(col("shard"), col("__off"))
    posIn.join(broadcast(offs), Seq("shard"))
      .withColumn("shuffle_pos", col("__off") + col("__p"))
      .drop("__h", "__p", "__off")
  }

  /** Quality-curriculum training order (`curriculum_order` query):
    * assign every document a deterministic training position where the
    * corpus ascends through quality tiers — weakest documents first,
    * best last (the anneal-phase convention: the cleanest data meets the
    * lowest learning rates), shuffled WITHIN each tier by a seeded
    * content hash so no tier has internal ordering bias.
    *
    *  - tier: rank by (quality asc, doc_id) → ⌊(rank−1)·tiers∕n⌋+1 —
    *    equal-size tiers, the [[graft.text.LmScore]] closed-form bucket
    *    (== NTILE);
    *  - train_pos: global position = cumulative (tier, hash-shard)
    *    offset + within-shard row number — the [[shuffleCorpus]]
    *    hierarchical-rank discipline applied within tiers. The hash
    *    shard is prefix-monotone in the hash, so (shard, hash) order IS
    *    hash order and one relational ROW_NUMBER over (tier, md5, id)
    *    states the whole semantic for the oracle.
    *
    * Null quality (empty docs) coalesces to 0.0 — semantically worst,
    * and it pins the Spark/DuckDB null-ordering divergence shut. Both
    * rank passes are per-shard windows; the only global windows run over
    * ≤ nShards and ≤ tiers·nShards aggregated rows. */
  def curriculumOrder(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", tiers: Int = 3,
                      seed: String = "cur42", nShards: Int = 256): DataFrame = {
    require(tiers > 0, "need tiers > 0")
    val base = graft.Par.widen(docs).select(
        col(idCol).cast("long").as("doc_id"),
        coalesce(graft.text.TextAnalysis.qualityScore(col(textCol)), lit(0.0)).as("q"),
        md5(concat_ws(":", lit(seed), col(textCol))).as("__h"))
      .pinned // feeds both rank passes
    // Pass 1: quality rank -> tier. Shard by the (bounded, rounded) score
    // value itself; within-shard row_number; bounded offset window.
    val sharded = base.withColumn("__shard",
      least(lit(nShards - 1), floor(col("q") * nShards).cast("int")))
    val wIn = Window.partitionBy(col("__shard")).orderBy(col("q"), col("doc_id"))
    val posIn = sharded.withColumn("__p", row_number().over(wIn).cast("long"))
    // Counts from the PRE-window frame (r17): identical per-shard counts,
    // no second sort-window evaluation (see [[shuffleCorpus]]).
    val sizes = sharded.groupBy(col("__shard")).agg(count(lit(1)).as("__c"))
    // bounded input: ≤ nShards aggregated rows through this global window
    val wOff = Window.orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sizes
      .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
      .select(col("__shard"), col("__off"))
    val total = sizes.agg(sum(col("__c")).as("__n"))
    // Pinned (r17, guide §1.2): pass 2 reads the tier frame for its rank
    // window AND its shard-size aggregate — unpinned, each consumer
    // re-ran pass 1's sort window + offset join. Narrow columns only.
    val tiered = posIn.join(broadcast(offs), Seq("__shard"))
      .crossJoin(broadcast(total))
      .withColumn("tier", expr(s"(((__off + __p) - 1) * $tiers) div __n") + 1L)
      .select(col("doc_id"), col("q"), col("__h"), col("tier"))
      .pinned
    // Pass 2: within-tier seeded shuffle -> global train position. The
    // cumulative offsets run over (tier, hash shard) in order, so the
    // offset + within-shard position IS the global position.
    val sh2 = tiered.withColumn("__s2",
      floor(conv(substring(col("__h"), 1, 8), 16, 10).cast("long")
        .cast("double") * nShards / 4294967296.0).cast("int"))
    val w2 = Window.partitionBy(col("tier"), col("__s2"))
      .orderBy(col("__h"), col("doc_id"))
    val pos2 = sh2.withColumn("__p2", row_number().over(w2).cast("long"))
    // Counts from the PRE-window frame — same rationale as pass 1.
    val sizes2 = sh2.groupBy(col("tier"), col("__s2")).agg(count(lit(1)).as("__c2"))
    // bounded input: ≤ tiers·nShards aggregated rows through this window
    val wOff2 = Window.orderBy(col("tier"), col("__s2"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs2 = sizes2
      .withColumn("__o2", coalesce(sum(col("__c2")).over(wOff2), lit(0L)))
      .select(col("tier"), col("__s2"), col("__o2"))
    pos2.join(broadcast(offs2), Seq("tier", "__s2"))
      .withColumn("train_pos", col("__o2") + col("__p2"))
      .select(col("doc_id"), col("q").as("quality"), col("tier"), col("train_pos"))
      .orderBy(col("train_pos"))
  }

  /** Gate-attrition funnel (`curation_funnel` query): the per-stage
    * survivor counts every corpus release publishes (FineWeb/RefinedWeb
    * ablation tables) — how many documents remain after each cleaning
    * gate, in order: raw → Gopher rule gate ([[graft.text.GopherRules]],
    * thresholds caller-tuned) → quality-score floor → exact dedup.
    *
    * Scale shape: this is NOT four filtered re-scans. Each gate becomes
    * a cumulative per-row flag in ONE pass, and all four counts come out
    * of a single aggregation (`count_distinct` of the content hash,
    * restricted to quality survivors, counts the exact-dedup keepers
    * without a window); `stack` unpivots the one result row. One scan,
    * one exchange, at any corpus size. */
  def curationFunnel(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     th: graft.text.GopherRules.Thresholds =
                       graft.text.GopherRules.Thresholds(),
                     minQuality: Double = 0.5): DataFrame = {
    val t = col(textCol)
    val g1 = graft.text.GopherRules.passExpr(t, th)
    val g2 = g1 && graft.text.TextAnalysis.qualityScore(t) >= minQuality
    val flags = docs.select(g1.as("__g1"), g2.as("__g2"), md5(t).as("__h"))
    flags.agg(
        count(lit(1)).as("raw"),
        sum(when(col("__g1"), 1L).otherwise(0L)).as("gopher"),
        sum(when(col("__g2"), 1L).otherwise(0L)).as("quality"),
        countDistinct(when(col("__g2"), col("__h"))).as("exact_dedup"))
      .selectExpr("stack(4, 0, 'raw', raw, 1, 'gopher', gopher, " +
        "2, 'quality', quality, 3, 'exact_dedup', exact_dedup) " +
        "as (stage, gate, n_docs)")
      .orderBy(col("stage"))
  }

  /** DuckDB mirror of [[curationFunnel]]. */
  def sqlFunnel(from: String,
                th: graft.text.GopherRules.Thresholds =
                  graft.text.GopherRules.Thresholds(),
                minQuality: Double = 0.5): String = {
    val pass = graft.text.GopherRules.sqlPassExpr("text", th)
    val q = graft.text.TextAnalysis.sqlQuality("text")
    s"""WITH f AS (
       |  SELECT COUNT(*) AS raw,
       |    SUM(CASE WHEN $pass THEN 1 ELSE 0 END) AS gopher,
       |    SUM(CASE WHEN $pass AND $q >= $minQuality THEN 1 ELSE 0 END) AS quality,
       |    COUNT(DISTINCT CASE WHEN $pass AND $q >= $minQuality
       |                        THEN md5(text) END) AS exact_dedup
       |  FROM $from)
       |SELECT 0 AS stage, 'raw' AS gate, CAST(raw AS BIGINT) AS n_docs FROM f
       |UNION ALL SELECT 1, 'gopher', CAST(gopher AS BIGINT) FROM f
       |UNION ALL SELECT 2, 'quality', CAST(quality AS BIGINT) FROM f
       |UNION ALL SELECT 3, 'exact_dedup', CAST(exact_dedup AS BIGINT) FROM f
       |ORDER BY stage""".stripMargin
  }

  /** GPT-style sequence packing (`sequence_packing` query): documents are
    * conceptually concatenated in a fixed order and cut into fixed
    * token-budget chunks; each document reports the chunk its first token
    * lands in and how many chunks it spans. Pure window arithmetic — the
    * running token total per (ordered) corpus — so the whole assignment is
    * one window pass, no iteration, and any engine reproduces it exactly:
    *
    *   offset      = cumulative tokens BEFORE the doc
    *   chunk_id    = floor(offset / budget)
    *   n_chunks    = floor((offset + n_tokens - 1) / budget) − chunk_id + 1
    *
    * The single-partition window over the global order is the honest
    * semantic statement; at 100 TB the same arithmetic runs hierarchically
    * (per-partition sums → broadcast per-partition offsets — the standard
    * distributed prefix-sum), which [[packChunksScalable]] implements with
    * identical output. Empty docs (0 tokens) span 0 chunks and sit at the
    * boundary offset. */
  def packChunks(docs: DataFrame, idCol: String, textCol: String,
                 budget: Long): DataFrame = {
    val nTok = size(graft.text.TextAnalysis.tokens(lower(col(textCol)))).cast("long")
    // DELIBERATE global window: this is the semantic reference twin only
    // — queries and pipelines bind to packChunksScalable/packByOrder.
    val w = Window.orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), nTok.as("n_tokens"))
      .withColumn("offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        floor(col("offset") / budget).as("chunk_id"),
        when(col("n_tokens") === 0, lit(0L)).otherwise(
          floor((col("offset") + col("n_tokens") - 1) / budget) -
            floor(col("offset") / budget) + 1).as("n_chunks"))
      .orderBy(col(idCol))
  }

  /** The distributed-prefix-sum pack over ANY total order: `df` must
    * carry `orderCol` (unique, defines the concatenation order) and
    * `n_tokens`; all other columns ride through. Token counts aggregate
    * per range-partition, the tiny per-partition totals broadcast back
    * as starting offsets, and the per-row running sum stays inside each
    * partition — no single-partition window. The form that runs at
    * 100 TB; [[packChunksScalable]] (id order) and
    * [[FineWebPipeline]] (shuffle order) are both this operator. */
  def packByOrder(df: DataFrame, orderCol: String, budget: Long,
                  parts: Int = 0, keepOffset: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val nParts = if (parts > 0) parts else spark.sparkContext.defaultParallelism
    // Range-partition by the order column so partition order == global
    // order, then two passes: (1) per-partition token totals ->
    // cumulative starting offsets on the driver (|parts| longs); (2)
    // per-partition running sum + broadcast base offset.
    val base = df
      .repartitionByRange(nParts, col(orderCol))
      .sortWithinPartitions(col(orderCol))
    // Pinned (r17, guide §1.2): the frame feeds the per-partition totals
    // ACTION below and the output pass — unpinned, the whole upstream
    // chain (for releaseShards: the corpus scan, the order hash and the
    // token count; for the packing queries: the tokenizer encode) ran once
    // per consumer, plus the range partitioner's sampling pass. The
    // frame is narrow (an order column + n_tokens + pass-through
    // columns), so the checkpoint write is cheap next to the re-run;
    // __pid is frozen by the pin, which is exactly what the offset
    // arithmetic wants.
    val perPart = base.withColumn("__pid", spark_partition_id()).pinned
    val totals = perPart.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("__tot"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val starts = {
      val maxPid = if (totals.isEmpty) -1 else totals.keys.max
      val arr = new Array[Long](maxPid + 2)
      var acc = 0L
      (0 to maxPid).foreach { p => arr(p) = acc; acc += totals.getOrElse(p, 0L) }
      arr
    }
    val startCol = element_at(
      array(starts.toIndexedSeq.map(lit(_)): _*), col("__pid") + 1)
    val wp = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perPart
      .withColumn("offset",
        startCol + sum(col("n_tokens")).over(wp) - col("n_tokens"))
      .withColumn("chunk_id", floor(col("offset") / budget))
      .withColumn("n_chunks",
        when(col("n_tokens") === 0, lit(0L)).otherwise(
          floor((col("offset") + col("n_tokens") - 1) / budget) -
            floor(col("offset") / budget) + 1))
      .drop("__pid" +: (if (keepOffset) Seq.empty[String] else Seq("offset")): _*)
  }

  /** [[packChunksScalable]] with BPE-piece budgets
    * (`sequence_packing_bpe` query): identical prefix-sum assignment,
    * but `n_tokens` comes from [[graft.text.Bpe.pieceCounts]] — the
    * tokenizer-unit accounting trainers actually budget in (a 512-token
    * context is 512 BPE pieces, not 512 whitespace words; whitespace
    * counts under-fill or overflow sequences whenever compression ≠ 1).
    * Same scale shape: broadcast merge ranks, per-partition encode, the
    * packByOrder two-pass prefix sum — no new shuffle. Rows-only by
    * declared design (the merge list is a driver fit, like the whole
    * `bpe_*` family); CurationSpec pins structure-equality with the
    * whitespace twin on a counts-coincident fixture and divergence where
    * compression differs. */
  def packChunksBpe(docs: DataFrame, idCol: String, textCol: String,
                    merges: Seq[(String, String)], budget: Long,
                    parts: Int = 0): DataFrame =
    packByOrder(
        graft.text.Bpe.pieceCounts(docs, idCol, textCol, merges)
          .withColumnRenamed(idCol, "__id"),
        "__id", budget, parts)
      .select(col("__id").as(idCol), col("n_tokens"),
        col("chunk_id"), col("n_chunks"))
      .orderBy(col(idCol))

  /** [[packChunksBpe]] under the unigram-LM tokenizer
    * (`sequence_packing_unigram` query, r11): the same prefix-sum
    * assignment over [[graft.text.Unigram.pieceCounts]]'s Viterbi
    * units — a pipeline standardizing on the unigram model budgets in
    * its pieces, and the two tokenizers' chunk maps genuinely differ
    * (the fertility audits quantify why). */
  def packChunksUnigram(docs: DataFrame, idCol: String, textCol: String,
                        pieces: Seq[(String, Long)], budget: Long,
                        parts: Int = 0): DataFrame =
    packByOrder(
        graft.text.Unigram.pieceCounts(docs, idCol, textCol, pieces)
          .withColumnRenamed(idCol, "__id"),
        "__id", budget, parts)
      .select(col("__id").as(idCol), col("n_tokens"),
        col("chunk_id"), col("n_chunks"))
      .orderBy(col(idCol))

  /** [EXT] Per-chunk document spans (`packing_boundaries` query) — the
    * attention-mask manifest of concat-then-chunk packing: a trainer
    * that packs documents into fixed sequences must know, for every
    * sequence, WHERE each document's tokens sit ([start, end) offsets
    * within the chunk) to reset attention / mask the loss at document
    * boundaries — without it, concat packing silently trains across
    * unrelated-document joins. One row per (chunk, document-fragment):
    * a doc spanning k chunks emits k rows whose chunk-relative spans
    * tile it exactly. Derivation is pure arithmetic on the
    * [[packByOrder]] offsets (start = max(off − c·B, 0), end =
    * min(off + n − c·B, B)); the fan-out is |docs| + boundary
    * crossings, never token-scale. */
  def packingBoundaries(docs: DataFrame, idCol: String, textCol: String,
                        budget: Long, parts: Int = 0): DataFrame = {
    val nTok = size(graft.text.TextAnalysis.tokens(lower(col(textCol)))).cast("long")
    packByOrder(docs.select(col(idCol).as("__id"), nTok.as("n_tokens")),
        "__id", budget, parts, keepOffset = true)
      .filter(col("n_tokens") > 0) // empty docs occupy no span
      .withColumn("__k", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .withColumn("chunk_id", col("chunk_id") + col("__k"))
      .select(col("chunk_id"), col("__id").as(idCol),
        greatest(col("offset") - col("chunk_id") * budget, lit(0L))
          .as("start_in_chunk"),
        least(col("offset") + col("n_tokens") - col("chunk_id") * budget,
          lit(budget)).as("end_in_chunk"))
      .orderBy(col("chunk_id"), col("start_in_chunk"), col(idCol))
  }

  /** DuckDB mirror of [[packingBoundaries]] over a relation exposing
    * (idCol, textCol). */
  def sqlPackingBoundaries(rel: String, idCol: String, textCol: String,
                           budget: Long): String =
    s"""WITH t AS (
       |  SELECT $idCol,
       |    len(regexp_extract_all(lower($textCol), '[^ \\t\\n\\x0B\\f\\r]+'))::BIGINT
       |      AS n_tokens
       |  FROM $rel),
       |o AS (
       |  SELECT $idCol, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY $idCol ROWS UNBOUNDED PRECEDING)
       |      - n_tokens AS off
       |  FROM t),
       |e AS (
       |  SELECT $idCol, n_tokens, off,
       |    CAST(FLOOR(off / $budget.0) AS BIGINT)
       |      + UNNEST(range(0, CAST(FLOOR((off + n_tokens - 1) / $budget.0)
       |          AS BIGINT) - CAST(FLOOR(off / $budget.0) AS BIGINT) + 1))
       |      AS chunk_id
       |  FROM o WHERE n_tokens > 0)
       |SELECT chunk_id, $idCol,
       |  CAST(GREATEST(off - chunk_id * $budget, 0) AS BIGINT)
       |    AS start_in_chunk,
       |  CAST(LEAST(off + n_tokens - chunk_id * $budget, $budget) AS BIGINT)
       |    AS end_in_chunk
       |FROM e
       |ORDER BY chunk_id, start_in_chunk, $idCol""".stripMargin

  /** [[packChunks]] as a distributed prefix sum via [[packByOrder]].
    * Output is IDENTICAL to the window form (CurationSpec pins it). */
  def packChunksScalable(docs: DataFrame, idCol: String, textCol: String,
                         budget: Long, parts: Int = 0): DataFrame = {
    val nTok = size(graft.text.TextAnalysis.tokens(lower(col(textCol)))).cast("long")
    packByOrder(docs.select(col(idCol).as("__id"), nTok.as("n_tokens")),
        "__id", budget, parts)
      .select(col("__id").as(idCol), col("n_tokens"),
        col("chunk_id"), col("n_chunks"))
      .orderBy(col(idCol))
  }

  /** Packing-efficiency audit (`packing_efficiency` query): ONE summary
    * row a pipeline owner reads when choosing the sequence budget —
    * GPT-style concat-then-chunk packing versus the pad-every-doc
    * alternative at the same budget.
    *
    *  - `n_chunks` = ⌈total_tokens ∕ budget⌉ and `tail_waste` =
    *    n_chunks·budget − total_tokens: concat packing wastes tokens only
    *    in the final partial chunk;
    *  - `boundaries_crossed` = Σ max(per-doc n_chunks − 1, 0) — how many
    *    chunk boundaries cut through a document (the attention-
    *    contamination points concat packing pays for its density), and
    *    `straddling_docs` = docs split across ≥ 2 chunks;
    *  - `padded_chunks` / `padded_waste` = the one-sequence-per-doc
    *    alternative (each doc split into ⌈n∕budget⌉ sequences, the last
    *    padded to the budget);
    *  - `pct_tail_waste` / `pct_padded_waste` = each policy's wasted
    *    fraction of its own token grid — the two numbers the budget
    *    decision weighs against the boundary count.
    *
    * Integer sums with two final divisions (the cross-engine determinism
    * discipline), computed by ONE aggregate over the same prefix-sum
    * assignment `sequence_packing` hash-checks — no extra corpus scan,
    * and the straddle statistics inherit that oracle's pinning. */
  def packingEfficiency(docs: DataFrame, idCol: String, textCol: String,
                        budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val packed = packChunksScalable(docs, idCol, textCol, budget)
    packed
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("total_tokens"),
        coalesce(sum(when(col("n_chunks") > 1, 1L).otherwise(0L)), lit(0L))
          .as("straddling_docs"),
        coalesce(sum(greatest(col("n_chunks") - lit(1L), lit(0L))), lit(0L))
          .as("boundaries_crossed"),
        coalesce(sum(expr(
          s"case when n_tokens = 0 then cast(0 as bigint) " +
            s"else (n_tokens + ${budget - 1}) div $budget end")), lit(0L))
          .as("padded_chunks"))
      .withColumn("n_chunks", expr(s"(total_tokens + ${budget - 1}) div $budget"))
      .withColumn("tail_waste", col("n_chunks") * budget - col("total_tokens"))
      .withColumn("padded_waste", col("padded_chunks") * budget - col("total_tokens"))
      .select(col("n_docs"), col("total_tokens"), col("n_chunks"),
        col("tail_waste"), col("straddling_docs"), col("boundaries_crossed"),
        col("padded_chunks"), col("padded_waste"),
        round(col("tail_waste").cast("double") * 100.0 /
          nullif((col("n_chunks") * budget).cast("double"), lit(0.0)), 4)
          .as("pct_tail_waste"),
        round(col("padded_waste").cast("double") * 100.0 /
          nullif((col("padded_chunks") * budget).cast("double"), lit(0.0)), 4)
          .as("pct_padded_waste"))
  }

  /** Release manifest (`release_manifest` query): the per-(source, lang)
    * rollup a corpus release ships beside the data — document counts,
    * token mass, distinct-content counts and the exact-duplicate
    * percentage, with subtotal rows per source and a grand total
    * (`ROLLUP`). Group keys are null-coalesced BEFORE the rollup
    * ('Unknown'/'und'), so a null in the output is always a rollup
    * subtotal and the TOTAL/ALL relabeling is unambiguous.
    *
    * Scale shape: one grouping-sets aggregate; the distinct-content count
    * makes Spark expand each row ×3 (one per grouping) keyed by the
    * 16-byte content hash — payloads never ride the exchange, and the
    * expansion factor is the (constant) number of rollup levels. */
  /** [EXT] k-anonymous release statistics (`k_anonymous_stats` query) —
    * small-cell suppression, the standard disclosure-control rule for
    * published statistics tables: a released per-group breakdown must
    * not expose groups so small that rows become attributable (a
    * one-document (source, lang) cell IS that document). Groups with
    * n_docs < k collapse into ONE `__suppressed__` bucket whose counts
    * are the suppressed groups' sums, so the released table still
    * reconciles to the corpus totals — suppression hides attribution,
    * never mass. No row appears when nothing falls below k.
    *
    * Scale shape: one keyed aggregate over the corpus (the group table
    * is ≤ |groups| rows); the split + re-union runs on that tiny frame.
    */
  def kAnonymousStats(docs: DataFrame, keyCols: Seq[String], k: Int,
                      textCol: String = "text"): DataFrame = {
    require(keyCols.nonEmpty, "need at least one grouping column")
    require(k >= 1, s"k must be >= 1, got $k")
    val g = graft.Par.widen(docs)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.text.TextAnalysis.tokenCount(col(textCol))).as("n_tokens"))
      .pinned // one corpus aggregate feeds both branches
    val keep = g.filter(col("n_docs") >= k)
    val supp = g.filter(col("n_docs") < k)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs").isNotNull)
      .select(keyCols.map(_ => lit("__suppressed__")) ++
        Seq(col("n_docs"), col("n_tokens")): _*)
      .toDF(keyCols :+ "n_docs" :+ "n_tokens": _*)
    keep.unionByName(supp)
      .orderBy(keyCols.map(col): _*)
  }

  /** DuckDB mirror of [[kAnonymousStats]] over the documents table for
    * (source, lang) keys. */
  def sqlKAnonymousStats(k: Int): String = {
    val tok = graft.text.TextAnalysis.sqlTokenCount("text")
    s"""WITH g AS (
       |  SELECT source, lang, count(*) AS n_docs,
       |    CAST(SUM($tok) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT source, lang, n_docs, n_tokens FROM g WHERE n_docs >= $k
       |  UNION ALL
       |  SELECT '__suppressed__', '__suppressed__',
       |    CAST(SUM(n_docs) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT)
       |  FROM g WHERE n_docs < $k HAVING SUM(n_docs) IS NOT NULL)
       |ORDER BY source, lang""".stripMargin
  }

  /** Exact per-group lower percentiles of an integer signal — the
    * calibration half of [[adaptiveLengthGate]]. threshold(g) = the
    * smallest value v with cum_count(≤ v) · 10⁴ ≥ qBp · total(g): the
    * classic lower-quantile definition in pure integer arithmetic (the
    * cross-multiplied comparison needs no ceil and no float, so both
    * engines agree bit-for-bit). Scale shape: one (group, value)
    * aggregate — bounded by distinct signal values per group, NOT by
    * rows — then a window over those aggregate rows and a per-group min.
    * Output: (groupCol, threshold). */
  def percentileThresholds(df: DataFrame, groupCol: String,
                           valueCol: String, qBp: Int): DataFrame =
    percentileThresholdsFromCounts(
      df.groupBy(col(groupCol), col(valueCol).as("__v"))
        .agg(count(lit(1)).as("__c")),
      groupCol, qBp)

  /** [[percentileThresholds]] over a PRE-AGGREGATED (groupCol, __v, __c)
    * count table — the histogram is ADDITIVE state (merge = groupBy
    * sum), so this is also the release-time fit of the incremental face
    * ([[adaptiveLengthGateIncremental]]). Expects one row per (group,
    * value); merge partials first ([[mergeValueCounts]]). */
  def percentileThresholdsFromCounts(counts: DataFrame, groupCol: String,
                                     qBp: Int): DataFrame = {
    require(qBp > 0 && qBp <= 10000, s"qBp must be in (0, 10000], got $qBp")
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col(groupCol))
    counts.withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__tot", sum(col("__c")).over(wTot))
      .filter(col("__cum") * 10000 >= lit(qBp.toLong) * col("__tot"))
      .groupBy(col(groupCol))
      .agg(min(col("__v")).as("threshold"))
  }

  /** Per-batch additive histogram partial of the gate signal — what the
    * incremental/streaming faces persist (≤ distinct (group, value)
    * rows per batch). */
  def lengthHistogram(docs: DataFrame, textCol: String = "text",
                      groupCol: String = "lang"): DataFrame =
    graft.Par.widen(docs)
      .groupBy(coalesce(col(groupCol), lit("und")).as("grp"),
        size(graft.text.TextAnalysis.tokens(lower(col(textCol))))
          .cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))

  /** Merge histogram partials (groupBy-sum — associative, so per-batch
    * parts ARE valid incremental state). */
  def mergeValueCounts(parts: DataFrame): DataFrame =
    parts.groupBy(col("grp"), col("__v"))
      .agg(sum(col("__c")).as("__c"))

  /** [EXT] The adaptive gate's INCREMENTAL face
    * (`adaptive_length_gate_incremental` query): the batch is gated
    * under thresholds fitted on history-state ∪ batch — history text is
    * never re-read (its histogram partial is the state), and because
    * the merged histogram over all batches IS the full-corpus
    * histogram, gating the final batch under merged state equals the
    * one-shot [[adaptiveLengthGate]] restricted to the batch (the
    * oracle states exactly that). Mid-stream batches see thresholds
    * from data-so-far — the honest drift of any threshold fitted
    * before the corpus is complete; re-gate at release time from the
    * merged state for the final verdicts. */
  def adaptiveLengthGateIncremental(batch: DataFrame, state: DataFrame,
                                    idCol: String = "doc_id",
                                    textCol: String = "text",
                                    groupCol: String = "lang",
                                    qBp: Int = 2000): DataFrame = {
    val merged = mergeValueCounts(
      state.unionByName(lengthHistogram(batch, textCol, groupCol)))
    val nTok = size(graft.text.TextAnalysis.tokens(lower(col(textCol))))
      .cast("long")
    graft.Par.widen(batch)
      .select(col(idCol), coalesce(col(groupCol), lit("und")).as("grp"),
        nTok.as("n_tokens"))
      .join(broadcast(percentileThresholdsFromCounts(merged, "grp", qBp)),
        Seq("grp"))
      .select(col(idCol), col("grp"), col("n_tokens"), col("threshold"),
        (col("n_tokens") >= col("threshold")).as("keep"))
      .orderBy(col(idCol))
  }

  /** [EXT] Percentile-calibrated length gate (`adaptive_length_gate`
    * query) — thresholds FROM the data instead of a hand-set constant:
    * fixed gates (Gopher's 50-token floor, C4's line rules) assume one
    * language's token statistics, but whitespace token counts are not
    * comparable across languages (a Chinese sentence is a handful of
    * whitespace tokens), so multilingual pipelines calibrate each
    * language's floor from its own distribution (the FineWeb recipe:
    * filters tuned per corpus slice, not copied). keep = n_tokens ≥
    * that group's qBp-th percentile ([[percentileThresholds]]).
    *
    * Scale: one scan for the signal, the bounded threshold aggregate,
    * and a broadcast join of ≤ |groups| thresholds back onto the
    * corpus — text is read once, nothing document-scale shuffles. */
  def adaptiveLengthGate(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         groupCol: String = "lang",
                         qBp: Int = 2000): DataFrame = {
    val nTok = size(graft.text.TextAnalysis.tokens(lower(col(textCol))))
      .cast("long")
    val sig = graft.Par.widen(docs)
      .select(col(idCol), coalesce(col(groupCol), lit("und")).as("grp"),
        nTok.as("n_tokens"))
      .pinned // feeds both the threshold fit and the gate
    sig.join(broadcast(percentileThresholds(sig, "grp", "n_tokens", qBp)),
        Seq("grp"))
      .select(col(idCol), col("grp"), col("n_tokens"), col("threshold"),
        (col("n_tokens") >= col("threshold")).as("keep"))
      .orderBy(col(idCol))
  }

  /** DuckDB mirror of [[adaptiveLengthGate]] over a relation exposing
    * (idCol, groupCol, textCol). */
  /** `extraWhere` restricts the OUTPUT rows only (e.g. `AND doc_id >=
    * 250` — the incremental query's batch restriction); thresholds are
    * always fitted on the whole relation, which is exactly the merged-
    * state semantic of [[adaptiveLengthGateIncremental]]'s final batch. */
  def sqlAdaptiveLengthGate(rel: String, idCol: String = "doc_id",
                            textCol: String = "text",
                            groupCol: String = "lang",
                            qBp: Int = 2000,
                            extraWhere: String = ""): String =
    s"""WITH t AS (
       |  SELECT $idCol, COALESCE($groupCol, 'und') AS grp,
       |    len(regexp_extract_all(lower($textCol), '[^ \\t\\n\\x0B\\f\\r]+'))::BIGINT
       |      AS n_tokens
       |  FROM $rel),
       |g AS (SELECT grp, n_tokens AS v, COUNT(*) AS c FROM t GROUP BY 1, 2),
       |cg AS (
       |  SELECT grp, v,
       |    SUM(c) OVER (PARTITION BY grp ORDER BY v ROWS UNBOUNDED PRECEDING)
       |      AS cum,
       |    SUM(c) OVER (PARTITION BY grp) AS tot
       |  FROM g),
       |th AS (SELECT grp, MIN(v) AS threshold FROM cg
       |       WHERE cum * 10000 >= $qBp * tot GROUP BY 1)
       |SELECT t.$idCol, t.grp, t.n_tokens, th.threshold,
       |  (t.n_tokens >= th.threshold) AS keep
       |FROM t JOIN th USING (grp)
       |WHERE 1=1$extraWhere
       |ORDER BY t.$idCol""".stripMargin

  /** [EXT] Deterministic fixed-budget release sharding (`release_shards`
    * query) — the physical packaging step of a corpus release (the
    * "~1000 shards of ~N tokens" layout trainers stream): docs are laid
    * out in the SEEDED SHUFFLE order ([[shuffleCorpus]] — shards must be
    * source-interleaved, because trainers read shards sequentially and a
    * shard that is "all of one domain" reintroduces exactly the ordering
    * bias the shuffle removed), then cut at token-budget boundaries via
    * the [[packByOrder]] prefix sum: shard_id = floor(offset ∕ budget),
    * each doc wholly in the shard where its first token falls, so shard
    * sizes read budget ± one document — no driver state, no global
    * window. Output is the per-shard MANIFEST a release publishes:
    * doc/token counts and an order-independent content fingerprint
    * (bit_xor of per-doc md5-prefix longs) any engine can re-derive to
    * diff a re-built shard against the published one.
    *
    * The pack orders directly on (md5(seed ‖ ':' ‖ text), id): the
    * [[shuffleCorpus]] shard is prefix-monotone in that hash, so this is
    * exactly its shuffle order, without its global-rank pass. Shape: the
    * prefix sum's range partition + one shard-keyed aggregate. */
  def releaseShards(docs: DataFrame, idCol: String, textCol: String,
                    budget: Long, seed: String = "rel42"): DataFrame = {
    val nTok = size(graft.text.TextAnalysis.tokens(lower(col(textCol)))).cast("long")
    val fp = conv(substring(md5(col(textCol)), 1, 15), 16, 10).cast("long")
    val order = struct(md5(concat_ws(":", lit(seed), col(textCol))), col(idCol))
    val ordered = docs.select(order.as("__o"), nTok.as("n_tokens"), fp.as("__fp"))
    packByOrder(ordered, "__o", budget)
      .groupBy(col("chunk_id").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        expr("bit_xor(__fp)").as("content_fp"))
      .orderBy(col("shard_id"))
  }

  /** [EXT] Release datasheet (`release_datasheet` query) — the data-card
    * artifact (Gebru et al., "Datasheets for Datasets"): ONE long
    * (section, metric, value) table a release publishes beside the
    * shards, folding the repo's audited signals — corpus totals,
    * language/source/script composition, exact-dup exposure, quality
    * pass rates — so a consumer reads one table instead of running five
    * operators. Every value is an INTEGER count over proven column
    * builders (tokenCount/langId twin columns, dominantScript,
    * gopherPass), so the whole sheet hash-matches.
    *
    * Shape: one corpus scan computes all per-doc signals into a pinned
    * skinny frame; each section is then an aggregate over THAT frame
    * (columnar, id-free, tiny), never a re-read of text. */
  def releaseDatasheet(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val base = graft.Par.widen(docs).select(
        coalesce(col("lang"), lit("und")).as("lang"),
        coalesce(col("source"), lit("Unknown")).as("source"),
        graft.text.TextAnalysis.tokenCount(t).as("n_tok"),
        md5(t).as("h"),
        graft.text.TextAnalysis.dominantScript(t).as("script"),
        graft.text.GopherRules.passExpr(t).as("gpass"))
      .pinned
    def row(section: String, metric: Column, value: Column) =
      Seq(lit(section).as("section"), metric.as("metric"),
        value.cast("long").as("value"))
    val corpus = base.agg(count(lit(1)).as("n"), sum(col("n_tok")).as("st"),
        countDistinct(col("h")).as("d"))
      .select(explode(array(
        struct(row("corpus", lit("n_docs"), col("n")): _*),
        struct(row("corpus", lit("sum_tokens"), col("st")): _*),
        struct(row("corpus", lit("n_distinct_contents"), col("d")): _*),
        struct(row("dedup", lit("n_exact_dup_docs"), col("n") - col("d")): _*)
      )).as("r")).select(col("r.*"))
    val langs = base.groupBy(col("lang"))
      .agg(count(lit(1)).as("c"))
      .select(row("lang", col("lang"), col("c")): _*)
    val sources = base.groupBy(col("source"))
      .agg(count(lit(1)).as("c"))
      .select(row("source", col("source"), col("c")): _*)
    val scripts = base.groupBy(col("script"))
      .agg(count(lit(1)).as("c"))
      .select(row("script", col("script"), col("c")): _*)
    val quality = base.agg(
        sum(when(col("gpass"), 1L).otherwise(0L)).as("p"),
        sum(when(col("gpass"), 0L).otherwise(1L)).as("f"))
      .select(explode(array(
        struct(row("quality", lit("gopher_pass"), col("p")): _*),
        struct(row("quality", lit("gopher_fail"), col("f")): _*)
      )).as("r")).select(col("r.*"))
    corpus.unionByName(langs).unionByName(sources).unionByName(scripts)
      .unionByName(quality)
      .orderBy(col("section"), col("metric"))
  }

  /** DuckDB mirror of [[releaseDatasheet]] over a relation exposing
    * (source, lang, textCol). */
  def sqlReleaseDatasheet(rel: String, textCol: String = "text"): String =
    s"""WITH base AS (
       |  SELECT COALESCE(lang, 'und') AS lang,
       |    COALESCE(source, 'Unknown') AS source,
       |    CAST(${graft.text.TextAnalysis.sqlTokenCount(textCol)} AS BIGINT)
       |      AS n_tok,
       |    md5($textCol) AS h,
       |    ${graft.text.TextAnalysis.sqlDominantScript(textCol)} AS script,
       |    ${graft.text.GopherRules.sqlPassExpr(textCol)} AS gpass
       |  FROM $rel)
       |SELECT section, metric, value FROM (
       |  SELECT 'corpus' AS section, 'n_docs' AS metric,
       |    CAST(COUNT(*) AS BIGINT) AS value FROM base
       |  UNION ALL
       |  SELECT 'corpus', 'sum_tokens', CAST(SUM(n_tok) AS BIGINT) FROM base
       |  UNION ALL
       |  SELECT 'corpus', 'n_distinct_contents',
       |    CAST(COUNT(DISTINCT h) AS BIGINT) FROM base
       |  UNION ALL
       |  SELECT 'dedup', 'n_exact_dup_docs',
       |    CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) FROM base
       |  UNION ALL
       |  SELECT 'lang', lang, CAST(COUNT(*) AS BIGINT) FROM base GROUP BY lang
       |  UNION ALL
       |  SELECT 'source', source, CAST(COUNT(*) AS BIGINT) FROM base
       |  GROUP BY source
       |  UNION ALL
       |  SELECT 'script', script, CAST(COUNT(*) AS BIGINT) FROM base
       |  GROUP BY script
       |  UNION ALL
       |  SELECT 'quality', 'gopher_pass',
       |    CAST(SUM(CASE WHEN gpass THEN 1 ELSE 0 END) AS BIGINT) FROM base
       |  UNION ALL
       |  SELECT 'quality', 'gopher_fail',
       |    CAST(SUM(CASE WHEN gpass THEN 0 ELSE 1 END) AS BIGINT) FROM base)
       |ORDER BY section, metric""".stripMargin

  def releaseManifest(docs: DataFrame, sourceCol: String = "source",
                      langCol: String = "lang", textCol: String = "text"): DataFrame = {
    val base = graft.Par.widen(docs).select(
      coalesce(col(sourceCol), lit("Unknown")).as("source"),
      coalesce(col(langCol), lit("und")).as("lang"),
      md5(col(textCol)).as("h"),
      size(graft.text.TextAnalysis.tokens(lower(col(textCol)))).cast("long").as("n_tok"))
    base.rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        countDistinct(col("h")).as("n_distinct_contents"))
      .select(
        coalesce(col("source"), lit("TOTAL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("n_docs"), col("sum_tokens"), col("n_distinct_contents"),
        round((col("n_docs") - col("n_distinct_contents")).cast("double") * 100.0 /
          col("n_docs").cast("double"), 4).as("pct_dup"))
      .orderBy(col("source"), col("lang"))
  }

  /** Histogram bin packing WITHOUT cross-document contamination
    * (`sequence_packing_bins` query) — the Krell-et-al. alternative to
    * concat-then-chunk ([[packChunks]]): every sequence holds only WHOLE
    * documents (no attention contamination, no boundary splits), packed
    * to minimize padding via shortest-pack-first histogram packing:
    *
    *  1. ONE aggregate collects the token-length histogram — ≤ `budget`
    *     rows to the driver (the bounded-collect contract; item lengths
    *     must be ≤ budget — pre-chunk longer docs with [[chunkTexts]],
    *     enforced on the collected histogram);
    *  2. the driver runs best-fit-decreasing over histogram COUNTS, not
    *     items: strategies (length multisets with pack counts) split off
    *     counted groups, so driver state is O(#strategies · #lengths),
    *     independent of corpus size;
    *  3. items rank within their length class (content-keyed md5 order —
    *     deterministic, partitioning-invariant) and a broadcast slot
    *     table maps each (length, rank) to its (strategy, instance) by
    *     closed-form arithmetic: seq_id = strategy offset + slot div
    *     multiplicity.
    *
    * Output: (item_id, n_tokens, seq_id, seq_fill) — seq_fill is the
    * sequence's total token load (padding = budget − seq_fill). Empty
    * items (0 tokens) are dropped (they occupy no space). The strategy
    * construction is an engine-internal driver loop like BPE/k-means —
    * but deterministic over the collected histogram, so the fitted slot
    * table is a printed constant: [[packBinsHistogramWithSlots]] exposes
    * it and [[sqlPackBinsChunks]] replays the rank-window + slot-join
    * arithmetic in DuckDB (the [[graft.similarity.FittedOracle]]
    * discipline), giving the query a FULL oracle. CurationSpec
    * additionally pins a hand-traced packing, exactly-once assignment,
    * no overfull sequence, waste ≤ the pad-per-doc alternative, and
    * partitioning invariance.
    *
    * Scale shape: one histogram aggregate + one length-keyed rank window
    * + one broadcast join. The window partitions by length class; a
    * mega-class (millions of same-length items) serializes that class's
    * rank — the documented mitigation is the same pre-filter two-step as
    * [[balancedSample]]. */
  def packBinsHistogram(items: DataFrame, idCol: String, textCol: String,
                        budget: Int): DataFrame =
    packBinsHistogramWithSlots(items, idCol, textCol, budget)._1

  /** [[packBinsHistogram]] plus its fitted SLOT TABLE — the driver
    * SPFHP's `(length, cum_start, multiplicity, strat_count, seq_offset,
    * seq_fill)` rows, a deterministic function of the histogram alone.
    * Entry closures stash the slots in
    * [[graft.similarity.FittedOracle.packBinsSlots]] so the oracle SQL
    * replays the assignment with the SAME constants the query used. */
  def packBinsHistogramWithSlots(items: DataFrame, idCol: String,
                                 textCol: String, budget: Int)
      : (DataFrame, Seq[(Int, Long, Int, Long, Long, Int)]) = {
    require(budget > 0, "budget must be positive")
    val spark = items.sparkSession
    import spark.implicits._
    val nTok = size(graft.text.TextAnalysis.tokens(lower(col(textCol)))).cast("int")
    val base = graft.Par.widen(items)
      .select(col(idCol).cast("long").as("item_id"), nTok.as("n_tokens"),
        md5(col(textCol)).as("__h"))
      .filter(col("n_tokens") > 0)
      .pinned // feeds the histogram collect AND the ranked join
    val hist = base.groupBy(col("n_tokens")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val tooLong = hist.keys.filter(_ > budget)
    require(tooLong.isEmpty,
      s"items longer than budget=$budget (lengths ${tooLong.toSeq.sorted.take(5)}); " +
        "pre-chunk with chunkTexts")
    // SPFHP over counts: place each length class (descending) into the
    // open strategy group with the SMALLEST remaining capacity that fits,
    // splitting counted groups. FIFO within a capacity — deterministic.
    import scala.collection.mutable
    final class Strat(val lengths: Vector[Int], val rem: Int, var count: Long)
    val open = mutable.TreeMap.empty[Int, mutable.Queue[Strat]]
    val created = mutable.ArrayBuffer.empty[Strat]
    def enqueue(s: Strat): Unit =
      if (s.rem > 0) open.getOrElseUpdate(s.rem, mutable.Queue.empty) += s
    hist.keys.toSeq.sorted(Ordering[Int].reverse).foreach { l =>
      var c = hist(l)
      while (c > 0) {
        val entry = { val it = open.iteratorFrom(l); if (it.hasNext) Some(it.next()) else None }
        entry match {
          case Some((rem, q)) =>
            val s = q.head
            val k = math.min(c, s.count)
            s.count -= k
            if (s.count == 0) { q.dequeue(); if (q.isEmpty) open.remove(rem) }
            val ns = new Strat(s.lengths :+ l, rem - l, k)
            created += ns
            enqueue(ns)
            c -= k
          case None =>
            val ns = new Strat(Vector(l), budget - l, c)
            created += ns
            enqueue(ns)
            c = 0L
        }
      }
    }
    // Final strategies: groups still holding packs, in creation order
    // (each pack's multiset lives in exactly one group — splits move
    // counts to the child). Slot table: for each (length, strategy), the
    // global rank range of that length's slots and the arithmetic to map
    // a rank to its sequence id.
    val strategies = created.filter(_.count > 0).toVector
    val offsets = strategies.scanLeft(0L)(_ + _.count)
    val cum = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val rows = mutable.ArrayBuffer.empty[(Int, Long, Int, Long, Long, Int)]
    strategies.zipWithIndex.foreach { case (s, i) =>
      val fill = budget - s.rem
      s.lengths.groupBy(identity).toSeq.sortBy(_._1).foreach { case (l, occ) =>
        val m = occ.size
        rows += ((l, cum(l), m, s.count, offsets(i), fill))
        cum(l) += m.toLong * s.count
      }
    }
    val slots = rows.toSeq
      .toDF("l", "cum_start", "m", "strat_count", "seq_offset", "seq_fill")
    val w = Window.partitionBy(col("n_tokens")).orderBy(col("__h"), col("item_id"))
    val assigned = base.withColumn("__r", row_number().over(w).cast("long") - 1)
      .join(broadcast(slots), col("n_tokens") === col("l") &&
        col("__r") >= col("cum_start") &&
        col("__r") < col("cum_start") + col("m") * col("strat_count"))
      .select(col("item_id"), col("n_tokens"),
        expr("seq_offset + (__r - cum_start) div m").as("seq_id"),
        col("seq_fill"))
      .orderBy(col("item_id"))
    (assigned, rows.toSeq)
  }

  /** DuckDB replay of the `sequence_packing_bins` composition: 64-token
    * non-overlapping [[chunkTexts]] expansion (overlap 0 keeps every
    * start ≤ n), item_id = doc_id·100000 + chunk_idx, then the
    * [[packBinsHistogram]] assignment — md5-keyed rank within each
    * length class joined against the PRINTED slot table, seq_id by the
    * same `//` arithmetic (Spark `DIV` ≡ DuckDB `//` on non-negative
    * longs). The slot VALUES are the driver fit's exact output, so the
    * gate checks the distributed rank/join half against an independent
    * engine while pinning the driver half bit-for-bit. */
  def sqlPackBinsChunks(slots: Seq[(Int, Long, Int, Long, Long, Int)],
                        chunkTokens: Int, budget: Int): String = {
    val values = slots.map { case (l, cs, m, sc, so, sf) =>
      s"($l, $cs, $m, $sc, $so, $sf)" }.mkString(",\n    ")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[^ \\t\\n\\x0B\\f\\r]+') AS toks
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    [x FOR x IN range(1, len(toks) + 1, $chunkTokens)] AS starts
       |  FROM t WHERE len(toks) > 0),
       |items AS (
       |  SELECT doc_id * 100000 + w.idx AS item_id,
       |    array_to_string(list_slice(toks, w.st, least(w.st + ${chunkTokens - 1}, n)), ' ') AS chunk_text
       |  FROM (SELECT doc_id, toks, n,
       |          UNNEST(list_transform(range(1, len(starts) + 1),
       |            j -> {'idx': j - 1, 'st': starts[j]})) AS w
       |        FROM s)),
       |it AS (
       |  SELECT item_id,
       |    len(regexp_extract_all(chunk_text, '[^ \\t\\n\\x0B\\f\\r]+')) AS n_tokens,
       |    md5(chunk_text) AS h
       |  FROM items
       |  WHERE len(regexp_extract_all(chunk_text, '[^ \\t\\n\\x0B\\f\\r]+')) > 0),
       |r AS (
       |  SELECT item_id, n_tokens,
       |    row_number() OVER (PARTITION BY n_tokens ORDER BY h, item_id) - 1 AS rk
       |  FROM it),
       |slots(l, cum_start, m, strat_count, seq_offset, seq_fill) AS (VALUES
       |    $values)
       |SELECT r.item_id, CAST(r.n_tokens AS INT) AS n_tokens,
       |  CAST(seq_offset + (rk - cum_start) // m AS BIGINT) AS seq_id,
       |  CAST(seq_fill AS INT) AS seq_fill
       |FROM r JOIN slots ON r.n_tokens = l
       |  AND rk >= cum_start AND rk < cum_start + m * strat_count
       |ORDER BY r.item_id""".stripMargin
  }

  // ---- incremental release manifest (mergeable state) ----

  /** Additive half of the INCREMENTAL manifest state: per-(source, lang)
    * document and token counts for one batch. Merging batches is a
    * groupBy-sum ([[mergeManifestCounts]]) — the state is ≤ |source×lang|
    * rows forever, so a 100 TB corpus's manifest is maintained from
    * per-batch partials without ever re-reading history. Group keys are
    * null-coalesced exactly like [[releaseManifest]]. */
  def manifestCounts(docs: DataFrame, sourceCol: String = "source",
                     langCol: String = "lang", textCol: String = "text"): DataFrame =
    graft.Par.widen(docs).select(
        coalesce(col(sourceCol), lit("Unknown")).as("source"),
        coalesce(col(langCol), lit("und")).as("lang"),
        size(graft.text.TextAnalysis.tokens(lower(col(textCol)))).cast("long").as("n_tok"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))

  /** Sketch half of the incremental manifest state: the per-(source,
    * lang) [[graft.relational.Hll]] sketch of document CONTENTS — the
    * mergeable stand-in for `n_distinct_contents`, which is not additively
    * maintainable (a batch can't know which of its contents history
    * already holds without probing it; the sketch merges by bucket-max
    * and never needs to). ≤ |source×lang|·2^P rows. */
  def manifestSketch(docs: DataFrame, sourceCol: String = "source",
                     langCol: String = "lang", textCol: String = "text"): DataFrame =
    graft.relational.Hll.sketch(
      docs.select(
        coalesce(col(sourceCol), lit("Unknown")).as("source"),
        coalesce(col(langCol), lit("und")).as("lang"),
        col(textCol).as("__content")),
      "__content", "source", "lang")

  /** Merge any number of batch count tables: groupBy-sum. */
  def mergeManifestCounts(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_tokens")).as("sum_tokens"))

  /** Release-time manifest from the merged incremental state
    * (`release_manifest_sketch` query): the [[releaseManifest]] rollup —
    * leaf rows, per-source subtotals, grand total — derived WITHOUT
    * touching the corpus. Counts re-aggregate additively per level; the
    * content sketch rolls up by the same bucket-max that merges batches
    * (an HLL of a union IS the max of the HLLs), so
    * `n_hll_contents` estimates each level's distinct-content count from
    * state alone. All three levels read the ≤ |source×lang|·(2^P+1)-row
    * state — release cost is independent of corpus size. */
  def releaseManifestSketch(counts: DataFrame, sketch: DataFrame): DataFrame = {
    val hll = graft.relational.Hll
    def level(gs: Seq[String]): DataFrame = {
      val c = if (gs.isEmpty)
        counts.agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_tokens")).as("sum_tokens"))
      else
        counts.groupBy(gs.map(col): _*)
          .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_tokens")).as("sum_tokens"))
      val sk = hll.merge(sketch.select((gs ++ Seq("bucket", "mj")).map(col): _*))
      val est = hll.estimate(sk, gs: _*)
      (if (gs.isEmpty) c.crossJoin(est) else c.join(est, gs))
        .withColumnRenamed("n_hll", "n_hll_contents")
    }
    val leaf = level(Seq("source", "lang"))
    val bySource = level(Seq("source")).withColumn("lang", lit("ALL"))
    val total = level(Seq.empty)
      .withColumn("source", lit("TOTAL")).withColumn("lang", lit("ALL"))
    val cols = Seq("source", "lang", "n_docs", "sum_tokens", "n_hll_contents")
    leaf.select(cols.map(col): _*)
      .unionByName(bySource.select(cols.map(col): _*))
      .unionByName(total.select(cols.map(col): _*))
      .orderBy(col("source"), col("lang"))
  }

  /** One-shot composition over a corpus (the registered query): state →
    * release. Incremental callers build the state per batch and merge.
    * The state frames are materialized once (≤ |source×lang|·(2^P+1)
    * rows): the three rollup levels each consume both frames, and
    * without the checkpoint every level would re-scan and re-hash the
    * whole corpus — 6 scans instead of 2. (Incremental callers read
    * state from parquet, which is already materialized.) */
  def releaseManifestSketch(docs: DataFrame): DataFrame =
    releaseManifestSketch(manifestCounts(docs).pinned,
      manifestSketch(docs).pinned)

  /** DuckDB mirror of the one-shot [[releaseManifestSketch]] over a
    * relation exposing (source, lang, text). The oracle replays each
    * rollup level's sketch DIRECTLY over that level's rows (one UNION ALL
    * fans each doc to its three levels, then one generic chain); the
    * engine rolls the per-leaf state up by bucket-max instead — equal
    * because max is associative, which is exactly the mergeability claim
    * the hash-match pins. Hash/rho/estimate arithmetic is
    * [[graft.relational.Hll.sqlDistinctWithExact]]'s, verbatim. */
  def sqlReleaseManifestSketch(from: String = "documents"): String = {
    val hll = graft.relational.Hll
    val M = hll.M
    val restBits = 60 - hll.P
    val rhoMax = restBits + 1
    val rhoChain = (1 to restBits)
      .map(k => s"WHEN rest >= ${1L << (restBits - k)} THEN $k")
      .mkString(" ")
    s"""WITH t AS (
       |  SELECT COALESCE(source, 'Unknown') AS source,
       |    COALESCE(lang, 'und') AS lang,
       |    len(regexp_extract_all(lower(text), '[^ \\t\\n\\x0B\\f\\r]+'))::BIGINT AS n_tok,
       |    ('0x' || substring(md5(CAST(text AS VARCHAR)), 1, 15))::UBIGINT::BIGINT AS hv
       |  FROM $from),
       |br AS (
       |  SELECT source, lang, n_tok, hv >> $restBits AS bucket,
       |    CASE $rhoChain ELSE $rhoMax END AS rho
       |  FROM (SELECT *, hv & ${(1L << restBits) - 1L} AS rest FROM t)),
       |brx AS (
       |  SELECT source, lang, n_tok, bucket, rho FROM br
       |  UNION ALL SELECT source, 'ALL', n_tok, bucket, rho FROM br
       |  UNION ALL SELECT 'TOTAL', 'ALL', n_tok, bucket, rho FROM br),
       |c AS (
       |  SELECT source, lang, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
       |  FROM brx GROUP BY 1, 2),
       |sk AS (SELECT source, lang, bucket, MAX(rho) AS mj
       |  FROM brx GROUP BY 1, 2, 3),
       |g AS (
       |  SELECT source, lang, list(mj ORDER BY bucket) AS arr, COUNT(*) AS n_obs
       |  FROM sk GROUP BY 1, 2),
       |est AS (
       |  SELECT source, lang,
       |    CAST($M - n_obs AS DOUBLE)
       |      + list_reduce(list_prepend(0.0,
       |          list_transform(arr, x -> 1.0 / CAST(1::BIGINT << x AS DOUBLE))),
       |          (a, b) -> a + b) AS s,
       |    $M - n_obs AS zeros
       |  FROM g),
       |fin AS (
       |  SELECT source, lang,
       |    CASE WHEN ${hll.alphaM2} / s <= ${2.5 * M} AND zeros > 0
       |         THEN ${M.toDouble} * ln(${M.toDouble} / CAST(zeros AS DOUBLE))
       |         ELSE ${hll.alphaM2} / s END AS est
       |  FROM est)
       |SELECT c.source, c.lang, c.n_docs, c.sum_tokens,
       |  CAST(FLOOR(fin.est) AS BIGINT) AS n_hll_contents
       |FROM c JOIN fin USING (source, lang)
       |ORDER BY source, lang""".stripMargin
  }

  /** Per-source curation report (`curation_report` query): the audit table
    * a pipeline owner reads before choosing mix rates — document counts,
    * token mass, vocabulary-diversity ratio, and the short-doc fraction,
    * per source. One hash aggregate.
    *
    * Determinism discipline: every aggregated value is an INTEGER sum
    * (token counts, distinct-token counts, flag counts) with a single
    * division at the end — averaging per-row doubles would make the
    * result depend on float summation ORDER, which differs between
    * engines and even between partitionings of the same engine. */
  def report(docs: DataFrame, sourceCol: String = "source",
             textCol: String = "text", shortDocTokens: Int = 20): DataFrame = {
    val toks = graft.text.TextAnalysis.tokens(lower(col(textCol)))
    graft.Par.widen(docs)
      .select(col(sourceCol),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_dis"))
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        round(sum(col("n_tok")).cast("double") / count(lit(1)), 4).as("mean_tokens"),
        round(sum(col("n_dis")).cast("double") /
          nullif(sum(col("n_tok")).cast("double"), lit(0.0)), 4)
          .as("distinct_token_ratio"),
        round(sum(when(col("n_tok") < shortDocTokens, 1L).otherwise(0L))
          .cast("double") * 100.0 / count(lit(1)), 1).as("pct_short"))
      .orderBy(col(sourceCol))
  }

  /** Benchmark decontamination (`decontaminate` query): flag documents
    * whose n-gram overlap with an evaluation/benchmark corpus reaches a
    * threshold — the standard guard against test-set leakage into
    * training data. Benchmark suites are small by contract, so their
    * shingle list BROADCASTS into an `IN (list)` test that plans as an
    * existence join (one boolean per doc shingle, so duplicate list
    * entries need no dedup exchange); per doc, the overlap count is one
    * groupBy on doc id (one shuffle keyed by the id, not by the shingle —
    * the corpus-wide shingle stream never re-keys). `explode_outer`
    * keeps one null-shingle row for a null or empty text, so every doc
    * reaches the groupBy and `docs` is read once; a doc with no shared
    * shingle counts 0 marks. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    n: Int, overlapThreshold: Long): DataFrame = {
    import graft.text.TextAnalysis.shingles
    val benchSh = benchmark
      .select(explode(array_distinct(shingles(col(benchTextCol), n))).as("sh"))
    graft.Par.widen(docs)
      .select(col(idCol),
        explode_outer(array_distinct(shingles(col(textCol), n))).as("sh"))
      .select(col(idCol),
        coalesce(col("sh").isin(broadcast(benchSh)), lit(false)).as("__m"))
      .groupBy(col(idCol)).agg(count_if(col("__m")).as("n_overlap"))
      .select(col(idCol), col("n_overlap"),
        (col("n_overlap") >= overlapThreshold).cast("int").as("contaminated"))
      .orderBy(col(idCol))
  }

  /** [EXT] FUZZY decontamination (`decontaminate_fuzzy` query) — the
    * near-duplicate form of [[decontaminate]]: exact/Bloom n-gram overlap
    * misses benchmark text that was lightly paraphrased, re-wrapped, or
    * truncated before it leaked into the corpus, so release pipelines
    * also drop training docs whose token-set Jaccard with ANY benchmark
    * doc clears a threshold (the MinHash-LSH discipline of
    * [[graft.dedup.Dedup.nearDupMinHash]] pointed across tables instead
    * of at itself).
    *
    * Composition: [[graft.dedup.Dedup.signatureTable]] on both sides →
    * band-bucket equi-join (corpus × benchmark candidates share ≥ 1 of
    * 16 bands; ids only through the exchange) → exact sorted-merge
    * Jaccard verify ≥ threshold → per-doc flag. At threshold 0.8 a
    * qualifying pair is missed with probability (1 − 0.8⁴)¹⁶ ≈ 2·10⁻⁴;
    * the md5-prefix hash family is engine-reproducible, so the DuckDB
    * oracle replays signatures, banding, candidates AND the verify —
    * the output hash-matches by construction, not by recall luck.
    *
    * Output: (doc_id, n_bench_matches, j_max) for every FLAGGED corpus
    * doc (j_max = its highest verified benchmark Jaccard, rounded to 4;
    * a benchmark doc present verbatim in the corpus flags itself at
    * 1.0), ordered by doc id — the takedown list a release publishes.
    *
    * Scale shape: the benchmark side is small by nature (eval suites,
    * not corpora) — its banded rows and token sets broadcast; the corpus
    * side streams through one signature pass. Nothing quadratic in the
    * corpus, no corpus-keyed shuffle at all. */
  def decontaminateFuzzy(docs: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchIdCol: String,
                         benchTextCol: String, threshold: Double,
                         numHashes: Int = 64, bands: Int = 16): DataFrame = {
    import graft.dedup.Dedup
    val d = Dedup.signatureTable(docs, idCol, textCol, numHashes, bands)
      .pinned // feeds the bucket join AND the verify re-fetch
    val b = Dedup.signatureTable(
        benchmark.select(col(benchIdCol).as("__bid"), col(benchTextCol).as("__btxt")),
        "__bid", "__btxt", numHashes, bands)
      .select(col("doc_id").as("bench_id"), col("toks").as("btoks"),
        col("n").as("bn"), col("buckets").as("bbuckets"))
      .pinned
    val db = d.select(col("doc_id"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val bb = b.select(col("bench_id"),
      posexplode(col("bbuckets")).as(Seq("band", "bucket")))
    val cand = db.join(broadcast(bb), Seq("band", "bucket"))
      .select(col("doc_id"), col("bench_id")).dropDuplicates("doc_id", "bench_id")
    cand
      .join(d.select(col("doc_id"), col("toks"), col("n")), Seq("doc_id"))
      .join(broadcast(b.select(col("bench_id"), col("btoks"), col("bn"))),
        Seq("bench_id"))
      .select(col("doc_id"),
        round(Dedup.jaccardSortedBounded(col("toks"), col("btoks"),
          col("n"), col("bn"), threshold), 4).as("j"))
      .filter(col("j") >= threshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_matches"), max(col("j")).as("j_max"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of [[decontaminateFuzzy]] for the fixture convention
    * (benchmark = `doc_id % 97 == 0`): full band-bucket replay — the
    * `dedup_near_minhash` oracle CTEs computed over corpus and benchmark
    * sides, joined across tables. Band equality uses the component CSV
    * (bucket hashing is equality-preserving, so tuple equality here is
    * the engine's bucket equality). */
  def sqlDecontaminateFuzzy(from: String, threshold: Double): String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(regexp_extract_all(lower(text), '[^ \\t\\n\\x0B\\f\\r]+'))) AS toks
       |  FROM $from),
       |t AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
       |comp AS (
       |  SELECT tt.doc_id, kk.k AS k,
       |    MIN(CAST(('0x' || substring(md5(tt.tok || ':' || CAST(kk.k // 4 AS VARCHAR)),
       |                        CAST(1 + 8 * (kk.k % 4) AS INTEGER), 8))::UBIGINT AS BIGINT)) AS s
       |  FROM (SELECT doc_id, UNNEST(toks) AS tok FROM t) tt
       |  CROSS JOIN (SELECT UNNEST(range(0, 64)) AS k) kk
       |  GROUP BY 1, 2),
       |sig AS (SELECT doc_id, list(s ORDER BY k) AS sg FROM comp GROUP BY 1),
       |band AS (
       |  SELECT doc_id, bb.b AS band,
       |    CAST(sg[bb.b*4+1] AS VARCHAR) || ',' || CAST(sg[bb.b*4+2] AS VARCHAR) || ',' ||
       |    CAST(sg[bb.b*4+3] AS VARCHAR) || ',' || CAST(sg[bb.b*4+4] AS VARCHAR) AS bkey
       |  FROM sig CROSS JOIN (SELECT UNNEST(range(0, 16)) AS b) bb),
       |cand AS (
       |  SELECT DISTINCT d.doc_id, c.doc_id AS bench_id
       |  FROM band d JOIN band c ON d.band = c.band AND d.bkey = c.bkey
       |  WHERE c.doc_id % 97 = 0),
       |jp AS (
       |  SELECT cand.doc_id, cand.bench_id,
       |    round(len(list_filter(x.toks, e -> list_contains(y.toks, e)))::DOUBLE /
       |          nullif(len(list_distinct(x.toks || y.toks)), 0)::DOUBLE, 4) AS j
       |  FROM cand JOIN t x ON cand.doc_id = x.doc_id JOIN t y ON cand.bench_id = y.doc_id)
       |SELECT doc_id, COUNT(*) AS n_bench_matches, MAX(j) AS j_max
       |FROM jp WHERE j >= $threshold
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Graded contamination scores (`contamination_scores` query) — the
    * fraction form of [[decontaminate]]: a fixed absolute threshold
    * over-flags long documents (more shingles, more chance overlap) and
    * under-flags short ones, so eval-overlap policies are usually stated
    * as "drop when ≥ X% of the document's n-grams appear in the
    * benchmark". Per doc: its distinct-shingle count, the overlap count,
    * and overlap_frac = round(n_overlap / n_shingles, 4) (NULL when the
    * document has no n-grams — 0/0 is not a measurement).
    *
    * Same scale shape as [[decontaminate]]: the benchmark's distinct
    * shingles broadcast; the corpus shingle stream is filtered at the
    * scan and only (id, counts) re-key — one shuffle keyed by doc id.
    * The denominator rides the same per-row projection (a
    * `size(array_distinct(...))` expression), costing no extra pass. */
  def contaminationScores(docs: DataFrame, idCol: String, textCol: String,
                          benchmark: DataFrame, benchTextCol: String,
                          n: Int): DataFrame = {
    import graft.text.TextAnalysis.shingles
    val benchSh = benchmark
      .select(explode(array_distinct(shingles(col(benchTextCol), n))).as("sh"))
      .distinct()
    val docSh = graft.Par.widen(docs)
      .select(col(idCol), explode(array_distinct(shingles(col(textCol), n))).as("sh"))
    val overlap = docSh.join(broadcast(benchSh), Seq("sh"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    docs.select(col(idCol),
        size(array_distinct(shingles(col(textCol), n))).cast("long").as("n_shingles"))
      .join(overlap, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") /
          nullif(col("n_shingles").cast("double"), lit(0.0)), 4).as("overlap_frac"))
      .orderBy(col(idCol))
  }

  /** Bloom-prefiltered decontamination (`decontaminate_bloom` query) — the
    * 100 TB shape of [[decontaminate]], same exact OUTPUT:
    *
    *  1. build a Bloom filter over the benchmark's distinct shingle hashes
    *     (one small aggregation; the filter is `numBits/8` bytes regardless
    *     of corpus size and ships to executors as a task-binary literal);
    *  2. probe every corpus shingle with Spark's codegen'd
    *     `BloomFilterMightContain` — a bit-test per shingle, inside
    *     whole-stage codegen, NO join — which discards the overwhelming
    *     majority of the corpus shingle stream at the scan;
    *  3. exact-verify only the survivors against the real shingle set
    *     (the broadcast semi-join of [[decontaminate]]); Bloom false
    *     positives die here, and Bloom filters have no false negatives, so
    *     the result is row-identical to the exact operator — this query is
    *     HASH-CHECKED against the same oracle.
    *
    * Why it matters at scale: [[decontaminate]]'s broadcast join already
    * avoids a shuffle, but it still drives every corpus shingle through a
    * hash-relation probe and keeps the full benchmark set on every
    * executor. The Bloom pass reduces the exact join's input from
    * |corpus shingles| to |true overlaps| + fpp·|corpus shingles|, and is
    * the piece that survives when the "small" side outgrows a broadcast
    * hash relation (a 100M-shingle benchmark suite is a ~250 MB Bloom at
    * 20 bits/item vs multiple GB as a hash relation). */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         n: Int, overlapThreshold: Long,
                         bitsPerItem: Int = 20,
                         expectedItems: Long = -1L): DataFrame = {
    import graft.text.TextAnalysis.shingles
    import org.apache.spark.sql.graft.BloomFunctions
    val benchSh = benchmark
      .select(explode(array_distinct(shingles(col(benchTextCol), n))).as("sh"))
      .distinct()
      .pinned // one pass feeds both the Bloom build and the verify join
    // Size from `expectedItems` when the caller knows (or bounds) the
    // benchmark's distinct-shingle count — one Spark job fewer (round-4
    // advice). Oversizing only wastes filter bits, undersizing only raises
    // fpp: the exact verify join keeps the OUTPUT identical either way, so
    // a rough upper bound is a fine input. Fallback: count off the
    // checkpoint (cheap — benchmarks are small by contract).
    val items = if (expectedItems > 0) expectedItems else math.max(benchSh.count(), 1L)
    val bloom = benchSh
      .agg(BloomFunctions.bloomFilterAgg(xxhash64(col("sh")), items,
        math.min(items * bitsPerItem, 1L << 27)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val docSh = graft.Par.widen(docs)
      .select(col(idCol), explode(array_distinct(shingles(col(textCol), n))).as("sh"))
      .filter(BloomFunctions.mightContain(bloom, xxhash64(col("sh"))))
    val overlap = docSh.join(broadcast(benchSh), Seq("sh"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    docs.select(col(idCol))
      .join(overlap, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= overlapThreshold)
          .cast("int").as("contaminated"))
      .orderBy(col(idCol))
  }

  /** Per-document repetition signals (`repetition_stats` query):
    *
    *  - `dup_token_frac` = 1 − |distinct tokens| / |tokens| — high for
    *    docs that repeat a small vocabulary;
    *  - `top_bigram_frac` = occurrences of the most frequent word bigram /
    *    total bigrams — high for boilerplate/spam with a repeated phrase.
    *
    * Both are PER-ROW expressions — no explode, no shuffle: the bigram
    * mode is a longest-equal-run fold over the sorted bigram array
    * (sorting groups equal bigrams, so the longest run IS the max count).
    * The relational formulation (explode → groupBy(doc, bigram) → max)
    * shuffles the entire bigram stream — at 100 TB that is the corpus
    * re-keyed per bigram; the fold keeps the work where the row lives.
    * The DuckDB oracle uses the relational form, pinning both
    * formulations equal.
    *
    * Documents with no tokens (or no bigrams) yield NULL for the affected
    * fraction — 0/0 is not a measurement. */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val toks = graft.text.TextAnalysis.tokens(lower(col(textCol)))
    val bg = sort_array(graft.text.TextAnalysis.shingles(col(textCol), 2))
    val maxRun = aggregate(
      bg,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    graft.Par.widen(docs).select(
      col(idCol),
      size(toks).cast("long").as("n_tokens"),
      round(lit(1.0) - size(array_distinct(toks)).cast("double") /
        nullif(size(toks).cast("double"), lit(0.0)), 4).as("dup_token_frac"),
      round(maxRun.cast("double") /
        nullif(size(bg).cast("double"), lit(0.0)), 4).as("top_bigram_frac"))
      .orderBy(col(idCol))
  }
}
