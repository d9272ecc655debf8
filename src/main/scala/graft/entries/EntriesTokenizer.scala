package graft

import graft.Mat.Pinnable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{RecentArticles, SourceDistribution, Timeline, Totals}
import graft.dedup.Dedup
import graft.ingest.{Dates, Ingest}
import graft.multimodal.Multimodal
import graft.relational.Relational
import graft.similarity.{FittedOracle, Ivf, Pq, Similarity}
import graft.streaming.EventWindows
import graft.text.{Stopwords, TextAnalysis, WordFrequencies}

import graft.EntryFixtures._

/** tokenizers (BPE/unigram/MaxMatch), LM scoring, quality gates, splits and decontamination — one slice of the [[SparkEntry]] registry (r14
  * split: the registry lived as one 5,100-line file; each slice now
  * carries its domain's `queries` lambdas and their DuckDB `oracleSql`
  * side by side, and SparkEntry concatenates the slices). Entry-level
  * comments and oracle SQL are unchanged — this is a pure move. */
private[graft] object EntriesTokenizer {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BPE tokenizer training: exact word dict (one agg, bounded
    // TakeOrdered) -> driver merge loop -> merge table. Engine-internal
    // loop -> rows-only; hand-computed merges + round-trip pinned in
    // BpeSpec.
    "bpe_merges" -> ((s, dir) =>
      graft.text.Bpe.mergesTable(s,
        graft.text.Bpe.fitMerges(Tables.documents(s, dir), "text", 200))),
    // Applying the trained merges: per-doc piece counts + compression
    // ratio. Broadcast rank table, per-partition map, no shuffle. FULL
    // oracle since r9: the fitted merges print into a recursive-CTE
    // greedy-encode replay (FittedOracle).
    "bpe_encode_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.text.Bpe.fitMerges(docs, "text", 200)
      FittedOracle.bpeStatsMerges = Some(merges)
      graft.text.Bpe.encodeStats(docs, "doc_id", "text", merges)
    }),
    // Tokenizer fertility by language (r10): pieces per word + bytes per
    // piece under the corpus-fitted merges — the per-language audit
    // behind every token-denominated budget. Integer sums end-to-end;
    // full oracle via the printed-merges recursive-CTE replay.
    "bpe_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.text.Bpe.fitMerges(docs, "text", 200)
      FittedOracle.bpeFertilityMerges = Some(merges)
      graft.text.Bpe.fertilityByLang(docs, "doc_id", "text", "lang", merges)
    }),
    // Unigram-LM (SentencePiece-class) tokenizer (r11): Viterbi-EM fit
    // on the bounded word dictionary, maximum-likelihood Viterbi encode
    // under integer micro-nat piece log-probs. Full oracle via the
    // printed piece table + a list_reduce Viterbi DP replay in DuckDB
    // (FittedOracle channel — same discipline as the BPE pair).
    "unigram_encode_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pieces = graft.text.Unigram.fitPieces(docs, "text", 400)
      FittedOracle.unigramStatsPieces = Some(pieces)
      graft.text.Unigram.encodeStats(docs, "doc_id", "text", pieces)
    }),
    // F138 (r13, the verdict's #2): the PROMOTED soft fit — Kudo 2018's
    // forward-backward E-step WITH §3.2 loss-ranked iterative pruning —
    // as a production fit mode. Same encode, same printed-constants
    // oracle replay; only the fitted table differs, which is the point:
    // every downstream consumer is fit-mode-agnostic.
    "unigram_encode_stats_soft" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pieces = graft.text.Unigram.fit(docs, "text", 400,
        mode = graft.text.Unigram.SoftEm)
      FittedOracle.unigramStatsSoftPieces = Some(pieces)
      graft.text.Unigram.encodeStats(docs, "doc_id", "text", pieces)
    }),
    // Greedy longest-match (WordPiece/MaxMatch encode family) over the
    // SAME fitted vocab (r11): its compression column against
    // unigram_encode_stats' measures what Viterbi buys.
    "maxmatch_encode_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pieces = graft.text.Unigram.fitPieces(docs, "text", 400)
      FittedOracle.maxmatchPieces = Some(pieces)
      graft.text.Unigram.maxMatchStats(docs, "doc_id", "text", pieces)
    }),
    // F129: decode round-trip — detokenized bytes must equal the
    // canonical text under BOTH coders; the oracle derives the
    // canonical form independently from raw text, so the hash gate
    // checks Spark's reassembled BYTES, not just piece counts.
    "tokenizer_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pieces = graft.text.Unigram.fitPieces(docs, "text", 400)
      graft.text.Unigram.roundTrip(docs, "doc_id", "text", pieces)
    }),
    // The losslessness contract under the PRODUCTION-DEFAULT soft-EM fit
    // (r15, the r14 verdict's #3): soft-EM is what `Unigram.fit` now
    // means, so detokenize∘encode = id must hold for ITS vocab too —
    // same fit-free oracle (canonical form derived from raw text), only
    // the Spark-side piece table differs. A soft table with gapped
    // coverage would surface here as a hash mismatch, exactly like the
    // hard twin.
    "tokenizer_roundtrip_soft" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pieces = graft.text.Unigram.fit(docs, "text", 400,
        mode = graft.text.Unigram.SoftEm)
      graft.text.Unigram.roundTrip(docs, "doc_id", "text", pieces)
    }),
    // The fertility audit under the unigram model — multilingual
    // budgets skew differently than under BPE (the point of having
    // both tokenizers in the family).
    "unigram_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pieces = graft.text.Unigram.fitPieces(docs, "text", 400)
      FittedOracle.unigramFertilityPieces = Some(pieces)
      graft.text.Unigram.fertilityByLang(docs, "doc_id", "text", "lang", pieces)
    }),
    // The fertility audit under the PRODUCTION-DEFAULT soft fit (r14):
    // the multilingual budget skew under the table a Kudo-faithful
    // deployment would actually train — paired with `unigram_fertility`
    // the two queries make the measured fit-mode gap a per-language
    // hash-checked number on the CONSUMER, not just on the encode.
    "unigram_fertility_soft" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pieces = graft.text.Unigram.fit(docs, "text", 400,
        mode = graft.text.Unigram.SoftEm)
      FittedOracle.unigramFertilitySoftPieces = Some(pieces)
      graft.text.Unigram.fertilityByLang(docs, "doc_id", "text", "lang", pieces)
    }),
    // Hard-vs-soft-EM fit fidelity audit (r12, the verdict's #2): the
    // production hard-EM fit against a Kudo-2018 soft-EM (forward-
    // backward expected-count) reference fit of the SAME dictionary,
    // same seed/prune — fertility_delta per language is exactly what
    // the hard E-step simplification costs. Vocab overlap between the
    // two fits is pinned in UnigramSoftSpec; both fits print into one
    // DuckDB oracle (two Viterbi folds).
    "unigram_fit_divergence" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val hard = graft.text.Unigram.fitPieces(docs, "text", 400)
      val soft = graft.text.Unigram.fitPiecesSoft(docs, "text", 400)
      FittedOracle.unigramDivHard = Some(hard)
      FittedOracle.unigramDivSoft = Some(soft)
      graft.text.Unigram.fertilityCompare(docs, "doc_id", "text", "lang",
        hard, soft)
    }),
    // Bigram LM scoring (CCNet-style quality signal): per-doc
    // predictability cost under the corpus's own bigram model, in
    // integer micro-nats so the iterative-free float pipeline still
    // hash-matches DuckDB.
    // Cross-fit LM (CCNet's real shape): model fit on the target-
    // language slice, every doc priced under it — OOV bigrams back off
    // to the first token's unigram mass instead of dropping.
    "lm_scores_crossfit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.text.LmScore.scoresCrossFit(docs, "doc_id", "text",
        docs.filter(col("lang") === "en"), "text")
    }),
    "lm_scores" -> ((s, dir) =>
      graft.text.LmScore.scores(Tables.documents(s, dir), "doc_id", "text")),
    // The curation loop closed: LM cost -> exact-percentile corpus cut
    // (data-derived, not a magic constant) -> filter. CCNet's
    // perplexity-head policy.
    "lm_quality_floor" -> ((s, dir) =>
      graft.text.LmScore.qualityFloor(Tables.documents(s, dir), "doc_id", "text")),
    // Trigram LM with stupid backoff (rational alpha = 4/10 folded into
    // the integer log argument): repeated trigrams score by MLE,
    // singletons back off to the Laplace bigram conditional. More
    // context per prediction than lm_scores; same micro-nat discipline,
    // full oracle.
    "lm_scores_trigram" -> ((s, dir) =>
      graft.text.LmScore.scoresTrigram(Tables.documents(s, dir), "doc_id", "text")),
    // The documented 100 TB swap as a real operator: df>=3 head costs
    // broadcast, tail occurrences charged the constant singleton cost —
    // the scoring join is map-side, the token stream never shuffles.
    "lm_scores_pruned" -> ((s, dir) =>
      graft.text.LmScore.prunedScores(Tables.documents(s, dir), "doc_id", "text")),
    // CCNet head/middle/tail perplexity terciles: integer rank
    // arithmetic, no float quantile boundary — full oracle. Bound to the
    // prefix-sum form: Par.prefixSum rank + closed-form tercile, no
    // single-partition window; pinned output-identical to the
    // global-ntile reference in LmScoreSpec.
    "lm_perplexity_buckets" -> ((s, dir) =>
      graft.text.LmScore.perplexityBucketsScalable(Tables.documents(s, dir))),
    // Per-source TOKEN budget (mixture design is stated in tokens, not
    // docs): take docs in content-keyed order until the inclusive
    // running token sum would cross 400 per source.
    "token_quota" -> ((s, dir) =>
      graft.pipeline.Curation.quotaTokensPerSource(
        Tables.documents(s, dir), "doc_id", "source", "text", 400L)),
    // Trained quality classifier: hashed-feature linear model, weak
    // labels from the LM-cost median split, 10 rounds of integer
    // fixed-point GD with a hard sigmoid (no libm in the loop) — the
    // whole TRAINING RUN replays as an unrolled DuckDB WITH-chain, so
    // even the learned weights are hash-checked. (Measured: cutting the
    // query to 5 rounds saved ~2 s but left the gate barely
    // discriminating — keep=1 for 30% of the corpus instead of 2% —
    // which also inflates the downstream dedup in
    // corpus_clean_classified; the trained-10-round form stays.)
    // Calibration / reliability table for the trained gate (r11):
    // decile score bins, observed positive rate vs mean predicted
    // score on the labeled subset, integer per-mille — the audit that
    // says whether the score can be read as a probability.
    "classifier_calibration" -> ((s, dir) =>
      graft.pipeline.QualityClassifier.calibration(
        Tables.documents(s, dir), "doc_id", "text")),
    "quality_classifier" -> ((s, dir) =>
      graft.pipeline.QualityClassifier.classify(
        Tables.documents(s, dir), "doc_id", "text")),
    // Gopher rule gate: the Rae-et-al. heuristic signals, pure per-row
    // codegen expressions (zero joins/shuffles before the output sort).
    "gopher_rules" -> ((s, dir) =>
      graft.text.GopherRules.signals(Tables.documents(s, dir))),
    // Same signals over a planted fixture exercising every rule branch
    // (bullets, ellipses, symbols, short docs, prose that PASSES).
    "gopher_rules_edge" -> ((s, _) => {
      import s.implicits._
      graft.text.GopherRules.signals(
        GopherFixture.docs.toDF("doc_id", "text"))
    }),
    // Gopher repetition gate (A1.2, the A1.1 companion): dup line/para
    // fractions + top/dup n-gram char fractions, all per-row sort+fold
    // expressions; the oracle replays them relationally.
    "gopher_repetition" -> ((s, dir) =>
      graft.text.GopherRepetition.signals(Tables.documents(s, dir))),
    // Same signals over planted multi-line repeats (documents are
    // single-line): dup lines, dup paragraphs, a stuffed bigram, an
    // overlapping 5-gram run, a repeated 10-gram sentence.
    "gopher_repetition_edge" -> ((s, _) => {
      import s.implicits._
      graft.text.GopherRepetition.signals(
        RepetitionFixture.docs.toDF("doc_id", "text"))
    }),
    // C4 line/page cleaning over multi-line planted pages (documents
    // are single-line by construction): terminal-punct + min-words +
    // no-javascript line rule, lorem-ipsum/brace/min-lines page rule.
    "c4_filters" -> ((s, _) => {
      import s.implicits._
      graft.pipeline.C4Filters.clean(
        C4Fixture.docs.toDF("doc_id", "text"))
    }),
    // C4's OTHER page gate (r10): the bad-words blocklist. Token-set
    // membership over [a-z0-9] runs = word-boundary semantics; planted
    // suffixes exercise one hit, substring traps (sextonbury/xxxl must
    // NOT match), a two-hit page, and clean tails.
    "c4_badwords" -> ((s, dir) =>
      graft.pipeline.C4Filters.badWords(
        withBadWordTexts(Tables.documents(s, dir)), "doc_id", "text")),
    // Dolma-style one-pass attribute sidecar (r10): every per-doc tagger
    // signal in a SINGLE scan (no join between taggers, shuffle-free
    // before the output sort) — release policies then filter the sidecar
    // without re-reading text. Bad-word suffixes planted so bad_hits
    // discriminates alongside the natural signals.
    "attribute_sidecar" -> ((s, dir) =>
      graft.pipeline.Attributes.sidecar(
        withBadWordTexts(Tables.documents(s, dir)), "doc_id", "text",
        FunnelThresholds)),
    // The sidecar composition closed: a release policy (quality floor,
    // Gopher pass, clean of bad words, English) applied as ONE semi join
    // on ids — the policy-iteration path that never re-reads text.
    "sidecar_policy" -> ((s, dir) => {
      val docs = withBadWordTexts(Tables.documents(s, dir))
      val sc = graft.pipeline.Attributes.sidecar(docs, "doc_id", "text",
        FunnelThresholds)
      graft.pipeline.Attributes.applyPolicy(docs, sc,
          col("quality") >= 0.65 && col("gopher_pass") &&
            col("bad_hits") === 0 && col("lang_pred") === "en")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),
    // DSIR hashed-n-gram importance weights toward the src0 slice as
    // the in-domain target; integer micro-nat log-ratio sums.
    "dsir_weights" -> ((s, dir) =>
      graft.pipeline.Dsir.weights(
        Tables.documents(s, dir), col("source") === "src0")),
    // Per-source unigram KL vs the corpus: the drift analytics behind
    // mixture design. Integer micro-nat numerators -> full oracle.
    "source_kl" -> ((s, dir) =>
      graft.text.SourceDivergence.sourceKl(Tables.documents(s, dir))),
    // Sentence-aware chunking over the multi-line fixture pages (the
    // synthetic documents carry no punctuation): a sentence straddling
    // the budget goes WHOLE to its first token's chunk.
    "sentence_chunks" -> ((s, _) => {
      import s.implicits._
      graft.text.Sentences.sentenceChunks(
        C4Fixture.docs.toDF("doc_id", "text"), budgetTokens = 20)
    }),
    // Gate-attrition funnel: raw -> gopher -> quality floor -> exact
    // dedup survivor counts, one scan + one agg. Thresholds tuned for
    // the synthetic word-soup corpus (stop_hits is 1 there by
    // construction; the word-count cut is the discriminating rule).
    // (quality floor 0.65: the synthetic corpus's quality scores span
    // 0.46-0.75, so the default 0.5 would pass every gopher survivor.)
    "curation_funnel" -> ((s, dir) =>
      graft.pipeline.Curation.curationFunnel(
        Tables.documents(s, dir), th = FunnelThresholds,
        minQuality = 0.65)),
    // Heavy-hitter tokens: distributed Misra-Gries sketch (bounded
    // memory, no token-stream shuffle) + exact recount of the <= 2000
    // candidates. Output provably equals the naive global top list above
    // the N/(capacity+1) threshold -> full oracle despite the sketch.
    "heavy_hitters" -> ((s, dir) =>
      graft.text.HeavyHitters.topTokens(Tables.documents(s, dir), "text",
        capacity = 2000, topK = 50)),
    // Graded contamination: per-doc overlap FRACTION against the
    // benchmark slice — the length-normalized policy form (drop when
    // >= X% of a doc's 3-grams appear in the eval suite).
    "contamination_scores" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.Curation.contaminationScores(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text", 3)
    }),
    // Bloom-prefiltered decontamination: bit-probe drops non-overlapping
    // shingles before the exact verify join. No false negatives + exact
    // verify => row-identical to `decontaminate`; same oracle hash-checks it.
    // expectedItems: caller-supplied upper bound on the benchmark's
    // distinct shingles — skips the sizing count() job (the filter only
    // gets some spare bits; output unchanged).
    "decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.Curation.decontaminateBloom(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text", 3, 5L,
        expectedItems = 1000000L)
    }),
    // Deterministic content-keyed train/val/test split (90/5/5).
    "corpus_split" -> ((s, dir) =>
      graft.pipeline.Curation.splitCorpus(Tables.documents(s, dir), "text", 500, 500)
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id"))),
    // Split-leakage audit (r10): near-dup pairs whose members land in
    // DIFFERENT splits — the content keying pins exact copies together,
    // so every reported pair is a distinct-bytes near-dup crossing the
    // train/test boundary (1,616 of 9,020 near-dup pairs at sf0.01).
    "split_leakage" -> ((s, dir) =>
      graft.pipeline.Curation.splitLeakage(Tables.documents(s, dir),
        "doc_id", "text", 500, 500, 0.9)),
    // Snapshot diff between two deterministic fixture "versions": old =
    // ids % 7 != 0; new = ids % 5 != 0 with a " v2" suffix on ids % 11
    // == 0 — added/removed/changed via (id, md5) full-outer join.
    "corpus_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val oldV = docs.filter(col("doc_id") % 7 =!= 0)
      val newV = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.pipeline.SnapshotDiff.snapshotDiff(oldV, newV, "doc_id", "text")
    }),
    // PII scrub on an inline fixture with known PII (VALUES oracle runs
    // the same RE2-safe regex literals).
    "pii_redact" -> ((s, _) => {
      import s.implicits._
      graft.pipeline.Pii.scrub(
        PiiFixture.docs.toDF("doc_id", "text"), "doc_id", "text")
    }),
  )

  /** Fit-free round-trip oracle shared by the hard and soft twins: the
    * canonical form derives from RAW text (lowercase + ASCII-ws
    * collapse — SplitWhitespace's byte set), so equality proves the
    * Spark-side decode reassembly under WHICHEVER vocab ran. */
  private val sqlRoundtripOracle: String =
    """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  md5(array_to_string(toks, ' ')) AS viterbi_md5,
      |  md5(array_to_string(toks, ' ')) AS maxmatch_md5,
      |  1 AS viterbi_ok, 1 AS maxmatch_ok
      |FROM (SELECT doc_id,
      |        regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks
      |      FROM documents)
      |WHERE len(toks) > 0
      |ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "decontaminate_bloom" -> DecontaminateSql,
    "lm_scores" -> graft.text.LmScore.sqlScores,
    "lm_scores_crossfit" -> graft.text.LmScore.sqlScoresCrossFit,
    "lm_quality_floor" -> graft.text.LmScore.sqlQualityFloor(),
    "lm_scores_trigram" -> graft.text.LmScore.sqlScoresTrigram(),
    "lm_scores_pruned" -> graft.text.LmScore.sqlScoresPruned(),
    "lm_perplexity_buckets" -> graft.text.LmScore.sqlPerplexityBuckets,
    "token_quota" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
        |    ('0x' || substring(md5(text), 1, 8))::UBIGINT % 10000 AS b,
        |    md5(text) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY b, h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens <= 400 ORDER BY doc_id""".stripMargin,
    "quality_classifier" -> graft.pipeline.QualityClassifier.sqlClassifier(),
    "classifier_calibration" ->
      graft.pipeline.QualityClassifier.sqlCalibration(),
    "gopher_rules" -> graft.text.GopherRules.sqlSignals("documents"),
    "gopher_rules_edge" ->
      graft.text.GopherRules.sqlSignals(valuesRel(GopherFixture.docs)),
    "gopher_repetition" ->
      graft.text.GopherRepetition.sqlSignals("documents"),
    "gopher_repetition_edge" ->
      graft.text.GopherRepetition.sqlSignals(valuesRel(RepetitionFixture.docs)),
    "c4_filters" ->
      graft.pipeline.C4Filters.sqlClean(valuesRel(C4Fixture.docs)),
    "c4_badwords" ->
      graft.pipeline.C4Filters.sqlBadWords(
        s"(SELECT doc_id, $sqlBadWordText AS text FROM documents)"),
    "attribute_sidecar" ->
      graft.pipeline.Attributes.sqlSidecar(
        s"(SELECT doc_id, $sqlBadWordText AS text FROM documents)",
        FunnelThresholds),
    "sidecar_policy" ->
      graft.pipeline.Attributes.sqlApplyPolicy(
        s"(SELECT doc_id, source, $sqlBadWordText AS text FROM documents)",
        "quality >= 0.65 AND gopher_pass AND bad_hits = 0 AND lang_pred = 'en'",
        FunnelThresholds),
    "dsir_weights" ->
      graft.pipeline.Dsir.sqlWeights("documents", "source = 'src0'"),
    "curation_funnel" ->
      graft.pipeline.Curation.sqlFunnel("documents", FunnelThresholds,
        minQuality = 0.65),
    "source_kl" ->
      graft.text.SourceDivergence.sqlSourceKl("documents"),
    "sentence_chunks" ->
      graft.text.Sentences.sqlSentenceChunks(
        valuesRel(C4Fixture.docs), budgetTokens = 20),
    "heavy_hitters" ->
      """WITH tok AS (
        |  SELECT UNNEST(regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+')) AS token FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM tok),
        |c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY 1)
        |SELECT c.token AS token, c.n AS n
        |FROM c, tot WHERE c.n * 2001 > tot.n
        |ORDER BY c.n DESC, c.token ASC LIMIT 50""".stripMargin,
    "contamination_scores" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks FROM documents),
        |shl AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
        |  FROM tok),
        |sh AS (SELECT doc_id, UNNEST(shs) AS sh FROM shl),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        |o AS (
        |  SELECT d.doc_id, COUNT(*) AS n_overlap
        |  FROM sh d JOIN bench USING (sh) GROUP BY 1)
        |SELECT s.doc_id AS doc_id, len(s.shs)::BIGINT AS n_shingles,
        |  COALESCE(o.n_overlap, 0) AS n_overlap,
        |  round(COALESCE(o.n_overlap, 0) / nullif(len(s.shs), 0)::DOUBLE, 4) AS overlap_frac
        |FROM shl s LEFT JOIN o ON s.doc_id = o.doc_id
        |ORDER BY doc_id""".stripMargin,
    "corpus_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN ('0x' || substring(md5(text), 1, 8))::UBIGINT % 10000 < 9000 THEN 'train'
        |       WHEN ('0x' || substring(md5(text), 1, 8))::UBIGINT % 10000 < 9500 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "corpus_diff" -> graft.pipeline.SnapshotDiff.sqlDiff("documents"),
    // Near-dup pairs whose members cross the content-keyed split
    // boundary: the same jp chain, annotated with each side's split
    // (identical texts share a split, so only distinct-bytes near-dups
    // can surface).
    "split_leakage" ->
      s"""WITH $sqlNearDupPairCtes,
        |sp AS (SELECT doc_id,
        |  CASE WHEN ('0x' || substring(md5(text), 1, 8))::UBIGINT % 10000 < 9000 THEN 'train'
        |       WHEN ('0x' || substring(md5(text), 1, 8))::UBIGINT % 10000 < 9500 THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT jp.id_a, jp.id_b, jp.jaccard,
        |  sa.split AS split_a, sb.split AS split_b
        |FROM jp JOIN sp sa ON jp.id_a = sa.doc_id
        |        JOIN sp sb ON jp.id_b = sb.doc_id
        |WHERE jp.jaccard >= 0.9 AND sa.split <> sb.split
        |ORDER BY jp.id_a, jp.id_b""".stripMargin,
    // Fit-free round-trip oracle: the canonical form is derived from
    // RAW text here (lowercase + ASCII-ws collapse — SplitWhitespace's
    // byte set), so equality proves the Spark-side decode reassembly.
    "tokenizer_roundtrip" -> sqlRoundtripOracle,
    // The soft-fit twin shares ONE oracle constant: losslessness means
    // the decode md5s equal the canonical-text md5 regardless of which
    // vocab segmented it, and the two queries must never drift apart.
    "tokenizer_roundtrip_soft" -> sqlRoundtripOracle,
    // bpe_merges: the one fit whose output IS the fit — the oracle
    // recomputes the training loop itself as a recursive CTE (printed
    // constants would be circular here).
    "bpe_merges" -> graft.text.Bpe.sqlMerges(200),
    "pii_redact" -> {
      val values = PiiFixture.docs
        .map { case (id, t) => s"($id, '${t.replace("'", "''")}')" }
        .mkString(",\n        ")
      s"""WITH masked AS (
         |  SELECT doc_id, text,
         |    regexp_replace(text, '${graft.pipeline.Pii.EmailRe}', '<EMAIL>', 'g') AS t1
         |  FROM (VALUES
         |        $values) t(doc_id, text)),
         |m2 AS (
         |  SELECT doc_id, text, t1,
         |    regexp_replace(t1, '${graft.pipeline.Pii.Ipv4Re}', '<IP>', 'g') AS t2
         |  FROM masked)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(len(regexp_extract_all(text, '${graft.pipeline.Pii.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t1, '${graft.pipeline.Pii.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(t2, '${graft.pipeline.Pii.PhoneRe}')) AS BIGINT) AS n_phones,
         |  regexp_replace(t2, '${graft.pipeline.Pii.PhoneRe}', '<PHONE>', 'g') AS redacted
         |FROM m2
         |ORDER BY doc_id""".stripMargin
    },
  )
}
