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

/** curation pipelines, packing, corpus mix, WARC sources, preset funnels — one slice of the [[SparkEntry]] registry (r14
  * split: the registry lived as one 5,100-line file; each slice now
  * carries its domain's `queries` lambdas and their DuckDB `oracleSql`
  * side by side, and SparkEntry concatenates the slices). Entry-level
  * comments and oracle SQL are unchanged — this is a pure move. */
private[graft] object EntriesPipeline {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "repetition_stats" -> ((s, dir) =>
      graft.pipeline.Curation.repetitionStats(Tables.documents(s, dir))),
    "curation_report" -> ((s, dir) =>
      graft.pipeline.Curation.report(Tables.documents(s, dir))),
    "boilerplate_ngrams" -> ((s, dir) =>
      TextAnalysis.frequentShingles(Tables.documents(s, dir), "text", 3, 5L)),
    // TF-IDF-flavored keyword extraction with integer-only ranking (the
    // rare-source gate is the IDF, so the result is engine-exact). Bigrams:
    // the fixtures' token vocabulary is corpus-wide, phrases discriminate.
    "distinctive_terms" -> ((s, dir) =>
      TextAnalysis.distinctiveTerms(Tables.documents(s, dir), "source", "text", 2, 3, 10)),
    // BM25 relevance scoring: per-row tf expressions + one corpus-stats
    // aggregate, top-k heap. Identical float expression tree (and ln) on
    // the DuckDB side, rounded to 4 decimals -> full oracle.
    "bm25_topk" -> ((s, dir) =>
      graft.text.Relevance.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "vector", "customer"), 15)),
    // Median/MAD robust outlier report per event type (exact interpolated
    // percentile == DuckDB quantile_cont, as order_percentiles pinned).
    "value_outliers" -> ((s, dir) =>
      EventWindows.valueOutliers(Tables.events(s, dir))),
    "value_histogram" -> ((s, dir) =>
      EventWindows.valueHistogram(Tables.events(s, dir), 10.0)),
    // Strictly-ordered funnel: step k counts only after step k-1's
    // first-touch time. view -> click -> purchase over the event stream.
    "event_funnel" -> ((s, dir) =>
      EventWindows.funnel(Tables.events(s, dir), Seq("view", "click", "purchase"))),
    // Day x type pivot with an EXPLICIT column contract (no distinct-scan).
    "events_pivot" -> ((s, dir) =>
      EventWindows.dailyTypePivot(Tables.events(s, dir),
        Seq("click", "error", "purchase", "signup", "view"))),
    // Quality-proportional deterministic sampling: bucket < quality*10000.
    "sample_weighted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.Curation.sampleWeighted(docs, "text",
        TextAnalysis.qualityScore(col("text")))
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          graft.pipeline.Curation.sampleBucket(col("text")).as("bucket"))
        .orderBy(col("doc_id"))
    }),
    // F133: stratified exact-k — min(k, |source|) quality-biased rows
    // per source, one rank window on the group key.
    "weighted_reservoir_by_source" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.pipeline.Curation.weightedReservoirPerGroup(docs, "source",
          "doc_id", "text", col("quality"), 5)
        .select(col("doc_id"), col("source"), col("quality"),
          col("res_clock"))
        .orderBy(col("doc_id"))
    }),
    // F131: the reservoir's mergeable-state face — two disjoint batch
    // reservoirs merged must equal the one-shot cut (the oracle IS the
    // one-shot form, so hash-equality proves the merge).
    "weighted_reservoir_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      val halves = Seq(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
        .map(graft.pipeline.Curation.weightedReservoir(_, "doc_id", "text",
          col("quality"), 100))
      graft.pipeline.Curation.mergeReservoirs(halves, "doc_id", 100)
        .select(col("doc_id"), col("source"), col("quality"),
          col("res_clock"))
        .orderBy(col("doc_id"))
    }),
    // F128: exact-k weighted sampling without replacement (A-ES
    // exponential clocks) — quality-proportional budget cut, planned as
    // one TakeOrderedAndProject (the distributed reservoir).
    "weighted_reservoir" -> ((s, dir) => {
      // quality is computed ONCE below the reservoir: recomputing it
      // above the limit leaves Limit(Project(Project(Sort))) — the
      // CollapseProject diamond (BASELINE.md) — which misses the
      // TakeOrderedAndProject strategy patterns and degrades the top-k
      // into a full global range-sort (plan-pinned in PlanQualitySpec).
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.pipeline.Curation.weightedReservoir(docs, "doc_id", "text",
          col("quality"), 100)
        .select(col("doc_id"), col("source"), col("quality"),
          col("res_clock"))
        .orderBy(col("doc_id"))
    }),
    // Whole-source mirror detection: shared distinct 3-gram counts per
    // source pair.
    "source_overlap_matrix" -> ((s, dir) =>
      TextAnalysis.sourceOverlapMatrix(Tables.documents(s, dir), "source", "text", 3)),
    // Vocabulary build + id encoding (OOV -> 0): cleaning -> ids -> packing.
    "vocab_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.encodeTokens(docs, "doc_id", "text",
        TextAnalysis.vocabulary(docs, "text", 20))
    }),
    "retention_cohorts" -> ((s, dir) =>
      EventWindows.retentionCohorts(Tables.events(s, dir))),
    // SCD2: the keyed change stream -> validity intervals (the layout AsOf
    // and RangeJoin consume). One shuffle, two window passes.
    "scd2_history" -> ((s, dir) =>
      graft.relational.Scd.history(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id")
        .orderBy(col("user_id"), col("valid_from"), col("state"))),
    // Morton interleave codes — the Z-order layout primitive; pure integer
    // bit arithmetic, reproduced exactly by the DuckDB oracle.
    "zorder_codes" -> ((s, dir) =>
      Tables.orders(s, dir).select(col("o_orderkey"),
        graft.sources.ZOrder.morton2(
          col("o_custkey") % 1024, col("o_orderkey") % 1024, 10).as("z"))
        .orderBy(col("o_orderkey"))),
    // Sampled estimate: deterministic md5-bucket subsample -> scaled
    // counts. The sample is engine-reproducible and the estimate one
    // rounded division, so this carries a FULL oracle (upgraded from
    // rows-only per the round-4 verdict); CurationSpec still pins the
    // estimate-vs-exact error on a planted corpus.
    "boilerplate_ngrams_sampled" -> ((s, dir) =>
      graft.pipeline.Curation.boilerplateSampled(Tables.documents(s, dir),
        "text", 3, 5L, 2000)),
    // Sampled source-overlap: the 100 TB form of source_overlap_matrix
    // (shingle-keyed deterministic sample -> scaled estimates). Full
    // oracle for the same reason.
    "source_overlap_sampled" -> ((s, dir) =>
      TextAnalysis.sourceOverlapSampled(Tables.documents(s, dir),
        "source", "text", 3, 2000)),
    // Data mixing: per-source sampling rates (the dataset-assembly
    // recipe), md5-bucket deterministic like sample_deterministic.
    "corpus_mix" -> ((s, dir) =>
      graft.pipeline.Curation.mixCorpus(Tables.documents(s, dir), "text", "source",
        Map("src0" -> 10000, "src1" -> 5000, "src2" -> 2500, "src3" -> 500))
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))),
    // Mixing with rates ABOVE 1 (DoReMi weights): rate 2.5 = every doc
    // twice + a content-chosen half a third time, each copy numbered by
    // epoch so packing can interleave repeats.
    "corpus_mix_epochs" -> ((s, dir) =>
      graft.pipeline.Curation.mixCorpusWithRepetition(
        Tables.documents(s, dir), "text", "source",
        Map("src0" -> 25000, "src1" -> 10000, "src2" -> 5000))
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),
    // Temperature mixing: α=0.5 downsample-only flattening (kept counts
    // ∝ n^α) — rates derived from the data, not a hand map; sqrt keeps
    // the derived integer rate engine-exact.
    "corpus_mix_temperature" -> ((s, dir) =>
      graft.pipeline.Curation.mixCorpusTemperature(
        Tables.documents(s, dir), "text", "source")
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))),
    // Seeded global shuffle: the Par.prefixSum rank over (md5, doc_id)
    // == global md5 order, pinned by the oracle's single ROW_NUMBER.
    "corpus_shuffle" -> ((s, dir) =>
      graft.pipeline.Curation.shuffleCorpus(
        Tables.documents(s, dir), "text", "mix42", 64)
        .select(col("doc_id"), col("shard"), col("shuffle_pos"))
        .orderBy(col("shuffle_pos"))),
    // Percentile-calibrated length gate: each language's token floor
    // comes from its own distribution (p20 here) — integer cross-
    // multiplied quantile, broadcast thresholds, keep = n >= floor.
    "adaptive_length_gate" -> ((s, dir) =>
      graft.pipeline.Curation.adaptiveLengthGate(Tables.documents(s, dir))),
    // The incremental face: history contributes only its additive
    // (lang, n_tokens, count) histogram partial — text never re-read;
    // the batch gates under merged-state thresholds, which over the
    // final batch equal the one-shot fit (the oracle states that).
    "adaptive_length_gate_incremental" -> ((s, dir) => {
      val all = Tables.documents(s, dir)
      graft.pipeline.Curation.adaptiveLengthGateIncremental(
        all.filter(col("doc_id") >= 250),
        graft.pipeline.Curation.lengthHistogram(
          all.filter(col("doc_id") < 250)))
    }),
    // Fixed-budget release sharding in the seeded shuffle order: the
    // physical packaging step — per-shard doc/token counts + an
    // order-independent xor content fingerprint. The oracle replays the
    // shuffle rank, the prefix-sum cut, and the fingerprint exactly.
    "release_shards" -> ((s, dir) =>
      graft.pipeline.Curation.releaseShards(
        Tables.documents(s, dir), "doc_id", "text", 2048L)),
    // GPT-style concat-then-chunk packing via the distributed prefix sum;
    // CurationSpec pins it equal to the single-window semantic form.
    "sequence_packing" -> ((s, dir) =>
      graft.pipeline.Curation.packChunksScalable(Tables.documents(s, dir),
        "doc_id", "text", 512L)),
    // The attention-mask manifest of that packing: per chunk, each
    // document fragment's [start, end) span — what resets attention at
    // document joins inside a packed sequence.
    "packing_boundaries" -> ((s, dir) =>
      graft.pipeline.Curation.packingBoundaries(Tables.documents(s, dir),
        "doc_id", "text", 512L)),
    // Packing in BPE-piece units (what trainers budget in): same
    // prefix-sum assignment, n_tokens from the broadcast-rank encode.
    // FULL oracle since r9 (printed merges + recursive-CTE encode +
    // the sequence_packing prefix-sum replay).
    "sequence_packing_bpe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.text.Bpe.fitMerges(docs, "text", 200)
      FittedOracle.bpePackMerges = Some(merges)
      graft.pipeline.Curation.packChunksBpe(docs, "doc_id", "text", merges, 512L)
    }),
    // The same packing under the unigram tokenizer (r11): Viterbi piece
    // counts feed the identical prefix-sum chunk arithmetic — the chunk
    // map a unigram-standardized pipeline trains on.
    "sequence_packing_unigram" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pieces = graft.text.Unigram.fitPieces(docs, "text", 400)
      FittedOracle.unigramPackPieces = Some(pieces)
      graft.pipeline.Curation.packChunksUnigram(docs, "doc_id", "text",
        pieces, 512L)
    }),
    // The same packing under the PRODUCTION-DEFAULT soft fit (r14, the
    // r13 verdict's #3): `Unigram.fit` with no mode argument now means
    // the Kudo-faithful soft-EM trainer, and the packing consumer is
    // fit-mode-agnostic by construction — same prefix-sum chunk
    // arithmetic, same printed-constants oracle, only the piece table
    // differs.
    "sequence_packing_unigram_soft" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pieces = graft.text.Unigram.fit(docs, "text", 400,
        mode = graft.text.Unigram.SoftEm)
      FittedOracle.unigramPackSoftPieces = Some(pieces)
      graft.pipeline.Curation.packChunksUnigram(docs, "doc_id", "text",
        pieces, 512L)
    }),
    // Contamination-free bin packing (Krell-et-al. SPFHP): whole docs
    // only, histogram-driven best-fit-decreasing on the driver, broadcast
    // slot arithmetic. FULL oracle (r15): the fitted slot table prints
    // into a VALUES replay (FittedOracle discipline) — DuckDB re-runs
    // the chunk expansion, rank window, and slot-join arithmetic against
    // the driver fit's exact constants.
    "sequence_packing_bins" -> ((s, dir) => {
      val chunks = graft.pipeline.Curation.chunkTexts(
        Tables.documents(s, dir), "doc_id", "text", 64, 0)
        .select((col("doc_id") * 100000 + col("chunk_idx")).as("item_id"),
          col("chunk_text"))
      val (assigned, slots) = graft.pipeline.Curation
        .packBinsHistogramWithSlots(chunks, "item_id", "chunk_text", 128)
      FittedOracle.packBinsSlots = Some(slots)
      assigned
    }),
    // Packing-efficiency audit: concat-chunk waste vs pad-per-doc waste
    // and the boundary-contamination counts, one row, from the same
    // prefix-sum assignment sequence_packing pins.
    "packing_efficiency" -> ((s, dir) =>
      graft.pipeline.Curation.packingEfficiency(Tables.documents(s, dir),
        "doc_id", "text", 512L)),
    // Per-(source, lang) release rollup with subtotals and exact-dup pct.
    "release_manifest" -> ((s, dir) =>
      graft.pipeline.Curation.releaseManifest(Tables.documents(s, dir))),
    // Small-cell suppression for the released stats: (source, lang)
    // cells under k=5 docs collapse into one reconciling bucket.
    "k_anonymous_stats" -> ((s, dir) =>
      graft.pipeline.Curation.kAnonymousStats(Tables.documents(s, dir),
        Seq("source", "lang"), 5)),
    // WARC ingestion: archives built from the fixture docs, parsed by
    // the length-driven record walker; the oracle reconstructs the same
    // records relationally — the gate proves parse(write(x)) == x.
    // Density-based main-content extraction over planted page chrome:
    // nav and footer blocks are all-links (dropped), the doc text is the
    // content block, and every third doc grows a second content section.
    "html_main_content" -> ((s, dir) => {
      val html = concat(
        lit("<html><body><div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div><p>"),
        col("text"),
        lit("</p><div><a>Privacy</a> <a>Terms</a></div>"),
        when(col("doc_id") % 3 === 0,
          lit("<section>Read more about this topic here</section>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      graft.ingest.Boilerplate.mainContent(
        Tables.documents(s, dir).withColumn("html", html))
    }),
    "warc_records" -> ((s, dir) =>
      graft.sources.Warc.records(warcBlobs(Tables.documents(s, dir)))
        .select(col("path").as("source"), col("record_offset"),
          col("target_uri"), col("content_length"),
          substring(col("payload").cast("string"), 1, 15).as("payload_head"))
        .orderBy(col("source"), col("record_offset"))),
    "warc_html_documents" -> ((s, dir) =>
      graft.sources.Warc.htmlDocuments(
          graft.sources.Warc.records(warcBlobs(Tables.documents(s, dir))))
        .orderBy(col("target_uri"))),
    // CDX capture index over the same archives: SURT urlkey, byte-precise
    // offset/length, payload digest — the oracle rebuilds every field
    // relationally, so the gate proves the index points at the records.
    "warc_cdx" -> ((s, dir) =>
      graft.sources.Warc.cdx(
        graft.sources.Warc.records(warcBlobs(Tables.documents(s, dir))))),
    // WET conversion records: the extracted-text sibling of the archives
    // (strip HTTP headers, drop markup, collapse whitespace + digest).
    "warc_wet" -> ((s, dir) =>
      graft.sources.Warc.wetRecords(
        graft.sources.Warc.records(warcBlobs(Tables.documents(s, dir))))),
    // JSONL round trip: render -> parse must be identity through two
    // independent JSON parsers. Escape-stressing suffixes (quote,
    // backslash, newline, tab) planted by doc_id mod 5 in both engines.
    "jsonl_documents" -> ((s, dir) => {
      val suf = Seq("", " \"quoted\"", " back\\slash", " line\nbreak",
        " tab\there")
      val docs = Tables.documents(s, dir).withColumn("text",
        concat(col("text"), element_at(array(suf.map(lit(_)): _*),
          (col("doc_id") % 5 + 1).cast("int"))))
      graft.sources.Jsonl.parse(graft.sources.Jsonl.render(docs))
        .orderBy(col("doc_id"))
    }),
    // The INCREMENTAL manifest: additive counts + mergeable HLL content
    // sketch rolled up from state alone — release cost independent of
    // corpus size. The oracle replays each level's sketch directly; the
    // engine's bucket-max rollup matching it IS the mergeability pin.
    "release_manifest_sketch" -> ((s, dir) =>
      graft.pipeline.Curation.releaseManifestSketch(Tables.documents(s, dir))),
    // The data-card artifact: ONE (section, metric, value) table folding
    // the audited composition/dedup/quality signals — all integer counts
    // over proven column builders, one text scan.
    "release_datasheet" -> ((s, dir) =>
      graft.pipeline.Curation.releaseDatasheet(Tables.documents(s, dir))),
    // Good-Turing count-of-counts: the Zipf-health audit of the corpus.
    "token_spectrum" -> ((s, dir) =>
      TextAnalysis.tokenSpectrum(Tables.documents(s, dir), "text")),
    // Quality-curriculum training order: ascending quality tiers,
    // seeded shuffle within each tier, Par.prefixSum ranks throughout.
    "curriculum_order" -> ((s, dir) =>
      graft.pipeline.Curation.curriculumOrder(Tables.documents(s, dir))),
    // Per-doc cross-document duplication exposure: fraction of the doc's
    // distinct 3-gram shingles shared with >= 5 documents corpus-wide.
    "ngram_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, dir), "doc_id", "text", 3, 5L)),
    // The incremental face: per-batch df partials merged by sum, the
    // batch scored against corpus-wide state (history = doc_id < 250
    // fixture convention). The oracle scores batch docs against df over
    // ALL docs — sum-merge == whole-corpus counts is what it pins.
    "ngram_novelty_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val history = docs.filter(col("doc_id") < 250)
      val batch = docs.filter(col("doc_id") >= 250)
      // Materialized once, mirroring the production shape where state is
      // persisted parquet — without it the probe join re-derives both
      // count partials (re-scanning history) per consumer.
      val state = TextAnalysis.mergeShingleCounts(
        TextAnalysis.shingleDfCounts(history, "text", 3),
        TextAnalysis.shingleDfCounts(batch, "text", 3))
        .pinned
      TextAnalysis.ngramNoveltyFromCounts(batch, "doc_id", "text", 3, 5L, state)
    }),
    // Sliding-window chunk expansion (64-token chunks, 16 overlap) — the
    // RAG/pretraining chunk-text generator.
    "chunk_texts" -> ((s, dir) =>
      graft.pipeline.Curation.chunkTexts(Tables.documents(s, dir),
        "doc_id", "text", 64, 16)),
    // The full corpus assembly line in one composition: PII scrub ->
    // df-thresholded exact span dedup (20-token blocks, df >= 3) ->
    // quality floor -> exact dedup -> decontaminate -> deterministic 80%
    // sample -> sequence packing. One DuckDB WITH-chain replays it all.
    "corpus_pipeline" -> ((s, dir) =>
      graft.pipeline.CorpusPipeline(Tables.documents(s, dir))),
    // Same line with the Gopher rule gate switched on at stage 3b
    // (tuned thresholds — see FunnelThresholds); the WITH-chain oracle
    // extends by one predicate, everything downstream shifts with it.
    "corpus_pipeline_gated" -> ((s, dir) =>
      graft.pipeline.CorpusPipeline(Tables.documents(s, dir),
        gopherTh = Some(FunnelThresholds))),
    // Both optional gates on: rules (3b) AND repetition (3c). The
    // WITH-chain oracle grows the rule predicate plus a repetition
    // semi-join (the relational replay of the per-row folds).
    "corpus_pipeline_full" -> ((s, dir) =>
      graft.pipeline.CorpusPipeline(Tables.documents(s, dir),
        gopherTh = Some(FunnelThresholds),
        repetitionTh = Some(RepetitionThresholds))),
    // FineWeb-style end-to-end preset over the line-structured fixture
    // (the synthetic documents are single-line, so the C4 stage needs
    // real pages): C4 line-clean -> Gopher rules -> Gopher repetition ->
    // ANCHORED substring dedup -> exact dedup -> decontaminate ->
    // DSIR per-token-average floor -> seeded shuffle -> pack. One DuckDB
    // WITH-chain replays all nine stages.
    "corpus_pipeline_fineweb" -> ((s, dir) => {
      import s.implicits._
      graft.pipeline.FineWebPipeline(
        FineWebFixture.docs.toDF("doc_id", "text"),
        gopherTh = FineWebRuleThresholds)
    }),
    // RefinedWeb-style preset (r9) over the documents table with the
    // skewed fixture URLs: blocklist -> NFC -> language -> Gopher gates
    // -> exact dedup -> MinHash near-dedup -> per-domain caps. The NFC
    // stage sits AHEAD of every key, the placement it was built for.
    "corpus_pipeline_refinedweb" -> ((s, dir) =>
      graft.pipeline.RefinedWebPipeline(
        withFixtureUrls(Tables.documents(s, dir)),
        blocked = Seq("foo.co.uk"),
        gopherTh = FunnelThresholds, repetitionTh = RepetitionThresholds,
        cap = 15)),
    // The bytes-to-corpus capstone (r10): WARC archive bytes -> the
    // length-driven record walk -> HTTP header strip -> density-based
    // main-content extraction -> the FULL RefinedWeb preset. The Spark
    // side parses real bytes; the oracle replays the construction
    // relationally (the warc_records round-trip gate proves the byte
    // walk separately), then runs the same extraction + preset chain.
    "warc_refinedweb" -> ((s, dir) => {
      val recs = graft.sources.Warc.records(warcBlobs(Tables.documents(s, dir)))
      val pages = graft.sources.Warc.htmlDocuments(recs)
        .withColumn("doc_id",
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long"))
        .withColumnRenamed("body", "html")
        .pinned
      val extracted = graft.ingest.Boilerplate.mainContent(pages)
        .filter(col("n_kept") >= 1)
        .select(col("doc_id"), col("main_text").as("text"))
      val meta = pages.select(col("doc_id"),
        regexp_extract(col("target_uri"), "example\\.org/([^/]+)/", 1)
          .as("source"))
      // Pin the composed corpus BEFORE the preset: without the boundary
      // CollapseProject inlines the (expensive) extraction expression
      // into every downstream gate — NFC, langId, the Gopher folds, the
      // dedup md5 — re-extracting each page ~5x (probed 50.5 s unpinned
      // vs 19.9 s pinned at sf0.1 local[8]; the same diamond the
      // cosinePairs scaladoc records). The pages pin above bounds the
      // archive walk to once per blob the same way.
      graft.pipeline.RefinedWebPipeline(
        withFixtureUrls(extracted.join(meta, Seq("doc_id"))).pinned,
        blocked = Seq("foo.co.uk"),
        gopherTh = FunnelThresholds, repetitionTh = RepetitionThresholds,
        cap = 15)
    }),
    // Per-document outcome attribution (r10): which stage dropped each
    // raw doc ('kept' for survivors) — the funnel's per-doc twin;
    // grouped by outcome it reconciles exactly to the funnel deltas.
    "refinedweb_outcomes" -> ((s, dir) =>
      graft.pipeline.RefinedWebPipeline.outcomes(
        withFixtureUrls(Tables.documents(s, dir)),
        blocked = Seq("foo.co.uk"),
        gopherTh = FunnelThresholds, repetitionTh = RepetitionThresholds,
        cap = 15)),
    "refinedweb_funnel" -> ((s, dir) =>
      graft.pipeline.RefinedWebPipeline.funnel(
        withFixtureUrls(Tables.documents(s, dir)),
        blocked = Seq("foo.co.uk"),
        gopherTh = FunnelThresholds, repetitionTh = RepetitionThresholds,
        cap = 15)),
    // The preset's ablation table: per-stage survivor counts, computed
    // from the SAME stage frames the packed corpus ships (shared
    // construction — funnel and corpus can't drift).
    "fineweb_funnel" -> ((s, dir) => {
      import s.implicits._
      graft.pipeline.FineWebPipeline.funnel(
        FineWebFixture.docs.toDF("doc_id", "text"),
        gopherTh = FineWebRuleThresholds)
    }),
    // CCNet-style preset (Wenzek et al. ordering): paragraph dedup ->
    // language gate -> self-fit LM perplexity tiers, tail cut. One
    // DuckDB WITH-chain replays all three stages.
    "corpus_pipeline_ccnet" -> ((s, dir) => {
      import s.implicits._
      graft.pipeline.CcNetPipeline(CcNetFixture.docs.toDF("doc_id", "text"))
    }),
    // The paper's actual stage-3 shape: the LM fit on the metadata-
    // trusted lang='en' slice (Wenzek et al. fit on Wikipedia), the
    // langId-gated survivors priced under it with OOV backoff.
    "corpus_pipeline_ccnet_crossfit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.CcNetPipeline.applyCrossFit(
        docs.select(col("doc_id"), col("text")),
        docs.filter(col("lang") === "en"))
    }),
    // The CCNet preset's ablation table, from the SAME stage frames.
    "ccnet_funnel" -> ((s, dir) => {
      import s.implicits._
      graft.pipeline.CcNetPipeline.funnel(CcNetFixture.docs.toDF("doc_id", "text"))
    }),
    // Incremental FineWeb preset: docs < 9 are history — only their
    // persisted state (window-hash index, content-hash index, fixed
    // bench, additive DSIR counts) is consulted, history text never
    // re-read; docs >= 9 arrive as a batch. The split exercises the
    // cross-batch window-index probe (doc 9's passage matches history
    // doc 8), within-batch exact dedup (11 vs 13), fixed-bench
    // decontamination (12 vs bench doc 20), and the merged-counts DSIR
    // floor (14). Full oracle: the union-equivalence contract says the
    // result IS the batch rows of the full recompute, so DuckDB replays
    // the whole nine-stage chain and selects doc_id >= 9.
    "fineweb_incremental" -> ((s, dir) => {
      import s.implicits._
      val all = FineWebFixture.docs.toDF("doc_id", "text")
      val st = graft.pipeline.FineWebPipeline.state(
        all.filter(col("doc_id") < 9),
        graft.pipeline.FineWebPipeline.benchSlice(all),
        gopherTh = FineWebRuleThresholds)
      graft.pipeline.FineWebPipeline.incremental(
        all.filter(col("doc_id") >= 9), st,
        gopherTh = FineWebRuleThresholds)
    }),
    // Benchmark decontamination: flag docs sharing >= 5 distinct 3-grams
    // with the "benchmark" slice (doc_id % 97 == 0 stands in for an eval
    // suite); broadcast bench shingles, one groupBy on doc_id.
    "decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.Curation.decontaminate(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text", 3, 5L)
    }),
    // Fuzzy decontamination: MinHash-LSH candidates against the benchmark
    // slice, exact Jaccard verify >= 0.8 — catches paraphrased/re-wrapped
    // benchmark leaks exact n-gram overlap misses. Full oracle: the
    // md5-prefix family lets DuckDB replay banding AND verify.
    "decontaminate_fuzzy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.Curation.decontaminateFuzzy(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", 0.8)
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "bm25_topk" ->
      graft.text.Relevance.sqlBm25TopK(Seq("spark", "vector", "customer"), 15),
    "boilerplate_ngrams" ->
      """WITH t AS (
        |  SELECT regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks FROM documents),
        |s AS (
        |  SELECT UNNEST(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM t)
        |SELECT shingle, COUNT(*) AS df FROM s GROUP BY 1 HAVING df >= 5
        |ORDER BY df DESC, shingle ASC""".stripMargin,
    "boilerplate_ngrams_sampled" ->
      """WITH s AS (
        |  SELECT text FROM documents
        |  WHERE ('0x' || substring(md5(text), 1, 8))::UBIGINT % 10000 < 2000),
        |t AS (SELECT regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks FROM s),
        |sh AS (
        |  SELECT UNNEST(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM t),
        |c AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
        |SELECT shingle, CAST(FLOOR(df * 10000 / 2000) AS BIGINT) AS df_est
        |FROM c WHERE FLOOR(df * 10000 / 2000) >= 5
        |ORDER BY df_est DESC, shingle ASC""".stripMargin,
    "source_overlap_sampled" ->
      """WITH tok AS (
        |  SELECT COALESCE(source, 'Unknown') AS source,
        |         regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, sh FROM (
        |    SELECT source, UNNEST(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
        |    FROM tok)
        |  WHERE ('0x' || substring(md5(sh), 1, 8))::UBIGINT % 10000 < 2000)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |  CAST(FLOOR(COUNT(*) * 10000 / 2000) AS BIGINT) AS n_shared_est
        |FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "corpus_pipeline" -> corpusPipelineSql(None),
    "corpus_pipeline_fineweb" ->
      graft.pipeline.FineWebPipeline.sqlPipeline(
        valuesRel(FineWebFixture.docs), gopherTh = FineWebRuleThresholds),
    "corpus_pipeline_refinedweb" ->
      graft.pipeline.RefinedWebPipeline.sqlPipeline(
        s"(SELECT doc_id, text, $sqlFixtureUrl AS url FROM documents)",
        blocked = Seq("foo.co.uk"),
        gopherTh = FunnelThresholds, repetitionTh = RepetitionThresholds,
        cap = 15),
    "warc_refinedweb" -> {
      val mc = graft.ingest.Boilerplate.sqlMainContent("html")
      val cut = mc.indexOf("SELECT doc_id, CAST(len(fs)")
      val (mcCtes, mcSelect) = (mc.substring(0, cut).trim.stripSuffix(","),
        mc.substring(cut))
      val from =
        s"""(WITH $sqlWarcCtes,
           |h AS (SELECT doc_id,
           |        '<html><body>' || text || '</body></html>' AS html
           |      FROM wr0),
           |${mcCtes.stripSuffix(",")},
           |mcq AS ($mcSelect),
           |ex AS (SELECT m.doc_id, m.main_text AS text, w.source
           |       FROM mcq m JOIN wr0 w USING (doc_id) WHERE m.n_kept >= 1)
           |SELECT doc_id, text, $sqlFixtureUrl AS url FROM ex)""".stripMargin
      graft.pipeline.RefinedWebPipeline.sqlPipeline(from,
        blocked = Seq("foo.co.uk"),
        gopherTh = FunnelThresholds, repetitionTh = RepetitionThresholds,
        cap = 15)
    },
    "refinedweb_outcomes" ->
      graft.pipeline.RefinedWebPipeline.sqlOutcomes(
        s"(SELECT doc_id, text, $sqlFixtureUrl AS url FROM documents)",
        blocked = Seq("foo.co.uk"),
        gopherTh = FunnelThresholds, repetitionTh = RepetitionThresholds,
        cap = 15),
    "refinedweb_funnel" ->
      graft.pipeline.RefinedWebPipeline.sqlFunnel(
        s"(SELECT doc_id, text, $sqlFixtureUrl AS url FROM documents)",
        blocked = Seq("foo.co.uk"),
        gopherTh = FunnelThresholds, repetitionTh = RepetitionThresholds,
        cap = 15),
    "fineweb_funnel" ->
      graft.pipeline.FineWebPipeline.sqlFunnel(
        valuesRel(FineWebFixture.docs), gopherTh = FineWebRuleThresholds),
    "fineweb_incremental" ->
      graft.pipeline.FineWebPipeline.sqlIncremental(
        valuesRel(FineWebFixture.docs), split = 9L,
        gopherTh = FineWebRuleThresholds),
    "corpus_pipeline_ccnet" ->
      graft.pipeline.CcNetPipeline.sqlPipeline(valuesRel(CcNetFixture.docs)),
    "corpus_pipeline_ccnet_crossfit" ->
      graft.pipeline.CcNetPipeline.sqlPipelineCrossFit("documents"),
    "ccnet_funnel" ->
      graft.pipeline.CcNetPipeline.sqlFunnel(valuesRel(CcNetFixture.docs)),
    "corpus_pipeline_gated" -> corpusPipelineSql(
      Some(graft.text.GopherRules.sqlPassExpr("red", FunnelThresholds))),
    "corpus_pipeline_full" -> corpusPipelineSql(
      Some(graft.text.GopherRules.sqlPassExpr("red", FunnelThresholds)),
      Some(RepetitionThresholds)),
    "decontaminate" -> DecontaminateSql,
    "decontaminate_fuzzy" ->
      graft.pipeline.Curation.sqlDecontaminateFuzzy("documents", 0.8),
    "distinctive_terms" ->
      """WITH tok AS (
        |  SELECT COALESCE(source, 'Unknown') AS source,
        |         regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks
        |  FROM documents),
        |t AS (
        |  SELECT source, UNNEST(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS term
        |  FROM tok),
        |tf AS (SELECT source, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |sf AS (SELECT term, COUNT(*) AS n_sources FROM tf GROUP BY 1
        |       HAVING COUNT(*) <= 3),
        |r AS (SELECT tf.source, tf.term, tf.tf, sf.n_sources,
        |        ROW_NUMBER() OVER (PARTITION BY tf.source
        |                           ORDER BY tf.tf DESC, tf.term ASC) AS rk
        |      FROM tf JOIN sf USING (term))
        |SELECT source, CAST(rk AS BIGINT) AS rk, term, tf, n_sources
        |FROM r WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin,
    "events_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "sample_weighted" -> {
      val q = graft.text.TextAnalysis.sqlQuality("text")
      s"""SELECT doc_id, source, $q AS quality,
         |  CAST(('0x' || substring(md5(text), 1, 8))::UBIGINT % 10000 AS BIGINT) AS bucket
         |FROM documents
         |WHERE CAST(('0x' || substring(md5(text), 1, 8))::UBIGINT % 10000 AS BIGINT) < $q * 10000.0
         |ORDER BY doc_id""".stripMargin
    },
    "weighted_reservoir" -> {
      val q = graft.text.TextAnalysis.sqlQuality("text")
      val clock = graft.pipeline.Curation.sqlReservoirClock("text", q)
      s"""SELECT doc_id, source, quality, res_clock FROM (
         |  SELECT doc_id, source, $q AS quality, $clock AS res_clock
         |  FROM documents WHERE $q > 0.0
         |  ORDER BY res_clock, doc_id LIMIT 100)
         |ORDER BY doc_id""".stripMargin
    },
    "weighted_reservoir_by_source" -> {
      val q = graft.text.TextAnalysis.sqlQuality("text")
      val clock = graft.pipeline.Curation.sqlReservoirClock("text", q)
      s"""SELECT doc_id, source, quality, res_clock FROM (
         |  SELECT doc_id, source, $q AS quality, $clock AS res_clock,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY $clock, doc_id) AS rk
         |  FROM documents WHERE $q > 0.0)
         |WHERE rk <= 5
         |ORDER BY doc_id""".stripMargin
    },
    // The incremental face's oracle IS the one-shot cut over the whole
    // corpus — hash-equality against it proves the merge identity.
    "weighted_reservoir_incremental" -> {
      val q = graft.text.TextAnalysis.sqlQuality("text")
      val clock = graft.pipeline.Curation.sqlReservoirClock("text", q)
      s"""SELECT doc_id, source, quality, res_clock FROM (
         |  SELECT doc_id, source, $q AS quality, $clock AS res_clock
         |  FROM documents WHERE $q > 0.0
         |  ORDER BY res_clock, doc_id LIMIT 100)
         |ORDER BY doc_id""".stripMargin
    },
    "vocab_encode" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks
        |  FROM documents),
        |vc AS (
        |  SELECT token, COUNT(*) AS n FROM (
        |    SELECT UNNEST(toks) AS token FROM tok) GROUP BY 1),
        |vocab AS (
        |  SELECT token,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS token_id
        |  FROM vc ORDER BY n DESC, token ASC LIMIT 20),
        |e AS (
        |  SELECT doc_id, UNNEST(list_transform(range(1, len(toks) + 1),
        |    i -> {'pos': i, 'token': toks[i]})) AS u
        |  FROM tok),
        |e2 AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.token AS token FROM e)
        |SELECT e2.doc_id, e2.pos, COALESCE(v.token_id, 0) AS token_id
        |FROM e2 LEFT JOIN vocab v USING (token)
        |ORDER BY doc_id, pos""".stripMargin,
    "source_overlap_matrix" ->
      """WITH tok AS (
        |  SELECT COALESCE(source, 'Unknown') AS source,
        |         regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, sh FROM (
        |    SELECT source, UNNEST(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
        |    FROM tok))
        |SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
        |FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "event_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' AND ts IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT step, name, n_users FROM (VALUES
        |  (1, 'view',     (SELECT CAST(COUNT(*) AS BIGINT) FROM s1)),
        |  (2, 'click',    (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)),
        |  (3, 'purchase', (SELECT CAST(COUNT(*) AS BIGINT) FROM s3))
        |) AS t(step, name, n_users)
        |ORDER BY step""".stripMargin,
    "retention_cohorts" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |c AS (SELECT user_id, MIN(day) AS cohort FROM ev GROUP BY 1)
        |SELECT c.cohort AS cohort,
        |  date_diff('day', c.cohort, ev.day) AS day_offset,
        |  COUNT(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,
    "value_histogram" ->
      """SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bin,
        |  ROUND(CAST(FLOOR(value / 10.0) AS BIGINT) * 10.0, 4) AS lo,
        |  COUNT(*) AS n
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY bin""".stripMargin,
    "scd2_history" ->
      """WITH c AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAG(ts) OVER w AS prev_ts,
        |    LAG(event_type) OVER w AS prev
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |ch AS (
        |  SELECT user_id, ts, event_id, event_type FROM c
        |  WHERE prev_ts IS NULL OR prev IS DISTINCT FROM event_type),
        |iv AS (
        |  SELECT user_id, event_type AS state, ts AS valid_from,
        |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM ch)
        |SELECT user_id, state, valid_from, valid_to,
        |  CAST(valid_to IS NULL AS INT) AS is_current
        |FROM iv ORDER BY user_id, valid_from, state""".stripMargin,
    "value_outliers" ->
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |d AS (
        |  SELECT e.event_type, e.value, m.med
        |  FROM events e JOIN m USING (event_type)
        |  WHERE e.value IS NOT NULL),
        |s AS (
        |  SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        |  FROM d GROUP BY 1)
        |SELECT d.event_type AS event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(ANY_VALUE(d.med), 4) AS med,
        |  ROUND(s.mad, 4) AS mad,
        |  CAST(SUM(CASE WHEN abs(d.value - d.med) > 3 * s.mad
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN s USING (event_type)
        |GROUP BY d.event_type, s.mad
        |ORDER BY event_type""".stripMargin,
    "zorder_codes" -> {
      // The same static bit-interleave formula morton2 builds, in SQL.
      val x = "(o_custkey % 1024)"
      val y = "(o_orderkey % 1024)"
      val z = (0 until 10).map(i =>
        s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"SELECT o_orderkey, CAST($z AS BIGINT) AS z FROM orders ORDER BY o_orderkey"
    },
    "chunk_texts" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    [x FOR x IN range(1, len(toks) + 1, 48) IF x = 1 OR x + 16 <= len(toks)] AS starts
        |  FROM t WHERE len(toks) > 0),
        |u AS (
        |  SELECT doc_id, toks, n,
        |    UNNEST(list_transform(range(1, len(starts) + 1),
        |      j -> {'idx': j - 1, 'st': starts[j]})) AS w
        |  FROM s)
        |SELECT doc_id, CAST(w.idx AS BIGINT) AS chunk_idx,
        |  array_to_string(list_slice(toks, w.st, least(w.st + 63, n)), ' ') AS chunk_text
        |FROM u ORDER BY doc_id, chunk_idx""".stripMargin,
    "corpus_mix" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ('0x' || substring(md5(text), 1, 8))::UBIGINT % 10000 AS bucket,
        |    CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
        |                WHEN 'src2' THEN 2500 WHEN 'src3' THEN 500 END AS rate
        |  FROM documents)
        |WHERE rate IS NOT NULL AND bucket < rate
        |ORDER BY doc_id""".stripMargin,
    "corpus_mix_epochs" ->
      """WITH j AS (
        |  SELECT doc_id, source,
        |    ('0x' || substring(md5(text), 1, 8))::UBIGINT % 10000 AS bucket,
        |    CASE source WHEN 'src0' THEN 25000 WHEN 'src1' THEN 10000
        |                WHEN 'src2' THEN 5000 END AS rate
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, source,
        |    UNNEST(range(1, (rate // 10000)
        |      + CASE WHEN bucket < rate % 10000 THEN 1 ELSE 0 END + 1)) AS epoch
        |  FROM j WHERE rate IS NOT NULL)
        |SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
        |FROM e ORDER BY doc_id, epoch""".stripMargin,
    "corpus_mix_temperature" ->
      """WITH c AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |m AS (SELECT MIN(n) AS nmin FROM c),
        |r AS (
        |  SELECT c.source,
        |    CAST(FLOOR(10000.0 * sqrt(m.nmin::DOUBLE / c.n::DOUBLE)) AS BIGINT) AS rate_bp
        |  FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE ('0x' || substring(md5(d.text), 1, 8))::UBIGINT % 10000 < r.rate_bp
        |ORDER BY d.doc_id""".stripMargin,
    // The oracle states the shuffle's SEMANTIC: one global ROW_NUMBER
    // over the seeded hash. The engine computes the same rank with
    // Par.prefixSum.
    "corpus_shuffle" ->
      """WITH hs AS (
        |  SELECT doc_id, md5('mix42:' || text) AS h FROM documents)
        |SELECT doc_id,
        |  CAST(FLOOR((('0x' || substring(h, 1, 8))::UBIGINT * 64)::DOUBLE
        |             / 4294967296.0) AS INT) AS shard,
        |  CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) AS BIGINT) AS shuffle_pos
        |FROM hs ORDER BY shuffle_pos""".stripMargin,
    "adaptive_length_gate" ->
      graft.pipeline.Curation.sqlAdaptiveLengthGate("documents"),
    // Thresholds fit over the WHOLE relation, output restricted to the
    // batch — exactly the merged-state semantic of the final batch.
    "adaptive_length_gate_incremental" ->
      graft.pipeline.Curation.sqlAdaptiveLengthGate("documents",
        extraWhere = " AND t.doc_id >= 250"),
    "jsonl_documents" ->
      s"""WITH src AS (
         |  SELECT doc_id, source, lang,
         |    text || ['', ' "quoted"', e' back\\\\slash', e' line\\nbreak',
         |             e' tab\\there'][CAST(doc_id % 5 AS INT) + 1] AS text
         |  FROM documents),
         |l AS (SELECT ${graft.sources.Jsonl.sqlRenderExpr(
              "doc_id", "source", "lang", "text")} AS line FROM src)
         |SELECT CAST(json_extract_string(line, '$$.doc_id') AS BIGINT)
         |    AS doc_id,
         |  json_extract_string(line, '$$.source') AS source,
         |  json_extract_string(line, '$$.lang') AS lang,
         |  json_extract_string(line, '$$.text') AS text
         |FROM l ORDER BY doc_id""".stripMargin,
    "warc_wet" ->
      s"""WITH $sqlWarcCtes,
         |wt AS (
         |  SELECT uri,
         |    trim(regexp_replace(regexp_replace(
         |      '<html><body>' || text || '</body></html>',
         |      '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS wet_text
         |  FROM wr0)
         |SELECT uri AS target_uri, '2026-01-01T00:00:00Z' AS warc_date,
         |  wet_text, CAST(length(wet_text) AS BIGINT) AS n_chars,
         |  md5(wet_text) AS digest
         |FROM wt ORDER BY target_uri""".stripMargin,
    "release_shards" ->
      """WITH hs AS (
        |  SELECT doc_id, text, md5('rel42:' || text) AS h FROM documents),
        |o AS (
        |  SELECT text,
        |    len(regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+'))::BIGINT
        |      AS n_tokens,
        |    ROW_NUMBER() OVER (ORDER BY h, doc_id) AS pos
        |  FROM hs),
        |c AS (
        |  SELECT n_tokens, text,
        |    SUM(n_tokens) OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING)
        |      - n_tokens AS off
        |  FROM o),
        |f AS (
        |  SELECT CAST(FLOOR(off / 2048.0) AS BIGINT) AS shard_id, n_tokens,
        |    CAST(('0x' || substring(md5(text), 1, 15))::UBIGINT AS BIGINT) AS fp
        |  FROM c)
        |SELECT shard_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  bit_xor(fp) AS content_fp
        |FROM f GROUP BY 1 ORDER BY shard_id""".stripMargin,
    "sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+'))::BIGINT AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      - n_tokens AS off
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(FLOOR(off / 512.0) AS BIGINT) AS chunk_id,
        |  CASE WHEN n_tokens = 0 THEN 0
        |       ELSE CAST(FLOOR((off + n_tokens - 1) / 512.0) AS BIGINT)
        |            - CAST(FLOOR(off / 512.0) AS BIGINT) + 1 END AS n_chunks
        |FROM o ORDER BY doc_id""".stripMargin,
    "packing_boundaries" ->
      graft.pipeline.Curation.sqlPackingBoundaries(
        "documents", "doc_id", "text", 512L),
    "packing_efficiency" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+'))::BIGINT AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      - n_tokens AS off
        |  FROM t),
        |p AS (
        |  SELECT n_tokens,
        |    CASE WHEN n_tokens = 0 THEN 0
        |         ELSE CAST(FLOOR((off + n_tokens - 1) / 512.0) AS BIGINT)
        |              - CAST(FLOOR(off / 512.0) AS BIGINT) + 1 END AS nc
        |  FROM o),
        |a AS (
        |  SELECT COUNT(*) AS n_docs,
        |    COALESCE(SUM(n_tokens), 0)::BIGINT AS total_tokens,
        |    COALESCE(SUM(CASE WHEN nc > 1 THEN 1 ELSE 0 END), 0)::BIGINT AS straddling_docs,
        |    COALESCE(SUM(GREATEST(nc - 1, 0)), 0)::BIGINT AS boundaries_crossed,
        |    COALESCE(SUM(CASE WHEN n_tokens = 0 THEN 0
        |      ELSE CAST(FLOOR((n_tokens + 511) / 512.0) AS BIGINT) END), 0)::BIGINT
        |      AS padded_chunks
        |  FROM p),
        |b AS (
        |  SELECT *, CAST(FLOOR((total_tokens + 511) / 512.0) AS BIGINT) AS n_chunks
        |  FROM a)
        |SELECT n_docs, total_tokens, n_chunks,
        |  (n_chunks * 512 - total_tokens)::BIGINT AS tail_waste,
        |  straddling_docs, boundaries_crossed, padded_chunks,
        |  (padded_chunks * 512 - total_tokens)::BIGINT AS padded_waste,
        |  round((n_chunks * 512 - total_tokens)::DOUBLE * 100.0 /
        |    nullif((n_chunks * 512)::DOUBLE, 0), 4) AS pct_tail_waste,
        |  round((padded_chunks * 512 - total_tokens)::DOUBLE * 100.0 /
        |    nullif((padded_chunks * 512)::DOUBLE, 0), 4) AS pct_padded_waste
        |FROM b""".stripMargin,
    "k_anonymous_stats" -> graft.pipeline.Curation.sqlKAnonymousStats(5),
    "html_main_content" ->
      ("WITH h AS (SELECT doc_id,\n" +
        "  '<html><body><div class=\"nav\"><a href=\"/\">Home</a> " +
        "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div><p>'\n" +
        "  || text || '</p><div><a>Privacy</a> <a>Terms</a></div>' ||\n" +
        "  CASE WHEN doc_id % 3 = 0 THEN " +
        "'<section>Read more about this topic here</section>' ELSE '' END\n" +
        "  || '</body></html>' AS html FROM documents),\n" +
        graft.ingest.Boilerplate.sqlMainContent("html") +
        "\nORDER BY doc_id"),
    "warc_records" ->
      s"""WITH $sqlWarcCtes,
         |o AS (
         |  SELECT source, uri, clen, payload,
         |    CAST(COALESCE(SUM(strlen(rec)) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS record_offset
         |  FROM wr)
         |SELECT source, record_offset, uri AS target_uri,
         |  clen AS content_length, substring(payload, 1, 15) AS payload_head
         |FROM o ORDER BY source, record_offset""".stripMargin,
    "warc_html_documents" ->
      s"""WITH $sqlWarcCtes
         |SELECT uri AS target_uri, '2026-01-01T00:00:00Z' AS warc_date,
         |  200 AS http_status,
         |  '<html><body>' || text || '</body></html>' AS body
         |FROM wr0 ORDER BY target_uri""".stripMargin,
    "warc_cdx" ->
      s"""WITH $sqlWarcCtes,
         |o AS (
         |  SELECT source, uri, payload,
         |    CAST(strlen(rec) AS BIGINT) AS record_length,
         |    CAST(COALESCE(SUM(strlen(rec)) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS record_offset
         |  FROM wr),
         |c AS (
         |  SELECT
         |    array_to_string(list_reverse(
         |        string_split(${graft.ingest.Urls.sqlHost("uri")}, '.')), ',')
         |      || ')' ||
         |      lower(CASE WHEN regexp_extract(trim(uri),
         |                   '${graft.ingest.Urls.PathRe}', 1) = '' THEN '/'
         |            ELSE regexp_extract(trim(uri),
         |                   '${graft.ingest.Urls.PathRe}', 1) END) AS urlkey,
         |    regexp_replace('2026-01-01T00:00:00Z', '[^0-9]', '', 'g') AS ts14,
         |    uri AS original,
         |    CASE WHEN trim(regexp_extract(payload,
         |           '(?i)\r\ncontent-type: *([^;\r]+)', 1)) = '' THEN 'unk'
         |      ELSE trim(regexp_extract(payload,
         |           '(?i)\r\ncontent-type: *([^;\r]+)', 1)) END AS mime,
         |    TRY_CAST(regexp_extract(payload,
         |      '^HTTP/[0-9.]+ ([0-9]{3})', 1) AS INT) AS status,
         |    md5(payload) AS digest, source AS filename,
         |    record_offset, record_length
         |  FROM o)
         |SELECT * FROM c
         |ORDER BY urlkey, ts14, filename, record_offset""".stripMargin,
    "release_datasheet" ->
      graft.pipeline.Curation.sqlReleaseDatasheet("documents"),
    "release_manifest" ->
      """WITH t AS (
        |  SELECT COALESCE(source, 'Unknown') AS source,
        |    COALESCE(lang, 'und') AS lang,
        |    md5(text) AS h,
        |    len(regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+'))::BIGINT AS n_tok
        |  FROM documents),
        |g AS (
        |  SELECT source, lang,
        |    COUNT(*) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        |    CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_contents
        |  FROM t GROUP BY ROLLUP (source, lang))
        |SELECT COALESCE(source, 'TOTAL') AS source, COALESCE(lang, 'ALL') AS lang,
        |  n_docs, sum_tokens, n_distinct_contents,
        |  round((n_docs - n_distinct_contents)::DOUBLE * 100.0 / n_docs::DOUBLE, 4)
        |    AS pct_dup
        |FROM g
        |ORDER BY source, lang""".stripMargin,
    "release_manifest_sketch" ->
      graft.pipeline.Curation.sqlReleaseManifestSketch("documents"),
    // One NTILE + one ROW_NUMBER state the curriculum semantic; the
    // engine's closed-form tier (== NTILE) and its (tier, hash, id)
    // prefix-sum rank reproduce it exactly.
    "curriculum_order" -> {
      val q = s"COALESCE(${TextAnalysis.sqlQuality("text")}, 0.0)"
      s"""WITH q AS (SELECT doc_id, text, $q AS q FROM documents),
         |r AS (SELECT doc_id, text, q,
         |        NTILE(3) OVER (ORDER BY q, doc_id) AS tier FROM q),
         |p AS (SELECT doc_id, q, tier,
         |        CAST(ROW_NUMBER() OVER (
         |          ORDER BY tier, md5('cur42:' || text), doc_id) AS BIGINT)
         |          AS train_pos
         |      FROM r)
         |SELECT doc_id, q AS quality, tier, train_pos
         |FROM p ORDER BY train_pos""".stripMargin
    },
    "token_spectrum" ->
      """WITH tok AS (
        |  SELECT UNNEST(regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+')) AS tok
        |  FROM documents),
        |occ AS (SELECT tok, COUNT(*) AS occ FROM tok GROUP BY tok)
        |SELECT occ, COUNT(*) AS n_types, CAST(SUM(occ) AS BIGINT) AS token_mass
        |FROM occ GROUP BY occ ORDER BY occ""".stripMargin,
    "ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, UNNEST(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
        |  FROM toks),
        |pairs AS (
        |  SELECT doc_id, substring(md5(s), 1, 15) AS h FROM sh),
        |dfc AS (
        |  SELECT h, COUNT(*) AS df FROM pairs GROUP BY h),
        |per_doc AS (
        |  SELECT p.doc_id,
        |    COUNT(*)::BIGINT AS n_shingles,
        |    SUM(CASE WHEN d.df >= 5 THEN 1 ELSE 0 END)::BIGINT AS n_common
        |  FROM pairs p JOIN dfc d USING (h)
        |  GROUP BY p.doc_id)
        |SELECT t.doc_id,
        |  COALESCE(n_shingles, 0)::BIGINT AS n_shingles,
        |  COALESCE(n_common, 0)::BIGINT AS n_common,
        |  round(COALESCE(n_common, 0)::DOUBLE * 100.0 /
        |    nullif(COALESCE(n_shingles, 0)::DOUBLE, 0), 4) AS pct_common
        |FROM toks t LEFT JOIN per_doc USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "ngram_novelty_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, UNNEST(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
        |  FROM toks),
        |pairs AS (
        |  SELECT doc_id, substring(md5(s), 1, 15) AS h FROM sh),
        |dfc AS (
        |  SELECT h, COUNT(*) AS df FROM pairs GROUP BY h),
        |per_doc AS (
        |  SELECT p.doc_id,
        |    COUNT(*)::BIGINT AS n_shingles,
        |    SUM(CASE WHEN d.df >= 5 THEN 1 ELSE 0 END)::BIGINT AS n_common
        |  FROM pairs p JOIN dfc d USING (h)
        |  WHERE p.doc_id >= 250
        |  GROUP BY p.doc_id)
        |SELECT t.doc_id,
        |  COALESCE(n_shingles, 0)::BIGINT AS n_shingles,
        |  COALESCE(n_common, 0)::BIGINT AS n_common,
        |  round(COALESCE(n_common, 0)::DOUBLE * 100.0 /
        |    nullif(COALESCE(n_shingles, 0)::DOUBLE, 0), 4) AS pct_common
        |FROM toks t LEFT JOIN per_doc USING (doc_id)
        |WHERE t.doc_id >= 250
        |ORDER BY t.doc_id""".stripMargin,
    "curation_report" ->
      """WITH t AS (
        |  SELECT source,
        |    len(regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+'))::BIGINT AS n_tok,
        |    len(list_distinct(regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+')))::BIGINT AS n_dis
        |  FROM documents)
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        |  round(CAST(SUM(n_tok) AS BIGINT)::DOUBLE / COUNT(*), 4) AS mean_tokens,
        |  round(CAST(SUM(n_dis) AS BIGINT)::DOUBLE /
        |    nullif(CAST(SUM(n_tok) AS BIGINT), 0)::DOUBLE, 4) AS distinct_token_ratio,
        |  round(CAST(SUM(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
        |    * 100.0 / COUNT(*), 1) AS pct_short
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    // repetition_stats oracle: the RELATIONAL formulation (explode bigrams
    // -> group -> max/sum) of the same signals the Spark side computes
    // per-row via a sorted-run fold — pinning the two formulations equal.
    "repetition_stats" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+') AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    len(list_distinct(toks)) AS n_distinct,
        |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bgs
        |  FROM t),
        |c AS (
        |  SELECT doc_id, bg, COUNT(*) AS c
        |  FROM (SELECT doc_id, UNNEST(bgs) AS bg FROM b) GROUP BY 1, 2),
        |m AS (SELECT doc_id, MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT b.doc_id AS doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
        |  round(1.0 - n_distinct::DOUBLE / nullif(n_tokens, 0)::DOUBLE, 4) AS dup_token_frac,
        |  round(m.mx::DOUBLE / nullif(m.tot, 0)::DOUBLE, 4) AS top_bigram_frac
        |FROM b LEFT JOIN m ON b.doc_id = m.doc_id ORDER BY doc_id""".stripMargin,
  )
}
