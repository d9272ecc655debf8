package graft.pipeline

import graft.Mat.Pinnable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.{GopherRepetition, GopherRules, TextAnalysis}

/** [EXT] The FineWeb-style end-to-end corpus preset
  * (`corpus_pipeline_fineweb` query) — the published web-corpus recipe
  * (Penedo et al. 2024's FineWeb ordering, which itself composes C4 and
  * Gopher) chained from operators this library already ships:
  *
  *  1. C4 line/page cleaning ([[C4Filters.clean]] — drops chrome lines,
  *     kills lorem-ipsum/brace/thin pages);
  *  2. Gopher RULE gate ([[GopherRules.passExpr]], caller-tuned);
  *  3. Gopher REPETITION gate ([[GopherRepetition.passExpr]]);
  *  4. content-ANCHORED substring dedup
  *     ([[graft.dedup.SubstringDedup.cleaned]] `anchored = true` — copies
  *     align at any offset) + a post-dedup token floor;
  *  5. exact dedup (min-id keeper per identical cleaned text);
  *  6. benchmark decontamination ([[Curation.decontaminate]] against the
  *     C4-cleaned `doc_id % benchMod` slice — the eval set is external,
  *     it does not get deduped first);
  *  7. DSIR-weighted selection ([[Dsir.weights]] toward the
  *     `doc_id % targetMod` in-domain slice; keep docs whose PER-TOKEN
  *     average weight clears `minAvgWeightMicro` — the sum is
  *     length-dominated, the average is the resemblance signal. The
  *     floor(sum∕n) is one correctly-rounded IEEE divide + floor, so
  *     both engines compute the identical integer);
  *  8. deterministic seeded shuffle ([[Curation.shuffleCorpus]]'s
  *     order, md5(seed ‖ ':' ‖ text) then doc_id);
  *  9. GPT-style sequence packing in SHUFFLE order ([[Curation.packByOrder]]
  *     arithmetic).
  *
  * Output: (doc_id, shuffle_pos, n_tokens, chunk_id, n_chunks) ordered by
  * shuffle_pos. Every stage is ANSI-expressible, so ONE DuckDB WITH-chain
  * ([[sqlPipeline]]) replays the whole line — the drift guard: a change to
  * any stage's semantics breaks the end-to-end hash.
  *
  * Scale shape: stages 1-3 are scan-stage per-row expressions; 4 is the
  * payload-free md5-keyed marking exchange + doc-keyed rebuild; 5 is one
  * hash shuffle on the text; 6 is a broadcast semi-join + doc-keyed agg;
  * 7 is a broadcast weight-table join + doc-keyed agg; 8+9 are ONE
  * [[graft.Par.prefixSum]] giving both the rank and the token offset —
  * no single-partition window anywhere in the preset. Nothing
  * quadratic, nothing driver-bound beyond the 256-row DSIR weight table
  * and the per-partition prefix totals.
  */
object FineWebPipeline {

  /** The intermediate stage frames, exposed so [[apply]] (the packed
    * corpus) and [[funnel]] (the per-stage survivor counts) share ONE
    * construction — the two can't drift. */
  final case class Stages(c4: DataFrame, gated: DataFrame, sub: DataFrame,
                          keepers: DataFrame, clean: DataFrame,
                          sampled: DataFrame)

  /** Stage-1 C4 cleaning with the preset's column contract
    * (doc_id, text) — shared by [[stages]], [[incrementalStages]], and
    * [[benchSlice]] so the three can't diverge on the cleaned text.
    * The cleaned text is NFC-normalized (r10) so every downstream key —
    * window hashes, content hashes, decontamination shingles, DSIR
    * buckets — sees canonical bytes: the RefinedWeb placement proof
    * (an NFD twin defeats raw-byte dedup) applies to this preset's
    * stage-4/5 hashing identically (FineWebPipelineSpec pins it). */
  def c4Stage(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              minWordsPerLine: Int = 5, minLines: Int = 3): DataFrame =
    C4Filters.clean(docs, idCol, textCol, minWordsPerLine, minLines)
      .select(col(idCol).cast("long").as("doc_id"),
        org.apache.spark.sql.graft.ArrayFunctions
          .nfcNormalize(col("clean_text")).as("text"))

  /** The default benchmark slice: the C4-cleaned `doc_id % benchMod`
    * rows of `docs`. [[stages]] derives this internally when no explicit
    * bench is passed; incremental callers build it ONCE from the fixed
    * eval set and persist it ([[state]]). */
  def benchSlice(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 minWordsPerLine: Int = 5, minLines: Int = 3,
                 benchMod: Int = 10, benchCap: Long = 5000L): DataFrame =
    c4Stage(docs, idCol, textCol, minWordsPerLine, minLines)
      .filter(col("doc_id") % benchMod === 0 && col("doc_id") < benchCap)

  def stages(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
             minWordsPerLine: Int = 5, minLines: Int = 3,
             gopherTh: GopherRules.Thresholds = GopherRules.Thresholds(),
             repetitionTh: GopherRepetition.Thresholds = GopherRepetition.Thresholds(),
             width: Int = 20, stride: Int = 5, minTokens: Int = 20,
             benchMod: Int = 10, shingleN: Int = 3, overlapThreshold: Long = 5L,
             targetMod: Int = 3, dsirBuckets: Int = 256,
             minAvgWeightMicro: Long = -400000L,
             benchOverride: Option[DataFrame] = None,
             benchCap: Long = 5000L): Stages = {
    // 1. C4 line/page cleaning — the cleaned text becomes THE text.
    // Pinned (r17, guide §1.2): the frame feeds the gate chain, the
    // benchmark slice AND the funnel's c4 count — unpinned, each reader
    // re-ran the (heavy, per-line HOF) C4 cleaning over the raw corpus.
    val c4 = c4Stage(docs, idCol, textCol, minWordsPerLine, minLines)
      .pinned
    // 2+3. Gopher rule + repetition gates: pure per-row filters.
    // Pinned (r17): [[graft.dedup.SubstringDedup.cleaned]] evaluates its
    // input THREE times (window pass, rebuild token table, token totals)
    // and the funnel counts it a fourth — each evaluation re-ran both
    // Gopher gate passes over the corpus before this.
    val gated = c4
      .filter(GopherRules.passExpr(col("text"), gopherTh))
      .filter(GopherRepetition.passExpr(col("text"), repetitionTh))
      .pinned
    // 4. anchored substring dedup + token floor. The rebuild joins tokens
    // with single spaces, so downstream stages see space-joined text on
    // both engines.
    val sub = graft.dedup.SubstringDedup
      .cleaned(gated, "doc_id", "text", width, stride, anchored = true)
      .select(col("doc_id"), col("text_clean").as("text"))
      .filter(size(TextAnalysis.tokens(col("text"))) >= minTokens)
    // 5. exact dedup — feeds the decontamination probe AND the join-back,
    // so checkpoint once (the CorpusPipeline discipline).
    val keepers = sub
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("text"))))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("text"))
      .pinned
    // 6. decontaminate against the C4-cleaned benchmark slice (bench docs
    // self-match and drop too — the eval set never enters the corpus).
    // Capped like CorpusPipeline.benchCap (r12): a pure mod-slice
    // benchmark GROWS with the corpus and its shingle set eventually
    // closes over the fixture vocabulary (measured zeroing at 10x,
    // BASELINE.md) — an eval suite is constant-size by contract. The
    // default 5000 cap is a no-op at every driver fixture scale; the
    // parameter (r13 advice) keeps [[benchSlice]] callers, this internal
    // slice, and the SQL mirror on ONE knob — a caller-tuned cap can no
    // longer silently disagree with the literal the chain hashes.
    val bench = benchOverride.getOrElse(
      c4.filter(col("doc_id") % benchMod === 0 && col("doc_id") < benchCap))
    val clean = Curation.decontaminate(keepers, "doc_id", "text",
        bench, "text", shingleN, overlapThreshold)
      .filter(col("contaminated") === 0)
      .select(col("doc_id"))
      .join(keepers, Seq("doc_id"))
      .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))).cast("long"))
      .pinned // feeds the DSIR weight build + the join-back
    // 7. DSIR per-token-average floor.
    val wts = Dsir.weights(clean, col("doc_id") % targetMod === 0,
      "doc_id", "text", dsirBuckets)
    val sampled = clean.join(wts, Seq("doc_id"))
      .filter(floor(col("dsir_weight").cast("double") / col("n_tokens").cast("double"))
        .cast("long") >= minAvgWeightMicro)
      .select(col("doc_id"), col("text"), col("n_tokens"))
    Stages(c4, gated, sub, keepers, clean, sampled)
  }

  // ------------------------------------------------------------------
  // INCREMENTAL preset (`fineweb_incremental` query) — the production
  // shape of the whole line: clean a NEW batch against history without
  // re-reading history text, by composing the persisted per-stage state
  // this library's incremental operators already define:
  //
  //  - `windowIndex`  — history's anchored window-hash index
  //    ([[graft.dedup.SubstringDedup.windowIndex]] over the GATED stage;
  //    32-hex key + keeper position, never the window text) for stage 4;
  //  - `contentIndex` — history's content-hash index over the
  //    post-substring, post-floor texts
  //    ([[graft.dedup.Dedup.exactIndex]]) for stage 5;
  //  - `bench`        — the FIXED eval set (benchmark suites are small
  //    and known upfront; persisting the rows themselves is cheaper than
  //    any sketch) for stage 6;
  //  - `dsirCounts`   — the ADDITIVE per-bucket (f, ct, cr) token counts
  //    over history's decontaminated docs ([[Dsir.countTable]]; ≤
  //    `dsirBuckets` rows) for stage 7 — merged with the batch's counts
  //    they reproduce the weight table a full recompute would build.
  //
  // (The paragraph-norm index composes the same way for presets that
  // include [[graft.dedup.ParagraphDedup]]; THIS preset's granularities
  // are window + whole-document, so it has no paragraph stage.)
  //
  // Contract (FineWebPipelineSpec pins it across splits AND across
  // chained batches): whenever history doc ids precede batch doc ids
  // (append-only corpus) and the bench set is the fixed eval set,
  //
  //   CLEANING (stages 1-6): incrementalStages(batch, state).clean
  //     == the batch rows of stages(history ∪ batch).clean — and this
  //     composes across any number of chained batches;
  //   SELECTION (stage 7): equivalence needs the FINAL counts, so
  //     incremental(batch, state).sampled == the batch rows of the full
  //     recompute's .sampled exactly when `state` covers all other data
  //     (the last/only batch — the `fineweb_incremental` query's case);
  //     mid-build, selection re-runs at release time ([[dsirSelect]]
  //     over the accumulated clean rows + merged counts).
  //
  // Why stages 1-6 preserve it: 1-3 are per-row; 4 is
  // [[graft.dedup.SubstringDedup.cleanedIncremental]]'s pinned
  // union-equivalence (history occurrences always win keep-first, and a
  // history window is never un-removed by new data); 5's min-id keeper
  // can only be a history doc when the hash is indexed (ids are
  // monotone), else the batch min — the anti-join + within-batch window
  // below; 6 is per-row against a FIXED set — and history's clean set
  // is STABLE under appends (stages 4-5 keepers never flip to batch
  // docs; stage 6's bench is fixed), which is what makes the additive
  // count state faithful. Stages 8-9 (shuffle, pack) are
  // per-training-run steps over the assembled corpus, not per-batch.
  //
  // Scale: per-batch cost is O(|batch|) joins against pre-bucketed
  // indexes; the state grows by novel hashes only ([[stateAfterBatch]]),
  // and dsirCounts stays ≤ `dsirBuckets` rows forever.
  // ------------------------------------------------------------------

  /** The persisted history state an incremental FineWeb build carries. */
  final case class IncrementalState(windowIndex: DataFrame,
                                    contentIndex: DataFrame,
                                    bench: DataFrame,
                                    dsirCounts: DataFrame)

  /** Batch-side stage frames, exposed so [[incremental]] (the cleaned
    * rows) and [[stateAfterBatch]] (the state update) share one
    * construction. */
  final case class IncStages(gated: DataFrame, sub: DataFrame,
                             clean: DataFrame, sampled: DataFrame)

  /** Build the incremental state from a history corpus and the fixed
    * eval set (in production each frame is a persisted table; bench must
    * expose (doc_id, text)). History is replayed through [[stages]] with
    * the SAME fixed bench so the state describes exactly the corpus an
    * incremental build extends. */
  def state(history: DataFrame, bench: DataFrame,
            idCol: String = "doc_id", textCol: String = "text",
            minWordsPerLine: Int = 5, minLines: Int = 3,
            gopherTh: GopherRules.Thresholds = GopherRules.Thresholds(),
            repetitionTh: GopherRepetition.Thresholds = GopherRepetition.Thresholds(),
            width: Int = 20, stride: Int = 5, minTokens: Int = 20,
            shingleN: Int = 3, overlapThreshold: Long = 5L,
            targetMod: Int = 3, dsirBuckets: Int = 256,
            minAvgWeightMicro: Long = -400000L): IncrementalState = {
    val st = stages(history, idCol, textCol, minWordsPerLine, minLines,
      gopherTh, repetitionTh, width, stride, minTokens,
      benchMod = 1 /* unused: benchOverride set */, shingleN, overlapThreshold,
      targetMod, dsirBuckets, minAvgWeightMicro, benchOverride = Some(bench))
    IncrementalState(
      windowIndex = graft.dedup.SubstringDedup.windowIndex(
        graft.dedup.SubstringDedup.windows(st.gated, "doc_id", "text",
          width, stride, anchored = true)),
      contentIndex = graft.dedup.Dedup.exactIndex(st.sub, "doc_id", "text"),
      bench = bench,
      dsirCounts = Dsir.countTable(st.clean,
        col("doc_id") % targetMod === 0, "text", dsirBuckets))
  }

  /** Run a new batch through stages 1-7 against the history state. */
  def incrementalStages(batch: DataFrame, st: IncrementalState,
                        idCol: String = "doc_id", textCol: String = "text",
                        minWordsPerLine: Int = 5, minLines: Int = 3,
                        gopherTh: GopherRules.Thresholds = GopherRules.Thresholds(),
                        repetitionTh: GopherRepetition.Thresholds = GopherRepetition.Thresholds(),
                        width: Int = 20, stride: Int = 5, minTokens: Int = 20,
                        shingleN: Int = 3, overlapThreshold: Long = 5L,
                        targetMod: Int = 3, dsirBuckets: Int = 256,
                        minAvgWeightMicro: Long = -400000L): IncStages = {
    // 1-3. per-row stages, identical to the full preset. Pinned for the
    // same reason as [[stages]] (r17): the incremental substring dedup
    // evaluates its input three times, and [[stateAfterBatch]] reads
    // `gated` again for the window-index update.
    val c4 = c4Stage(batch, idCol, textCol, minWordsPerLine, minLines)
    val gated = c4
      .filter(GopherRules.passExpr(col("text"), gopherTh))
      .filter(GopherRepetition.passExpr(col("text"), repetitionTh))
      .pinned
    // 4. anchored substring dedup against the window-hash index
    //    (+ keep-first among batch siblings) + the token floor.
    val sub = graft.dedup.SubstringDedup
      .cleanedIncremental(gated, "doc_id", "text", st.windowIndex,
        width, stride, anchored = true)
      .select(col("doc_id"), col("text_clean").as("text"))
      .filter(size(TextAnalysis.tokens(col("text"))) >= minTokens)
    // 5. exact dedup: a batch text already in history drops via the
    //    content-hash probe; among batch siblings the min id keeps.
    val keepers = sub
      .withColumn("__h", md5(col("text")))
      .join(st.contentIndex.select(col("h")), col("__h") === col("h"), "left_anti")
      .drop("__h")
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("text"))))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("text"))
      .pinned
    // 6. decontaminate against the FIXED eval set.
    val clean = Curation.decontaminate(keepers, "doc_id", "text",
        st.bench, "text", shingleN, overlapThreshold)
      .filter(col("contaminated") === 0)
      .select(col("doc_id"))
      .join(keepers, Seq("doc_id"))
      .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))).cast("long"))
      .pinned
    // 7. DSIR floor with the weight table rebuilt from MERGED counts.
    //    NOTE the scope of this stage's equivalence: the weight table
    //    depends on the counts of the WHOLE corpus, so `sampled` equals
    //    the full-recompute selection only when `st` already covers all
    //    other data (a final batch / the query's single-batch case).
    //    Mid-build, `clean` is the append-only deliverable and selection
    //    re-runs at release time over the final counts ([[dsirSelect]])
    //    — mirroring how DSIR is used in practice: clean incrementally,
    //    select against the finished importance estimate.
    val counts = Dsir.mergeCounts(st.dsirCounts,
      Dsir.countTable(clean, col("doc_id") % targetMod === 0, "text", dsirBuckets))
    IncStages(gated, sub, clean,
      dsirSelect(clean, counts, dsirBuckets, minAvgWeightMicro))
  }

  /** Release-time DSIR selection: the stage-7 floor over accumulated
    * clean rows (doc_id, text, n_tokens) and a FINAL count table —
    * exactly the full preset's selection when `counts` covers the whole
    * corpus ([[Dsir.mergeCounts]] of every batch's table; StreamingSpec
    * pins sink + final counts == full recompute). */
  def dsirSelect(clean: DataFrame, counts: DataFrame,
                 dsirBuckets: Int = 256,
                 minAvgWeightMicro: Long = -400000L): DataFrame = {
    val wts = Dsir.weightsFromTable(clean,
      Dsir.weightTableFromCounts(counts, dsirBuckets), "doc_id", "text", dsirBuckets)
    clean.join(wts, Seq("doc_id"))
      .filter(floor(col("dsir_weight").cast("double") / col("n_tokens").cast("double"))
        .cast("long") >= minAvgWeightMicro)
      .select(col("doc_id"), col("text"), col("n_tokens"))
  }

  /** The incremental preset's output: the batch's cleaned, selected
    * (doc_id, text, n_tokens) rows, ordered by id. */
  def incremental(batch: DataFrame, st: IncrementalState,
                  idCol: String = "doc_id", textCol: String = "text",
                  minWordsPerLine: Int = 5, minLines: Int = 3,
                  gopherTh: GopherRules.Thresholds = GopherRules.Thresholds(),
                  repetitionTh: GopherRepetition.Thresholds = GopherRepetition.Thresholds(),
                  width: Int = 20, stride: Int = 5, minTokens: Int = 20,
                  shingleN: Int = 3, overlapThreshold: Long = 5L,
                  targetMod: Int = 3, dsirBuckets: Int = 256,
                  minAvgWeightMicro: Long = -400000L): DataFrame =
    incrementalStages(batch, st, idCol, textCol, minWordsPerLine, minLines,
      gopherTh, repetitionTh, width, stride, minTokens, shingleN,
      overlapThreshold, targetMod, dsirBuckets, minAvgWeightMicro)
      .sampled.orderBy(col("doc_id"))

  /** The state after absorbing a batch (for the NEXT batch): indexes
    * grow by their novel hashes only; counts add. Chaining preserves the
    * union-equivalence contract whenever batch ids stay monotone. */
  def stateAfterBatch(st: IncrementalState, inc: IncStages,
                      width: Int = 20, stride: Int = 5,
                      targetMod: Int = 3, dsirBuckets: Int = 256): IncrementalState =
    IncrementalState(
      windowIndex = graft.dedup.SubstringDedup.indexAfterBatch(st.windowIndex,
        graft.dedup.SubstringDedup.windows(inc.gated, "doc_id", "text",
          width, stride, anchored = true)),
      contentIndex = graft.dedup.Dedup.exactIndexAfterBatch(st.contentIndex,
        inc.sub, "doc_id", "text"),
      bench = st.bench,
      dsirCounts = Dsir.mergeCounts(st.dsirCounts,
        Dsir.countTable(inc.clean, col("doc_id") % targetMod === 0,
          "text", dsirBuckets)))

  def apply(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
            minWordsPerLine: Int = 5, minLines: Int = 3,
            gopherTh: GopherRules.Thresholds = GopherRules.Thresholds(),
            repetitionTh: GopherRepetition.Thresholds = GopherRepetition.Thresholds(),
            width: Int = 20, stride: Int = 5, minTokens: Int = 20,
            benchMod: Int = 10, shingleN: Int = 3, overlapThreshold: Long = 5L,
            targetMod: Int = 3, dsirBuckets: Int = 256,
            minAvgWeightMicro: Long = -400000L,
            seed: String = "fineweb",
            budget: Long = 64L, benchCap: Long = 5000L): DataFrame = {
    val st = stages(docs, idCol, textCol, minWordsPerLine, minLines,
      gopherTh, repetitionTh, width, stride, minTokens,
      benchMod, shingleN, overlapThreshold, targetMod, dsirBuckets,
      minAvgWeightMicro, benchCap = benchCap)
    // 8+9. seeded shuffle and pack in one prefix sum over the shuffle
    // order (md5(seed:text), doc_id): shuffle_pos is the rank, the
    // token offset packs the chunks.
    val (ranked, _) = graft.Par.prefixSum(
      st.sampled.select(col("doc_id"), col("n_tokens"),
        md5(concat_ws(":", lit(seed), col("text"))).as("__h")),
      Seq(col("__h"), col("doc_id")),
      "shuffle_pos" -> lit(1L), "offset" -> col("n_tokens"))
    Curation.chunkSpan(ranked, budget)
      .select(col("doc_id"), (col("shuffle_pos") + 1L).as("shuffle_pos"),
        col("n_tokens"), col("chunk_id"), col("n_chunks"))
      .orderBy(col("shuffle_pos"))
  }

  /** Per-stage survivor counts (`fineweb_funnel` query) — the ablation
    * table a corpus release publishes for THIS preset: (stage, gate,
    * n_docs) for raw → c4 → gates → substring+floor → exact_dedup →
    * decontaminate → dsir. Stage frames come from [[stages]], so the
    * funnel counts EXACTLY what [[apply]] ships (shared construction, no
    * drift); the checkpointed stages make the seven counts cheap. The
    * sampling/shuffle/pack stages don't change membership beyond
    * `sampled`, so `dsir` is the final corpus size. */
  def funnel(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
             minWordsPerLine: Int = 5, minLines: Int = 3,
             gopherTh: GopherRules.Thresholds = GopherRules.Thresholds(),
             repetitionTh: GopherRepetition.Thresholds = GopherRepetition.Thresholds(),
             width: Int = 20, stride: Int = 5, minTokens: Int = 20,
             benchMod: Int = 10, shingleN: Int = 3, overlapThreshold: Long = 5L,
             targetMod: Int = 3, dsirBuckets: Int = 256,
             minAvgWeightMicro: Long = -400000L,
             benchCap: Long = 5000L): DataFrame = {
    val st = stages(docs, idCol, textCol, minWordsPerLine, minLines,
      gopherTh, repetitionTh, width, stride, minTokens,
      benchMod, shingleN, overlapThreshold, targetMod, dsirBuckets,
      minAvgWeightMicro, benchCap = benchCap)
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(
      (0L, "raw", docs.count()),
      (1L, "c4", st.c4.count()),
      (2L, "gates", st.gated.count()),
      (3L, "substring_floor", st.sub.count()),
      (4L, "exact_dedup", st.keepers.count()),
      (5L, "decontaminate", st.clean.count()),
      (6L, "dsir", st.sampled.count()))
      .toDF("stage", "gate", "n_docs")
      .orderBy(col("stage"))
  }

  /** The whole line as ONE DuckDB WITH-chain over a relation exposing
    * (doc_id, text) — parameter defaults match [[apply]]. */
  def sqlPipeline(from: String,
                  minWordsPerLine: Int = 5, minLines: Int = 3,
                  gopherTh: GopherRules.Thresholds = GopherRules.Thresholds(),
                  repetitionTh: GopherRepetition.Thresholds = GopherRepetition.Thresholds(),
                  width: Int = 20, stride: Int = 5, minTokens: Int = 20,
                  benchMod: Int = 10, shingleN: Int = 3, overlapThreshold: Long = 5L,
                  targetMod: Int = 3, dsirBuckets: Int = 256,
                  minAvgWeightMicro: Long = -400000L,
                  seed: String = "fineweb", budget: Long = 64L,
                  benchCap: Long = 5000L): String =
    sqlCtes(from, minWordsPerLine, minLines, gopherTh, repetitionTh,
      width, stride, minTokens, benchMod, shingleN, overlapThreshold,
      targetMod, dsirBuckets, minAvgWeightMicro, benchCap) +
      s""",
         |shf AS (SELECT doc_id, n_tokens,
         |          CAST(ROW_NUMBER() OVER (ORDER BY md5('$seed:' || text), doc_id) AS BIGINT)
         |            AS shuffle_pos
         |        FROM samp),
         |o2 AS (SELECT doc_id, shuffle_pos, n_tokens,
         |         SUM(n_tokens) OVER (ORDER BY shuffle_pos ROWS UNBOUNDED PRECEDING) - n_tokens AS off
         |       FROM shf)
         |SELECT doc_id, shuffle_pos, n_tokens,
         |  CAST(FLOOR(off / $budget.0) AS BIGINT) AS chunk_id,
         |  CASE WHEN n_tokens = 0 THEN 0
         |       ELSE CAST(FLOOR((off + n_tokens - 1) / $budget.0) AS BIGINT)
         |            - CAST(FLOOR(off / $budget.0) AS BIGINT) + 1 END AS n_chunks
         |FROM o2 ORDER BY shuffle_pos""".stripMargin

  /** DuckDB mirror of [[incremental]] with history = `doc_id < split`,
    * batch = the rest, bench = the full fixed slice: BY the
    * union-equivalence contract, the incremental result IS the batch
    * rows of the full recompute — so the oracle replays the FULL
    * WITH-chain and selects the batch rows, cross-checking the
    * equivalence theorem itself against the engine's genuinely
    * incremental path. */
  def sqlIncremental(from: String, split: Long,
                     minWordsPerLine: Int = 5, minLines: Int = 3,
                     gopherTh: GopherRules.Thresholds = GopherRules.Thresholds(),
                     repetitionTh: GopherRepetition.Thresholds = GopherRepetition.Thresholds(),
                     width: Int = 20, stride: Int = 5, minTokens: Int = 20,
                     benchMod: Int = 10, shingleN: Int = 3, overlapThreshold: Long = 5L,
                     targetMod: Int = 3, dsirBuckets: Int = 256,
                     minAvgWeightMicro: Long = -400000L,
                     benchCap: Long = 5000L): String =
    sqlCtes(from, minWordsPerLine, minLines, gopherTh, repetitionTh,
      width, stride, minTokens, benchMod, shingleN, overlapThreshold,
      targetMod, dsirBuckets, minAvgWeightMicro, benchCap) +
      s"""
         |SELECT doc_id, text, n_tokens FROM samp
         |WHERE doc_id >= $split ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of [[funnel]] — the same CTE chain, counted per
    * stage. */
  def sqlFunnel(from: String,
                minWordsPerLine: Int = 5, minLines: Int = 3,
                gopherTh: GopherRules.Thresholds = GopherRules.Thresholds(),
                repetitionTh: GopherRepetition.Thresholds = GopherRepetition.Thresholds(),
                width: Int = 20, stride: Int = 5, minTokens: Int = 20,
                benchMod: Int = 10, shingleN: Int = 3, overlapThreshold: Long = 5L,
                targetMod: Int = 3, dsirBuckets: Int = 256,
                minAvgWeightMicro: Long = -400000L,
                benchCap: Long = 5000L): String =
    sqlCtes(from, minWordsPerLine, minLines, gopherTh, repetitionTh,
      width, stride, minTokens, benchMod, shingleN, overlapThreshold,
      targetMod, dsirBuckets, minAvgWeightMicro, benchCap) +
      """
        |SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS gate,
        |       CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_docs
        |UNION ALL SELECT 1, 'c4', (SELECT COUNT(*) FROM g0)
        |UNION ALL SELECT 2, 'gates', (SELECT COUNT(*) FROM g)
        |UNION ALL SELECT 3, 'substring_floor', (SELECT COUNT(*) FROM fl)
        |UNION ALL SELECT 4, 'exact_dedup', (SELECT COUNT(*) FROM keep)
        |UNION ALL SELECT 5, 'decontaminate', (SELECT COUNT(*) FROM clean)
        |UNION ALL SELECT 6, 'dsir', (SELECT COUNT(*) FROM samp)
        |ORDER BY stage""".stripMargin

  private def sqlCtes(from: String,
                      minWordsPerLine: Int, minLines: Int,
                      gopherTh: GopherRules.Thresholds,
                      repetitionTh: GopherRepetition.Thresholds,
                      width: Int, stride: Int, minTokens: Int,
                      benchMod: Int, shingleN: Int, overlapThreshold: Long,
                      targetMod: Int, dsirBuckets: Int,
                      minAvgWeightMicro: Long,
                      benchCap: Long = 5000L): String = {
    require(shingleN == 3, "oracle shingle CTEs are written for n = 3")
    val tok = "[^ \\t\\n\\x0B\\f\\r]+"
    val wm1 = width - 1          // slice end offset
    val wm2 = width - 2          // range upper bound for starts (exclusive)
    val rulesPass = GopherRules.sqlPassExpr("text", gopherTh)
    val repSig = GopherRepetition.sqlSignals("g0", repetitionTh)
    s"""WITH d AS (SELECT * FROM $from),
       |c4k AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split(text, chr(10)), l ->
       |      regexp_matches(trim(l), '[.!?"]$$')
       |      AND len(regexp_extract_all(l, '$tok')) >= $minWordsPerLine
       |      AND NOT contains(lower(l), 'javascript')) AS kept
       |  FROM d),
       |c4 AS (
       |  SELECT doc_id, array_to_string(kept, chr(10)) AS ctext FROM c4k
       |  WHERE NOT contains(lower(text), 'lorem ipsum')
       |    AND NOT contains(text, '{') AND len(kept) >= $minLines),
       |g0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |         nfc_normalize(ctext) AS text FROM c4),
       |g AS (SELECT doc_id, text FROM g0
       |      WHERE $rulesPass
       |        AND doc_id IN (SELECT doc_id FROM ($repSig) rs WHERE rs.pass)),
       |t AS (SELECT doc_id, regexp_extract_all(text, '$tok') AS toks FROM g),
       |w AS (
       |  SELECT doc_id, CAST(s AS BIGINT) AS start,
       |    lower(array_to_string(list_slice(toks, s, s + $wm1), ' ')) AS norm
       |  FROM (SELECT doc_id, toks,
       |          UNNEST(list_filter(range(1, len(toks) - $wm2),
       |            s -> ('0x' || substring(md5(lower(toks[s])), 1, 8))::UBIGINT % $stride = 0)) AS s
       |        FROM t WHERE len(toks) >= $width)),
       |m AS (SELECT doc_id, start,
       |        ROW_NUMBER() OVER (PARTITION BY md5(norm) ORDER BY doc_id, start) AS rn,
       |        COUNT(*) OVER (PARTITION BY md5(norm)) AS n_occ
       |      FROM w),
       |r AS (SELECT doc_id, start, start + $wm1 AS fin FROM m WHERE rn > 1 AND n_occ >= 2),
       |i AS (SELECT doc_id, start, fin,
       |        MAX(fin) OVER (PARTITION BY doc_id ORDER BY start
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_fin FROM r),
       |gg AS (SELECT doc_id, start, fin,
       |        SUM(CASE WHEN prev_fin IS NULL OR start > prev_fin + 1 THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY doc_id ORDER BY start) AS island FROM i),
       |mi AS (SELECT doc_id, MIN(start) AS rm_start, MAX(fin) AS rm_end
       |       FROM gg GROUP BY doc_id, island),
       |tk AS (SELECT doc_id, CAST(p AS BIGINT) AS pos, toks[p] AS tok
       |       FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks) + 1)) AS p FROM t)),
       |kp AS (SELECT tk.* FROM tk WHERE NOT EXISTS (SELECT 1 FROM mi
       |        WHERE mi.doc_id = tk.doc_id AND tk.pos BETWEEN mi.rm_start AND mi.rm_end)),
       |sdagg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text FROM kp GROUP BY 1),
       |sd AS (SELECT t.doc_id, COALESCE(sdagg.text, '') AS text
       |       FROM t LEFT JOIN sdagg USING (doc_id)),
       |fl AS (SELECT doc_id, text, regexp_extract_all(lower(text), '$tok') AS ltoks
       |       FROM sd WHERE len(regexp_extract_all(lower(text), '$tok')) >= $minTokens),
       |keep AS (SELECT doc_id, text, ltoks FROM (
       |          SELECT doc_id, text, ltoks, MIN(doc_id) OVER (PARTITION BY text) AS keeper
       |          FROM fl)
       |         WHERE doc_id = keeper),
       |benchsh AS (SELECT DISTINCT UNNEST(list_distinct(list_transform(range(1, len(btoks) - 1),
       |              i -> btoks[i] || ' ' || btoks[i+1] || ' ' || btoks[i+2]))) AS sh
       |            FROM (SELECT regexp_extract_all(lower(text), '$tok') AS btoks
       |                  FROM g0 WHERE doc_id % $benchMod = 0 AND doc_id < $benchCap)),
       |docsh AS (SELECT doc_id, UNNEST(list_distinct(list_transform(range(1, len(ltoks) - 1),
       |            i -> ltoks[i] || ' ' || ltoks[i+1] || ' ' || ltoks[i+2]))) AS sh FROM keep),
       |ovl AS (SELECT d2.doc_id, COUNT(*) AS n FROM docsh d2 JOIN benchsh USING (sh) GROUP BY 1),
       |clean AS (SELECT k.doc_id, k.text, k.ltoks FROM keep k LEFT JOIN ovl o USING (doc_id)
       |          WHERE COALESCE(o.n, 0) < $overlapThreshold),
       |dtok AS (SELECT doc_id, (doc_id % $targetMod = 0) AS is_t,
       |           ('0x' || substring(md5(tok), 1, 8))::UBIGINT % $dsirBuckets AS f
       |         FROM (SELECT doc_id, UNNEST(ltoks) AS tok FROM clean)),
       |dcnt AS (SELECT f, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct, COUNT(*) AS cr
       |         FROM dtok GROUP BY f),
       |dtot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM dcnt),
       |dwt AS (SELECT f, CAST(FLOOR(ln(((ct + 1) * (nr + $dsirBuckets))::DOUBLE /
       |            ((cr + 1) * (nt + $dsirBuckets))::DOUBLE) * 1000000.0) AS BIGINT) AS w
       |        FROM dcnt CROSS JOIN dtot),
       |dw AS (SELECT c.doc_id, COALESCE(s.s, 0) AS wgt FROM clean c LEFT JOIN (
       |         SELECT dtok.doc_id, CAST(SUM(dwt.w) AS BIGINT) AS s
       |         FROM dtok JOIN dwt USING (f) GROUP BY dtok.doc_id) s USING (doc_id)),
       |samp AS (SELECT c.doc_id, c.text, CAST(len(c.ltoks) AS BIGINT) AS n_tokens
       |         FROM clean c JOIN dw USING (doc_id)
       |         WHERE CAST(FLOOR(dw.wgt::DOUBLE / len(c.ltoks)::DOUBLE) AS BIGINT)
       |               >= $minAvgWeightMicro)""".stripMargin
  }
}
