package graft.pipeline

import graft.Mat.Pinnable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] The full training-corpus assembly line as ONE composition
  * (`corpus_pipeline` query) — every stage is an operator this library
  * already ships, chained the way a 100 TB data pipeline actually runs:
  *
  *  1. PII scrub ([[Pii.redact]] — per-row regexps);
  *  2. exact sub-document dedup ([[graft.dedup.ParagraphDedup]] at
  *     token-span granularity: `spanTokens`-wide blocks, keep-first,
  *     df-thresholded — a block is removed only when it occurs
  *     `spanMinOcc`-or-more times corpus-wide, the RefinedWeb
  *     boilerplate policy. Rare 2-copy repeats survive, so the exact
  *     whole-doc dedup downstream stays non-redundant);
  *  3. quality floor (≥ 20 tokens on the span-deduped text), plus an
  *     OPTIONAL Gopher rule gate ([[graft.text.GopherRules.passExpr]],
  *     caller-tuned thresholds) on the same text — rule gates before
  *     dedup, cheapest first (`corpus_pipeline_gated` runs it on) —
  *     and an OPTIONAL Gopher repetition gate
  *     ([[graft.text.GopherRepetition.passExpr]]; `corpus_pipeline_full`
  *     runs both);
  *  4. exact dedup (keeper = min doc id per identical cleaned text — a
  *     window min, no join; [[graft.dedup.Dedup.exact]] semantics);
  *  5. benchmark decontamination ([[Curation.decontaminate]]: the
  *     doc_id % 97 slice stands in for an eval suite, matched against
  *     the UNMODIFIED scrubbed text — an eval set is external, the
  *     pipeline doesn't get to dedup it; contaminated docs drop,
  *     including the benchmark docs themselves);
  *  6. deterministic 80% sample ([[Curation.sampleDeterministic]],
  *     content-keyed on the cleaned text);
  *  7. GPT-style sequence packing ([[Curation.packChunksScalable]],
  *     budget 512).
  *
  * Oracle-checked END TO END: each stage is ANSI-expressible, so one
  * DuckDB WITH-chain replays the whole line and hash-compares the final
  * chunk assignment — the strongest composition check in the suite
  * (`corpus_clean` covers the near-dup variant of stage 4).
  *
  * Scale shape: stages 1 is scan-stage expressions; 2 is one exchange
  * keyed by the normalized span + one groupBy on doc id (linear, no
  * fan-out — see [[graft.dedup.ParagraphDedup]]); 3 is a filter; 4 is
  * one hash shuffle on the text; 5 is a broadcast semi-join + a groupBy
  * on doc id; 6 is a filter; 7 is the distributed prefix sum. Nothing
  * quadratic, nothing driver-bound.
  */
object CorpusPipeline {

  def apply(docs: DataFrame, budget: Long = 512L,
            minTokens: Int = 20, sampleBp: Int = 8000,
            benchMod: Int = 97, overlapThreshold: Long = 5L,
            spanTokens: Int = 20, spanMinOcc: Long = 3L,
            gopherTh: Option[graft.text.GopherRules.Thresholds] = None,
            repetitionTh: Option[graft.text.GopherRepetition.Thresholds] = None,
            benchCap: Long = 5000L)
      : DataFrame = {
    val scrubbed = docs.select(col("doc_id"), Pii.redact(col("text")).as("red"))
    val spanDeduped = graft.dedup.ParagraphDedup.rebuilt(
        graft.dedup.ParagraphDedup.spanUnits(scrubbed, "doc_id", "red", spanTokens),
        spanMinOcc, sep = " ")
      .select(col("doc_id"), col("text_clean").as("red"))
    val floored = spanDeduped
      .filter(size(graft.text.TextAnalysis.tokens(lower(col("red")))) >= minTokens)
    // Stage 3b (optional): the Gopher rule gate on the span-deduped
    // text — rule gates before dedup, cheapest-first ordering. Another
    // scan-stage filter; the plan shape is unchanged.
    val ruleGated = gopherTh.fold(floored)(th =>
      floored.filter(graft.text.GopherRules.passExpr(col("red"), th)))
    // Stage 3c (optional): the Gopher REPETITION gate
    // ([[graft.text.GopherRepetition.passExpr]]) on the same text —
    // still a per-row scan-stage filter (the n-gram statistics are
    // sort+folds over each doc's own shingles, no keyed exchange).
    val quality = repetitionTh.fold(ruleGated)(th =>
      ruleGated.filter(graft.text.GopherRepetition.passExpr(col("red"), th)))
    // `keepers` feeds THREE consumers (the decontamination probe, its
    // broadcast doc-id build, and the join-back), and column pruning
    // makes the three subtrees non-identical, so exchange reuse never
    // fires — without a checkpoint the whole scrub→span-dedup→gate
    // chain runs three times (measured 3× at sf0.1). Same discipline
    // as [[CorpusClean]]: one checkpoint per reused stage.
    val keepers = quality
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("red"))))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("red"))
      .pinned
    // The benchmark stand-in is BOUNDED (id mod-slice AND id < benchCap):
    // an eval suite is external and CONSTANT-SIZE by contract, while a
    // pure mod-slice grows with the corpus — at 10× this fixture family
    // the grown slice's distinct trigram set closes over the vocabulary's
    // whole trigram space and flags EVERY document (measured: the r12
    // true-scale audit read 0 output rows, BASELINE.md). The cap keeps
    // the slice fixed at its sf≤0.1 contents at any corpus size, which
    // is exactly how a real benchmark behaves as training data grows.
    val decontaminated = Curation.decontaminate(
        keepers, "doc_id", "red",
        scrubbed.filter(col("doc_id") % benchMod === 0 &&
          col("doc_id") < benchCap), "red",
        3, overlapThreshold)
      .filter(col("contaminated") === 0)
      .select(col("doc_id"))
      .join(keepers, Seq("doc_id"))
    val sampled = Curation.sampleDeterministic(decontaminated, "red", sampleBp)
    Curation.packChunksScalable(sampled, "doc_id", "red", budget)
  }
}
