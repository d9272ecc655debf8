package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.{LmScore, TextAnalysis}

/** [EXT] The CCNet-style corpus preset (`corpus_pipeline_ccnet` query) —
  * Wenzek et al. 2020's published ordering ("CCNet: Extracting High
  * Quality Monolingual Datasets from Web Crawl Data"), the sibling of
  * the [[FineWebPipeline]] preset, chained from operators this library
  * already ships:
  *
  *  1. PARAGRAPH-level exact dedup
  *     ([[graft.dedup.ParagraphDedup.dedupParagraphs]], keep-first) —
  *     CCNet dedups on paragraph hashes before anything else, which
  *     also strips boilerplate (license/nav blocks repeat corpus-wide);
  *     documents whose every paragraph was removed drop out;
  *  2. language ID gate ([[TextAnalysis.langId]] == `lang`) — CCNet
  *     keeps one target language per corpus (fastText there, the
  *     marker-word argmax here — same shape, engine-reproducible);
  *  3. LM perplexity TIERS over the survivors
  *     ([[LmScore.perplexityBucketsScalable]] — the prefix-sum rank
  *     form; CCNet's head/middle/tail split by a language-model score,
  *     self-fit bigram model here) — the tail tier (highest perplexity)
  *     is cut, head+middle ship, mirroring CCNet's standard "keep
  *     head+middle" recipe.
  *
  * Output: (doc_id, n_bigrams, avg_cost_micro, tier ∈ {head, middle})
  * ordered by doc_id — every stage is ANSI-expressible, so ONE DuckDB
  * WITH-chain ([[sqlPipeline]]) replays the whole line and the query
  * hash-checks end to end.
  *
  * Scale shape: stage 1 is the norm-keyed paragraph marking exchange
  * (ids + 32-hex norms, never text) + doc-keyed rebuild; stage 2 a
  * per-row codegen filter; stage 3 two token-stream aggregates (unigram
  * + bigram counts, map-side combined), a broadcast cost-table join,
  * and the [[graft.Par.prefixSum]] rank — no single-partition window anywhere
  * (the ntile twin exists only in specs). Nothing quadratic.
  */
object CcNetPipeline {

  /** Stage frames, shared by [[apply]] and [[funnel]] so the ablation
    * table counts exactly what the corpus ships. */
  final case class Stages(pd: DataFrame, lg: DataFrame, tiers: DataFrame)

  /** `materialize` pins the shared language-gate frame (default
    * [[graft.Mat.pin]] — the session-wide `spark.graft.materialize`
    * knob; pass an explicit function to override per call). Output is
    * materializer-invariant (CcNetPipelineSpec pins it). */
  def stages(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
             lang: String = "en", splitRe: String = "\\n{2,}",
             crossFitModel: Option[DataFrame] = None,
             materialize: DataFrame => DataFrame = graft.Mat.pin): Stages = {
    // 0. NFC normalization (r10) AHEAD of the paragraph-norm hashing —
    // the RefinedWeb placement proof applies here too: NFD twins of a
    // boilerplate paragraph would otherwise escape the norm-keyed dedup
    // (CcNetPipelineSpec plants one). The cross-fit MODEL slice is
    // normalized HERE, at the same point as the corpus, so fit and
    // scoring always agree — any entry path, not just [[applyCrossFit]]
    // (an un-normalized model would back off every accented bigram as
    // OOV against the normalized corpus tokens).
    def nfc(df: DataFrame, c: String): DataFrame = df.withColumn(c,
      org.apache.spark.sql.graft.ArrayFunctions.nfcNormalize(col(c)))
    val nfcDocs = nfc(docs, textCol)
    val nfcModel = crossFitModel.map(nfc(_, "text"))
    // 1. paragraph dedup; fully-boilerplate docs (nothing kept) drop.
    val pd = graft.dedup.ParagraphDedup
      .dedupParagraphs(nfcDocs, idCol, textCol, minOccurrences = 2L, splitRe)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("text_clean").as("text"))
    // 2. language gate. Materialize: the survivor set feeds the LM FIT
    //    and the scoring pass — one materialization, two consumers.
    val lg = materialize(pd.filter(TextAnalysis.langId(col("text")) === lang))
    // 3. perplexity tiers; the tail is cut by the callers. Self-fit by
    //    default; with a crossFitModel this is the PAPER's shape — the
    //    LM fit on the trusted target corpus (Wenzek et al. fit KenLM on
    //    Wikipedia), survivors priced under it with OOV backoff.
    val tiers = nfcModel match {
      case Some(m) =>
        LmScore.perplexityBucketsCrossFit(lg, "doc_id", "text", m, "text")
      case None =>
        LmScore.perplexityBucketsScalable(lg, "doc_id", "text")
    }
    Stages(pd, lg, tiers)
  }

  /** The preset with the CROSS-FIT stage 3 (`corpus_pipeline_ccnet_crossfit`
    * query): model = the metadata-trusted target slice, scored corpus =
    * the langId-gated survivors. Same stages 1-2, same tail cut. */
  def applyCrossFit(docs: DataFrame, modelDocs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    lang: String = "en", splitRe: String = "\\n{2,}"): DataFrame =
    stages(docs, idCol, textCol, lang, splitRe, Some(modelDocs)).tiers
      .filter(col("tier") =!= "tail")
      .orderBy(col("doc_id"))

  def apply(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
            lang: String = "en", splitRe: String = "\\n{2,}",
            materialize: DataFrame => DataFrame = graft.Mat.pin): DataFrame =
    stages(docs, idCol, textCol, lang, splitRe,
      materialize = materialize).tiers
      .filter(col("tier") =!= "tail")
      .orderBy(col("doc_id"))

  /** Per-stage survivor counts (`ccnet_funnel` query) — the preset's
    * ablation table, from the SAME stage frames [[apply]] ships: raw →
    * paragraph_dedup → language → tiers_kept. Scored-doc membership can
    * shrink once more at the tier stage (a doc whose cleaned text has
    * < 2 tokens produces no bigrams and cannot be tiered), so
    * `tiers_kept` counts the shipped corpus exactly. */
  def funnel(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
             lang: String = "en", splitRe: String = "\\n{2,}"): DataFrame = {
    val st = stages(docs, idCol, textCol, lang, splitRe)
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(
      (0L, "raw", docs.count()),
      (1L, "paragraph_dedup", st.pd.count()),
      (2L, "language", st.lg.count()),
      (3L, "tiers_kept", st.tiers.filter(col("tier") =!= "tail").count()))
      .toDF("stage", "gate", "n_docs")
      .orderBy(col("stage"))
  }

  /** The whole line as ONE DuckDB WITH-chain over a relation exposing
    * (doc_id, text). Mirrors: the paragraph oracle's norm/keep-first
    * CTEs, [[TextAnalysis.sqlLangId]], the bigram-LM cost CTEs of
    * `lm_scores`, and the `ntile` tercile (provably identical to the
    * scalable closed-form split). */
  def sqlPipeline(from: String, lang: String = "en"): String =
    sqlCtes(from, lang) +
      """
        |SELECT doc_id, n_bigrams, avg_cost_micro,
        |  CASE bucket WHEN 1 THEN 'head' ELSE 'middle' END AS tier
        |FROM t WHERE bucket <= 2 ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of [[funnel]] — the same CTE chain, counted. */
  def sqlFunnel(from: String, lang: String = "en"): String =
    sqlCtes(from, lang) +
      """
        |SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS gate,
        |       CAST((SELECT COUNT(*) FROM d0) AS BIGINT) AS n_docs
        |UNION ALL SELECT 1, 'paragraph_dedup', (SELECT COUNT(*) FROM pd)
        |UNION ALL SELECT 2, 'language', (SELECT COUNT(*) FROM lg)
        |UNION ALL SELECT 3, 'tiers_kept', (SELECT COUNT(*) FROM t WHERE bucket <= 2)
        |ORDER BY stage""".stripMargin

  /** DuckDB mirror of [[applyCrossFit]] with model = `lang = 'en'` rows
    * of the same relation: stages 1-2 CTEs unchanged; stage 3 fits the
    * unigram/bigram tables on the model slice and prices the survivors'
    * bigram stream with the OOV-backoff COALESCE of `lm_scores_crossfit`. */
  def sqlPipelineCrossFit(from: String, lang: String = "en",
                          modelLang: String = "en"): String =
    s"""WITH d0 AS (SELECT * REPLACE (nfc_normalize(text) AS text) FROM $from),
       |u AS (
       |  SELECT doc_id, CAST(w.i - 1 AS BIGINT) AS idx, w.raw AS raw,
       |    lower(trim(regexp_replace(w.raw, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS norm
       |  FROM (
       |    SELECT doc_id, UNNEST(list_transform(range(1, len(parts) + 1),
       |      i -> {'i': i, 'raw': parts[i]})) AS w
       |    FROM (SELECT doc_id, regexp_split_to_array(text, '\\n{2,}') AS parts FROM d0))),
       |uu AS (SELECT * FROM u WHERE norm <> ''),
       |m AS (
       |  SELECT doc_id, idx, raw,
       |    ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id, idx) AS rn,
       |    COUNT(*) OVER (PARTITION BY norm) AS n_occ
       |  FROM uu),
       |k AS (SELECT * FROM m WHERE rn = 1 OR n_occ < 2),
       |pd AS (SELECT doc_id, string_agg(raw, e'\\n\\n' ORDER BY idx) AS text
       |       FROM k GROUP BY 1),
       |lg AS (SELECT doc_id, text FROM pd
       |       WHERE ${TextAnalysis.sqlLangId("text")} = '$lang'),
       |mtok AS (SELECT regexp_extract_all(lower(text), '[^ \\t\\n\\x0B\\f\\r]+') AS toks
       |         FROM d0 WHERE lang = '$modelLang'),
       |tok AS (SELECT doc_id,
       |          regexp_extract_all(lower(text), '[^ \\t\\n\\x0B\\f\\r]+') AS toks
       |        FROM lg),
       |bg AS (SELECT doc_id, UNNEST(list_transform(range(1, len(toks)),
       |         i -> toks[i] || ' ' || toks[i+1])) AS bg
       |       FROM tok),
       |uw AS (SELECT w, COUNT(*) AS cu
       |       FROM (SELECT UNNEST(toks) AS w FROM mtok) GROUP BY 1),
       |v AS (SELECT COUNT(*) AS v FROM uw),
       |mb AS (SELECT bg, COUNT(*) AS cb FROM (
       |         SELECT UNNEST(list_transform(range(1, len(toks)),
       |           i -> toks[i] || ' ' || toks[i+1])) AS bg
       |         FROM mtok) GROUP BY 1),
       |cost AS (
       |  SELECT mb.bg,
       |    CAST(FLOOR(ln((uw.cu + v.v)::DOUBLE / (mb.cb + 1)::DOUBLE) * 1000000.0) AS BIGINT) AS c
       |  FROM mb JOIN uw ON uw.w = split_part(mb.bg, ' ', 1) CROSS JOIN v),
       |priced AS (
       |  SELECT bg.doc_id,
       |    COALESCE(cost.c,
       |      CAST(FLOOR(ln((COALESCE(uw.cu, 0) + v.v)::DOUBLE) * 1000000.0) AS BIGINT)) AS c
       |  FROM bg
       |  LEFT JOIN cost ON bg.bg = cost.bg
       |  LEFT JOIN uw ON uw.w = split_part(bg.bg, ' ', 1)
       |  CROSS JOIN v),
       |sc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(c) AS BIGINT) AS total_cost_micro
       |  FROM priced GROUP BY 1),
       |s AS (SELECT doc_id, n_bigrams,
       |        total_cost_micro // n_bigrams AS avg_cost_micro
       |      FROM sc),
       |t AS (SELECT doc_id, n_bigrams, avg_cost_micro,
       |        NTILE(3) OVER (ORDER BY avg_cost_micro, doc_id) AS bucket
       |      FROM s)
       |SELECT doc_id, n_bigrams, avg_cost_micro,
       |  CASE bucket WHEN 1 THEN 'head' ELSE 'middle' END AS tier
       |FROM t WHERE bucket <= 2 ORDER BY doc_id""".stripMargin

  private def sqlCtes(from: String, lang: String): String =
    s"""WITH d0 AS (SELECT * REPLACE (nfc_normalize(text) AS text) FROM $from),
       |u AS (
       |  SELECT doc_id, CAST(w.i - 1 AS BIGINT) AS idx, w.raw AS raw,
       |    lower(trim(regexp_replace(w.raw, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS norm
       |  FROM (
       |    SELECT doc_id, UNNEST(list_transform(range(1, len(parts) + 1),
       |      i -> {'i': i, 'raw': parts[i]})) AS w
       |    FROM (SELECT doc_id, regexp_split_to_array(text, '\\n{2,}') AS parts FROM d0))),
       |uu AS (SELECT * FROM u WHERE norm <> ''),
       |m AS (
       |  SELECT doc_id, idx, raw,
       |    ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id, idx) AS rn,
       |    COUNT(*) OVER (PARTITION BY norm) AS n_occ
       |  FROM uu),
       |k AS (SELECT * FROM m WHERE rn = 1 OR n_occ < 2),
       |pd AS (SELECT doc_id, string_agg(raw, e'\\n\\n' ORDER BY idx) AS text
       |       FROM k GROUP BY 1),
       |lg AS (SELECT doc_id, text FROM pd
       |       WHERE ${TextAnalysis.sqlLangId("text")} = '$lang'),
       |tok AS (SELECT doc_id,
       |          regexp_extract_all(lower(text), '[^ \\t\\n\\x0B\\f\\r]+') AS toks
       |        FROM lg),
       |bg AS (SELECT doc_id, UNNEST(list_transform(range(1, len(toks)),
       |         i -> toks[i] || ' ' || toks[i+1])) AS bg
       |       FROM tok),
       |uw AS (SELECT w, COUNT(*) AS cu
       |       FROM (SELECT UNNEST(toks) AS w FROM tok) GROUP BY 1),
       |v AS (SELECT COUNT(*) AS v FROM uw),
       |b AS (SELECT bg, COUNT(*) AS cb FROM bg GROUP BY 1),
       |cost AS (
       |  SELECT b.bg,
       |    CAST(FLOOR(ln((uw.cu + v.v)::DOUBLE / (b.cb + 1)::DOUBLE) * 1000000.0) AS BIGINT) AS c
       |  FROM b JOIN uw ON uw.w = split_part(b.bg, ' ', 1) CROSS JOIN v),
       |sc AS (
       |  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(cost.c) AS BIGINT) AS total_cost_micro
       |  FROM bg JOIN cost ON bg.bg = cost.bg GROUP BY 1),
       |s AS (SELECT doc_id, n_bigrams,
       |        total_cost_micro // n_bigrams AS avg_cost_micro
       |      FROM sc),
       |t AS (SELECT doc_id, n_bigrams, avg_cost_micro,
       |        NTILE(3) OVER (ORDER BY avg_cost_micro, doc_id) AS bucket
       |      FROM s)""".stripMargin
}
