package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] Gopher repetition rules (`gopher_repetition` /
  * `gopher_repetition_edge` queries) — the repetition-removal gate of
  * Rae et al. 2021 (Gopher, Appendix A1.2), the companion of the
  * document-quality rules in [[GopherRules]] (A1.1): documents whose
  * content is dominated by repeated lines, paragraphs, or n-grams are
  * templated chrome / scraper loops / keyword stuffing, and every
  * large-scale pipeline (Gopher, FineWeb, Dolma, RefinedWeb) drops them
  * before dedup spends any work on them. Complements the reference's
  * per-token filters (app.py:33-57) at document granularity.
  *
  * Signals (one row per document; every ratio rounded to 4 — the repo's
  * cross-engine float discipline):
  *
  *  - `dup_line_frac` / `dup_para_frac`: fraction of units that are
  *    repeats of an earlier identical unit. Lines split on '\n', and
  *    paragraphs on runs of >= 2 '\n'; units whose `trim` is empty are
  *    excluded (a blank separator is structure, not content);
  *  - `dup_line_char_frac` / `dup_para_char_frac`: fraction of unit
  *    CHARACTERS carried by occurrences beyond the first — i.e.
  *    (total chars − first-occurrence chars) / total chars;
  *  - `top_{2,3,4}gram_char_frac`: max over word n-grams occurring
  *    MORE THAN ONCE of (occurrences × n-gram non-space chars) / token
  *    chars — the "fraction of characters in the most frequent n-gram",
  *    stated as the max PRODUCT so ties need no arbitrary winner, and 0
  *    when no n-gram repeats (Gopher's raw form rates the arbitrary
  *    1-count winner, which over-fires on short all-distinct docs that
  *    its ≥50-word floor would have removed first; a repetition gate
  *    should be silent on unrepeated text — divergence documented).
  *    Tokens are the pinned whitespace class of
  *    [[TextAnalysis.tokens]], lowercased (via
  *    [[TextAnalysis.shingles]]);
  *  - `dup_{5,10}gram_char_frac`: Σ over n-grams occurring more than
  *    once of (occurrences × non-space chars) / token chars. Overlapping
  *    occurrences each count — the standard count-based approximation
  *    (exact span-union coverage needs interval merging per doc); the
  *    ratio can exceed 1 on degenerate repeats, which only makes the
  *    gate MORE eager on exactly the docs it exists to drop. Gopher's
  *    n = 5..10 ladder is one operator at different n: the two ends are
  *    materialized, the interior thresholds interpolate.
  *
  * `pass` = every signal at-or-under its threshold (Gopher removes when
  * a fraction EXCEEDS the cut; comparisons are on the ROUNDED values,
  * so the boundary is engine-exact). Unit-less documents (empty text)
  * have NULL unit fractions and 0 n-gram fractions — no evidence of
  * repetition, so they pass this gate (and fall to the word-count floor
  * of [[GopherRules]] instead).
  *
  * Scale shape: every signal is a pure per-row expression — the n-gram
  * statistics are a sort + linear fold over the document's OWN shingle
  * array (sorting groups equal n-grams, so run length = occurrence
  * count), not a corpus-wide explode. Zero joins, zero shuffles before
  * the output sort; the operator is a projection over the scan. The
  * DuckDB oracle deliberately uses the relational formulation
  * (UNNEST n-grams → GROUP BY (doc, gram) → MAX / filtered SUM), so the
  * hash-match pins fold == relational — same discipline as
  * [[graft.pipeline.Curation.repetitionStats]], which these signals
  * supersede as a gate (that query stays as the 2-signal analytics
  * form). */
object GopherRepetition {

  /** Gopher's published A1.2 cuts; production pipelines tune these. */
  final case class Thresholds(maxDupLineFrac: Double = 0.30,
                              maxDupParaFrac: Double = 0.30,
                              maxDupLineCharFrac: Double = 0.20,
                              maxDupParaCharFrac: Double = 0.20,
                              maxTop2Frac: Double = 0.20,
                              maxTop3Frac: Double = 0.18,
                              maxTop4Frac: Double = 0.16,
                              maxDup5Frac: Double = 0.15,
                              maxDup10Frac: Double = 0.10)

  /** The nine ROUNDED signal expressions over a text column, in output
    * order — computed from the integer statistics of ONE compiled pass
    * ([[org.apache.spark.sql.graft.GopherRepetitionStats]], r16): the
    * former per-signal HOF chains ran five interpreted sort+fold n-gram
    * walks plus four unit passes per row with no subexpression sharing
    * (~1.3 s per corpus pass at sf0.1, the costliest per-row gate in
    * the presets — guide §4). The division + round(…, 4) arithmetic
    * below is byte-identical to the former formulation (the fused
    * expression only supplies the exact integers; parity with the
    * declarative twin is pinned by GopherRepetitionSpec). */
  private def signalCols(t: Column): Seq[(String, Column)] = {
    val st = org.apache.spark.sql.graft.ArrayFunctions
      .gopherRepetitionStats(t, lower(t))
    def f(name: String): Column = st.getField(name)
    def unitFrac(n: Column, d: Column) =
      round((n - d).cast("double") / nullif(n.cast("double"), lit(0.0)), 4)
    def charFrac(c: Column, cd: Column) =
      round((c - cd).cast("double") / nullif(c.cast("double"), lit(0.0)), 4)
    val nch = nullif(f("nch").cast("double"), lit(0.0))
    def gramFrac(x: Column) = round(x.cast("double") / nch, 4)
    Seq(
      "dup_line_frac" -> unitFrac(f("n_line"), f("d_line")),
      "dup_para_frac" -> unitFrac(f("n_para"), f("d_para")),
      "dup_line_char_frac" -> charFrac(f("c_line"), f("cd_line")),
      "dup_para_char_frac" -> charFrac(f("c_para"), f("cd_para")),
      "top_2gram_char_frac" -> gramFrac(f("top2")),
      "top_3gram_char_frac" -> gramFrac(f("top3")),
      "top_4gram_char_frac" -> gramFrac(f("top4")),
      "dup_5gram_char_frac" -> gramFrac(f("dup5")),
      "dup_10gram_char_frac" -> gramFrac(f("dup10")))
  }

  private def passOf(sig: String => Column, th: Thresholds): Column = {
    def under(name: String, cut: Double) =
      coalesce(sig(name), lit(0.0)) <= cut
    under("dup_line_frac", th.maxDupLineFrac) &&
      under("dup_para_frac", th.maxDupParaFrac) &&
      under("dup_line_char_frac", th.maxDupLineCharFrac) &&
      under("dup_para_char_frac", th.maxDupParaCharFrac) &&
      under("top_2gram_char_frac", th.maxTop2Frac) &&
      under("top_3gram_char_frac", th.maxTop3Frac) &&
      under("top_4gram_char_frac", th.maxTop4Frac) &&
      under("dup_5gram_char_frac", th.maxDup5Frac) &&
      under("dup_10gram_char_frac", th.maxDup10Frac)
  }

  /** The pass conjunction as a standalone per-row expression (the
    * composable-gate form, like [[GopherRules.passExpr]]). */
  def passExpr(t: Column, th: Thresholds = Thresholds()): Column = {
    val s = signalCols(t).toMap
    passOf(s, th)
  }

  /** Signal table: one row per document, ordered by id. */
  def signals(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              th: Thresholds = Thresholds()): DataFrame = {
    val sig = graft.Par.widen(docs).select(
      col(idCol) +: signalCols(col(textCol)).map { case (n, c) => c.as(n) }: _*)
    sig.withColumn("pass", passOf(col, th)).orderBy(col(idCol))
  }

  /** Documents surviving the gate. */
  def gate(docs: DataFrame, idCol: String = "doc_id",
           textCol: String = "text",
           th: Thresholds = Thresholds()): DataFrame =
    docs.filter(passExpr(col(textCol), th))

  // ---- DuckDB mirror: the RELATIONAL n-gram formulation, pinning the
  // per-row fold equal to explode → GROUP BY → MAX / filtered SUM. ----

  private def sqlToks(t: String) =
    s"regexp_extract_all(lower($t), '[^ \\t\\n\\x0B\\f\\r]+')"

  private def sqlCharSum(listExpr: String) =
    s"coalesce(list_aggregate(list_transform($listExpr, u -> length(u)), 'sum'), 0)"

  /** Oracle SQL over a relation exposing (doc_id, text). */
  def sqlSignals(from: String, th: Thresholds = Thresholds()): String = {
    def gramCtes(n: Int) =
      s"""g$n AS (
         |  SELECT doc_id, UNNEST(list_transform(range(1, len(toks) - ${n - 2}),
         |    i -> array_to_string(list_slice(toks, i, i + ${n - 1}), ' '))) AS g
         |  FROM base),
         |s$n AS (
         |  SELECT doc_id, MAX(CASE WHEN c > 1 THEN c * (length(g) - ${n - 1}) END) AS top,
         |         SUM(CASE WHEN c > 1 THEN c * (length(g) - ${n - 1}) END) AS dup
         |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM g$n GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    def unitFracs(listExpr: String, unit: String) =
      s"""round((len($listExpr) - len(list_distinct($listExpr)))::DOUBLE /
         |      nullif(len($listExpr), 0)::DOUBLE, 4) AS dup_${unit}_frac,
         |round((${sqlCharSum(listExpr)} - ${sqlCharSum(s"list_distinct($listExpr)")})::DOUBLE /
         |      nullif(${sqlCharSum(listExpr)}, 0)::DOUBLE, 4) AS dup_${unit}_char_frac""".stripMargin
    val lines = "list_filter(string_split(text, chr(10)), u -> trim(u) <> '')"
    val paras = "list_filter(regexp_split_to_array(text, '\\n{2,}'), u -> trim(u) <> '')"
    s"""WITH base AS (
       |  SELECT doc_id, text, ${sqlToks("text")} AS toks FROM $from),
       |scal AS (
       |  SELECT doc_id,
       |    ${unitFracs(lines, "line")},
       |    ${unitFracs(paras, "para")},
       |    nullif(${sqlCharSum("toks")}, 0)::DOUBLE AS nch
       |  FROM base),
       |${gramCtes(2)},
       |${gramCtes(3)},
       |${gramCtes(4)},
       |${gramCtes(5)},
       |${gramCtes(10)},
       |sig AS (
       |  SELECT scal.doc_id, dup_line_frac, dup_para_frac,
       |    dup_line_char_frac, dup_para_char_frac,
       |    round(coalesce(s2.top, 0)::DOUBLE / nch, 4) AS top_2gram_char_frac,
       |    round(coalesce(s3.top, 0)::DOUBLE / nch, 4) AS top_3gram_char_frac,
       |    round(coalesce(s4.top, 0)::DOUBLE / nch, 4) AS top_4gram_char_frac,
       |    round(coalesce(s5.dup, 0)::DOUBLE / nch, 4) AS dup_5gram_char_frac,
       |    round(coalesce(s10.dup, 0)::DOUBLE / nch, 4) AS dup_10gram_char_frac
       |  FROM scal
       |  LEFT JOIN s2 ON scal.doc_id = s2.doc_id
       |  LEFT JOIN s3 ON scal.doc_id = s3.doc_id
       |  LEFT JOIN s4 ON scal.doc_id = s4.doc_id
       |  LEFT JOIN s5 ON scal.doc_id = s5.doc_id
       |  LEFT JOIN s10 ON scal.doc_id = s10.doc_id)
       |SELECT *,
       |  (coalesce(dup_line_frac, 0) <= ${th.maxDupLineFrac}
       |   AND coalesce(dup_para_frac, 0) <= ${th.maxDupParaFrac}
       |   AND coalesce(dup_line_char_frac, 0) <= ${th.maxDupLineCharFrac}
       |   AND coalesce(dup_para_char_frac, 0) <= ${th.maxDupParaCharFrac}
       |   AND coalesce(top_2gram_char_frac, 0) <= ${th.maxTop2Frac}
       |   AND coalesce(top_3gram_char_frac, 0) <= ${th.maxTop3Frac}
       |   AND coalesce(top_4gram_char_frac, 0) <= ${th.maxTop4Frac}
       |   AND coalesce(dup_5gram_char_frac, 0) <= ${th.maxDup5Frac}
       |   AND coalesce(dup_10gram_char_frac, 0) <= ${th.maxDup10Frac}) AS pass
       |FROM sig ORDER BY doc_id""".stripMargin
  }
}
