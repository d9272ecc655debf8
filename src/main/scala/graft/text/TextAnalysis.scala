package graft.text

import graft.Mat.Pinnable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] Text-analysis operators for LLM-training-data pipelines (north
  * star, SURVEY.md §2.7 F17): token counting, quality scoring, language
  * identification, document fingerprinting.
  *
  * Everything except the fingerprint hashes is built from expressions whose
  * arithmetic can be mirrored verbatim in ANSI SQL, so each derived column
  * is DuckDB-oracle-checkable bit-for-bit (same IEEE ops in the same order,
  * rounded once at the end). No UDFs, no shuffle — one scan, per-row work.
  */
object TextAnalysis {

  /** `\S+` tokens — the native byte-scan expression, value-identical to
    * `regexp_extract_all(text, "\\S+", 0)` (Java `\s`, which INCLUDES
    * \x0B; the DuckDB oracles pin the same byte set explicitly as
    * `'[^ \t\n\x0B\f\r]+'` because RE2's `\s` excludes \x0B;
    * TokenizeParitySpec pins the equivalence incl. unicode and
    * control-char edges). Unlike `split`, never emits empty tokens on
    * leading/trailing/repeated whitespace. */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graft.ArrayFunctions.splitWhitespace(text)

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish segmentation: letter runs | digit runs | single other symbol.
    * A cheap proxy for subword token counts (real BPE needs a merges table;
    * this is the deterministic, regex-only stand-in). */
  val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0))).cast("long")

  /** Fraction of characters that are ASCII letters (quality signal). */
  def alphaRatioRaw(text: Column): Column =
    length(regexp_replace(text, "[^a-zA-Z]", "")).cast("double") /
      nullif(length(text), lit(0)).cast("double")

  /** Mean token length in characters (whitespace excluded). */
  def meanTokenLenRaw(text: Column): Column =
    length(regexp_replace(text, "\\s", "")).cast("double") /
      nullif(size(tokens(text)), lit(0)).cast("double")

  /** 20 high-frequency English function words — a frequency profile, not
    * the reference's stopword set: natural English prose has a stable
    * ~0.3-0.5 ratio of these; keyword spam and non-English text do not. */
  val EnFunctionWords: Seq[String] = Seq(
    "the", "and", "of", "to", "in", "is", "that", "for", "on", "with",
    "as", "at", "by", "this", "be", "are", "was", "or", "an", "it")

  def stopwordRatioRaw(text: Column): Column =
    size(filter(tokens(lower(text)), t => t.isInCollection(EnFunctionWords)))
      .cast("double") / nullif(size(tokens(text)), lit(0)).cast("double")

  /** Composite quality score in [0,1]: alphabetic-ness, function-word
    * profile (saturating at ratio 0.25), and length (saturating at 50
    * tokens). Weights are part of the operator contract — the DuckDB
    * oracle replicates this exact expression. */
  def qualityScore(text: Column): Column =
    round(
      alphaRatioRaw(text) * 0.5 +
        least(stopwordRatioRaw(text) * lit(4.0), lit(1.0)) * 0.25 +
        least(size(tokens(text)).cast("double") / 50.0, lit(1.0)) * 0.25,
      4)

  /** Per-language marker-word profiles for the n-gram-free language-ID
    * heuristic. Scoring = number of token occurrences hitting the profile;
    * argmax with alphabetical precedence on ties; all-zero -> 'und'. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "los", "las", "que", "una", "para", "con", "por"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une", "dans", "pour"),
    "zh" -> Seq("shi", "bu", "wo", "ni", "zai", "hen", "ma", "ba"))

  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(lower(text)), t => t.isInCollection(markers))).cast("long")

  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (l, m) => l -> langScore(text, m) }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, s), els) =>
      when(best > 0 && s === best, lit(l)).otherwise(els)
    }
  }

  /** Unicode script classes for [[scriptMix]] — codepoint ranges written
    * once per engine (`\ x{...}` escapes, which Java regex and RE2 both
    * accept inside character classes, BMP and supplementary alike; the
    * NAME keys must stay aligned with [[ScriptRangesSql]]). Canonical
    * order doubles as the dominant-script tie-break. Latin includes the
    * Latin-1/Extended accented block; CJK covers kana, unified
    * ideographs (INCLUDING the supplementary-plane Extension B-F and
    * Compatibility Supplement blocks, r10 — Ext-B-only text counted
    * "none" before), and hangul; emoji (r10) covers the supplementary
    * pictograph planes plus the BMP misc-symbols/dingbats blocks —
    * emoji-only content is a real corpus class a profiler must not
    * lump into "none". Both engines count CODEPOINTS (`length` is
    * codepoint-counting in Spark and DuckDB), so an astral char is 1
    * either way. A production deployment extends the table — the
    * expression shape is range-count + argmax regardless. */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z\\x{00C0}-\\x{024F}",
    "cyrillic" -> "\\x{0400}-\\x{04FF}",
    "greek" -> "\\x{0370}-\\x{03FF}",
    "cjk" -> "\\x{3040}-\\x{30FF}\\x{3400}-\\x{9FFF}\\x{AC00}-\\x{D7AF}\\x{20000}-\\x{2FA1F}",
    "arabic" -> "\\x{0600}-\\x{06FF}",
    "emoji" -> "\\x{2600}-\\x{27BF}\\x{1F000}-\\x{1FAFF}")

  /** RE2 twins of [[ScriptRanges]] for the DuckDB oracle (identical
    * ranges — the `\ x{...}` escape parses the same in both engines). */
  val ScriptRangesSql: Seq[(String, String)] = ScriptRanges

  /** Character count of `text` inside one script's ranges (chars, not
    * bytes — `length` after stripping everything else). */
  def scriptCount(text: Column, ranges: String): Column =
    length(regexp_replace(text, s"[^$ranges]", ""))

  /** Per-document writing-system profile (`script_mix` query) — the
    * script-coverage gate CCNet-class pipelines run beside language ID
    * (a "ru" prediction over latin-only text is a transliteration or a
    * mislabel; script counts catch it): per-script character counts plus
    * the dominant script (first-in-canonical-order wins ties, "none"
    * when no script character appears). Pure per-row regex counts —
    * scan-stage, shuffle-free. */
  def scriptMix(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val counts = ScriptRanges.map { case (n, r) => n -> scriptCount(col(textCol), r) }
    docs.select(
      (col(idCol) +:
        counts.map { case (n, c) => c.cast("long").as(s"n_$n") }) :+
        dominantScript(col(textCol)).as("dominant_script"): _*)
      .orderBy(col(idCol))
  }

  /** [EXT] Unigram character entropy per document (`char_entropy`
    * query) — the character-diversity quality tagger: repeated-glyph
    * spam and ASCII art score near 0 micro-nats, natural language sits
    * in a language-typical band (≈ 2.9e6–3.2e6 µnats for English prose;
    * CJK higher — larger alphabet), so the signal separates mash from
    * text WITHOUT a fitted model. Integer micro-nats end-to-end via the
    * per-term ⌊ln·10⁶⌋ lift ([[org.apache.spark.sql.graft.CharEntropy]]
    * — the LmScore discipline, one codegen'd pass per row, codepoint
    * domain). Scan-stage, shuffle-free. */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    graft.Par.widen(docs).select(col(idCol),
      coalesce(length(col(textCol)).cast("long"), lit(0L)).as("n_chars"),
      coalesce(org.apache.spark.sql.graft.ArrayFunctions
        .charEntropy(col(textCol)), lit(0L)).as("entropy_unats"))
      .orderBy(col(idCol))

  /** DuckDB mirror of [[charEntropy]] over a relation `rel` exposing
    * (idCol, textExpr): per-codepoint counts (`string_split(_, '')` is
    * codepoint-granular, matching the engine's surrogate-pair
    * handling), the same per-count ⌊ln·10⁶⌋ floor BEFORE the integer
    * sum, the same non-negative floor division. CTE chain + final
    * SELECT; the caller opens the WITH. */
  def sqlCharEntropy(rel: String, idCol: String, textExpr: String): String =
    s"""ce_ch AS (
       |  SELECT $idCol, UNNEST(string_split($textExpr, '')) AS c FROM $rel),
       |ce_cc AS (
       |  SELECT $idCol, c, COUNT(*) AS cnt FROM ce_ch WHERE c <> ''
       |  GROUP BY 1, 2),
       |ce_ag AS (
       |  SELECT $idCol, CAST(SUM(cnt) AS BIGINT) AS n,
       |    CAST(SUM(cnt * CAST(FLOOR(ln(cnt::DOUBLE) * 1000000.0) AS BIGINT))
       |      AS BIGINT) AS s
       |  FROM ce_cc GROUP BY 1)
       |SELECT r.$idCol, COALESCE(a.n, 0) AS n_chars,
       |  COALESCE((a.n * CAST(FLOOR(ln(a.n::DOUBLE) * 1000000.0) AS BIGINT)
       |            - a.s) // a.n, 0) AS entropy_unats
       |FROM $rel r LEFT JOIN ce_ag a ON r.$idCol = a.$idCol
       |ORDER BY r.$idCol""".stripMargin

  /** The dominant-script election alone (first-in-canonical-order wins
    * ties, "none" when no script character appears) — reusable as a
    * single attribute column ([[graft.pipeline.Attributes]]). */
  def dominantScript(text: Column): Column = {
    val counts = ScriptRanges.map { case (n, r) => n -> scriptCount(text, r) }
    val mx = greatest(counts.map(_._2): _*)
    counts.foldRight(lit("none")) { case ((n, c), els) =>
      when(mx > 0 && c === mx, lit(n)).otherwise(els)
    }
  }

  /** DuckDB mirror of one script count (RE2 ranges). */
  def sqlScriptCount(t: String, ranges: String): String =
    s"length(regexp_replace($t, '[^$ranges]', '', 'g'))"

  /** DuckDB mirror of [[dominantScript]]. */
  def sqlDominantScript(t: String): String = {
    val counts = ScriptRangesSql.map { case (n, r) => n -> sqlScriptCount(t, r) }
    val best = s"greatest(${counts.map(_._2).mkString(", ")})"
    val whens = counts.map { case (n, c) =>
      s"WHEN $best > 0 AND $c = $best THEN '$n'" }.mkString(" ")
    s"(CASE $whens ELSE 'none' END)"
  }

  // DuckDB-side mirrors of the expressions above, for SparkEntry.oracleSql.
  private def sqlToks(textExpr: String) = s"regexp_extract_all($textExpr, '[^ \\t\\n\\x0B\\f\\r]+')"
  private def sqlInList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")
  def sqlTokenCount(t: String): String = s"len(${sqlToks(t)})"
  def sqlBpeishCount(t: String): String =
    s"len(regexp_extract_all($t, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))"
  def sqlAlphaRatio(t: String): String =
    s"(length(regexp_replace($t, '[^a-zA-Z]', '', 'g'))::DOUBLE / nullif(length($t), 0)::DOUBLE)"
  def sqlMeanTokenLen(t: String): String =
    s"(length(regexp_replace($t, '\\s', '', 'g'))::DOUBLE / nullif(len(${sqlToks(t)}), 0)::DOUBLE)"
  def sqlStopRatio(t: String): String =
    s"(len(list_filter(${sqlToks(s"lower($t)")}, x -> x IN ${sqlInList(EnFunctionWords)}))::DOUBLE" +
      s" / nullif(len(${sqlToks(t)}), 0)::DOUBLE)"
  def sqlQuality(t: String): String =
    s"round(${sqlAlphaRatio(t)} * 0.5 + least(${sqlStopRatio(t)} * 4.0, 1.0) * 0.25 + " +
      s"least(len(${sqlToks(t)})::DOUBLE / 50.0, 1.0) * 0.25, 4)"
  def sqlLangScore(t: String, ws: Seq[String]): String =
    s"len(list_filter(${sqlToks(s"lower($t)")}, x -> x IN ${sqlInList(ws)}))"
  def sqlLangId(t: String): String = {
    val scores = LangMarkers.map { case (l, m) => l -> sqlLangScore(t, m) }
    val best = s"greatest(${scores.map(_._2).mkString(", ")})"
    val whens = scores.map { case (l, s) =>
      s"WHEN $best > 0 AND $s = $best THEN '$l'" }.mkString(" ")
    s"(CASE $whens ELSE 'und' END)"
  }

  /** Full per-document stats table (the `text_stats` query). */
  /** [EXT] Readability scoring (`readability_scores` query) — the
    * Flesch reading-ease family (Flesch 1948), the classic feature of
    * educational-quality gates (FineWeb-Edu-style filtering learns on
    * exactly these signals): words per sentence × syllables per word.
    * All three counts are single regex passes — words = whitespace runs
    * (the corpus token discipline), sentences = terminal-punctuation
    * runs `[.!?]+` (min 1 — a fragment is one sentence), "syllables" =
    * vowel-group runs `[aeiouy]+` over the lowercased text (groups
    * can't span whitespace, so one corpus-wide count equals the per-word
    * sum without an explode). The score is EXACT INTEGER micro-points:
    * 206.835·10⁶ − 1.015·10⁶·W DIV S − 84.6·10⁶·Syl DIV W — truncating
    * long division both engines replay bit-for-bit (the ppm
    * discipline); W = 0 scores null. Scan-stage, shuffle-free. */
  def readability(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val w = tokenCount(t)
    val s = greatest(size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1))
      .cast("long")
    val syl = size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
      .cast("long")
    docs.select(col(idCol), w.as("n_words"), s.as("n_sentences"),
        syl.as("n_syllable_groups"))
      .withColumn("flesch_micro",
        expr(fleschMicroOver("n_words", "n_sentences", "n_syllable_groups")))
      .orderBy(col(idCol))
  }

  /** The [[readability]] input signals as named columns — for surfaces
    * that fold the Flesch score into a wider projection (the attribute
    * sidecar) while keeping the score's integer `DIV` arithmetic in an
    * `expr` over these names (the Column API has no integer division;
    * a double round-trip would risk last-unit drift). */
  def fleschSignalCols(t: Column): Seq[Column] = Seq(
    tokenCount(t).as("__fl_w"),
    greatest(size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1))
      .cast("long").as("__fl_s"),
    size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
      .cast("long").as("__fl_y"))

  /** THE Flesch micro-point arithmetic, one Spark-side owner —
    * parameterized over the signal column names so [[readability]] and
    * the sidecar share it. */
  def fleschMicroOver(w: String, s: String, y: String): String =
    s"CASE WHEN $w > 0 THEN 206835000L" +
      s" - 1015000L * $w DIV $s" +
      s" - 84600000L * $y DIV $w END"

  /** The Flesch micro-point expression over [[fleschSignalCols]]'s
    * names. */
  def FleschMicroOverSignals: String =
    fleschMicroOver("__fl_w", "__fl_s", "__fl_y")

  /** THE Flesch arithmetic's DuckDB owner, over signal SQL
    * expressions. */
  def sqlFleschMicroOver(w: String, s: String, y: String): String =
    s"(CASE WHEN $w > 0 THEN CAST(206835000 - 1015000 * $w // $s" +
      s" - 84600000 * $y // $w AS BIGINT) END)"

  /** DuckDB per-row scalar twin of the Flesch micro-point score. */
  def sqlFleschMicroExpr(t: String): String =
    sqlFleschMicroOver(
      s"CAST(${sqlTokenCount(t)} AS BIGINT)",
      s"CAST(GREATEST(len(regexp_extract_all($t, '[.!?]+')), 1) AS BIGINT)",
      s"CAST(len(regexp_extract_all(lower($t), '[aeiouy]+')) AS BIGINT)")

  /** DuckDB per-row scalar twin of the native
    * [[org.apache.spark.sql.graft.CharEntropy]] (list lambdas — the
    * O(alphabet·length) form is oracle-side only; the engine runs the
    * one-pass native). */
  def sqlCharEntropyExpr(t: String): String = {
    val cs = s"string_split($t, '')"
    val counts =
      s"list_transform(list_distinct($cs), c -> len(list_filter($cs, x -> x = c)))"
    val sum = s"list_sum(list_transform($counts, " +
      "c -> c * CAST(FLOOR(ln(c::DOUBLE) * 1000000.0) AS BIGINT)))"
    s"CAST((CASE WHEN $t IS NULL THEN NULL WHEN length($t) = 0 THEN 0 " +
      s"ELSE (length($t) * CAST(FLOOR(ln(length($t)::DOUBLE) * 1000000.0) " +
      s"AS BIGINT) - CAST($sum AS BIGINT)) // length($t) END) AS BIGINT)"
  }

  /** DuckDB mirror of [[readability]]. */
  def sqlReadability(rel: String, idCol: String = "doc_id",
                     textCol: String = "text"): String =
    s"""WITH r AS (
       |  SELECT $idCol,
       |    CAST(${sqlTokenCount(textCol)} AS BIGINT) AS n_words,
       |    CAST(GREATEST(len(regexp_extract_all($textCol, '[.!?]+')), 1)
       |      AS BIGINT) AS n_sentences,
       |    CAST(len(regexp_extract_all(lower($textCol), '[aeiouy]+'))
       |      AS BIGINT) AS n_syllable_groups
       |  FROM $rel)
       |SELECT $idCol, n_words, n_sentences, n_syllable_groups,
       |  ${sqlFleschMicroOver("n_words", "n_sentences", "n_syllable_groups")}
       |    AS flesch_micro
       |FROM r ORDER BY $idCol""".stripMargin

  def stats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      tokenCount(t).as("n_tokens"),
      bpeishCount(t).as("n_bpeish"),
      round(meanTokenLenRaw(t), 4).as("mean_token_len"),
      round(alphaRatioRaw(t), 4).as("alpha_ratio"),
      round(stopwordRatioRaw(t), 4).as("stop_ratio"),
      qualityScore(t).as("quality"),
      langId(t).as("lang_pred")
    ).orderBy(col(idCol))
  }

  /** Expected writing system per predicted language — the lookup behind
    * [[langScriptConsistency]]. `zh` expects cjk even though its marker
    * words are romanized: a zh prediction over latin-only text is
    * exactly the transliteration/mislabel case the audit exists to
    * surface. Extends with [[LangMarkers]]. */
  val ExpectedScript: Seq[(String, String)] = Seq(
    "de" -> "latin", "en" -> "latin", "es" -> "latin", "fr" -> "latin",
    "zh" -> "cjk")

  /** [EXT] Language–script consistency audit (`lang_script_consistency`
    * query): CCNet-class pipelines run script coverage BESIDE language
    * ID because the two disagree on real corpus classes — transliterated
    * text (zh prediction, latin script), mislabeled text, markup-heavy
    * pages. Per doc: the language prediction, the dominant script, the
    * script that prediction implies, and the consistency verdict
    * (vacuously true when either signal abstains — 'und' or 'none').
    * Pure scan-stage composition of [[langId]] + [[dominantScript]] —
    * shuffle-free. */
  def langScriptConsistency(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val lang = langId(t)
    val dom = dominantScript(t)
    val expected = ExpectedScript.foldRight(lit("none")) {
      case ((l, s), els) => when(lang === l, lit(s)).otherwise(els)
    }
    docs.select(
        col(idCol), lang.as("lang_pred"), dom.as("dominant_script"),
        expected.as("expected_script"),
        (lang === "und" || dom === "none" || expected === dom)
          .as("consistent"))
      .orderBy(col(idCol))
  }

  /** DuckDB mirror of [[langScriptConsistency]] over a text expression. */
  def sqlLangScriptConsistency(t: String): String = {
    val lang = sqlLangId(t)
    val dom = sqlDominantScript(t)
    val whens = ExpectedScript.map { case (l, s) =>
      s"WHEN $lang = '$l' THEN '$s'" }.mkString(" ")
    val expected = s"(CASE $whens ELSE 'none' END)"
    s"""$lang AS lang_pred, $dom AS dominant_script,
       |  $expected AS expected_script,
       |  ($lang = 'und' OR $dom = 'none' OR $expected = $dom) AS consistent""".stripMargin
  }

  // ---- character-n-gram language ID (Cavnar & Trenkle 1994 class) ----

  /** Distinct character trigrams of the lowercased text — the features
    * of the n-gram language classifier. Both engines enumerate start
    * positions 1..len−2 and slice 3 codepoints, so profiles and scores
    * replay exactly. */
  def charTrigrams(text: Column): Column =
    // greatest(…, 1) keeps Spark's sequence() ascending on short texts
    // (stop < start would generate a DESCENDING sequence); the length
    // filter then drops the sub-3-char tail slices in both engines.
    array_distinct(filter(
      transform(
        sequence(lit(1), greatest(length(lower(text)) - 2, lit(1))),
        i => lower(text).substr(i, lit(3))),
      x => length(x) === 3))

  /** Driver fit: per language label, the top-K trigrams by (document
    * frequency desc, trigram asc) — a bounded, deterministic fit (≤
    * K·|langs| rows collected) that prints into the oracle as exact
    * constants ([[graft.similarity.FittedOracle.langProfiles]], the
    * k-means/BPE printed-constant channel). */
  def fitLangProfiles(docs: DataFrame, langCol: String = "lang",
                      textCol: String = "text",
                      k: Int = 50): Seq[(String, Seq[String])] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol))
      .orderBy(col("df").desc, col("tri").asc)
    graft.Par.widen(docs)
      .filter(col(langCol).isNotNull)
      .select(col(langCol).as("lang"), explode(charTrigrams(col(textCol))).as("tri"))
      .groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("tri"))
      .collect()
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (lang, rows) =>
        lang -> rows.sortBy(_.getInt(1)).map(_.getString(2)).toSeq
      }
  }

  /** [EXT] n-gram language ID (`langid_ngram` query): score(lang) =
    * |doc trigrams ∩ profile(lang)|, argmax with alphabetical
    * precedence, all-zero → 'und' — the same election discipline as the
    * marker-word [[langId]], over learned character features instead of
    * a hand-set word list (the Cavnar–Trenkle shape with set overlap in
    * place of rank distance — integer scores, engine-exact). Output per
    * doc: declared label, prediction, agreement. */
  def langIdNgram(docs: DataFrame, profiles: Seq[(String, Seq[String])],
                  idCol: String = "doc_id", langCol: String = "lang",
                  textCol: String = "text"): DataFrame = {
    // Pin the per-doc trigram set ONCE: the election below references the
    // trigram expression 2·|langs| times (each score appears in `best`
    // and again in its `when` arm), and the interpreted HOF trigram
    // extraction gets no common-subexpression elimination — it re-ran
    // ~10× per row (measured as the dominant cost of langid_confusion,
    // r16; guide §1.2 step 2). The intersect/argmax arithmetic is
    // unchanged — identical predictions.
    val withTris = graft.Par.widen(docs)
      .select(col(idCol), col(langCol).as("lang"),
        charTrigrams(col(textCol)).as("__tris"))
      .pinned
    val tris = col("__tris")
    val scores = profiles.map { case (l, p) =>
      l -> size(array_intersect(tris, array(p.map(lit): _*)))
    }
    val best = greatest(scores.map(_._2): _*)
    val pred = scores.foldRight(lit("und")) { case ((l, s), els) =>
      when(best > 0 && s === best, lit(l)).otherwise(els)
    }
    withTris.select(col(idCol), col("lang"), pred.as("pred_ngram"))
      .withColumn("agree", col("lang") === col("pred_ngram"))
      .orderBy(col(idCol))
  }

  /** Declared-vs-predicted confusion counts (`langid_confusion` query) —
    * the audit a team reads before trusting the classifier. */
  def langIdConfusion(docs: DataFrame, profiles: Seq[(String, Seq[String])],
                      idCol: String = "doc_id", langCol: String = "lang",
                      textCol: String = "text"): DataFrame =
    langIdNgram(docs, profiles, idCol, langCol, textCol)
      .groupBy(col("lang"), col("pred_ngram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_ngram"))

  /** DuckDB trigram-set expression over a text expression. */
  def sqlCharTrigrams(t: String): String =
    s"list_distinct(list_filter(list_transform(range(1, greatest(length(lower($t)) - 1, 1)), i -> substring(lower($t), CAST(i AS INT), 3)), x -> length(x) = 3))"

  /** DuckDB mirror of the per-doc n-gram prediction over printed
    * profiles: `prof(lang, tris)` must be in scope. */
  def sqlLangIdNgramCtes(rel: String, idCol: String, langCol: String,
                         textCol: String,
                         profiles: Seq[(String, Seq[String])]): String = {
    val values = profiles.map { case (l, p) =>
      s"('$l', ${p.map(t => s"'${t.replace("'", "''")}'").mkString("[", ", ", "]")})"
    }.mkString(",\n    ")
    s"""prof(plang, tris) AS (FROM (VALUES
       |    $values)),
       |sc AS (
       |  SELECT d.$idCol AS doc_id, d.$langCol AS lang, p.plang,
       |    len(list_filter(${sqlCharTrigrams(s"d.$textCol")},
       |        x -> list_contains(p.tris, x))) AS s
       |  FROM $rel d CROSS JOIN prof p),
       |mx AS (SELECT doc_id, lang, max(s) AS best FROM sc GROUP BY 1, 2),
       |pr AS (
       |  SELECT mx.doc_id, mx.lang,
       |    CASE WHEN mx.best > 0
       |      THEN (SELECT min(plang) FROM sc
       |            WHERE sc.doc_id = mx.doc_id AND sc.s = mx.best)
       |      ELSE 'und' END AS pred_ngram
       |  FROM mx)""".stripMargin
  }

  /** Predicted-language distribution (the `lang_distribution` query). */
  def langDistribution(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(langId(col(textCol)).as("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang_pred"))

  // ---- document fingerprinting (rolling-hash family) ----

  /** Word n-gram shingles, lowercased. Empty array when the document has
    * fewer than n tokens. (Measured: the `slice`+`concat_ws` form beats
    * per-position indexed `element_at`/`get` concats ~2× — the indexed
    * lookups don't codegen into anything cheaper than the one slice.) */
  def shingles(text: Column, n: Int): Column =
    shinglesOfTokens(tokens(lower(text)), n)

  /** [[shingles]] over an ALREADY-tokenized (lowercased) array — the
    * identical sliding concat, so the two forms are byte-for-byte equal
    * by construction. Lets a caller tokenize once and derive several
    * n-gram orders from the same array instead of re-tokenizing per
    * order (r17, guide §1.2 — the LmScore model fits). */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Corpus-wide boilerplate mining (`boilerplate_ngrams` query): word
    * n-grams by DOCUMENT frequency — each document votes once per distinct
    * shingle (`array_distinct` before the explode), so a doc repeating its
    * own phrase doesn't inflate the corpus count. High-df n-grams are
    * navigation chrome / license headers / templates — the removal list a
    * training-data pipeline subtracts before dedup.
    *
    * Scale shape: explode → hash aggregate keyed by shingle with map-side
    * partial combine — one shuffle whose payload is (shingle, partial
    * count), already collapsed per map task. The `HAVING df >= minDf`
    * prunes post-agg (correct, the count must finish first); at 100 TB the
    * cheaper first cut is [[graft.pipeline.Curation.boilerplateSampled]] —
    * mine a deterministic sample, then count exactly only the survivors. */
  def frequentShingles(docs: DataFrame, textCol: String, n: Int,
                       minDf: Long): DataFrame =
    graft.Par.widen(docs)
      .select(explode(array_distinct(shingles(col(textCol), n))).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("shingle").asc)

  /** Per-document n-gram novelty (`ngram_novelty` query): what fraction
    * of a document's DISTINCT word n-grams also appear in at least
    * `minDf` documents corpus-wide — the cross-document duplication
    * exposure of each doc. High `pct_common` marks template/boilerplate-
    * heavy documents that survive exact and near dedup (they share
    * phrases with many docs without being a near-duplicate of ANY single
    * one); curation pipelines use it as a per-doc removal or downweight
    * signal beside the within-doc [[graft.text.GopherRepetition]] gate
    * and the corpus-level [[frequentShingles]] list.
    *
    * Scale shape: shingles collapse to their md5-prefix (15 hex chars,
    * 60 bits) immediately, so both exchanges — the document-frequency
    * aggregate and the df join back to (doc, h) pairs — carry
    * (id, 15-byte hash) rows, never phrase text. Hash collisions merge
    * two shingles' df counts; at 60 bits that is vanishing, and the
    * DuckDB oracle replays the SAME hashing so the check is exact either
    * way. Docs with fewer than n tokens have no shingles: n_shingles = 0
    * and a null fraction (kept via the left join — absence from the pair
    * table must not drop the doc from the audit). */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, minDf: Long): DataFrame = {
    val pairs = graft.Par.widen(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(shingles(col(textCol), n))).as("shingle"))
      .select(col("doc_id"), substring(md5(col("shingle")), 1, 15).as("h"))
    // Each doc votes once per distinct shingle (array_distinct above), so
    // df is true document frequency — the frequentShingles discipline.
    val dfCounts = pairs.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val perDoc = pairs.join(dfCounts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") * 100.0 /
          nullif(coalesce(col("n_shingles"), lit(0L)).cast("double"), lit(0.0)), 4)
          .as("pct_common"))
      .orderBy(col("doc_id"))
  }

  /** Token count-of-counts spectrum (`token_spectrum` query): how many
    * distinct tokens occur exactly once, twice, … — the Good-Turing
    * frequency-of-frequencies table and the standard corpus-health audit
    * (a natural corpus is Zipfian: a large singleton tail, smoothly
    * thinning; template/machine-generated corpora show spikes).
    * Per row: the occurrence count, the number of distinct token types
    * at that count, and the total token mass they carry. Two map-side-
    * combined hash aggregates — the first keyed by token (the same
    * exchange every word-count query pays), the second by the (tiny)
    * count domain. */
  def tokenSpectrum(docs: DataFrame, textCol: String): DataFrame =
    graft.Par.widen(docs)
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("occ"))
      .groupBy(col("occ"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("occ")).as("token_mass"))
      .orderBy(col("occ"))

  /** Additive half of INCREMENTAL [[ngramNovelty]]: per-batch shingle
    * document-frequency counts keyed by the md5 prefix — (h, df), merged
    * across append-only batches by groupBy-sum ([[mergeShingleCounts]]).
    * The state is ≤ |distinct shingles| rows of (15-byte hash, long) and
    * never holds phrase text; a 100 TB corpus maintains it from batch
    * partials without re-reading history (the
    * [[graft.pipeline.Dsir]] count-table discipline). */
  def shingleDfCounts(docs: DataFrame, textCol: String, n: Int): DataFrame =
    graft.Par.widen(docs)
      .select(explode(array_distinct(shingles(col(textCol), n))).as("shingle"))
      .select(substring(md5(col("shingle")), 1, 15).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))

  /** Merge shingle-df count tables: groupBy-sum — valid because batches
    * are disjoint document sets (append-only contract), so each doc's
    * distinct-shingle votes land in exactly one partial. */
  def mergeShingleCounts(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy(col("h")).agg(sum(col("df")).as("df"))

  /** Score a batch against the MERGED corpus-wide df state — the
    * incremental face of [[ngramNovelty]] (`ngram_novelty_incremental`
    * query): per batch doc, the fraction of its distinct shingles with
    * corpus-wide df ≥ minDf. Identical to running [[ngramNovelty]] over
    * the whole corpus and keeping the batch rows (sum-merge ≡ whole-corpus
    * counts — the full oracle states exactly that); per-release cost is
    * O(batch + |state probe|), history never re-read. `counts` must
    * already include the batch's own partial (merge it in first): the
    * inner probe treats the state as the complete corpus vocabulary, so
    * scoring against history-only state would silently drop the batch's
    * novel shingles from n_shingles. */
  def ngramNoveltyFromCounts(batch: DataFrame, idCol: String, textCol: String,
                             n: Int, minDf: Long, counts: DataFrame): DataFrame = {
    val pairs = graft.Par.widen(batch)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(shingles(col(textCol), n))).as("shingle"))
      .select(col("doc_id"), substring(md5(col("shingle")), 1, 15).as("h"))
    val perDoc = pairs.join(counts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
    batch.select(col(idCol).cast("long").as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") * 100.0 /
          nullif(coalesce(col("n_shingles"), lit(0L)).cast("double"), lit(0.0)), 4)
          .as("pct_common"))
      .orderBy(col("doc_id"))
  }

  /** Distinctive terms per source (`distinctive_terms` query): the top-k
    * word n-grams of each source among n-grams appearing in at most
    * `maxSources` distinct sources — TF-IDF-flavored keyword extraction
    * with an INTEGER-ONLY ranking (within-source count desc, term asc). A
    * float `tf·log(N/df)` score would hash-differently across engines
    * (libm log); the rare-term gate IS the IDF and the count IS the TF, so
    * the ranking is engine-exact. Corpus-wide phrases (stopword runs,
    * boilerplate) appear in every source and die at the gate — no stopword
    * list needed. n ≥ 2 is the useful setting: single tokens draw from a
    * shared vocabulary, phrases are where sources differ.
    *
    * Scale shape: shingle/explode → hash aggregate on (source, term) with
    * map-side combine [shuffle 1, carries counts not text] → term
    * source-frequency over those pairs [shuffle 2, one row per distinct
    * (source, term)] → equi-join back on term [3] → per-source top-k
    * window [4]. Nothing quadratic, every exchanged row is a few dozen
    * bytes. */
  def distinctiveTerms(docs: DataFrame, sourceCol: String, textCol: String,
                       n: Int, maxSources: Int, k: Int): DataFrame = {
    val tf = graft.Par.widen(docs)
      .select(coalesce(col(sourceCol), lit("Unknown")).as("source"),
        explode(shingles(col(textCol), n)).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val sf = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("n_sources"))
      .filter(col("n_sources") <= maxSources)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("tf").desc, col("term").asc)
    tf.join(sf, Seq("term"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("term"), col("tf"), col("n_sources"))
      .orderBy(col("source"), col("rk"))
  }

  /** Top-`size` token vocabulary by corpus frequency, ids assigned by
    * (count desc, token asc) — integer-only ordering, so the id map is
    * engine-exact and stable. Returns (token, token_id ∈ 1..size).
    *
    * One hash aggregate over the token stream (map-side combined), then a
    * top-`size` heap (`TakeOrderedAndProject` — never a global sort) and a
    * row_number over the ≤size survivors. The single-partition window is
    * deliberate: a vocabulary is a CONFIG-SCALE artifact (30k-200k rows),
    * never corpus-scale — same driver-side discipline as the k-means
    * centroid matrix. */
  def vocabulary(docs: DataFrame, textCol: String, size: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token").asc)
    graft.Par.widen(docs)
      .select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(size)
      .withColumn("token_id", row_number().over(w).cast("long"))
      .select(col("token"), col("token_id"))
  }

  /** Id-encode documents against a vocabulary (`vocab_encode` query): one
    * row per token position, OOV → id 0 (the <unk> convention). The step
    * between cleaning and sequence packing in a training-data pipeline.
    *
    * posexplode (pure fan-out, no shuffle) → broadcast join against the
    * config-scale vocab — the token stream itself never re-keys; at 100 TB
    * this is a map-only stage. */
  def encodeTokens(docs: DataFrame, idCol: String, textCol: String,
                   vocab: DataFrame): DataFrame =
    graft.Par.widen(docs)
      .select(col(idCol),
        posexplode(tokens(lower(col(textCol)))).as(Seq("pos0", "token")))
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col(idCol), (col("pos0") + 1).cast("long").as("pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
      .orderBy(col(idCol), col("pos"))

  /** Cross-source overlap matrix (`source_overlap_matrix` query): for each
    * source pair, how many distinct n-gram shingles they share — the
    * corpus-level audit behind "is source B just a scrape of source A"
    * (pairs with near-total overlap are mirror candidates for
    * whole-SOURCE dedup before any per-document pass).
    *
    * Shape: distinct (source, shingle) pairs [one agg shuffle on the
    * shingle stream] → self-equi-join on shingle [second shuffle] →
    * count per source pair. Fan-out per shingle is bounded by the number
    * of sources carrying it (≤ |sources|, a config-scale constant — never
    * corpus-scale); the output is at most |sources|² rows. The distinct
    * (source, shingle) SET is corpus-scale though — at 100 TB run
    * [[sourceOverlapSampled]] first (deterministic shingle-keyed sample,
    * scaled estimates) and reserve this exact form for audits. */
  def sourceOverlapMatrix(docs: DataFrame, sourceCol: String, textCol: String,
                          n: Int): DataFrame = {
    val sh = graft.Par.widen(docs)
      .select(coalesce(col(sourceCol), lit("Unknown")).as("source"),
        explode(array_distinct(shingles(col(textCol), n))).as("sh"))
      .distinct()
      .pinned // one shingle pass feeds both join sides
    val a = sh.select(col("source").as("source_a"), col("sh"))
    val b = sh.select(col("source").as("source_b"), col("sh"))
    a.join(b, Seq("sh"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Sampled cross-source overlap (`source_overlap_sampled` query) — the
    * 100 TB form of [[sourceOverlapMatrix]], whose distinct
    * (source, shingle) set is itself corpus-scale. Same discipline as
    * [[graft.pipeline.Curation.boilerplateSampled]]: a DETERMINISTIC
    * md5-bucket sample, then counts scaled back up.
    *
    * The sample is keyed by the SHINGLE CONTENT, which is what makes the
    * estimate sound: a given shingle is in-sample for EVERY source or for
    * none, so the shared-shingle count of a pair is a plain binomial
    * sample of its true overlap (a per-(source,shingle)-row sample would
    * instead quadratically thin the matches). The filter runs before the
    * distinct, so the shingle stream shrinks by `rate` ahead of both
    * shuffles. Deterministic md5 sampling means the estimate is
    * reproducible in any engine — this query carries a full DuckDB
    * oracle; the estimate-vs-exact error is pinned in TextAnalysisSpec. */
  def sourceOverlapSampled(docs: DataFrame, sourceCol: String, textCol: String,
                           n: Int, rateBp: Int): DataFrame = {
    val sh = graft.Par.widen(docs)
      .select(coalesce(col(sourceCol), lit("Unknown")).as("source"),
        explode(array_distinct(shingles(col(textCol), n))).as("sh"))
      .filter(graft.pipeline.Curation.sampleBucket(col("sh")) < rateBp)
      .distinct()
      .pinned // one shingle pass feeds both join sides
    val a = sh.select(col("source").as("source_a"), col("sh"))
    val b = sh.select(col("source").as("source_b"), col("sh"))
    a.join(b, Seq("sh"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_sampled"),
        floor(count(lit(1)) * 10000L / rateBp).as("n_shared_est"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Whole-document fingerprint + min-shingle rolling fingerprint (the
    * winnowing primitive: min over the 3-gram shingle hash stream). Both
    * are the md5-prefix 60-bit hash (first 15 hex digits — the
    * engine-reproducible primitive, switched from xxhash64 in r7), so
    * the `doc_fingerprints` query carries a full hash-checked oracle. */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def fp(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    docs.select(
      col(idCol),
      fp(t).as("doc_fp"),
      array_min(transform(shingles(t, 3), s => fp(s))).as("min_shingle_fp")
    ).orderBy(col(idCol))
  }
}
