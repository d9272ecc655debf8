package graft.text

import graft.SparkSpec
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** The declarative higher-order-function form of the nine repetition
  * signals — the parity twin the fused
  * [[org.apache.spark.sql.graft.GopherRepetitionStats]] pass is pinned
  * equal to on the edge fixtures. */
private object DeclarativeSignals {

  def nonEmptyUnits(t: Column, sep: String): Column =
    filter(split(t, sep), u => trim(u) =!= "")

  def charSum(units: Column): Column =
    aggregate(units, lit(0L), (acc, x) => acc + length(x).cast("long"))

  def dupFrac(units: Column): Column =
    round((size(units) - size(array_distinct(units))).cast("double") /
      nullif(size(units).cast("double"), lit(0.0)), 4)

  def dupCharFrac(units: Column): Column =
    round((charSum(units) - charSum(array_distinct(units))).cast("double") /
      nullif(charSum(units).cast("double"), lit(0.0)), 4)

  /** Non-space chars of an n-gram of the pinned token class: tokens
    * carry no whitespace bytes and are joined by single spaces. */
  def gramChars(g: Column, n: Int): Column =
    (length(g) - lit(n - 1)).cast("long")

  /** max over n-grams of occurrences × non-space chars, as a fold over
    * the sorted shingle array (equal grams are adjacent, so the running
    * run length reaches the full count on the run's last element). */
  def topNgramChars(t: Column, n: Int): Column = {
    val g = sort_array(TextAnalysis.shingles(t, n))
    aggregate(g,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"),
            when(run >= 2L, run * gramChars(x, n)).otherwise(lit(0L)))
            .as("best"))
      },
      acc => acc.getField("best"))
  }

  /** Σ over n-grams with occurrences > 1 of occurrences × non-space
    * chars: runs are flushed into the sum when the next gram differs,
    * and the finish lambda flushes the final run. */
  def dupNgramChars(t: Column, n: Int): Column = {
    val g = sort_array(TextAnalysis.shingles(t, n))
    def flush(acc: Column): Column =
      when(acc.getField("run") > 1L,
        acc.getField("dsum") +
          acc.getField("run") * gramChars(acc.getField("prev"), n))
        .otherwise(acc.getField("dsum"))
    aggregate(g,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("dsum")),
      (acc, x) => {
        val same = x === acc.getField("prev")
        val run = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          when(same, acc.getField("dsum")).otherwise(flush(acc)).as("dsum"))
      },
      flush)
  }

  /** The nine signals as interpreted HOF folds, in output order. */
  def signalCols(t: Column): Seq[(String, Column)] = {
    val lines = nonEmptyUnits(t, "\\n")
    val paras = nonEmptyUnits(t, "\\n{2,}")
    val nch = nullif(charSum(TextAnalysis.tokens(lower(t))).cast("double"),
      lit(0.0))
    def topFrac(n: Int) = round(topNgramChars(t, n).cast("double") / nch, 4)
    def dupNFrac(n: Int) = round(dupNgramChars(t, n).cast("double") / nch, 4)
    Seq(
      "dup_line_frac" -> dupFrac(lines),
      "dup_para_frac" -> dupFrac(paras),
      "dup_line_char_frac" -> dupCharFrac(lines),
      "dup_para_char_frac" -> dupCharFrac(paras),
      "top_2gram_char_frac" -> topFrac(2),
      "top_3gram_char_frac" -> topFrac(3),
      "top_4gram_char_frac" -> topFrac(4),
      "dup_5gram_char_frac" -> dupNFrac(5),
      "dup_10gram_char_frac" -> dupNFrac(10))
  }
}

/** Pins the Gopher repetition signals: hand-computed values on a tiny
  * doc, the planted fixture's per-family failures (and the one doc
  * whose ONLY violation is the repeated 5-gram), the silent-on-
  * unrepeated-text contract, and the empty-doc pass. */
class GopherRepetitionSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("doc_id", "dup_line_frac", "dup_para_frac",
    "dup_line_char_frac", "dup_para_char_frac", "top_2gram_char_frac",
    "top_3gram_char_frac", "top_4gram_char_frac", "dup_5gram_char_frac",
    "dup_10gram_char_frac", "pass")

  private def idx(name: String) = cols.indexOf(name)

  private def sig(text: String): Row =
    GopherRepetition.signals(Seq((1L, text)).toDF("doc_id", "text")).head()

  test("hand-computed signals on a tiny doc") {
    // "a b\na b\nc d": 3 lines (1 repeat), tokens [a,b,a,b,c,d], nch=6.
    val r = sig("a b\na b\nc d")
    assert(r.getDouble(idx("dup_line_frac")) == 0.3333)      // 1/3
    assert(r.getDouble(idx("dup_para_frac")) == 0.0)         // one para
    assert(r.getDouble(idx("dup_line_char_frac")) == 0.3333) // 3/9 chars
    // "a b" occurs twice: 2 occurrences x 2 non-space chars / 6
    assert(r.getDouble(idx("top_2gram_char_frac")) == 0.6667)
    // no trigram repeats ("b a b" and "a b c" etc. are distinct)
    assert(r.getDouble(idx("top_3gram_char_frac")) == 0.0)
    assert(r.getDouble(idx("dup_5gram_char_frac")) == 0.0)
    assert(!r.getBoolean(idx("pass")))
  }

  test("unrepeated text is silent: every signal 0, doc passes") {
    val r = sig("tiny doc here")
    cols.slice(1, 10).foreach(c => assert(r.getDouble(idx(c)) == 0.0, c))
    assert(r.getBoolean(idx("pass")))
  }

  test("empty doc: NULL unit fractions, zero gram fractions, passes") {
    val r = sig("")
    assert(r.isNullAt(idx("dup_line_frac")))
    assert(r.isNullAt(idx("top_2gram_char_frac")))
    assert(r.getBoolean(idx("pass")))
  }

  test("planted fixture: per-family failures, clean page passes") {
    val out = GopherRepetition.signals(
        graft.RepetitionFixture.docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(idx("pass")))                  // clean page
    assert(out(2L).getDouble(idx("dup_line_frac")) > 0.30)   // dup lines
    assert(!out(2L).getBoolean(idx("pass")))
    assert(out(3L).getDouble(idx("dup_para_frac")) > 0.30)   // dup paras
    assert(!out(3L).getBoolean(idx("pass")))
    assert(out(4L).getDouble(idx("top_2gram_char_frac")) > 0.20)
    assert(!out(4L).getBoolean(idx("pass")))
    // doc 5's ONLY violation is the twice-occurring 5-gram: the distinct
    // filler dilutes the shorter top-n-grams under their cuts, and no
    // 10-gram repeats — the threshold ladder separates granularities.
    val d5 = out(5L)
    assert(d5.getDouble(idx("dup_5gram_char_frac")) > 0.15)
    assert(d5.getDouble(idx("top_2gram_char_frac")) <= 0.20)
    assert(d5.getDouble(idx("top_3gram_char_frac")) <= 0.18)
    assert(d5.getDouble(idx("top_4gram_char_frac")) <= 0.16)
    assert(d5.getDouble(idx("dup_10gram_char_frac")) <= 0.10)
    assert(!d5.getBoolean(idx("pass")))
    // doc 6: the repeated 10-gram fires, and necessarily drags its
    // contained 5-grams over their cut too (monotone ladder).
    assert(out(6L).getDouble(idx("dup_10gram_char_frac")) > 0.10)
    assert(out(6L).getDouble(idx("dup_5gram_char_frac")) > 0.15)
    assert(!out(6L).getBoolean(idx("pass")))
    assert(out(7L).getBoolean(idx("pass")))                  // empty
    assert(out(8L).getBoolean(idx("pass")))                  // tiny
  }

  test("gate keeps exactly the passing documents with original columns") {
    val docs = graft.RepetitionFixture.docs.toDF("doc_id", "text")
    val kept = GopherRepetition.gate(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 7L, 8L))
    assert(GopherRepetition.gate(docs).columns.toSeq == Seq("doc_id", "text"))
  }

  test("signal column order matches the oracle contract") {
    val df = GopherRepetition.signals(Seq((1L, "x")).toDF("doc_id", "text"))
    assert(df.columns.toSeq == cols)
  }

  test("fused stats expression == declarative HOF twin on edge inputs (r16)") {
    import org.apache.spark.sql.functions.col
    // Every semantic edge the one-pass native rewrite must preserve:
    // tab-only lines (Spark trim strips 0x20 ONLY — a "\t" line is
    // content), trailing newlines (split keeps trailing empties),
    // space-padded duplicate units, multi-codepoint chars (length
    // counts CODE POINTS), case-folding length changes (İ lowercases
    // to two codepoints), astral chars, nulls, empties, and the
    // planted per-family fixture docs.
    val edge = Seq(
      (1L, "a b\na b\nc d"),
      (2L, "\t\n \nx\n\n\ny y y y y y"),
      (3L, "İstanbul İstanbul İstanbul yes\n\nİstanbul İstanbul İstanbul yes"),
      (4L, "𝕏 𝕏 𝕏 𝕏 plain\n𝕏 𝕏 𝕏 𝕏 plain"),
      (5L, ""),
      (6L, null.asInstanceOf[String]),
      (7L, "one two three four five " + (1 to 40).map(i => s"w$i").mkString(" ") +
        " one two three four five"),
      (8L, "  padded  \n  padded  \nother"),
      (9L, "x\n\n\nx\n\ny\n")) ++
      graft.RepetitionFixture.docs
    val df = edge.toDF("doc_id", "text")
    // rebuild the declarative signal table inline
    val decl = df.select(col("doc_id") +:
      DeclarativeSignals.signalCols(col("text"))
        .map { case (n, c) => c.as(n) }: _*)
    val a = GopherRepetition.signals(df).drop("pass").orderBy("doc_id").collect()
    val b = decl.orderBy("doc_id").collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"\nfused $x\ndecl  $y") }
  }
}
