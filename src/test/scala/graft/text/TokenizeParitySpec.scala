package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins SplitWhitespace == regexp_extract_all(…, "\\S+") — the oracle SQL
  * keeps the regex form, so the native tokenizer must be value-identical
  * on every input shape: unicode (multi-byte never splits), NBSP (NOT
  * whitespace under Java's default ASCII \s), the five ASCII whitespace
  * bytes, empties, and nulls. */
class TokenizeParitySpec extends SparkSpec {
  import spark.implicits._

  /** The regex form the native tokenizer must equal. */
  private def tokensRegex(text: org.apache.spark.sql.Column) =
    regexp_extract_all(text, lit("\\S+"), lit(0))

  test("native split equals regexp \\S+ on edge strings") {
    val edges = Seq(
      "", " ", "\t\n\f\r", "a", "  a  b\tc\nd\re\ff  ",
      "a b",            // NBSP: one token under ASCII \s
      "héllo wörld", "多字节  字",
      "xy", "trailing ", " leading")
    val df = edges.toDF("text")
      .select(
        TextAnalysis.tokens(col("text")).as("native"),
        tokensRegex(col("text")).as("regex"))
    assert(df.filter(not(col("native") === col("regex"))).count() == 0)
    // NBSP really is token-glue, not a separator
    assert(Seq("a b").toDF("t")
      .select(size(TextAnalysis.tokens(col("t")))).head().getInt(0) == 1)
  }

  test("native split equals regexp \\S+ on the document fixture") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val df = docs.select(
      TextAnalysis.tokens(lower(col("text"))).as("native"),
      tokensRegex(lower(col("text"))).as("regex"))
    assert(df.filter(not(col("native") === col("regex"))).count() == 0)
  }

  test("null text maps to null under both forms") {
    val df = Seq(1).toDF("x")
      .select(TextAnalysis.tokens(lit(null).cast("string")).as("native"),
        tokensRegex(lit(null).cast("string")).as("regex"))
    val r = df.head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
