package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Sentence segmentation + sentence-aware chunking
  * (`sentence_chunks` query) — the packing form RAG/eval pipelines want:
  * [[graft.pipeline.Curation.chunkTexts]] cuts at raw token positions
  * and may split a sentence mid-clause; this operator never does. A
  * sentence straddling a budget boundary goes whole to the chunk that
  * contains its FIRST token — the same quantized-assignment discipline
  * as [[graft.pipeline.Curation.packByOrder]], so chunk_id is a pure
  * window expression, not a stateful greedy scan.
  *
  * Sentence contract (RE2-safe — DuckDB has no lookbehind, so this is a
  * MATCH, not a split): `[^.!?]+[.!?]+"?` — a maximal run of
  * non-terminal characters, its terminal-punctuation run, and an
  * optional closing double quote. Trailing text with no terminal
  * punctuation is dropped (same policy as C4's line rule: prose ends in
  * punctuation). Sentences are whitespace-normalized (collapse + trim,
  * the [[graft.dedup.ParagraphDedup]] normalize contract minus
  * lowercasing) so a sentence spanning a line break compares clean.
  *
  * Scale shape: one posexplode and ONE window keyed by doc id (the
  * running token total) — a single exchange, no joins, no driver state;
  * per-doc sentence counts bound the window buffers. */
object Sentences {

  val SentenceRe = "[^.!?]+[.!?]+\"?"

  def sentencesOf(t: Column): Column =
    regexp_extract_all(t, lit(SentenceRe), lit(0))

  private def normalize(c: Column): Column =
    trim(regexp_replace(c, "[ \t\n\f\r]+", " "))

  def sentenceChunks(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     budgetTokens: Int = 50): DataFrame = {
    val sents = graft.Par.widen(docs)
      .select(col(idCol),
        posexplode(sentencesOf(col(textCol))).as(Seq("sent_idx", "__raw")))
      .select(col(idCol), col("sent_idx").cast("long").as("sent_idx"),
        normalize(col("__raw")).as("sentence"))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("sentence")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("sent_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sents
      .withColumn("chunk_id",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)).cast("double") /
          budgetTokens).cast("long"))
      .select(col(idCol), col("sent_idx"), col("chunk_id"),
        col("n_tokens"), col("sentence"))
      .orderBy(col(idCol), col("sent_idx"))
  }

  /** DuckDB mirror over a relation exposing (doc_id, text). */
  def sqlSentenceChunks(from: String, budgetTokens: Int = 50): String =
    s"""WITH u AS (
       |  SELECT doc_id, CAST(w.i - 1 AS BIGINT) AS sent_idx,
       |    trim(regexp_replace(w.raw, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS sentence
       |  FROM (
       |    SELECT doc_id, UNNEST(list_transform(range(1, len(parts) + 1),
       |      i -> {'i': i, 'raw': parts[i]})) AS w
       |    FROM (SELECT doc_id,
       |            regexp_extract_all(text, '[^.!?]+[.!?]+"?') AS parts
       |          FROM $from))),
       |tkn AS (
       |  SELECT *, CAST(len(regexp_extract_all(sentence, '[^ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens
       |  FROM u),
       |c AS (
       |  SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY doc_id ORDER BY sent_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM tkn)
       |SELECT doc_id, sent_idx,
       |  CAST(FLOOR(cum::DOUBLE / $budgetTokens) AS BIGINT) AS chunk_id,
       |  n_tokens, sentence
       |FROM c ORDER BY doc_id, sent_idx""".stripMargin
}
