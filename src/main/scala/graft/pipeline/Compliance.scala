package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] The release-compliance trio as ONE sweep
  * (`compliance_sweep` / `compliance_funnel` queries): content-hash
  * takedowns, eTLD+1 domain blocklist, and robots path rules are three
  * operators this repo already owns ([[Curation.excludeByKey]],
  * [[graft.ingest.Robots]]); a corpus release runs all three, and wants
  * ONE auditable pass — which documents survive, and how many each leg
  * removes — not three separate corpus scans.
  *
  * Shape: [[flags]] annotates each document with the three leg verdicts
  * in a single text-bearing scan — the takedown and blocklist marks are
  * `IN (list)` tests that plan as broadcast existence joins (one
  * boolean per document, so duplicate list keys need no dedup
  * exchange), the robots verdict joins the host-keyed election computed
  * over an (id, url) projection (column-pruned — text never enters the
  * robots path).
  * [[sweep]] keeps the conjunction (the list legs as broadcast anti
  * joins); [[funnel]] is ONE aggregate over
  * the flags frame (the `refinedweb_funnel` cumulative-flag discipline —
  * never a count per stage).
  */
object Compliance {

  /** Per-document leg verdicts: (docs.* minus helpers, f_takedown,
    * f_blocklist, f_robots) — true = the leg KEEPS the document.
    * `takedownHashes`/`blockedDomains` expose their key in the first
    * column; `robotsRules` is the [[graft.ingest.Robots]] (host, rule,
    * prefix) table (RFC 9309 wildcards included). */
  def flags(docs: DataFrame, idCol: String = "doc_id",
            urlCol: String = "url", textCol: String = "text",
            takedownHashes: DataFrame, blockedDomains: DataFrame,
            robotsRules: DataFrame): DataFrame = {
    // A null key or a null list entry marks nothing, as a left mark join
    // would. The coalesce keeps that if a filter above pushes the test
    // down: a bare `NOT IN` there plans as a null-aware anti join, which
    // drops every row once the list holds a null.
    def listed(key: Column, keys: DataFrame) =
      coalesce(key.isin(broadcast(keys.select(col(keys.columns.head)))), lit(false))
    docs
      .withColumn("f_takedown", !listed(md5(col(textCol)), takedownHashes))
      .withColumn("f_blocklist", !listed(
        graft.ingest.Urls.registeredDomain(col(urlCol)), blockedDomains))
      .join(robots(docs, idCol, urlCol, robotsRules), Seq(idCol))
  }

  /** Documents surviving all three legs: [[flags]]' conjunction, with the
    * two list legs as broadcast anti joins. A filter over the flags
    * frame would let the optimizer copy the list tests into the robots
    * branch wherever it can derive the url from the join key, and then
    * plan that join as a sort-merge join. */
  def sweep(docs: DataFrame, idCol: String = "doc_id",
            urlCol: String = "url", textCol: String = "text",
            takedownHashes: DataFrame, blockedDomains: DataFrame,
            robotsRules: DataFrame): DataFrame = {
    def unlisted(df: DataFrame, key: Column, keys: DataFrame) =
      df.join(broadcast(keys.select(col(keys.columns.head).as("__k"))),
        key === col("__k"), "left_anti")
    val kept = unlisted(
      unlisted(docs, md5(col(textCol)), takedownHashes),
      graft.ingest.Urls.registeredDomain(col(urlCol)), blockedDomains)
    kept.join(robots(docs, idCol, urlCol, robotsRules), Seq(idCol))
      .filter(col("f_robots")).drop("f_robots")
  }

  /** The robots leg, (id, f_robots), over an (id, url) projection:
    * column-pruned, text never enters it. */
  private def robots(docs: DataFrame, idCol: String, urlCol: String,
                     robotsRules: DataFrame): DataFrame =
    graft.ingest.Robots
      .decisions(docs.select(col(idCol), col(urlCol)), urlCol, robotsRules, idCol)
      .select(col(idCol), col("allowed").as("f_robots"))

  /** Attrition per leg, cumulatively in sweep order (takedowns →
    * blocklist → robots) — ONE aggregate over the flags frame. */
  def funnel(docs: DataFrame, idCol: String = "doc_id",
             urlCol: String = "url", textCol: String = "text",
             takedownHashes: DataFrame, blockedDomains: DataFrame,
             robotsRules: DataFrame): DataFrame =
    flags(docs, idCol, urlCol, textCol, takedownHashes, blockedDomains,
        robotsRules)
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("f_takedown"), 1L).otherwise(0L))
          .as("n_after_takedowns"),
        sum(when(col("f_takedown") && col("f_blocklist"), 1L).otherwise(0L))
          .as("n_after_blocklist"),
        sum(when(col("f_takedown") && col("f_blocklist") && col("f_robots"),
          1L).otherwise(0L)).as("n_after_robots"))

  /** The flags frame as DuckDB CTEs ending in `fl`(doc_id, source, f1 =
    * takedown-keeps, f2 = blocklist-keeps, f3 = robots-keeps), over a
    * relation `u` the caller supplies exposing (doc_id, source, text,
    * url) — prepend [[graft.ingest.Psl.sqlPslCte]]. `takedownSql` is a
    * one-column relation of requested md5 hashes; `blockedList` the
    * blocked eTLD+1 literals; `rulesRel` the robots VALUES relation. */
  def sqlFlagsCtes(takedownSql: String, blockedList: Seq[String],
                   rulesRel: String): String = {
    val blocked = blockedList.map(d => s"'$d'").mkString("[", ", ", "]")
    // blocklist as a LEFT-JOIN mark, not NOT IN: a NULL domain (null /
    // scheme-less url) must KEEP the row in both engines — the r10
    // null-URL-group lesson.
    s"""${graft.ingest.Psl.sqlDomainCtes("u", "doc_id", Seq("source", "text"), "url", "dd")},
       |td AS (SELECT DISTINCT h FROM ($takedownSql)),
       |bl AS (SELECT DISTINCT UNNEST($blocked) AS bdom),
       |rd AS (${graft.ingest.Robots.sqlDecisions("u", "url", rulesRel)}),
       |fl AS (
       |  SELECT dd.doc_id, dd.source,
       |    (td.h IS NULL) AS f1,
       |    (bl.bdom IS NULL) AS f2,
       |    rd.allowed AS f3
       |  FROM dd LEFT JOIN td ON md5(dd.text) = td.h
       |          LEFT JOIN bl ON dd.domain = bl.bdom
       |          JOIN rd ON dd.doc_id = rd.doc_id)""".stripMargin
  }
}
