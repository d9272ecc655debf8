package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] The end-to-end release run (`release_run` query) — ONE call
  * from raw documents to the published shard manifest, in the order a
  * real release executes its legal and hygiene obligations:
  *
  *   1. compliance sweep ([[Compliance.sweep]] — content-hash takedowns,
  *      eTLD+1 blocklist, robots rules, one text-bearing scan);
  *   2. exact dedup (keep the FIRST copy of each content hash — one
  *      `min(id) over (partition by md5)` window, the form
  *      RefinedWeb's exact stage uses);
  *   3. per-registered-domain caps ([[Curation.domainCaps]],
  *      first-come order — one domain-keyed window);
  *   4. fixed-budget sharding in the seeded shuffle order
  *      ([[Curation.releaseShards]] — the prefix-sum cut + per-shard
  *      xor-fingerprint manifest).
  *
  * Every stage is an operator this repo ships and oracle-checks on its
  * own; the composition is itself a FULL oracle (`release_run` replays
  * the four stages as one WITH-chain), so "the release pipeline
  * produces exactly these shards" is machine-checked end to end, not
  * argued stage by stage. Scale shape is the sum of its parts: one
  * text scan + broadcast legal joins, one content-hash window, one
  * domain window and the range-partition prefix sum — nothing
  * quadratic, nothing driver-bound.
  */
object Release {

  def run(docs: DataFrame,
          takedownHashes: DataFrame, blockedDomains: DataFrame,
          robotsRules: DataFrame,
          idCol: String = "doc_id", urlCol: String = "url",
          textCol: String = "text",
          cap: Int = 50, shardBudget: Long = 2048L,
          seed: String = "rel42"): DataFrame = {
    val clean = Compliance.sweep(docs, idCol, urlCol, textCol,
      takedownHashes, blockedDomains, robotsRules)
    // Accepted skew: every copy of a hash, text included, lands in one
    // window partition (an aggregate would combine them map-side first),
    // so a heavy exact-duplicate cluster is one long task; the window
    // buffer spills, so it is not a memory risk. The largest cluster
    // measured is 4 copies in the benchmark corpora (seeds 1-3) and 2 in
    // the sf0.1 documents.
    val keepers = clean
      .withColumn("__k", min(col(idCol)).over(Window.partitionBy(md5(col(textCol)))))
      .filter(col(idCol) === col("__k")).drop("__k")
    // Pinned: the pack's range partitioner reads it once to sample its
    // bounds and again to shuffle into the prefix sum's pin.
    val capped = graft.Mat.pin(
      Curation.domainCaps(keepers, urlCol, cap, Seq(col(idCol))))
    Curation.releaseShards(capped, idCol, textCol, shardBudget, seed)
  }

  /** DuckDB mirror of [[run]] — the four proven stage mirrors as one
    * WITH-chain over a relation `u` (doc_id, source, text, url) the
    * caller supplies (prepend [[graft.ingest.Psl.sqlPslCte]]).
    * `takedownSql`/`blockedList`/`rulesRel` as in
    * [[Compliance.sqlFlagsCtes]]. */
  def sqlRun(takedownSql: String, blockedList: Seq[String], rulesRel: String,
             cap: Int, shardBudget: Long, seed: String = "rel42"): String =
    s"""${Compliance.sqlFlagsCtes(takedownSql, blockedList, rulesRel)},
       |sw AS (
       |  SELECT dd.doc_id, dd.domain, dd.text
       |  FROM fl JOIN dd USING (doc_id)
       |  WHERE fl.f1 AND fl.f2 AND fl.f3),
       |ek AS (SELECT MIN(doc_id) AS doc_id FROM sw GROUP BY md5(text)),
       |sd AS (SELECT sw.doc_id, sw.domain, sw.text FROM sw JOIN ek USING (doc_id)),
       |dc AS (
       |  SELECT doc_id, text,
       |    ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
       |  FROM sd),
       |kept AS (SELECT doc_id, text FROM dc WHERE rk <= $cap),
       |hs AS (SELECT doc_id, text, md5('$seed:' || text) AS h FROM kept),
       |o AS (
       |  SELECT text,
       |    len(regexp_extract_all(lower(text), '[^ \\t\\n\\x0B\\f\\r]+'))::BIGINT
       |      AS n_tokens,
       |    ROW_NUMBER() OVER (ORDER BY h, doc_id) AS pos
       |  FROM hs),
       |c AS (
       |  SELECT n_tokens, text,
       |    SUM(n_tokens) OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING)
       |      - n_tokens AS off
       |  FROM o),
       |f AS (
       |  SELECT CAST(FLOOR(off / $shardBudget.0) AS BIGINT) AS shard_id,
       |    n_tokens,
       |    CAST(('0x' || substring(md5(text), 1, 15))::UBIGINT AS BIGINT) AS fp
       |  FROM c)
       |SELECT shard_id, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       |  bit_xor(fp) AS content_fp
       |FROM f GROUP BY 1 ORDER BY shard_id""".stripMargin
}
