package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Crawl-frontier planning: politeness scheduling and
  * change-frequency-driven recrawl priority — the two queue-shaping
  * computations a crawler runs BEFORE any fetch happens, expressed as
  * plain relational plans so they run at frontier scale (billions of
  * URLs) instead of inside a single scheduler process.
  *
  * Scale shape: [[schedule]] is one host-keyed exchange (the per-host
  * FIFO rank) plus a broadcast join against the ≤|hosts| worker
  * assignment table, whose host rank is [[graft.Par.prefixSum]] — no
  * single-partition window anywhere (|hosts| is tens of millions on a
  * real web corpus, too many to sort on one partition). [[recrawl]] is
  * a single host-keyed aggregate.
  */
object Frontier {

  /** Politeness schedule over a URL frontier: per-host FIFO slot (each
    * host is fetched at most once per `delayMs` — the robots-era
    * courtesy interval), a deterministic worker assignment (hosts hash
    * onto `nWorkers` fetchers by host rank, so one host's queue never
    * splits across workers and the delay is enforceable locally), and
    * the resulting relative fetch time.
    *
    * Output: (idCol, host, worker, slot, scheduled_ms) ordered by
    * scheduled time — the order a fetch loop would drain. */
  def schedule(docs: DataFrame, urlCol: String, idCol: String,
               delayMs: Long = 1000L, nWorkers: Int = 8): DataFrame =
    planned(docs, urlCol, idCol, None, delayMs, nWorkers).drop("delay_ms")

  /** [[schedule]] with PER-HOST courtesy intervals
    * (`crawl_delay_schedule` query): hosts that declare a robots
    * `crawl-delay` ([[Robots.crawlDelays]]) get their declared interval,
    * the rest the crawler's `defaultMs` — the composition a polite
    * fetcher actually runs, closing the loop between the robots corpus
    * and the frontier. Same shape as [[schedule]] plus one broadcast
    * join against the ≤|declaring hosts| delay table. */
  def scheduleWithDelays(docs: DataFrame, urlCol: String, idCol: String,
                         delays: DataFrame, defaultMs: Long = 1000L,
                         nWorkers: Int = 8): DataFrame =
    planned(docs, urlCol, idCol, Some(delays), defaultMs, nWorkers)

  /** The one schedule body: host, worker, FIFO slot and per-host delay
    * (`delays`' `crawl_delay_ms` where declared, else `defaultMs`). */
  private def planned(docs: DataFrame, urlCol: String, idCol: String,
                      delays: Option[DataFrame], defaultMs: Long,
                      nWorkers: Int): DataFrame = {
    // null/unparseable URLs collapse to the '' host EXPLICITLY (the
    // RefinedWeb null-domain lesson): a null host would vanish at the
    // worker equi-join (null never equals null) and sort differently
    // across engines — '' keeps every row and one deterministic group.
    val hostd = docs.withColumn("host",
      coalesce(Urls.host(col(urlCol)), lit("")))
    // worker table: distinct hosts ranked by graft.Par.prefixSum — at
    // web scale |hosts| is tens of millions, too many to sort on one
    // partition. Identical to the oracle's global ROW_NUMBER over host.
    val (ranked, _) = graft.Par.prefixSum(
      hostd.select(col("host")).distinct(), Seq(col("host")), "__b" -> lit(1L))
    val workers = ranked.select(col("host"),
      (col("__b") % nWorkers).cast("long").as("worker"))
    val slotted = hostd
      .withColumn("slot",
        (row_number().over(
          Window.partitionBy(col("host")).orderBy(col(idCol))) - 1)
          .cast("long"))
      .join(broadcast(workers), Seq("host"))
    val delayed = delays.fold(slotted.withColumn("delay_ms", lit(defaultMs)))(d =>
      slotted.join(broadcast(d), Seq("host"), "left")
        .withColumn("delay_ms", coalesce(col("crawl_delay_ms"), lit(defaultMs))))
    delayed
      .select(col(idCol), col("host"), col("worker"), col("slot"),
        col("delay_ms"), (col("slot") * col("delay_ms")).as("scheduled_ms"))
      .orderBy(col("scheduled_ms"), col("host"), col(idCol))
  }

  /** DuckDB twin of [[scheduleWithDelays]]; `delaysRel` exposes
    * (host, crawl_delay_ms). */
  def sqlScheduleWithDelays(docsRel: String, idCol: String,
                            urlExpr: String, delaysRel: String,
                            defaultMs: Long = 1000L,
                            nWorkers: Int = 8): String =
    s"""__h AS (
       |  SELECT $idCol, COALESCE(${Urls.sqlHost(urlExpr)}, '') AS host
       |  FROM $docsRel),
       |__w AS (
       |  SELECT host,
       |    CAST((ROW_NUMBER() OVER (ORDER BY host) - 1) % $nWorkers AS BIGINT)
       |      AS worker
       |  FROM (SELECT DISTINCT host FROM __h)),
       |__s AS (
       |  SELECT $idCol, host,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY $idCol) - 1
       |      AS BIGINT) AS slot
       |  FROM __h),
       |__d AS (
       |  SELECT __s.$idCol, __s.host, __s.slot,
       |    CAST(COALESCE(d.crawl_delay_ms, $defaultMs) AS BIGINT) AS delay_ms
       |  FROM __s LEFT JOIN $delaysRel d USING (host))
       |SELECT __d.$idCol, __d.host, __w.worker, __d.slot, __d.delay_ms,
       |  __d.slot * __d.delay_ms AS scheduled_ms
       |FROM __d JOIN __w USING (host)
       |ORDER BY scheduled_ms, host, $idCol""".stripMargin

  /** DuckDB twin of [[schedule]] — `urlExpr` is the url SQL expression
    * over `docsRel` (fixture planting happens inline). */
  def sqlSchedule(docsRel: String, idCol: String, urlExpr: String,
                  delayMs: Long = 1000L, nWorkers: Int = 8): String =
    s"""WITH __h AS (
       |  SELECT $idCol, COALESCE(${Urls.sqlHost(urlExpr)}, '') AS host
       |  FROM $docsRel),
       |__w AS (
       |  SELECT host,
       |    CAST((ROW_NUMBER() OVER (ORDER BY host) - 1) % $nWorkers AS BIGINT)
       |      AS worker
       |  FROM (SELECT DISTINCT host FROM __h)),
       |__s AS (
       |  SELECT $idCol, host,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY $idCol) - 1
       |      AS BIGINT) AS slot
       |  FROM __h)
       |SELECT __s.$idCol, __s.host, __w.worker, __s.slot,
       |  __s.slot * $delayMs AS scheduled_ms
       |FROM __s JOIN __w USING (host)
       |ORDER BY scheduled_ms, host, $idCol""".stripMargin

  /** Recrawl priority from observed fetch history (the uniform-change
    * model of Cho & Garcia-Molina's recrawl scheduling): per page, the
    * observation count, the mean inter-observation interval, the next
    * due time (last observation + mean interval), and a priority tier.
    * A page seen once has no rate estimate — tier `unknown`, no due
    * time (crawlers fold these into a discovery queue instead).
    *
    * Integer discipline end-to-end: epoch milliseconds, and the mean
    * interval is an integer division (`DIV`) of non-negative longs, so
    * both engines agree bit-for-bit — no float timestamps anywhere. */
  def recrawl(observations: DataFrame, pageCol: String, tsCol: String,
              hotMs: Long, warmMs: Long): DataFrame =
    recrawlFromStats(observationStats(observations, pageCol, tsCol),
      hotMs, warmMs)

  /** Per-page observation stats — the MERGEABLE form (count/min/max all
    * merge across partial aggregates), which is what the streaming face
    * persists per batch
    * ([[graft.streaming.StreamingIngest.recrawlViaBatchState]]). Null
    * pages collapse to '' for the same cross-engine determinism reason
    * as [[schedule]]'s host (Spark sorts nulls first, DuckDB last — ''
    * removes the divergence and keeps the rows grouped). */
  def observationStats(observations: DataFrame, pageCol: String,
                       tsCol: String): DataFrame =
    observations
      .groupBy(coalesce(col(pageCol), lit("")).as("page"))
      .agg(count(lit(1)).as("n_obs"),
        min(unix_millis(col(tsCol))).as("first_ms"),
        max(unix_millis(col(tsCol))).as("last_ms"))

  /** The interval/tier arithmetic over a pre-aggregated
    * (page, n_obs, first_ms, last_ms) stats table — ONE owner of the
    * arithmetic for the batch and streaming faces. Expects one row per
    * page (merge partial stats first). */
  def recrawlFromStats(stats: DataFrame, hotMs: Long, warmMs: Long): DataFrame =
    stats
      .withColumn("interval_ms",
        when(col("n_obs") > 1,
          expr("(last_ms - first_ms) DIV (n_obs - 1)")))
      .withColumn("next_due_ms",
        when(col("interval_ms").isNotNull,
          col("last_ms") + col("interval_ms")))
      .withColumn("tier",
        when(col("interval_ms").isNull, "unknown")
          .when(col("interval_ms") < hotMs, "hot")
          .when(col("interval_ms") < warmMs, "warm")
          .otherwise("cold"))
      .select(col("page"), col("n_obs"), col("first_ms"), col("last_ms"),
        col("interval_ms"), col("next_due_ms"), col("tier"))
      .orderBy(col("page"))

  /** DuckDB twin of [[recrawl]] — `pageExpr`/`tsExpr` are SQL
    * expressions over `obsRel`. */
  def sqlRecrawl(obsRel: String, pageExpr: String, tsExpr: String,
                 hotMs: Long, warmMs: Long): String =
    s"""WITH __g AS (
       |  SELECT COALESCE($pageExpr, '') AS page,
       |    CAST(COUNT(*) AS BIGINT) AS n_obs,
       |    epoch_ms(MIN($tsExpr)) AS first_ms,
       |    epoch_ms(MAX($tsExpr)) AS last_ms
       |  FROM $obsRel GROUP BY 1),
       |__i AS (
       |  SELECT page, n_obs, first_ms, last_ms,
       |    CASE WHEN n_obs > 1 THEN (last_ms - first_ms) // (n_obs - 1)
       |         END AS interval_ms
       |  FROM __g)
       |SELECT page, n_obs, first_ms, last_ms, interval_ms,
       |  CASE WHEN interval_ms IS NOT NULL THEN last_ms + interval_ms
       |       END AS next_due_ms,
       |  CASE WHEN interval_ms IS NULL THEN 'unknown'
       |       WHEN interval_ms < $hotMs THEN 'hot'
       |       WHEN interval_ms < $warmMs THEN 'warm'
       |       ELSE 'cold' END AS tier
       |FROM __i ORDER BY page""".stripMargin
}
