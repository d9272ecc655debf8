package graft.streaming

import graft.Mat.Pinnable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** ST1-ST4: the reference's 6-hour crawl loop (`crawl.py:155-162`) as
  * Structured Streaming.
  *
  * Mapping (SURVEY §2.8):
  *  - ST1 trigger: `Trigger.ProcessingTime("6 hours")` for the resident
  *    deployment, `Trigger.AvailableNow` for run-once (the reference's
  *    immediate first run); Spark fires an immediate first batch either
  *    way.
  *  - ST2 incremental dedup: `dropDuplicates("sources")` — state is
  *    deliberately UNBOUNDED, matching the reference whose URL key set
  *    never expires. A watermark here would silently change semantics
  *    (re-crawled old URLs would re-insert); the 100 TB answer is a
  *    compacted key-index table + per-batch anti-join, which is the batch
  *    path in [[graft.ingest.Ingest.newCandidates]].
  *  - ST3 late data: accepted unboundedly (no watermark on event time) —
  *    the dashboard recomputes full history per load.
  *  - ST4 fault isolation: extraction UDFs are total (null, never throw).
  *
  * Every `foreachBatch` face is a short per-batch body over one driver
  * ([[eachBatch]]) and one state reader ([[state]]).
  */
object StreamingIngest {

  /** The micro-batch driver: runs `body` on every micro-batch of `docs`
    * with its batch id, tracks source progress in `checkpoint`, and fires
    * with `Trigger.AvailableNow` (the run-once backfill; a resident
    * deployment restarts it on the reference's cadence). The one place
    * the trigger policy of the `foreachBatch` faces is decided.
    *
    * Contract of every face built on it:
    *  - No engine state. What a face remembers across batches is parquet
    *    beside the sink, read back through [[state]]: it survives
    *    restarts, is compactable offline, and the checkpoint only tracks
    *    source progress.
    *  - Materialize before append. A face's per-batch frames read its
    *    state paths lazily, so each frame it writes is pinned before the
    *    first append touches those paths; otherwise the batch would see
    *    its own rows as history.
    *  - At-least-once replay. `foreachBatch` may re-fire a batch.
    *    Batch-keyed partitions (`batch_id=N`, overwritten by their batch)
    *    and reads filtered to `batch_id < N` make a replay recompute the
    *    same state; appended indexes are deduplicated on read.
    *  - Sink-format caveat. A batch's appends (sink, then state) are not
    *    atomic, so a crash between them replays the batch against state
    *    that already holds its keys, and the replay's rows land beside the
    *    earlier correct ones. Exactly-once sinks need batch-keyed
    *    overwrite paths or a transactional table format (out of scope).
    */
  private def eachBatch(docs: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    require(docs.isStreaming)
    docs.writeStream.foreachBatch(body)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
  }

  /** The state reader: the parquet state at `path`, or an empty frame of
    * the declared `ddl` schema when the path does not exist yet (the
    * first batch). Only absence means "no state": a path that exists but
    * cannot be read fails the batch, so the engine retries it. Reading a
    * corrupt or transient failure as empty state would skip cross-batch
    * dedup AND re-append keys already indexed, and duplicate index rows
    * multiply sink rows through every later batch's join. Appended
    * indexes may hold a replayed batch's keys twice; faces deduplicate
    * them on read. */
  private def state(spark: SparkSession, path: String, ddl: String): DataFrame =
    if (present(spark, path)) spark.read.parquet(path)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType.fromDDL(ddl))

  private def present(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private val ContentIndexDdl = "h STRING, keeper_id BIGINT"
  private val ParagraphIndexDdl = "h STRING, keeper_doc_id BIGINT, keeper_idx BIGINT"
  private val WindowIndexDdl = "h STRING, keeper_doc_id BIGINT, keeper_start BIGINT"
  private val SigIndexDdl =
    "doc_id BIGINT, toks ARRAY<STRING>, n INT, buckets ARRAY<BIGINT>"

  /** Pins the batch and runs `body` on the pinned frame unless it is
    * empty. */
  private def pinnedNonEmpty(batch: DataFrame)(body: DataFrame => Unit): Unit = {
    val pinned = batch.pinnedTransient
    if (pinned.count() > 0) body(pinned)
  }

  /** Kept rows per domain over every batch before `batchId`, from the
    * `batch_id=N` partitions [[writeTally]] leaves under `path`. */
  private def tally(spark: SparkSession, path: String, batchId: Long): DataFrame =
    state(spark, path, "domain STRING, n_kept BIGINT, batch_id BIGINT")
      .filter(col("batch_id") < batchId)
      .groupBy(col("domain")).agg(sum(col("n_kept")).as("n_kept"))

  /** Overwrites batch `batchId`'s tally partition with its kept rows per
    * domain: a replayed batch rewrites it instead of double-counting. */
  private def writeTally(kept: DataFrame, path: String, batchId: Long): Unit =
    kept.groupBy(col("domain")).agg(count(lit(1)).as("n_kept"))
      .write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** [EXT] Mergeable-sketch maintenance under streaming — ST2's sketch
    * face. Each micro-batch writes ITS OWN sketch table to a
    * batch-keyed partition directory (`overwrite` per batch), and "the
    * sketch" at read time is the family's merge over all partitions
    * ([[graft.relational.CountMin.merge]]'s groupBy-sum,
    * [[graft.relational.Hll.merge]]'s groupBy-max — both associative,
    * so per-batch parts ARE valid incremental state, ≤ cells rows per
    * batch). Replay safety is structural: re-firing batch N rewrites the
    * same `batch_id=N` partition instead of double-counting into an
    * accumulated table. */
  def sketchViaBatchParts(docs: DataFrame, sketchOf: DataFrame => DataFrame,
                          sketchPath: String,
                          checkpoint: String): DataStreamWriter[Row] =
    eachBatch(docs, checkpoint) { (batch, batchId) =>
      sketchOf(batch).write.mode("overwrite")
        .parquet(s"$sketchPath/batch_id=$batchId")
    }

  /** [EXT] Streaming attribute sidecar — the Dolma tagger architecture
    * at ingest time: each micro-batch writes ITS OWN per-document
    * attribute rows ([[graft.pipeline.Attributes.sidecar]]) to a
    * batch-keyed partition ([[sketchViaBatchParts]]). Attributes are a
    * pure per-row function of the batch; "the sidecar" at read time is
    * the union of partitions, and release policies filter it without
    * ever re-reading text ([[graft.pipeline.Attributes.applyPolicy]]). */
  def sidecarViaBatchParts(docs: DataFrame, sidecarPath: String,
                           checkpoint: String,
                           th: graft.text.GopherRules.Thresholds =
                             graft.text.GopherRules.Thresholds(),
                           badWords: Seq[String] =
                             graft.pipeline.C4Filters.BadWords): DataStreamWriter[Row] =
    sketchViaBatchParts(docs,
      b => graft.pipeline.Attributes.sidecar(b, th = th, badWords = badWords),
      sidecarPath, checkpoint)

  /** [EXT] Streaming adaptive-gate calibration — the percentile-threshold
    * gate's ingest face: each micro-batch writes ITS OWN additive
    * (group, value, count) histogram partial
    * ([[graft.pipeline.Curation.lengthHistogram]]) to a batch-keyed
    * partition ([[sketchViaBatchParts]]). Release-time thresholds come
    * from the MERGED partials ([[graft.pipeline.Curation.mergeValueCounts]]
    * → `percentileThresholdsFromCounts`), which equal a one-shot fit by
    * additivity — text is never re-read to recalibrate a quantile. */
  def gateHistogramViaBatchParts(docs: DataFrame, histPath: String,
                                 checkpoint: String,
                                 textCol: String = "text",
                                 groupCol: String = "lang"): DataStreamWriter[Row] =
    sketchViaBatchParts(docs,
      b => graft.pipeline.Curation.lengthHistogram(b, textCol, groupCol),
      histPath, checkpoint)

  /** [EXT] Streaming web-graph maintenance — the host link graph at
    * ingest time: each micro-batch writes ITS OWN
    * [[graft.ingest.Links.hostGraph]] edge partial (domain pairs +
    * counts, never documents or html) to a batch-keyed partition
    * ([[sketchViaBatchParts]]). Edge counts are ADDITIVE, so the merged
    * graph ([[graft.ingest.Links.mergeEdges]] over the union of
    * partitions) equals a one-shot extraction — rank jobs (TrustRank,
    * LPA) read the merged edges without ever re-parsing a page. */
  def linkGraphViaBatchParts(docs: DataFrame, edgesPath: String,
                             checkpoint: String,
                             idCol: String = "doc_id",
                             urlCol: String = "url",
                             htmlCol: String = "html"): DataStreamWriter[Row] =
    sketchViaBatchParts(docs,
      b => graft.ingest.Links.hostGraph(b, idCol, urlCol, htmlCol),
      edgesPath, checkpoint)

  /** [EXT] Streaming compliance flags — the release-compliance trio at
    * ingest time: each micro-batch writes ITS OWN per-document leg
    * verdicts ([[graft.pipeline.Compliance.flags]], ids + flags only —
    * text never enters state) to a batch-keyed partition
    * ([[sketchViaBatchParts]]). Given FIXED lists the verdicts are a pure
    * per-row function of the batch; a release sweeps the union of
    * partitions without re-running a tagger. A list UPDATE (new takedown
    * requests) deliberately invalidates: re-fire the affected batches
    * and their partitions rewrite — compliance wants the re-check, never
    * a stale verdict. */
  def complianceViaBatchParts(docs: DataFrame, flagsPath: String,
                              checkpoint: String,
                              takedownHashes: DataFrame,
                              blockedDomains: DataFrame,
                              robotsRules: DataFrame,
                              idCol: String = "doc_id",
                              urlCol: String = "url",
                              textCol: String = "text"): DataStreamWriter[Row] =
    sketchViaBatchParts(docs,
      b => graft.pipeline.Compliance.flags(b, idCol, urlCol, textCol,
          takedownHashes, blockedDomains, robotsRules)
        .select(col(idCol), col("f_takedown"), col("f_blocklist"),
          col("f_robots")),
      flagsPath, checkpoint)

  /** [EXT] Streaming per-domain caps — the RefinedWeb domain-skew gate at
    * ingest time: each micro-batch admits rows against the per-domain
    * tally of all EARLIER batches
    * ([[graft.pipeline.Curation.domainCapsIncremental]],
    * first-come-first-kept), appends survivors to the sink, and
    * OVERWRITES its own `batch_id=N` tally partition with its kept
    * counts, so the tally read (`batch_id < N`) is deterministic under
    * replay. State is ≤ |domains| rows per batch. StreamingSpec pins
    * batches == one [[graft.pipeline.Curation.domainCaps]] pass in
    * arrival order. */
  def domainCapsViaBatchState(docs: DataFrame, sinkPath: String,
                              statePath: String, checkpoint: String,
                              urlCol: String, cap: Int,
                              ordering: Seq[Column]): DataStreamWriter[Row] = {
    val spark = docs.sparkSession
    eachBatch(docs, checkpoint) { (batch0, batchId) =>
      pinnedNonEmpty(batch0) { batch =>
        val (kept, _) = graft.pipeline.Curation.domainCapsIncremental(
          batch, tally(spark, statePath, batchId), urlCol, cap, ordering)
        kept.write.mode("append").parquet(sinkPath)
        writeTally(kept, statePath, batchId)
      }
    }
  }

  /** [EXT] Streaming recrawl-priority state —
    * [[graft.ingest.Frontier.recrawl]]'s per-page observation stats as
    * streaming state: each micro-batch OVERWRITES its `batch_id=N`
    * partition with its own per-page (n_obs, first_ms, last_ms)
    * aggregate. Count/min/max are all mergeable, so [[recrawlFromState]]
    * recovers the exact batch operator's output from state alone at ANY
    * point in the stream, and a replayed batch rewrites identical rows
    * (no tally to corrupt, no read-your-own-writes). */
  def recrawlViaBatchState(obs: DataFrame, statePath: String,
                           checkpoint: String, pageCol: String,
                           tsCol: String): DataStreamWriter[Row] =
    eachBatch(obs, checkpoint) { (batch, batchId) =>
      val stats = graft.ingest.Frontier.observationStats(batch, pageCol, tsCol)
      if (!stats.isEmpty)
        stats.write.mode("overwrite").parquet(s"$statePath/batch_id=$batchId")
    }

  /** Priorities from the persisted [[recrawlViaBatchState]] state: merge
    * the per-batch partial stats (sum/min/max) and apply the shared
    * arithmetic ([[graft.ingest.Frontier.recrawlFromStats]]) — equals
    * the batch [[graft.ingest.Frontier.recrawl]] over the union of all
    * observed batches (StreamingSpec pins it). */
  def recrawlFromState(spark: SparkSession, statePath: String,
                       hotMs: Long, warmMs: Long): DataFrame = {
    val merged = spark.read.parquet(statePath)
      .groupBy(col("page"))
      .agg(sum(col("n_obs")).as("n_obs"),
        min(col("first_ms")).as("first_ms"),
        max(col("last_ms")).as("last_ms"))
    graft.ingest.Frontier.recrawlFromStats(merged, hotMs, warmMs)
  }

  /** Cross-batch near-dup probe shared by [[nearDupDedupViaSinkIndex]]
    * and [[refinedWebViaSinkState]]: LSH-join the batch signature table
    * against the persisted index on (band, bucket) — narrow ids only —
    * then exact-Jaccard verify; returns the batch doc ids that
    * near-match ANY indexed doc. The `dropDuplicates("doc_id")` on the
    * index read is the replay defense (a replayed append can land a
    * doc's signature twice). */
  private def crossBatchNearDupIds(sigT: DataFrame, index0: DataFrame,
                                   threshold: Double): DataFrame = {
    import graft.dedup.Dedup
    val index = index0.dropDuplicates("doc_id")
    val bb = sigT.select(col("doc_id").as("bid"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val ib = index.select(col("doc_id").as("iid"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val cand = bb.join(ib, Seq("band", "bucket"))
      .select(col("bid"), col("iid")).dropDuplicates("bid", "iid")
    cand
      .join(sigT.select(col("doc_id").as("bid"), col("toks").as("btoks"),
        col("n").as("bn")), Seq("bid"))
      .join(index.select(col("doc_id").as("iid"), col("toks").as("itoks"),
        col("n").as("in_")), Seq("iid"))
      .filter(round(Dedup.jaccardSortedBounded(col("btoks"), col("itoks"),
        col("bn"), col("in_"), threshold), 4) >= threshold)
      .select(col("bid").as("dup_id")).distinct()
  }

  /** [EXT] Streaming RefinedWeb preset — the
    * [[graft.pipeline.RefinedWebPipeline]] line, one [[refinedWebBatch]]
    * per micro-batch. With id-ordered arrival, the finished stream
    * equals one full [[graft.pipeline.RefinedWebPipeline]] recompute
    * (StreamingSpec pins it). */
  def refinedWebViaSinkState(docs: DataFrame, sinkPath: String,
                             stateDir: String, checkpoint: String,
                             blocked: Seq[String] = Seq.empty,
                             lang: String = "en",
                             gopherTh: graft.text.GopherRules.Thresholds =
                               graft.text.GopherRules.Thresholds(),
                             repetitionTh: graft.text.GopherRepetition.Thresholds =
                               graft.text.GopherRepetition.Thresholds(),
                             threshold: Double = 0.9, cap: Int = 100,
                             urlCol: String = "url", idCol: String = "doc_id",
                             textCol: String = "text",
                             spamWeights: Seq[(String, Double)] = Seq.empty,
                             spamThreshold: Double = 1.0,
                             repairEncoding: Boolean = false,
                             maxBucket: Int = 4096): DataStreamWriter[Row] =
    eachBatch(docs, checkpoint) { (batch, batchId) =>
      refinedWebBatch(batch, batchId, sinkPath, stateDir, blocked,
        lang, gopherTh, repetitionTh, threshold, cap, urlCol, idCol, textCol,
        spamWeights, spamThreshold, repairEncoding, maxBucket)
    }

  /** One micro-batch of [[refinedWebViaSinkState]], public so the
    * replay contract is directly testable (StreamingSpec re-fires a
    * batch id and pins identical state). Stages 1-4 (URL blocklist, NFC,
    * language, Gopher gates) are stateless per-row filters; stage 5
    * probes the content-hash index (novel hashes append); stage 6
    * reproduces the full recompute's COMPONENT-TRANSITIVE near-dup
    * semantics against the signature index; stage 7 admits against the
    * per-domain tally kept as batch-keyed partitions (`caps/batch_id=N`,
    * [[domainCapsViaBatchState]]'s discipline).
    *
    * Both dedup indexes carry a `batch_id` column and every read filters
    * to `batch_id < batchId`, so a replayed batch never sees its own
    * failed attempt's rows and recomputes the IDENTICAL kept set. A
    * compacted index ([[graft.dedup.IndexMaintenance.compactBy]], run
    * only between committed batches) has no batch_id column and reads
    * whole, which is correct for the same between-batches reason. */
  def refinedWebBatch(batchDf: DataFrame, batchId: Long, sinkPath: String,
                      stateDir: String, blocked: Seq[String], lang: String,
                      gopherTh: graft.text.GopherRules.Thresholds,
                      repetitionTh: graft.text.GopherRepetition.Thresholds,
                      threshold: Double, cap: Int,
                      urlCol: String = "url", idCol: String = "doc_id",
                      textCol: String = "text",
                      spamWeights: Seq[(String, Double)] = Seq.empty,
                      spamThreshold: Double = 1.0,
                      repairEncoding: Boolean = false,
                      maxBucket: Int = 4096): Unit = {
    import graft.dedup.Dedup
    val spark = batchDf.sparkSession
    def beforeThisBatch(df: DataFrame): DataFrame =
      if (df.columns.contains("batch_id"))
        df.filter(col("batch_id") < batchId).drop("batch_id")
      else df
    pinnedNonEmpty(batchDf) { batch =>
      // stages 1-4: stateless gates, NFC ahead of every key. Widen:
      // a micro-batch arrives in one file's worth of partitions and
      // the interpreted gates would otherwise run single-threaded.
      // Null/unparseable URLs coalesce to the '' domain group (same
      // convention as the batch preset — kept/dropped never depends on
      // whether a blocklist was supplied).
      val dom = graft.Par.widen(batch).withColumn("domain",
        coalesce(graft.ingest.Urls.registeredDomain(col(urlCol)), lit("")))
      val domBlocked =
        if (blocked.isEmpty) dom else dom.filter(!col("domain").isin(blocked: _*))
      val gated =
        (if (spamWeights.isEmpty) domBlocked
         else domBlocked.filter(
           graft.ingest.Urls.spamScore(col(urlCol), spamWeights) < spamThreshold))
          .select(col(idCol).cast("long").as("doc_id"), col("domain"),
            col(textCol).as("text"))
          // optional mojibake round BEFORE NFC — same stage-1c placement
          // as the batch preset, so the faces stay output-identical
          .transform(df => if (repairEncoding)
            df.withColumn("text", graft.text.Encoding.fixMojibake(col("text")))
          else df)
          .withColumn("text",
            org.apache.spark.sql.graft.ArrayFunctions.nfcNormalize(col("text")))
          .filter(graft.text.TextAnalysis.langId(col("text")) === lang)
          .filter(graft.text.GopherRules.passExpr(col("text"), gopherTh))
          .filter(graft.text.GopherRepetition.passExpr(col("text"), repetitionTh))
          .pinnedTransient
      // stage 5: exact dedup against the content-hash index
      val cntIdx = beforeThisBatch(
        state(spark, s"$stateDir/content_index", ContentIndexDdl)).dropDuplicates("h")
      val novelHashes = Dedup.exactIndex(gated, "doc_id", "text")
        .join(cntIdx.select(col("h")), Seq("h"), "left_anti")
        .pinnedTransient
      val exact = gated.withColumn("h", md5(col("text")))
        .join(novelHashes.select(col("h"), col("keeper_id")), Seq("h"))
        .filter(col("doc_id") === col("keeper_id"))
        .select(col("doc_id"), col("domain"), col("text"))
        .pinnedTransient
      // stage 6: near-dup against history ∪ batch with the FULL
      // recompute's component-transitive semantics: signatures of EVERY
      // exact-stage doc probe the index — not just within-batch keepers
      // — and a whole batch cluster drops when ANY member near-matches
      // history (in the one-shot CC that member connects the cluster
      // into an earlier component, so its keeper loses the min-id
      // election). Admitted = clusters untouched by history, represented
      // by their within-batch keeper. The LSH valve's default cap never
      // binds at fixture scale, so the batch-vs-full-recompute pins stay
      // exact.
      val keeperOf = Dedup
        .nearDupKeepersScaled(exact, "doc_id", "text", threshold, maxBucket)
        .pinnedTransient // feeds the cluster lift AND the keeper pick
      val sigT = Dedup.signatureTable(exact, "doc_id", "text")
        .pinnedTransient
      val dupIds = crossBatchNearDupIds(sigT,
        beforeThisBatch(state(spark, s"$stateDir/sig_index", SigIndexDdl)), threshold)
      val dupClusters = keeperOf
        .join(dupIds, keeperOf("doc_id") === col("dup_id"))
        .select(col("keeper_id")).distinct()
      val novel = exact
        .join(keeperOf.filter(col("doc_id") === col("keeper_id"))
          .join(dupClusters, Seq("keeper_id"), "left_anti")
          .select(col("doc_id")), Seq("doc_id"))
        .pinnedTransient
      // stage 7: per-domain caps against the batch-keyed tally — the
      // same admit core CurationSpec pins (novel already carries its
      // domain column)
      val (kept, _) = graft.pipeline.Curation.domainCapsIncrementalOnDomain(
        novel, tally(spark, s"$stateDir/caps", batchId), cap, Seq(col("doc_id").asc))
      kept.write.mode("append").parquet(sinkPath)
      novelHashes.withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$stateDir/content_index")
      // signatures of EVERY exact-stage doc — admitted, cluster-dropped,
      // or cap-dropped: the full recompute's CC reaches through all of
      // them, so a future doc matching only a dropped doc must still
      // drop (the index is the component map, not the admission list)
      sigT.withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$stateDir/sig_index")
      writeTally(kept, s"$stateDir/caps", batchId)
    }
  }

  /** Streaming dedup over a stream of candidate records. Input: any
    * streaming DataFrame with a `sources` column. */
  def dedupStream(candidates: DataFrame): DataFrame = {
    require(candidates.isStreaming, "use Ingest.newCandidates for batch")
    candidates.dropDuplicates("sources")
  }

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    * expires key state once a key's event time falls behind the watermark
    * — the state-store cost becomes O(keys per watermark window) instead
    * of O(all keys ever). Correct wherever duplicates arrive CLOSE
    * TOGETHER (retry storms, at-least-once sources, double-fires); it is
    * NOT the reference's dedup (re-crawls months apart would re-insert) —
    * that contract keeps [[dedupStream]] / the sink-index path. Pinned by
    * StreamingSpec: in-window dups drop, state survives only the window. */
  def dedupStreamBounded(candidates: DataFrame, tsCol: String,
                         window: String = "1 hour"): DataFrame = {
    require(candidates.isStreaming, "use Ingest.newCandidates for batch")
    candidates
      .withWatermark(tsCol, window)
      .dropDuplicatesWithinWatermark("sources")
  }

  /** Append-mode parquet sink with the reference's cadence. */
  def writer(deduped: DataFrame, path: String, checkpoint: String,
             everySixHours: Boolean = true): DataStreamWriter[Row] = {
    val trigger =
      if (everySixHours) Trigger.ProcessingTime("6 hours")
      else Trigger.AvailableNow()
    deduped.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
  }

  /** File-source reader for fetched-page drops (a directory where a
    * fetcher lands page tables); schema must be provided for streaming. */
  def pagesStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("source STRING, html STRING")
      .parquet(dir)

  /** [EXT] The reference's ENTIRE crawl loop as one streaming operator
    * (`crawl_then_dashboard` capstone; `crawl.py:155-162`): a stream of
    * fetched LISTING pages drives, per micro-batch (one batch = one
    * 6-hour tick), the full E1 pipeline — selector-cascade candidates →
    * anti-join against the SINK's OWN key set (re-crawled listings
    * re-discover old articles and the anti-join drops them exactly like
    * the reference's `find_one` probe) → article-page join → extraction →
    * append. `pages` is the static fetched-article table (the
    * [[graft.ingest.Fetcher]] seam in a live deployment — swap the join
    * for `runFetched`'s per-partition HTTP enrichment, everything else
    * unchanged). */
  def crawlLoop(listings: DataFrame, pages: DataFrame, sinkPath: String,
                checkpoint: String): DataStreamWriter[Row] = {
    val spark = listings.sparkSession
    eachBatch(listings, checkpoint) { (batch0, _) =>
      pinnedNonEmpty(batch0) { batch =>
        val existing = state(spark, sinkPath, "sources STRING").select(col("sources"))
        graft.ingest.Ingest.run(batch, pages, existing)
          .pinnedTransient
          .write.mode("append").parquet(sinkPath)
      }
    }
  }

  /** Streaming NEAR-dup dedup — the LLM-pipeline composition as a stream
    * (ST2 [EXT]): each micro-batch
    *
    *  1. resolves near-dups WITHIN the batch (MinHash → verify → CC,
    *     [[graft.dedup.Dedup.nearDupKeepersScaled]] — keepers survive);
    *  2. LSH-probes the batch survivors against the PERSISTED signature
    *     index ((band, bucket) equi-join, narrow ids only), exact-Jaccard
    *     verifies candidates, and drops batch docs that near-match any
    *     already-ingested doc;
    *  3. appends novel docs to the sink and their signatures to the index.
    *
    * The index holds one row per UNIQUE ingested doc (near-dups never
    * enter). At 100 TB it is a bucketed table on (band, bucket); here
    * parquet + the same joins. */
  def nearDupDedupViaSinkIndex(docs: DataFrame, sinkPath: String,
                               indexPath: String, checkpoint: String,
                               threshold: Double = 0.9,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               maxBucket: Int = 4096): DataStreamWriter[Row] = {
    import graft.dedup.Dedup
    val spark = docs.sparkSession
    eachBatch(docs, checkpoint) { (batch0, _) =>
      pinnedNonEmpty(batch0) { batch =>
        // 1. within-batch near-dup: keep component keepers only (the LSH
        // valve's default never binds at fixture scale)
        val keepers = Dedup.nearDupKeepersScaled(batch, idCol, textCol,
            threshold, maxBucket)
          .filter(col("doc_id") === col("keeper_id"))
          .select(col("doc_id").as("_keep_id"))
        val survivors = batch
          .join(keepers, batch(idCol).cast("long") === col("_keep_id"))
          .drop("_keep_id")
          .pinnedTransient
        // 2. cross-batch probe against the signature index
        val sigT = Dedup.signatureTable(survivors, idCol, textCol)
          .pinnedTransient
        val dupIds = crossBatchNearDupIds(sigT,
          state(spark, indexPath, SigIndexDdl), threshold)
        // 3. append novel docs + their signatures
        val novel = survivors
          .join(dupIds, survivors(idCol).cast("long") === col("dup_id"), "left_anti")
          .pinnedTransient
        novel.write.mode("append").parquet(sinkPath)
        sigT.join(novel.select(col(idCol).cast("long").as("doc_id")), Seq("doc_id"))
          .write.mode("append").parquet(indexPath)
      }
    }
  }

  /** The body shared by the faces that clean a batch against a persisted
    * `h`-keyed index: pin `prepare(batch)` (skip it if empty), read the
    * index (deduplicated on `h`, the replay defense: duplicate `h` rows
    * would multiply rows through the incremental join), pin
    * `clean(batch, index)`, pin the batch's `keys` absent from the index,
    * then append the cleaned rows to the sink and the novel keys to the
    * index. */
  private def cleanViaSinkIndex(docs: DataFrame, sinkPath: String,
                                indexPath: String, checkpoint: String,
                                indexDdl: String,
                                prepare: DataFrame => DataFrame = identity)(
      clean: (DataFrame, DataFrame) => DataFrame,
      keys: DataFrame => DataFrame): DataStreamWriter[Row] = {
    val spark = docs.sparkSession
    eachBatch(docs, checkpoint) { (batch0, _) =>
      pinnedNonEmpty(prepare(batch0)) { batch =>
        val index = state(spark, indexPath, indexDdl).dropDuplicates("h")
        val cleaned = clean(batch, index).pinnedTransient
        val novel = keys(batch)
          .join(index.select(col("h")), Seq("h"), "left_anti")
          .pinnedTransient
        cleaned.write.mode("append").parquet(sinkPath)
        novel.write.mode("append").parquet(indexPath)
      }
    }
  }

  /** The norm-hash keys of a batch's paragraphs. */
  private def paragraphKeys(idCol: String, textCol: String,
                            splitRe: String)(batch: DataFrame): DataFrame =
    graft.dedup.ParagraphDedup.paragraphIndex(
      graft.dedup.ParagraphDedup.paragraphUnits(batch, idCol, textCol, splitRe))

  /** Streaming SUB-DOCUMENT dedup (ST2 [EXT]) — incremental paragraph
    * dedup as a stream: each micro-batch cleans its documents against the
    * PERSISTED norm-hash paragraph index
    * ([[graft.dedup.ParagraphDedup.dedupParagraphsIncremental]] — a batch
    * paragraph is dropped iff its norm is already indexed, or a batch
    * sibling with a smaller (doc_id, idx) carries it), appends the
    * cleaned documents to the sink, and appends the batch's NOVEL norms
    * to the index (one 32-hex row per distinct paragraph ever seen —
    * never the text; at 100 TB a bucketed table on h, so the per-batch
    * probe is shuffle-free on the index side). Equals the batch rows of a
    * full [[graft.dedup.ParagraphDedup.dedupParagraphs]] recompute over
    * history ∪ batch under the append-only corpus contract
    * (StreamingSpec pins streaming == batch). */
  def paragraphDedupViaSinkIndex(docs: DataFrame, sinkPath: String,
                                 indexPath: String, checkpoint: String,
                                 idCol: String = "doc_id",
                                 textCol: String = "text",
                                 splitRe: String = "\\n{2,}"): DataStreamWriter[Row] =
    cleanViaSinkIndex(docs, sinkPath, indexPath, checkpoint, ParagraphIndexDdl)(
      (batch, index) => graft.dedup.ParagraphDedup.dedupParagraphsIncremental(
        batch, idCol, textCol, index, splitRe),
      paragraphKeys(idCol, textCol, splitRe))

  /** Streaming SUBSTRING dedup (ST2 [EXT]) — the
    * [[paragraphDedupViaSinkIndex]] composition at window granularity:
    * each micro-batch cleans its documents against the persisted
    * window-hash index
    * ([[graft.dedup.SubstringDedup.cleanedIncremental]]), appends the
    * cleaned documents to the sink, and appends the batch's novel window
    * hashes to the index. `anchored = true` gives the offset-independent
    * start rule. */
  def substringDedupViaSinkIndex(docs: DataFrame, sinkPath: String,
                                 indexPath: String, checkpoint: String,
                                 idCol: String = "doc_id",
                                 textCol: String = "text",
                                 width: Int = 20, stride: Int = 5,
                                 anchored: Boolean = false): DataStreamWriter[Row] = {
    import graft.dedup.SubstringDedup
    cleanViaSinkIndex(docs, sinkPath, indexPath, checkpoint, WindowIndexDdl)(
      (batch, index) => SubstringDedup.cleanedIncremental(
        batch, idCol, textCol, index, width, stride, anchored),
      batch => SubstringDedup.windowIndex(SubstringDedup.windows(
        batch, idCol, textCol, width, stride, anchored = anchored)))
  }

  /** Streaming FineWeb preset (ST2 [EXT] at PRESET scope) — the
    * [[graft.pipeline.FineWebPipeline.incremental]] composition under
    * `foreachBatch`: each micro-batch runs stages 1-7 against the
    * persisted state triple under `stateDir` (window-hash index,
    * content-hash index, additive DSIR counts; `bench` is the fixed
    * eval set, passed as a static frame), appends the CLEANED
    * (doc_id, text, n_tokens) rows — stages 1-6 — to the sink, and
    * appends each index's NOVEL rows + the batch's count rows to the
    * state. The count table re-aggregates on read, so appends ARE the
    * merge. DSIR selection (stage 7) depends on whole-corpus counts, so
    * it is a RELEASE-time step, not a per-batch one:
    * [[graft.pipeline.FineWebPipeline.dsirSelect]] over the sink + the
    * final count table — StreamingSpec pins that composition equal to
    * one full recompute. */
  def fineWebViaSinkIndex(docs: DataFrame, bench: DataFrame,
                          sinkPath: String, stateDir: String,
                          checkpoint: String,
                          gopherTh: graft.text.GopherRules.Thresholds =
                            graft.text.GopherRules.Thresholds(),
                          width: Int = 20, stride: Int = 5,
                          targetMod: Int = 3, dsirBuckets: Int = 256): DataStreamWriter[Row] = {
    import graft.pipeline.{Dsir, FineWebPipeline}
    val spark = docs.sparkSession
    eachBatch(docs, checkpoint) { (batch0, _) =>
      pinnedNonEmpty(batch0) { batch =>
        val winIdx = state(spark, s"$stateDir/window_index", WindowIndexDdl)
          .dropDuplicates("h")
        val cntIdx = state(spark, s"$stateDir/content_index", ContentIndexDdl)
          .dropDuplicates("h")
        val counts = state(spark, s"$stateDir/dsir_counts", "f BIGINT, ct BIGINT, cr BIGINT")
          .groupBy(col("f")).agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))
        val st = FineWebPipeline.IncrementalState(winIdx, cntIdx, bench, counts)
        val inc = FineWebPipeline.incrementalStages(batch, st,
          gopherTh = gopherTh, width = width, stride = stride,
          targetMod = targetMod, dsirBuckets = dsirBuckets)
        // all three state paths are read lazily by the plans above (inc.clean
        // is already pinned inside incrementalStages)
        val novelWins = graft.dedup.SubstringDedup.windowIndex(
            graft.dedup.SubstringDedup.windows(inc.gated, "doc_id", "text",
              width, stride, anchored = true))
          .join(winIdx.select(col("h")), Seq("h"), "left_anti")
          .pinnedTransient
        val novelContent = graft.dedup.Dedup.exactIndex(inc.sub, "doc_id", "text")
          .join(cntIdx.select(col("h")), Seq("h"), "left_anti")
          .pinnedTransient
        val batchCounts = Dsir.countTable(inc.clean,
            col("doc_id") % targetMod === 0, "text", dsirBuckets)
          .pinnedTransient
        inc.clean.write.mode("append").parquet(sinkPath)
        novelWins.write.mode("append").parquet(s"$stateDir/window_index")
        novelContent.write.mode("append").parquet(s"$stateDir/content_index")
        batchCounts.write.mode("append").parquet(s"$stateDir/dsir_counts")
      }
    }
  }

  /** Streaming CCNet preset (ST2 [EXT] at preset scope, the
    * [[fineWebViaSinkIndex]] sibling): each micro-batch runs the
    * preset's per-batch stages — NFC first (the index stores norms of
    * canonical bytes, so NFD twins collapse across batches too), then
    * incremental paragraph dedup against the persisted norm-hash index,
    * then the per-row language gate — and appends survivors to the sink
    * and the batch's NOVEL norms to the index. The index absorbs norms
    * from ALL batch docs (including language-rejected ones): in the full
    * recompute, paragraph dedup runs BEFORE the gate, so a rejected doc's
    * paragraphs still claim keep-first. Perplexity tiering (stage 3) is a
    * RELEASE-time step — the self-fit LM depends on the whole survivor
    * corpus, exactly the [[graft.pipeline.FineWebPipeline.dsirSelect]]
    * boundary: run [[graft.text.LmScore.perplexityBucketsScalable]] over
    * the sink and cut the tail (StreamingSpec pins the composition == one
    * full [[graft.pipeline.CcNetPipeline]] recompute). */
  def ccNetViaSinkIndex(docs: DataFrame, sinkPath: String,
                        indexPath: String, checkpoint: String,
                        lang: String = "en",
                        idCol: String = "doc_id", textCol: String = "text",
                        splitRe: String = "\\n{2,}"): DataStreamWriter[Row] =
    cleanViaSinkIndex(docs, sinkPath, indexPath, checkpoint, ParagraphIndexDdl,
        _.withColumn(textCol,
          org.apache.spark.sql.graft.ArrayFunctions.nfcNormalize(col(textCol))))(
      (batch, index) => graft.dedup.ParagraphDedup.dedupParagraphsIncremental(
          batch, idCol, textCol, index, splitRe)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("text_clean").as("text"))
        .filter(graft.text.TextAnalysis.langId(col("text")) === lang),
      paragraphKeys(idCol, textCol, splitRe))

  /** [EXT] Streaming EXACT near-dup pairs — the
    * [[graft.dedup.SetSimJoin]] incremental face as a stream: each
    * micro-batch emits every qualifying pair it forms with history ∪
    * itself, with NO LSH misses, keeping
    * [[graft.dedup.SetSimJoin.PrefixIndex]]'s three frames as parquet
    * state:
    *
    *  - `order/` — the token order, FROZEN at batch 0 (a pure function
    *    of batch 0's content: re-firing batch 0 rewrites it
    *    identically). Later batches' unseen tokens rank (0, token) —
    *    ahead of everything, the order-consistent front extension
    *    [[graft.dedup.SetSimJoin.orderedPrefixes]] documents — so one
    *    total order covers every pair ever formed, and drift only costs
    *    candidate efficiency, never a pair.
    *  - `tokens/batch_id=N`, `prefixes/batch_id=N` — overwritten by
    *    their own batch, read `batch_id < N`: a re-fired batch sees
    *    exactly the pre-batch state and recomputes identical pairs.
    *  - `pairs/batch_id=N` — the batch's own output partition.
    *
    * "All pairs" at read time is the union of pairs partitions;
    * StreamingSpec pins it equal to one [[graft.dedup.SetSimJoin
    * .jaccardJoin]] over everything, and replays a batch to pin
    * determinism. */
  def setSimPairsViaBatchState(docs: DataFrame, stateDir: String,
                               checkpoint: String, idCol: String = "doc_id",
                               textCol: String = "text",
                               threshold: Double = 0.9): DataStreamWriter[Row] =
    eachBatch(docs, checkpoint) { (batch, batchId) =>
      setSimBatch(batch, batchId, stateDir, idCol, textCol, threshold)
    }

  /** One micro-batch of [[setSimPairsViaBatchState]], public for the
    * replay-determinism spec. */
  def setSimBatch(batchDf: DataFrame, batchId: Long, stateDir: String,
                  idCol: String, textCol: String, threshold: Double): Unit = {
    import graft.dedup.SetSimJoin
    val spark = batchDf.sparkSession
    val orderPath = s"$stateDir/order"
    // Frozen order: batch 0 computes and (over)writes it; every batch
    // reads it back. A restart-renumbered stream (fresh checkpoint over
    // existing state) keeps the existing frozen order — consistency
    // with already-indexed prefixes wins over freshness.
    if (batchId == 0L && !present(spark, orderPath))
      SetSimJoin.tokenOrder(batchDf, idCol, textCol)
        .write.mode("overwrite").parquet(orderPath)
    def before(name: String, ddl: String): DataFrame =
      state(spark, s"$stateDir/$name", s"$ddl, batch_id BIGINT")
        .filter(col("batch_id") < batchId).drop("batch_id")
    val idx = SetSimJoin.PrefixIndex(state(spark, orderPath, "tok STRING, df BIGINT"),
      before("tokens", "id BIGINT, toks ARRAY<STRING>, n INT"),
      before("prefixes", "id BIGINT, n INT, i INT, tok STRING"))
    val (pairs, bt, bPref) =
      SetSimJoin.incrementalWithState(batchDf, idCol, textCol, threshold, idx)
    pairs.write.mode("overwrite").parquet(s"$stateDir/pairs/batch_id=$batchId")
    bt.write.mode("overwrite").parquet(s"$stateDir/tokens/batch_id=$batchId")
    bPref.write.mode("overwrite").parquet(s"$stateDir/prefixes/batch_id=$batchId")
  }

  /** The 100 TB dedup shape (ST2 scale path, SURVEY §2.8): instead of
    * unbounded `dropDuplicates` state in the state store, each micro-batch
    * anti-joins against the SINK's own key set and appends only novel
    * rows. The "state" IS the sink (in production: a compacted key-index
    * table maintained beside it; here: the sink's `sources` column
    * directly). */
  def dedupViaSinkIndex(candidates: DataFrame, sinkPath: String,
                        checkpoint: String): DataStreamWriter[Row] = {
    val spark = candidates.sparkSession
    eachBatch(candidates, checkpoint) { (batch, _) =>
      batch.dropDuplicates("sources")
        .join(state(spark, sinkPath, "sources STRING").select("sources"),
          Seq("sources"), "left_anti")
        .write.mode("append").parquet(sinkPath)
    }
  }
}
