package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Mat
import graft.analytics.{Dashboard, Lpa, PageRank}
import graft.ingest.Links
import graft.pipeline.{Curation, Release, RefinedWebPipeline}
import graft.similarity.Ivf
import graft.streaming.StreamingIngest

import FileTrees.{copyTree, deleteTree}

/** One closed-loop operation's outcome: its fingerprint (equal across
  * operations, since every operation does the same work on the same input)
  * and the facts the output checks need. */
final case class OpResult(fingerprint: String, info: Map[String, Any] = Map.empty)

/** A benchmark workload over generated inputs in `in`, with scratch space
  * in `work`. [[setup]] loads inputs and builds what the operations read;
  * [[prepare]] runs untimed before every operation and resets what an
  * operation changes; [[op]] is one timed operation; [[check]] runs once,
  * untimed, after the loop and returns the detail the output checks
  * compare. */
trait Workload {
  def setup(): Unit
  def prepare(): Unit = ()
  def op(): OpResult
  def check(): Map[String, Any]
}

object Workload {
  def apply(name: String, spark: SparkSession, t: Tracer, in: String,
            work: String): Workload = name match {
    case "curate_release" => new CurateRelease(spark, t, in, work)
    case "crawl_serve" => new CrawlServe(spark, t, in, work)
    case "link_rank" => new LinkRank(spark, t, in, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rowsOf(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq)
}

/** Raw pages → RefinedWeb stages → decontamination → release shards. */
final class CurateRelease(spark: SparkSession, t: Tracer, in: String, work: String)
    extends Workload {
  private val docsPath = s"$work/docs.parquet"
  private val releasePath = s"$work/release.parquet"
  private var small: Map[String, DataFrame] = Map.empty
  private val StageSpans = Seq("text.gates", "dedup.exact", "dedup.near")
  val RefinedWebCap = 80
  val ReleaseCap = 40
  val ShardBudget = 20000L

  def setup(): Unit = {
    spark.read.schema("doc_id LONG, url STRING, text STRING")
      .json(s"$in/docs.jsonl").write.mode("overwrite").parquet(docsPath)
    small = Map(
      "eval" -> "eval_id LONG, text STRING", "takedown" -> "h STRING",
      "blocked" -> "domain STRING", "robots" -> "host STRING, rule STRING, prefix STRING")
      .map { case (n, schema) =>
        val df = spark.read.schema(schema).json(s"$in/$n.jsonl").cache()
        df.count()
        n -> df
      }
  }

  private var last: Option[(DataFrame, RefinedWebPipeline.Stages, DataFrame, DataFrame,
    Array[Row])] = None

  /** The RefinedWeb stages call, cut into consecutive spans at its pins:
    * everything up to the gated pin is `text.gates`, up to the exact-dedup
    * pin `dedup.exact`, up to the near-dup pin `dedup.near` (MinHash,
    * banding and components run between the last two pins). */
  private def stages(): (DataFrame, RefinedWebPipeline.Stages) = {
    var n = 0
    var open = t.open(StageSpans(0))
    try {
      val raw = spark.read.parquet(docsPath)
      val st = RefinedWebPipeline.stages(raw, cap = RefinedWebCap, materialize = df => {
        val p = Mat.pin(df)
        n += 1
        t.close(open)
        open = t.open(StageSpans.lift(n).getOrElse("pipeline.stages"))
        p
      })
      (raw, st)
    } finally t.close(open)
  }

  def op(): OpResult = {
    val (raw, st) = stages()
    val flags = t.span("pipeline.decontaminate") {
      Mat.pin(Curation.decontaminate(st.capped, "doc_id", "text",
        small("eval"), "text", 8, 3L))
    }
    val clean = flags.filter(col("contaminated") === 0).select(col("doc_id"))
    val manifest = t.span("pipeline.release") {
      Release.run(raw.join(clean, Seq("doc_id")), small("takedown"),
        small("blocked"), small("robots"), cap = ReleaseCap, shardBudget = ShardBudget)
        .write.mode("overwrite").parquet(releasePath)
      spark.read.parquet(releasePath).orderBy(col("shard_id")).collect()
    }
    last = Some((raw, st, flags, clean, manifest))
    OpResult(Json.fingerprint(Workload.rowsOf(manifest)), Map("shards" -> manifest.length))
  }

  /** Stage counts and ids of the last operation, read from its pinned
    * frames (so no stage is recomputed). */
  def check(): Map[String, Any] = last.map { case (raw, st, flags, clean, manifest) =>
    def ids(df: DataFrame): Seq[Long] =
      df.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    Map("counts" -> Map("raw" -> raw.count(), "gated" -> st.gated.count(),
        "exact" -> st.exact.count(), "near" -> st.fuzzy.count(),
        "capped" -> st.capped.count(), "clean" -> clean.count()),
      "curated_ids" -> ids(st.capped),
      "flagged_ids" -> ids(flags.filter(col("contaminated") === 1)),
      "manifest" -> Workload.rowsOf(manifest),
      "fingerprint" -> Json.fingerprint(Workload.rowsOf(manifest)))
  }.getOrElse(Map.empty)
}

/** One crawl tick through the streaming ingest loop, then a dashboard read
  * over the grown sink and a batch of IVF lookups. Set-up ingests the
  * backlog (tick 0) and snapshots the sink and the stream checkpoint;
  * every operation starts from that snapshot and ingests tick 1, so each
  * one appends the same articles to the same sink. */
final class CrawlServe(spark: SparkSession, t: Tracer, in: String, work: String)
    extends Workload {
  private val pagesPath = s"$work/pages.parquet"
  private val storePath = s"$work/ivf_store"
  private val streamDir = s"$work/listings_in"
  private val sinkPath = s"$work/sink"
  private val ckptPath = s"$work/checkpoint"
  private val snapshots = Seq(sinkPath -> s"$work/snapshot/sink",
    ckptPath -> s"$work/snapshot/checkpoint")
  val K = 10
  val NList = 32
  val NProbe = 4
  private var centers: IndexedSeq[IndexedSeq[Double]] = _
  private var probes: DataFrame = _
  private var pages: DataFrame = _
  private var lastKnn: Array[Row] = Array.empty

  def setup(): Unit = {
    spark.read.schema("sources STRING, html STRING").json(s"$in/pages.jsonl")
      .write.mode("overwrite").parquet(pagesPath)
    pages = spark.read.parquet(pagesPath)
    val vectors = spark.read.schema("vec_id LONG, embedding ARRAY<DOUBLE>")
      .json(s"$in/vectors.jsonl")
    probes = spark.read.schema("vec_id LONG, embedding ARRAY<DOUBLE>")
      .json(s"$in/probes.jsonl").cache()
    probes.count()
    t.span("similarity.ivf_build") {
      centers = Ivf.fitCentroids(vectors, NList)
      Ivf.writeListPartitioned(vectors, centers, storePath)
    }
    Files.createDirectories(Paths.get(streamDir))
    addTick(0)
    crawl() // the backlog
    snapshots.foreach { case (live, snap) => copyTree(live, snap) }
    addTick(1)
  }

  private def addTick(k: Int): Unit = {
    val name = f"tick_$k%04d.jsonl"
    Files.copy(Paths.get(s"$in/listings/$name"), Paths.get(s"$streamDir/$name"))
  }

  private def crawl(): Unit = t.span("streaming.crawl_batch") {
    val listings = spark.readStream.schema("source STRING, html STRING").json(streamDir)
    StreamingIngest.crawlLoop(listings, pages, sinkPath, ckptPath).start()
      .awaitTermination()
  }

  override def prepare(): Unit = snapshots.foreach { case (live, snap) =>
    deleteTree(live)
    copyTree(snap, live)
  }

  private def sinkFiles(): Int =
    Option(new java.io.File(sinkPath).list()).getOrElse(Array.empty[String])
      .count(n => n.startsWith("part-") && n.endsWith(".parquet"))

  def op(): OpResult = {
    val files0 = sinkFiles()
    crawl()
    val files1 = sinkFiles()
    val dash = t.span("analytics.dashboard") {
      Dashboard.composite(spark.read.parquet(sinkPath)).collect()
    }
    val knn = t.span("similarity.knn") {
      Ivf.knnIvfStored(spark, storePath, centers, probes, K, NProbe).collect()
    }
    lastKnn = knn
    val total = dash.find(_.getString(0) == "total").map(_.getLong(3)).getOrElse(-1L)
    OpResult(Json.fingerprint(Workload.rowsOf(dash) ++ Workload.rowsOf(knn)),
      Map("dashboard_total" -> total, "sink_files_written" -> (files1 - files0),
        "knn_rows" -> knn.length))
  }

  /** Exact top-K ids by cosine (rounded as the IVF search rounds it, ties
    * to the lower id) for every probe, over all vectors, on the driver. */
  private def bruteForce(): Map[Long, Set[Long]] = {
    def load(path: String): Array[(Long, Array[Double])] =
      spark.read.schema("vec_id LONG, embedding ARRAY<DOUBLE>").json(path)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val cands = load(s"$in/vectors.jsonl").map { case (id, v) => (id, v, norm(v)) }
    load(s"$in/probes.jsonl").map { case (pid, p) =>
      val pn = norm(p)
      val scored = cands.map { case (id, v, n) =>
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * p(i); i += 1 }
        (BigDecimal(d / (n * pn)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, id)
      }
      pid -> scored.sortBy { case (c, id) => (-c, id) }.take(K).map(_._2).toSet
    }.toMap
  }

  /** Recall of the last operation's lookups and the sink it left. */
  def check(): Map[String, Any] = {
    val truth = bruteForce()
    val byProbe = lastKnn.groupBy(_.getLong(0))
    val recalls = truth.toSeq.map { case (pid, want) =>
      byProbe.getOrElse(pid, Array.empty[Row]).map(_.getLong(2)).toSet
        .intersect(want).size.toDouble / K
    }
    val sink = spark.read.parquet(sinkPath).select(col("sources"))
    val sources = sink.collect().map(_.getString(0)).sorted
    Map("recall_at_k" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size),
      "sink_rows" -> sources.length, "sink_distinct" -> sources.distinct.length,
      "sink_sources_sha1" -> Json.fingerprint(sources.distinct.toSeq.map(Seq(_))))
  }
}

/** Host graph from generated pages, then fixed-round PageRank, HITS and
  * label propagation over it. */
final class LinkRank(spark: SparkSession, t: Tracer, in: String, work: String)
    extends Workload {
  private val pagesPath = s"$work/pages.parquet"
  val Rounds = 3
  private var last: Map[String, Any] = Map.empty

  def setup(): Unit =
    spark.read.schema("doc_id LONG, url STRING, html STRING")
      .json(s"$in/pages.jsonl").write.mode("overwrite").parquet(pagesPath)

  def op(): OpResult = {
    val (edges, nEdges, nLinks) = t.span("ingest.host_graph") {
      val e = Mat.pin(Links.hostGraph(spark.read.parquet(pagesPath))
        .select(xxhash64(col("src_domain")).as("src"),
          xxhash64(col("dst_domain")).as("dst"), col("n_links")))
      val r = e.agg(count(lit(1)), sum(col("n_links"))).head()
      (e, r.getLong(0), r.getLong(1))
    }
    val ranks = t.span("analytics.pagerank") {
      PageRank.ranks(edges, "src", "dst", Rounds).collect()
    }
    val hits = t.span("analytics.hits") {
      PageRank.hits(edges, "src", "dst", Rounds).collect()
    }
    val lpa = t.span("analytics.lpa") {
      Lpa.labelPropagation(edges, "src", "dst", Rounds).collect()
    }
    val nodes = ranks.map(_.getLong(0)).toSet
    last = Map("edges" -> nEdges, "links" -> nLinks, "nodes" -> ranks.length,
      "rounds" -> Rounds, "scale" -> PageRank.Scale,
      "rank_sum" -> ranks.map(_.getLong(1)).sum,
      "hub_sum" -> hits.map(_.getLong(1)).sum,
      "auth_sum" -> hits.map(_.getLong(2)).sum,
      "hits_nodes" -> hits.length, "lpa_nodes" -> lpa.length,
      "lpa_foreign_labels" -> lpa.count(r => !nodes.contains(r.getLong(1))),
      "communities" -> lpa.map(_.getLong(1)).distinct.length)
    OpResult(Json.fingerprint(Workload.rowsOf(ranks) ++ Workload.rowsOf(hits) ++
      Workload.rowsOf(lpa)), last)
  }

  def check(): Map[String, Any] = last
}

/** Recursive copy and delete of scratch directories. */
object FileTrees {
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.createDirectories(Paths.get(to).getParent)
    val s = Files.walk(src)
    try s.forEach(f => Files.copy(f, Paths.get(to).resolve(src.relativize(f).toString)))
    finally s.close()
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}
