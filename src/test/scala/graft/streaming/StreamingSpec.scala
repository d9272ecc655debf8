package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ST1-ST5 semantics: cross-micro-batch dedup state, streaming windowed
  * aggregation agreeing with its batch twin, watermark behavior. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("stateless curation ops run unchanged on streams (PII scrub parity)") {
    // PII scrubbing and repetition stats are pure per-row expressions, so
    // the SAME function applies to a streaming DataFrame — batch/stream
    // parity is structural, not reimplemented. (The orderBy is dropped
    // here: a global sort is meaningless mid-stream.)
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "mail a@b.io or call 555-123-9876 now"),
      (2L, "server 10.0.0.1 is fine"))
    val in = MemoryStream[(Long, String)]
    val q = graft.pipeline.Pii.scrubUnordered(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text")
      .writeStream.format("memory").queryName("pii_out")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("pii_out").collect().map(_.toSeq).toSet
      val batch = graft.pipeline.Pii.scrubUnordered(rows.toDF("doc_id", "text"),
        "doc_id", "text").collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("compliance exclusion runs unchanged on streams (stream-static anti-join)") {
    // excludeByKey is a stream-static broadcast anti-join — stateless, so
    // the SAME operator applies mid-ingest: takedown'd content never
    // reaches the sink, including exact copies arriving later.
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "the requested document body"),
      (2L, "the requested document body"), // exact copy — must drop too
      (3L, "unrelated content"))
    val requests = Seq("the requested document body").toDF("t")
      .select(md5(col("t")).as("h"))
    val in = MemoryStream[(Long, String)]
    val q = graft.pipeline.Curation.excludeByKey(
        in.toDF().toDF("doc_id", "text"), md5(col("text")), requests)
      .writeStream.format("memory").queryName("excl_out")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("excl_out").collect().map(_.toSeq).toSet
      val batch = graft.pipeline.Curation.excludeByKey(
          rows.toDF("doc_id", "text"), md5(col("text")), requests)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed.map(_.head) == Set(3L))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: in-window dups drop, state is bounded") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val q = StreamingIngest.dedupStreamBounded(
        in.toDF().toDF("sources", "ts"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("bounded_out")
      .outputMode("append").start()
    try {
      in.addData(("u1", ts("2024-01-01 10:00:00")), ("u1", ts("2024-01-01 10:02:00")),
        ("u2", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      // advance event time far past the watermark window, then repeat u1:
      // its state has expired, so the late re-occurrence is emitted again
      // (the documented divergence from the unbounded contract).
      in.addData(("u3", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      in.addData(("u1", ts("2024-01-01 12:01:00")))
      q.processAllAvailable()
      val got = spark.table("bounded_out").select("sources").as[String]
        .collect().toSeq.sorted
      assert(got == Seq("u1", "u1", "u2", "u3"), got.toString)
    } finally q.stop()
  }

  test("dropDuplicates state dedups across micro-batches (ST2)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val q = StreamingIngest.dedupStream(in.toDF().toDF("sources", "title"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(("u1", "a"), ("u2", "b"), ("u1", "dup-in-batch"))
      q.processAllAvailable()
      in.addData(("u1", "dup-across-batch"), ("u3", "c"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("sources").as[String]
        .collect().sorted
      assert(got.toSeq == Seq("u1", "u2", "u3"))
    } finally q.stop()
  }

  test("streaming tumbling window agg matches the batch twin (ST5/ST3)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:50:00", "click", 2.0),
      ("2024-01-01 01:05:00", "view", 3.0),
      ("2024-01-01 00:20:00", "view", 4.0)) // late arrival, still counted
    val in = MemoryStream[(String, String, Double)]
    val toEvents = (df: org.apache.spark.sql.DataFrame) => df
      .toDF("raw_ts", "event_type", "value")
      .select(to_timestamp($"raw_ts").as("ts"), $"event_type", $"value")
    val q = EventWindows.tumblingHourly(toEvents(in.toDF()))
      .writeStream.format("memory").queryName("tumble_out")
      .outputMode("complete").start()
    try {
      in.addData(rows.take(3): _*)
      q.processAllAvailable()
      in.addData(rows.drop(3): _*)   // late event for the 00:00 window
      q.processAllAvailable()
      val streaming = spark.table("tumble_out")
        .orderBy("ws", "event_type").collect().map(_.toSeq).toSeq
      val batch = EventWindows.tumblingHourly(toEvents(rows.toDF()))
        .collect().map(_.toSeq).toSeq
      assert(streaming == batch)
    } finally q.stop()
  }

  test("file-source ingest: AvailableNow batches, dedup state survives restart (ST1/ST2)") {
    val root = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val (inDir, outDir, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    def drop(batch: Seq[(String, String)], name: String): Unit =
      batch.toDF("source", "html").coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val cands = graft.ingest.Ingest.candidates(
        StreamingIngest.pagesStream(spark, inDir))
      val q = StreamingIngest.writer(
        StreamingIngest.dedupStream(cands), outDir, ckpt, everySixHours = false).start()
      q.awaitTermination()
    }
    val listing1 =
      """<article><a href="/a/1">x</a></article>
        |<article><a href="/a/2">y</a></article>""".stripMargin
    drop(Seq(("https://ex.com/l", listing1)), "b1")
    runOnce()
    assert(spark.read.parquet(outDir).count() == 2)
    // second drop repeats /a/2 and adds /a/3: only /a/3 must append
    val listing2 =
      """<article><a href="/a/2">y</a></article>
        |<article><a href="/a/3">z</a></article>""".stripMargin
    drop(Seq(("https://ex.com/l", listing2)), "b2")
    runOnce()
    val out = spark.read.parquet(outDir).select("sources").as[String].collect().sorted
    assert(out.toSeq == Seq("https://ex.com/a/1", "https://ex.com/a/2", "https://ex.com/a/3"))
  }

  test("crawlLoop: streaming re-crawl over growing listings == one-shot ingest (r12)") {
    val root = java.nio.file.Files.createTempDirectory("graft_crawlloop").toString
    val (inDir, sink, ckpt) = (s"$root/in", s"$root/sink", s"$root/ckpt")
    val pages = Seq(
      ("https://ex.com/a/1",
        "<h1>One</h1><p>Body 1.</p><time datetime=\"2024-01-01\">x</time>"),
      ("https://ex.com/a/2",
        "<h1>Two</h1><p>Body 2.</p><time datetime=\"2024-01-02\">x</time>"),
      ("https://ex.com/a/3",
        "<h1>Three</h1><p>Body 3.</p><time datetime=\"2024-01-03\">x</time>"))
      .toDF("sources", "html")
    // tick 1 lists a1+a2; tick 2 RE-lists both and adds a3 (the 6-hour
    // re-crawl of the same seed) — a1/a2 must not re-append
    val tick1 =
      """<article><a href="/a/1">x</a></article>
        |<article><a href="/a/2">y</a></article>""".stripMargin
    val tick2 = tick1 + "\n<article><a href=\"/a/3\">z</a></article>"
    Seq(("https://ex.com/l", tick1)).toDF("source", "html")
      .coalesce(1).write.mode("append").parquet(inDir)
    Seq(("https://ex.com/l", tick2)).toDF("source", "html")
      .coalesce(1).write.mode("append").parquet(inDir)
    val stream = spark.readStream.schema("source STRING, html STRING")
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    StreamingIngest.crawlLoop(stream, pages, sink, ckpt).start()
      .awaitTermination()
    val cols = Seq("title", "sources", "content", "source", "published_at")
    val grown = spark.read.parquet(sink)
      .select(cols.head, cols.tail: _*).collect().toSet
    // batch-equivalence: the grown sink equals one-shot E1 over the
    // final tick's listing against an empty sink
    val oneShot = graft.ingest.Ingest.run(
        Seq(("https://ex.com/l", tick2)).toDF("source", "html"),
        pages, Seq.empty[String].toDF("sources"))
      .select(cols.head, cols.tail: _*).collect().toSet
    assert(grown.size == 3, s"each article exactly once: $grown")
    assert(grown == oneShot, "streaming-grown sink != one-shot ingest")
  }

  test("sink-index dedup: anti-join per micro-batch, no engine state (ST2 scale path)") {
    val root = java.nio.file.Files.createTempDirectory("graft_sinkidx").toString
    val (inDir, sink, ckpt) = (s"$root/in", s"$root/sink", s"$root/ckpt")
    def drop(html: String): Unit =
      Seq(("https://ex.com/l", html)).toDF("source", "html")
        .coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val cands = graft.ingest.Ingest.candidates(StreamingIngest.pagesStream(spark, inDir))
      val q = StreamingIngest.dedupViaSinkIndex(cands, sink, ckpt).start()
      q.awaitTermination()
    }
    drop("""<article><a href="/a/1">x</a></article><article><a href="/a/2">y</a></article>""")
    runOnce()
    drop("""<article><a href="/a/2">y</a></article><article><a href="/a/3">z</a></article>""")
    runOnce()
    val keys = spark.read.parquet(sink).select("sources").as[String].collect().sorted
    assert(keys.toSeq == Seq("https://ex.com/a/1", "https://ex.com/a/2", "https://ex.com/a/3"))
  }

  test("streaming near-dup dedup: within-batch and cross-batch via signature index") {
    val root = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    val (inDir, sink, idx, ckpt) = (s"$root/in", s"$root/sink", s"$root/idx", s"$root/ckpt")
    def drop(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(inDir)
      val q = StreamingIngest.nearDupDedupViaSinkIndex(docs, sink, idx, ckpt, 0.9).start()
      q.awaitTermination()
    }
    val base = "the quick brown fox jumps over the lazy dog and keeps on running far"
    // batch 1: doc 1 and its near-dup 2 (one-token drift), unrelated 3
    drop(Seq(
      (1L, base),
      (2L, base + " x"),                     // J = 14/15 >= 0.9 vs doc 1
      (3L, "completely different content entirely unrelated to anything else")))
    runOnce()
    // batch 2: near-dup of doc 1 again (4), and a novel doc (5)
    drop(Seq(
      (4L, base + " y"),                     // near-dup of ingested doc 1
      (5L, "yet another body of text with no overlap worth speaking about")))
    runOnce()
    val kept = spark.read.parquet(sink).select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 5L), s"kept=$kept")
    // index holds exactly the unique docs' signatures
    val idxIds = spark.read.parquet(idx).select("doc_id").as[Long].collect().sorted.toSeq
    assert(idxIds == Seq(1L, 3L, 5L), s"index=$idxIds")
  }

  test("streaming paragraph dedup: cross-batch duplicate paragraphs drop via the norm index") {
    val root = java.nio.file.Files.createTempDirectory("graft_paradedup").toString
    val (inDir, sink, idx, ckpt) = (s"$root/in", s"$root/sink", s"$root/idx", s"$root/ckpt")
    def drop(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(inDir)
      val q = StreamingIngest.paragraphDedupViaSinkIndex(docs, sink, idx, ckpt).start()
      q.awaitTermination()
    }
    val boiler = "subscribe to our newsletter for updates"
    val b1 = Seq(
      (1L, s"alpha beta gamma\n\n$boiler"),
      (2L, "unique first paragraph\n\nanother unique one"))
    val b2 = Seq(
      (3L, s"fresh content here\n\n$boiler"),     // cross-batch dup paragraph
      (4L, boiler))                               // pure boilerplate doc
    drop(b1); runOnce()
    drop(b2); runOnce()
    val out = spark.read.parquet(sink)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) == (s"alpha beta gamma\n\n$boiler", 2L, 0L)) // keeper batch untouched
    assert(out(3L) == ("fresh content here", 1L, 1L))
    assert(out(4L) == ("", 0L, 1L))
    // streaming == batch: the two micro-batches must equal one full
    // recompute over the whole corpus (append-only contract).
    val full = graft.dedup.ParagraphDedup
      .dedupParagraphs((b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == full, s"streaming $out != batch $full")
    // the index carries one norm-hash row per distinct paragraph, no text:
    // 4 from batch 1 + "fresh content here" from batch 2 (boiler not re-added)
    val idxRows = spark.read.parquet(idx)
    assert(idxRows.count() == 5L)
    assert(idxRows.columns.toSeq == Seq("h", "keeper_doc_id", "keeper_idx"))
  }

  test("sink-index state: an absent index is empty state, an unreadable one fails the batch") {
    val root = java.nio.file.Files.createTempDirectory("graft_statereader").toString
    val rows = Seq((1L, "alpha beta\n\nshared tail"), (2L, "gamma delta\n\nshared tail"))
    def runOnce(dir: String): Unit = {
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$dir/in")
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$dir/in")
      StreamingIngest.paragraphDedupViaSinkIndex(docs, s"$dir/sink", s"$dir/idx",
        s"$dir/ckpt").start().awaitTermination()
    }
    // no index path: the first batch runs against empty state
    runOnce(s"$root/fresh")
    val out = spark.read.parquet(s"$root/fresh/sink").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "alpha beta\n\nshared tail", 2L -> "gamma delta"), s"$out")
    assert(spark.read.parquet(s"$root/fresh/idx").count() == 3L)
    // an index directory holding a part file that is not parquet: the
    // read error fails the query instead of reading as empty state
    val badIdx = new java.io.File(s"$root/bad/idx")
    assert(badIdx.mkdirs())
    java.nio.file.Files.write(new java.io.File(badIdx, "part-00000-garbage.parquet").toPath,
      "not a parquet file".getBytes("UTF-8"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(s"$root/bad")
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")
    assert(causes.contains("part-00000-garbage.parquet"), causes)
    // and no row reached the sink
    val badSink = new java.io.File(s"$root/bad/sink")
    assert(!badSink.exists() || spark.read.parquet(badSink.getPath).count() == 0L)
  }

  test("streaming substring dedup: cross-batch repeated passage drops via the window index") {
    val root = java.nio.file.Files.createTempDirectory("graft_subdedup").toString
    val (inDir, sink, idx, ckpt) = (s"$root/in", s"$root/sink", s"$root/idx", s"$root/ckpt")
    def drop(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(inDir)
      val q = StreamingIngest.substringDedupViaSinkIndex(docs, sink, idx, ckpt,
        width = 8, stride = 3).start()
      q.awaitTermination()
    }
    val passage = "the quick brown fox jumps over seven lazy"  // 8 tokens
    val b1 = Seq(
      (1L, s"$passage alpha beta gamma delta"),
      (2L, "completely unrelated words fill this other document nicely"))
    val b2 = Seq(
      (3L, s"x1 x2 x3 $passage tail words here"))  // passage at a stride-aligned offset
    drop(b1); runOnce()
    drop(b2); runOnce()
    val out = spark.read.parquet(sink)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(out(1L)._2 == 0L, "batch-1 keeper must stay intact")
    // streaming == one full batch recompute over history ∪ batch
    val full = graft.dedup.SubstringDedup
      .cleaned((b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", 8, 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(out == full, s"streaming $out != batch $full")
    assert(out(3L)._2 == 8L, s"doc 3 must lose the 8-token passage: ${out(3L)}")
  }

  test("streaming RefinedWeb preset: two micro-batches == one full recompute") {
    val th = graft.text.GopherRules.Thresholds(minWords = 5L, minStopHits = 1L)
    val composed = "the café menu lists nine warm drinks daily"
    val decomposed =
      java.text.Normalizer.normalize(composed, java.text.Normalizer.Form.NFD)
    // 19 distinct tokens (incl. 'the') — the chain docs' shared base.
    val ChainBase = Seq("the") ++ (1 to 18).map(i => s"cw$i")
    // the RefinedWebPipelineSpec fixture, split so the NFC twin (2), the
    // exact copy (8), the near-dup (9), and a capped doc (12) all arrive
    // AFTER their keepers — every state table must answer across batches.
    val all = Seq(
      (1L, composed, "https://a.site.com/1"),
      (2L, decomposed, "https://b.site.com/2"),
      (3L, "the blocked page content stays readable here", "https://x.foo.co.uk/3"),
      (4L, "der die das und ist nicht ein mit gut", "https://a.site.com/4"),
      (5L, "the end", "https://a.site.com/5"),
      (6L, "the spam spam spam spam spam spam spam spam spam spam",
        "https://a.site.com/6"),
      (7L, "the quick brown fox jumps over the lazy dog today", "https://a.site.com/7"),
      (8L, "the quick brown fox jumps over the lazy dog today", "https://b.site.com/8"),
      (9L, "the quick brown fox jumps over the lazy dog today extra", "https://a.site.com/9"),
      (10L, "the first capped domain doc reads fine", "https://x.otherdom.org/10"),
      (11L, "the second capped domain doc looks good", "https://x.otherdom.org/11"),
      (12L, "the third capped domain doc waits long", "https://y.otherdom.org/12"),
      // cross-batch near-dup CHAIN (the component-transitivity case): A
      // arrives in batch 1; B (J(A,B)=19/20) in batch 2 — dropped; C
      // (J(B,C)=20/22 ≥ 0.9 but J(A,C)=19/22 < 0.9) in batch 3 — the
      // full recompute connects A-B-C into one component and keeps only
      // A, so the stream must drop C via B's INDEXED-though-dropped
      // signature.
      (20L, ChainBase.mkString(" "), "https://a.chain.net/20"),
      (21L, (ChainBase :+ "x1").mkString(" "), "https://b.chain.net/21"),
      (22L, (ChainBase ++ Seq("x1", "y2", "z3")).mkString(" "), "https://c.chain.net/22"))
    val root = java.nio.file.Files.createTempDirectory("graft_rw_stream").toString
    val (inDir, sink, state, ckpt) = (s"$root/in", s"$root/sink", s"$root/state", s"$root/ckpt")
    def drop(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "url").coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val docs = spark.readStream.schema("doc_id LONG, text STRING, url STRING").parquet(inDir)
      val q = StreamingIngest.refinedWebViaSinkState(docs, sink, state, ckpt,
        blocked = Seq("foo.co.uk"), gopherTh = th, cap = 2).start()
      q.awaitTermination()
    }
    drop(all.filter(r => r._1 <= 7L || r._1 == 20L)); runOnce()
    // compact BOTH dedup state tables between batches (write-new-then-swap)
    // — the stream must not notice (the sig index is doc_id-keyed:
    // compactBy/rewriteCompactedBy's case).
    def compactDir(path: String, key: String): Unit = {
      val tmp = path + "_c"
      graft.dedup.IndexMaintenance.rewriteCompactedBy(spark, path, tmp, key, 2)
      val old = new java.io.File(path)
      org.apache.commons.io.FileUtils.deleteDirectory(old)
      assert(new java.io.File(tmp).renameTo(old))
    }
    compactDir(s"$state/content_index", "h")
    compactDir(s"$state/sig_index", "doc_id")
    drop(all.filter(r => (r._1 > 7L && r._1 <= 12L) || r._1 == 21L)); runOnce()
    drop(all.filter(_._1 == 22L)); runOnce()
    val streamed = spark.read.parquet(sink)
      .select("doc_id", "domain")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val full = graft.pipeline.RefinedWebPipeline(
        all.toDF("doc_id", "text", "url"),
        blocked = Seq("foo.co.uk"), gopherTh = th, cap = 2)
      .select("doc_id", "domain")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == full, s"streamed $streamed != full $full")
    // chain: only A (20) survives — C (22) dropped via B's
    // indexed-though-dropped signature, exactly like the one-shot CC
    assert(streamed.map(_._1) == Set(1L, 7L, 10L, 11L, 20L))
  }

  test("refinedWeb batch state is deterministic under at-least-once replay (r10)") {
    // The r9 form corrupted state on a re-fired batch: content_index
    // already held the batch's own hashes, so exact/novel recomputed
    // empty and caps/batch_id=N was overwritten with an EMPTY tally —
    // later batches then blew the per-domain cap. r10 discipline: both
    // dedup indexes carry batch_id and reads filter to batch_id <
    // batchId, so a replay recomputes the IDENTICAL kept set and
    // rewrites identical state. Pin: a run with a re-fired batch 0
    // equals a run without, in distinct sink rows AND caps tally.
    val th = graft.text.GopherRules.Thresholds(minWords = 5L, minStopHits = 1L)
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "https://a.site.com/1"),
      (2L, "the first capped domain doc reads fine", "https://x.otherdom.org/2"),
      (3L, "the second capped domain doc looks good", "https://y.otherdom.org/3"))
    val b1 = Seq(
      (8L, "the quick brown fox jumps over the lazy dog today", "https://b.site.com/8"),
      (9L, "the quick brown fox jumps over the lazy dog today extra", "https://a.site.com/9"),
      (10L, "the third capped domain doc waits long", "https://z.otherdom.org/10"))
    def run(replay: Boolean): (Set[Long], Map[String, Long]) = {
      val root = java.nio.file.Files.createTempDirectory("graft_rw_replay").toString
      val (sink, state) = (s"$root/sink", s"$root/state")
      def fire(rows: Seq[(Long, String, String)], id: Long): Unit =
        StreamingIngest.refinedWebBatch(rows.toDF("doc_id", "text", "url"), id,
          sink, state, Seq.empty, "en", th,
          graft.text.GopherRepetition.Thresholds(), 0.9, 2)
      fire(b0, 0L)
      if (replay) fire(b0, 0L) // the at-least-once re-fire
      fire(b1, 1L)
      val kept = spark.read.parquet(sink).select("doc_id")
        .distinct().as[Long].collect().toSet
      val tally = spark.read.parquet(s"$state/caps")
        .groupBy($"domain").agg(sum($"n_kept").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (kept, tally)
    }
    val (keptClean, tallyClean) = run(replay = false)
    val (keptReplay, tallyReplay) = run(replay = true)
    // batch 1: 8 exact-dups 1, 9 near-dups 1 (J = 9/10), 10 is the
    // third otherdom doc against cap 2 — all three must drop either way
    assert(keptClean == Set(1L, 2L, 3L), keptClean)
    assert(keptReplay == keptClean, s"replay changed the sink: $keptReplay")
    assert(tallyReplay == tallyClean, s"replay corrupted caps: $tallyReplay vs $tallyClean")
    assert(tallyReplay.values.forall(_ <= 2L), s"cap exceeded: $tallyReplay")
  }

  test("streaming domain caps: chained batches == one first-come pass; state bounded") {
    val root = java.nio.file.Files.createTempDirectory("graft_domcap").toString
    val (inDir, sink, state, ckpt) = (s"$root/in", s"$root/sink", s"$root/state", s"$root/ckpt")
    val all = (1L to 30L).map { i =>
      val host = if (i % 3 == 0) "a.site.com"
                 else if (i % 3 == 1) "b.site.com" else "other.org"
      (i, s"https://$host/p/$i")
    }
    def drop(rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "url").coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val docs = spark.readStream.schema("id LONG, url STRING").parquet(inDir)
      val q = StreamingIngest.domainCapsViaBatchState(docs, sink, state, ckpt,
        "url", 7, Seq(col("id").asc)).start()
      q.awaitTermination()
    }
    drop(all.filter(_._1 <= 15)); runOnce()
    drop(all.filter(_._1 > 15)); runOnce()
    val streamed = spark.read.parquet(sink).select("id").as[Long].collect().sorted.toSeq
    val oneShot = graft.pipeline.Curation
      .domainCaps(all.toDF("id", "url"), "url", 7, Seq(col("id").asc))
      .select("id").as[Long].collect().sorted.toSeq
    assert(streamed == oneShot, s"streamed $streamed != one-shot $oneShot")
    // tally over all batch partitions == kept counts, bounded by domains
    val tally = spark.read.parquet(state)
      .groupBy($"domain").agg(sum($"n_kept").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tally == Map("site.com" -> 7L, "other.org" -> 7L))
  }

  test("streaming recrawl state: merged batch stats == one batch pass; replay-safe (r10)") {
    val root = java.nio.file.Files.createTempDirectory("graft_recrawl").toString
    val (inDir, state, ckpt) = (s"$root/in", s"$root/state", s"$root/ckpt")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batch1 = Seq(
      ("a", ts("2024-01-01 00:00:00")), ("a", ts("2024-01-01 01:00:00")),
      ("b", ts("2024-01-01 02:00:00")))
    val batch2 = Seq(
      ("a", ts("2024-01-01 03:00:00")), ("a", ts("2024-01-01 09:00:00")),
      ("c", ts("2024-01-01 04:00:00")), ("c", ts("2024-01-01 04:30:00")))
    def drop(rows: Seq[(String, java.sql.Timestamp)]): Unit =
      rows.toDF("page", "ts").coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val obs = spark.readStream.schema("page STRING, ts TIMESTAMP").parquet(inDir)
      val q = StreamingIngest.recrawlViaBatchState(obs, state, ckpt, "page", "ts").start()
      q.awaitTermination()
    }
    drop(batch1); runOnce()
    drop(batch2); runOnce()
    val hot = 3 * 3600 * 1000L
    val warm = 6 * 3600 * 1000L
    val streamed = StreamingIngest.recrawlFromState(spark, state, hot, warm)
      .collect().toSeq
    val oneShot = graft.ingest.Frontier.recrawl(
      (batch1 ++ batch2).toDF("page", "ts"), "page", "ts", hot, warm)
      .collect().toSeq
    // the cross-batch merge is load-bearing: page a's interval (3 h from
    // 4 obs over 9 h -> hot/warm boundary work) only comes out right if
    // count/min/max merged across partitions
    assert(streamed == oneShot, s"streamed $streamed != one-shot $oneShot")
    assert(streamed.map(r => r.getString(0) -> r.getString(6)).toMap ==
      Map("a" -> "warm", "b" -> "unknown", "c" -> "hot"))
    // at-least-once replay: re-firing a batch rewrites IDENTICAL state
    // (the foreachBatch body is exactly this stats-overwrite)
    graft.ingest.Frontier.observationStats(batch2.toDF("page", "ts"), "page", "ts")
      .write.mode("overwrite").parquet(s"$state/batch_id=1")
    val replayed = StreamingIngest.recrawlFromState(spark, state, hot, warm)
      .collect().toSeq
    assert(replayed == streamed)
  }

  test("mid-stream index compaction is transparent (paragraph, window, exact schemas)") {
    // IndexMaintenanceSpec proves compaction correct OFFLINE; this pins
    // that it is safe MID-STREAM: compact the persisted index between
    // micro-batches (write-new-then-swap, the rewriteCompacted contract)
    // and the finished stream must equal the never-compacted full
    // recompute — for each compactable index schema.
    import graft.dedup.IndexMaintenance
    def compactDir(path: String): Unit = {
      val tmp = path + "_compacted"
      IndexMaintenance.rewriteCompacted(spark, path, tmp, numFiles = 2)
      val old = new java.io.File(path)
      org.apache.commons.io.FileUtils.deleteDirectory(old)
      assert(new java.io.File(tmp).renameTo(old), s"swap failed for $path")
    }

    // -- paragraph norm index (h, keeper_doc_id, keeper_idx) --
    locally {
      val root = java.nio.file.Files.createTempDirectory("graft_mc_para").toString
      val (inDir, sink, idx, ckpt) = (s"$root/in", s"$root/sink", s"$root/idx", s"$root/ckpt")
      def runOnce(): Unit = {
        val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(inDir)
        val q = StreamingIngest.paragraphDedupViaSinkIndex(docs, sink, idx, ckpt).start()
        q.awaitTermination()
      }
      val boiler = "subscribe to our newsletter for updates"
      val b1 = Seq((1L, s"alpha beta gamma\n\n$boiler"),
        (2L, "unique first paragraph\n\nanother unique one"))
      val b2 = Seq((3L, s"fresh content here\n\n$boiler"), (4L, boiler))
      b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
      runOnce()
      compactDir(idx)
      b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
      runOnce()
      val out = spark.read.parquet(sink).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      val full = graft.dedup.ParagraphDedup
        .dedupParagraphs((b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      assert(out == full, s"compacted-mid-stream $out != batch $full")
    }

    // -- window index (h, keeper_doc_id, keeper_start) --
    locally {
      val root = java.nio.file.Files.createTempDirectory("graft_mc_sub").toString
      val (inDir, sink, idx, ckpt) = (s"$root/in", s"$root/sink", s"$root/idx", s"$root/ckpt")
      def runOnce(): Unit = {
        val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(inDir)
        val q = StreamingIngest.substringDedupViaSinkIndex(docs, sink, idx, ckpt,
          width = 8, stride = 3).start()
        q.awaitTermination()
      }
      val passage = "the quick brown fox jumps over seven lazy"
      val b1 = Seq((1L, s"$passage alpha beta gamma delta"),
        (2L, "completely unrelated words fill this other document nicely"))
      val b2 = Seq((3L, s"x1 x2 x3 $passage tail words here"))
      b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
      runOnce()
      compactDir(idx)
      b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
      runOnce()
      val out = spark.read.parquet(sink)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
      val full = graft.dedup.SubstringDedup
        .cleaned((b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", 8, 3)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
      assert(out == full, s"compacted-mid-stream $out != batch $full")
    }

    // -- exact content index (h, keeper_id) + window index, preset scope --
    locally {
      val th = graft.text.GopherRules.Thresholds(minWords = 20L, minStopHits = 1L)
      val root = java.nio.file.Files.createTempDirectory("graft_mc_fw").toString
      val (inDir, sink, state, ckpt) = (s"$root/in", s"$root/sink", s"$root/state", s"$root/ckpt")
      val all = graft.FineWebFixture.docs
      val bench = graft.pipeline.FineWebPipeline.benchSlice(all.toDF("doc_id", "text"))
        .localCheckpoint(true)
      def runOnce(): Unit = {
        val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(inDir)
        val q = StreamingIngest.fineWebViaSinkIndex(docs, bench, sink, state, ckpt,
          gopherTh = th).start()
        q.awaitTermination()
      }
      all.filter(_._1 <= 11L).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(inDir)
      runOnce()
      compactDir(s"$state/content_index") // exact (h, keeper_id) schema
      compactDir(s"$state/window_index")  // (dsir_counts is additive — not an h-index)
      all.filter(_._1 > 11L).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(inDir)
      runOnce()
      val fullStages = graft.pipeline.FineWebPipeline
        .stages(all.toDF("doc_id", "text"), gopherTh = th)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows(spark.read.parquet(sink)) == rows(fullStages.clean),
        "mid-stream-compacted FineWeb sink != full recompute clean rows")
    }
  }

  test("streaming FineWeb preset: two micro-batches + release-time select == full recompute") {
    // The incremental preset under foreachBatch — the sink-index
    // discipline at PRESET scope: state (window index, content index,
    // DSIR counts) lives beside the sink, bench is the fixed eval set.
    // The sink accumulates the CLEANED rows (stages 1-6, append-only
    // equivalent across batches); DSIR selection needs whole-corpus
    // counts, so it runs once at release time over sink + final counts
    // — the composition must equal one full FineWebPipeline recompute.
    // The batch split puts exact-twin 13 one batch AFTER its keeper 11
    // (content-index probe) and contaminated 12 after bench doc 20
    // entered the fixed bench (stable per-row decontamination).
    val th = graft.text.GopherRules.Thresholds(minWords = 20L, minStopHits = 1L)
    val root = java.nio.file.Files.createTempDirectory("graft_fineweb_stream").toString
    val (inDir, sink, state, ckpt) = (s"$root/in", s"$root/sink", s"$root/state", s"$root/ckpt")
    val all = graft.FineWebFixture.docs
    val bench = graft.pipeline.FineWebPipeline.benchSlice(all.toDF("doc_id", "text"))
      .localCheckpoint(true)
    def drop(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(inDir)
      val q = StreamingIngest.fineWebViaSinkIndex(docs, bench, sink, state, ckpt,
        gopherTh = th).start()
      q.awaitTermination()
    }
    drop(all.filter(_._1 <= 11L)); runOnce()
    drop(all.filter(_._1 > 11L)); runOnce()
    val fullStages = graft.pipeline.FineWebPipeline
      .stages(all.toDF("doc_id", "text"), gopherTh = th)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // stages 1-6: the sink holds exactly the full recompute's clean rows
    val sinkDf = spark.read.parquet(sink)
    assert(rows(sinkDf) == rows(fullStages.clean),
      "streamed clean rows != full recompute clean rows")
    // release-time stage 7 over sink + final merged counts
    val finalCounts = spark.read.parquet(s"$state/dsir_counts")
      .groupBy($"f").agg(sum($"ct").as("ct"), sum($"cr").as("cr"))
    val selected = graft.pipeline.FineWebPipeline.dsirSelect(sinkDf, finalCounts)
    assert(rows(selected) == rows(fullStages.sampled),
      "release-time selection != full recompute selection")
    // state stays payload-free: the content index is one 32-hex row per
    // distinct post-floor text — twin 13 added nothing.
    val cnt = spark.read.parquet(s"$state/content_index")
    assert(cnt.columns.toSeq == Seq("h", "keeper_id"))
    assert(cnt.count() == cnt.dropDuplicates("h").count())
  }

  test("streaming CCNet preset: two micro-batches + release-time tiers == full recompute") {
    // Per-batch stages: incremental paragraph dedup via the norm index
    // + language gate; stage 3 (self-fit perplexity tiers) runs once at
    // release time over the sink — the dsirSelect boundary at CCNet
    // scope. Split after doc 2: the License/Nav first occurrences live
    // in batch 1 (doc 1), so batch 2's copies (doc 3's Nav, doc 4's
    // License+Nav) must dedup via the INDEX, not in-batch — and doc 4
    // must vanish entirely against index-only history.
    val root = java.nio.file.Files.createTempDirectory("graft_ccnet_stream").toString
    val (inDir, sink, idx, ckpt) = (s"$root/in", s"$root/sink", s"$root/idx", s"$root/ckpt")
    val all = graft.CcNetFixture.docs
    def drop(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(inDir)
      val q = StreamingIngest.ccNetViaSinkIndex(docs, sink, idx, ckpt).start()
      q.awaitTermination()
    }
    drop(all.filter(_._1 <= 2L)); runOnce()
    drop(all.filter(_._1 > 2L)); runOnce()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val released = graft.text.LmScore
      .perplexityBucketsScalable(spark.read.parquet(sink), "doc_id", "text")
      .filter($"tier" =!= "tail")
    val full = graft.pipeline.CcNetPipeline(all.toDF("doc_id", "text"))
    assert(rows(released) == rows(full),
      "streamed clean + release-time tiers != full CCNet recompute")
    // doc 4 (all boilerplate, arriving batch 2 against batch-1 index
    // entries) must not be in the sink at all.
    val sunk = spark.read.parquet(sink).select("doc_id").as[Long].collect().toSet
    assert(!sunk.contains(4L) && !sunk.contains(5L) && !sunk.contains(6L))
  }

  test("streaming CMS sketch: merged batch parts == one batch sketch; replay idempotent") {
    import org.apache.spark.sql.functions.{col, lower}
    val root = java.nio.file.Files.createTempDirectory("graft_cms_stream").toString
    val (inDir, skDir, ckpt) = (s"$root/in", s"$root/sk", s"$root/ckpt")
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    def drop(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    def sketchOf(df: org.apache.spark.sql.DataFrame) =
      graft.relational.CountMin.sketchTokens(df,
        graft.text.TextAnalysis.tokens(lower(col("text"))))
    def runOnce(): Unit = {
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(inDir)
      val q = StreamingIngest.sketchViaBatchParts(docs, sketchOf, skDir, ckpt).start()
      q.awaitTermination()
    }
    drop(all.filter(_._1 < 250L)); runOnce()
    drop(all.filter(_._1 >= 250L)); runOnce()
    val merged = graft.relational.CountMin.merge(
      spark.read.parquet(skDir).select($"r", $"c", $"cnt"))
    val whole = sketchOf(all.toDF("doc_id", "text"))
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "merged streamed sketch != one-shot batch sketch")
    // structural idempotence: re-writing a batch partition (the
    // at-least-once replay) leaves the merged sketch unchanged
    sketchOf(all.filter(_._1 < 250L).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$skDir/batch_id=0")
    val replayed = graft.relational.CountMin.merge(
      spark.read.parquet(skDir).select($"r", $"c", $"cnt"))
    assert(replayed.exceptAll(whole).isEmpty && whole.exceptAll(replayed).isEmpty,
      "replayed batch partition changed the merged sketch")
  }

  test("streaming link graph: merged batch edges == one-shot; replay invariant (r10)") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_lg_stream").toString
    val (inDir, egDir, ckpt) = (s"$root/in", s"$root/edges", s"$root/ckpt")
    // pages on two example.com hosts linking across to openweb.org /
    // data.net and internally (self-loops at domain granularity)
    val all = (0L until 40L).map { i =>
      val host = if (i % 2 == 0) "a.example.com" else "b.example.com"
      val target = if (i % 3 == 0) "mirror.openweb.org" else "docs.data.net"
      (i, s"https://$host/p/$i",
        s"""<a href="https://$target/x/$i">out</a><a href="/self">in</a>""")
    }
    def drop(rs: Seq[(Long, String, String)]): Unit =
      rs.toDF("doc_id", "url", "html").coalesce(1)
        .write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val docs = spark.readStream
        .schema("doc_id LONG, url STRING, html STRING").parquet(inDir)
      val q = StreamingIngest.linkGraphViaBatchParts(docs, egDir, ckpt).start()
      q.awaitTermination()
    }
    drop(all.filter(_._1 < 20L)); runOnce()
    drop(all.filter(_._1 >= 20L)); runOnce()
    val cols = Seq("src_domain", "dst_domain", "n_links").map(col)
    val merged = graft.ingest.Links.mergeEdges(
      spark.read.parquet(egDir).select(cols: _*))
    val oneShot = graft.ingest.Links.hostGraph(all.toDF("doc_id", "url", "html"))
    assert(merged.exceptAll(oneShot).isEmpty && oneShot.exceptAll(merged).isEmpty,
      "merged streamed edges != one-shot host graph")
    // both batches contributed to the same edge keys (additivity is load-
    // bearing, not vacuous): the one-shot counts exceed any single part's
    val part0 = spark.read.parquet(s"$egDir/batch_id=0").select(cols: _*)
    assert(merged.count() == part0.count() &&
      merged.agg(org.apache.spark.sql.functions.sum("n_links")).head.getLong(0) >
      part0.agg(org.apache.spark.sql.functions.sum("n_links")).head.getLong(0))
    // at-least-once replay: rewriting batch 0's partition changes nothing
    graft.ingest.Links.hostGraph(
        all.filter(_._1 < 20L).toDF("doc_id", "url", "html"))
      .write.mode("overwrite").parquet(s"$egDir/batch_id=0")
    spark.catalog.refreshByPath(egDir)
    val replayed = graft.ingest.Links.mergeEdges(
      spark.read.parquet(egDir).select(cols: _*))
    assert(replayed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(replayed).isEmpty,
      "replayed batch partition changed the merged graph")
  }

  test("streaming sidecar: union of batch parts == one-shot; policy equal") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_sc_stream").toString
    val (inDir, scDir, ckpt) = (s"$root/in", s"$root/sc", s"$root/ckpt")
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val rows = all.as[(Long, String)].collect().toSeq
    def drop(rs: Seq[(Long, String)]): Unit =
      rs.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(inDir)
      val q = StreamingIngest.sidecarViaBatchParts(docs, scDir, ckpt).start()
      q.awaitTermination()
    }
    drop(rows.filter(_._1 < 250L)); runOnce()
    drop(rows.filter(_._1 >= 250L)); runOnce()
    val cols = Seq("doc_id", "n_tokens", "n_chars", "lang_pred", "quality",
      "dominant_script", "bad_hits", "gopher_pass").map(col)
    val streamed = spark.read.parquet(scDir).select(cols: _*)
    val oneShot = graft.pipeline.Attributes.sidecar(all).select(cols: _*)
    assert(streamed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamed).isEmpty,
      "streamed sidecar union != one-shot sidecar")
    // a release policy over the streamed sidecar == over the one-shot
    val policy = col("bad_hits") === 0 && col("quality") >= 0.5
    val a = graft.pipeline.Attributes.applyPolicy(all, streamed, policy)
      .select($"doc_id").as[Long].collect().toSet
    val b = graft.pipeline.Attributes.applyPolicy(all, oneShot, policy)
      .select($"doc_id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty && a.size < rows.size)
    // at-least-once replay: rewriting batch 0's partition changes nothing
    // (fresh read afterwards — the pre-replay frames' file lists are stale)
    graft.pipeline.Attributes.sidecar(
        rows.filter(_._1 < 250L).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$scDir/batch_id=0")
    spark.catalog.refreshByPath(scDir)
    val replayed = spark.read.parquet(scDir).select(cols: _*)
    assert(replayed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(replayed).isEmpty,
      "replayed batch partition changed the sidecar")
  }

  test("JSONL parses identically as a stream (stateless scan-stage reader) (r10)") {
    // The exchange-format reader composes with readStream.text unchanged
    // — parsing is a pure per-row projection, so the streamed sink must
    // equal the batch parse byte-for-byte.
    val root = java.nio.file.Files.createTempDirectory("graft_jsonl_stream").toString
    val (inDir, outDir, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"lang", $"text")
    graft.sources.Jsonl.render(docs).coalesce(1)
      .write.mode("overwrite").text(inDir)
    val q = graft.sources.Jsonl.parse(
        spark.readStream.text(inDir).withColumnRenamed("value", "line"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(outDir)
    val batch = graft.sources.Jsonl.parse(
      graft.sources.Jsonl.render(docs).withColumnRenamed("line", "line"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed JSONL parse != batch parse")
    assert(streamed.count() == docs.count())
  }

  test("streaming gate histograms: merged parts == direct; release thresholds == one-shot (r10)") {
    val root = java.nio.file.Files.createTempDirectory("graft_gate_stream").toString
    val (inDir, hDir, ckpt) = (s"$root/in", s"$root/hist", s"$root/ckpt")
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"lang", $"text")
    val rows = all.as[(Long, String, String)].collect().toSeq
    def drop(rs: Seq[(Long, String, String)]): Unit =
      rs.toDF("doc_id", "lang", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val docs = spark.readStream
        .schema("doc_id LONG, lang STRING, text STRING").parquet(inDir)
      val q = StreamingIngest.gateHistogramViaBatchParts(docs, hDir, ckpt).start()
      q.awaitTermination()
    }
    drop(rows.filter(_._1 < 25L)); runOnce()
    drop(rows.filter(_._1 >= 25L)); runOnce()
    val merged = graft.pipeline.Curation.mergeValueCounts(
      spark.read.parquet(hDir).select($"grp", $"__v", $"__c"))
    val direct = graft.pipeline.Curation.lengthHistogram(all)
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty,
      "merged streamed histograms != direct histogram")
    // release-time thresholds from state == a one-shot fit
    val fromState = graft.pipeline.Curation
      .percentileThresholdsFromCounts(merged, "grp", 3000)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShot = graft.pipeline.Curation
      .percentileThresholdsFromCounts(direct, "grp", 3000)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromState == oneShot && fromState.nonEmpty)
  }

  test("streaming compliance flags: union of batch parts == one-shot; replay invariant (r10)") {
    import org.apache.spark.sql.functions.{col, md5}
    val root = java.nio.file.Files.createTempDirectory("graft_cp_stream").toString
    val (inDir, flDir, ckpt) = (s"$root/in", s"$root/flags", s"$root/ckpt")
    // the ComplianceSpec fixture, streamed in two batches
    val rows = Seq(
      (1L, "https://ok.example.org/a", "alpha text"),
      (2L, "https://ok.example.org/b", "taken down text"),
      (3L, "https://bad.example.com/c", "beta text"),
      (4L, "https://rules.example.org/private/x", "gamma text"),
      (5L, "https://bad.example.com/d", "taken down text"),
      (6L, "not-a-url", "delta text"))
    val all = rows.toDF("doc_id", "url", "text")
    val takedowns = all.filter($"doc_id" === 2L).select(md5($"text").as("h"))
    val blocked = Seq("example.com").toDF("domain")
    val rules = Seq(("rules.example.org", "disallow", "/private"))
      .toDF("host", "rule", "prefix")
    def drop(rs: Seq[(Long, String, String)]): Unit =
      rs.toDF("doc_id", "url", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val docs = spark.readStream
        .schema("doc_id LONG, url STRING, text STRING").parquet(inDir)
      val q = StreamingIngest.complianceViaBatchParts(
        docs, flDir, ckpt, takedowns, blocked, rules).start()
      q.awaitTermination()
    }
    drop(rows.filter(_._1 <= 3L)); runOnce()
    drop(rows.filter(_._1 > 3L)); runOnce()
    val cols = Seq("doc_id", "f_takedown", "f_blocklist", "f_robots").map(col)
    val streamed = spark.read.parquet(flDir).select(cols: _*)
    val oneShot = graft.pipeline.Compliance.flags(all, "doc_id", "url", "text",
      takedowns, blocked, rules).select(cols: _*)
    assert(streamed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamed).isEmpty,
      "streamed compliance flags != one-shot flags")
    // a sweep over the streamed flags == the one-shot sweep
    val kept = streamed
      .filter(col("f_takedown") && col("f_blocklist") && col("f_robots"))
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 6L))
    // at-least-once replay: rewriting batch 0's partition changes nothing
    graft.pipeline.Compliance.flags(
        rows.filter(_._1 <= 3L).toDF("doc_id", "url", "text"),
        "doc_id", "url", "text", takedowns, blocked, rules)
      .select(cols: _*)
      .write.mode("overwrite").parquet(s"$flDir/batch_id=0")
    spark.catalog.refreshByPath(flDir)
    val replayed = spark.read.parquet(flDir).select(cols: _*)
    assert(replayed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(replayed).isEmpty,
      "replayed batch partition changed the flags")
  }

  test("streaming manifest: released from merged batch parts == one-shot") {
    // The incremental release manifest's streaming face: both state
    // tables (additive counts, mergeable HLL content sketch) maintain
    // per-batch partials through the same overwrite-per-batch-partition
    // discipline as the CMS sketch — release from merged parts must
    // equal the one-shot manifest over the union.
    val root = java.nio.file.Files.createTempDirectory("graft_manifest_stream").toString
    val (inDir, cDir, sDir) = (s"$root/in", s"$root/counts", s"$root/sketch")
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"lang", $"text")
    val rows = all.as[(Long, String, String, String)].collect().toSeq
    def drop(rs: Seq[(Long, String, String, String)]): Unit =
      rs.toDF("doc_id", "source", "lang", "text")
        .coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(stateDir: String, ckpt: String,
                f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val docs = spark.readStream
        .schema("doc_id LONG, source STRING, lang STRING, text STRING")
        .parquet(inDir)
      val q = StreamingIngest.sketchViaBatchParts(docs, f, stateDir, ckpt).start()
      q.awaitTermination()
    }
    def runBoth(): Unit = {
      runOnce(cDir, s"$root/ck_c", graft.pipeline.Curation.manifestCounts(_))
      runOnce(sDir, s"$root/ck_s", graft.pipeline.Curation.manifestSketch(_))
    }
    drop(rows.filter(_._1 < 250L)); runBoth()
    drop(rows.filter(_._1 >= 250L)); runBoth()
    val counts = graft.pipeline.Curation.mergeManifestCounts(
      spark.read.parquet(cDir).select($"source", $"lang", $"n_docs", $"sum_tokens"))
    val sketch = graft.relational.Hll.merge(
      spark.read.parquet(sDir).select($"source", $"lang", $"bucket", $"mj"))
    def rel(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val released = rel(graft.pipeline.Curation.releaseManifestSketch(counts, sketch))
    val oneShot = rel(graft.pipeline.Curation.releaseManifestSketch(all))
    assert(released == oneShot,
      "streamed manifest state released != one-shot manifest")
  }

  test("watermark would CHANGE semantics: late rows drop in append mode (ST3)") {
    // Parity keeps windows unwatermarked (complete/update mode) because the
    // reference accepts arbitrarily late publish dates. This pins the
    // divergence a watermark would introduce: a row later than the
    // watermark is EXCLUDED from its (already emitted) window.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Double)]
    val agg = in.toDF().toDF("raw_ts", "event_type", "value")
      .select(to_timestamp($"raw_ts").as("ts"), $"event_type", $"value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("ws"), $"n")
    val q = agg.writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      in.addData(("2024-01-01 00:10:00", "click", 1.0))
      q.processAllAvailable()
      // advance watermark beyond 01:10 → the 00:00 window finalizes
      in.addData(("2024-01-01 02:00:00", "click", 1.0))
      q.processAllAvailable()
      // this late row belongs to the finalized 00:00 window → dropped
      in.addData(("2024-01-01 00:20:00", "late", 1.0))
      q.processAllAvailable()
      in.addData(("2024-01-01 04:00:00", "click", 1.0))
      q.processAllAvailable()
      val w0 = spark.table("wm_out")
        .filter($"ws" === java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
        .select("n").as[Long].collect()
      assert(w0.toSeq == Seq(1L)) // late row NOT counted — unlike batch recompute
    } finally q.stop()
  }

  test("funnel: strictly ordered steps, first-touch times, drop-off counts") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1 completes the whole funnel in order
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 11:00:00"), 1L, "click"),
      (3L, ts("2024-01-01 12:00:00"), 1L, "purchase"),
      // u2 clicks BEFORE viewing: the click must not count, nor the
      // purchase that follows only the out-of-order click
      (4L, ts("2024-01-02 09:00:00"), 2L, "click"),
      (5L, ts("2024-01-02 10:00:00"), 2L, "view"),
      (6L, ts("2024-01-02 10:30:00"), 2L, "purchase"),
      // u3 views only
      (7L, ts("2024-01-03 10:00:00"), 3L, "view"),
      // u2 clicks again after the view -> click counts, purchase doesn't
      // (its only purchase predates the qualifying click)
      (8L, ts("2024-01-02 11:00:00"), 2L, "click")
    ).map { case (id, t, u, k) => (id, t, u, k, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventWindows.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, "view", 3L), (2, "click", 2L), (3, "purchase", 1L)))
  }

  test("dailyTypePivot: explicit columns, zero-filled, matches long counts") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 11:00:00"), 1L, "view"),
      (3L, ts("2024-01-01 12:00:00"), 2L, "click"),
      (4L, ts("2024-01-02 12:00:00"), 2L, "purchase")
    ).map { case (id, t, u, k) => (id, t, u, k, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventWindows.dailyTypePivot(ev, Seq("view", "click", "purchase"))
    assert(out.columns.toSeq == Seq("day", "view", "click", "purchase"))
    val rows = out.collect().map(r =>
      (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      ("2024-01-01", 2L, 1L, 0L), ("2024-01-02", 0L, 0L, 1L)))
  }

  test("retentionCohorts: first-seen day anchors the offsets") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L), // u1 cohort Jan 1
      (2L, ts("2024-01-03 10:00:00"), 1L), // u1 back on day +2
      (3L, ts("2024-01-01 23:00:00"), 2L), // u2 cohort Jan 1
      (4L, ts("2024-01-03 01:00:00"), 2L), // u2 also day +2
      (5L, ts("2024-01-02 09:00:00"), 3L)  // u3 cohort Jan 2, never returns
    ).map { case (id, t, u) => (id, t, u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventWindows.retentionCohorts(ev)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 2L, 2L), ("2024-01-02", 0L, 1L)))
  }

  test("valueOutliers: median/MAD flags the planted outlier, resists it too") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ev = Seq(1.0, 2.0, 3.0, 4.0, 100.0).zipWithIndex.map { case (v, i) =>
      (i.toLong, ts, i.toLong, "click", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventWindows.valueOutliers(ev).head()
    // median 3, |dev| = [2,1,0,1,97] -> MAD 1; only 100.0 exceeds 3*MAD.
    // The 100.0 outlier does NOT drag the thresholds (robustness): a
    // mean/stddev gate over the same data (mean=22, sd~43.5) flags nothing.
    assert(r.getString(0) == "click" && r.getLong(1) == 5L)
    assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 1.0)
    assert(r.getLong(4) == 1L)
  }

  test("approx distinct stays within rsd bounds of exact (A8)") {
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val rows = EventWindows.distinctUsers(events).collect()
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.15,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("streaming exact pairs: union of batch partitions == full join; replay identical (r10)") {
    // Three batches with dup pairs inside a batch, across adjacent
    // batches, and across batch 0 → batch 2 (frozen-order unseen tokens
    // in between). The union of pairs partitions must equal ONE
    // SetSimJoin.jaccardJoin over everything, and re-firing batch 1
    // must leave all state and output byte-identical.
    val b0 = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally different words here"))
    val b1 = Seq((10L, "brandnew unseen tokens arrive"),
      (11L, "alpha beta gamma delta"))
    val b2 = Seq((20L, "brandnew unseen tokens arrive"),
      (21L, "alpha beta gamma epsilon delta"))
    val all = b0 ++ b1 ++ b2
    def run(replay: Boolean): Set[(Long, Long, Double)] = {
      val root = java.nio.file.Files.createTempDirectory("graft_setsim").toString
      def fire(rows: Seq[(Long, String)], id: Long): Unit =
        StreamingIngest.setSimBatch(rows.toDF("doc_id", "text"), id,
          root, "doc_id", "text", 0.8)
      fire(b0, 0L); fire(b1, 1L)
      if (replay) fire(b1, 1L) // at-least-once re-fire
      fire(b2, 2L)
      spark.read.parquet(s"$root/pairs")
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    }
    val full = graft.dedup.SetSimJoin
      .jaccardJoin(all.toDF("doc_id", "text"), "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect().toSet
    // cross-batch 0→1 (2,11), 0→2 via new tokens (10,20), within-batch
    // (1,2), and the near pair (21 vs the alpha family at 4/5)
    assert(full.contains((1L, 2L, 1.0)) && full.contains((10L, 20L, 1.0)))
    assert(full.exists { case (a, b, j) => b == 21L && j == 0.8 })
    val clean = run(replay = false)
    assert(clean == full, s"streamed pairs diverge: $clean vs $full")
    assert(run(replay = true) == full, "replay changed the pair set")
  }
}
