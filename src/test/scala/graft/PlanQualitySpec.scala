package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan contracts the 100 TB design depends on: column pruning
  * into the parquet scan, predicate pushdown, broadcast of dimension
  * sides, and heap top-k instead of global sorts. A regression here can
  * pass every value check and still be catastrophic at scale. */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("source_distribution scan prunes to the one needed column") {
    val plan = planOf(SparkEntry.queries("source_distribution")(spark, dir))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("source"), readSchema)
    assert(!readSchema.contains("text"), s"text column not pruned: $readSchema")
  }

  test("filters reach the parquet scan as pushed filters") {
    val q = Tables.documents(spark, dir)
      .filter(col("lang") === "en" && col("n_chars") > 100)
      .select(col("doc_id"))
    val plan = planOf(q)
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("IsNotNull(lang)") || plan.contains("EqualTo(lang,en)"), plan)
  }

  test("dimension joins broadcast; the fact side never does") {
    val plan = planOf(SparkEntry.queries("revenue_per_region")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // orders is the streamed fact: it must not appear under a
    // BroadcastExchange subtree. Cheap proxy: exactly the two dim tables
    // and customer (small vs orders) may broadcast, never orders.
    val broadcastIdx = plan.linesIterator.zipWithIndex
      .filter(_._1.contains("BroadcastExchange")).map(_._2).toSeq
    assert(broadcastIdx.nonEmpty)
    assert(!plan.contains("BroadcastExchange (orders"), plan)
  }

  test("top-k by recency is TakeOrderedAndProject, not a global sort") {
    val plan = planOf(SparkEntry.queries("recent_events")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("weighted reservoir races with a partial top-k, not a global sort (F128)") {
    // The distributed-reservoir claim IS this plan shape: each partition
    // keeps its k best exponential clocks, the driver merges k-sized
    // heaps. A global sort here would shuffle the whole corpus.
    val plan = planOf(SparkEntry.queries("weighted_reservoir")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("whole-stage codegen covers the dedup verify pipeline") {
    // AQE finalizes (and codegen-wraps) stages only on execution, so run
    // the query and inspect the executed plan.
    val df = SparkEntry.queries("jaccard_pairs")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd operators print with a `*(stageId)` prefix; the join and
    // the tokenize projection must be inside a codegen stage (sort_array,
    // not array_sort — a lambda comparator would evict the whole stage).
    assert(plan.contains("*(") && plan.contains("*(2) BroadcastHashJoin")
      || plan.contains("*(1) BroadcastHashJoin"), plan)
  }

  test("cheap size-prune precedes the jaccard walk in the join condition") {
    // Catalyst pushes the jaccard filter into the join; the library keeps
    // it LAST in the conjunction so the O(|A|+|B|) merge walk only runs on
    // size-plausible pairs. A regression reorders it first.
    val plan = planOf(SparkEntry.queries("jaccard_pairs")(spark, dir))
    val joinLine = plan.linesIterator.find(l =>
      l.contains("least") && l.contains("graft_sorted_intersect_size")).getOrElse(plan)
    assert(joinLine.indexOf("least") < joinLine.indexOf("graft_sorted_intersect_size"),
      joinLine)
  }

  test("aggregates are partial+final (map-side combine present)") {
    val plan = planOf(SparkEntry.queries("events_hourly")(spark, dir))
    val hashAggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$plan")
  }

  test("minhash candidates come from the per-bucket generator, not a self-join") {
    // Candidate pairs are generated by the Catalyst Generator over
    // collected (band, bucket) groups (first-match-band dedup in plain
    // JVM code over InternalRows — r16 replaced the typed flatMap and
    // its per-group encoder round-trip, measured ~10× on the stage) —
    // the plan must show the Generate node and neither a band-bucket
    // self-join's 10⁸ match iterations nor a global pair dropDuplicates
    // exchange.
    val plan = planOf(SparkEntry.queries("dedup_near_minhash")(spark, dir))
    assert(plan.contains("graft_minhash_pairs"), plan)
    assert(!plan.contains("SerializeFromObject"),
      s"the encoder round-trip is back on the candidate path:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("minhash banding runs the native one-pass expression inside codegen") {
    // The signature+bucket fold must stay the single MinHashBandBuckets
    // expression (one pass per row) — a regression to the interpreted
    // aggregate/zip_with HOF form would show ArrayAggregate/zip_with in
    // the banding projection and lose whole-stage codegen there.
    val df = SparkEntry.queries("dedup_near_minhash")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_minhash_band_buckets"), plan)
    val bandingLine = plan.linesIterator
      .find(_.contains("graft_minhash_band_buckets")).get
    assert(!bandingLine.contains("aggregate(") && !bandingLine.contains("zip_with"),
      bandingLine)
  }

  test("asof and range joins never plan a nested loop") {
    for (q <- Seq("events_asof_join", "events_in_sessions")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("IVF assigns lists with the argmin expression, no crossJoin+window") {
    val plan = planOf(SparkEntry.queries("knn_ivf")(spark, dir))
    assert(plan.contains("graft_nearest_centroids"), plan)
    assert(!plan.contains("CartesianProduct"), s"nlist-times row blow-up is back:\n$plan")
    // exactly one Window (the per-probe rank), not one per centroid table
    assert(plan.linesIterator.count(_.startsWith("Window")) <= 1
      || plan.linesIterator.count(_.contains(") Window")) <= 1, plan)
  }

  test("bloom decontamination probes at the scan, before any join") {
    // The Bloom pass must be a Filter(might_contain) on the corpus-shingle
    // side BELOW the exact-verify join — pruning before the join is the
    // entire point. A regression that reorders it above the join (or loses
    // it) keeps values identical (the exact join re-verifies) but re-grows
    // the join input to the full corpus shingle stream.
    val df = SparkEntry.queries("decontaminate_bloom")(spark, dir)
    df.collect()
    // executedPlan.toString prints children BELOW their parent: the
    // Filter(might_contain) must appear after (= beneath) the first join.
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val lines = plan.linesIterator.toSeq
    val probeIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("might_contain"))
    val joinIdx = lines.indexWhere(_.contains("HashJoin"))
    assert(probeIdx >= 0, plan)
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe not beneath the verify join:\n$plan")
  }

  test("jaccard block join broadcasts the build side (no key-skewed SMJ)") {
    val plan = planOf(SparkEntry.queries("jaccard_pairs")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"block-key SMJ collapses parallelism:\n$plan")
  }

  test("bm25 never explodes the token stream; corpus stats broadcast back") {
    val plan = planOf(SparkEntry.queries("bm25_topk")(spark, dir))
    // tf's are per-row filter() expressions: no Generate (explode) node
    // may appear — the naive formulation re-keys the whole corpus.
    assert(!plan.contains("Generate"), s"token stream exploded:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"single stats row should broadcast:\n$plan")
  }

  test("interval join plans on the key with a band filter, never a nested loop") {
    val plan = planOf(SparkEntry.queries("events_interval_join")(spark, dir))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
  }

  test("decontamination family scans prune to id + text only") {
    val plan = planOf(SparkEntry.queries("contamination_scores")(spark, dir))
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(s => !s.contains("source") && !s.contains("lang")),
      s"unneeded columns read:\n${readSchemas.mkString("\n")}")
  }

  test("rule gates are shuffle-free projections (Gopher/C4)") {
    // Both operators must be scan -> project(-> filter) -> output sort:
    // no join, no aggregate, no Generate. The only Exchange allowed is
    // the final sort's range partitioning.
    for (name <- Seq("gopher_rules", "c4_filters")) {
      val plan = planOf(SparkEntry.queries(name)(spark, dir))
      assert(!plan.contains("Join"), s"$name joins:\n$plan")
      assert(!plan.contains("Generate"), s"$name explodes:\n$plan")
      assert(!plan.contains("HashAggregate"), s"$name aggregates:\n$plan")
      val exchanges = plan.linesIterator.count(_.trim.startsWith("Exchange"))
      assert(exchanges <= 1, s"$name extra shuffles:\n$plan")
    }
  }

  test("repetition signals shuffle no data by key (per-row folds only)") {
    // scan -> widen(round-robin) -> project -> output sort: the n-gram
    // statistics are per-row sort+fold expressions, so no join, no
    // aggregate, no Generate, and never an Exchange hashpartitioning —
    // the relational formulation lives only in the DuckDB oracle.
    val plan = planOf(SparkEntry.queries("gopher_repetition")(spark, dir))
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Generate"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(!plan.contains("hashpartitioning"), plan)
  }

  test("substring-dedup marking exchange ships ids and hashes, never window text") {
    // The dedup path (withText = false) projects norm away into md5(norm)
    // BEFORE the h-keyed window exchange, so the stride-factor window
    // fan-out never multiplies text bytes through a shuffle. Holds for
    // both start rules.
    for (anchored <- Seq(false, true)) {
      val wins = graft.dedup.SubstringDedup.windows(
        Tables.documents(spark, dir), "doc_id", "text", 20, 5,
        anchored = anchored)
      val plan = planOf(graft.dedup.SubstringDedup.removedIntervals(wins, 20))
      assert(plan.contains("hashpartitioning(h"),
        s"anchored=$anchored: expected the h-keyed marking exchange:\n$plan")
      assert(!plan.contains("norm"),
        s"anchored=$anchored: window text survived into the physical plan")
    }
  }

  test("exact set-similarity join: equi-joins only, pair exchange ships ids (r10)") {
    val plan = planOf(SparkEntry.queries("similarity_join_exact")(spark, dir))
    // The entire point of prefix filtering: the blockless exact join
    // must never degenerate to an all-pairs physical join.
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // Candidate pairs cross their dedup exchange as (id_a, id_b) ONLY —
    // token arrays re-join by id afterwards, they never ride the pair
    // shuffle.
    assert(plan.contains("hashpartitioning(id_a"),
      s"expected the ids-only candidate-pair exchange:\n$plan")
    val pairLine = plan.linesIterator
      .find(l => l.contains("hashpartitioning(id_a")).get
    assert(!pairLine.contains("toks"),
      s"token arrays rode the candidate-pair exchange: $pairLine")
  }

  test("repetition mixing broadcasts rates; the corpus never shuffles") {
    val plan = planOf(SparkEntry.queries("corpus_mix_epochs")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for a rate join:\n$plan")
  }

  test("token quota plans exactly one keyed exchange (the source window)") {
    // The formatted plan prints exchange arguments on their own line:
    // `Arguments: hashpartitioning(source...)`. One keyed exchange (the
    // window) — the only other Exchange is the output sort's range
    // partitioning.
    val plan = planOf(SparkEntry.queries("token_quota")(spark, dir))
    val keyed = plan.linesIterator
      .count(l => l.contains("Arguments: hashpartitioning"))
    assert(keyed == 1, s"expected one source-keyed exchange, got $keyed:\n$plan")
    assert(plan.contains("hashpartitioning(source"), plan)
  }

  test("DSIR weight table broadcasts; the token stream never shuffles raw") {
    val df = SparkEntry.queries("dsir_weights")(spark, dir)
    df.collect()
    // AQE's printed string appends the pre-adaptive "Initial Plan" —
    // judge only what actually ran.
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // The bucket-weight side must reach the doc-token stream as a
    // broadcast; a sort-merge join here would shuffle the whole token
    // stream by feature bucket.
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"token stream shuffled:\n$plan")
  }

  test("exclusion lists broadcast as anti-joins; the corpus never shuffles (r9)") {
    for (q <- Seq("takedown_requests", "domain_blocklist")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"$q must anti-join against a broadcast list:\n$plan")
      // the only exchanges allowed are the broadcast of the list and the
      // final presentation sort — never a hash-partitioned corpus shuffle
      assert(!plan.contains("Arguments: hashpartitioning"),
        s"$q shuffled the corpus by key:\n$plan")
    }
  }

  test("domain caps plan exactly one keyed exchange (the domain window)") {
    val plan = planOf(SparkEntry.queries("domain_caps")(spark, dir))
    val keyed = plan.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(keyed == 1, s"expected exactly the domain-window exchange, got $keyed:\n$plan")
    assert(plan.contains("hashpartitioning(domain"), plan)
  }

  test("script and NFC profiling are scan-stage projections, shuffle-free") {
    for (q <- Seq("script_mix", "normalize_text", "lang_script_consistency")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("Arguments: hashpartitioning"),
        s"$q must not shuffle by key:\n$plan")
    }
  }

  test("attribute sidecar is one scan-stage pass; policy is one semi join") {
    // All taggers in one projection: no keyed exchange anywhere (the
    // only exchange is the output range sort).
    val sidecar = planOf(SparkEntry.queries("attribute_sidecar")(spark, dir))
    assert(!sidecar.contains("Arguments: hashpartitioning"),
      s"sidecar must not shuffle by key:\n$sidecar")
    // The policy application joins ids only: exactly one join, semi.
    val policy = planOf(SparkEntry.queries("sidecar_policy")(spark, dir))
    assert(policy.contains("LeftSemi"), s"policy must semi-join:\n$policy")
    // one join node = at most 2 mentions (operator tree + details block)
    val joins = ("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct)").r.findAllIn(policy).size
    assert(joins <= 2, s"policy must be a single join ($joins):\n$policy")
  }

  test("refinedweb_funnel reads the raw corpus exactly once (r10)") {
    // The one-pass discipline: stages 0-2 are observation metrics riding
    // the scan that materializes the gated frame; stages 3-6 count
    // checkpointed frames. Pin = across ALL actions the funnel triggers,
    // exactly ONE executed plan scans the raw documents parquet (the r9
    // form re-executed the raw gate chain three extra times).
    val rawScans = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def bump(funcName: String,
                       qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        // funcName == "rdd" is Par.widen's getNumPartitions probe —
        // plan/partition-listing only, it runs no job and reads no rows.
        if (armed.get() && funcName != "rdd") {
          val p = qe.executedPlan.toString
          if (p.contains("FileScan parquet") && p.contains("documents")) {
            rawScans.incrementAndGet()
            seen.add(s"$funcName: ${p.linesIterator.take(6).mkString(" | ")}")
          }
        }
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = bump(funcName, qe)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Thread.sleep(500) // let stragglers from earlier tests drain un-armed
      armed.set(true)
      SparkEntry.queries("refinedweb_funnel")(spark, dir).collect()
      // listener delivery is async — wait for quiescence
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 10000) {
        Thread.sleep(300); waited += 300
        val c = rawScans.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      assert(rawScans.get() == 1,
        s"funnel must scan the raw documents parquet exactly once, saw ${rawScans.get()}:\n" +
          seen.toArray.mkString("\n---\n"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("release_datasheet reads the corpus exactly once (r10)") {
    // Five sections, ONE text scan: the per-doc signal frame is pinned
    // and every section aggregates THAT, never the parquet again.
    val rawScans = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def bump(funcName: String,
                       qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        if (armed.get() && funcName != "rdd") {
          val p = qe.executedPlan.toString
          if (p.contains("FileScan parquet") && p.contains("documents")) {
            rawScans.incrementAndGet()
            seen.add(s"$funcName: ${p.linesIterator.take(6).mkString(" | ")}")
          }
        }
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = bump(funcName, qe)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Thread.sleep(500)
      armed.set(true)
      SparkEntry.queries("release_datasheet")(spark, dir).collect()
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 10000) {
        Thread.sleep(300); waited += 300
        val c = rawScans.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      assert(rawScans.get() == 1,
        s"datasheet must scan documents exactly once, saw ${rawScans.get()}:\n" +
          seen.toArray.mkString("\n---\n"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("link/sitemap/entropy extraction is scan-stage; graphs shuffle ids only (r10)") {
    // host graph: extraction is per-row expressions; the only keyed
    // exchange is the (src_domain, dst_domain) aggregate.
    val g = planOf(SparkEntry.queries("host_link_graph")(spark, dir))
    assert(g.linesIterator.count(_.contains("Arguments: hashpartitioning")) == 1,
      s"expected exactly the edge-aggregate exchange:\n$g")
    assert(!g.contains("UDF"), s"extraction must be expressions, not UDFs:\n$g")
    // anchor terms add the per-domain top-k window: two keyed exchanges.
    val a = planOf(SparkEntry.queries("anchor_texts")(spark, dir))
    assert(a.linesIterator.count(_.contains("Arguments: hashpartitioning")) <= 2,
      s"expected the term aggregate + domain window only:\n$a")
    // sitemap parsing and the entropy tagger never shuffle by key.
    for (q <- Seq("sitemap_entries", "char_entropy")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("Arguments: hashpartitioning"),
        s"$q must not shuffle by key:\n$plan")
    }
  }

  test("no unbounded global window in any registered query's plan") {
    // The single-partition-window audit: every logical Window with an
    // EMPTY partition spec in a registered query's optimized plan must
    // be on the allowlist below, each entry justified by a bounded
    // input (aggregate rows / post-limit rows), never document- or
    // event-scale rows. Checkpointed stage interiors are truncated out
    // of the final plan, so their windows are audited by their own
    // operator specs (e.g. LmScoreSpec pins the prefix-sum bucket form)
    // — this test guards the assembled query surface.
    val allow: Map[String, String] = Map(
      "source_distribution" -> "pct-of-total over <= |sources| aggregated rows (A6 parity form)",
      "domain_distribution" -> "pct-of-total over <= |domains| aggregate rows",
      "daily_order_deltas" -> "lag over per-day aggregate rows (<= |order dates|)",
      "bm25_topk" -> "rank over <= k rows after the TakeOrdered limit",
      "vocab_encode" -> "vocab id assignment over <= size rows after the TakeOrdered limit",
      "corpus_mix_temperature" -> "temperature weights over <= |sources| aggregate rows",
      // Ranks, tiers and pack offsets (corpus_shuffle, curriculum_order,
      // the perplexity tiers, crawl_frontier, every corpus pipeline's
      // pack) are never here: they run on Par.prefixSum.
      "crawl_then_dashboard" -> "recent-5 rank over <= 5 rows after the TakeOrdered limit")
    val offenders = scala.collection.mutable.SortedMap[String, Int]()
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      val n = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }.size
      if (n > 0) offenders(name) = n
    }
    val bad = offenders.keySet.diff(allow.keySet)
    assert(bad.isEmpty,
      s"unallowlisted global windows (justify bounded input or fix): " +
        s"${bad.map(n => s"$n(${offenders(n)})").mkString(", ")}")
  }

  test("plan-cost pin: exchange/scan counts match the committed snapshot") {
    // Coarse plan-COST regression pin (r10 verdict #7): the other tests
    // here pin plan SHAPE for chosen queries; this one snapshots, for
    // EVERY registered query, the number of shuffle Exchanges and
    // parquet scans in the physical plan at sf0.001. A rework that
    // quietly adds a shuffle (or re-reads a table) to a green query now
    // fails a test instead of waiting for a bench sweep to notice.
    // After an INTENTIONAL plan change, regenerate with
    //   GRAFT_REGEN_PLAN_COSTS=1 sbt "testOnly graft.PlanQualitySpec"
    // and review the snapshot diff like any other code change.
    val snapshotPath = java.nio.file.Paths.get(
      "src/test/resources/graft/plan_costs.json")
    def costs(name: String): (Int, Int) = {
      val plan = planOf(SparkEntry.queries(name)(spark, dir))
      // formatted explain prints one "(n) <Node>" detail header per
      // node — count those, never the tree section's duplicate lines
      val ex = "(?m)^\\(\\d+\\) Exchange$".r.findAllIn(plan).size
      val sc = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
      (ex, sc)
    }
    // Build under materialize=none (r17, the r16 advisor's item): with
    // the default eager pin, any query returning a .pinned frame
    // snapshots as a bare checkpoint scan — [0, 0], a vacuous guard.
    // Identity pins keep the full composed lineage visible, so the pin
    // watches the real plan. (Shared frames recompute per reader in
    // this mode — fine at the sf0.001 spec fixture.)
    spark.conf.set(graft.Mat.ConfKey, "none")
    val current =
      try SparkEntry.queries.keys.toSeq.sorted.map(n => n -> costs(n))
      finally spark.conf.unset(graft.Mat.ConfKey)
    if (sys.env.contains("GRAFT_REGEN_PLAN_COSTS")) {
      val json = current
        .map { case (n, (e, s)) => s"""  "$n": [$e, $s]""" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.createDirectories(snapshotPath.getParent)
      java.nio.file.Files.writeString(snapshotPath, json)
      info(s"regenerated $snapshotPath with ${current.size} entries")
    } else {
      assert(java.nio.file.Files.exists(snapshotPath),
        s"missing $snapshotPath — regenerate with GRAFT_REGEN_PLAN_COSTS=1")
      val want = java.nio.file.Files.readString(snapshotPath)
      val entry = """"([^"]+)": \[(\d+), (\d+)\]""".r
      val wanted = entry.findAllMatchIn(want)
        .map(m => m.group(1) -> (m.group(2).toInt, m.group(3).toInt)).toMap
      val diffs = current.flatMap { case (n, got) =>
        wanted.get(n) match {
          case Some(w) if w == got => None
          case Some(w) => Some(s"$n: exchanges/scans $got, snapshot $w")
          case None => Some(s"$n: new query — regenerate the snapshot")
        }
      }
      val gone = wanted.keySet.diff(current.map(_._1).toSet)
      assert(diffs.isEmpty && gone.isEmpty,
        (diffs ++ gone.map(n => s"$n: removed — regenerate the snapshot"))
          .mkString("plan-cost drift:\n  ", "\n  ",
            "\n  (intentional? GRAFT_REGEN_PLAN_COSTS=1 and review the diff)"))
    }
  }
}
