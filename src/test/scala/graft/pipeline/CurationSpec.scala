package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Curation operators: sampling contract (deterministic, nested-rates,
  * duplicate-consistent), quota caps, repetition-signal values. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  /** The single-window statement of the pack: cumulative tokens before
    * each doc over one `Window.orderBy(id)` — the semantic reference the
    * prefix-sum packs are pinned equal to. */
  private def packChunks(docs: DataFrame, idCol: String,
                         textCol: String, budget: Long) = {
    val nTok = size(graft.text.TextAnalysis.tokens(lower(col(textCol)))).cast("long")
    val w = Window.orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), nTok.as("n_tokens"))
      .withColumn("offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        floor(col("offset") / budget).as("chunk_id"),
        when(col("n_tokens") === 0, lit(0L)).otherwise(
          floor((col("offset") + col("n_tokens") - 1) / budget) -
            floor(col("offset") / budget) + 1).as("n_chunks"))
      .orderBy(col(idCol))
  }

  private def docs = Seq(
    (1L, "alpha beta gamma", "s1"),
    (2L, "alpha beta gamma", "s1"), // exact dup of 1
    (3L, "delta epsilon", "s1"),
    (4L, "zeta eta theta iota", "s2"),
    (5L, "kappa", "s2")
  ).toDF("doc_id", "text", "source")

  test("sampleDeterministic is stable and rate-nested") {
    val at5000 = Curation.sampleDeterministic(docs, "text", 5000)
      .select("doc_id").as[Long].collect().toSet
    val again = Curation.sampleDeterministic(docs, "text", 5000)
      .select("doc_id").as[Long].collect().toSet
    assert(at5000 == again) // no RNG: identical on every run
    val at2000 = Curation.sampleDeterministic(docs, "text", 2000)
      .select("doc_id").as[Long].collect().toSet
    assert(at2000.subsetOf(at5000)) // smaller rate is a subset of larger
    // content-keyed: exact duplicates sample together
    assert(at5000.contains(1L) == at5000.contains(2L))
  }

  test("sampleBucket covers 0..9999 and is md5-derived") {
    val buckets = Curation.sampleDeterministic(docs, "text", 10000)
    assert(buckets.count() == 5) // rate 100% keeps everything
    val vals = docs.select(Curation.sampleBucket($"text")).as[Long].collect()
    assert(vals.forall(b => b >= 0 && b < 10000))
  }

  test("splitCorpus: bucket-ranged, duplicate-consistent, exhaustive") {
    val out = Curation.splitCorpus(docs, "text", 500, 500)
      .select($"doc_id", Curation.sampleBucket($"text").as("b"), $"split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 5) // every row gets exactly one split
    out.foreach { case (_, b, s) =>
      val expect = if (b < 9000) "train" else if (b < 9500) "val" else "test"
      assert(s == expect, s"bucket $b -> $s")
    }
    // content-keyed: the exact duplicates (docs 1, 2) share a split
    val byId = out.map(t => t._1 -> t._3).toMap
    assert(byId(1L) == byId(2L))
    // stable across runs
    val again = Curation.splitCorpus(docs, "text", 500, 500)
      .select($"doc_id", $"split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == byId)
  }

  test("sampleWeighted: probability-proportional, deterministic, nested") {
    // weight 1.0 keeps everything; weight 0.0 keeps nothing
    assert(Curation.sampleWeighted(docs, "text", lit(1.0)).count() == 5)
    assert(Curation.sampleWeighted(docs, "text", lit(0.0)).count() == 0)
    // weighted sample nests inside any uniform sample with rate >= weight
    val w = Curation.sampleWeighted(docs, "text", lit(0.3))
      .select("doc_id").as[Long].collect().toSet
    val u = Curation.sampleDeterministic(docs, "text", 3000)
      .select("doc_id").as[Long].collect().toSet
    assert(w == u) // constant weight 0.3 IS the 30% uniform sample
    // duplicates decide together (content key)
    assert(w.contains(1L) == w.contains(2L))
  }

  test("weightedReservoir: exact k, JVM-reference clocks, w<=0 excluded (F128)") {
    // plain-Scala reference for the exponential clock — same md5
    // prefix, same u mapping, same nano floor as the column expression
    def clockRef(seed: String, key: String, w: Double): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$key".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        dig.take(4).map(b => f"$b%02x").mkString, 16)
      math.floor(-1.0e9 * math.log((h + 1).toDouble / 4294967296.0) / w).toLong
    }
    val rows = Seq((1L, "aa", 1.0), (2L, "bb", 5.0), (3L, "cc", 2.0),
      (4L, "dd", 0.0), (5L, "ee", -1.0)).toDF("id", "key", "w")
    val got = Curation.weightedReservoir(rows, "id", "key", $"w", 2)
      .select("id", "res_clock").as[(Long, Long)].collect().toMap
    val want = Seq((1L, "aa", 1.0), (2L, "bb", 5.0), (3L, "cc", 2.0))
      .map { case (id, k, w) => id -> clockRef("res", k, w) }
      .sortBy { case (id, c) => (c, id) }.take(2).toMap
    assert(got == want, s"got $got want $want")
    assert(!got.contains(4L) && !got.contains(5L)) // w <= 0 never races
    // exactly min(k, eligible): k larger than the eligible set
    assert(Curation.weightedReservoir(rows, "id", "key", $"w", 10).count() == 3)
  }

  test("weightedReservoir: selection frequency tracks w/sum(w) over seeds (F128)") {
    // A-ES property: P(first arrival = i) = w_i / sum(w). 400 seeded
    // replicates of k=1 over weights {1, 2, 7}: the JVM reference IS
    // the column expression (pinned above), so frequencies can be
    // checked cheaply off-Spark.
    def pick(seed: String): String = {
      val items = Seq(("a", 1.0), ("b", 2.0), ("c", 7.0))
      items.minBy { case (key, w) =>
        val dig = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$seed:$key".getBytes("UTF-8"))
        val h = java.lang.Long.parseLong(
          dig.take(4).map(b => f"$b%02x").mkString, 16)
        (math.floor(-1.0e9 * math.log((h + 1).toDouble / 4294967296.0) / w).toLong,
          key)
      }._1
    }
    val n = 400
    val freq = (0 until n).map(i => pick(s"seed$i"))
      .groupBy(identity).view.mapValues(_.size.toDouble / n).toMap
    // 3-sigma bands: sd = sqrt(p(1-p)/400) ~ 0.023 at p=0.7
    assert(math.abs(freq("c") - 0.7) < 0.07, s"c: ${freq("c")}")
    assert(math.abs(freq("b") - 0.2) < 0.06, s"b: ${freq("b")}")
    assert(math.abs(freq.getOrElse("a", 0.0) - 0.1) < 0.05, s"a: ${freq.getOrElse("a", 0.0)}")
    // and one Spark draw agrees with the reference at a sample seed
    val df = Seq(("a", 1.0), ("b", 2.0), ("c", 7.0)).toDF("key", "w")
    val sparkPick = Curation.weightedReservoir(df, "key", "key", $"w", 1,
      seed = "seed7").select("key").as[String].head()
    assert(sparkPick == pick("seed7"))
  }

  test("weightedReservoirPerGroup: per-group exact-k, group-independent picks (F133)") {
    val rows = (1L to 30L).map(i =>
      (i, s"key$i", if (i <= 20) "g1" else "g2", 1.0 + (i % 5)))
      .toDF("id", "key", "grp", "w")
    val out = Curation.weightedReservoirPerGroup(rows, "grp", "id", "key",
        $"w", 3)
      .select("grp", "id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(out("g1").size == 3 && out("g2").size == 3)
    // per-group picks == the plain reservoir run on that group alone
    val g1Alone = Curation.weightedReservoir(rows.filter($"grp" === "g1"),
        "id", "key", $"w", 3).select("id").as[Long].collect().toSet
    assert(out("g1") == g1Alone)
    // k above a small group's size keeps exactly the group
    val tiny = Curation.weightedReservoirPerGroup(
        rows.filter($"id" <= 2), "grp", "id", "key", $"w", 10)
    assert(tiny.count() == 2)
  }

  test("mergeReservoirs: batch reservoirs merge to the one-shot cut (F131)") {
    val rows = (1L to 40L).map(i => (i, s"key$i", 1.0 + (i % 7)))
      .toDF("id", "key", "w")
    val oneShot = Curation.weightedReservoir(rows, "id", "key", $"w", 5)
      .select("id").as[Long].collect().toSet
    // three arbitrary disjoint batches, each keeping its own k=5 state
    val parts = Seq(rows.filter($"id" % 3 === 0), rows.filter($"id" % 3 === 1),
      rows.filter($"id" % 3 === 2))
      .map(Curation.weightedReservoir(_, "id", "key", $"w", 5))
    val merged = Curation.mergeReservoirs(parts, "id", 5)
      .select("id").as[Long].collect().toSet
    assert(merged == oneShot)
    // associativity: merging a merged pair with the third part agrees
    val pair = Curation.mergeReservoirs(parts.take(2), "id", 5)
    val assoc = Curation.mergeReservoirs(Seq(pair, parts(2)), "id", 5)
      .select("id").as[Long].collect().toSet
    assert(assoc == oneShot)
  }

  test("quotaPerGroup caps each group by the given order") {
    val out = Curation.quotaPerGroup(docs, "source", 2,
      Seq($"doc_id".asc)).select("source", "doc_id", "rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == Set(("s1", 1L, 1), ("s1", 2L, 2), ("s2", 4L, 1), ("s2", 5L, 2)))
  }

  test("mixCorpus applies per-source rates; unlisted sources drop") {
    val mixed = Curation.mixCorpus(docs, "text", "source",
      Map("s1" -> 10000)).select("doc_id").as[Long].collect().toSet
    assert(mixed == Set(1L, 2L, 3L)) // s1 at 100%, s2 unlisted -> dropped
    // raising one source's rate only adds rows (per-source nesting)
    val lo = Curation.mixCorpus(docs, "text", "source",
      Map("s1" -> 2000, "s2" -> 5000)).select("doc_id").as[Long].collect().toSet
    val hi = Curation.mixCorpus(docs, "text", "source",
      Map("s1" -> 8000, "s2" -> 5000)).select("doc_id").as[Long].collect().toSet
    assert(lo.subsetOf(hi))
  }

  test("mixCorpusTemperature: smallest source intact, rates flatten as n^alpha") {
    // Sources sized 40 / 10: nmin = 10, so rates are
    // sqrt(10/40) = 0.5 -> 5000 bp for "big" and 10000 bp for "small".
    val corpus = (
      (1 to 40).map(i => (i.toLong, s"big doc number $i with words", "big")) ++
        (41 to 50).map(i => (i.toLong, s"small doc number $i here", "small"))
      ).toDF("doc_id", "text", "source")
    val kept = Curation.mixCorpusTemperature(corpus, "text", "source")
    val bySource = kept.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // rate 10000 keeps the whole smallest source.
    assert(bySource("small") == 10L)
    // The big source passes through the SAME bucket filter at 5000 bp as
    // a hand-applied sampleDeterministic — the rate derivation is the
    // only new logic.
    val expectBig = Curation.sampleDeterministic(
        corpus.filter($"source" === "big"), "text", 5000)
      .select("doc_id").as[Long].collect().toSet
    val gotBig = kept.filter($"source" === "big")
      .select("doc_id").as[Long].collect().toSet
    assert(gotBig == expectBig)
    // Determinism.
    val again = Curation.mixCorpusTemperature(corpus, "text", "source")
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept.select("doc_id").as[Long].collect().toSet)
  }

  test("curationFunnel: every stage drops its planted documents") {
    // 6 docs: 2 clean prose (one duplicated byte-for-byte = 3 rows),
    // 1 too-short (gopher kills), 1 clean prose with low quality
    // (digit-heavy -> alpha-ratio term sinks below the floor).
    val prose = "the cat and the dog have come to the house of the " +
      "friend that was with them and they all be happy to stay for " +
      "the night with all of the food that the host have made " +
      "with care and with joy for every one of the guests there now"
    val lowQ = prose.replaceAll(
      "\\b(cat|dog|house|friend|night|food|host|care|joy)\\b", "99999")
    val docs = Seq(
      (1L, prose), (2L, prose),              // exact dups, both pass gates
      (3L, prose + " extra final word"),     // distinct, passes
      (4L, "too short to pass the gate"),    // gopher: n_words < 50
      (5L, lowQ)                             // passes gopher, fails quality
    ).toDF("doc_id", "text")
    val th = graft.text.GopherRules.Thresholds(minStopHits = 2L)
    // 0.85 sits between the digit-swapped doc (~0.80: alpha-ratio term
    // sinks) and the clean prose (~0.89).
    val out = Curation.curationFunnel(docs, "doc_id", "text", th,
        minQuality = 0.85)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out("raw") == 5)
    assert(out("gopher") == 4)       // doc 4 dropped
    assert(out("quality") == 3)      // doc 5 dropped
    assert(out("exact_dedup") == 2)  // docs 1/2 collapse
  }

  test("shuffleCorpus: hierarchical rank equals the global seeded order") {
    val corpus = (1 to 97).map(i => (i.toLong, s"document body $i", "s"))
      .toDF("doc_id", "text", "source")
    val out = Curation.shuffleCorpus(corpus, "text", "seedA", nShards = 8)
    val rows = out.select($"doc_id", $"shard", $"shuffle_pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // shuffle_pos is a permutation of 1..n.
    assert(rows.map(_._3).sorted.toSeq == (1L to 97L).toSeq)
    // Hierarchical rank == the semantic single-window rank by (h, id).
    val semantic = corpus
      .withColumn("h", md5(concat_ws(":", lit("seedA"), $"text")))
      .orderBy($"h", $"doc_id")
      .select("doc_id").as[Long].collect().toSeq
    val byPos = rows.sortBy(_._3).map(_._1).toSeq
    assert(byPos == semantic)
    // Shards are monotone along the order: pos order never decreases shard.
    assert(rows.sortBy(_._3).map(_._2).toSeq == rows.map(_._2).sorted.toSeq)
    // A different seed is a genuinely different permutation.
    val other = Curation.shuffleCorpus(corpus, "text", "seedB", nShards = 8)
      .orderBy($"shuffle_pos").select("doc_id").as[Long].collect().toSeq
    assert(other != byPos)
    // shuffle_pos is invariant to the shard count — sharding is pure
    // parallelism, never part of the order's semantics.
    for (n <- Seq(1, 3, 64)) {
      val again = Curation.shuffleCorpus(corpus, "text", "seedA", nShards = n)
        .orderBy($"shuffle_pos").select("doc_id").as[Long].collect().toSeq
      assert(again == byPos, s"nShards=$n changed the order")
    }
  }

  test("packChunks: offsets, chunk ids, straddling spans") {
    val d = Seq(
      (1L, Seq.fill(300)("t").mkString(" ")), // off 0    -> chunk 0, 1 chunk
      (2L, Seq.fill(300)("t").mkString(" ")), // off 300  -> chunk 0, spans 2
      (3L, ""),                               // off 600  -> chunk 1, 0 chunks
      (4L, Seq.fill(500)("t").mkString(" ")), // off 600, ends 1099 -> chunk 1, spans 2
      (5L, Seq.fill(1200)("t").mkString(" ")) // off 1100 -> chunk 2, spans 3
    ).toDF("doc_id", "text")
    val out = packChunks(d, "doc_id", "text", 512L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(1L -> ((0L, 1L)), 2L -> ((0L, 2L)), 3L -> ((1L, 0L)),
      4L -> ((1L, 2L)), 5L -> ((2L, 3L))))
  }

  test("chunkTexts: overlapping windows, short tail kept, redundant tail dropped") {
    val d = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // chunk 8 / overlap 4
      (2L, "a b"),                                    // single short chunk
      (3L, "")                                        // no tokens -> no rows
    ).toDF("doc_id", "text")
    val out = Curation.chunkTexts(d, "doc_id", "text", 8, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // doc 1: starts 1 and 5 (start 9 adds no new token beyond [5..10])
    assert(out.toSeq == Seq(
      (1L, 0L, (1 to 8).map(i => s"t$i").mkString(" ")),
      (1L, 1L, (5 to 10).map(i => s"t$i").mkString(" ")),
      (2L, 0L, "a b")))
  }

  test("packChunksScalable equals the single-window form") {
    // a null text first: null count and chunk, later offsets unmoved
    val d = ((0L, null: String) +: (1 to 200).map(i =>
      (i.toLong, Seq.fill(i % 37 + 1)("t").mkString(" "))))
      .toDF("doc_id", "text")
    val semantic = packChunks(d, "doc_id", "text", 64L)
      .collect().map(_.toSeq).toSeq
    for (parts <- Seq(1, 3, 8)) {
      val scalable = Curation.packChunksScalable(d.repartition(parts),
          "doc_id", "text", 64L)
        .collect().map(_.toSeq).toSeq
      assert(scalable == semantic, s"input partitions=$parts")
    }
  }

  test("domainCapsIncremental: chained batches equal one first-come pass; state bounded") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val all = (1L to 30L).map { i =>
      val host = if (i % 3 == 0) "a.site.com"
                 else if (i % 3 == 1) "b.site.com" else "other.org"
      (i, s"https://$host/p/$i")
    }
    def df(rows: Seq[(Long, String)]) = rows.toDF("id", "url")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("domain", StringType),
        StructField("n_kept", LongType))))
    // three arrival-ordered batches against persisted tallies
    val (k1, s1) = Curation.domainCapsIncremental(
      df(all.filter(_._1 <= 10)), empty, "url", 7, Seq(col("id").asc))
    val (k2, s2) = Curation.domainCapsIncremental(
      df(all.filter(r => r._1 > 10 && r._1 <= 20)), s1.localCheckpoint(true),
      "url", 7, Seq(col("id").asc))
    val (k3, s3) = Curation.domainCapsIncremental(
      df(all.filter(_._1 > 20)), s2.localCheckpoint(true),
      "url", 7, Seq(col("id").asc))
    val streamedIds = (k1.select("id").collect() ++ k2.select("id").collect() ++
      k3.select("id").collect()).map(_.getLong(0)).sorted.toSeq
    // one-shot first-come caps over the union, arrival (id) order
    val oneShot = Curation.domainCaps(df(all), "url", 7, Seq(col("id").asc))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamedIds == oneShot)
    // the tally equals the kept counts and stays bounded by the domains
    val tally = s3.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tally == Map("site.com" -> 7L, "other.org" -> 7L))
  }

  test("excludeByKey: content-hash takedown sweeps every copy; domain blocklist catches subdomains") {
    // docs 1 and 2 are exact duplicates — a takedown request for doc 1's
    // CONTENT must remove doc 2 as well (hash key, not id key).
    val requests = docs.filter($"doc_id" === 1L).select(md5($"text").as("h"))
    val kept = Curation.excludeByKey(docs, md5(col("text")), requests)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(3L, 4L, 5L))
    // blocklist keyed on registered domain: the subdomain URL drops too.
    val urls = Seq(
      (1L, "https://news.blocked.com/a"), (2L, "https://blocked.com/b"),
      (3L, "https://fine.org/c")).toDF("id", "url")
    val blocked = Seq("blocked.com").toDF("domain")
    val left = Curation.excludeByKey(urls,
        graft.ingest.Urls.registeredDomain(col("url")), blocked)
      .select($"id").as[Long].collect().toSeq
    assert(left == Seq(3L))
    // empty exclusion list is the identity
    assert(Curation.excludeByKey(docs, md5(col("text")),
      Seq.empty[String].toDF("h")).count() == docs.count())
  }

  test("packChunksBpe: equals the whitespace twin when pieces==words, diverges under compression") {
    val d = (1 to 60).map(i =>
      (i.toLong, Seq.fill(i % 7 + 1)("ab").mkString(" "))).toDF("doc_id", "text")
    val ws = Curation.packChunksScalable(d, "doc_id", "text", 16L)
      .collect().map(_.toSeq).toSeq
    // ("a","b") merges every token into ONE piece: counts coincide with
    // whitespace words, so the whole pack structure must be identical.
    val merged = Curation.packChunksBpe(d, "doc_id", "text", Seq(("a", "b")), 16L)
      .collect().map(_.toSeq).toSeq
    assert(merged == ws)
    // No merges: each "ab" token is 2 char pieces — counts double and the
    // chunk assignment must shift (whitespace accounting would overflow
    // real sequences here).
    val wsTok = ws.map(r => r.head -> r(1)).toMap
    val none = Curation.packChunksBpe(d, "doc_id", "text", Seq.empty, 16L)
      .collect().map(_.toSeq).toSeq
    assert(none.forall(r => r(1) == 2L * wsTok(r.head).asInstanceOf[Long]))
    assert(none != ws)
  }

  test("token quota stops before exceeding each source's budget") {
    val docs = Seq(
      (1L, "a", "w1 w2 w3 w4"), (2L, "a", "x1 x2 x3 x4"),
      (3L, "a", "y1 y2 y3 y4"), (4L, "a", "z1 z2 z3 z4"),
      (5L, "b", "one single document with far too many tokens to ever fit"),
      (6L, "c", "tiny doc here")
    ).toDF("doc_id", "source", "text")
    val out = Curation.quotaTokensPerSource(docs, "doc_id", "source", "text", 10L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // source a: 4-token docs, budget 10 -> exactly 2 fit (the 3rd would
    // reach 12); which two is the deterministic content-hash order's call.
    val a = out.filter(_._2 == "a")
    assert(a.length == 2 && a.map(_._3).sum == 8L && a.forall(_._4 <= 10L), a.toSeq)
    // source b: the single 11-token doc overshoots alone -> empty source.
    assert(!out.exists(_._2 == "b"), out.toSeq)
    // source c: under budget, kept whole.
    assert(out.count(_._2 == "c") == 1)
    // deterministic under repartitioning
    val re = Curation.quotaTokensPerSource(docs.repartition(5), "doc_id",
        "source", "text", 10L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(re.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }

  test("repetition mixing: whole epochs for all, fractional epoch content-chosen") {
    val docs = (1 to 40).map(i =>
      (i.toLong, if (i <= 20) "up" else "keep", s"document number $i body"))
      .toDF("doc_id", "source", "text")
    val out = Curation.mixCorpusWithRepetition(docs, "text", "source",
        Map("up" -> 25000, "keep" -> 10000))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("epoch")))
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // rate 2.5: every 'up' doc twice, a bucket-chosen subset three times.
    (1L to 20L).foreach { i =>
      assert(byDoc(i) == Seq(1L, 2L) || byDoc(i) == Seq(1L, 2L, 3L), s"doc $i: ${byDoc(i)}")
    }
    val triples = (1L to 20L).count(byDoc(_).size == 3)
    assert(triples > 0 && triples < 20, s"fractional epoch should split the source: $triples")
    // rate 1.0: exactly one copy each.
    (21L to 40L).foreach(i => assert(byDoc(i) == Seq(1L)))
    // monotone in the rate: raising 2.5 -> 3.0 only ADDS copies.
    val raised = Curation.mixCorpusWithRepetition(docs, "text", "source",
        Map("up" -> 30000, "keep" -> 10000))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("epoch"))).toSet
    assert(out.toSet.subsetOf(raised))
  }

  test("boilerplateSampled finds planted boilerplate with a scaled estimate") {
    // 200 docs, 50% carry the same boilerplate phrase; unique filler makes
    // every other 3-gram's df = 1.
    val corpus = (1 to 200).map { i =>
      val filler = s"u$i v$i w$i x$i"
      val text = if (i % 2 == 0) s"visit our great site $filler" else filler
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val exact = graft.text.TextAnalysis.frequentShingles(corpus, "text", 3, 5L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact("visit our great") == 100L)
    val est = Curation.boilerplateSampled(corpus, "text", 3, 5L, 5000)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // df 100 at a 50% sample: estimate within a generous binomial bound,
    // and deterministic — the same value on every run.
    assert(est.contains("visit our great"))
    assert(math.abs(est("visit our great") - 100L) <= 30L)
    val again = Curation.boilerplateSampled(corpus, "text", 3, 5L, 5000)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == again)
    // df-1 fillers can never reach the threshold, even scaled
    assert(!est.keys.exists(_.startsWith("u")))
  }

  test("repetitionStats: fold matches hand-computed signals") {
    val d = Seq(
      (1L, "a b a b a"),  // toks 5, distinct 2; bigrams: a-b x2, b-a x2 -> 2/4
      (2L, "x y z"),      // all distinct; bigrams x-y, y-z -> 1/2
      (3L, "w"),          // 1 token: no bigrams -> null
      (4L, "q q q q")     // 1 distinct of 4; bigram q-q x3 -> 3/3
    ).toDF("doc_id", "text")
    val out = Curation.repetitionStats(d).collect()
      .map(r => r.getLong(0) -> (
        r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(out(1L) == ((5L, 1.0 - 2.0 / 5.0, 0.5)))
    assert(out(2L) == ((3L, 1.0 - 3.0 / 3.0, 0.5)))
    assert(out(3L) == ((1L, 0.0, null)))
    assert(out(4L) == ((4L, 0.75, 1.0)))
  }

  test("balancedSample: exactly min(k, class size) per class, deterministic") {
    val rows = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("b", 5L), ("b", 6L),
      ("c", 7L)
    ).toDF("cls", "id")
    val out = Curation.balancedSample(rows, "cls", "id", 3)
      .as[(String, Long)].collect().toSeq
    val byClass = out.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byClass === Map("a" -> 3, "b" -> 2, "c" -> 1))
    // deterministic across partitionings
    val out2 = Curation.balancedSample(rows.repartition(5), "cls", "id", 3)
      .as[(String, Long)].collect().toSeq
    assert(out === out2)
  }

  test("decontaminateFuzzy: verbatim leak at 1.0, near-dup flagged, clean doc not") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // verbatim bench
      (2L, "the quick brown fox jumps over the lazy cat today"), // 1-token paraphrase
      (3L, "completely unrelated text about spark and parquet files")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today")
    ).toDF("doc_id", "text")
    val out = Curation.decontaminateFuzzy(corpus, "doc_id", "text",
        bench, "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // doc 1: identical token set -> J = 1.0; doc 2: 9 shared tokens of 11
    // distinct union (dog vs cat) -> J = 0.8182 >= 0.8; doc 3: clean.
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) === ((1L, 1.0)))
    assert(out(2L)._2 >= 0.8 && out(2L)._2 < 1.0)
  }

  test("decontaminateFuzzy matches brute-force cross-Jaccard on the fixture") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val bench = docs.filter($"doc_id" % 97 === 0)
    val got = Curation.decontaminateFuzzy(docs, "doc_id", "text",
        bench, "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect().toSeq
    // exact quadratic reference: every corpus x bench pair
    val ts = graft.dedup.Dedup.tokenSet(col("text"))
    val d = docs.select($"doc_id", ts.as("toks")).filter(size($"toks") > 0)
    val b = bench.select($"doc_id".as("bench_id"), ts.as("btoks"))
      .filter(size($"btoks") > 0)
    val want = d.crossJoin(b)
      .select($"doc_id",
        round(graft.dedup.Dedup.jaccard($"toks", $"btoks"), 4).as("j"))
      .filter($"j" >= 0.8)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), max($"j").as("jm"))
      .orderBy($"doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === want)
  }

  test("packingEfficiency: hand-computed waste and straddle counts") {
    // token counts by doc_id order: 3, 510, 2, 0 -> offsets 0, 3, 513, 515
    val d = Seq(
      (1L, "a b c"),
      (2L, Seq.fill(510)("t").mkString(" ")),
      (3L, "x y"),
      (4L, "")
    ).toDF("doc_id", "text")
    val row = Curation.packingEfficiency(d, "doc_id", "text", 512L)
      .collect().head
    assert(row.getAs[Long]("n_docs") === 4L)
    assert(row.getAs[Long]("total_tokens") === 515L)
    assert(row.getAs[Long]("n_chunks") === 2L)         // ceil(515/512)
    assert(row.getAs[Long]("tail_waste") === 509L)     // 1024 - 515
    // doc 2 spans offsets [3, 512] -> chunks 0 and 1: the only straddler
    assert(row.getAs[Long]("straddling_docs") === 1L)
    assert(row.getAs[Long]("boundaries_crossed") === 1L)
    // pad-per-doc: ceil(3/512) + ceil(510/512) + ceil(2/512) = 3 sequences
    assert(row.getAs[Long]("padded_chunks") === 3L)
    assert(row.getAs[Long]("padded_waste") === 3 * 512L - 515L)
    assert(row.getAs[Double]("pct_tail_waste") === math.rint(509.0 * 100 / 1024 * 1e4) / 1e4)
  }

  test("packingEfficiency on an empty corpus is all-zero, no nulls except pcts") {
    val d = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val row = Curation.packingEfficiency(d, "doc_id", "text", 512L).collect().head
    assert(row.getAs[Long]("n_docs") === 0L)
    assert(row.getAs[Long]("total_tokens") === 0L)
    assert(row.getAs[Long]("n_chunks") === 0L)
    assert(row.getAs[Long]("tail_waste") === 0L)
    assert(row.isNullAt(row.fieldIndex("pct_tail_waste"))) // 0/0 -> null
  }

  test("curriculumOrder: tiers ascend with quality, positions are a permutation") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    val out = Curation.curriculumOrder(docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(out.length === n)
    // positions are exactly 1..n and tier is monotone along them
    assert(out.map(_._4).sorted.toSeq === (1L to n).toSeq)
    val byPos = out.sortBy(_._4)
    assert(byPos.map(_._3).toSeq === byPos.map(_._3).sorted.toSeq)
    // every doc in tier 1 has quality <= every doc in tier 3
    val q1max = out.filter(_._3 == 1L).map(_._2).max
    val q3min = out.filter(_._3 == 3L).map(_._2).min
    assert(q1max <= q3min)
    // near-equal tier sizes
    val sizes = out.groupBy(_._3).view.mapValues(_.length).values.toSeq
    assert(sizes.max - sizes.min <= 1)
    // deterministic under repartitioning
    val again = Curation.curriculumOrder(docs.repartition(7))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("packBinsHistogram: hand-traced SPFHP bins, fills, exactly-once") {
    // token lengths 6, 5, 3, 3, 2, 1 at budget 8 pack as {6,2} {5,3} {3,1}
    def words(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val items = Seq(
      (1L, words(6, "a")), (2L, words(5, "b")), (3L, words(3, "c")),
      (4L, words(3, "d")), (5L, words(2, "e")), (6L, words(1, "f"))
    ).toDF("doc_id", "text")
    val out = Curation.packBinsHistogram(items, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(out.map(_._1).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L)) // exactly once
    val bins = out.groupBy(_._3).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(bins.size === 3)
    assert(bins.values.toSet === Set(Seq(2, 6), Seq(3, 5), Seq(1, 3)))
    // seq_fill equals the bin's token load; nothing overfull
    out.groupBy(_._3).foreach { case (_, members) =>
      val load = members.map(_._2).sum
      assert(load <= 8)
      assert(members.forall(_._4 == load))
    }
  }

  test("packBinsHistogram: invariants on fixture chunks") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val chunks = Curation.chunkTexts(docs, "doc_id", "text", 64, 0)
      .select((col("doc_id") * 100000 + col("chunk_idx")).as("item_id"),
        col("chunk_text"))
    val out = Curation.packBinsHistogram(chunks, "item_id", "chunk_text", 128)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    // exactly-once over the non-empty chunks
    assert(out.map(_._1).distinct.length === out.length)
    // no sequence over budget; fill consistent
    out.groupBy(_._3).foreach { case (_, ms) =>
      val load = ms.map(_._2).sum
      assert(load <= 128)
      assert(ms.forall(_._4 == load))
    }
    // never worse than pad-per-doc (each item its own sequence)
    val nSeqs = out.map(_._3).distinct.length
    assert(nSeqs <= out.length)
    // deterministic under repartitioning
    val again = Curation.packBinsHistogram(chunks.repartition(7), "item_id",
        "chunk_text", 128)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("packBinsHistogram rejects items longer than the budget") {
    val items = Seq((1L, (1 to 20).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Curation.packBinsHistogram(items, "doc_id", "text", 8).collect()
    }
    assert(e.getMessage.contains("chunkTexts"))
  }

  test("releaseManifestSketch: merged batch states == one-shot; counts exact") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = docs.filter($"doc_id" < 25)
    val b = docs.filter($"doc_id" >= 25)
    // incremental: per-batch state, merged, then released
    val mergedCounts = Curation.mergeManifestCounts(
      Curation.manifestCounts(a), Curation.manifestCounts(b))
    val mergedSketch = graft.relational.Hll.merge(
      Curation.manifestSketch(a), Curation.manifestSketch(b))
    val inc = Curation.releaseManifestSketch(mergedCounts, mergedSketch)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("n_hll_contents")))).toMap
    val oneShot = Curation.releaseManifestSketch(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("n_hll_contents")))).toMap
    assert(inc === oneShot) // state merge is lossless, estimates included
    // counts agree exactly with the exact-rollup manifest
    val exact = Curation.releaseManifest(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("n_distinct_contents")))).toMap
    assert(inc.keySet === exact.keySet)
    exact.foreach { case (k, (nd, st, ndc)) =>
      assert(inc(k)._1 === nd)
      assert(inc(k)._2 === st)
      // sketch estimate within the HLL error regime of the exact count
      val est = inc(k)._3
      assert(math.abs(est - ndc) <= math.max(3.0, 0.2 * ndc),
        s"$k: est $est vs exact $ndc")
    }
  }

  test("releaseManifest: subtotals and totals are consistent, dups counted") {
    val d = Seq(
      (1L, "alpha beta", "s1", "en"),
      (2L, "alpha beta", "s1", "en"),  // exact dup of 1
      (3L, "gamma delta epsilon", "s1", "id"),
      (4L, "zeta", "s2", "en"),
      (5L, "eta theta", null.asInstanceOf[String], null.asInstanceOf[String])
    ).toDF("doc_id", "text", "source", "lang")
    val out = Curation.releaseManifest(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("n_distinct_contents"), r.getAs[Double]("pct_dup"))))
      .toMap
    // leaf rows
    assert(out(("s1", "en")) === ((2L, 4L, 1L, 50.0)))
    assert(out(("s1", "id")) === ((1L, 3L, 1L, 0.0)))
    assert(out(("s2", "en")) === ((1L, 1L, 1L, 0.0)))
    assert(out(("Unknown", "und"))._1 === 1L) // null keys coalesced pre-rollup
    // per-source subtotal and grand total
    assert(out(("s1", "ALL"))._1 === 3L)
    assert(out(("s1", "ALL"))._3 === 2L) // distinct contents within s1
    assert(out(("TOTAL", "ALL"))._1 === 5L)
    assert(out(("TOTAL", "ALL"))._2 === out.collect {
      case ((s, l), v) if s != "TOTAL" && l != "ALL" => v._2 }.sum)
  }

  test("domainQuality: floor AND evidence threshold gate the flag (r10)") {
    val junk = "zzzz 0193 @@@@ %%%% 8syw"
    val prose = "the cat sat on the mat and it was a fine day for this old friend"
    val docs = Seq(
      // low.example: 3 junk docs — flagged (>= minDocs, below floor)
      (1L, "https://a.low.example/1", junk),
      (2L, "https://b.low.example/2", junk),
      (3L, "https://low.example/3", junk),
      // good.example: 3 prose docs — above floor, not flagged
      (4L, "https://good.example/4", prose),
      (5L, "https://good.example/5", prose),
      (6L, "https://www.good.example/6", prose),
      // thin.example: junk but only 2 docs — under minDocs, not flagged
      (7L, "https://thin.example/7", junk),
      (8L, "https://thin.example/8", junk)).toDF("doc_id", "url", "text")
    val out = Curation.domainQuality(docs, "url", "text", minDocs = 3L, floor = 0.4)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // subdomains collapsed onto the registered domain
    assert(out.keySet == Set("low.example", "good.example", "thin.example"))
    assert(out("low.example")._1 == 3L && out("low.example")._3,
      s"junk domain with evidence must flag: ${out("low.example")}")
    assert(out("good.example")._1 == 3L && !out("good.example")._3)
    assert(out("good.example")._2 > out("low.example")._2)
    assert(out("thin.example")._1 == 2L && !out("thin.example")._3,
      "two docs are not evidence, junk or not")
    // identical docs -> the mean is exactly the per-doc quality (the
    // integer-lift discipline can't drift on a uniform group)
    val perDoc = docs.filter($"doc_id" === 4L)
      .select(graft.text.TextAnalysis.qualityScore($"text")).head().getDouble(0)
    assert(math.abs(out("good.example")._2 - perDoc) < 1e-9)
    // null urls group under '' explicitly — no null group, no lost rows
    val withNull = docs.unionByName(
      Seq((9L, null.asInstanceOf[String], junk)).toDF("doc_id", "url", "text"))
    val g = Curation.domainQuality(withNull, "url", "text", 3L, 0.4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g("") == 1L)
    // the composed cut drops exactly the flagged domain's docs
    val kept = Curation.excludeFlaggedDomains(docs, "url", "text", 3L, 0.4)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(4L, 5L, 6L, 7L, 8L),
      s"only low.example (flagged) drops; thin.example stays: $kept")
  }

  test("splitLeakage: exactly the cross-split distinct-bytes near-dups") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    // ten near-dup variants of the base (J = 30/32 or 30/31 >= 0.9),
    // an exact-dup pair (same split by content keying), one unrelated doc
    val rows = (1L to 10L).map(i => (i, s"$base extra$i")) ++
      Seq((11L, base), (12L, base),
        (13L, (100 to 140).map(i => s"z$i").mkString(" ")))
    val d = rows.toDF("doc_id", "text")
    // half/half split so the variants straddle the boundary
    val out = Curation.splitLeakage(d, "doc_id", "text", 0, 5000, 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getString(4)))
    // brute-force expectation: token-set Jaccard over all pairs
    val splits = Curation.splitCorpus(d, "text", 0, 5000)
      .select($"doc_id", $"split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val toks = rows.map { case (i, t) => i -> t.split("\\s+").toSet }.toMap
    val expected = (for {
      a <- rows.map(_._1); b <- rows.map(_._1) if a < b
      j = toks(a).intersect(toks(b)).size.toDouble /
        toks(a).union(toks(b)).size.toDouble
      if j >= 0.9 && splits(a) != splits(b)
    } yield (a, b, splits(a), splits(b))).toSet
    assert(out.toSet == expected)
    assert(out.nonEmpty, "fixture must produce at least one leak")
    // the exact-dup pair shares a split by construction — never reported
    assert(!out.exists(p => p._1 == 11L && p._2 == 12L))
    assert(splits(11L) == splits(12L))
  }

  test("kAnonymousStats: cells under k collapse into one reconciling bucket (r10)") {
    val docs = Seq(
      (1L, "a", "en", "one two"), (2L, "a", "en", "three"),
      (3L, "a", "en", "four five six"),                  // (a,en): 3 docs, 6 toks
      (4L, "b", "en", "seven"),                          // (b,en): 1 doc — suppressed
      (5L, "b", "fr", "eight nine"), (6L, "b", "fr", "ten") // (b,fr): 2 — suppressed
    ).toDF("doc_id", "source", "lang", "text")
    val out = Curation.kAnonymousStats(docs, Seq("source", "lang"), 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out(("a", "en")) == ((3L, 6L)))
    assert(out(("__suppressed__", "__suppressed__")) == ((3L, 4L)))
    assert(out.size == 2)
    // totals reconcile: suppression hides attribution, never mass
    assert(out.values.map(_._1).sum == 6L && out.values.map(_._2).sum == 10L)
    // nothing below k -> no suppressed row, table unchanged
    val none = Curation.kAnonymousStats(docs, Seq("source", "lang"), 1)
      .collect().map(r => r.getString(0)).toSet
    assert(!none.contains("__suppressed__"))
  }

  test("adaptiveLengthGate: per-group integer percentile floors, hand-traced (r10)") {
    // group en: token counts 1..10 (one each). p30 floor = smallest v
    // with cum*10000 >= 3000*10 <=> cum >= 3 => v = 3. Keeps n >= 3.
    // group zh: counts (1, 1, 2) — same q: cum >= 0.9 => first row
    // (cum=1 >= 0.9) => floor 1, everything keeps (the calibration
    // point: zh's floor must NOT be en's).
    // null lang folds into 'und' with its own floor.
    val docs = ((1 to 10).map(i =>
        (i.toLong, "en", Seq.fill(i)("w").mkString(" "))) ++ Seq(
        (21L, "zh", "w"), (22L, "zh", "w"), (23L, "zh", "w w"),
        (31L, null, "x y z"))).toDF("doc_id", "lang", "text")
    val out = Curation.adaptiveLengthGate(docs, qBp = 3000).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toMap
    assert(out(1L) == (("en", 1L, 3L, false)))
    assert(out(2L) == (("en", 2L, 3L, false)))
    assert(out(3L) == (("en", 3L, 3L, true)))
    assert(out(10L) == (("en", 10L, 3L, true)))
    assert(out(21L) == (("zh", 1L, 1L, true)))
    assert(out(23L) == (("zh", 2L, 1L, true)))
    assert(out(31L) == (("und", 3L, 3L, true))) // its own group of one
    assert(out.size == 14)
    // qBp = 10000 is the max: floor = the group max, only maxima keep
    val strict = Curation.adaptiveLengthGate(docs, qBp = 10000).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(strict(10L) && !strict(9L) && strict(23L) && !strict(21L))
  }

  test("releaseDatasheet: sections reconcile to corpus totals (r10)") {
    val docs = Seq(
      (1L, "en", "s1", "alpha beta gamma delta epsilon"),
      (2L, "en", "s1", "alpha beta gamma delta epsilon"), // exact dup
      (3L, "fr", "s2", "zeta eta theta iota kappa lambda"),
      (4L, null.asInstanceOf[String], "s2", "mu nu xi")
    ).toDF("doc_id", "lang", "source", "text")
    val sheet = Curation.releaseDatasheet(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(sheet(("corpus", "n_docs")) == 4L)
    assert(sheet(("corpus", "sum_tokens")) == 5L + 5L + 6L + 3L)
    assert(sheet(("corpus", "n_distinct_contents")) == 3L)
    assert(sheet(("dedup", "n_exact_dup_docs")) == 1L)
    assert(sheet(("lang", "en")) == 2L && sheet(("lang", "fr")) == 1L &&
      sheet(("lang", "und")) == 1L)
    assert(sheet(("source", "s1")) == 2L && sheet(("source", "s2")) == 2L)
    // sections reconcile: lang and source breakdowns each sum to n_docs
    def secSum(s: String) = sheet.collect { case ((`s`, _), v) => v }.sum
    assert(secSum("lang") == 4L && secSum("source") == 4L &&
      secSum("script") == 4L)
    assert(sheet(("quality", "gopher_pass")) +
      sheet(("quality", "gopher_fail")) == 4L)
  }

  test("packingBoundaries: spans tile every chunk and every doc exactly (r10)") {
    // token counts 3, 4, 2, 6 at budget 4:
    //   doc 1 off 0: chunk 0 [0,3)
    //   doc 2 off 3: chunk 0 [3,4) + chunk 1 [0,3)  (straddles)
    //   doc 3 off 7: chunk 1 [3,4) + chunk 2 [0,1)  (straddles)
    //   doc 4 off 9: chunk 2 [1,4) + chunk 3 [0,3)
    val docs = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "h i"),
      (4L, "j k l m n o")).toDF("doc_id", "text")
    val out = Curation.packingBoundaries(docs, "doc_id", "text", 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, 1L, 0L, 3L), (0L, 2L, 3L, 4L),
      (1L, 2L, 0L, 3L), (1L, 3L, 3L, 4L),
      (2L, 3L, 0L, 1L), (2L, 4L, 1L, 4L),
      (3L, 4L, 0L, 3L)))
    // invariants on the fixture corpus: per-doc spans sum to its tokens;
    // per-chunk spans tile [0, budget) without gap or overlap (except
    // the final partial chunk, which ends at the total's remainder)
    val fixture = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val b = Curation.packingBoundaries(fixture, "doc_id", "text", 64L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val perDoc = b.groupBy(_._2).view.mapValues(_.map(s => s._4 - s._3).sum).toMap
    val nTok = fixture.select($"doc_id",
        size(graft.text.TextAnalysis.tokens(lower($"text"))).cast("long"))
      .as[(Long, Long)].collect().toMap
    nTok.filter(_._2 > 0).foreach { case (id, n) =>
      assert(perDoc(id) == n, s"doc $id spans ${perDoc.get(id)} != $n tokens")
    }
    b.groupBy(_._1).foreach { case (c, spans) =>
      val sorted = spans.sortBy(_._3)
      assert(sorted.head._3 == 0L)
      sorted.sliding(2).foreach {
        case Array(x, y) => assert(x._4 == y._3, s"gap in chunk $c")
        case _ =>
      }
    }
  }

  test("percentileThresholds == reference lower quantile over random groups (r10)") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map { i =>
      (s"g${i % 7}", (rnd.nextInt(40) + 1).toLong)
    }
    val df = rows.toDF("grp", "v")
    for (qBp <- Seq(1, 500, 2500, 5000, 9999, 10000)) {
      val got = Curation.percentileThresholds(df, "grp", "v", qBp)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        val n = sorted.length.toLong
        // smallest k with k*10^4 >= qBp*n, then the k-th smallest value
        val k = ((qBp * n + 9999) / 10000).toInt
        g -> sorted(k - 1)
      }
      assert(got == want, s"qBp=$qBp: $got vs $want")
    }
  }

  test("adaptiveLengthGateIncremental: merged-state gate == one-shot on the batch (r10)") {
    val all = ((1 to 10).map(i =>
        (i.toLong, "en", Seq.fill(i)("w").mkString(" "))) ++ Seq(
        (21L, "zh", "w"), (22L, "zh", "w"), (23L, "zh", "w w"))
      ).toDF("doc_id", "lang", "text")
    val hist = all.filter($"doc_id" <= 5L || $"doc_id" >= 21L)
    val batch = all.filter($"doc_id" > 5L && $"doc_id" < 21L)
    // merged partials == the direct full-corpus histogram
    val merged = Curation.mergeValueCounts(
        Curation.lengthHistogram(hist).unionByName(
          Curation.lengthHistogram(batch)))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = Curation.lengthHistogram(all)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == direct)
    // gating the batch under merged state == the one-shot gate's batch rows
    val inc = Curation.adaptiveLengthGateIncremental(
        batch, Curation.lengthHistogram(hist), qBp = 3000)
      .collect().map(_.toSeq).toSeq
    val oneShot = Curation.adaptiveLengthGate(all, qBp = 3000)
      .filter($"doc_id" > 5L && $"doc_id" < 21L)
      .collect().map(_.toSeq).toSeq
    assert(inc == oneShot && inc.nonEmpty)
    // and the honest drift: the same batch against EMPTY state fits its
    // own distribution (floor from 6..10 is 7 at p30, not the corpus's 3)
    val cold = Curation.adaptiveLengthGateIncremental(
        batch, Curation.lengthHistogram(all.filter(lit(false))), qBp = 3000)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(cold(6L) == 7L)
  }

  test("releaseShards: prefix-sum cut in shuffle order, totals and xor reconcile (r10)") {
    val fixture = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val budget = 256L
    val out = Curation.releaseShards(fixture, "doc_id", "text", budget).collect()
    // the semantic twin: one global window over the same shuffle order
    val nTok = size(graft.text.TextAnalysis.tokens(lower(col("text")))).cast("long")
    val fp = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("shuffle_pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val twin = Curation.shuffleCorpus(fixture, "text", "rel42", 64)
      .select(col("shuffle_pos"), nTok.as("n"), fp.as("f"))
      .withColumn("off", sum(col("n")).over(w) - col("n"))
      .withColumn("shard_id", floor(col("off") / budget))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"),
        expr("bit_xor(f)").as("content_fp"))
      .orderBy("shard_id").collect()
    assert(out.toSeq.map(_.toSeq) == twin.toSeq.map(_.toSeq))
    // shard ids are contiguous from 0; sizes read budget +- one doc
    val ids = out.map(_.getAs[Long]("shard_id"))
    assert(ids.toSeq == (0L until ids.length).toSeq)
    val maxDoc = fixture.select(max(nTok)).collect().head.getLong(0)
    out.dropRight(1).foreach { r =>
      val t = r.getAs[Long]("sum_tokens")
      assert(t >= budget - maxDoc + 1 && t < budget + maxDoc,
        s"shard ${r.getAs[Long]("shard_id")} holds $t tokens")
    }
    // reconciliation: the manifest covers the corpus exactly
    assert(out.map(_.getAs[Long]("n_docs")).sum == fixture.count())
    assert(out.map(_.getAs[Long]("sum_tokens")).sum ==
      fixture.select(sum(nTok)).collect().head.getLong(0))
    assert(out.map(_.getAs[Long]("content_fp")).reduce(_ ^ _) ==
      fixture.select(expr(
        "bit_xor(cast(conv(substring(md5(text), 1, 15), 16, 10) as long))"))
        .collect().head.getLong(0))
  }
}
