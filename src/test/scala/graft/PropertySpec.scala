package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY §5.3). Each property runs a real
  * Spark job, so the iteration count is kept small — the point is
  * randomized STRUCTURE (dup patterns, gaps, empty edge cases), not volume. */
class PropertySpec extends AnyFunSuite with SparkSpec with GraphPaths {
  import spark.implicits._

  /** Deterministic property loop over fixed seeds (no scalatest-scalacheck
    * bridge in the offline dep set; fixed seeds also make CI stable). */
  private def forAll[A](gen: Gen[A], n: Int = 8)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default.withSize(30), Seed(42L + i)))
    }
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))
  private def whenever(c: Boolean)(f: => Unit): Unit = if (c) f

  private val urlGen = Gen.listOf(Gen.oneOf((1 to 12).map(i => s"https://ex.com/a/$i")))

  test("anti-join dedup is idempotent and equals set difference on keys") {
    forAll2(urlGen, urlGen) { (cand: List[String], existing: List[String]) =>
      val c = cand.toDF("sources")
      val e = existing.toDF("sources")
      val once = graft.ingest.Ingest.newCandidates(c, e)
      val got = once.select("sources").as[String].collect().toSet
      assert(got == cand.toSet -- existing.toSet)
      // idempotence: re-ingesting after appending yields nothing new
      val after = e.select("sources").union(once.select("sources"))
      assert(graft.ingest.Ingest.newCandidates(c, after).isEmpty)
    }
  }

  test("word counts are partition-merge invariant (partial agg correctness)") {
    val textGen = Gen.listOf(Gen.oneOf("alpha beta", "beta gamma delta", "", "Alpha ALPHA"))
    forAll(textGen) { texts: List[String] =>
      whenever(texts.nonEmpty) {
        val df1 = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text").repartition(1)
        val df7 = df1.repartition(7)
        def counts(df: org.apache.spark.sql.DataFrame) =
          graft.text.WordFrequencies(df).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(counts(df1) == counts(df7))
      }
    }
  }

  test("date spine densely covers [min, max] with zero-filled gaps") {
    val dayGen = Gen.nonEmptyListOf(Gen.choose(0, 60))
    forAll(dayGen) { offsets: List[Int] =>
      val rows = offsets.zipWithIndex.map { case (d, i) =>
        (i.toLong, java.sql.Timestamp.valueOf(s"2024-01-01 12:00:00").toInstant
          .plusSeconds(d * 86400L))
      }
      val df = rows.map { case (id, ts) => (id, java.sql.Timestamp.from(ts)) }
        .toDF("event_id", "ts")
      val out = graft.analytics.Timeline(df, "ts").collect()
      val dates = out.map(_.getDate(0).toLocalDate)
      // dense: every day between min and max present exactly once, ordered
      assert(dates.length ==
        java.time.temporal.ChronoUnit.DAYS.between(dates.head, dates.last) + 1)
      assert(dates.sliding(2).forall {
        case Array(a, b) => a.plusDays(1) == b
        case _ => true
      })
      // counts sum to input size; gap days are zero
      assert(out.map(_.getLong(1)).sum == offsets.length)
    }
  }

  test("jaccardSorted equals the intersect/union form on arbitrary sets") {
    val setGen = Gen.listOf(Gen.oneOf("a", "b", "cc", "ddd", "e", "f"))
    forAll2(setGen, setGen) { (xs: List[String], ys: List[String]) =>
      val df = Seq((xs.distinct.sorted, ys.distinct.sorted)).toDF("a", "b")
        .withColumn("na", size(col("a"))).withColumn("nb", size(col("b")))
      val viaWalk = df.select(
        graft.dedup.Dedup.jaccardSorted(col("a"), col("b"), col("na"), col("nb"))).head()
      val viaSets = df.select(
        graft.dedup.Dedup.jaccard(col("a"), col("b"))).head()
      if (viaSets.isNullAt(0)) assert(viaWalk.isNullAt(0))
      else assert(viaWalk.getDouble(0) == viaSets.getDouble(0))
    }
  }

  test("asofJoin equals the naive per-row max-scan on random series") {
    // left/right: (key, t) with deliberately colliding timestamps
    val rowsGen = for {
      nl <- Gen.choose(1, 15)
      nr <- Gen.choose(0, 15)
      l <- Gen.listOfN(nl, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 12L)))
      r <- Gen.listOfN(nr, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 12L)))
    } yield (l, r.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) })
    forAll(rowsGen, n = 6) { case (l, r) =>
      val left = l.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "lid")
      val right = r.toDF("k", "t", "rid")
      val got = graft.relational.AsOf.asofJoin(left, right, "k", "t", "t",
          Seq("rid" -> "rid"), tieBreak = Some("rid"))
        .collect().map(x => x.getLong(2) -> (if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
      // naive: for each left row, max (t, rid) among right rows with
      // same key and t' <= t
      val expected = l.zipWithIndex.map { case ((k, t), i) =>
        val elig = r.filter { case (rk, rt, _) => rk == k && rt <= t }
        i.toLong -> (if (elig.isEmpty) -1L
                     else elig.maxBy { case (_, rt, rid) => (rt, rid) }._3)
      }.toMap
      assert(got == expected)
    }
  }

  test("rangeJoin equals the naive theta join on random intervals") {
    val gen = for {
      np <- Gen.choose(1, 12)
      ni <- Gen.choose(0, 8)
      ps <- Gen.listOfN(np, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 50L)))
      is <- Gen.listOfN(ni, for {
        k <- Gen.choose(0L, 2L)
        s <- Gen.choose(0L, 45L)
        len <- Gen.choose(1L, 30L)
      } yield (k, s, s + len))
    } yield (ps, is)
    forAll(gen, n = 6) { case (ps, is) =>
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
      val points = ps.zipWithIndex.map { case ((k, t), i) =>
        (i.toLong, k, ts(t)) }.toDF("pid", "k", "t")
      val intervals = is.zipWithIndex.map { case ((k, s, e), i) =>
        (k, ts(s), ts(e), i.toLong) }.toDF("k", "s", "e", "iid")
      val got = graft.relational.RangeJoin.pointInInterval(points, intervals,
          "t", "s", "e", Seq("k"), Seq("iid" -> "iid"), binSeconds = 7L)
        .collect().map(x => (x.getLong(0), x.getLong(3))).toSet
      val expected = (for {
        ((pk, pt), pi) <- ps.zipWithIndex
        ((ik, s, e), ii) <- is.zipWithIndex
        if ik == pk && pt >= s && pt < e
      } yield (pi.toLong, ii.toLong)).toSet
      assert(got == expected)
    }
  }

  graphTest("star-contraction CC equals min-label CC on random graphs (incl. chains)") {
    val edgeGen = for {
      n <- Gen.choose(8, 40)
      // a chain fragment (min-label's worst case) plus random cross edges
      chainKeep <- Gen.listOfN(n - 1, Gen.prob(0.7))
      extra <- Gen.listOfN(n / 2, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield {
      val chain = (0 until n - 1).zip(chainKeep).collect { case (i, true) => (i.toLong, i + 1L) }
      val rand = extra.collect { case (a, b) if a != b => (math.min(a, b).toLong, math.max(a, b).toLong) }
      (n, (chain ++ rand).distinct)
    }
    forAll(edgeGen, n = 5) { case (n, edges) =>
      val ids = (0L until n.toLong).toDF("doc_id")
      val pairs = if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id_a", "id_b")
                  else edges.toDF("id_a", "id_b")
      val minLabel = graft.dedup.Dedup.clusterKeepers(ids, pairs, maxIter = 64)
        .as[(Long, Long)].collect().toSeq
      val star = graft.dedup.StarComponents.clusterKeepersStar(ids, pairs)
        .as[(Long, Long)].collect().toSeq
      assert(star == minLabel)
    }
  }

  test("quantile sketch: estimate within width of the rank statistic, merge exact") {
    val centsGen = for {
      n <- Gen.choose(30, 200)
      vs <- Gen.listOfN(n, Gen.choose(100L, 5000000L))
    } yield vs
    forAll(centsGen, n = 5) { cents =>
      val w = 10000L
      val df = cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("id", "c")
      val sk = graft.relational.QuantileSketch.sketch(
        df.withColumn("g", lit("x")), col("c"), w, "g")
      val est = graft.relational.QuantileSketch
        .quantiles(sk, w, Seq("p50" -> 0.5, "p90" -> 0.9), "g")
        .collect().map(r => (r.getLong(2), r.getLong(3))).head
      val sorted = cents.sorted
      def atRank(q: Double) = sorted((math.ceil(q * sorted.length).toLong.max(1L) - 1).toInt)
      assert(math.abs(est._1 - atRank(0.5)) < w, s"p50 ${est._1} vs ${atRank(0.5)}")
      assert(math.abs(est._2 - atRank(0.9)) < w, s"p90 ${est._2} vs ${atRank(0.9)}")
      // merge of any split is the whole sketch
      val (a, b) = cents.zipWithIndex.partition(_._2 % 3 == 0)
      def skOf(vs: Seq[(Long, Int)]) = graft.relational.QuantileSketch.sketch(
        vs.map { case (c, i) => (i.toLong, c) }.toDF("id", "c")
          .withColumn("g", lit("x")), col("c"), w, "g")
      val merged = graft.relational.QuantileSketch.merge(skOf(a), skOf(b))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val whole = sk.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(merged == whole)
    }
  }

  test("hll: error within 3x rsd across random key sets; merge equals whole") {
    val keysGen = for {
      n <- Gen.choose(50, 400)
      ks <- Gen.listOfN(n, Gen.choose(0L, 100000L))
    } yield ks
    forAll(keysGen, n = 5) { keys =>
      val df = keys.map(k => ("g", k)).toDF("g", "k")
      val out = graft.relational.Hll.distinctWithExact(df, "k", "g")
        .collect().map(r => (r.getLong(1), r.getLong(2))).head
      val (exact, est) = out
      assert(exact == keys.distinct.size.toLong)
      val err = math.abs(est - exact).toDouble / exact
      assert(err < 0.15, s"exact $exact vs hll $est (err $err)")
      val (a, b) = keys.partition(_ % 2 == 0)
      def skOf(ks: Seq[Long]) = graft.relational.Hll.sketch(
        ks.map(k => ("g", k)).toDF("g", "k"), "k", "g")
      val parts = Seq(a, b).filter(_.nonEmpty).map(skOf)
      val merged = graft.relational.Hll.merge(parts: _*)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val whole = skOf(keys).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(merged == whole)
    }
  }

  test("excludeByKey equals key-set difference and is idempotent (r9)") {
    val rowsGen = Gen.listOf(Gen.zip(Gen.choose(1L, 40L), Gen.oneOf("a", "b", "c", "d")))
    val listGen = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e"))
    forAll2(rowsGen, listGen) { (rows, excl) =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("id", "k")
        val ex = excl.toDF("k")
        val out = graft.pipeline.Curation.excludeByKey(df, col("k"), ex)
          .collect().map(r => (r.getLong(0), r.getString(1))).toList
        val want = rows.filterNot { case (_, k) => excl.contains(k) }
        assert(out.sorted == want.sorted)
        val twice = graft.pipeline.Curation.excludeByKey(
            out.toDF("id", "k"), col("k"), ex)
          .collect().map(r => (r.getLong(0), r.getString(1))).toList
        assert(twice.sorted == out.sorted)
      }
    }
  }

  test("domainCaps: at most cap per registered domain, winners by the order (r9)") {
    val gen = for {
      n <- Gen.choose(1, 60)
      hosts <- Gen.listOfN(n, Gen.oneOf(
        "x.site.com", "y.site.com", "site.com", "other.org", "m.other.org"))
    } yield hosts.zipWithIndex.map { case (h, i) => (i.toLong, s"https://$h/p/$i") }
    forAll(gen, n = 5) { rows =>
      val df = rows.toDF("id", "url")
      val out = graft.pipeline.Curation
        .domainCaps(df, "url", 4, Seq(col("id").asc))
        .collect().map(r => (r.getLong(0), r.getString(2))).toList
      val byDom = out.groupBy(_._2)
      assert(byDom.values.forall(_.size <= 4))
      // winners per domain = the cap lowest ids of that registered domain
      val expectDoms = rows.map { case (i, u) =>
        i -> (if (u.contains("site.com")) "site.com" else "other.org")
      }
      expectDoms.groupBy(_._2).foreach { case (dom, members) =>
        val want = members.map(_._1).sorted.take(4).toSet
        assert(byDom.getOrElse(dom, Nil).map(_._1).toSet == want, s"domain $dom")
      }
    }
  }

  test("prefix-filtered set-sim join equals brute force on random corpora (r10)") {
    // Random docs over a tiny vocabulary maximize near-dup collisions and
    // exercise ties in the (df, token) order; thresholds span wide/narrow
    // prefixes. Losslessness must hold for every draw.
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val docGen = Gen.nonEmptyListOf(wordGen).map(_.mkString(" "))
    val corpusGen = Gen.nonEmptyListOf(docGen)
    forAll2(corpusGen, Gen.oneOf(0.5, 0.7, 0.9)) { (texts, t) =>
      val df = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "text")
      val got = graft.dedup.SetSimJoin.jaccardJoin(df, "doc_id", "text", t)
        .as[(Long, Long, Double)].collect().toSet
      val tt = df.select(col("doc_id").as("id"),
        graft.dedup.Dedup.tokenSet(col("text")).as("toks"))
      val brute = tt.select(col("id").as("id_a"), col("toks").as("toks_a"))
        .crossJoin(tt.select(col("id").as("id_b"), col("toks").as("toks_b")))
        .filter(col("id_a") < col("id_b"))
        .withColumn("jaccard",
          round(graft.dedup.Dedup.jaccard(col("toks_a"), col("toks_b")), 4))
        .filter(col("jaccard") >= t)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == brute, s"threshold $t over ${texts.size} docs")
    }
  }

  test("incremental set-sim join over a random split == full-join batch rows (r10)") {
    // Random corpora + a random split point: index the low-id half,
    // probe the high-id half; result must equal the full join's
    // batch-involving rows regardless of where the split lands or how
    // token frequencies drifted between the halves.
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val docGen = Gen.nonEmptyListOf(wordGen).map(_.mkString(" "))
    val corpusGen = Gen.nonEmptyListOf(docGen)
    forAll2(corpusGen, Gen.choose(0, 10)) { (texts, splitRaw) =>
      val df = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "text")
      val split = (splitRaw % (texts.size + 1)).toLong
      val hist = df.filter(col("doc_id") < split)
      val batch = df.filter(col("doc_id") >= split)
      whenever(hist.count() > 0 && batch.count() > 0) {
        val idx = graft.dedup.SetSimJoin.index(hist, "doc_id", "text", 0.6)
        val got = graft.dedup.SetSimJoin
          .incremental(batch, "doc_id", "text", 0.6, idx)
          .as[(Long, Long, Double)].collect().toSet
        val full = graft.dedup.SetSimJoin.jaccardJoin(df, "doc_id", "text", 0.6)
          .as[(Long, Long, Double)].collect().toSet
        assert(got == full.filter(_._2 >= split),
          s"split at $split over ${texts.size} docs")
      }
    }
  }

  test("nfcNormalize agrees with java.text.Normalizer and is idempotent (r9)") {
    val charGen = Gen.oneOf[String](
      "a", "z", "é", "é", "Å", "Å", "ö", "ö", "中", " ", "1")
    val sGen = Gen.listOf(charGen).map(_.mkString)
    forAll(sGen) { s =>
      val out = Seq(s).toDF("t")
        .select(org.apache.spark.sql.graft.ArrayFunctions.nfcNormalize(col("t")))
        .collect().head.getString(0)
      val want = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      assert(out == want)
      val again = Seq(out).toDF("t")
        .select(org.apache.spark.sql.graft.ArrayFunctions.nfcNormalize(col("t")))
        .collect().head.getString(0)
      assert(again == out)
    }
  }

  test("Links.resolve agrees with java.net.URI on the supported subset (r10)") {
    // Bases: scheme + host [+ port] + a dot-free path; hrefs from the
    // four RESOLVED contract classes (absolute http(s), scheme-relative,
    // root-relative, path-relative — including dot segments that never
    // pop past the href's own depth, where java.net.URI and CPython's
    // urljoin agree; the underflow/empty-segment cases where the two
    // diverge are pinned to urljoin's exact outputs in LinksSpec) plus
    // the dropped classes, asserted to resolve to null.
    val seg = Gen.oneOf("a", "b1", "long-segment", "x_y")
    val baseGen = for {
      scheme <- Gen.oneOf("http", "https")
      host <- Gen.oneOf("ex.com", "sub.ex.org", "h-1.net:8080")
      segs <- Gen.listOf(seg)
      trailing <- Gen.oneOf("", "/")
    } yield s"$scheme://$host" +
      (if (segs.isEmpty) "" else segs.mkString("/", "/", "")) + trailing
    val resolvedHref = Gen.oneOf(
      Gen.const("https://other.net/abs?q=1"),
      Gen.oneOf("//cdn.ex.com/lib.js", "//mirror.org/x"),
      seg.map("/" + _),
      Gen.zip(seg, seg).map { case (a, b) => s"$a/$b.html" },
      seg.map(_ + ".html"),
      seg.map(s => s"./$s"),
      Gen.zip(seg, seg).map { case (a, b) => s"$a/../$b" },
      Gen.zip(seg, seg).map { case (a, b) => s"$a/./$b.html" })
    forAll2(baseGen, Gen.listOfN(6, resolvedHref)) { (base, hrefs) =>
      val got = hrefs.zipWithIndex.map { case (h, i) => (i, base, h) }
        .toDF("i", "b", "h")
        .select(col("i"), graft.ingest.Links.resolve(col("b"), col("h")))
        .collect().sortBy(_.getInt(0)).map(_.getString(1)).toSeq
      val want = hrefs.map(h => new java.net.URI(base).resolve(h).toString)
      assert(got == want, s"base=$base hrefs=$hrefs")
    }
    // dropped classes are null regardless of base
    forAll(baseGen) { base =>
      val dropped = Seq("javascript:void(0)", "mailto:a@b.c", "#frag",
        "?page=2", "")
      val got = dropped.toDF("h")
        .select(graft.ingest.Links.resolve(lit(base), col("h")))
        .collect().map(_.isNullAt(0)).toSeq
      assert(got.forall(identity), s"base=$base")
    }
  }
}
