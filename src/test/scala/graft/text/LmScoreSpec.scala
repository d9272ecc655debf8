package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the bigram LM scorer: hand-computed MLE costs, non-negativity,
  * the fluency ordering it exists to produce, and bigram-less handling. */
class LmScoreSpec extends SparkSpec {
  import spark.implicits._

  test("hand-computed Laplace costs on a 3-doc corpus") {
    // Corpus: "a b", "a b", "a c". Unigrams: a=3, b=2, c=1; V = 3.
    // Bigrams: "a b"=2, "a c"=1.
    // cost("a b") = floor(ln((3+3)/(2+1))*1e6) = floor(ln(2)*1e6) = 693147
    // cost("a c") = floor(ln((3+3)/(1+1))*1e6) = floor(ln(3)*1e6) = 1098612
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val out = LmScore.scores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (1L, 693147L, 693147L))
    assert(out(2L) == (1L, 693147L, 693147L))
    assert(out(3L) == (1L, 1098612L, 1098612L))
  }

  test("costs are non-negative and common phrasing scores lower") {
    val common = (1 to 20).map(_ => "the quick brown fox jumps").mkString(" ")
    val docs = (1 to 10).map(i => (i.toLong, common)) :+
      (99L, "zxq qzx xqz qxz zqx")
    val out = LmScore.scores(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out.values.forall(_ >= 0L))
    assert(out(1L) < out(99L)) // repeated fluent phrasing beats unique junk
  }

  test("quality floor keeps the at-or-below-median half") {
    val docs = ((1 to 8).map(i => (i.toLong, "the quick brown fox")) :+
      (9L, "qzx zxq xqz")).toDF("doc_id", "text")
    val kept = LmScore.qualityFloor(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    // 8 identical fluent docs share the minimum cost = the median; the
    // junk doc sits above it and drops.
    assert(kept == (1L to 8L).toSet)
  }

  test("perplexity buckets: terciles ordered by cost, sizes differ by at most one") {
    // 7 docs with strictly increasing junk content → distinct costs.
    val docs = ((1 to 4).map(i => (i.toLong, "the quick brown fox jumps high")) ++
      Seq((5L, "the quick zxq fox"), (6L, "qzx zxq the fox"), (7L, "qzx zxq xqz qxz")))
      .toDF("doc_id", "text")
    val out = LmScore.perplexityBuckets(docs)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    val byTier = out.groupBy(_._3).view.mapValues(_.map(_._2).toSeq).toMap
    // NTILE(3) of 7 rows: sizes 3, 2, 2, larger buckets first.
    assert(byTier("head").size == 3 && byTier("middle").size == 2 &&
      byTier("tail").size == 2, s"sizes wrong: $out")
    // tier boundaries respect the cost order
    assert(byTier("head").max <= byTier("middle").min)
    assert(byTier("middle").max <= byTier("tail").min)
    // the fluent quadruplet is the head + one; pure junk is tail
    assert(out.find(_._1 == 7L).get._3 == "tail")
    assert((1L to 4L).forall(i =>
      Set("head", "middle")(out.find(_._1 == i).get._3)))
  }

  test("scalable perplexity buckets equal the global-ntile reference, with no global window") {
    // Mixed corpus: dup-cost clusters (shared text -> identical cost,
    // doc_id tie-break) AND distinct costs, n = 11 (= 3*3+2 exercises
    // the big-buckets-first remainder split); every input partitioning
    // must give the same tiers.
    val docs = ((1 to 4).map(i => (i.toLong, "the quick brown fox jumps high")) ++
      (5 to 7).map(i => (i.toLong, "the quick zxq fox")) ++
      Seq((8L, "qzx zxq the fox"), (9L, "qzx zxq xqz qxz"),
        (10L, "zz yy xx ww"), (11L, "the quick brown fox strolls")))
      .toDF("doc_id", "text")
    val ref = LmScore.perplexityBuckets(docs).collect().map(_.toSeq).toSeq
    for (parts <- Seq(1, 3, 8)) {
      val got = LmScore.perplexityBucketsScalable(docs.repartition(parts))
      assert(got.collect().map(_.toSeq).toSeq == ref, s"input partitions=$parts")
    }
    // The scale point: no partition-less window at all — the rank is
    // the range-partitioned prefix sum. (AQE's wrapper node hides the
    // tree from collect(), so plan with AQE off.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = LmScore.perplexityBucketsScalable(docs).queryExecution.executedPlan
      val globalWindows = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty, s"expected no global window:\n$exec")
      assert(!exec.toString.contains("ntile"), "scalable form must not use ntile")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("hand-computed trigram stupid-backoff costs") {
    // Corpus: "a b c" x2, "a b d". Unigrams a=3,b=3,c=2,d=1 -> V=4.
    // Bigrams "a b"=3, "b c"=2, "b d"=1. Trigrams "a b c"=2, "a b d"=1.
    // "a b c": c3=2 >= minCount -> MLE ln(c("a b")/c3) = ln(3/2).
    // "a b d": singleton -> backoff ln((10*(c(b)+V)) / (4*(c("b d")+1)))
    //          = ln(70/8).
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b d"))
      .toDF("doc_id", "text")
    val out = LmScore.scoresTrigram(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val mle = math.floor(math.log(3.0 / 2.0) * 1e6).toLong
    val backoff = math.floor(math.log(70.0 / 8.0) * 1e6).toLong
    assert(out(1L) == (1L, mle))
    assert(out(2L) == (1L, mle))
    assert(out(3L) == (1L, backoff))
    // Backoff must undo the self-fit degeneracy: the singleton trigram
    // costs MORE than the repeated one (unsmoothed MLE would give it 0).
    assert(backoff > mle && mle > 0L)
  }

  test("trigram scorer preserves the fluency ordering") {
    val common = (1 to 20).map(_ => "the quick brown fox jumps").mkString(" ")
    val docs = ((1 to 10).map(i => (i.toLong, common)) :+
      (99L, "zxq qzx xqz qxz zqx wvu uvw")).toDF("doc_id", "text")
    val out = LmScore.scoresTrigram(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out.values.forall(_ >= 0L))
    assert(out(1L) < out(99L))
  }

  test("pruned scoring with minDf=1 is exactly the full scorer") {
    val docs = ((1 to 6).map(i => (i.toLong, "the quick brown fox jumps")) :+
      (7L, "one rare sentence here") :+ (8L, "the quick red fox"))
      .toDF("doc_id", "text")
    val exact = LmScore.scores(docs, "doc_id", "text")
      .collect().map(_.toSeq).toSeq
    val pruned = LmScore.prunedScores(docs, "doc_id", "text", minDf = 1L)
    val rows = pruned.collect()
    assert(rows.map(_.toSeq.dropRight(1)).toSeq == exact)
    assert(rows.forall(_.getLong(4) == 0L)) // no backoff at minDf = 1
  }

  test("pruned scoring broadcasts the head and bounds the estimate error") {
    val docs = ((1 to 6).map(i => (i.toLong, "the quick brown fox jumps")) :+
      (7L, "one rare sentence here") :+ (8L, "the quick red fox"))
      .toDF("doc_id", "text")
    val pruned = LmScore.prunedScores(docs, "doc_id", "text", minDf = 3L)
    // The scale point: the scoring join must be map-side.
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    val est = pruned.collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(4))).toMap
    val exact = LmScore.scores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // Tail bigrams exist (docs 7/8 are rare) and get the constant charge.
    assert(est.values.exists(_._2 > 0L))
    // Head costs are exact, so the estimate differs only on tail
    // occurrences, each off by at most its own true cost vs the
    // singleton constant — bound the relative error per doc.
    exact.foreach { case (id, t) =>
      val rel = math.abs(est(id)._1 - t).toDouble / t.max(1L)
      assert(rel <= 0.6, s"doc $id: exact=$t est=${est(id)._1} rel=$rel")
    }
  }

  test("documents without bigrams are absent; case folds") {
    val docs = Seq((1L, "Solo"), (2L, ""), (3L, "Two TOKENS"), (4L, "two tokens"))
      .toDF("doc_id", "text")
    val out = LmScore.scores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.keySet == Set(3L, 4L))
    assert(out(3L) == out(4L)) // lowercasing merges the bigram stats
  }

  test("cross-fit: in-domain text prices below out-of-domain; OOV priced not dropped") {
    val model = Seq(
      (100L, "the cat sat on the mat"),
      (101L, "the cat sat on the rug")
    ).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the cat sat on the mat"),   // in-domain: every bigram seen
      (2L, "quantum flux capacitor array") // fully out-of-vocabulary
    ).toDF("doc_id", "text")
    val out = LmScore.scoresCrossFit(docs, "doc_id", "text", model, "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    // OOV doc is present (3 bigrams) — priced by backoff, not dropped by
    // the model join — and strictly costlier per bigram than in-domain.
    assert(out.keySet === Set(1L, 2L))
    assert(out(2L)._1 === 3L)
    assert(out(2L)._2 > out(1L)._2)
    // fully-unseen bigram with unseen w1 costs exactly floor(ln(V)*1e6):
    // model vocab V = 6 distinct tokens (the cat sat on mat rug)
    val vCost = math.floor(math.log(6.0) * 1e6).toLong
    assert(out(2L)._2 === vCost) // all three bigrams hit the ln(V) branch
  }

  test("cross-fit with model == corpus equals the self-fit scorer") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val self = LmScore.scores(docs, "doc_id", "text")
    val cross = LmScore.scoresCrossFit(docs, "doc_id", "text", docs, "text")
    assert(cross.exceptAll(self).isEmpty && self.exceptAll(cross).isEmpty)
  }
}
