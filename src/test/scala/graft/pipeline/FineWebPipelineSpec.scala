package graft.pipeline

import graft.{FineWebFixture, SparkSpec}
import graft.text.GopherRules
import org.apache.spark.sql.functions._

/** Pins the FineWeb preset's per-stage attrition on the engineered
  * fixture — every stage must claim exactly its designated victims
  * (see [[graft.FineWebFixture]]); the end-to-end values are
  * hash-checked against the DuckDB WITH-chain by the driver gate. */
class FineWebPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val th = GopherRules.Thresholds(minWords = 20L, minStopHits = 1L)
  private def fixture = FineWebFixture.docs.toDF("doc_id", "text")

  private def run(minAvgWeightMicro: Long = -400000L) =
    FineWebPipeline(fixture, gopherTh = th,
        minAvgWeightMicro = minAvgWeightMicro)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  test("C4 stage kills the brace, lorem-ipsum, and thin pages") {
    val ids = C4Filters.clean(fixture).select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(3L) && !ids.contains(4L) && !ids.contains(5L))
    assert(Set(1L, 2L, 6L, 7L, 8L, 9L, 11L, 12L, 13L, 14L, 20L, 21L).subsetOf(ids))
  }

  test("gates: rules drop the short page, repetition drops the repeated-line page") {
    val c4 = C4Filters.clean(fixture)
      .select(col("doc_id"), col("clean_text").as("text"))
    val afterRules = c4.filter(GopherRules.passExpr(col("text"), th))
      .select("doc_id").as[Long].collect().toSet
    assert(!afterRules.contains(6L), "doc 6 is under the 20-word floor")
    assert(afterRules.contains(7L), "doc 7 passes rules; repetition must catch it")
    val afterRep = c4.filter(GopherRules.passExpr(col("text"), th))
      .filter(graft.text.GopherRepetition.passExpr(col("text")))
      .select("doc_id").as[Long].collect().toSet
    assert(!afterRep.contains(7L), "doc 7's 4x duplicated line must fail the gate")
  }

  test("end-to-end survivors and the per-stage victims in between") {
    // With the DSIR floor disabled, everything that reaches stage 7
    // survives: 13 fell to exact dedup (intact twin of 11 — its leading
    // tokens are non-anchors, so substring dedup could not touch it
    // first), 12 and 20 fell to decontamination, 2/8/11 are still here.
    val noFloor = run(minAvgWeightMicro = Long.MinValue)
    assert(noFloor.keySet == Set(1L, 2L, 8L, 9L, 11L, 14L, 21L),
      s"pre-DSIR survivors wrong: ${noFloor.keySet}")
    // The real floor then keeps the two targets (9, 21) and the docs
    // whose per-token weight clears it, dropping the common-vocabulary
    // pages 2, 8, 11.
    val out = run()
    assert(out.keySet == Set(1L, 9L, 14L, 21L), s"survivors wrong: ${out.keySet}")
    // Substring dedup hit doc 9 (shared passage at a SHIFTED offset —
    // only the anchored start rule aligns it with doc 8's copy): its
    // surviving token count is far below its gated size, while keeper
    // doc 8 stayed intact at 41 tokens pre-DSIR.
    assert(out(9L)._2 == 24L, s"doc 9 should keep 24 tokens, got ${out(9L)._2}")
    assert(noFloor(8L)._2 == 41L, s"doc 8 (keeper) must stay intact")
    // Packing: 118 tokens over budget 64 span chunks 0 and 1, shuffle
    // positions are the contiguous ranks 1..4.
    assert(out.values.map(_._1).toSeq.sorted == Seq(1L, 2L, 3L, 4L))
    assert(out.values.map(_._2).sum == 118L)
    assert(out.values.map(_._3).max == 1L)
  }

  test("funnel reports the per-stage attrition of exactly this fixture") {
    val f = FineWebPipeline.funnel(fixture, gopherTh = th)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(f == Map(
      "raw" -> 15L,             // all fixture docs
      "c4" -> 12L,              // −3 (brace, lorem-ipsum, thin pages)
      "gates" -> 10L,           // −2 (word floor, repeated lines)
      "substring_floor" -> 10L, // doc 9 loses its passage but clears the floor
      "exact_dedup" -> 9L,      // −1 (twin 13)
      "decontaminate" -> 7L,    // −2 (contaminated 12, benchmark 20)
      "dsir" -> 4L),            // −3 (below the per-token weight floor)
      s"funnel drifted: $f")
  }

  test("output is invariant to input partitioning") {
    // Every stage is content-keyed or ranked by prefix sum, so the
    // physical layout of the input must not leak into the result — the
    // property that makes the composition reproducible on a cluster.
    val a = FineWebPipeline(fixture, gopherTh = th).collect().toSeq
    val b = FineWebPipeline(fixture.repartition(7), gopherTh = th).collect().toSeq
    assert(a == b, s"partitioning changed the output:\n$a\nvs\n$b")
  }

  test("incremental == batch rows of the full recompute, across splits") {
    // The union-equivalence contract at preset scope: splits chosen so
    // each cross-batch mechanism fires at least once — 9 puts keeper 8
    // in history and shifted copy 9 in the batch (window-index probe);
    // 12 puts twin 11 in history and 13 in the batch (content-index
    // probe); 5 puts nearly everything in the batch (within-batch
    // paths). The bench is the FIXED full slice in both forms.
    val all = fixture
    val bench = FineWebPipeline.benchSlice(all)
    val full = FineWebPipeline.stages(all, gopherTh = th).sampled
    for (split <- Seq(5L, 9L, 12L)) {
      val st = FineWebPipeline.state(all.filter(col("doc_id") < split), bench,
        gopherTh = th)
      val inc = FineWebPipeline.incremental(all.filter(col("doc_id") >= split),
          st, gopherTh = th)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val expect = full.filter(col("doc_id") >= split)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(inc == expect, s"split $split drifted:\n$inc\nvs\n$expect")
    }
  }

  test("incremental state composes across chained batches") {
    // state → batch1 → stateAfterBatch → batch2: the CLEANING stages
    // (1-6) must equal the full recompute's batch rows — the invariant
    // that makes a corpus build append-only forever — and release-time
    // DSIR selection over the accumulated clean rows + final merged
    // counts must equal the full recompute's selection. (Per-batch
    // `sampled` intentionally uses the counts known SO FAR — selection
    // is global, so mid-build batches finalize at release, not on
    // arrival.)
    val all = fixture
    val bench = FineWebPipeline.benchSlice(all)
    val hist = all.filter(col("doc_id") < 9)
    val st0 = FineWebPipeline.state(hist, bench, gopherTh = th)
    val b1 = all.filter(col("doc_id") >= 9 && col("doc_id") < 13)
    val b2 = all.filter(col("doc_id") >= 13)
    val inc1 = FineWebPipeline.incrementalStages(b1, st0, gopherTh = th)
    val st1 = FineWebPipeline.stateAfterBatch(st0, inc1)
    val inc2 = FineWebPipeline.incrementalStages(b2, st1, gopherTh = th)
    def rows(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val full = FineWebPipeline.stages(all, gopherTh = th)
    val gotClean = rows(inc1.clean.collect() ++ inc2.clean.collect())
    val expectClean = rows(full.clean.filter(col("doc_id") >= 9).collect())
    assert(gotClean == expectClean,
      s"chained cleaning drifted:\n$gotClean\nvs\n$expectClean")
    // release-time selection: history clean ∪ both batches' clean rows,
    // scored with the fully-merged count table.
    val st2 = FineWebPipeline.stateAfterBatch(st1, inc2)
    val allClean = FineWebPipeline.stages(hist, gopherTh = th,
        benchOverride = Some(bench)).clean
      .unionByName(inc1.clean).unionByName(inc2.clean)
    val got = rows(FineWebPipeline.dsirSelect(allClean, st2.dsirCounts).collect())
    val expect = rows(full.sampled.collect())
    assert(got == expect, s"release-time selection drifted:\n$got\nvs\n$expect")
  }

  test("seed changes the order, not the membership") {
    val a = FineWebPipeline(fixture, gopherTh = th)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    val b = FineWebPipeline(fixture, gopherTh = th, seed = "other-seed")
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(a.keySet == b.keySet)
    assert(a != b, "a new seed must produce a different permutation")
  }

  test("NFC ahead of the dedup keys: an NFD twin collapses in exact dedup (r10)") {
    // Same proof shape as the RefinedWeb placement spec: the twin is
    // byte-different (raw md5/window hashes would never match) and
    // collapses only because c4Stage NFC-normalizes the cleaned text
    // before any hashing stage. width = 50 keeps the 38-token page
    // window-free, so the collapse is pinned to the EXACT-dedup stage.
    val composed = Seq(
      "The café menu lists nine warm drinks for the cold season every day.",
      "Our café kitchen bakes fresh bread and serves the town at dawn daily.",
      "Visitors praise the café staff for the calm rooms and the fair prices.")
      .mkString("\n")
    val decomposed =
      java.text.Normalizer.normalize(composed, java.text.Normalizer.Form.NFD)
    assert(composed != decomposed, "fixture must be byte-different")
    val docs = Seq((1L, composed), (2L, decomposed)).toDF("doc_id", "text")
    val st = FineWebPipeline.stages(docs, gopherTh = th, width = 50,
      minAvgWeightMicro = Long.MinValue)
    assert(st.sub.select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
      "window-free fixture: both docs must reach exact dedup intact")
    assert(st.keepers.select("doc_id").as[Long].collect().toSet == Set(1L),
      "the NFD twin must collapse onto the min-id keeper")
  }
}
