package graft.text

import graft.SparkSpec

/** The soft-EM reference fit (Kudo 2018's E-step) and the hard-fit
  * divergence audit it exists to quantify (`unigram_fit_divergence`).
  *
  * The forward-backward hand-check: for the word "ab" under the uniform
  * 3-piece vocab {a, b, ab} (each p = 1/3), the two segmentations weigh
  * p([a,b]) = 1/9 and p([ab]) = 3/9, so the posteriors are 1/4 and 3/4
  * and the expected counts are a = b = 0.25, ab = 0.75 — checked to
  * 1e-12 below. The corpus-level test pins the measured vocab overlap
  * between the hard- and soft-EM fits on the sf0.001 dictionary: the
  * divergence the Unigram scaladoc documents, as a number.
  */
class UnigramSoftSpec extends SparkSpec {

  test("forward-backward expected counts match the hand computation") {
    val lp = Map("a" -> math.log(1.0 / 3), "b" -> math.log(1.0 / 3),
      "ab" -> math.log(1.0 / 3))
    val out = scala.collection.mutable.HashMap.empty[String, Double]
    Unigram.addExpectedCounts("ab", 1L, lp, maxLen = 2, out)
    assert(math.abs(out("a") - 0.25) < 1e-12, s"a: ${out("a")}")
    assert(math.abs(out("b") - 0.25) < 1e-12, s"b: ${out("b")}")
    assert(math.abs(out("ab") - 0.75) < 1e-12, s"ab: ${out("ab")}")
    // word count scales linearly
    val out5 = scala.collection.mutable.HashMap.empty[String, Double]
    Unigram.addExpectedCounts("ab", 5L, lp, maxLen = 2, out5)
    assert(math.abs(out5("ab") - 3.75) < 1e-12)
  }

  test("soft fit: expected counts keep every reachable piece until the prune") {
    // hard EM's Viterbi E-step zeroes pieces off the best path; soft EM
    // must keep them with fractional mass. Dictionary where "st" never
    // wins a Viterbi segmentation but always has posterior mass:
    val dict = Array(("st", 1L), ("stone", 3L), ("stack", 3L))
    val soft = Unigram.fitOnDictSoft(dict, vocabSize = 50, maxPieceLen = 3,
      emRounds = 2, seedSize = 50).toMap
    assert(soft.contains("st"), "posterior mass must survive soft rounds")
    // both fits are valid piece tables: all single chars present
    val chars = dict.flatMap(_._1.toSeq).distinct.map(_.toString)
    val hard = Unigram.fitOnDict(dict, 50, 3, 2, 50).toMap
    chars.foreach { c =>
      assert(soft.contains(c) && hard.contains(c), s"char coverage: $c")
    }
  }

  test("loss-ranked prune: a piece with no alternative value drops first (F138)") {
    // "xy" appears only inside "xyz"-family words where "xy" decomposes
    // into cheap singles, while "qu" always rides high-count words whose
    // alternative (q + u, both rare) is expensive — so under Kudo's
    // removal-loss ranking "qu" MUST outrank "xy" whenever both carry
    // mass. The dict spans 11 distinct characters (always kept), so a
    // 12-piece budget admits exactly ONE multi-char survivor.
    val dict = Array(("quite", 50L), ("quick", 50L), ("xyaaa", 2L), ("xybbb", 1L))
    val pruned = Unigram.fitOnDictSoftPruned(dict, vocabSize = 12,
      maxPieceLen = 2, emRounds = 2, seedSize = 60)
    val multi = pruned.map(_._1).filter(_.length > 1)
    val chars = dict.flatMap(_._1.toSeq).distinct.map(_.toString).toSet
    assert(chars.forall(c => pruned.exists(_._1 == c)), "char coverage")
    assert(multi == Seq("qu"),
      s"loss ranking must keep the irreplaceable piece, kept: $multi")
  }

  test("promoted fit mode: SoftEm == the loss-pruned path; budget respected (F138)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val viaMode = Unigram.fit(docs, "text", 400, mode = Unigram.SoftEm)
    val direct = Unigram.fitPiecesSoftPruned(docs, "text", 400)
    assert(viaMode == direct, "the mode switch must be a pure dispatch")
    assert(viaMode.size <= 400, s"vocab budget: ${viaMode.size}")
    // the DEFAULT is the Kudo-faithful soft trainer
    assert(Unigram.fit(docs, "text", 400) == direct,
      "the defaulted mode must be SoftEm")
    val hard = Unigram.fit(docs, "text", 400, mode = Unigram.HardEm)
    assert(hard == Unigram.fitPieces(docs, "text", 400))
    // the promoted soft fit retains more of the requested budget than
    // the hard fit's implicitly-aggressive Viterbi pruning (the F123
    // finding the promotion answers)
    assert(viaMode.size >= hard.size,
      s"soft=${viaMode.size} hard=${hard.size}")
  }

  test("hard vs soft fit on the sf0.001 dictionary: overlap pinned") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val hard = Unigram.fitPieces(docs, "text", 400).map(_._1).toSet
    val soft = Unigram.fitPiecesSoft(docs, "text", 400).map(_._1).toSet
    val jaccard = (hard & soft).size.toDouble / (hard | soft).size
    info(f"hard=${hard.size} soft=${soft.size} " +
      f"inter=${(hard & soft).size} jaccard=$jaccard%.4f")
    // Measured r12 (the number the scaladoc divergence note now cites):
    // hard = 55 pieces, soft = 259, hard STRICTLY CONTAINED in soft,
    // Jaccard 0.21. The divergence is almost entirely the E-steps'
    // PRUNING asymmetry — the Viterbi E-step zeroes any piece that
    // falls off every best path (implicit aggressive pruning far below
    // the requested vocabSize), while forward-backward keeps fractional
    // mass on every reachable piece up to the final cap.
    assert(hard.subsetOf(soft),
      "every hard survivor must carry soft mass above the prune line")
    assert(soft.size > hard.size,
      "soft must retain strictly more pieces than the Viterbi E-step")
    assert(jaccard >= 0.10 && jaccard <= 0.40,
      f"overlap drifted outside the measured band: jaccard=$jaccard%.4f")
  }
}
