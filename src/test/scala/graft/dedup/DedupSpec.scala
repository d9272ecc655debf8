package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the dedup-operator contracts promised in SparkEntry's oracle
  * comments: MinHash/LSH output equals the exact Jaccard join at the same
  * threshold (on data where banding recall is ~certain), and SimHash bit
  * semantics are stable and symmetric. */
class DedupSpec extends SparkSpec with graft.GraphPaths {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),      // near dup (J = 8/10)
    (4L, "completely different words entirely here now"),
    (5L, "")                                                  // empty → dropped
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per text and counts copies") {
    val out = Dedup.exact(docs, "text", "doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("incremental exact dedup equals the batch keepers of a full recompute") {
    // History = docs 1-2, batch = docs 3-6: doc 6 repeats doc 1's text
    // (cross-batch duplicate — must vanish via the index), docs 4/5 are
    // an in-batch pair, doc 3 is novel.
    val all = Seq(
      (1L, "the quick brown fox jumps"), (2L, "some other history document"),
      (3L, "a genuinely new batch document"),
      (4L, "twin batch pages here"), (5L, "twin batch pages here"),
      (6L, "the quick brown fox jumps")
    ).toDF("doc_id", "text")
    val hist = all.filter($"doc_id" <= 2)
    val batch = all.filter($"doc_id" >= 3)
    val inc = Dedup.exactIncremental(batch, "doc_id", "text",
        Dedup.exactIndex(hist, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(inc == Seq((3L, 1L), (4L, 2L)), s"got $inc")
    // union-equivalence: the full recompute's batch-side keepers with
    // history-unseen hashes are exactly the incremental output.
    val full = Dedup.exact(all, "text", "doc_id")
      .filter($"keeper_id" >= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(inc == full, s"incremental $inc != full batch keepers $full")
    // index absorption: history keepers immutable, union == from-scratch.
    val after = Dedup.exactIndexAfterBatch(
        Dedup.exactIndex(hist, "doc_id", "text"), batch, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scratch = Dedup.exactIndex(all, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == scratch)
  }

  test("minhash LSH pairs equal exact jaccard pairs at the same threshold") {
    // Threshold 0.7: the (1,2) exact-dup pair (J=1.0) and (1,3)/(2,3)
    // (J=0.8 on token SETS: 8 shared of 10 distinct... recompute: sets are
    // {the,quick,brown,fox,jumps,over,lazy,dog} vs same with cat — J=7/9).
    val lsh = Dedup.nearDupMinHash(docs, "doc_id", "text", 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairs(
        docs.withColumn("blk", lit(1)), "doc_id", "text", "blk", 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("minhash signature is deterministic and set-order independent") {
    val a = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val b = Seq((1L, "gamma beta alpha beta")).toDF("doc_id", "text")
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.select(Dedup.minHashSignature(Dedup.tokenSet(col("text")), 16))
        .head().getSeq[Long](0)
    assert(sig(a) == sig(b)) // same token SET → same signature
  }

  test("simhash: identical texts collide, near texts are close, distant far") {
    val t = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"))
      .toDF("doc_id", "text")
    val sh2 = t.withColumn("hs", Dedup.tokenHashes(col("text")))
      .select(col("doc_id"), Dedup.simhash64FromHashes("hs").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh2(1L) == sh2(2L))
    assert(java.lang.Long.bitCount(sh2(1L) ^ sh2(3L)) < 32) // near, not random
  }

  graphTest("clusterKeepers: transitive closure, min-id keeper, singletons self") {
    val ids = (1L to 6L).toDF("doc_id")
    // chain 1-2, 2-3 (one component), pair 4-5, singleton 6
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.clusterKeepers(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  graphTest("scaled keepers (minhash->verify->CC) equal exact corpus-wide keepers") {
    // The 100 TB composition must land on the same components as the
    // exact quadratic path: at threshold 0.9 a qualifying pair escapes
    // 16x4 banding with prob ~4e-8, so on the sf0.001 fixture equality is
    // exact (seed-pinned, deterministic).
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val scaled = Dedup.nearDupKeepersScaled(d, "doc_id", "text", 0.9)
      .as[(Long, Long)].collect().toSeq
    val exact = Dedup.clusterKeepers(
        d.select(col("doc_id")),
        Dedup.jaccardPairs(d.withColumn("blk", lit(1)), "doc_id", "text", "blk", 0.9))
      .as[(Long, Long)].collect().toSeq
    assert(scaled.nonEmpty)
    assert(scaled == exact)
  }

  graphTest("maxBucket valve: no-op above the widest bucket, binds on a planted mega-bucket (F134)") {
    // Below the cap the capped form must be BIT-IDENTICAL to uncapped —
    // that identity is what licenses dedup_keepers_capped's exact-CC
    // oracle at the driver fixture scales.
    val base = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"),   // near dup of 1
      (3L, "p q r s t u v w x y"),
      (4L, "p q r s t u v w x z")    // near dup of 3
    ).toDF("doc_id", "text")
    val un = Dedup.nearDupKeepersScaled(base, "doc_id", "text", 0.9)
      .collect().toSeq
    val capped = Dedup.nearDupKeepersScaled(base, "doc_id", "text", 0.9,
      maxBucket = 4096).collect().toSeq
    assert(un == capped)
    // A planted family of near-identical DISTINCT sets forms one dense
    // bucket; a cap below the family width drops its pairs (every
    // member keeps itself) while an unrelated small cluster SURVIVES.
    val mega = (1L to 12L).map(i => (i, ("a b c d e f g h i j k l m n o p q r s " +
        s"w$i"))) :+ (100L, "zz yy xx ww vv") :+ (101L, "zz yy xx ww vv uu")
    val megaDf = mega.toDF("doc_id", "text")
    val cut = Dedup.nearDupKeepersScaled(megaDf, "doc_id", "text", 0.8,
        maxBucket = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 12L).forall(i => cut(i) == i), s"mega-bucket pairs must drop: $cut")
    assert(cut(101L) == 100L, "small bucket must survive the valve")
    // and without the cap the mega family DOES cluster (sanity)
    val free = Dedup.nearDupKeepersScaled(megaDf, "doc_id", "text", 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 12L).forall(i => free(i) == 1L))
  }

  test("electKeepersByQuality: best-quality member represents the cluster") {
    // Docs 1/2/3 form one near-dup cluster: the texts share 8 of 10
    // distinct tokens (J = 0.8 >= 0.7). Doc 3 is the CLEAN copy — its
    // tenth token is alphabetic where 1/2 carry digit junk — so its
    // alpha-ratio term (and thus qualityScore) is strictly higher while
    // stop-ratio and length terms are identical across the cluster.
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog 12345678", "b"),
      (2L, "the quick brown fox jumps over the lazy dog 12345678", "b"), // exact dup
      (3L, "the quick brown fox jumps over the lazy dog abcdefgh", "b"), // clean near dup
      (4L, "completely different words entirely here now", "b")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.nearDupKeepersByQuality(corpus, "doc_id", "text", "source", 0.7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Quality sanity: 3 strictly out-scores 1/2 (alpha 43/52 vs 35/52),
    // so it is elected over the min-id keeper 1.
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L))
    // Ties (docs 1 and 2 are byte-identical) break by min doc_id.
    val tied = Dedup.nearDupKeepersByQuality(
      corpus.filter($"doc_id" =!= 3L), "doc_id", "text", "source", 0.7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tied == Map(1L -> 1L, 2L -> 1L, 4L -> 4L))
  }

  graphTest("newKeepers: incremental batch dedup equals the full recompute") {
    // 20-token sentences; a one-token change gives J = 19/21 ~ 0.9048 >=
    // 0.9, caught by 16x4 banding with prob ~1-4e-8 — recall is
    // exhaustive here, so incremental must EQUAL the full recompute.
    def s20(tag: String) = (1 to 20).map(i => s"$tag$i").mkString(" ")
    def variant(tag: String) = ((1 to 19).map(i => s"$tag$i") :+ "changed").mkString(" ")
    val existing = Seq(
      (1L, s20("s")), (2L, variant("s")),      // cluster {1,2}, keeper 1
      (3L, s20("t"))                           // singleton keeper
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (11L, s20("s")),      // exact text of existing keeper 1
      (12L, s20("u")),      // new cluster keeper
      (13L, variant("u")),  // near-dup of 12 -> follows it
      (14L, s20("v")),      // novel singleton
      (15L, variant("s"))   // matches keeper 1 via J(15,1)=0.9048
    ).toDF("doc_id", "text")
    // Persisted-keepers contract: index holds only existing keepers' sigs.
    val exKeepers = Dedup.nearDupKeepersScaled(existing, "doc_id", "text", 0.9)
      .filter(col("doc_id") === col("keeper_id")).select(col("doc_id"))
    val index = Dedup.signatureTable(
      existing.join(exKeepers, Seq("doc_id")), "doc_id", "text")
    val inc = Dedup.newKeepers(incoming, "doc_id", "text", index, 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(inc == Map(
      11L -> (1L, 0), 12L -> (12L, 1), 13L -> (12L, 0),
      14L -> (14L, 1), 15L -> (1L, 0)))
    // Union-equivalence: keepers and assignments match the full recompute
    // over history ∪ batch for every incoming doc.
    val full = Dedup.nearDupKeepersScaled(existing.unionByName(incoming),
        "doc_id", "text", 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incoming.select("doc_id").as[Long].collect().forall(d =>
      full(d) == inc(d)._1))
    assert(inc.collect { case (d, (_, 1)) => d }.toSet ==
      full.collect { case (d, k) if d >= 11L && d == k => d }.toSet)
  }

  test("duplicationWeights: inverse-copy micro weights, singletons at 1e6") {
    val out = Dedup.duplicationWeights(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, 2L, 500000L), (2L, 2L, 500000L), // exact-dup pair halves
      (3L, 1L, 1000000L), (4L, 1L, 1000000L), (5L, 1L, 1000000L)))
  }

  test("simhashPairs finds exact dups at distance 0 and is id-ordered") {
    val out = Dedup.simhashPairs(docs.filter(length(col("text")) > 0),
      "doc_id", "text", 3).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)))
    assert(pairs.forall { case (a, b, _) => a < b })
  }
}
