package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PII scrubbing: counts, masking order, and non-PII passthrough. */
class PiiSpec extends SparkSpec {
  import spark.implicits._

  test("counts and redaction on mixed PII") {
    val d = Seq((1L, "write a@b.io from 10.0.0.1 or dial 555-123-9876 now"))
      .toDF("doc_id", "text")
    val r = Pii.scrub(d, "doc_id", "text").head()
    assert(r.getLong(1) == 1L && r.getLong(2) == 1L && r.getLong(3) == 1L)
    assert(r.getString(4) == "write <EMAIL> from <IP> or dial <PHONE> now")
  }

  test("IPs are masked before the phone pass can eat their digit runs") {
    val d = Seq((1L, "host 192.168.100.200 up")).toDF("doc_id", "text")
    val r = Pii.scrub(d, "doc_id", "text").head()
    assert(r.getString(4) == "host <IP> up")
    assert(r.getLong(2) == 1L && r.getLong(3) == 0L)
  }

  test("clean text is untouched") {
    val d = Seq((1L, "nothing to see 42 here")).toDF("doc_id", "text")
    val r = Pii.scrub(d, "doc_id", "text").head()
    assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L)
    assert(r.getString(4) == "nothing to see 42 here")
  }

  test("creditCards: Luhn gates validity; one valid card masks ALL runs (r10)") {
    val d = Seq(
      (1L, "pay 4111 1111 1111 1111 today"),
      (2L, "ref 4111-1111-1111-1112 case"),
      (3L, "order 5500 0000 0000 0004 ok serial 1234567890123 x"),
      (4L, "invoice 99 1234567 internal"),
      (5L, "plain text")).toDF("doc_id", "text")
    val out = Pii.creditCards(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((1L, 1L, "pay <CC> today")))
    // a candidate that fails Luhn keeps its text — invoice ids survive
    assert(out(2L) == ((1L, 0L, "ref 4111-1111-1111-1112 case")))
    // one VALID card -> every card-like run in the doc masks, valid or not
    assert(out(3L) == ((2L, 1L, "order <CC> ok serial <CC> x")))
    // a 10-char digit run is below the candidate floor entirely
    assert(out(4L) == ((0L, 0L, "invoice 99 1234567 internal")))
    assert(out(5L) == ((0L, 0L, "plain text")))
  }

  test("decontaminate flags docs sharing n-grams with the benchmark") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog entirely"),
      (2L, "completely different words appear in this one document"),
      (3L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val bench = Seq(Tuple1("the quick brown fox jumps over hills")).toDF("text")
    val out = Curation.decontaminate(docs, "doc_id", "text", bench, "text", 3, 3L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    // doc 1 shares "the quick brown", "quick brown fox", "brown fox jumps",
    // "fox jumps over" = 4; doc 3 shares 3; doc 2 shares 0
    assert(out(1L) == ((4L, 1)))
    assert(out(3L) == ((3L, 1)))
    assert(out(2L) == ((0L, 0)))
  }

  test("decontaminate: null, empty and unshared texts each report 0, once") {
    val docs = Seq[(Long, String)](
      (1L, "the quick brown fox jumps over the lazy dog entirely"),
      (2L, null),
      (3L, ""),
      (4L, "completely different words appear in this one document"),
      (5L, "two words")).toDF("doc_id", "text")
    val bench = Seq(Tuple1("the quick brown fox jumps over hills")).toDF("text")
    val out = Curation.decontaminate(docs, "doc_id", "text", bench, "text", 3, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out == Seq((1L, 4L, 1), (2L, 0L, 0), (3L, 0L, 0), (4L, 0L, 0), (5L, 0L, 0)))
  }

  test("decontaminateBloom is row-identical to exact decontaminate") {
    // Hand fixture + the real documents table: the Bloom pass must be a
    // pure prefilter (no false negatives; false positives die in the
    // exact verify), so outputs match row-for-row on both.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog entirely"),
      (2L, "completely different words appear in this one document"),
      (3L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val bench = Seq(Tuple1("the quick brown fox jumps over hills")).toDF("text")
    val exact = Curation.decontaminate(docs, "doc_id", "text", bench, "text", 3, 3L)
    val bloom = Curation.decontaminateBloom(docs, "doc_id", "text", bench, "text", 3, 3L)
    assert(bloom.collect().toSeq == exact.collect().toSeq)

    val real = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val rbench = real.filter($"doc_id" % 97 === 0)
    val e2 = Curation.decontaminate(real, "doc_id", "text", rbench, "text", 3, 5L)
    val b2 = Curation.decontaminateBloom(real, "doc_id", "text", rbench, "text", 3, 5L)
    assert(b2.collect().toSeq == e2.collect().toSeq)
  }

  test("bloom filter: no false negatives, bounded false positives") {
    import org.apache.spark.sql.graft.BloomFunctions
    val members = spark.range(0, 2000).select(xxhash64($"id").as("h"))
    val bloom = members
      .agg(BloomFunctions.bloomFilterAgg($"h", 2000L, 2000L * 20).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val inHits = members.filter(BloomFunctions.mightContain(bloom, $"h")).count()
    assert(inHits == 2000L) // every inserted item must probe true
    val outHits = spark.range(1000000, 1020000)
      .select(xxhash64($"id").as("h"))
      .filter(BloomFunctions.mightContain(bloom, $"h")).count()
    // ~0.6% expected fpp at 20 bits/item; allow generous slack
    assert(outHits < 1000L, s"false-positive rate too high: $outHits / 20000")
  }
}
