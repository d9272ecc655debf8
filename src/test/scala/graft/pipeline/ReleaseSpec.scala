package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the release tail to its semantic construction: shards packed in
  * [[Curation.shuffleCorpus]]'s rank order, and exact dedup as a
  * hash-keyed aggregate + semi join. [[Curation.releaseShards]] packs on
  * the hash directly and [[Release.run]] dedups with a window; both must
  * publish the same manifest. */
class ReleaseSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu")

  // 80 docs on 4 domains; docs 70-77 repeat the texts of docs 0-7 (equal
  // hashes, so the id breaks the tie), doc 78 is empty, doc 79 is taken
  // down.
  private def corpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    val base = (0 until 70).map { i =>
      (i.toLong, s"https://h$i.site${i % 4}.org/p",
        Seq.fill(2 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val dups = (70 until 78).map { i =>
      (i.toLong, s"https://d$i.site${i % 4}.org/q", base(i - 70)._3)
    }
    (base ++ dups ++ Seq((78L, "https://e.site1.org/", ""),
        (79L, "https://t.site2.org/", "withdrawn text here")))
      .toDF("doc_id", "url", "text")
  }

  private def takedowns = Seq(Tuple1("withdrawn text here")).toDF("t")
    .select(md5($"t").as("h"))
  private def blocked = Seq("site3.org").toDF("domain")
  private def rules = Seq(("h5.site1.org", "disallow", "/")).toDF("host", "rule", "prefix")

  /** The shard manifest packed in shuffleCorpus's global-rank order. */
  private def rankedShards(docs: DataFrame, budget: Long): DataFrame = {
    val nTok = size(graft.text.TextAnalysis.tokens(lower($"text"))).cast("long")
    val fp = conv(substring(md5($"text"), 1, 15), 16, 10).cast("long")
    val ordered = Curation.shuffleCorpus(docs, "text", "rel42", 64, tieCol = "doc_id")
      .select($"shuffle_pos", nTok.as("n_tokens"), fp.as("__fp"))
    Curation.packByOrder(ordered, "shuffle_pos", budget)
      .groupBy($"chunk_id".as("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"),
        expr("bit_xor(__fp)").as("content_fp"))
      .orderBy($"shard_id")
  }

  private def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq)

  test("releaseShards equals the shuffleCorpus-ranked pack") {
    for (budget <- Seq(3L, 16L, 1000L)) {
      val got = rows(Curation.releaseShards(corpus, "doc_id", "text", budget))
      assert(got == rows(rankedShards(corpus, budget)), s"budget $budget")
      assert(got.map(_(1).asInstanceOf[Long]).sum == 80L)
    }
  }

  test("Release.run equals the aggregate + semi-join dedup construction") {
    val clean = Compliance.sweep(corpus, "doc_id", "url", "text",
      takedowns, blocked, rules)
    val keepers = clean.join(
      clean.groupBy(md5($"text").as("__h")).agg(min($"doc_id").as("doc_id"))
        .select($"doc_id"),
      Seq("doc_id"), "left_semi")
    for ((cap, budget) <- Seq((100, 16L), (5, 8L))) {
      val want = rankedShards(
        Curation.domainCaps(keepers, "url", cap, Seq($"doc_id")), budget)
      val got = Release.run(corpus, takedowns, blocked, rules,
        cap = cap, shardBudget = budget)
      assert(rows(got) == rows(want), s"cap $cap budget $budget")
    }
    // uncapped, the manifest holds one doc per distinct surviving text,
    // and the takedown, blocklist and robots legs each cut
    val n = rows(Release.run(corpus, takedowns, blocked, rules, cap = 100,
      shardBudget = 16L)).map(_(1).asInstanceOf[Long]).sum
    assert(n == clean.select(md5($"text")).distinct().count())
    assert(clean.filter($"doc_id".isin(5L, 7L, 79L)).count() == 0L)
  }
}
