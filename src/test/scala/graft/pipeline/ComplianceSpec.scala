package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the compliance trio's one-pass flags frame: each leg's verdict,
  * the sweep conjunction, cumulative funnel arithmetic, and the
  * null-domain keep rule. */
class ComplianceSpec extends SparkSpec {
  import spark.implicits._

  // doc 1: clean; doc 2: taken down; doc 3: blocked domain; doc 4:
  // robots-disallowed path; doc 5: taken down AND blocked (counts once
  // per cumulative stage); doc 6: null-ish url -> null domain, kept by
  // the blocklist leg and allowed by robots (unlisted host).
  private def docs = Seq(
    (1L, "https://ok.example.org/a", "alpha text"),
    (2L, "https://ok.example.org/b", "taken down text"),
    (3L, "https://bad.example.com/c", "beta text"),
    (4L, "https://rules.example.org/private/x", "gamma text"),
    (5L, "https://bad.example.com/d", "taken down text"),
    (6L, "not-a-url", "delta text")
  ).toDF("doc_id", "url", "text")

  private def takedowns = docs.filter($"doc_id" === 2L)
    .select(md5($"text").as("h"))
  private def blocked = Seq("example.com").toDF("domain")
  private def rules = Seq(("rules.example.org", "disallow", "/private"))
    .toDF("host", "rule", "prefix")

  test("flags: each leg judges independently; sweep keeps the conjunction") {
    val fl = Compliance.flags(docs, "doc_id", "url", "text",
        takedowns, blocked, rules)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Boolean]("f_takedown"), r.getAs[Boolean]("f_blocklist"),
          r.getAs[Boolean]("f_robots"))).toMap
    assert(fl(1L) == ((true, true, true)))
    assert(fl(2L) == ((false, true, true)))   // content-hash takedown
    assert(fl(3L) == ((true, false, true)))   // eTLD+1 blocked
    assert(fl(4L) == ((true, true, false)))   // robots path
    assert(fl(5L) == ((false, false, true)))  // two legs at once
    assert(fl(6L) == ((true, true, true)))    // null domain keeps
    val kept = Compliance.sweep(docs, "doc_id", "url", "text",
        takedowns, blocked, rules)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 6L))
  }

  test("funnel: cumulative counts in sweep order, one row") {
    val row = Compliance.funnel(docs, "doc_id", "url", "text",
      takedowns, blocked, rules).collect().head
    assert(row.getLong(0) == 6L)  // raw
    assert(row.getLong(1) == 4L)  // after takedowns: 2 and 5 drop
    assert(row.getLong(2) == 3L)  // after blocklist: 3 drops too
    assert(row.getLong(3) == 2L)  // after robots: 4 drops too
  }

  test("release run: every stage cuts, the manifest reconciles to the survivors (r10)") {
    // Extend the compliance fixture with an exact duplicate of doc 1
    // (exact dedup must drop it) and a 3-doc burst on one host with
    // cap 2 (domain caps must drop one).
    // NB the burst lives on its OWN registrable domain (busy-site.com):
    // subdomains of example.org would collapse onto doc 1's eTLD+1 and
    // the cap would hit the union, not the burst.
    val burst = Seq(
      (7L, "https://ok.example.org/a", "alpha text"),          // dup of 1
      (8L, "https://a.busy-site.com/1", "busy one two three"),
      (9L, "https://b.busy-site.com/2", "more busy text here"),
      (10L, "https://c.busy-site.com/3", "third busy doc words")
    ).toDF("doc_id", "url", "text")
    val all = docs.unionByName(burst)
    val manifest = Release.run(all, takedowns, blocked, rules,
      cap = 2, shardBudget = 8L).collect()
    // survivors: sweep keeps {1,6,7,8,9,10} (2,5 taken down; 3,5
    // blocked; 4 robots); dedup drops 7; caps drop 10 (third on
    // busy-site.com). kept = {1,6,8,9} -> 2+2+4+4 = 12 tokens ->
    // 2 shards at budget 8.
    assert(manifest.map(_.getAs[Long]("n_docs")).sum == 4L)
    assert(manifest.map(_.getAs[Long]("sum_tokens")).sum == 12L)
    assert(manifest.length == 2)
    // and the xor fingerprint covers exactly the kept contents
    val fp = all.filter($"doc_id".isin(1L, 6L, 8L, 9L))
      .select(expr(
        "bit_xor(cast(conv(substring(md5(text), 1, 15), 16, 10) as long))"))
      .collect().head.getLong(0)
    assert(manifest.map(_.getAs[Long]("content_fp")).reduce(_ ^ _) == fp)
  }

  test("null keys on either side mark nothing; the sweep keeps such docs") {
    val withNull = docs.unionByName(
      Seq((7L, "https://ok.example.org/n", null: String)).toDF("doc_id", "url", "text"))
    val nullTd = takedowns.unionByName(Seq(null: String).toDF("h"))
    val nullBl = blocked.unionByName(Seq(null: String).toDF("domain"))
    val fl = Compliance.flags(withNull, "doc_id", "url", "text",
        nullTd, nullBl, rules)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Boolean]("f_takedown"), r.getAs[Boolean]("f_blocklist"))).toMap
    assert(fl.size == 7)
    assert(fl(7L) == ((true, true)))   // null text: no hash to match
    assert(fl(6L) == ((true, true)))   // null domain vs a null list entry
    assert(fl(2L) == ((false, true)))
    val kept = Compliance.sweep(withNull, "doc_id", "url", "text",
        nullTd, nullBl, rules)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 6L, 7L))
    // the same conjunction as a filter over flags: pushed down, the list
    // tests must keep their null semantics
    val viaFlags = Compliance.flags(withNull, "doc_id", "url", "text",
        nullTd, nullBl, rules)
      .filter($"f_takedown" && $"f_blocklist" && $"f_robots")
      .select($"doc_id").as[Long].collect().toSet
    assert(viaFlags == kept)
  }

  test("duplicate takedown hashes do not duplicate rows (mark-join dedup)") {
    val dupTd = takedowns.unionByName(takedowns)
    val n = Compliance.flags(docs, "doc_id", "url", "text",
      dupTd, blocked, rules).count()
    assert(n == 6L)
  }
}
