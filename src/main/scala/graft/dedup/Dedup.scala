package graft.dedup

import graft.Mat.Pinnable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** [EXT] Deduplication suite for LLM-training-data pipelines (north star;
  * the reference's own dedup is the exact URL anti-join, `crawl.py:73`).
  *
  * Four escalating strategies, all expression-only (no UDFs):
  *  - exact: hash groupBy on the content key — one shuffle, linear.
  *  - exact token-set Jaccard pairs: quadratic within a blocking key —
  *    the verify/oracle baseline, NOT the scale path.
  *  - MinHash + LSH banding: linear-ish scale path for Jaccard near-dup —
  *    signatures per doc, band-bucket equi-join, exact verify on survivors.
  *  - SimHash + Hamming banding: scale path for cosine-ish near-dup on
  *    token multisets.
  *
  * At 100 TB: exact-pairs is for audits only; MinHash/SimHash shuffle
  * (band, bucket) keys whose fan-out is tunable (bands × docs rows), and
  * the verify join only touches candidate pairs. Signatures are
  * per-partition map work with no state.
  */
object Dedup {

  /** Exact dedup: keeper = min id per key (`dedup_exact` query).
    * One hash aggregate; at scale this is the canonical map-side-combine
    * shuffle on the key hash. */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))
      .orderBy(col("keeper_id"))

  /** Persisted content-hash index over a corpus — the incremental state
    * for EXACT dedup (the [[graft.dedup.ParagraphDedup.paragraphIndex]]
    * discipline at whole-document granularity): one row per distinct
    * md5(text) with its keep-first keeper id, never the text. */
  def exactIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol).cast("long")).as("keeper_id"))

  /** The index after absorbing a batch: existing entries win (their
    * keepers are history); the batch contributes one entry per hash the
    * index has never seen. */
  def exactIndexAfterBatch(index: DataFrame, batch: DataFrame,
                           idCol: String, textCol: String): DataFrame =
    index.unionByName(
      exactIndex(batch, idCol, textCol)
        .join(index.select(col("h")), Seq("h"), "left_anti"))

  /** [EXT] INCREMENTAL exact dedup (`dedup_exact_incremental` query) —
    * the most common production dedup step: new-batch keepers against
    * the persisted content-hash index, WITHOUT re-reading history.
    * Output: (keeper_id, n_copies) for every batch hash the index has
    * never seen (n_copies counts batch occurrences). Equals the batch-
    * keeper rows of a full [[exact]] recompute over history ∪ batch
    * whenever history doc ids precede batch doc ids (append-only
    * contract) — DedupSpec pins the union-equivalence. Per-batch cost:
    * one map-combined hash agg + an anti-join probe of the index
    * (shuffle-free on a pre-bucketed index) — O(batch) at any history
    * size. */
  def exactIncremental(batch: DataFrame, idCol: String, textCol: String,
                       index: DataFrame): DataFrame =
    batch.select(md5(col(textCol)).as("h"), col(idCol).cast("long").as("id"))
      .join(index.select(col("h")), Seq("h"), "left_anti")
      .groupBy(col("h"))
      .agg(min(col("id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))
      .orderBy(col("keeper_id"))

  /** [EXT] SOFT dedup (`dedup_weights` query): instead of dropping
    * duplicates, weight every copy by the inverse of its duplication
    * count — the data-constrained-training policy (repeating data has
    * diminishing returns, but dropping it outright wastes signal; a
    * sampler that draws docs ∝ weight sees each distinct CONTENT with
    * equal total mass). Output per doc: its content-group size and
    * weight_micro = ⌊10⁶ ∕ n_copies⌋ (integer micro-units so the value
    * is engine-exact; a group's copies sum to 10⁶ up to the floor).
    *
    * Scale shape: ONE exchange keyed by md5(text) for the group-count
    * window — the same key the exact-dedup aggregate shuffles on, and
    * the (id, 16-byte hash) projection means payloads never ride it. */
  def duplicationWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("h"))
    graft.Par.widen(df)
      .select(col(idCol).cast("long").as("doc_id"), md5(col(textCol)).as("h"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .select(col("doc_id"), col("n_copies"),
        expr("1000000 div n_copies").cast("long").as("weight_micro"))
      .orderBy(col("doc_id"))
  }

  /** Distinct lowercased whitespace tokens — the comparison set for
    * Jaccard, sorted so downstream hashing/merging is order-independent.
    * `sort_array`, not `array_sort`: the latter desugars to a lambda
    * comparator that disqualifies the whole stage from codegen. */
  def tokenSet(text: Column): Column =
    sort_array(array_distinct(TextAnalysis.tokens(lower(text))))

  /** Two empty sets → null (not an ANSI divide-by-zero error). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      nullif(size(array_union(a, b)).cast("double"), lit(0.0))

  /** Exact Jaccard for SORTED distinct arrays with known sizes: one native
    * merge walk ([[org.apache.spark.sql.graft.SortedIntersectSize]]) and
    * |A ∪ B| = |A| + |B| − |A ∩ B| — no per-pair hash sets or allocations.
    * Identical value to [[jaccard]]; used on the hot verify path. Two empty
    * sets → null (not an ANSI divide-by-zero error), matching the 0/0 →
    * null behavior the filter then drops. */
  def jaccardSorted(a: Column, b: Column, na: Column, nb: Column): Column = {
    val inter = org.apache.spark.sql.graft.ArrayFunctions.sortedIntersectSize(a, b)
    inter.cast("double") / nullif((na + nb - inter).cast("double"), lit(0.0))
  }

  /** [[jaccardSorted]] for ≥-threshold filters: the merge walk bails once
    * the intersection provably can't reach the threshold (J ≥ t forces
    * |A∩B| ≥ t·(|A|+|B|)/(1+t)). Verify joins reject ~98% of candidates,
    * and a rejected pair's underestimated J stays under the filter bound
    * (monotonicity of I/(S−I)), so outputs are identical to the exact
    * form — floor() keeps the bound conservative against FP rounding, and
    * the half-step slack mirrors the round(…,4) comparison downstream. */
  def jaccardSortedBounded(a: Column, b: Column, na: Column, nb: Column,
                           threshold: Double): Column = {
    val t = threshold - 0.5e-4
    val minInter = floor((na + nb).cast("double") * lit(t / (1.0 + t))).cast("long")
    val inter = org.apache.spark.sql.graft.ArrayFunctions
      .sortedIntersectSizeBounded(a, b, minInter)
    inter.cast("double") / nullif((na + nb - inter).cast("double"), lit(0.0))
  }

  /** Exact token-set Jaccard near-dup pairs within a blocking key
    * (`jaccard_pairs` query). Quadratic in the block size — the blocking
    * column bounds the join fan-out; use MinHash below when no natural
    * block exists. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, threshold: Double): DataFrame =
    setJaccardPairs(df, idCol, blockCol, tokenSet(col(textCol)), threshold)

  /** n-gram (shingle) Jaccard near-dup pairs: same join, comparison sets
    * are word n-grams — order-sensitive where token-set Jaccard is not
    * ("a b c" vs "c b a" share all tokens but no 2-grams). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int, threshold: Double): DataFrame =
    setJaccardPairs(df, idCol, blockCol,
      array_sort(array_distinct(
        graft.text.TextAnalysis.shingles(col(textCol), n))), threshold)

  private def setJaccardPairs(df: DataFrame, idCol: String, blockCol: String,
                              setExpr: Column, threshold: Double): DataFrame = {
    // Materialized once: the prepared table feeds both join sides, and
    // CollapseProject would otherwise inline the (expensive) set
    // expression into every reference — tokenize/shingle ran up to 4× per
    // row before this. (At cluster scale: persist/cache.)
    val t = graft.Par.widen(df).select(col(idCol).as("id"), col(blockCol).as("block"),
      setExpr.as("toks"))
      .withColumn("n", size(col("toks")))
      .pinned
    // Distinct key names per side: `a("block") === b("block")` over two
    // projections of the SAME checkpointed table is the ambiguous-self-join
    // shape `failAmbiguousSelfJoin` exists to reject — dataset-id
    // disambiguation happened to rewrite it correctly, but it warned
    // ("trivially true equals predicate") on every run and read as latent.
    val a = t.select(col("id").as("id_a"), col("block").as("block_a"), col("toks").as("toks_a"), col("n").as("n_a"))
    val b = t.select(col("id").as("id_b"), col("block").as("block_b"), col("toks").as("toks_b"), col("n").as("n_b"))
    // Size pruning: J(A,B) >= t implies min(|A|,|B|) >= t * max(|A|,|B|)
    // (since |A∩B| <= min and |A∩B| >= t*|A∪B| >= t*max). The cheap integer
    // predicate runs in the join condition, so most of the quadratic
    // fan-out never reaches the O(|A|+|B|) intersect walk. The final filter
    // compares round(J, 4), so prune against t minus the rounding half-step
    // to never drop a pair the rounded filter would keep.
    //
    // The Jaccard threshold itself is ALSO part of the join condition, and
    // deliberately LAST: a trailing `.filter` would be pushed into the join
    // by Catalyst and land AHEAD of the prune in the rebuilt conjunction
    // (predicates evaluate left-to-right), making every candidate pay the
    // O(|A|+|B|) walk — observed as a plan regression before this shape.
    val pruneT = threshold - 0.5e-4
    val jac = round(jaccardSortedBounded(col("toks_a"), col("toks_b"),
      col("n_a"), col("n_b"), threshold), 4)
    // Broadcast the build side: block cardinality is small by contract
    // (it's the audit-scoped blocking key), so a sort-merge join on block
    // collapses to ~|blocks| parallel tasks; a broadcast hash join streams
    // the probe side at full partition parallelism instead. The audit
    // scope that bounds the quadratic fan-out bounds the broadcast too.
    a.join(broadcast(b), col("block_a") === col("block_b") && col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          greatest(col("n_a"), col("n_b")).cast("double") * pruneT &&
        jac >= threshold)
      .select(col("id_a"), col("id_b"), jac.as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---- MinHash + LSH ----

  /** MinHash signature (array<long>, length numHashes) over the document's
    * token SET. Pure per-row expression work.
    *
    * Hash family (r8): ONE digest `md5(t ++ ":" ++ j)` per (token,
    * component QUAD) — components 4j..4j+3 are its four disjoint
    * 8-hex-char ranges read as base-16 u32s (independent hash functions
    * at a quarter of the digest count; md5 is the family's dominant CPU,
    * and 32-bit minima are ample: a within-set argmin tie needs a 2⁻³²
    * component collision, and a band key is r=4 components = 128 bits).
    * The ENGINE-REPRODUCIBLE primitive SimHash/winnowing/fingerprints
    * adopted in r7: both engines derive identical longs via
    * `conv(substring(md5(x), 1 + 8·(i mod 4), 8), 16, 10)` / DuckDB's
    * `('0x' || substring(...))::UBIGINT`, which is what gives
    * `dedup_near_minhash` its FULL band-bucket oracle. Fresh digest bits
    * per component are trivially non-monotone in the token — the r6
    * failure mode (an affine family whose every component degenerated to
    * argmin of the token hash, so J=0.9 pairs shared zero bands) cannot
    * recur, and DedupSpec's scaled-keepers equivalence still pins
    * recall. NOTE: changing the family invalidates any PERSISTED
    * signature index ([[signatureTable]]) built by an earlier build —
    * rebuild indexes when upgrading across hash-family versions.
    *
    * Shape matters: a naive `array(h_0, …, h_63)` of 64 independent
    * `array_min(transform(tokens, …))` expressions gets the tokenize
    * subtree INLINED 64 times by Catalyst's CollapseProject (no CSE across
    * array elements), turning one regexp pass into 64 — measured 50×
    * slower at sf0.1. Instead: ONE `aggregate` fold over the token array
    * keeps a 64-wide running-min accumulator, so tokenization runs exactly
    * once per token regardless of numHashes.
    *
    * This declarative form is the REFERENCE implementation: the hot paths
    * use the native one-pass [[org.apache.spark.sql.graft.MinHashBandBuckets]]
    * (HOF folds run interpreted with boxed per-token accumulators; 64 md5
    * digests per token run ~free in compiled code but the fold around them
    * does not), and ExpressionsSpec pins the native expression's components
    * against this column chain. */
  def minHashSignature(tokSet: Column, numHashes: Int): Column = {
    require(numHashes % 4 == 0, "components come in digest quads")
    val idxArr = array((0 until numHashes).map(i => lit(i.toLong)): _*)
    aggregate(
      tokSet,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, t) => zip_with(idxArr, acc, (i, m) => {
        val digest = md5(concat(t, lit(":"),
          floor(i / 4).cast("long").cast("string")))
        val start = (lit(1) + lit(8) * pmod(i, lit(4))).cast("int")
        least(conv(digest.substr(start, lit(8)), 16, 10).cast("long"), m)
      }))
  }

  /** MinHash/LSH near-dup pairs (`dedup_near_minhash` query — FULL oracle
    * since r8: the md5-prefix hash family replays relationally, so DuckDB
    * rebuilds signatures, band 4-tuples, candidate pairs and the exact
    * Jaccard verify and the outputs hash-match).
    *
    * signature → split into `bands` bands of r rows → explode one row per
    * (doc, band) → equi-self-join on (band, bucket) → distinct candidate
    * pairs → exact Jaccard verify ≥ threshold.
    *
    * With numHashes=64, bands=16 (r=4): P(candidate) = 1-(1-J^4)^16, so
    * J=0.9 is caught with prob 1-4e-8 and J=0.3 only 12% of the time —
    * the verify step discards those cheaply.
    */
  def nearDupMinHash(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.9, numHashes: Int = 64,
                     bands: Int = 16): DataFrame = {
    val (groups, repPairs) = minHashRepPairs(df, idCol, textCol, threshold, numHashes, bands)
    // Expand verified rep pairs to all member cross pairs (same Jaccard —
    // identical token sets), normalized to id_a < id_b.
    val crossPairs = repPairs
      .join(groups.select(col("rep").as("id_a"), col("members").as("members_a")), Seq("id_a"))
      .join(groups.select(col("rep").as("id_b"), col("members").as("members_b")), Seq("id_b"))
      .select(explode(col("members_a")).as("ma"), col("members_b"), col("jaccard"))
      .select(col("ma"), explode(col("members_b")).as("mb"), col("jaccard"))
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
    // Within-group pairs: exact dups, J = 1.0 (>= any threshold <= 1).
    val withinPairs = groups
      .filter(size(col("members")) > 1)
      .select(explode(col("members")).as("id_a"), col("members"))
      .select(col("id_a"), explode(col("members")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", lit(1.0))
    crossPairs.unionByName(withinPairs)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-document signature/bucket table (id, toks, n, buckets) — the
    * unit the streaming near-dup index persists and batches LSH against
    * ([[graft.streaming.StreamingIngest.nearDupDedupViaSinkIndex]]).
    * Checkpointed so the signature fold runs once per doc (the 16 bucket
    * expressions would otherwise each inline it via CollapseProject). */
  def signatureTable(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 64, bands: Int = 16): DataFrame =
    // One projection: the native expression folds signature AND band
    // buckets in a single pass, so there is nothing for CollapseProject to
    // re-inline and the former checkpoint-between-sig-and-buckets is gone.
    graft.Par.widen(df)
      .select(col(idCol).cast("long").as("doc_id"), tokenSet(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"),
        org.apache.spark.sql.graft.ArrayFunctions
          .minHashBandBuckets(col("toks"), numHashes, bands).as("buckets"))

  /** Shared MinHash/LSH core: exact-dup rep-grouping, banding, candidate
    * join, exact verify — everything up to (but not including) member
    * expansion. Returns (groups(toks, rep, members) — checkpointed —,
    * repPairs(id_a, id_b, jaccard) over group REPRESENTATIVES). Callers
    * choose the tail: [[nearDupMinHash]] expands every member pair;
    * [[nearDupKeepersScaled]] runs connected components on the rep graph
    * (cliques of exact dups collapse to one node) and only then fans out
    * members. */
  /** `maxBucket` (F134) is the production LSH safety valve: a band
    * bucket holding more than `maxBucket` DISTINCT-SET representatives
    * is dropped from candidate generation (its Σm² pair mass is what
    * turns degenerate corpora quadratic — the r12 m100 audit measured a
    * single dense bucket OOM a 24 GiB heap pre-streaming and TB-scale
    * shuffle spill post-streaming, BASELINE.md). Recall contract: a
    * pair is emitted only in its FIRST shared band, so the cap loses
    * any pair whose first shared band's bucket is over the cap — the
    * deliberate degradation, confined to degenerate near-identical
    * regimes. On real corpora mega-buckets are exact-dup artifacts
    * that the rep-grouping above already collapsed, so at any cap ≫
    * the true cluster width the valve never fires — the fixture
    * scales are far under every cap used, which is what keeps the
    * capped query's exact-CC oracle valid (spec-pinned equal to
    * uncapped). */
  private[graft] def minHashRepPairs(df: DataFrame, idCol: String, textCol: String,
                              threshold: Double, numHashes: Int,
                              bands: Int,
                              maxBucket: Int = Int.MaxValue): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucket > 1, "maxBucket must admit at least a pair")
    // Jaccard is a function of the token SET alone, so collapse exact-
    // duplicate sets to one representative before any LSH work: signatures,
    // banding fan-out and verification all run per DISTINCT set (web-scale
    // corpora are exact-dup-heavy, so this shrinks the quadratic bucket
    // fan-out by the dup factor squared), then member pairs expand back at
    // the end — provably the same output: members share their rep's
    // signature and Jaccard, and within-group pairs are J = 1.0 by
    // definition.
    val allDocs = graft.Par.widen(df)
      .select(col(idCol).as("id"), tokenSet(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
    // Materialized once: the group table feeds SIX plan branches (both
    // sides of banding, both sides of verify, both sides of expansion) —
    // without the checkpoint each branch re-runs scan + tokenize + the
    // group-by-token-set shuffle. (At cluster scale: persist/cache.)
    val groups = allDocs.groupBy(col("toks"))
      .agg(min(col("id")).as("rep"), sort_array(collect_list(col("id"))).as("members"))
      .pinned
    val docs = groups.select(col("rep").as("id"), col("toks"))
      .withColumn("n", size(col("toks")))
    // All band buckets per doc in ONE native expression pass
    // ([[org.apache.spark.sql.graft.MinHashBandBuckets]]): signature fold
    // and per-band bucket hashing stay in whole-stage codegen with a
    // primitive accumulator, replacing the interpreted `aggregate`/
    // `zip_with` fold plus 16 string-concat bucket projections (and the
    // checkpoint that kept CollapseProject from re-inlining that fold —
    // a single expression node has nothing to re-inline).
    // One row per (doc, band): (id, n, all-band bucket array, band,
    // bucket) — NO document payload: at 100 TB the bucket exchange must
    // not carry token arrays (a dup cluster of m docs would push m·bands
    // payload copies through the shuffle). The bucket ARRAY (bands × 8
    // bytes) rides along to power first-match pair dedup below.
    val banded = docs
      .select(col("id"), col("n"),
        org.apache.spark.sql.graft.ArrayFunctions
          .minHashBandBuckets(col("toks"), numHashes, bands).as("buckets"))
      .select(col("id"), col("n"), col("buckets"),
        posexplode(col("buckets")).as(Seq("band", "bucket")))
    // Candidate pairs are GENERATED per (band, bucket) group, not
    // self-joined: the members of each bucket are collected once (one
    // groupBy of the narrow banded rows — singleton buckets drop here for
    // free) and a typed flatMap runs the pair loop in plain JVM code.
    // The declarative band equi-self-join computed the same ~Σm² pair
    // candidates but paid a hash-probe + row-copy + condition-eval per
    // MATCH ITERATION (~10⁸ on dense corpora — measured as the dominant
    // query cost); here an iteration is a few array reads. This is the
    // measured last-resort imperative exception the design doc allows —
    // the surrounding plan (groupBy, verify join, expansion) stays
    // declarative. Per-pair semantics are IDENTICAL to the join form:
    //  - sorted by set size, a two-pointer window applies the size prune
    //    (J ≥ t forces min(|A|,|B|) ≥ t'·max — same double arithmetic);
    //  - a pair is emitted only in its FIRST matching band (no global
    //    dropDuplicates needed), ids normalized to id_a < id_b.
    // The mega-bucket of a dense corpus is one group = one task; its pair
    // loop is tens of ms, and the emitted survivors rebalance right after.
    val pruneT = threshold - 0.5e-4
    // The pair loop runs as a Catalyst GENERATOR over the grouped rows
    // (org.apache.spark.sql.graft.MinHashCandidatePairs, r16): the former
    // typed `.as[...].flatMap` paid a full Catalyst deserializer per
    // bucket group (ArrayData → Scala tuples of WrappedArrays) plus a
    // serializer per emitted pair — measured 1.45 s vs 0.15 s for the
    // identical loop reading ArrayData directly at sf0.1 (~10× on the
    // stage, the dominant candidate-generation cost; guide §4). Emission
    // set, size-prune window, first-band ownership, id normalization, and
    // the r12 streamed O(m)-memory discipline all live inside the
    // generator, unchanged; the plan keeps a `Generate` node where
    // `SerializeFromObject/MapElements` used to sit, so the banding
    // projection and grouping stay visible to the plan pins and AQE.
    val candidates = banded
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("id"), col("n"), col("buckets"))).as("ms"))
      .filter(size(col("ms")) > 1 && size(col("ms")) <= maxBucket)
      .select(org.apache.spark.sql.graft.ArrayFunctions
        .minHashCandidatePairs(col("band"), col("ms"), pruneT))
      // Rebalance before the verify walk: generated pairs inherit the
      // bucket grouping, where one mega-bucket's pairs land together —
      // without this (small) exchange the verify stage is
      // straggler-bound.
      .repartition(col("id_a"), col("id_b"))
    // Verify on distinct candidate pairs only: re-fetch token sets by id
    // (docs is a slim (id, toks) projection — Spark broadcasts it while it
    // fits the threshold, sort-merge-joins at scale) and run the
    // allocation-free sorted-merge Jaccard.
    val repPairs = candidates
      .join(docs.select(col("id").as("id_a"), col("toks").as("toks_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("toks").as("toks_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccardSortedBounded(col("toks_a"), col("toks_b"),
          col("n_a"), col("n_b"), threshold), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (groups, repPairs)
  }

  // ---- near-dup clustering ----

  /** Connected components over a near-dup pair graph → per-doc keeper
    * (= min doc id in the component; singletons keep themselves).
    *
    * Iterative min-label propagation: each round every node takes the min
    * of its own label and its neighbors' labels; converges in O(diameter)
    * rounds (near-dup clusters are dense, so typically 2-3). For
    * chain-shaped graphs where the diameter is the problem, use
    * [[clusterKeepersStar]] (O(log² n) rounds). The per-round shape (join
    * labels⋈edges, reduce min) is distributed-safe — no driver-side
    * state.
    */
  def clusterKeepers(ids: DataFrame, pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val idName = ids.columns.head
    // Materialize the PAIRS once, BEFORE the symmetric expansion: without
    // this the (expensive — it's the whole upstream near-dup join) pair
    // plan would re-run per derived branch.
    val p = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .pinned
    // The LOOP runs on co-partitioned RDDs, not DataFrames: each round is
    // semantically trivial (join labels with edges, take per-node min) but
    // a DataFrame loop pays Catalyst analysis + optimization + whole-stage
    // codegen compile PER ROUND — measured at ~0.4 s/round against
    // kilobytes of data, the dominant cost of dedup_keepers /
    // embedding_dedup_keepers. With a fixed HashPartitioner the
    // labels⋈edges join is narrow (both sides pre-hashed, zero shuffle)
    // and the only per-round movement is the reduceByKey of propagated
    // labels — the same distributed shape as before, minus the planner.
    // This is the GraphX-style "genuine iterative" RDD exception; the
    // DataFrame API remains the operator's boundary.
    //
    // Partition count scales with the graph (~1M directed edges per
    // partition, floor = the session parallelism — Par.graphParts),
    // not with the session shuffle width sized for the big scans
    // upstream.
    val nParts = graft.Par.graphParts(p, 2L * p.count())
    val part = new org.apache.spark.HashPartitioner(nParts)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = p.as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part).persist(lvl)
    var labels = ids.select(col(idName).cast("long")).as[Long].rdd
      .map(id => (id, id)).partitionBy(part).persist(lvl)
    // Convergence via the label sum: min-propagation only ever DECREASES
    // labels, so an unchanged sum means a fixpoint — one cheap aggregate
    // per round instead of a join-compare. BigInt accumulation: exact for
    // any id range (a wrapping long sum could in principle alias two
    // distinct states), and an empty input folds to 0 instead of NULL.
    def labelSum(rdd: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      rdd.aggregate(BigInt(0))((acc, kv) => acc + kv._2, _ + _)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val prop = labels.join(edges, part)
        .map { case (_, (lab, dst)) => (dst, lab) }
      val next = labels.union(prop)
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        .persist(lvl)
      val nextSum = labelSum(next) // also materializes `next`
      converged = nextSum == prevSum
      prevSum = nextSum
      labels.unpersist(blocking = false)
      labels = next
      i += 1
    }
    edges.unpersist(blocking = false)
    labels.toDF("doc_id", "keeper_id").orderBy(col("doc_id"))
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the variant for LONG-CHAIN graphs, where [[clusterKeepers]]'s
    * min-label propagation needs O(diameter) rounds: star contraction
    * converges in O(log² n) rounds regardless of diameter. Near-dup
    * clusters are dense (diameter 2-3), so min-label stays the default;
    * use this when the pair graph chains (e.g. fuzzy-threshold chains of
    * drifting documents). Same output contract as [[clusterKeepers]]:
    * (doc_id, keeper_id = min id in component) — pinned equal on random
    * graphs by PropertySpec.
    *
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its neighborhood (keeps the graph connected, shrinks height);
    *  - small-star: every node links its smaller-or-equal neighborhood to
    *    that minimum (contracts toward the root).
    *
    * Each round is groupByKey + flatMap + distinct on the same fixed
    * partitioner — the RDD loop for the same reason as [[clusterKeepers]]
    * (per-round Catalyst replanning would dominate). Termination: the
    * edge set is a fixpoint (stars only), detected by an order-independent
    * edge fingerprint.
    */
  def clusterKeepersStar(ids: DataFrame, pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val idName = ids.columns.head
    val p = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .pinned
    val nParts = graft.Par.graphParts(p, 2L * p.count())
    val part = new org.apache.spark.HashPartitioner(nParts)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    def largeStar(e: org.apache.spark.rdd.RDD[(Long, Long)]) =
      e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
        .groupByKey(part)
        .flatMap { case (u, nbrs) =>
          var m = u
          nbrs.foreach(v => if (v < m) m = v)
          nbrs.iterator.filter(_ > u).map(v => (v, m))
        }
        .distinct(nParts)

    def smallStar(e: org.apache.spark.rdd.RDD[(Long, Long)]) =
      e.map { case (u, v) => if (u > v) (u, v) else (v, u) }
        .groupByKey(part)
        .flatMap { case (u, nbrs) =>
          var m = u
          nbrs.foreach(v => if (v < m) m = v)
          (nbrs.iterator ++ Iterator(u)).filter(_ != m).map(v => (v, m))
        }
        .distinct(nParts)

    // Order-independent fingerprint of the edge set (sum of a 64-bit mix
    // per edge): equal fingerprints across a full large+small round mean
    // the star fixpoint is reached. BigInt sum — exact, no overflow alias.
    def fingerprint(e: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      e.aggregate(BigInt(0))((acc, kv) => {
        var x = kv._1 * 0x9e3779b97f4a7c15L + kv._2
        x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
        x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
        acc + (x ^ (x >>> 31))
      }, _ + _)

    var edges = p.as[(Long, Long)].rdd
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.max(a, b), math.min(a, b)) }
      .distinct(nParts)
      .persist(lvl)
    var prev = fingerprint(edges)
    var converged = edges.isEmpty()
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(edges)).persist(lvl)
      val fp = fingerprint(next)
      converged = fp == prev
      prev = fp
      edges.unpersist(blocking = false)
      edges = next
      i += 1
    }
    // Fixpoint edges are (node, componentMin) stars; roots and isolated
    // nodes keep themselves.
    val stars = edges.toDF("doc_id", "keeper_id")
    ids.select(col(idName).cast("long").as("doc_id"))
      .join(stars, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("keeper_id"), col("doc_id")).as("keeper_id"))
      .orderBy(col("doc_id"))
  }

  /** Keeper assignment from the EXACT blocked Jaccard pairs (oracle-safe:
    * the pair set is deterministic SQL, so the component labels are too).
    * For corpus-scale runs feed [[nearDupMinHash]] pairs instead. */
  def nearDupKeepers(df: DataFrame, idCol: String, textCol: String,
                     blockCol: String, threshold: Double): DataFrame =
    clusterKeepers(
      df.select(col(idCol)),
      jaccardPairs(df, idCol, textCol, blockCol, threshold))

  /** Re-elect each near-dup cluster's representative by QUALITY
    * (`dedup_keepers_quality` query): production dedup keeps the BEST
    * copy of a duplicated document, not the lowest-id one — near-dup
    * clusters routinely contain one clean original and several
    * boilerplate-wrapped or truncated variants. Takes any
    * (doc_id, keeper_id) cluster assignment (the keeper_id is reused as
    * the cluster label — [[clusterKeepers]]' min-label IS a canonical
    * label) and reassigns every member to the cluster's
    * max-[[graft.text.TextAnalysis.qualityScore]] member, ties broken by
    * ascending doc_id (singleton clusters keep themselves — their only
    * member maximizes trivially).
    *
    * Scale shape: one exchange keyed by cluster label for the election
    * window, then the members⋈reps join reuses that same partitioning —
    * no corpus re-shuffle, no driver state. The quality score is the
    * IEEE-exact per-row expression the corpus_clean oracles already
    * hash-check, so this query carries a full oracle too. */
  def electKeepersByQuality(labels: DataFrame, docs: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    val q = docs.select(col(idCol).cast("long").as("doc_id"),
      graft.text.TextAnalysis.qualityScore(col(textCol)).as("__q"))
    val lab = labels.select(col("doc_id").cast("long").as("doc_id"),
      col("keeper_id").cast("long").as("__cl"))
    val w = Window.partitionBy(col("__cl"))
      .orderBy(col("__q").desc, col("doc_id").asc)
    val reps = lab.join(q, Seq("doc_id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__cl"), col("doc_id").as("keeper_id"))
    lab.join(reps, Seq("__cl"))
      .select(col("doc_id"), col("keeper_id"))
      .orderBy(col("doc_id"))
  }

  /** [[nearDupKeepers]] with the quality election composed on top. */
  def nearDupKeepersByQuality(df: DataFrame, idCol: String, textCol: String,
                              blockCol: String, threshold: Double): DataFrame =
    electKeepersByQuality(
      nearDupKeepers(df, idCol, textCol, blockCol, threshold),
      df, idCol, textCol)

  /** Keeper assignment via the SCALED pair path (`dedup_keepers_scaled`
    * query): MinHash banding → exact verify ([[nearDupMinHash]]) →
    * connected components — the corpus-wide composition you actually run
    * at 100 TB, with no blocking key required.
    *
    * Output equals exact corpus-wide Jaccard keepers up to LSH recall: at
    * J ≥ threshold = 0.9 with 16 bands × 4 rows a qualifying pair is
    * missed with probability (1 − J⁴)¹⁶ ≈ 4e-8, and signatures are
    * seed-pinned, so on a given corpus the output is deterministic (the
    * DuckDB oracle runs the exact quadratic CC and hash-matches). */
  def nearDupKeepersScaled(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double,
                           maxBucket: Int = Int.MaxValue): DataFrame = {
    val (groups, repPairs) =
      minHashRepPairs(df, idCol, textCol, threshold, 64, 16, maxBucket)
    // Components over the REP graph only: a clique of m exact dups is one
    // node here, so CC touches ~|distinct sets| edges instead of the m²
    // member fan-out the pair query materializes. A group's rep is its min
    // member id, so the component's min rep IS the component's min doc id
    // — members inherit their rep's label unchanged.
    val repKeepers = clusterKeepers(groups.select(col("rep")), repPairs)
      .select(col("doc_id").as("rep"), col("keeper_id"))
    val memberKeepers = groups
      .select(col("rep"), explode(col("members")).as("doc_id"))
      .join(repKeepers, Seq("rep"))
      .select(col("doc_id"), col("keeper_id"))
    // Docs with empty token sets never entered a group: singletons.
    df.select(col(idCol).cast("long").as("doc_id"))
      .join(memberKeepers, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("keeper_id"), col("doc_id")).as("keeper_id"))
      .orderBy(col("doc_id"))
  }

  /** Incremental batch dedup (`dedup_incremental` query): near-dup-dedup
    * an INCOMING batch against a persisted corpus-history signature index
    * — the batch twin of
    * [[graft.streaming.StreamingIngest.nearDupDedupViaSinkIndex]], and
    * the operator that makes snapshot-over-snapshot corpus builds
    * incremental: history is represented ONLY by its [[signatureTable]]
    * rows (doc_id, toks, n, buckets — persist the KEEPERS' signatures),
    * so no connected-components recompute ever touches historical docs.
    *
    *  1. signature the incoming batch (one pass);
    *  2. LSH bucket equi-join incoming × index → payload-free candidate
    *     ids → exact Jaccard verify on re-fetched token sets → per
    *     incoming doc, its min matching existing id;
    *  3. [[nearDupKeepersScaled]] WITHIN the batch (incoming batches
    *     carry their own dups);
    *  4. a batch component with ANY history match dedups to the min
    *     existing id its members matched (novel = 0 for all members);
    *     otherwise its min incoming id becomes a NEW keeper.
    *
    * Output: (doc_id, keeper_id, novel) per incoming doc. Equals the full
    * recompute over history ∪ batch wherever LSH recall is exhaustive and
    * the index holds one signature per historical component (the
    * persisted-keepers contract) — pinned by DedupSpec's
    * union-equivalence test; like all LSH paths this is rows-only at the
    * driver gate.
    *
    * Scale shape: the index never re-shuffles per batch (it arrives
    * pre-bucketed from parquet; the bucket join keys both sides the same
    * way), the candidate exchange carries ids only, and batch-internal CC
    * touches just the batch. Per-batch cost is O(|batch| + matches) —
    * independent of corpus history size. */
  def newKeepers(incoming: DataFrame, idCol: String, textCol: String,
                 index: DataFrame, threshold: Double,
                 numHashes: Int = 64, bands: Int = 16,
                 maxBucket: Int = 4096): DataFrame = {
    val sigT = signatureTable(incoming, idCol, textCol, numHashes, bands)
      .pinned // feeds the bucket join AND the verify re-fetch
    val bb = sigT.select(col("doc_id").as("bid"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val ib = index.select(col("doc_id").as("iid"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val cand = bb.join(ib, Seq("band", "bucket"))
      .select(col("bid"), col("iid")).dropDuplicates("bid", "iid")
    val matches = cand
      .join(sigT.select(col("doc_id").as("bid"), col("toks").as("btoks"),
        col("n").as("bn")), Seq("bid"))
      .join(index.select(col("doc_id").as("iid"), col("toks").as("itoks"),
        col("n").as("in_")), Seq("iid"))
      .filter(round(jaccardSortedBounded(col("btoks"), col("itoks"),
        col("bn"), col("in_"), threshold), 4) >= threshold)
      .groupBy(col("bid")).agg(min(col("iid")).as("ex_keeper"))
    // Batch-internal components, then lift each component's history match
    // (min over members) to the whole component: a doc chained to history
    // only THROUGH a batch sibling still dedups away.
    // Batch-internal CC runs under the F134 valve too (r13): an
    // incremental build's batches see the same degenerate-corpus risk as
    // the full recompute, and the incoming×index bucket join above is
    // already output-bound per batch — the within-batch pair generation
    // was the one uncapped quadratic left on this path.
    // Pin the (batch-scale) within-batch keepers: the component-lift
    // join and the final left join both read them — unpinned, each
    // branch re-ran the whole within-batch near-dup pipeline
    // (signatures, bucket join, verify, CC) a second time (r17, guide
    // §1.2).
    val inKeepers = nearDupKeepersScaled(incoming, idCol, textCol, threshold,
      maxBucket).pinned
    val compMatch = inKeepers
      .join(matches, inKeepers("doc_id") === matches("bid"))
      .groupBy(col("keeper_id")).agg(min(col("ex_keeper")).as("comp_ex"))
    inKeepers.join(compMatch, Seq("keeper_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp_ex"), col("keeper_id")).as("keeper_id"),
        (col("comp_ex").isNull && col("doc_id") === col("keeper_id"))
          .cast("int").as("novel"))
      .orderBy(col("doc_id"))
  }

  /** Cluster-size histogram over a keeper assignment — the dedup AUDIT
    * artifact (`dedup_cluster_sizes` query): how many clusters of each
    * size the corpus holds (size 1 = unique docs). Two small hash
    * aggregates over the keeper table; feeding it the scaled MinHash→CC
    * keepers makes the histogram an end-to-end oracle check of the whole
    * scale path (the exact recursive-CTE CC must produce the identical
    * distribution). */
  def clusterSizeHistogram(keepers: DataFrame): DataFrame =
    keepers.groupBy(col("keeper_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  // ---- SimHash ----

  /** Per-token hashes (compute ONCE per row — the 64 bit-position folds
    * below reuse this array rather than re-hashing per bit). md5-prefix
    * 60-bit (first 15 hex digits), the engine-reproducible primitive:
    * both engines derive the identical longs, so the SimHash bit votes —
    * and therefore `simhash_pairs` — replay relationally in DuckDB and
    * the query carries a FULL oracle. (Bits 60-63 of every token hash are
    * 0, so the signature's four lowest output bits are constant — the
    * banding pigeonhole over four 16-bit chunks is unaffected.) */
  def tokenHashes(text: Column): Column =
    transform(graft.text.TextAnalysis.tokens(lower(text)),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))

  /** 64-bit SimHash from a column holding array<long> token hashes — the
    * native one-pass expression
    * ([[org.apache.spark.sql.graft.SimHash64]]; the earlier nested-
    * `aggregate` HOF form allocated two 64-wide arrays per token per row
    * and ran interpreted — it produced identical values, pinned by
    * DedupSpec). */
  def simhash64FromHashes(hashColName: String): Column =
    org.apache.spark.sql.graft.ArrayFunctions.simHash64(col(hashColName))

  /** SimHash near-dup pairs (`simhash_pairs` query): Hamming distance ≤
    * maxDist via 4×16-bit chunk banding (pigeonhole: distance ≤ 3 implies
    * at least one identical chunk), then exact `bit_count(xor)` verify. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame =
    hammingPairs(
      graft.Par.widen(df)
        .select(col(idCol).cast("long").as("id"), tokenHashes(col(textCol)).as("hs"))
        .select(col("id"), simhash64FromHashes("hs").as("sh")),
      maxDist)

  /** The banded Hamming self-join over ANY (id, sh) 64-bit signature
    * frame — the tail [[simhashPairs]] always used, extracted (r10) so
    * other signature families (e.g. image average-hash,
    * [[graft.multimodal.Multimodal.imageAhashPairs]]) reuse the exact
    * machinery: 4×16-bit chunk banding (lossless for maxDist ≤ 3 by
    * pigeonhole), per-bucket JVM pair loop, first-shared-chunk
    * ownership so output is globally duplicate-free without a
    * dropDuplicates exchange. */
  def hammingPairs(sig: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-chunk banding only guarantees recall for maxDist <= 3")
    val docs = sig.select(col("id").cast("long").as("id"), col("sh"))
    val chunked = docs.select(col("id"), col("sh"),
        explode(array((0 until 4).map(lit(_)): _*)).as("chunk"))
      .withColumn("ck", expr("shiftright(sh, chunk * 16) & 65535"))
    // Same generator shape as the MinHash path: collect each (chunk, ck)
    // bucket once (singletons drop in the groupBy) and run the pair loop
    // in plain JVM code — the signature rides along (8 bytes), so the
    // Hamming verify happens inside the loop and only final pairs leave.
    // A pair surfaces only in its FIRST shared chunk, so output is
    // globally duplicate-free with no dropDuplicates exchange.
    //
    // The loop is a Catalyst GENERATOR
    // ([[org.apache.spark.sql.graft.HammingCandidatePairs]], r17): the
    // former typed `.as[...].flatMap` paid a Catalyst deserializer per
    // bucket group plus a serializer per emitted pair — the encoder tax
    // the MinHash generator removal measured at ~10× on its stage (r16,
    // guide §4). Per-pair semantics are identical (the generator's
    // scaladoc itemizes them); the plan keeps a `Generate` node where
    // `SerializeFromObject/MapElements` used to sit.
    chunked
      .groupBy(col("chunk"), col("ck"))
      .agg(collect_list(struct(col("id"), col("sh"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(org.apache.spark.sql.graft.ArrayFunctions
        .hammingCandidatePairs(col("chunk"), col("ms"), maxDist))
      .orderBy(col("id_a"), col("id_b"))
  }
}
