package graft.similarity

import graft.Mat.Pinnable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] Approximate-nearest-neighbor / similarity search over an embedding
  * column (north star, SURVEY.md §2.3 J3).
  *
  * Shapes:
  *  - brute-force top-k: probes × candidates nested-loop with the probe
  *    side broadcast — exact, the correctness baseline. At 100 TB the
  *    candidate side streams partition-parallel and never shuffles; cost
  *    is O(|probes| · |candidates| · dim) flops, fine for small probe sets.
  *  - cosine near-dup pairs: all-pairs within id order — audit tool,
  *    quadratic; the LSH variant below is the scale path.
  *  - random-hyperplane LSH: sign-bucket each vector (16 bits), equi-join
  *    on bucket, exact re-rank — linear-ish, recall tunable by band count.
  *
  * Dot/norm arithmetic is `zip_with`/`aggregate` over array<double> with a
  * left-to-right fold, which DuckDB's `list_transform`/`list_reduce`
  * reproduces exactly — so cosine values are bit-identical across engines
  * and safe to hash-compare after round(…, 6).
  */
object Similarity {

  /** Cast array<float> → array<double> BEFORE any arithmetic so both
    * engines multiply doubles (float×float would also match, but mixed
    * promotion orders would not). */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Codegen'd native loop ([[org.apache.spark.sql.graft.DotProduct]]);
    * identical summation order to DuckDB's `list_reduce`, so oracle
    * values are unchanged bit-for-bit. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorFunctions.dotNative(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each probe row (`knn_bruteforce` query).
    * Pre-computes norms once per side; probe side is broadcast so the
    * candidate scan is shuffle-free; ranking is a window partitioned by
    * probe (shuffle on probe id — |probes|·|cands| rows but tiny payload).
    */
  def knnBruteForce(candidates: DataFrame, probes: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cand = graft.Par.widen(candidates)
      .select(col(idCol).as("cand_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val prob = probes.select(col(idCol).as("probe_id"), asDouble(col(vecCol)).as("pv"))
      .withColumn("pn", norm(col("pv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("cand_id").asc)
    cand.join(broadcast(prob), col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id"),
        round(dot(col("pv"), col("cv")) / (col("pn") * col("cn")), 6).as("cosine"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("cand_id"), col("cosine"))
      .orderBy(col("probe_id"), col("rk"))
  }

  /** [EXT] Hard-negative mining (`hard_negatives` query): per anchor,
    * the top-k most-similar candidates with a DIFFERENT label — the
    * negatives contrastive training actually learns from (random
    * negatives are trivially separable; the hardest ones carry the
    * gradient). Each row is additionally flagged `semi_hard` in the
    * FaceNet sense (Schroff et al. 2015): still ranked below the
    * anchor's nearest POSITIVE but within `margin` of it — the band
    * that trains stably (harder-than-positive negatives can collapse
    * the embedding).
    *
    * Shape: two probe-broadcast scans of the candidate set — one for
    * negatives (label mismatch, windowed top-k per anchor), one
    * aggregate for the nearest-positive cosine — joined on the anchor.
    * The candidate side never shuffles; the window exchange carries
    * |anchors|·|cands| id+cosine rows, payload-free. Anchors with no
    * same-label partner flag false (no positive to be semi to).
    * Output: (anchor_id, rk, cand_id, neg_label, cosine, semi_hard). */
  def hardNegatives(candidates: DataFrame, anchors: DataFrame, k: Int,
                    margin: Double = 0.05, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val cand = graft.Par.widen(candidates)
      .select(col(idCol).as("cand_id"), col(labelCol).as("cl"),
        asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
      .pinned // feeds both the negative scan and the positive aggregate
    val prob = anchors.select(col(idCol).as("anchor_id"),
        col(labelCol).as("al"), asDouble(col(vecCol)).as("pv"))
      .withColumn("pn", norm(col("pv")))
    def cos = round(dot(col("pv"), col("cv")) / (col("pn") * col("cn")), 6)
    val pos = cand.join(broadcast(prob),
        col("cl") === col("al") && col("cand_id") =!= col("anchor_id"))
      .groupBy(col("anchor_id")).agg(max(cos).as("pos_cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    cand.join(broadcast(prob), col("cl") =!= col("al"))
      .select(col("anchor_id"), col("cand_id"), col("cl").as("neg_label"),
        cos.as("cosine"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .join(pos, Seq("anchor_id"), "left")
      .withColumn("semi_hard", when(col("pos_cosine").isNull, lit(false))
        .otherwise(col("cosine") < col("pos_cosine") &&
          col("cosine") >= col("pos_cosine") - lit(margin)))
      .select(col("anchor_id"), col("rk"), col("cand_id"), col("neg_label"),
        col("cosine"), col("semi_hard"))
      .orderBy(col("anchor_id"), col("rk"))
  }

  /** DuckDB mirror of [[hardNegatives]] over the embeddings table:
    * identical fold-ordered cosine, window, and margin arithmetic. */
  def sqlHardNegatives(anchorWhere: String, k: Int,
                       margin: Double = 0.05): String =
    s"""WITH n AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x),
       |                     (a,b) -> a+b)) AS nv
       |  FROM embeddings),
       |p AS (SELECT vec_id AS anchor_id, label AS al, v AS pv, nv AS pn
       |      FROM n WHERE $anchorWhere),
       |pos AS (
       |  SELECT anchor_id,
       |    max(round(list_reduce(list_transform(range(1, len(pv)+1),
       |                                         i -> pv[i]*v[i]),
       |                          (a,b) -> a+b) / (pn * nv), 6)) AS pos_cosine
       |  FROM p JOIN n ON label = al AND vec_id <> anchor_id
       |  GROUP BY 1),
       |s AS (
       |  SELECT anchor_id, vec_id AS cand_id, label AS neg_label,
       |    round(list_reduce(list_transform(range(1, len(pv)+1),
       |                                     i -> pv[i]*v[i]),
       |                      (a,b) -> a+b) / (pn * nv), 6) AS cosine
       |  FROM p JOIN n ON label <> al),
       |r AS (SELECT anchor_id, cand_id, neg_label, cosine,
       |        row_number() OVER (PARTITION BY anchor_id
       |                           ORDER BY cosine DESC, cand_id ASC) AS rk
       |      FROM s)
       |SELECT r.anchor_id, rk, cand_id, neg_label, cosine,
       |  CASE WHEN pos.pos_cosine IS NULL THEN false
       |       ELSE cosine < pos.pos_cosine
       |            AND cosine >= pos.pos_cosine - $margin END AS semi_hard
       |FROM r LEFT JOIN pos ON r.anchor_id = pos.anchor_id
       |WHERE rk <= $k
       |ORDER BY r.anchor_id, rk""".stripMargin

  /** [EXT] ANN recall audit (`ann_recall_report` query): per probe, how
    * many of the EXACT top-k an approximate index actually returned —
    * the number a team tunes nlist/nprobe against before trusting an ANN
    * index at corpus scale. Inputs are any two (probe_id, cand_id, ...)
    * kNN results (the repo's brute/LSH/IVF/PQ variants all share the
    * shape). Output per probe: n_exact, hits, recall_bp = hits·10⁴ DIV
    * n_exact (exact integer basis points — no float division). */
  def recallReport(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("probe_id"), col("cand_id"))
    val a = approx.select(col("probe_id"), col("cand_id"))
      .withColumn("__hit", lit(1))
    e.join(a, Seq("probe_id", "cand_id"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("hits"))
      .withColumn("recall_bp", expr("hits * 10000L DIV n_exact"))
      .orderBy(col("probe_id"))
  }

  /** [EXT] Truncated-embedding recall audit
    * (`embedding_truncate_recall` query) — the Matryoshka question
    * (Kusupati et al. 2022, MRL; OpenAI/Nomic ship truncatable
    * embeddings on exactly this premise): how much retrieval quality
    * survives if the store keeps only the FIRST d dimensions? Each
    * audited width runs the exact top-k over prefix-sliced,
    * re-normalized vectors and scores recall against the full-width
    * top-k — one row per width: (dims, n_probes, n_exact, hits,
    * recall_bp), integer basis points, monotone-ish in d with the
    * full width pinning 10000 as the self-check. The decision this
    * feeds: a 4× narrower store is a 4× cheaper brute scan and a 4×
    * bigger IVF page budget — IF recall holds.
    *
    * Shape: per width, the [[knnBruteForce]] machinery (probe
    * broadcast, window top-k) over sliced vectors, then one
    * ids-only join + aggregate against the full-width result. Audit
    * scale (runs on a probe sample); the store-side decision applies
    * at any scale. */
  def truncationRecall(emb: DataFrame, probes: DataFrame,
                       dims: Seq[Int], k: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty, "need at least one width to audit")
    val full = knnBruteForce(emb, probes, k, idCol, vecCol).pinned
    def sliced(df: DataFrame, d: Int) =
      df.select(col(idCol), slice(asDouble(col(vecCol)), 1, d).as(vecCol))
    dims.map { d =>
      val t = knnBruteForce(sliced(emb, d), sliced(probes, d), k,
        idCol, vecCol)
      full.select(col("probe_id"), col("cand_id"))
        .join(t.select(col("probe_id"), col("cand_id"))
          .withColumn("__hit", lit(1)), Seq("probe_id", "cand_id"), "left")
        .agg(countDistinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_exact"), count(col("__hit")).as("hits"))
        .select(lit(d.toLong).as("dims"), col("n_probes"), col("n_exact"),
          col("hits"), expr("hits * 10000L DIV n_exact").as("recall_bp"))
    }.reduce(_.unionByName(_)).orderBy(col("dims"))
  }

  /** DuckDB mirror of [[truncationRecall]] over the embeddings table —
    * the FULL oracle for `embedding_truncate_recall`. */
  def sqlTruncationRecall(probeWhere: String, dims: Seq[Int],
                          k: Int): String = {
    def knnCtes(tag: String, sliceTo: Option[Int]): String = {
      val vexpr = sliceTo match {
        case Some(d) => s"(embedding::DOUBLE[])[1:$d]"
        case None => "embedding::DOUBLE[]"
      }
      s"""n_$tag AS (
         |  SELECT vec_id, $vexpr AS v,
         |    sqrt(list_reduce(list_transform($vexpr, x -> x*x),
         |                     (a,b) -> a+b)) AS nv
         |  FROM embeddings),
         |p_$tag AS (SELECT vec_id AS probe_id, v AS pv, nv AS pn
         |           FROM n_$tag WHERE $probeWhere),
         |r_$tag AS (
         |  SELECT probe_id, cand_id FROM (
         |    SELECT probe_id, vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY probe_id
         |        ORDER BY round(list_reduce(list_transform(range(1, len(pv)+1),
         |            i -> pv[i]*v[i]), (a,b) -> a+b) / (pn * nv), 6) DESC,
         |          vec_id ASC) AS rk
         |    FROM p_$tag JOIN n_$tag ON vec_id <> probe_id)
         |  WHERE rk <= $k)""".stripMargin
    }
    val widthCtes = dims.map(d => knnCtes(s"d$d", Some(d)))
    val rows = dims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dims,
         |    CAST(COUNT(DISTINCT f.probe_id) AS BIGINT) AS n_probes,
         |    CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(t.probe_id) AS BIGINT) AS hits,
         |    COUNT(t.probe_id) * 10000 // COUNT(*) AS recall_bp
         |  FROM r_full f LEFT JOIN r_d$d t
         |    ON f.probe_id = t.probe_id AND f.cand_id = t.cand_id""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ${knnCtes("full", None)},
       |${widthCtes.mkString(",\n")}
       |$rows
       |ORDER BY dims""".stripMargin
  }

  /** DuckDB mirror of [[knnBruteForce]] for a probe predicate over the
    * embeddings table — shared by the `knn_bruteforce` oracle and the
    * recall report's exact side. */
  def sqlKnnBruteForce(probeWhere: String, k: Int): String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x),
       |                     (a,b) -> a+b)) AS nv
       |  FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, v AS pv, nv AS pn FROM n WHERE $probeWhere),
       |s AS (
       |  SELECT probe_id, vec_id AS cand_id,
       |    round(list_reduce(list_transform(range(1, len(pv)+1), i -> pv[i]*v[i]),
       |                      (a,b) -> a+b) / (pn * nv), 6) AS cosine
       |  FROM p JOIN n ON vec_id <> probe_id),
       |r AS (SELECT probe_id, cand_id, cosine,
       |        row_number() OVER (PARTITION BY probe_id
       |                           ORDER BY cosine DESC, cand_id ASC) AS rk
       |      FROM s)
       |SELECT probe_id, rk, cand_id, cosine FROM r WHERE rk <= $k
       |ORDER BY probe_id, rk""".stripMargin

  /** All-pairs cosine ≥ threshold (`cosine_pairs` query) — embedding-space
    * near-dup audit. Quadratic: keep for bounded id ranges / samples. */
  def cosinePairs(emb: DataFrame, threshold: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Materialized once: t feeds BOTH join sides, and without the
    // checkpoint scan + float→double cast + norm run once per side (the
    // same CollapseProject diamond as Dedup.setJaccardPairs). (At cluster
    // scale: persist/cache.)
    val t = graft.Par.widen(emb).select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", norm(col("v")))
      .pinned
    val a = t.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na"))
    val b = t.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Embedding-space near-dup dedup: cosine-threshold pairs → connected
    * components → per-vector keeper (min id). The full dedup decision for
    * "semantically identical" items, reusing the generic component
    * labeler; at corpus scale feed LSH/IVF candidate pairs instead of the
    * all-pairs audit join. */
  def embeddingDedupKeepers(emb: DataFrame, threshold: Double,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    graft.dedup.Dedup.clusterKeepers(
        emb.select(col(idCol)),
        cosinePairs(emb, threshold, idCol, vecCol))
      .withColumnRenamed("doc_id", "vec_id")
      .withColumnRenamed("keeper_id", "keeper_vec_id")

  /** Embedding near-dup keepers via the LSH candidate feed
    * (`embedding_dedup_keepers_scaled` query) — the corpus-scale
    * composition: multi-table sign-bucket candidates (equi-join on
    * (table, bucket), each pair surfaced once via first-matching-table) →
    * exact cosine verify ≥ threshold → connected components.
    *
    * Same labeler, same verify arithmetic as [[embeddingDedupKeepers]];
    * the only approximation is pair RECALL: a qualifying pair is found
    * with prob 1 − (1 − p^bits)^tables, p = 1 − θ/π. At near-dup
    * thresholds (cos ≥ 0.95, θ ≤ 18°, defaults 6×12) that is ≥ 0.9999;
    * at looser thresholds raise `tables` or lower `bitsPerTable`. Missed
    * pairs can only SPLIT a component, never merge two — pinned by the
    * refinement spec. FULL oracle since r8
    * ([[sqlEmbeddingDedupKeepersScaled]]): the plane constants replay
    * exactly, so the whole LSH → verify → CC composition hash-matches
    * DuckDB — the approximation is pinned, not excused. */
  def embeddingDedupKeepersScaled(emb: DataFrame, threshold: Double,
                                  bitsPerTable: Int = 6, tables: Int = 12,
                                  dim: Int = 64, idCol: String = "vec_id",
                                  vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(bitsPerTable * tables, dim)
    // Narrow bucket table: id + per-table bucket array; vectors stay out
    // of the candidate exchange (re-fetched by id for the verify, like the
    // MinHash path) — at 100 TB the banded shuffle carries ~8B per table
    // per row, never the embedding payload.
    val base = graft.Par.widen(emb)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", norm(col("v")))
      .withColumn("buckets", org.apache.spark.sql.graft.VectorFunctions
        .lshTableBuckets(col("v"), planes, bitsPerTable))
      .pinned
    val banded = base
      .select(col("id"), col("buckets"),
        posexplode(col("buckets")).as(Seq("table", "bucket")))
    // Distinct key names per side: joining two projections of the SAME
    // checkpointed table on same-named columns is the ambiguous-self-join
    // shape that warns ("trivially true equals predicate") even when
    // dataset-id disambiguation rewrites it correctly — the
    // setJaccardPairs fix applied here too.
    val a = banded.select(col("table").as("table_a"), col("bucket").as("bucket_a"),
      col("id").as("id_a"), col("buckets").as("buckets_a"))
    val b = banded.select(col("table").as("table_b"), col("bucket").as("bucket_b"),
      col("id").as("id_b"), col("buckets").as("buckets_b"))
    // First-matching-table dedup (same trick as the MinHash band join):
    // each colliding pair survives in exactly one table — no
    // dropDuplicates exchange.
    val candidates = a.join(b,
      col("table_a") === col("table_b") && col("bucket_a") === col("bucket_b") &&
        col("id_a") < col("id_b") &&
        org.apache.spark.sql.graft.ArrayFunctions
          .firstEqualIndex(col("buckets_a"), col("buckets_b")) === col("table_a"))
      .select(col("id_a"), col("id_b"))
      .repartition(col("id_a"), col("id_b"))
    val pairs = candidates
      .join(base.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
    graft.dedup.Dedup.clusterKeepers(emb.select(col(idCol)), pairs)
      .withColumnRenamed("doc_id", "vec_id")
      .withColumnRenamed("keeper_id", "keeper_vec_id")
  }

  /** SemDeDup-style semantic dedup (`semantic_dedup` query; Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means partitions the embedding space, pairwise
    * cosine runs ONLY within a cluster, threshold edges → connected
    * components → keepers.
    *
    * The third embedding-dedup scale path next to the all-pairs audit
    * ([[embeddingDedupKeepers]]) and the LSH feed
    * ([[embeddingDedupKeepersScaled]]): where LSH bounds work
    * probabilistically per pair, SemDeDup bounds it structurally —
    * quadratic only within a cluster, Σ|cluster|² total, tunable by
    * `nClusters` (the paper runs 50k clusters over 1e9+ embeddings; the
    * cluster fit is the same bounded-sample [[LocalKMeans]] discipline as
    * IVF). Cross-cluster near-dups are missed BY DESIGN (the paper's
    * trade); missed edges can only split components, never merge — so the
    * output refines the exact keepers (pinned by spec, like the LSH
    * variant). Keeper election is min-id, the engine-wide dedup convention
    * (the paper keeps the lowest-centroid-similarity member; election
    * choice doesn't change WHICH docs are duplicates, only which one
    * survives).
    *
    * Cluster assignment depends on the fitted centroids (engine-specific)
    * → rows-only driver check. */
  def semanticDedupKeepers(emb: DataFrame, threshold: Double,
                           nClusters: Int = 16, idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           maxFitRows: Long = 100000L): DataFrame =
    semanticDedupKeepersWith(
      Ivf.fitCentroids(emb, nClusters, vecCol, maxFitRows = maxFitRows),
      emb, threshold, idCol, vecCol)

  /** [[semanticDedupKeepers]] over an already-fitted cluster matrix — the
    * [[FittedOracle]] stash point that lets `semantic_dedup` carry a full
    * printed-centroid DuckDB oracle (r9). */
  def semanticDedupKeepersWith(centers: IndexedSeq[IndexedSeq[Double]],
                               emb: DataFrame, threshold: Double,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    val base = graft.Par.widen(emb)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", norm(col("v")))
      .withColumn("cluster", element_at(org.apache.spark.sql.graft.VectorFunctions
        .nearestCentroids(col("v"), centers, 1), 1))
      .pinned // one scan feeds both self-join sides
    val a = base.select(col("cluster"), col("id").as("id_a"),
      col("v").as("va"), col("n").as("na"))
    val b = base.select(col("cluster"), col("id").as("id_b"),
      col("v").as("vb"), col("n").as("nb"))
    // Equi-join on the cluster id: hash-joinable, work bounded by
    // Σ|cluster|² — never a corpus-wide cross product.
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
    graft.dedup.Dedup.clusterKeepers(emb.select(col(idCol)), pairs)
      .withColumnRenamed("doc_id", "vec_id")
      .withColumnRenamed("keeper_id", "keeper_vec_id")
  }

  /** DuckDB mirror of [[semanticDedupKeepersWith]] — the FULL oracle for
    * `semantic_dedup` (r9): cluster assignment replays the native
    * `NearestCentroids` score over the printed centroid constants
    * ([[FittedOracle]], same argmin tie-break), the within-cluster pair
    * join + cosine verify reuse the `cosine_pairs` left-assoc float
    * arithmetic, and the component labeling is the recursive-CTE
    * min-reachable-label CC shared with the dedup-keeper oracles. */
  def sqlSemanticDedupKeepers(centers: IndexedSeq[IndexedSeq[Double]],
                              threshold: Double): String =
    s"""WITH RECURSIVE cent AS (
       |  FROM (VALUES
       |    ${FittedOracle.centroidValues(centers)}) cent(cid, n2, cv)),
       |n AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x),
       |                     (a,b) -> a+b)) AS nv
       |  FROM embeddings),
       |sc AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY sco ASC, cid ASC) AS rn
       |  FROM (
       |    SELECT n.vec_id, cent.cid,
       |      cent.n2 - 2.0 * list_reduce(
       |        list_transform(range(1, len(n.v)+1), i -> n.v[i] * cent.cv[i]),
       |        (a,b) -> a+b) AS sco
       |    FROM n CROSS JOIN cent)),
       |asg AS (SELECT vec_id, cid AS cluster FROM sc WHERE rn = 1),
       |cp AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |      round(list_reduce(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i]),
       |                        (p,q) -> p+q) / (x.nv * y.nv), 6) AS cosine
       |    FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |    JOIN n x ON a.vec_id = x.vec_id JOIN n y ON b.vec_id = y.vec_id)
       |  WHERE cosine >= $threshold),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM cp
       |          UNION ALL SELECT id_b, id_a FROM cp),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS label FROM embeddings
       |  UNION
       |  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id)
       |SELECT id AS vec_id, MIN(label) AS keeper_vec_id
       |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin

  /** [EXT] SemDeDup as a DOCUMENT-corpus dedup stage (`dedup_semantic`
    * query; r16, the r15 verdict's #1): the dedup family covered exact
    * (md5), lexical-near (MinHash/SimHash), substring, canonical and
    * perceptual-image — this is the "same meaning, different words"
    * modality none of those can see (a paraphrase shares no shingles, so
    * its Jaccard is ~0 and every lexical path keeps both copies;
    * SemanticDedupSpec plants exactly that pair and proves MinHash
    * misses it while this face merges it).
    *
    * Composition of [[semanticDedupKeepersWith]] with the production
    * reality that EMBEDDING COVERAGE IS PARTIAL — you can only
    * semantically dedup what you embedded (embedding generation is its
    * own budgeted pipeline stage): semantic keepers run over the
    * embedded subset; documents without an embedding keep themselves via
    * a LEFT join + coalesce. Output is the engine-wide keeper-table
    * shape (doc_id, keeper_id), so every downstream keeper consumer
    * (cluster-size histogram, survivor anti-joins) composes unchanged.
    *
    * Scale shape: the keeper table is one cluster-bounded pair join +
    * CC over the EMBEDDED subset (Σ|cluster|², never corpus-quadratic);
    * the doc-side join is a plain equi-join on the id — no text column
    * ever enters a shuffle. */
  def semanticDedupDocsWith(centers: IndexedSeq[IndexedSeq[Double]],
                            docs: DataFrame, emb: DataFrame,
                            threshold: Double,
                            docIdCol: String = "doc_id",
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val keepers = semanticDedupKeepersWith(centers, emb, threshold,
      idCol, vecCol)
    docs.select(col(docIdCol).cast("long").as("doc_id"))
      .join(keepers.withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("keeper_vec_id"), col("doc_id")).as("keeper_id"))
      .orderBy(col("doc_id"))
  }

  /** [EXT] INCREMENTAL semantic dedup under a FROZEN quantizer
    * (`dedup_semantic_incremental` query; r16, the r15 verdict's #1) —
    * the [[graft.dedup.Dedup.newKeepers]] discipline transplanted to the
    * embedding modality: history is represented ONLY by its persisted
    * KEEPER embedding rows (`index`), the quantizer stays the one fitted
    * when history was built (the IVF `appendToStore` freeze — assignment
    * is a pure function of (vector, centers), so batch rows land in the
    * same clusters a full recompute would put them in), and no
    * connected-components recompute ever touches historical docs:
    *
    *  1. assign the batch under the frozen centers (scan-stage argmin,
    *     shuffle-free);
    *  2. batch × index equi-join ON THE CLUSTER ID, exact cosine ≥
    *     threshold → per batch doc its min matching HISTORY KEEPER id
    *     (the index holds keepers only, so the match IS the component
    *     label — the persisted-keepers contract);
    *  3. [[semanticDedupKeepersWith]] WITHIN the batch (batches carry
    *     their own dups);
    *  4. a batch component with any history match dedups wholesale to
    *     the min matched keeper; otherwise its min member becomes a NEW
    *     keeper (novel = 1 on exactly that row).
    *
    * Output: (vec_id, keeper_vec_id, novel) per batch row. Per-batch
    * cost is O(|batch| · avg-cluster-occupancy) — independent of history
    * size, the same contract as the MinHash incremental face. Like that
    * face, history components can never MERGE through a batch row (the
    * min-match rule picks one) — the known, documented asymmetry vs a
    * full recompute, pinned by SemanticDedupSpec's containment test. */
  def semanticDedupIncrementalWith(centers: IndexedSeq[IndexedSeq[Double]],
                                   batch: DataFrame, index: DataFrame,
                                   threshold: Double,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding"): DataFrame = {
    def prep(df: DataFrame) = graft.Par.widen(df)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", norm(col("v")))
      .withColumn("cluster",
        element_at(org.apache.spark.sql.graft.VectorFunctions
          .nearestCentroids(col("v"), centers, 1), 1))
    val b = prep(batch)
      .select(col("cluster"), col("id").as("bid"), col("v").as("bv"),
        col("n").as("bn"))
    val ix = prep(index)
      .select(col("cluster"), col("id").as("iid"), col("v").as("iv"),
        col("n").as("in_"))
    val matches = b.join(ix, Seq("cluster"))
      .filter(round(dot(col("bv"), col("iv")) / (col("bn") * col("in_")), 6)
        >= threshold)
      .groupBy(col("bid")).agg(min(col("iid")).as("ex_keeper"))
    val inKeepers = semanticDedupKeepersWith(centers, batch, threshold,
      idCol, vecCol)
    val compMatch = inKeepers
      .join(matches, inKeepers("vec_id") === matches("bid"))
      .groupBy(col("keeper_vec_id")).agg(min(col("ex_keeper")).as("comp_ex"))
    inKeepers.join(compMatch, Seq("keeper_vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("comp_ex"), col("keeper_vec_id")).as("keeper_vec_id"),
        (col("comp_ex").isNull && col("vec_id") === col("keeper_vec_id"))
          .cast("int").as("novel"))
      .orderBy(col("vec_id"))
  }

  /** The shared assignment + within-subset pair/CC CTE chain of the
    * semantic-dedup oracles, parameterized by the embedding subset —
    * identical arithmetic to [[sqlSemanticDedupKeepers]] (proven since
    * r9), with a WHERE carving the subset. Emits CTEs `cent, n, sc, asg,
    * cp, edges, reach, k` where `k` is (id, keeper). */
  private def sqlSemanticCtes(centers: IndexedSeq[IndexedSeq[Double]],
                              threshold: Double, embWhere: String): String =
    s"""cent AS (
       |  FROM (VALUES
       |    ${FittedOracle.centroidValues(centers)}) cent(cid, n2, cv)),
       |n AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x),
       |                     (a,b) -> a+b)) AS nv
       |  FROM embeddings WHERE $embWhere),
       |sc AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY sco ASC, cid ASC) AS rn
       |  FROM (
       |    SELECT n.vec_id, cent.cid,
       |      cent.n2 - 2.0 * list_reduce(
       |        list_transform(range(1, len(n.v)+1), i -> n.v[i] * cent.cv[i]),
       |        (a,b) -> a+b) AS sco
       |    FROM n CROSS JOIN cent)),
       |asg AS (SELECT vec_id, cid AS cluster FROM sc WHERE rn = 1),
       |cp AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |      round(list_reduce(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i]),
       |                        (p,q) -> p+q) / (x.nv * y.nv), 6) AS cosine
       |    FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |    JOIN n x ON a.vec_id = x.vec_id JOIN n y ON b.vec_id = y.vec_id)
       |  WHERE cosine >= $threshold),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM cp
       |          UNION ALL SELECT id_b, id_a FROM cp),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS label FROM embeddings WHERE $embWhere
       |  UNION
       |  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id),
       |k AS (SELECT id, MIN(label) AS keeper FROM reach GROUP BY id)""".stripMargin

  /** DuckDB mirror of [[semanticDedupDocsWith]] — the FULL oracle for
    * `dedup_semantic`: the proven semantic CTE chain over the covered
    * embedding subset, then the documents LEFT join + keep-self
    * coalesce. */
  def sqlSemanticDedupDocs(centers: IndexedSeq[IndexedSeq[Double]],
                           threshold: Double, embWhere: String): String =
    s"""WITH RECURSIVE ${sqlSemanticCtes(centers, threshold, embWhere)}
       |SELECT d.doc_id, COALESCE(k.keeper, d.doc_id) AS keeper_id
       |FROM documents d LEFT JOIN k ON d.doc_id = k.id
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB mirror of [[semanticDedupIncrementalWith]] — the FULL oracle
    * for `dedup_semantic_incremental`. TWO CC passes replay the state
    * contract end-to-end: the history half's CC derives the persisted
    * KEEPER index (`hk`), the batch half's CC the within-batch
    * components; the cross join is cluster-equal + cosine ≥ threshold
    * against keeper rows only, lifted to the batch component by min —
    * the exact arithmetic of steps 1-4 in the operator's scaladoc. */
  def sqlSemanticDedupIncremental(centers: IndexedSeq[IndexedSeq[Double]],
                                  threshold: Double, histWhere: String,
                                  batchWhere: String): String = {
    val hist = sqlSemanticCtes(centers, threshold, histWhere)
      .replaceAll("\\b(cent|n|sc|asg|cp|edges|reach|k)\\b", "h_$1")
    val batch = sqlSemanticCtes(centers, threshold, batchWhere)
      .replaceAll("\\b(cent|n|sc|asg|cp|edges|reach|k)\\b", "b_$1")
    s"""WITH RECURSIVE $hist,
       |$batch,
       |hk AS (
       |  SELECT a.vec_id, a.cluster, x.v, x.nv
       |  FROM h_asg a JOIN h_k kk ON a.vec_id = kk.id AND kk.id = kk.keeper
       |  JOIN h_n x ON a.vec_id = x.vec_id),
       |m AS (
       |  SELECT b.vec_id AS bid, MIN(h.vec_id) AS ex_keeper
       |  FROM (SELECT a.vec_id, a.cluster, x.v, x.nv
       |        FROM b_asg a JOIN b_n x ON a.vec_id = x.vec_id) b
       |  JOIN hk h ON b.cluster = h.cluster
       |  WHERE round(list_reduce(
       |      list_transform(range(1, len(b.v)+1), i -> b.v[i] * h.v[i]),
       |      (p,q) -> p+q) / (b.nv * h.nv), 6) >= $threshold
       |  GROUP BY 1),
       |cm AS (
       |  SELECT kk.keeper AS comp, MIN(m.ex_keeper) AS comp_ex
       |  FROM b_k kk JOIN m ON kk.id = m.bid GROUP BY 1)
       |SELECT kk.id AS vec_id,
       |  COALESCE(cm.comp_ex, kk.keeper) AS keeper_vec_id,
       |  CAST(cm.comp_ex IS NULL AND kk.id = kk.keeper AS INT) AS novel
       |FROM b_k kk LEFT JOIN cm ON kk.keeper = cm.comp
       |ORDER BY vec_id""".stripMargin
  }

  /** Deterministic pseudo-random hyperplanes (unit-free — only the sign of
    * the projection matters). Fixed seed: buckets are stable across runs. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Full LSH bucket-assignment table for [[knnLsh]]'s plane family
    * (`lsh_bucket_assignments` query): (vec_id, tbl, bucket) for every
    * vector × table — the deterministic HALF of the ANN pipeline, split
    * out so it can carry a FULL oracle: the plane constants are fixed
    * doubles, `Double.toString` round-trips them exactly into SQL, and
    * the native [[graft.functions.LshTableBuckets]] loop accumulates
    * each projection left-to-right — the same association as the printed
    * left-assoc SQL chain, so both engines compute bit-identical
    * projections and identical sign buckets ([[sqlLshBuckets]]). Since
    * r8 the cosine re-rank replays too ([[sqlKnnLsh]]), so `knn_lsh`
    * itself carries a full oracle; this table remains the standalone
    * bucket-layer check. */
  def lshBucketAssignments(emb: DataFrame, bitsPerTable: Int = 6,
                           tables: Int = 12, dim: Int = 64,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(bitsPerTable * tables, dim)
    graft.Par.widen(emb)
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .select(col(idCol), posexplode(org.apache.spark.sql.graft.VectorFunctions
        .lshTableBuckets(col("v"), planes, bitsPerTable)).as(Seq("tbl", "bucket")))
      .select(col(idCol), col("tbl").cast("long").as("tbl"), col("bucket"))
      .orderBy(col(idCol), col("tbl"))
  }

  /** DuckDB mirror of [[lshBucketAssignments]] over the `embeddings`
    * table: every plane component prints via `Double.toString` (exact
    * round-trip), each dot replays as a left-associated chain matching
    * the native loop's accumulation order, bucket bit j adds 2^j when
    * the projection is positive. */
  def sqlLshBuckets(bitsPerTable: Int = 6, tables: Int = 12,
                    dim: Int = 64): String =
    s"""WITH b AS (
       |  SELECT vec_id, [${sqlLshBucketArray(bitsPerTable, tables, dim)}] AS l
       |  FROM embeddings)
       |SELECT vec_id, CAST(UNNEST(range(0, $tables)) AS BIGINT) AS tbl,
       |       CAST(UNNEST(l) AS BIGINT) AS bucket
       |FROM b ORDER BY vec_id, tbl""".stripMargin

  /** The per-table sign-bucket expressions as a SQL array-literal body —
    * shared by [[sqlLshBuckets]] and [[sqlEmbeddingDedupKeepersScaled]]
    * so the two oracles can never disagree on the plane family. */
  private def sqlLshBucketArray(bitsPerTable: Int, tables: Int, dim: Int): String = {
    val planes = hyperplanes(bitsPerTable * tables, dim)
    (0 until tables).map { t =>
      val bits = (0 until bitsPerTable).map { b =>
        val p = planes(t * bitsPerTable + b)
        val dot = p.zipWithIndex.map { case (c, i) =>
          s"CAST(embedding[${i + 1}] AS DOUBLE) * $c"
        }.mkString(" + ")
        s"CASE WHEN ($dot) > 0 THEN ${1L << b} ELSE 0 END"
      }.mkString(" + ")
      s"($bits)"
    }.mkString(",\n    ")
  }

  /** DuckDB mirror of [[embeddingDedupKeepersScaled]] — the FULL oracle
    * for the LSH-fed embedding dedup (r8): replay the sign buckets from
    * the printed plane constants ([[sqlLshBucketArray]]), take DISTINCT
    * pairs sharing ≥ 1 (table, bucket) — the same candidate SET the
    * engine's first-matching-table trick emits exactly once — verify
    * with the `cosine_pairs` left-assoc float arithmetic, and label
    * components with the recursive-CTE min-reachable-label CC the
    * `dedup_keepers` oracle established. Every piece reuses an
    * already-green discipline; composing them is what upgrades this
    * query from rows-only to hash-checked. */
  def sqlEmbeddingDedupKeepersScaled(threshold: Double, bitsPerTable: Int = 6,
                                     tables: Int = 12, dim: Int = 64): String =
    s"""WITH RECURSIVE n AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x),
       |                     (a,b) -> a+b)) AS nv
       |  FROM embeddings),
       |b AS (
       |  SELECT vec_id, [${sqlLshBucketArray(bitsPerTable, tables, dim)}] AS l
       |  FROM embeddings),
       |bb AS (
       |  SELECT vec_id, t AS tbl, l[t+1] AS bucket
       |  FROM b CROSS JOIN (SELECT UNNEST(range(0, $tables)) AS t)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
       |  FROM bb a JOIN bb c ON a.tbl = c.tbl AND a.bucket = c.bucket
       |    AND a.vec_id < c.vec_id),
       |cp AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT cand.id_a, cand.id_b,
       |      round(list_reduce(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i]),
       |                        (p,q) -> p+q) / (x.nv * y.nv), 6) AS cosine
       |    FROM cand JOIN n x ON cand.id_a = x.vec_id JOIN n y ON cand.id_b = y.vec_id)
       |  WHERE cosine >= $threshold),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM cp
       |          UNION ALL SELECT id_b, id_a FROM cp),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS label FROM embeddings
       |  UNION
       |  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id)
       |SELECT id AS vec_id, MIN(label) AS keeper_vec_id
       |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin

  /** DuckDB mirror of [[knnLsh]] for the fixture probe convention
    * (`vec_id % 50 == 0`) — the FULL oracle for `knn_lsh` (r8): bucket
    * replay from printed plane constants, DISTINCT shared-bucket
    * (probe, candidate) pairs, then the `knn_bruteforce` oracle's exact
    * rank tail (same left-assoc cosine, same (cosine desc, cand asc)
    * window) restricted to the LSH candidates. The ANN's recall is
    * thereby hash-checked, not just spec-bounded. */
  def sqlKnnLsh(k: Int, bitsPerTable: Int = 6, tables: Int = 12,
                dim: Int = 64): String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x),
       |                     (a,b) -> a+b)) AS nv
       |  FROM embeddings),
       |b AS (
       |  SELECT vec_id, [${sqlLshBucketArray(bitsPerTable, tables, dim)}] AS l
       |  FROM embeddings),
       |bb AS (
       |  SELECT vec_id, t AS tbl, l[t+1] AS bucket
       |  FROM b CROSS JOIN (SELECT UNNEST(range(0, $tables)) AS t)),
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id
       |  FROM bb p JOIN bb c ON p.tbl = c.tbl AND p.bucket = c.bucket
       |  WHERE p.vec_id % 50 = 0 AND c.vec_id <> p.vec_id),
       |s AS (
       |  SELECT cand.probe_id, cand.cand_id,
       |    round(list_reduce(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i]),
       |                      (a,b) -> a+b) / (x.nv * y.nv), 6) AS cosine
       |  FROM cand JOIN n x ON cand.probe_id = x.vec_id
       |            JOIN n y ON cand.cand_id = y.vec_id),
       |r AS (SELECT probe_id, cand_id, cosine,
       |        row_number() OVER (PARTITION BY probe_id
       |                           ORDER BY cosine DESC, cand_id ASC) AS rk
       |      FROM s)
       |SELECT probe_id, rk, cand_id, cosine FROM r WHERE rk <= $k
       |ORDER BY probe_id, rk""".stripMargin

  /** Multi-table LSH-bucketed approximate kNN (`knn_lsh` query).
    *
    * OR-amplification — the random-hyperplane analog of MinHash banding:
    * `tables` independent hash tables of `bitsPerTable` hyperplane sign
    * bits each; a candidate is considered if it shares the probe's bucket
    * in ANY table, then re-ranked by exact cosine. With p = 1 − θ/π the
    * per-plane agreement, recall = 1 − (1 − p^bits)^tables: at 8×8 defaults
    * a same-cluster neighbor (θ≈30°, p≈0.83) is caught with prob ~0.86
    * while an unrelated vector (θ≈90°, p=0.5) survives a table only 0.4%
    * of the time — the re-rank pool stays a small fraction of the corpus.
    * A single table (tables=1) degenerates to near-zero recall on
    * clustered data; this shape is the scale path: candidate generation is
    * an equi-join on (table, bucket), never a cross product.
    *
    * Defaults (6 bits × 12 tables) target the driver fixtures, whose
    * nearest neighbors sit at θ≈72° (near-random data): recall ≈ 0.44 with
    * a re-rank pool ≈ 17% of the corpus. On real embedding corpora where
    * neighbors sit at θ≤30°, the same defaults give recall ≥ 0.99 with a
    * far smaller pool; raise bitsPerTable as neighbors get tighter. */
  def knnLsh(candidates: DataFrame, probes: DataFrame, k: Int,
             bitsPerTable: Int = 6, tables: Int = 12,
             dim: Int = 64, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(bitsPerTable * tables, dim)
    def bucketed(df: DataFrame, id: String, v: String, n: String) = {
      val base = graft.Par.widen(df).select(col(idCol).as(id), asDouble(col(vecCol)).as(v))
        .withColumn(n, norm(col(v)))
      // One native expression computes every table's bucket in a single
      // matrix-vector pass (the composed per-plane form built a ~5000-leaf
      // expression tree that broke out of codegen).
      val buckets = org.apache.spark.sql.graft.VectorFunctions
        .lshTableBuckets(col(v), planes, bitsPerTable)
      base.select(col(id), col(v), col(n), posexplode(buckets).as(Seq("table", "bucket")))
    }
    val cand = bucketed(candidates, "cand_id", "cv", "cn")
    val prob = bucketed(probes, "probe_id", "pv", "pn")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("cand_id").asc)
    cand.join(broadcast(prob), Seq("table", "bucket"))
      .filter(col("cand_id") =!= col("probe_id"))
      // Cosine BEFORE the pair-dedup: a pair colliding in t tables computes
      // the (codegen'd) dot t times, but the dedup exchange then carries 3
      // narrow columns instead of two 64-double vectors per row.
      .select(col("probe_id"), col("cand_id"),
        round(dot(col("pv"), col("cv")) / (col("pn") * col("cn")), 6).as("cosine"))
      .dropDuplicates("probe_id", "cand_id")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("cand_id"), col("cosine"))
      .orderBy(col("probe_id"), col("rk"))
  }

  /** Margin-based bitext mining (`bitext_mine` query) — the
    * CCMatrix/LASER recipe (Artetxe & Schwenk 2019) for pairing
    * sentences across two embedding sets (two languages, two corpus
    * snapshots, caption↔image): raw cosine over-selects hubs (vectors
    * close to EVERYTHING), so each pair is scored by its cosine
    * relative to both sides' neighborhood density,
    *
    *   margin(x,y) = cos(x,y) / ((avgNN_k(x) + avgNN_k(y)) / 2),
    *
    * and a pair is emitted only when it is x's best-margin forward
    * candidate AND y's best-margin backward candidate (mutual argmax)
    * with margin ≥ `marginThreshold`.
    *
    * Arithmetic discipline: cosines come from the codegen'd native dot
    * with the left-to-right fold DuckDB's `list_reduce` replays
    * bit-identically; the k-NN averages fold the RANK-ORDERED cosine
    * list the same way (never a float `avg()`, whose summation order is
    * engine-internal), so margins — ratios of bit-identical doubles —
    * rank identically in both engines and the mutual argmax is exact.
    * Rounding happens only on output.
    *
    * Scale shape: this baseline scores the full src×tgt cross — exact,
    * for bounded sides (the knnBruteForce contract). At corpus scale
    * swap the pair feed for IVF-pruned candidates ([[graft.similarity
    * .Pq]]/[[Ivf]]) and keep everything downstream: ranks, averages,
    * and the mutual argmax only ever touch (id, id, cosine) rows —
    * vectors never pass an exchange after the score. */
  def bitextMine(src: DataFrame, tgt: DataFrame, k: Int = 4,
                 marginThreshold: Double = 1.05,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val s = graft.Par.widen(src)
      .select(col(idCol).as("src_id"), asDouble(col(vecCol)).as("sv"))
      .withColumn("sn", norm(col("sv")))
    val t = graft.Par.widen(tgt)
      .select(col(idCol).as("tgt_id"), asDouble(col(vecCol)).as("tv"))
      .withColumn("tn", norm(col("tv")))
    marginMutual(
      s.crossJoin(t)
        .select(col("src_id"), col("tgt_id"),
          (dot(col("sv"), col("tv")) / (col("sn") * col("tn"))).as("cos")),
      k, marginThreshold)
  }

  /** [[bitextMine]] over an IVF-pruned candidate feed
    * (`bitext_mine_ivf` query) — the corpus-scale form: both sides
    * assign to a SHARED fitted quantizer (list side = own nearest
    * centroid, probe side = `nprobe` nearest), candidates are the pairs
    * meeting in a list, and the margin/mutual machinery downstream is
    * IDENTICAL — k-NN ranks, neighborhood averages, and the mutual
    * argmax are simply computed within the candidate pool, which is the
    * standard production trade (CCMatrix mines against an index, not
    * the cross product). The tgt side holds exactly ONE list, so a pair
    * meets at most once — no candidate dedup exchange. The list
    * equi-join shuffles both sides by list id with vectors in flight
    * ONCE; everything after the score is (id, id, cos) rows. */
  def bitextMineIvf(centers: IndexedSeq[IndexedSeq[Double]],
                    src: DataFrame, tgt: DataFrame, k: Int = 4,
                    marginThreshold: Double = 1.05, nprobe: Int = 2,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    def nearest(v: Column, n: Int) =
      org.apache.spark.sql.graft.VectorFunctions.nearestCentroids(v, centers, n)
    val s = graft.Par.widen(src)
      .select(col(idCol).as("src_id"), asDouble(col(vecCol)).as("sv"))
      .withColumn("sn", norm(col("sv")))
      .select(col("src_id"), col("sv"), col("sn"),
        explode(nearest(col("sv"), nprobe)).as("list"))
    val t = graft.Par.widen(tgt)
      .select(col(idCol).as("tgt_id"), asDouble(col(vecCol)).as("tv"))
      .withColumn("tn", norm(col("tv")))
      .withColumn("list", element_at(nearest(col("tv"), 1), 1))
    marginMutual(
      s.join(t, Seq("list"))
        .select(col("src_id"), col("tgt_id"),
          (dot(col("sv"), col("tv")) / (col("sn") * col("tn"))).as("cos")),
      k, marginThreshold)
  }

  /** The margin/mutual-argmax tail shared by [[bitextMine]] and
    * [[bitextMineIvf]]: takes scored pairs (src_id, tgt_id, cos) and
    * returns the mutual best-margin pairs at the threshold. */
  private def marginMutual(scored: DataFrame, k: Int,
                           marginThreshold: Double): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_id")).orderBy(col("cos").desc, col("tgt_id").asc)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tgt_id")).orderBy(col("cos").desc, col("src_id").asc)
    // Both ranks on the same rows; vectors were dropped by the caller
    // before any exchange.
    val ranked = scored
      .withColumn("rf", row_number().over(wf).cast("long"))
      .withColumn("rb", row_number().over(wb).cast("long"))
      .filter(col("rf") <= k || col("rb") <= k)
      .pinned
    // k-NN averages as a fold over the rank-ordered list — deterministic
    // summation order in both engines (see scaladoc).
    def knnAvg(rows: DataFrame, key: String, rank: String, out: String) =
      rows.filter(col(rank) <= k)
        .groupBy(col(key))
        .agg((aggregate(
            transform(array_sort(collect_list(struct(col(rank), col("cos")))),
              _.getField("cos")),
            lit(0.0), _ + _) / count(lit(1))).as(out))
    val af = knnAvg(ranked, "src_id", "rf", "af")
    val ab = knnAvg(ranked, "tgt_id", "rb", "ab")
    // Pinned (r17, guide §1.2): the margin frame feeds THREE consumers —
    // bestF, bestB and the final mutual join — and each re-ran both kNN-
    // average aggregates plus the two joins over `ranked` before this.
    // It is (≤ 2k·n)-row narrow, the cheapest frame on the path to pin.
    val m = ranked
      .join(af, Seq("src_id")).join(ab, Seq("tgt_id"))
      .withColumn("margin", col("cos") / ((col("af") + col("ab")) / 2))
      .pinned
    val bwf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_id")).orderBy(col("margin").desc, col("tgt_id").asc)
    val bwb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tgt_id")).orderBy(col("margin").desc, col("src_id").asc)
    val bestF = m.filter(col("rf") <= k)
      .withColumn("kf", row_number().over(bwf)).filter(col("kf") === 1)
      .select(col("src_id"), col("tgt_id"))
    val bestB = m.filter(col("rb") <= k)
      .withColumn("kb", row_number().over(bwb)).filter(col("kb") === 1)
      .select(col("src_id"), col("tgt_id"))
    m.join(bestF, Seq("src_id", "tgt_id"))
      .join(bestB, Seq("src_id", "tgt_id"))
      .filter(col("margin") >= marginThreshold)
      .select(col("src_id"), col("tgt_id"),
        round(col("cos"), 6).as("cosine"),
        round(col("margin"), 6).as("margin"))
      .orderBy(col("src_id"))
  }

  /** The margin/mutual tail as SQL — CTEs over a `p`(src_id, tgt_id,
    * cos) candidate CTE supplied by the caller, mirroring
    * [[marginMutual]]. Pre-stripped for interpolation. */
  private def sqlMarginTail(k: Int, marginThreshold: Double): String =
    s"""r AS (SELECT src_id, tgt_id, cos,
       |    row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rf,
       |    row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS rb
       |  FROM p),
       |af AS (SELECT src_id, list_reduce(list(cos ORDER BY rf), (x,y) -> x+y)
       |         / count(*) AS af
       |  FROM (SELECT * FROM r WHERE rf <= $k) GROUP BY src_id),
       |ab AS (SELECT tgt_id, list_reduce(list(cos ORDER BY rb), (x,y) -> x+y)
       |         / count(*) AS ab
       |  FROM (SELECT * FROM r WHERE rb <= $k) GROUP BY tgt_id),
       |m AS (SELECT r.src_id, r.tgt_id, r.cos, rf, rb,
       |    r.cos / ((af.af + ab.ab) / 2) AS margin
       |  FROM r JOIN af USING (src_id) JOIN ab USING (tgt_id)
       |  WHERE rf <= $k OR rb <= $k),
       |bf AS (SELECT src_id, tgt_id FROM (
       |    SELECT src_id, tgt_id,
       |      row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS kk
       |    FROM m WHERE rf <= $k) WHERE kk = 1),
       |bb AS (SELECT src_id, tgt_id FROM (
       |    SELECT src_id, tgt_id,
       |      row_number() OVER (PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS kk
       |    FROM m WHERE rb <= $k) WHERE kk = 1)
       |SELECT m.src_id, m.tgt_id, round(m.cos, 6) AS cosine,
       |  round(m.margin, 6) AS margin
       |FROM m JOIN bf ON m.src_id = bf.src_id AND m.tgt_id = bf.tgt_id
       |       JOIN bb ON m.src_id = bb.src_id AND m.tgt_id = bb.tgt_id
       |WHERE m.margin >= $marginThreshold
       |ORDER BY m.src_id""".stripMargin

  /** DuckDB mirror of [[bitextMine]] over the `embeddings` table split
    * by vec_id parity (even = src side, odd = tgt side). */
  def sqlBitextMine(k: Int = 4, marginThreshold: Double = 1.05): String =
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x),
       |                     (a,b) -> a+b)) AS nv
       |  FROM embeddings),
       |s AS (SELECT vec_id AS src_id, v, nv FROM n WHERE vec_id % 2 = 0),
       |t AS (SELECT vec_id AS tgt_id, v, nv FROM n WHERE vec_id % 2 = 1),
       |p AS (SELECT s.src_id, t.tgt_id,
       |    list_reduce(list_transform(range(1, len(s.v)+1), i -> s.v[i]*t.v[i]),
       |                (x,y) -> x+y) / (s.nv * t.nv) AS cos
       |  FROM s CROSS JOIN t),
       |${sqlMarginTail(k, marginThreshold)}""".stripMargin

  /** DuckDB mirror of [[bitextMineIvf]] (same parity split): printed
    * centroids replay the native assignment (`|c|² − 2·v·c`, lower cid
    * breaks ties — the [[Ivf.sqlKnnIvf]] discipline), candidates meet in
    * a list, and the margin tail is [[sqlBitextMine]]'s verbatim. */
  def sqlBitextMineIvf(centers: IndexedSeq[IndexedSeq[Double]],
                       k: Int = 4, marginThreshold: Double = 1.05,
                       nprobe: Int = 2): String =
    s"""WITH cent AS (
       |  FROM (VALUES
       |    ${FittedOracle.centroidValues(centers)}) cent(cid, n2, cv)),
       |n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x),
       |                     (a,b) -> a+b)) AS nv
       |  FROM embeddings),
       |sc0 AS (
       |  SELECT n.vec_id, cent.cid,
       |    cent.n2 - 2.0 * list_reduce(
       |      list_transform(range(1, len(n.v)+1), i -> n.v[i] * cent.cv[i]),
       |      (a,b) -> a+b) AS sco
       |  FROM n CROSS JOIN cent),
       |sc AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY sco ASC, cid ASC) AS rn
       |  FROM sc0),
       |sl AS (SELECT vec_id AS src_id, cid AS list FROM sc
       |       WHERE rn <= $nprobe AND vec_id % 2 = 0),
       |tl AS (SELECT vec_id AS tgt_id, cid AS list FROM sc
       |       WHERE rn = 1 AND vec_id % 2 = 1),
       |p AS (SELECT sl.src_id, tl.tgt_id,
       |    list_reduce(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i]),
       |                (a,b) -> a+b) / (x.nv * y.nv) AS cos
       |  FROM sl JOIN tl USING (list)
       |       JOIN n x ON sl.src_id = x.vec_id
       |       JOIN n y ON tl.tgt_id = y.vec_id),
       |${sqlMarginTail(k, marginThreshold)}""".stripMargin

  /** [EXT] Contrastive training triplets (`contrastive_triplets` query)
    * — the artifact embedding fine-tuning actually consumes: (anchor,
    * positive, negative) rows where positives are embedding-space
    * near-dups ([[cosinePairs]] ≥ threshold, both orientations — the
    * natural-positive recipe) and each anchor's negative is its top
    * DIFFERENT-label neighbor with the FaceNet semi-hard flag
    * ([[hardNegatives]], k = 1). Anchors with no cross-label candidate
    * keep the pair with null negative columns (drop or resample
    * downstream — silently losing the positive would bias the set).
    * Both feeds carry proven mirrors, so the composition is a full
    * oracle. Audit-scale pair feeds here (the all-pairs audit join);
    * at corpus scale swap in the LSH/IVF candidate feeds for both
    * sides — the join and flag logic downstream are unchanged. */
  /** [EXT] Scalar int8 quantization (`embedding_quantize` query) — the
    * STORAGE-side compression next to [[Pq]]'s search-side codes: each
    * vector stores 4× smaller as per-vector-scaled int8
    * (`scale = max|xᵢ| ∕ 127`, `codeᵢ = ⌊xᵢ∕scale + ½⌋` — FLOOR(+0.5)
    * instead of round() because the two engines disagree on round-half
    * modes while floor is unambiguous; |code| ≤ 127 by construction, no
    * clamp). The reconstruction-error column is the quality audit a
    * team reads before adopting the format (the [[Pq.distortionReport]]
    * role): fold-ordered exact double arithmetic, bit-identical across
    * engines (the cosine discipline). A zero vector quantizes to scale
    * 0 with all-zero codes. Scan-stage, shuffle-free; codes render as a
    * comma-joined string (the portable hash-compare form). */
  def scalarQuantize(emb: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    val maxabs = aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x)))
    graft.Par.widen(emb)
      .select(col(idCol), v.as("__v"), maxabs.as("__m"))
      .withColumn("scale", col("__m") / lit(127.0))
      .withColumn("__codes",
        when(col("__m") === 0.0,
          transform(col("__v"), _ => lit(0).cast("int")))
          .otherwise(transform(col("__v"),
            x => floor(x / col("scale") + lit(0.5)).cast("int"))))
      .withColumn("recon_err",
        aggregate(zip_with(col("__v"), col("__codes"),
          (x, c) => (x - c.cast("double") * col("scale"))
            * (x - c.cast("double") * col("scale"))),
          lit(0.0), (a, e) => a + e))
      // Full-precision scale (r10 advice): publishing round(scale, 8) while
      // codes/recon_err were computed from the UNROUNDED scale meant the
      // stored (scale, codes) pair reconstructed ~1e-9 differently than the
      // audited recon_err. Both engines derive scale by the same IEEE
      // double fold (greatest∘abs, then /127.0), so the raw value is
      // already bit-identical across the gate — no rounding needed, and
      // the artifact now exactly reproduces the audit.
      .select(col(idCol), col("scale"),
        array_join(col("__codes"), ",").as("codes"),
        round(col("recon_err"), 8).as("recon_err"))
      .orderBy(col(idCol))
  }

  /** DuckDB mirror of [[scalarQuantize]] over a relation exposing
    * (idCol, vecCol float[]). */
  def sqlScalarQuantize(rel: String, idCol: String = "vec_id",
                        vecCol: String = "embedding"): String =
    s"""WITH sq_e AS (
       |  SELECT $idCol, $vecCol::DOUBLE[] AS v FROM $rel),
       |sq_m AS (
       |  SELECT $idCol, v,
       |    list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
       |      (a, x) -> greatest(a, x)) AS m
       |  FROM sq_e),
       |sq_q AS (
       |  SELECT $idCol, v, m / 127.0 AS scale,
       |    CASE WHEN m = 0 THEN list_transform(v, x -> 0)
       |         ELSE list_transform(v,
       |           x -> CAST(FLOOR(x / (m / 127.0) + 0.5) AS INT)) END AS codes
       |  FROM sq_m)
       |SELECT $idCol, scale,
       |  array_to_string(codes, ',') AS codes,
       |  round(list_reduce(list_prepend(0.0,
       |    list_transform(list_zip(v, codes),
       |      z -> (z[1] - z[2] * scale) * (z[1] - z[2] * scale))),
       |    (a, e) -> a + e), 8) AS recon_err
       |FROM sq_q ORDER BY $idCol""".stripMargin

  /** The decode side of [[scalarQuantize]]: (idCol, vecCol) with each
    * vector replaced by its quantize→dequantize round trip
    * (`⌊x∕scale + ½⌋ · scale`, doubles end-to-end — for |code| ≤ 127
    * the float path and the int path are the same value). Composes with
    * any consumer of an embedding column; `knn_quantized` runs the
    * brute-force search over THIS store with full-precision probes —
    * the operational question ("can I serve search from the 4×-smaller
    * shards?") as a query. */
  def dequantized(emb: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    val maxabs = aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x)))
    graft.Par.widen(emb)
      .select(col(idCol), v.as("__v"), (maxabs / lit(127.0)).as("__s"))
      .select(col(idCol),
        when(col("__s") === 0.0, transform(col("__v"), _ => lit(0.0)))
          .otherwise(transform(col("__v"),
            x => floor(x / col("__s") + lit(0.5)) * col("__s")))
          .as(vecCol))
  }

  /** [[dequantized]] + the brute-force rank as one DuckDB query. */
  def sqlKnnQuantized(probeWhere: String, k: Int): String =
    s"""WITH qe AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |qm AS (
       |  SELECT vec_id, v,
       |    list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
       |      (a, x) -> greatest(a, x)) AS m
       |  FROM qe),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x*x),
       |    (a,b) -> a+b)) AS nv
       |  FROM (
       |    SELECT vec_id,
       |      CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
       |           ELSE list_transform(v,
       |             x -> FLOOR(x / (m / 127.0) + 0.5) * (m / 127.0)) END AS v
       |    FROM qm)),
       |p AS (
       |  SELECT vec_id AS probe_id, v AS pv,
       |    sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS pn
       |  FROM qe WHERE $probeWhere),
       |s AS (
       |  SELECT probe_id, vec_id AS cand_id,
       |    round(list_reduce(list_transform(range(1, len(pv)+1), i -> pv[i]*v[i]),
       |                      (a,b) -> a+b) / (pn * nv), 6) AS cosine
       |  FROM p JOIN n ON vec_id <> probe_id),
       |r AS (SELECT probe_id, cand_id, cosine,
       |        row_number() OVER (PARTITION BY probe_id
       |                           ORDER BY cosine DESC, cand_id ASC) AS rk
       |      FROM s)
       |SELECT probe_id, rk, cand_id, cosine FROM r WHERE rk <= $k
       |ORDER BY probe_id, rk""".stripMargin

  def contrastiveTriplets(emb: DataFrame, posThreshold: Double = 0.4,
                          margin: Double = 0.05,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    // Pin the (threshold-bounded, pair-scale) cosine pairs: the anchors
    // union reads them in BOTH orientations — unpinned, each branch
    // re-ran the whole O(n²) cosine pass (r17, guide §1.2).
    val pairs = graft.Mat.pin(cosinePairs(emb, posThreshold, idCol, vecCol))
    val anchors = pairs.select(col("id_a").as("anchor_id"),
        col("id_b").as("positive_id"), col("cosine").as("cos_pos"))
      .unionByName(pairs.select(col("id_b").as("anchor_id"),
        col("id_a").as("positive_id"), col("cosine").as("cos_pos")))
    val negs = hardNegatives(emb, emb, 1, margin, idCol, vecCol)
      .select(col("anchor_id"), col("cand_id").as("negative_id"),
        col("cosine").as("cos_neg"), col("semi_hard"))
    anchors.join(negs, Seq("anchor_id"), "left")
      .select(col("anchor_id"), col("positive_id"), col("cos_pos"),
        col("negative_id"), col("cos_neg"), col("semi_hard"))
      .orderBy(col("anchor_id"), col("positive_id"))
  }

  /** DuckDB mirror of [[contrastiveTriplets]]: the proven cosine-pair
    * and hard-negative mirrors composed whole. */
  def sqlContrastiveTriplets(posThreshold: Double,
                             margin: Double = 0.05): String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x),
       |                     (a,b) -> a+b)) AS nv
       |  FROM embeddings),
       |cp AS (
       |  SELECT id_a, id_b, cosine FROM (
       |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |      round(list_reduce(list_transform(range(1, len(a.v)+1),
       |                                       i -> a.v[i]*b.v[i]),
       |                        (x,y) -> x+y) / (a.nv * b.nv), 6) AS cosine
       |    FROM n a JOIN n b ON a.vec_id < b.vec_id)
       |  WHERE cosine >= $posThreshold),
       |anc AS (
       |  SELECT id_a AS anchor_id, id_b AS positive_id, cosine AS cos_pos
       |  FROM cp
       |  UNION ALL
       |  SELECT id_b, id_a, cosine FROM cp),
       |hn AS (FROM (${sqlHardNegatives("1 = 1", 1, margin)}))
       |SELECT anc.anchor_id, anc.positive_id, anc.cos_pos,
       |  hn.cand_id AS negative_id, hn.cosine AS cos_neg, hn.semi_hard
       |FROM anc LEFT JOIN hn ON anc.anchor_id = hn.anchor_id
       |ORDER BY anc.anchor_id, anc.positive_id""".stripMargin

  /** [EXT] Cluster-balanced sampling (`cluster_balanced_sample` query) —
    * topic-balanced subset selection (the DataComp/SemDeDup-era density
    * discipline): uniform sampling inherits the corpus's topic skew, so
    * an eval slice or a diversity-weighted training subset caps each
    * EMBEDDING CLUSTER instead of each label. Composition of two proven
    * pieces: the printed-centroid k-means assignment (the [[Ivf]] list
    * expression — scan-stage, shuffle-free) feeding
    * [[graft.pipeline.Curation.balancedSample]]'s per-class md5-order
    * top-k (exactly min(k, |cluster|) per cluster, content-keyed
    * determinism, one cluster-keyed exchange). */
  def clusterBalancedSample(candidates: DataFrame,
                            centers: IndexedSeq[IndexedSeq[Double]], k: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val assigned = graft.Par.widen(candidates).select(col(idCol),
      element_at(org.apache.spark.sql.graft.VectorFunctions
        .nearestCentroids(asDouble(col(vecCol)), centers, 1), 1).as("cluster"))
    graft.pipeline.Curation.balancedSample(assigned, "cluster", idCol, k)
  }

  /** F132: embedding-cluster composition drift between two corpus
    * snapshots (`cluster_drift` query) — the release-to-release "did our
    * topic mix shift" audit. Training-mix stability is a first-class
    * release gate (the DataComp/DoReMi framing: domain/topic shares ARE
    * the mixture), and source labels can't see a drift that happens
    * INSIDE a source — embedding clusters can. Both snapshots are
    * assigned under ONE shared printed-centroid quantizer (a release
    * pins its codebook precisely so its composition numbers are
    * comparable across snapshots); per cluster: counts, integer
    * parts-per-million shares per side (n·10⁶ ∕ total, truncating —
    * the ppm discipline), and the share delta. A cluster spine reports
    * absent clusters as explicit zero rows rather than dropping them —
    * a topic vanishing IS the signal.
    *
    * Scale shape: assignment is the scan-stage argmin expression
    * (shuffle-free); each side then reduces to ≤ k aggregate rows, and
    * the spine/total joins are broadcast-size. Nothing node-scale ever
    * shuffles. */
  def clusterDrift(before: DataFrame, after: DataFrame,
                   centers: IndexedSeq[IndexedSeq[Double]],
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val spark = before.sparkSession
    import spark.implicits._
    def assigned(df: DataFrame) = graft.Par.widen(df)
      .select(element_at(org.apache.spark.sql.graft.VectorFunctions
        .nearestCentroids(asDouble(col(vecCol)), centers, 1), 1).as("cluster"))
    def sideCounts(df: DataFrame, name: String) = assigned(df)
      .groupBy(col("cluster")).agg(count(lit(1)).as(name))
    val b = sideCounts(before, "n_before")
    val a = sideCounts(after, "n_after")
    val spine = centers.indices.toDF("cluster")
      .select(col("cluster").cast("int").as("cluster"))
    // Pinned: the k-row count table feeds BOTH the totals aggregate and
    // the final projection — without materialization each consumer
    // re-runs the full two-sided assignment scan (4 parquet scans and
    // 10 exchanges observed in the plan-cost pin; 2 and ~5 pinned).
    val joined = spine
      .join(b, Seq("cluster"), "left")
      .join(a, Seq("cluster"), "left")
      .select(col("cluster"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .pinned
    val totals = joined.agg(sum(col("n_before")).as("tb"),
      sum(col("n_after")).as("ta"))
    // Integer (truncating) ppm divisions — Spark's DIV == DuckDB's //
    // on non-negative longs, the established fixed-point discipline.
    joined.crossJoin(broadcast(totals))
      .select(col("cluster"), col("n_before"), col("n_after"),
        expr("n_before * 1000000 DIV tb").as("share_before_ppm"),
        expr("n_after * 1000000 DIV ta").as("share_after_ppm"))
      .withColumn("delta_ppm",
        col("share_after_ppm") - col("share_before_ppm"))
      .orderBy(col("cluster"))
  }

  /** DuckDB mirror of [[clusterDrift]] over printed centroids and the
    * vec_id-parity snapshot stand-ins: the proven assignment CTE, one
    * count aggregate per side, the cluster spine via range(k), and the
    * same truncating ppm divisions. */
  def sqlClusterDrift(centers: IndexedSeq[IndexedSeq[Double]]): String =
    s"""WITH cent AS (
       |  FROM (VALUES
       |    ${FittedOracle.centroidValues(centers)}) cent(cid, n2, cv)),
       |n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sc0 AS (
       |  SELECT n.vec_id, cent.cid,
       |    cent.n2 - 2.0 * list_reduce(
       |      list_transform(range(1, len(n.v)+1), i -> n.v[i] * cent.cv[i]),
       |      (a,b) -> a+b) AS sco
       |  FROM n CROSS JOIN cent),
       |asg AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY sco ASC, cid ASC) AS rn
       |    FROM sc0) WHERE rn = 1),
       |b AS (SELECT cluster, COUNT(*) AS n_before FROM asg
       |      WHERE vec_id % 2 = 0 GROUP BY 1),
       |a AS (SELECT cluster, COUNT(*) AS n_after FROM asg
       |      WHERE vec_id % 2 <> 0 GROUP BY 1),
       |spine AS (SELECT UNNEST(range(${centers.length}))::INT AS cluster),
       |j AS (
       |  SELECT s.cluster,
       |    COALESCE(b.n_before, 0)::BIGINT AS n_before,
       |    COALESCE(a.n_after, 0)::BIGINT AS n_after
       |  FROM spine s LEFT JOIN b ON s.cluster = b.cluster
       |               LEFT JOIN a ON s.cluster = a.cluster),
       |t AS (SELECT SUM(n_before)::BIGINT AS tb, SUM(n_after)::BIGINT AS ta FROM j)
       |SELECT j.cluster, j.n_before, j.n_after,
       |  CAST(j.n_before * 1000000 // t.tb AS BIGINT) AS share_before_ppm,
       |  CAST(j.n_after * 1000000 // t.ta AS BIGINT) AS share_after_ppm,
       |  CAST(j.n_after * 1000000 // t.ta - j.n_before * 1000000 // t.tb
       |    AS BIGINT) AS delta_ppm
       |FROM j CROSS JOIN t
       |ORDER BY j.cluster""".stripMargin

  /** DuckDB mirror of [[clusterBalancedSample]] over printed centroids:
    * the proven assignment CTE + the `balanced_sample` md5-order rank. */
  def sqlClusterBalancedSample(centers: IndexedSeq[IndexedSeq[Double]],
                               k: Int): String =
    s"""WITH cent AS (
       |  FROM (VALUES
       |    ${FittedOracle.centroidValues(centers)}) cent(cid, n2, cv)),
       |n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sc0 AS (
       |  SELECT n.vec_id, cent.cid,
       |    cent.n2 - 2.0 * list_reduce(
       |      list_transform(range(1, len(n.v)+1), i -> n.v[i] * cent.cv[i]),
       |      (a,b) -> a+b) AS sco
       |  FROM n CROSS JOIN cent),
       |asg AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY sco ASC, cid ASC) AS rn
       |    FROM sc0) WHERE rn = 1),
       |r AS (
       |  SELECT cluster, vec_id,
       |    row_number() OVER (PARTITION BY cluster
       |                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
       |      AS rn
       |  FROM asg)
       |SELECT cluster, vec_id FROM r WHERE rn <= $k
       |ORDER BY cluster, vec_id""".stripMargin
}
