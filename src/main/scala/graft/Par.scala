package graft

import org.apache.spark.sql.DataFrame

/** Parallelism hygiene for expensive map stages. */
object Par {

  /** Repartition UP to the session's default parallelism when the input
    * has fewer partitions, behind a barrier the optimizer cannot see
    * through.
    *
    * A small parquet table arrives as one split, and every narrow stage
    * downstream of it — tokenize folds, MinHash signatures, the stream
    * side of a broadcast join — then runs on a single core no matter how
    * many the session has; measured as the dominant cost of the dedup and
    * similarity queries at sf0.1 (one 2 s single-threaded tokenize ahead
    * of a 32-core join).
    *
    * Barrier contract: when `widen` repartitions, everything written
    * above it stays above its exchange. A plain `df.repartition(n)` does
    * not hold that: Spark pushes a filter above it down onto the
    * one-split input, so a filtering caller (the RefinedWeb gates) ran
    * its per-row work on one task, and a projected column it referenced
    * was computed on both sides of the exchange. The
    * [[org.apache.spark.sql.graft.Widened]] node plans the same
    * round-robin exchange but no rule moves a filter, semi join or
    * projection below it.
    *
    * At cluster scale inputs already carry more partitions than
    * defaultParallelism, so this returns `df` itself: no node, full
    * predicate pushdown. It never repartitions DOWN and never changes
    * row contents, only split count.
    */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (inputPartitions(df) < target)
      org.apache.spark.sql.graft.Widened(df, target)
    else df
  }

  /** Partition count of `df`'s execution, memoized per (session,
    * canonicalized plan) — r16. `df.rdd.getNumPartitions` physically
    * plans the subtree and builds a throwaway RDD DAG just to read one
    * int: measured 0.15-0.2 s per call warm at sf0.1, and [[widen]]
    * fronts nearly every operator (109 call sites, several hundred
    * invocations per bench sweep — tens of seconds of pure planning).
    * The split count of a given logical plan is stable within a session
    * (Spark caches file listings per session, guide §6), so the first
    * inspection per distinct plan is remembered: semanticHash buckets,
    * `sameResult` verifies — a hash collision can never return the
    * wrong entry. The memo is capped and only ever a performance hint:
    * a hypothetical stale count could mis-size ONE widen decision,
    * never change row contents (widen outputs are partition-invariant
    * by the repo's determinism contract).
    *
    * Scoping (r17, the r16 advisor's item): sessions are WEAK keys, so
    * a stopped/unreachable session's plan graphs are collectable
    * instead of pinned until a blanket clear, and the per-session inner
    * map is what the 512 cap bounds. Append-staleness can't occur: two
    * reads of the same path build DISTINCT InMemoryFileIndex instances,
    * and LogicalRelation's sameResult compares the relation (whose file
    * index has reference equality) — a re-listed read after an append
    * never matches the earlier read's entry. The only way to hit a memo
    * entry is the same analyzed plan object graph, whose split count is
    * genuinely that plan's. */
  private val partsMemo = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    java.util.concurrent.ConcurrentHashMap[
      Int, List[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int)]]]()

  private def inputPartitions(df: DataFrame): Int = {
    val plan = df.queryExecution.analyzed
    val m = partsMemo.synchronized {
      var mm = partsMemo.get(df.sparkSession)
      if (mm == null) {
        mm = new java.util.concurrent.ConcurrentHashMap[
          Int, List[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int)]]()
        partsMemo.put(df.sparkSession, mm)
      }
      mm
    }
    val key = plan.semanticHash()
    val bucket = m.getOrDefault(key, Nil)
    bucket.find(_._1.sameResult(plan)).map(_._2).getOrElse {
      val computed = df.rdd.getNumPartitions
      if (m.size > 512) m.clear() // bound, not a contract
      m.merge(key, List((plan, computed)),
        (old, one) => (one.head :: old).take(8))
      computed
    }
  }

  /** Partition count for the iterative graph loops (PageRank/HITS/LPA/CC
    * adjacency + per-round vote shuffles): sized by BOTH the cluster and
    * the data — `max(min(defaultParallelism, 1 + rows/50k), rows/1e6)`.
    * r16 floored at `defaultParallelism` unconditionally, which fixed
    * the old 4-partition serialization at local[32] but over-partitioned
    * SMALL graphs: a thousand-edge graph paid 32-way task scheduling on
    * EVERY round, and the r16 driver's own scaling block showed the
    * 32-core graph runs slower than 8-core (ratios 0.6-0.9 — pure
    * per-round overhead, guide §2: partition counts must follow the
    * data). The r17 rule keeps full cluster width only once the graph
    * has ≥ ~50k edges per core to chew on; below that the per-round
    * shuffle is overhead-dominated and fewer, fuller partitions win at
    * every scale (measured: trust_propagation 14.1 → 4.9 s warm at
    * local[32]/sf0.1). `rows/1e6` still grows the count once data
    * dwarfs the cluster, unchanged. Result-invariant: every consumer
    * reduces with integer sums / commutative elections, and the outputs
    * are sorted. */
  def graphParts(df: org.apache.spark.sql.DataFrame, rows: Long): Int =
    math.max(
      math.min(df.sparkSession.sparkContext.defaultParallelism.toLong,
        1L + rows / 50000L),
      rows / 1000000L).toInt

  /** 1-based global rank of `df` ordered by `orderCol` (must be unique),
    * WITHOUT a single-partition window: range-partition on the order
    * column so partition order == global order, count rows per
    * partition (the only driver exchange — ≤ parallelism longs), then
    * per-partition `row_number` + the broadcast base offset. The
    * hierarchical-rank discipline of `Curation.shuffleCorpus` /
    * `packByOrder`, extracted for any caller that needs a total rank at
    * data scale (e.g. the frontier's host→worker assignment, where
    * "bounded by |hosts|" is still tens of millions of rows on a real
    * web corpus). Output: input columns + `rank` (long). */
  def globalRank(df: DataFrame, orderCol: String,
                 rankCol: String = "rank"): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val nParts = spark.sparkContext.defaultParallelism
    val base = df.repartitionByRange(nParts, col(orderCol))
      .sortWithinPartitions(col(orderCol))
      .withColumn("__pid", spark_partition_id())
    val counts = base.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxPid = if (counts.isEmpty) -1 else counts.keys.max
    val starts = new Array[Long](maxPid + 2)
    var acc = 0L
    (0 to maxPid).foreach { p => starts(p) = acc; acc += counts.getOrElse(p, 0L) }
    val startCol = element_at(
      array(starts.toIndexedSeq.map(lit(_)): _*), col("__pid") + 1)
    val w = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
    base.withColumn(rankCol, (startCol + row_number().over(w)).cast("long"))
      .drop("__pid")
  }
}
