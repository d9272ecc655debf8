package graft

import java.nio.file.Files

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins [[Par.widen]]'s barrier contract: on under-partitioned input the
  * work written above the widening runs above its round-robin exchange,
  * on every partition; on input that is already wide enough it is the
  * identity and predicates still reach the scan. Pins [[Par.prefixSum]]
  * equal to the single-window statement on every input shape, and its
  * plan free of windows and of any exchange but the range one. */
class ParSpec extends SparkSpec {
  import spark.implicits._

  private def parquet(parts: Int): DataFrame = {
    val dir = Files.createTempDirectory("par-spec").resolve("t").toString
    spark.range(0, 2000, 1, parts)
      .select(col("id"), concat(lit("doc "), col("id").cast("string")).as("text"))
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def roundRobinBelow(p: SparkPlan): Boolean = p.exists {
    case ShuffleExchangeExec(_: RoundRobinPartitioning, _, _, _) => true
    case _ => false
  }

  test("widen keeps a filter above its exchange on a one-split input") {
    val one = parquet(1)
    assert(one.rdd.getNumPartitions == 1)
    val q = Par.widen(one).filter(length(sha2(col("text"), 256)) === 64 &&
      col("id") % 3 === 0)
    val plan = q.queryExecution.sparkPlan
    val filters = plan.collect { case f: FilterExec => f }
    assert(filters.nonEmpty, plan)
    assert(filters.forall(f => roundRobinBelow(f.child)),
      s"filter pushed below the widening exchange:\n$plan")
    assert(q.count() == 667L)
  }

  test("the stage that evaluates the filter runs defaultParallelism tasks") {
    val n = spark.sparkContext.defaultParallelism
    val seen = spark.sparkContext.collectionAccumulator[(Int, Int)]("widen-evals")
    val probe = udf { (id: Long) =>
      val tc = TaskContext.get()
      seen.add((tc.stageId(), tc.partitionId()))
      id % 2 == 0
    }
    val kept = Par.widen(parquet(1)).filter(probe(col("id"))).collect()
    assert(kept.length == 1000)
    val evals = scala.jdk.CollectionConverters.ListHasAsScala(seen.value).asScala
    val byStage = evals.groupBy(_._1).map { case (s, e) => s -> e.map(_._2).toSet }
    assert(byStage.size == 1, byStage)
    assert(byStage.head._2.size == n,
      s"filter evaluated on ${byStage.head._2.size} partitions, want $n")
  }

  test("wide inputs come back as the same frame, with pushdown intact") {
    val n = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 100, 1, n + 1).toDF("id")
    assert(Par.widen(wide) eq wide)
    val scanned = parquet(2 * n)
    assert(scanned.rdd.getNumPartitions >= n)
    val q = Par.widen(scanned).filter(col("id") > 1500)
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(id,1500)"), plan)
    assert(q.count() == 499L)
  }

  /** (id, k, w) rows as a parquet table of `files` files; `k` repeats, so
    * the order (k, id) needs its tie-break. */
  private def weighted(rows: Seq[(Long, Option[Long])], files: Int): DataFrame = {
    val dir = Files.createTempDirectory("par-spec").resolve("w").toString
    rows.toDF("id", "w").withColumn("k", col("id") % 10)
      .repartition(files).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private val order = Seq(col("k"), col("id"))

  /** (id, rank, weight before) from Par.prefixSum, sorted by id. */
  private def viaPrefixSum(df: DataFrame): (Seq[(Long, Long, Long)], Seq[Long]) = {
    val (out, totals) = Par.prefixSum(df, order, "__r" -> lit(1L), "__w" -> col("w"))
    (out.select(col("id"), col("__r") + 1L, col("__w")).as[(Long, Long, Long)]
      .collect().toSeq.sortBy(_._1), totals)
  }

  /** The same from ONE partition-less window over the whole input. */
  private def viaWindow(df: DataFrame): Seq[(Long, Long, Long)] = {
    val upTo = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val before = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col("id"), sum(lit(1L)).over(upTo),
        coalesce(sum(col("w")).over(before), lit(0L)))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
  }

  test("prefixSum equals the single-window rank and offset on any partitioning") {
    // reverse id order, zero and null weights, three parquet files
    val rows = (200L to 1L by -1).map(i =>
      i -> (if (i % 7 == 0) None else Some(if (i % 5 == 0) 0L else i % 13)))
    val df = weighted(rows, 3)
    assert(df.inputFiles.length == 3)
    val want = viaWindow(df)
    assert(want.map(_._2).sorted == (1L to 200L))
    for (parts <- Seq(1, 3, 8)) {
      val (got, totals) = viaPrefixSum(df.repartition(parts))
      assert(got == want, s"input partitions=$parts")
      assert(totals == Seq(200L, rows.flatMap(_._2).sum), s"input partitions=$parts")
    }
  }

  test("prefixSum on empty, one-row and fewer-rows-than-partitions inputs") {
    assert(spark.sparkContext.defaultParallelism > 3)
    val (none, zero) = viaPrefixSum(weighted(Seq.empty, 1))
    assert(none.isEmpty && zero == Seq(0L, 0L))
    val (one, oneTotals) = viaPrefixSum(weighted(Seq(5L -> Some(9L)), 1))
    assert(one == Seq((5L, 1L, 0L)) && oneTotals == Seq(1L, 9L))
    val three = weighted(Seq(3L -> Some(4L), 2L -> None, 1L -> Some(0L)), 2)
    val (got, totals) = viaPrefixSum(three)
    assert(got == viaWindow(three) && totals == Seq(3L, 4L))
  }

  test("prefixSum plans no window and no exchange after the range one") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = weighted((1L to 50L).map(i => i -> Some(i)), 3)
      def exchanges(p: SparkPlan) = p.collect { case e: ShuffleExchangeExec => e }
      // pinned (the default): the running sum reads the pin, no shuffle
      val pinned = Par.prefixSum(df, order, "__w" -> col("w"))._1
        .queryExecution.executedPlan
      assert(exchanges(pinned).isEmpty, pinned)
      assert(pinned.collect { case w: WindowExec => w }.isEmpty, pinned)
      // identity pin: the whole lineage, whose one exchange is the range one
      spark.conf.set(Mat.ConfKey, "none")
      val lineage = try Par.prefixSum(df, order, "__w" -> col("w"))._1
          .queryExecution.executedPlan
        finally spark.conf.unset(Mat.ConfKey)
      assert(exchanges(lineage).map(_.outputPartitioning).collect {
        case r: RangePartitioning => r
      }.size == 1 && exchanges(lineage).size == 1, lineage)
      assert(lineage.collect { case w: WindowExec => w }.isEmpty, lineage)
      assert(lineage.toString.contains("graft_running_sum"), lineage)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
