package graft

import java.nio.file.Files

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.functions._

/** Pins [[Par.widen]]'s barrier contract: on under-partitioned input the
  * work written above the widening runs above its round-robin exchange,
  * on every partition; on input that is already wide enough it is the
  * identity and predicates still reach the scan. */
class ParSpec extends SparkSpec {

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
}
