package graft
import org.apache.spark.sql.SparkSession
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // Probe-side tool only (not the driver contract): core count from the
    // same env var Bench honors, so anti-scaling suspects can be probed at
    // both local[8] and local[32] with identical methodology.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { name =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"BENCHONE $name ${(System.nanoTime()-t0)/1e9}%.2f sec rows=$n")
      // Same inter-query cleanup as Bench: leaked persist/localCheckpoint
      // blocks from iterative operators thrash later queries' storage
      // memory (observed 3-28× slowdowns) — exactly the misleading warm
      // numbers this tool exists to avoid.
      Bench.dropPersisted(spark)
    }
    spark.stop()
  }
}
