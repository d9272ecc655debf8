package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM:
  *
  *   perfbench.Main --workload W --input DIR --work DIR --out FILE
  *                  --seconds S --trace 0|1
  *
  * Sets up [[Setups]] times at [[Master]] (each: fresh session, input load,
  * the builds the operations read; the last session is kept), runs one
  * untimed warm-up operation, then runs the operation in a closed loop for
  * `--seconds` (at least [[MinOps]] times), then the untimed check. Before every operation the workload resets its
  * state, untimed, so every operation does the same work. With `--trace 1` the Spark listeners
  * record the set-ups, the warm-up and half of the loop operations; the
  * others run without them, so the tracing overhead can be read off. A
  * traced `curate_release` run then re-runs set-up and one operation at
  * each of [[ProbeMasters]] (the core-scaling probe). Writes everything it
  * measured to `--out` as JSON.
  */
object Main {
  val Master = "local[4]"
  val Setups = 3
  val MinOps = 2
  val ProbeMasters = Seq("local[1]", "local[2]", "local[4]")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val (in, work, out) = (a("input"), a("work"), a("out"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val probe = if (trace && workload == "curate_release") ProbeMasters else Nil

    val tracer = new Tracer
    var spark: SparkSession = null
    def setUp(m: String): (Workload, Seq[Double]) = {
      if (spark != null) {
        tracer.detach()
        spark.stop()
        FileTrees.deleteTree(s"$work/run")
      }
      val t0 = System.nanoTime()
      spark = session(m, work)
      tracer.bind(spark)
      if (trace) tracer.attach(spark)
      tracer.phase = "setup"
      val t1 = System.nanoTime()
      val w = Workload(workload, spark, tracer, in, s"$work/run")
      w.setup()
      (w, Seq(t1 - t0, System.nanoTime() - t1).map(_ / 1e9))
    }
    val setupParts = (1 to Setups).map(_ => setUp(Master))
    val w = setupParts.last._1
    val warm0 = System.nanoTime()
    tracer.phase = "warmup"
    w.prepare()
    w.op()
    val warmupS = (System.nanoTime() - warm0) / 1e9

    if (trace) tracer.detach()
    val stat0 = procStat()
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loop0 = System.nanoTime()
    val deadline = loop0 + (seconds * 1e9).toLong
    var traced = false
    var lastOpNs = 0L
    // Stop once the next operation would likely end past the deadline. A
    // traced run orders operations without (U) and with (T) the listeners
    // as U T T U, repeated, and runs at least one such block, so a drift
    // that is linear in time (the JIT still settling) cancels out of the
    // traced-minus-untraced overhead.
    while (System.nanoTime() + lastOpNs / 2 < deadline || ops.size < MinOps ||
           (trace && ops.size < 4)) {
      val wantTraced = trace && Set(1, 2).contains(ops.size % 4)
      if (wantTraced && !traced) tracer.attach(spark)
      if (!wantTraced && traced) tracer.detach()
      traced = wantTraced
      tracer.phase = if (traced) "traced" else "loop"
      w.prepare()
      val (m0, n0) = (System.currentTimeMillis(), System.nanoTime())
      val r = w.op()
      val n1 = System.nanoTime()
      lastOpNs = n1 - n0
      ops += Map("start_ms" -> m0, "end_ms" -> System.currentTimeMillis(),
        "seconds" -> (n1 - n0) / 1e9, "traced" -> traced,
        "fingerprint" -> r.fingerprint, "info" -> r.info)
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val stat1 = procStat()
    if (trace) tracer.detach()
    val peakRssMb = vmHwmKb() / 1024.0
    val peakOldGenMb = oldGenPeakBytes() / 1048576.0
    tracer.phase = "check"
    val check = w.check()
    val traceDump = tracer.dump

    val probes = probe.map { m =>
      val (pw, _) = setUp(m)
      tracer.detach()
      pw.prepare()
      val t0 = System.nanoTime()
      val r = pw.op()
      Map("master" -> m, "seconds" -> (System.nanoTime() - t0) / 1e9,
        "fingerprint" -> r.fingerprint)
    }

    val result = Map(
      "workload" -> workload, "master" -> Master, "seconds" -> seconds,
      "setup_s" -> setupParts.map(_._2.sum), "setup_parts" -> setupParts.map(_._2),
      "warmup_s" -> warmupS, "loop_s" -> loopS, "ops" -> ops.toSeq,
      "peak_rss_mb" -> peakRssMb, "peak_old_gen_mb" -> peakOldGenMb,
      "proc_stat" -> stat1.map { case (k, v) => k -> (v - stat0.getOrElse(k, 0L)) },
      "check" -> check, "trace" -> traceDump, "probe" -> probes)
    Files.write(Paths.get(out), Json.write(result).getBytes("UTF-8"))
    spark.stop()
  }

  private def session(master: String, work: String): SparkSession = {
    val local = Paths.get(work, "spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", parallelism(master).toString)
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def parallelism(master: String): Int =
    "local\\[(\\d+)\\]".r.findFirstMatchIn(master).map(_.group(1).toInt).getOrElse(4)

  /** Host CPU jiffies by field, through the library's own /proc/stat parser. */
  private def procStat(): Map[String, Long] =
    graft.tools.BenchSweep.parseProcStat(
      try new String(Files.readAllBytes(Paths.get("/proc/stat")))
      catch { case _: java.io.IOException => "" })

  private def vmHwmKb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    } catch { case _: java.io.IOException => 0.0 }

  /** Peak occupancy of the old generation: the most data the run kept alive
    * (the heap itself is fixed and pre-touched, so RSS does not show it). */
  private def oldGenPeakBytes(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        Seq("Old", "Tenured").exists(p.getName.contains))
      .map(_.getPeakUsage.getUsed).sum
  }
}
