package graft

/** Runs graph tests on both layouts of `analytics.Iterate`: the test
  * fixtures are small, so at the default broadcast threshold they take
  * the driver-local path; `[distributed]` reruns the same body with the
  * local path off (`spark.sql.autoBroadcastJoinThreshold=-1`). */
trait GraphPaths { self: SparkSpec =>

  val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` as test `name` and again as `name [distributed]`. */
  def graphTest(name: String)(body: => Any): Unit = {
    test(name)(body)
    test(s"$name [distributed]")(distributed(body))
  }

  def distributed[A](body: => A): A = withThreshold("-1")(body)

  def withThreshold[A](value: String)(body: => A): A = {
    val old = spark.conf.getOption(Threshold)
    spark.conf.set(Threshold, value)
    try body
    finally old match {
      case Some(v) => spark.conf.set(Threshold, v)
      case None => spark.conf.unset(Threshold)
    }
  }
}
