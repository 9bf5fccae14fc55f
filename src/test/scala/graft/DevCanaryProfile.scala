package graft

/** Dev harness (not a spec): times candidate bench-canary legs so the
  * canary's composition can be tuned to track the SUITE's slowdown
  * under background load, not just raw CPU slowdown. Run manually:
  *   sbt "Test/runMain graft.DevCanaryProfile"
  * with and without a synthetic load, compare leg ratios. */
object DevCanaryProfile {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // leg A: codegen CPU saturation (the r10 canary's first leg)
    def cpu(): Unit = spark.range(4000000L).selectExpr("sum(id * 2)").collect()
    // leg B: small shuffle + join (the r10 canary's second leg)
    def shuffle(): Unit = {
      val a = spark.range(200000L).selectExpr("id % 1000 as k", "id as v")
      val b = spark.range(1000L).selectExpr("id as k", "id * 3 as w")
      a.groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("sv"))
        .join(b, "k").selectExpr("sum(sv + w)").collect()
    }
    // leg C: scheduler latency — many tiny jobs, tiny tasks
    def sched(): Unit =
      (1 to 20).foreach { _ =>
        spark.range(0, 3200, 1, 32).selectExpr("sum(id)").collect()
      }
    // leg D: tiny-task shuffle rounds (stage-boundary latency)
    def stages(): Unit =
      (1 to 5).foreach { _ =>
        spark.range(0, 100000, 1, 32).selectExpr("id % 101 as k")
          .groupBy("k").count().selectExpr("sum(count)").collect()
      }
    val legs = Seq("cpu" -> (() => cpu()), "shuffle" -> (() => shuffle()),
      "sched" -> (() => sched()), "stages" -> (() => stages()))
    legs.foreach { case (_, f) => f() } // warm
    (1 to 3).foreach { r =>
      val line = legs.map { case (n, f) => f"$n=${time(f())}%.3f" }.mkString(" ")
      println(s"CANARYPROF run$r $line")
    }
    spark.stop()
  }
}
