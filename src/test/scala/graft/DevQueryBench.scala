package graft

/** Dev-only focused bench: time a subset of SparkEntry.queries under
  * the driver's bench conditions (local[N], shuffle.partitions=N).
  *
  *   sbt "Test/runMain graft.DevQueryBench q_pagerank q_connected_components"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4,
  * read by GraftSession.engine).
  */
object DevQueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq
    names.foreach { name =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }
    spark.stop()
  }
}
