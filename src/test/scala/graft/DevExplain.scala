package graft

/** Dev-only plan dump: write `.explain("formatted")` of named queries
  * to files (the plans/r17 before/after artifact the optimization
  * rounds commit).
  *
  *   sbt "Test/runMain graft.DevExplain /root/repo/plans/r17 _after q_a q_b"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4,
  * read by GraftSession.engine).
  */
object DevExplain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.engine()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      graft.api.Materialize.lastAuditPlan = None
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // lifecycle queries return an eager localCheckpoint whose plan
      // is just an RDD scan; the real (AQE-final) plan of the served
      // frame is stashed by Materialize — append it when present
      val audit = graft.api.Materialize.lastAuditPlan
        .map("\n\n== Pre-checkpoint executed plan (Materialize audit stash) ==\n" + _)
        .getOrElse("")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
        (plan + audit).getBytes("UTF-8"))
      spark.catalog.clearCache()
      println(s"wrote $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
