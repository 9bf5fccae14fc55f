package graft

/** Dev-only job tracer: run named queries once (warm) and print, per
  * query, the Spark job count, the sum of job wall-times, the
  * MAKESPAN (union of job intervals), and the overlap factor
  * (sum/makespan — 1.0 = strictly sequential jobs, >1 = overlapped).
  * The r18 lifecycle-overlap evidence tool.
  *
  *   sbt "Test/runMain graft.DevJobTrace q_dedup_compact ..."
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4,
  * read by GraftSession.engine).
  */
object DevJobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.put(s.jobId, (s.time, -1L))
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach { case (s, _) =>
          jobs.put(e.jobId, (s, e.time)) }
    }
    spark.sparkContext.addSparkListener(listener)
    args.foreach { name =>
      // one warm pass (parquet footers, codegen), then the traced pass
      SparkEntry.queries(name)(spark, sfDir).count()
      spark.catalog.clearCache()
      jobs.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain the last JobEnd
      import scala.jdk.CollectionConverters._
      val iv = jobs.values.asScala.toSeq.filter(_._2 > 0).sortBy(_._1)
      val sum = iv.map { case (s, e) => (e - s) / 1e3 }.sum
      // union of intervals = makespan of job-active time
      var mk = 0.0; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (s, e) =>
        if (s > curE) { mk += (curE - curS).max(0L) / 1e3; curS = s; curE = e }
        else curE = curE.max(e)
      }
      mk += (curE - curS).max(0L) / 1e3
      println(f"$name%-24s jobs=${iv.size}%4d jobSum=$sum%7.2fs " +
        f"jobMakespan=$mk%7.2fs overlap=${if (mk > 0) sum / mk else 1.0}%5.2fx " +
        f"wall=$wall%7.2fs")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
