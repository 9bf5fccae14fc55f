package graft

/** Dev-only warm-rerun stability probe (VERDICT r13 what's-wrong #3):
  * q_substring_scrub's bench runs read [6.5, 9.8, 16.5 s] —
  * monotonically RISING across warm repeats, a pattern no other
  * query shows. Hypotheses: (a) accumulating block-manager residue
  * (per-pass persists are released synchronously via
  * Materialize.releasing, but the eager localCheckpoint each run
  * leaves RDD blocks whose cleanup waits for the context cleaner to
  * see the frame GC'd), (b) plain heap/GC pressure, (c) the box's
  * drifting contention (the r13 window read canary 1.34–1.58).
  *
  * Runs the query N times warm under the bench's exact conditions,
  * logging wall, JVM heap in use, and the block manager's live RDD
  * storage before each run. A `gc` arg variant drops a System.gc()
  * + short settle between runs to separate (a)/(b) from (c).
  *
  *   sbt "Test/runMain graft.DevScrubLoop [n] [gc] [query]"
  */
object DevScrubLoop {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    val doGc = args.contains("gc")
    val qname = args.find(_.startsWith("q_")).getOrElse("q_substring_scrub")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val rt = Runtime.getRuntime
    def mb(v: Long): Long = v / (1024 * 1024)
    (1 to n).foreach { i =>
      val rdds = spark.sparkContext.getRDDStorageInfo
      val stored = rdds.map(_.memSize).sum + rdds.map(_.diskSize).sum
      val heap = rt.totalMemory - rt.freeMemory
      val t0 = System.nanoTime()
      SparkEntry.queries(qname)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      if (doGc) { System.gc(); Thread.sleep(500) }
      println(f"run=$i%-3d wall=$dt%7.3f s  heap_pre=${mb(heap)}%6d MB  " +
        f"rdd_blocks_pre=${rdds.length}%3d (${mb(stored)}%6d MB)")
    }
    spark.stop()
  }
}
