package graft

/** Dev-only profiling harness backing the measured claim in
  * pipeline/Chunking.scala: rolling prefix-hash chunk fingerprints
  * (ChunkFpsExpr) vs the slice-and-fold HOF formulation, timed on the
  * sf0.1 documents table under bench conditions (min of 3 warm runs
  * each, like Bench). Usage:
  *
  *   sbt "Test/runMain graft.DevChunkProfile [chunkSize stride]"
  */
object DevChunkProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (size, stride) =
      if (args.length >= 2) (args(0).toInt, args(1).toInt) else (64, 48)
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val docs = Tables.t(spark, sfDir, "documents")
    def time(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      mk.count() // warm
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"$label%-42s $best%8.3f s (min of 3, size=$size stride=$stride)")
    }
    time("chunkTokens (rolling prefix hash)") {
      graft.pipeline.Chunking.chunkTokens(docs, size, stride)
    }
    time("chunkTokensHof (slice-and-fold reference)") {
      graft.pipeline.Chunking.chunkTokensHof(docs, size, stride)
    }
    spark.stop()
  }
}
