package graft

import org.apache.spark.sql.functions._

/** Dev-only exact-substring-dedup slope measurement (r12): the
  * operator's 100-TB claim is that pass 1 shuffles 16 bytes per
  * window (fingerprint + doc id, map-side combined) and only the
  * DUPLICATED fraction's strings ever move — so wall should track
  * corpus token mass with a small constant, and the duplicated
  * fraction's size, not the corpus, should drive pass 2. Run:
  *
  *   SPARK_GRAFT_CPUS=32 sbt -batch "Test/runMain graft.DevScaleSubstring"
  *
  * Synthetic corpus: 40-token docs over a wide vocabulary; 5% of docs
  * carry one of 20 planted 10-token boilerplate blocks at a
  * hash-chosen offset (the licence-header shape), so ~5% of docs are
  * duplicated-span carriers at any corpus size. */
object DevScaleSubstring {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()

    val docLen = 40
    val blockLen = 10
    def corpus(n: Long) = spark.range(n)
      .select(col("id").as("doc_id"),
        // unique filler tokens, then a planted block for id%20==0
        when(col("id") % 20 === 0,
          concat_ws(" ",
            array_join(transform(sequence(lit(0), lit(docLen - blockLen - 1)),
              j => concat(lit("u"), col("id") * 100 + j)), " "),
            array_join(transform(sequence(lit(0), lit(blockLen - 1)),
              j => concat(lit("B"), (col("id") % 7) * 1000 + j)), " ")))
          .otherwise(
            array_join(transform(sequence(lit(0), lit(docLen - 1)),
              j => concat(lit("u"), col("id") * 100 + j)), " "))
          .as("text"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    val kOnly = args.contains("konly")
    (if (kOnly) Seq.empty[Long] else Seq(100000L, 1000000L)).foreach { n =>
      val docs = corpus(n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      val (spans, tSpans) = timed(
        graft.dedup.Dedup.exactSubstringSpans(docs, 8).count())
      val (_, tScrub) = timed(
        graft.dedup.Dedup.exactSubstringScrub(docs, 8)
          .filter(col("n_after") < col("n_before")).count())
      val (_, tFix) = timed(
        graft.dedup.Dedup.exactSubstringScrubFixpoint(docs, 8)
          .filter(col("n_after") < col("n_before")).count())
      docs.unpersist(blocking = true)
      println(f"SUBSTRSCALE n=$n (${n * docLen} tokens) " +
        f"spans=$tSpans%.1f s ($spans carrier docs) scrub=$tScrub%.1f s " +
        f"fixpoint=$tFix%.1f s")
    }

    // ---- published-k leg (VERDICT r12 #5): the Lee et al. operating
    // point k≈50 on crawl-length docs. The claim to measure: candidate
    // mass COLLAPSES as k grows — a 50-token verbatim match is a far
    // rarer event than an 8-token one, so the duplicated fraction
    // (the only part that ever carries strings) shrinks, and with it
    // pass-2 cost. Long-doc corpus: 200-token docs, 5% carriers with
    // a 60-token planted block (11 duplicated k=50 windows/carrier vs
    // 53 at k=8).
    val longLen = 200
    val longBlock = 60
    def longCorpus(n: Long) = spark.range(n)
      .select(col("id").as("doc_id"),
        when(col("id") % 20 === 0,
          concat_ws(" ",
            array_join(transform(sequence(lit(0), lit(longLen - longBlock - 1)),
              j => concat(lit("u"), col("id") * 1000 + j)), " "),
            array_join(transform(sequence(lit(0), lit(longBlock - 1)),
              j => concat(lit("B"), (col("id") % 7) * 1000 + j)), " ")))
          .otherwise(
            array_join(transform(sequence(lit(0), lit(longLen - 1)),
              j => concat(lit("u"), col("id") * 1000 + j)), " "))
          .as("text"))
    Seq(100000L).foreach { n =>
      val docs = longCorpus(n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      Seq(8, 50).foreach { k =>
        val (mass, tK) = timed(
          graft.dedup.Dedup.exactSubstringSpans(docs, k)
            .agg(coalesce(sum(col("n_dup_windows")), lit(0L)))
            .head().getLong(0))
        println(f"SUBSTRK n=$n k=$k%-3d wall=$tK%.1f s dup_window_mass=$mass")
      }
      docs.unpersist(blocking = true)
    }
    spark.stop()
  }
}
