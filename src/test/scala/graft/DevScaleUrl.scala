package graft

import org.apache.spark.sql.functions._

/** Dev-only URL-canonicalization scale measurement (r16): the staged
  * Url.withCanonical chain + registrable-domain fold at 1×/10×/100×
  * the sf0.1 documents corpus. Stateless per-row projections, so the
  * grade is a FLAT per-url cost. Run:
  *
  *   SPARK_GRAFT_CPUS=32 sbt -batch "Test/runMain graft.DevScaleUrl [mult ...]"
  *
  * Corpus = the sf0.1 doc ids self-unioned `mult` times with shifted
  * ids, urlized through the gate fixture's six messy bands (id bands
  * preserved). Headline numbers land in docs/SCALE.md. */
object DevScaleUrl {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val ids = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"))
    val baseN = ids.count()
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10, 100)
    mults.foreach { m =>
      // band-preserving scale-up: the shift is a multiple of 60
      // (lcm of the 4/6/20 band moduli) so every copy keeps the mix
      val corpus = (0 until m).map(i =>
          ids.select((col("doc_id") + lit(i.toLong * 60000000L)).as("doc_id")))
        .reduce(_ unionByName _)
      val out = graft.text.Url.withCanonical(
          corpus.select(col("doc_id"),
            graft.text.Url.urlize(col("doc_id")).as("u")),
          col("u"), "canon")
        .select(col("canon"),
          graft.text.Url.hostOf(col("canon")).as("host"))
        .select(col("canon"),
          graft.text.Url.registrableDomain(col("host")).as("site"))
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        out.agg(sum(length(col("canon"))), sum(length(col("site"))))
          .collect()
        (System.nanoTime() - t0) / 1e9
      }
      val n = baseN * m
      println(f"mult=$m%-4d urls=$n%-9d min3=${runs.min}%7.3f s  " +
        f"per_url=${runs.min * 1e6 / n}%7.3f µs")
    }
    spark.stop()
  }
}
