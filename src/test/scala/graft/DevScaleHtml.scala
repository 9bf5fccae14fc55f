package graft

import org.apache.spark.sql.functions._

/** Dev-only crawl-front-end extraction scale measurement (r13): the
  * HtmlExtract pipeline at 1×/10×/100× the sf0.1 documents corpus.
  * The operator is a stateless per-row projection, so the grade is a
  * FLAT per-doc cost (wall scales with rows, never worse). Run:
  *
  *   SPARK_GRAFT_CPUS=32 sbt -batch "Test/runMain graft.DevScaleHtml [mult ...]"
  *
  * Corpus = the real sf0.1 documents table self-unioned `mult` times
  * with shifted ids (keeps the id-band mix of markup variants), so
  * the synthesized HTML matches the gate query's byte-for-byte.
  * Headline numbers land in docs/SCALE.md "Crawl-front-end". */
object DevScaleHtml {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val docs = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text"))
    val baseN = docs.count()
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10)
    mults.foreach { m =>
      val corpus = (0 until m).map(i =>
          docs.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      // the gate query's exact pipeline over the scaled corpus
      val raw = graft.ops.TextOps.htmlize(col("doc_id"), col("text"))
      val out = corpus.select(col("doc_id"), raw.as("raw"))
        .withColumn("clean", graft.text.HtmlExtract.cleanText(col("raw")))
        .select(
          graft.text.HtmlExtract.boilerplatePpm(col("raw"), col("clean"))
            .as("ppm"),
          graft.text.HtmlExtract.nParas(col("clean")).as("np"))
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        out.agg(sum(col("ppm")), sum(col("np"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      val n = baseN * m
      println(f"mult=$m%-3d docs=$n%-9d wall=${runs.min}%7.2f s  " +
        f"us_per_doc=${runs.min * 1e6 / n}%7.2f  runs=${runs.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
