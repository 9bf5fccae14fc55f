package graft

import org.apache.spark.sql.functions._

/** Dev-only scale slope for the r17 link frame: extraction +
  * resolution + double canonicalization + registrable-domain keying
  * over 1×/10×/100× of the sf0.1 documents ids (band-preserving
  * self-union, the DevScaleUrl shape), min-of-3 per size. */
object DevScaleLinks {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    import graft.text.{Links, Url}
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"))
    Seq(1, 10, 100).foreach { mult =>
      // union with shifted ids so band arithmetic (id mod k) is
      // preserved per copy: shift by a multiple of 4*6*20*97 = 46560
      val ids = (0 until mult).map(i => base.select(
        (col("doc_id") + lit(i.toLong * 46560L)).as("doc_id")))
        .reduce(_ unionByName _)
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val pages = Url.withCanonical(
            ids.select(col("doc_id"), Url.urlize(col("doc_id")).as("u"),
              Links.linkify(col("doc_id")).as("raw")),
            col("u"), "page")
          .select(col("doc_id"), col("page"),
            explode(Links.extractHrefs(col("raw"))).as("href"))
        val resolved = Links.withResolved(pages, col("page"), col("href"), "abs")
          .filter(col("abs").isNotNull)
        val lf = Url.withCanonical(resolved, col("abs"), "target")
          .select(col("doc_id"), col("page"), col("target"))
          .select(col("doc_id"), graft.text.Url.hostOf(col("page")).as("sh"),
            col("target"), Url.hostOf(col("target")).as("dh"))
          .select(Url.registrableDomain(col("sh")).as("src_site"),
            Url.registrableDomain(col("dh")).as("dst_site"))
        val n = lf.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (n, dt)
      }
      val n = times.head._1
      val best = times.map(_._2).min
      println(f"LINKS mult=$mult%3d links=$n%-9d min3=$best%.2fs per-link=${best / n * 1e6}%.1f us")
    }
    spark.stop()
  }
}
