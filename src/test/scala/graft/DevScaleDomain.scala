package graft

import org.apache.spark.sql.functions._

/** Dev-only domain-reputation scale measurement (r14): the rollup +
  * feedback filter at 1×/10× the sf0.1 documents corpus. The rollup
  * is one grouped aggregate over per-row projections — the per-row
  * cost is dominated by the PII family regexes — so the grade is a
  * FLAT per-doc cost and a domain-bounded (not corpus-bounded)
  * rollup frame. Run:
  *
  *   SPARK_GRAFT_CPUS=32 sbt -batch "Test/runMain graft.DevScaleDomain [mult ...]"
  *
  * Corpus = sf0.1 self-unioned with shifted ids and REMAPPED source
  * keys (10× docs AND 10× domains — both axes must scale).
  * Headline numbers land in docs/SCALE.md "domain-reputation". */
object DevScaleDomain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val docs = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val baseN = docs.count()
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10)
    mults.foreach { m =>
      val corpus = (0 until m).map(i =>
          docs.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
            concat(col("source"), lit(s"_x$i")).as("source"), col("text")))
        .reduce(_ unionByName _)
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val rep = graft.pipeline.DomainReputation.rollup(corpus)
        val kept = graft.pipeline.DomainReputation.filterWith(corpus, rep)
          .agg(sum(col("kept")), count(lit(1))).collect()
        ((System.nanoTime() - t0) / 1e9, kept(0).getLong(1))
      }
      val n = baseN * m
      println(f"mult=$m%-3d docs=$n%-9d domains=${20 * m}%-5d " +
        f"wall=${runs.map(_._1).min}%7.2f s  us_per_doc=${runs.map(_._1).min * 1e6 / n}%7.2f  " +
        f"runs=${runs.map(t => f"${t._1}%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
