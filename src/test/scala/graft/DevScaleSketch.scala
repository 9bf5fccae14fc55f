package graft

import org.apache.spark.sql.functions._

/** Dev-only sketch-vs-exact slope measurement (r11 cont. 2): the
  * sketches' claim is not speed at fixture scale but SHAPE — fixed
  * counter/hash state and rate-thinned exchanges where the exact
  * forms move every distinct key. Measure both sides at 1M and 10M
  * rows and report wall + estimate error. Run:
  *
  *   SPARK_GRAFT_CPUS=32 sbt -batch "Test/runMain graft.DevScaleSketch"
  *
  * Key space: ~n/10 distinct ids (uniform), so the exact
  * count-distinct's exchange grows 10x with n while the hash-range
  * filter passes a fixed 1/1024 of the hash space and CMS stays at
  * 4x1024 counters regardless. */
object DevScaleSketch {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    Seq(1000000L, 10000000L).foreach { n =>
      val keys = spark.range(n)
        .select((abs(hash(col("id"))).cast("long") % (n / 10)).as("k"))
      keys.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      keys.count()
      val (exact, tExact) = timed(
        keys.agg(count_distinct(col("k"))).collect().head.getLong(0))
      val (rng, tRange) = timed(
        graft.sketch.Sketches.distinctRangeEstimate(keys, "k", 1024)
          .collect().head.getLong(1))
      val (kmv, tKmv) = timed(
        graft.sketch.Sketches.kmvEstimate(keys, "k", 1024)
          .collect().head.getLong(1))
      val vals = keys.select(
        graft.sketch.Sketches.longHash(col("k")).as("v"))
      val (_, tCms) = timed(
        graft.sketch.Sketches.cmsSketch(vals, col("v")).collect())
      // quantile sketch vs exact percentiles: lognormal-ish positive
      // values (exp-shaped via squaring a uniform hash residue) so the
      // octave buckets actually spread; exact = full-shuffle
      // percentile_approx at accuracy=1e6 cross-checked by rank
      val qvals = keys.select((col("k") % 100000L * (col("k") % 97L) + 1L).as("v"))
      val (qest, tQs) = timed(
        graft.sketch.Sketches.quantileSketchEstimate(
            qvals, col("v"), Seq(50, 90, 99))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
      val (qexact, tQexact) = timed {
        val cnt = qvals.count()
        Seq(50, 90, 99).map { p =>
          val target = ((cnt * p) + 99) / 100
          p -> qvals.orderBy(col("v")).limit(target.toInt)
            .agg(max(col("v"))).collect().head.getLong(0)
        }.toMap
      }
      keys.unpersist(blocking = true)
      def err(e: Long) = f"${100.0 * (e - exact) / exact}%+.1f%%"
      def qerr(p: Int) =
        f"P$p ${100.0 * (qest(p) - qexact(p)) / qexact(p)}%+.2f%%"
      println(f"SKETCHSCALE n=$n exactDistinct=$tExact%.1f s ($exact) " +
        f"range=$tRange%.1f s (${err(rng)}) kmv=$tKmv%.1f s (${err(kmv)}) " +
        f"cmsBuild=$tCms%.1f s (4x1024 counters) " +
        f"quantile=$tQs%.1f s vs exactRank=$tQexact%.1f s " +
        f"(${qerr(50)} ${qerr(90)} ${qerr(99)})")
    }
    spark.stop()
  }
}
