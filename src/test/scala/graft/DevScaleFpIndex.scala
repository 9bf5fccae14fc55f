package graft

import org.apache.spark.sql.functions._

/** Dev-only FingerprintIndex admission-slope measurement (r11): prove
  * the per-batch cost of the growing fingerprint store is
  * O(delta x bands), NOT O(index) — the same claim the dedup index
  * had to demonstrate after the r9 union-erases-bucketing regression.
  * Run:
  *
  *   SPARK_GRAFT_CPUS=32 sbt -batch "Test/runMain graft.DevScaleFpIndex"
  *
  * Method: build base indexes of 100k and 1M synthetic fingerprints
  * (hash-longs masked to 56 bits — the band machinery neither knows
  * nor cares that no raster produced them), then flagAndAdmit the
  * SAME 10k-fingerprint delta against each and compare per-batch
  * wall. Flat wall across a 10x base = delta-sized admission. */
object DevScaleFpIndex {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()

    val deltaN = 10000L
    def fps(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id").as("media_id"),
        abs(hash(col("id")).cast("long") * 2654435761L)
          .bitwiseAND(lit((1L << 56) - 1)).as("fp"))
    Seq(100000L, 1000000L).foreach { baseN =>
      val table = s"fpidx_scale_$baseN"
      val t0 = System.nanoTime()
      graft.dedup.FingerprintIndex.write(fps(0, baseN), "media_id", "fp",
        table, 56, maxHamming = 7, buckets = 16)
      val tWrite = (System.nanoTime() - t0) / 1e9
      val root = java.nio.file.Files.createTempDirectory(s"fpidx_scale")
      val (grow, sink) = (s"$root/ext", s"$root/sink")
      // three serialized batches so later ones also read prior extents
      val times = (0 until 3).map { b =>
        val t1 = System.nanoTime()
        graft.dedup.FingerprintIndex.flagAndAdmit(spark, table, grow,
          fps(10000000L + b * deltaN, deltaN), "media_id", "fp",
          56, 7, b.toLong, sink)
        (System.nanoTime() - t1) / 1e9
      }
      println(f"FPIDXSCALE base=$baseN write=${tWrite}%.1f s " +
        f"admit10k=[${times.map(t => f"$t%.1f").mkString(", ")}] s")
      graft.dedup.FingerprintIndex.drop(spark, table)
    }
    spark.stop()
  }
}
