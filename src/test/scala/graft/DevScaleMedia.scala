package graft

import org.apache.spark.sql.functions._

/** Dev-only media-fingerprint scale-headroom measurement (r11): the
  * image dedup pipeline one-to-two orders of magnitude past the sf0.1
  * fixture (5.25k media). Run:
  *
  *   SPARK_DRIVER_MEM=48g SPARK_GRAFT_CPUS=32 \
  *     sbt -batch "Test/runMain graft.DevScaleMedia [n] [n] ...]"
  *
  * Synthetic docs are deterministic in-executor strings (hash-derived
  * printable bytes, lengths spread like the fixture's 44-577), so the
  * corpus needs no storage; every doc is encoded as a REAL PPM/BMP/PGM
  * payload by the production `asMediaTable` path, then decoded +
  * fingerprinted + pair-joined by the production operators. Headline
  * numbers (encode+decode+hash wall per n, pair-join wall, candidate
  * volume) land in docs/SCALE.md "Multimodal fingerprint dedup". */
object DevScaleMedia {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect() // JIT warm

    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq
                else Seq(50000L, 200000L)
    sizes.foreach { n =>
      // deterministic printable text of fixture-like length: 44 + h%534
      // chars from a 64-symbol alphabet, built with one codegen'd pass
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws("", transform(
          sequence(lit(0), pmod(hash(col("id")), lit(534)) + lit(43)),
          i => element_at(
            split(lit("abcdefghijklmnopqrstuvwxyz0123456789 ABCDEFGHIJKLMNOPQRSTUVWXYZ. "), ""),
            (pmod(hash(col("id"), i), lit(64)) + lit(1)).cast("int"))))
          .as("text"))
      val media = graft.multimodal.Multimodal
        .asMediaTableWithVariants(docs, every = 20)
      val t0 = System.nanoTime()
      val fps = graft.multimodal.Multimodal.imageFingerprints(media)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nfp = fps.count()
      val tFp = (System.nanoTime() - t0) / 1e9
      // radius 7 -> 7-bit bands (128 values) vs radius 3 -> 14-bit
      // bands (16384 values): the band-value-space lever, measured
      Seq(7, 3).foreach { radius =>
        val bands = radius + 1
        val bandBits = graft.functions.ImageHash.DHashBits / bands
        val t1 = System.nanoTime()
        val pairs = graft.dedup.Dedup.bandedHammingPairs(fps, "media_id",
          "fp", graft.functions.ImageHash.DHashBits, radius).count()
        val tPairs = (System.nanoTime() - t1) / 1e9
        // candidate volume = sum over (band, key) buckets of C(sz, 2)
        val cand = fps.select(col("media_id"),
            posexplode(array((0 until bands).map(b =>
              shiftrightunsigned(col("fp"), b * bandBits)
                .bitwiseAND(lit((1L << bandBits) - 1))): _*))
              .as(Seq("bi", "bk")))
          .groupBy("bi", "bk").count()
          .agg(sum((col("count") * (col("count") - 1) / 2).cast("long")))
          .head.getLong(0)
        println(f"MEDIASCALE n=$n media=$nfp radius=$radius " +
          f"bandBits=$bandBits encode+decode+hash=${tFp}%.1f s " +
          f"pairs=$pairs pairJoin=${tPairs}%.1f s candVolume=$cand%,d")
      }
      fps.unpersist()
      // PNG leg (r14): the same corpus through the COMPRESSED
      // container — encode (deflate + filters) and decode (inflate +
      // five-filter reconstruction) are the marginal cost vs the raw
      // PNM/BMP walk above
      val t2 = System.nanoTime()
      val nPng = graft.multimodal.Multimodal.imageFingerprints(
        graft.multimodal.Multimodal.asPngTable(docs)).count()
      println(f"MEDIASCALE n=$n png=$nPng encode+decode+hash=${(System.nanoTime() - t2) / 1e9}%.1f s")
      // JPEG leg (r15): entropy coding + the per-block double IDCT —
      // the heaviest per-pixel codec in the family
      val t3 = System.nanoTime()
      val nJpeg = graft.multimodal.Multimodal.pixelChecksums(
        graft.multimodal.Multimodal.asJpegTable(docs)).count()
      println(f"MEDIASCALE n=$n jpeg=$nJpeg encode+decode+sum=${(System.nanoTime() - t3) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
