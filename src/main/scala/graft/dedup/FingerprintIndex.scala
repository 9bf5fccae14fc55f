package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistable banded-Hamming fingerprint index — the incremental
  * serving shape of the perceptual near-dup family (image dHash,
  * audio energy hash, text SimHash fingerprints): index the corpus's
  * fingerprints once, check each crawl batch against the store
  * without re-hashing or re-shuffling history. The fingerprint twin
  * of [[DedupIndex]] with one deliberate storage difference: a
  * fingerprint is ONE long (not a shingle array), so it RIDES the
  * stored band rows — (id, fp, band_idx, band_key), 4 scalars —
  * and verification is an inline popcount on the candidate join,
  * no fetch-by-id side table. (DedupIndex's two-table normalization
  * exists to keep ARRAYS off the candidate shuffle; an 8-byte scalar
  * rides free.)
  *
  * 100 TB posture: the bands table is bucketed on band_key, so a
  * delta's candidate join clusters on the stored layout (zero
  * index-side exchange — the DedupIndex plan contract); the delta is
  * the only thing fingerprinted per run; extents grow LSM-style per
  * batch (the [[graft.api.Lsm]] lifecycle over one keyed side) and
  * [[compact]] folds them. Band
  * arithmetic is [[Dedup.bandedHammingPairs]]'s, shared via the same
  * shift/mask construction, so index-vs-delta agrees bit-for-bit
  * with the monolithic pair join within the radius.
  */
object FingerprintIndex {

  private val FBands = graft.api.Lsm.Side("fbands", "_fbands", Seq("band_key"),
    "id LONG, fp LONG, band_idx INT, band_key LONG")
  private val Grow = graft.api.Lsm.Grow("id", Seq(FBands))

  /** The one stored table: (id, fp, band_idx, band_key) bucketed on
    * band_key.
    *
    * WHY NO HOT-BUCKET SIDECAR (deliberate divergence from
    * [[DedupIndex.hotTable]]): MinHash-LSH band keys live in a
    * ~2^63 value space, so an over-cap bucket is always DEGENERACY
    * (boilerplate) and a constant cap cleanly diverts it. A 56-bit
    * perceptual fingerprint at radius 7 has 7-BIT bands: occupancy is
    * n/128 per band on average — CORPUS-SIZE-driven, and any constant
    * cap would eventually drop everything (at sf0.1 the healthy gate
    * index already has buckets of 133). The scale lever here is
    * fingerprint WIDTH (measured in docs/SCALE.md: doubling band bits
    * cut candidates 136x), not a cap. The one true degeneracy —
    * millions of EXACT-identical fingerprints (the same logo file
    * re-crawled) — is handled upstream by exact dedup, or by storing
    * one representative id per distinct fp (a `distinct-on-fp` write;
    * changes witness attribution from all-copies to one-copy, the
    * usual trade). */
  def bandsTable(table: String): String = FBands.base(table)

  /** Extent directory of a growing fingerprint index. */
  def extentPath(growPath: String): String = FBands.path(growPath)

  /** Tombstone directory (forgotten ids) of a growing index. */
  def tombstonePath(growPath: String): String = graft.api.Lsm.tombstonePath(growPath)

  /** Right-to-be-forgotten for media (the image-RTBF twin of
    * [[DedupIndex.forget]]): ids land as an idempotent tombstone
    * batch; from the next [[flagAndAdmit]] on, a forgotten item no
    * longer WITNESSES duplicates (pairs anti-joined on dup_of —
    * O(pairs), never O(index)); [[compact]] removes its band rows
    * physically and clears the tombstones. Same caller contract as
    * DedupIndex, and equally self-enforcing: flagAndAdmit rejects a
    * batch whose ids intersect the tombstone set. Tombstones apply
    * retroactively on sink replay (privacy erasure must not resurrect
    * forgotten pairs). */
  def forget(spark: SparkSession, growPath: String, ids: DataFrame,
      batchId: Long): Unit =
    graft.api.Lsm.forget(spark, Grow, growPath, ids, batchId)

  private def bandRows(fps: DataFrame, idCol: String, fpCol: String,
      bits: Int, maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    require(bits % bands == 0, s"bands=$bands must divide $bits")
    // Dedup.bandKeyArray IS the banding arithmetic — one definition
    // for the batch join, the monitor and this stored layout
    fps.select(col(idCol).cast("long").as("id"), col(fpCol).as("fp"),
      posexplode(Dedup.bandKeyArray(col(fpCol), bits, bands))
        .as(Seq("band_idx", "band_key")))
  }

  /** Persist the banded index over `fps` (idCol, fpCol). */
  def write(fps: DataFrame, idCol: String, fpCol: String, table: String,
      bits: Int, maxHamming: Int, buckets: Int = 16): Unit = {
    drop(fps.sparkSession, table)
    graft.api.Lsm.writeBase(Grow, table,
      Seq(bandRows(fps, idCol, fpCol, bits, maxHamming)), buckets)
  }

  def drop(spark: SparkSession, table: String): Unit =
    graft.api.Bucketing.resetManaged(spark, bandsTable(table))

  /** Flag fingerprints of `newFps` within Hamming `maxHamming` of any
    * INDEXED fingerprint: (id, dup_of, hamming), dup_of the indexed
    * id. Candidates from the band join against the stored layout;
    * popcount verifies inline — set-exact within the radius. */
  def flagAgainst(spark: SparkSession, table: String, newFps: DataFrame,
      idCol: String, fpCol: String, bits: Int, maxHamming: Int): DataFrame =
    flagRows(bandRows(newFps, idCol, fpCol, bits, maxHamming),
      spark.table(bandsTable(table)), maxHamming)

  private def flagRows(delta: DataFrame, idx: DataFrame,
      maxHamming: Int, pairFilter: org.apache.spark.sql.Column = lit(true))
      : DataFrame =
    delta.alias("d")
      .join(idx.alias("i"),
        col("d.band_idx") === col("i.band_idx") &&
          col("d.band_key") === col("i.band_key"))
      .select(col("d.id").as("id"), col("i.id").as("dup_of"),
        bit_count(col("d.fp").bitwiseXOR(col("i.fp"))).cast("long").as("hamming"))
      .filter(pairFilter)
      .filter(col("hamming") <= maxHamming)
      .distinct()

  /** One micro-batch of the GROWING fingerprint dedup: flag `batch`
    * against base + prior extents + smaller-id batch members, write
    * flagged rows (id, dup_of, hamming) to the batch's sink
    * partition, admit survivors' band rows as the batch's extent.
    * All writes overwrite their own batch_id partition —
    * replay-idempotent. The per-batch cost is O(batch x bands) rows
    * joined against the bucketed base (no index exchange) plus the
    * admission-rate-bounded extents. */
  def flagAndAdmit(spark: SparkSession, table: String, growPath: String,
      batchFps: DataFrame, idCol: String, fpCol: String, bits: Int,
      maxHamming: Int, batchId: Long, sinkPath: String): Unit = {
    val delta = bandRows(batchFps, idCol, fpCol, bits, maxHamming)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // tombstone-rebirth guard (see graft.api.Lsm.admitting and
      // DedupIndex.flagAndAdmit), with this batch's own prior sink
      // partition also proving a replay
      val tombs = graft.api.Lsm.admitting(spark, Grow, growPath,
        delta.select(col("id")).distinct(), batchId,
        Seq(s"$sinkPath/batch_id=$batchId"))
      val flagged0 = graft.api.Lsm.parts(spark, FBands, table, growPath, Some(batchId))
        .map(p => flagRows(delta, p, maxHamming))
        .reduce(_ unionByName _)
        .unionByName(flagRows(delta, delta, maxHamming,
          pairFilter = col("dup_of") < col("id")))
      // forgotten items must not witness: pair-side anti-join
      // (O(pairs), never an index rescan)
      // eager localCheckpoint instead of persist+prime (r18, the
      // DedupIndex.flagAndAdmit rationale): one materialization job
      // (filling the delta cache through flagged's lineage), and the
      // truncated lineage stops Catalyst re-optimizing the deep flag
      // tree once per write below. Freed after the writes.
      val flagged = graft.api.Iterations.checkpoint(
        tombs.fold(flagged0)(ts =>
          flagged0.join(ts.select(col("id").as("dup_of")),
            Seq("dup_of"), "left_anti")))
      try {
        // sink and admission extent are independent consumers of the
        // checkpointed flag frame + band cache — overlapped (guide
        // §2.6, r18); both idempotent per-partition overwrites, and
        // the rebirth exemption above already unions both partitions'
        // ids
        graft.api.Overlap.run(
          () => flagged.select(col("id"), col("dup_of"), col("hamming"))
            .write.mode("overwrite").parquet(s"$sinkPath/batch_id=$batchId"),
          () => delta
            .join(flagged.select(col("id")).distinct(), Seq("id"), "left_anti")
            .write.mode("overwrite")
            .parquet(s"${extentPath(growPath)}/batch_id=$batchId"))
      } finally graft.api.Iterations.freeCheckpoint(flagged)
    } finally delta.unpersist(blocking = true)
  }

  /** Fold extents into the bucketed base and apply tombstones
    * physically ([[graft.api.Lsm.compact]]) — forgotten ids' band rows
    * leave the index here. */
  def compact(spark: SparkSession, table: String, growPath: String,
      buckets: Int = 16): Unit =
    graft.api.Lsm.compact(spark, Grow, table, growPath,
      graft.api.Lsm.writeBase(Grow, table, _, buckets))

  /** Size-tiered compaction ([[graft.api.Lsm.compactTiered]]) measured
    * in band rows; base-hitting tombstones survive, still masked at
    * flag time, and the bucketed base is untouched below the
    * threshold. */
  def compactTiered(spark: SparkSession, table: String, growPath: String,
      buckets: Int = 16, maxExtentFraction: Double = 0.2): Unit =
    graft.api.Lsm.compactTiered(spark, Grow, table, growPath, maxExtentFraction,
      full = () => compact(spark, table, growPath, buckets),
      sizes = (() => spark.table(bandsTable(table)).count(),
        () => graft.api.Lsm.extent(spark, FBands, table, growPath).fold(0L)(_.count())))
}
