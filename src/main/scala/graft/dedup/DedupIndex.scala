package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistable MinHash-LSH index — the INCREMENTAL dedup shape: sign
  * the corpus once, write the band buckets as catalog tables, and
  * check each day's new documents against the index without
  * re-signing or re-shuffling the historical corpus.
  *
  * Storage layout (normalized, VERDICT r6 #2): TWO tables per index —
  * `<table>_bands(doc_id, band_idx, band_key)` bucketed on band_key
  * (the candidate-join side; ids only, ~3 longs per row) and
  * `<table>_sv(doc_id, sv)` bucketed on doc_id (each doc's distinct
  * shingle array stored exactly ONCE). The earlier single-table form
  * carried the full `sv` array on every (doc, band) row — 8× the
  * corpus's shingle footprint on disk and arrays riding through the
  * candidate shuffle — which is precisely what dies first at 100 TB.
  *
  * 100 TB posture: the bands table is bucketed on `band_key`, so the
  * delta's candidate join clusters on the stored layout instead of
  * exchanging the corpus; the candidate join and its distinct carry
  * ID PAIRS only; exact shingle arrays are fetched once per verified
  * candidate id from the doc-keyed sv table (the same verify shape as
  * [[Dedup.jaccardSimilarityJoin]]'s verifyPairs). The delta (a day's
  * crawl) is the only thing signed per run. Same signature/banding
  * arithmetic as [[Dedup]] (one codegen'd pass), so index-vs-delta
  * agrees bit-for-bit with what a monolithic
  * [[Dedup.minhashLshPairs]] over the union would find across the
  * index/delta boundary.
  *
  * Growth is the [[graft.api.Lsm]] lifecycle over the two keyed sides
  * (bands, sv). Forgotten documents stop WITNESSING duplicates from
  * the next [[flagAndAdmit]] on (pairs anti-joined on dup_of —
  * O(pairs), never an index rescan) and leave physically at
  * [[compact]]. The hot-bucket sidecar is rebuilt by the FULL
  * compaction only.
  */
object DedupIndex {

  private val Bands = graft.api.Lsm.Side("bands", "_bands", Seq("band_key"),
    "doc_id LONG, band_idx INT, band_key LONG")
  private val Sv = graft.api.Lsm.Side("sv", "_sv", Seq("doc_id"),
    "doc_id LONG, sv ARRAY<LONG>")
  private val Grow = graft.api.Lsm.Grow("doc_id", Seq(Bands, Sv))

  /** Candidate-join side: (doc_id, band_idx, band_key), bucketed on
    * band_key. */
  def bandsTable(table: String): String = Bands.base(table)

  /** Shingle-array side: (doc_id, sv), bucketed on doc_id — one row
    * per doc, arrays never duplicated per band. */
  def svTable(table: String): String = Sv.base(table)

  /** Hot-bucket sidecar: (band_idx, band_key, n_docs) for every index
    * band bucket holding more than [[Dedup.DefaultBandBucketCap]]
    * docs — the index-side twin of the batch LSH family's hot-bucket
    * guard (Dedup.minhashLshPairsFrom). A band bucket that large is a
    * boilerplate signature: probing it yields O(bucket) candidates
    * per delta doc (measured: a degenerate-vocabulary corpus produced
    * ~750 candidates/doc and a 9 GB/batch verify exchange,
    * docs/SCALE.md), and docs agreeing on a whole band at that
    * multiplicity are near-exact-dup territory that exact dedup
    * already owns. Computed ONCE at [[write]]/[[compact]] time from
    * the bands being written (rides the same cached signing pass),
    * then anti-joined off each delta's bands before the candidate
    * join — tiny (empty on a healthy corpus), so the per-batch guard
    * costs a small-side join, not an index pass. Extents stay
    * unguarded between compactions: they are admission-rate-bounded
    * by construction. */
  def hotTable(table: String): String = table + "_hot"

  /** Sign `docs` (doc_id, text) and persist the banded index under
    * `<table>_bands` / `<table>_sv`. One signing pass feeds both
    * tables (the signed frame is cached for the two writes, then
    * released). */
  def write(docs: DataFrame, table: String, buckets: Int = 16): Unit = {
    drop(docs.sparkSession, table)
    val signed = Dedup.signedBands(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the three writes are independent readers of the one cached
      // signing pass — primed once, then overlapped (guide §2.6): the
      // per-write fixed cost (scheduling + AQE + commit) leaves the
      // critical path, and at cluster scale each write's commit +
      // straggler tail hides behind its siblings' compute
      graft.api.Overlap.prime(signed)
      graft.api.Lsm.writeBase(Grow, table,
        Seq(bandRows(signed), signed.select(col("doc_id"), col("sv"))), buckets,
        () => writeHot(bandRows(signed), table))
    } finally signed.unpersist(blocking = true)
  }

  /** (doc_id, band_idx, band_key) rows of a signed frame. */
  private def bandRows(signed: DataFrame): DataFrame =
    signed.select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "band_key")))

  /** The hot-sidecar aggregation (bands -> over-cap buckets).
    * Factored out of [[writeHot]] so PlanAuditSpec can pin that, fed
    * from [[write]]'s cached signed frame, it plans as an
    * InMemoryTableScan — NOT a second corpus scan+signing pass
    * (VERDICT r9 #7 guard-rail: the guard must stay ~free). */
  private[graft] def hotAgg(bands: DataFrame): DataFrame =
    bands
      .groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > Dedup.DefaultBandBucketCap)

  /** (Re)build the hot-bucket sidecar from an index bands frame (see
    * [[hotTable]]). */
  private def writeHot(bands: DataFrame, table: String): Unit =
    hotAgg(bands).write.mode("overwrite").saveAsTable(hotTable(table))

  /** Drop all parts of a persisted index. An in-memory catalog
    * forgets managed tables across sessions but their warehouse
    * directories survive — [[graft.api.Bucketing.resetManaged]] clears
    * both, or a fresh session's saveAsTable dies with
    * LOCATION_ALREADY_EXISTS. */
  def drop(spark: SparkSession, table: String): Unit =
    Seq(bandsTable(table), svTable(table), hotTable(table)).foreach(n =>
      graft.api.Bucketing.resetManaged(spark, n))

  /** Flag documents of `newDocs` that are near-duplicates (verified
    * shingle Jaccard >= threshold) of any INDEXED document: returns
    * (doc_id, dup_of, common, na, nb) with `dup_of` the indexed id.
    * Only the delta is signed; candidates come from the band-bucket
    * join against the stored bands layout, the distinct runs over
    * bare (doc_id, dup_of) ID pairs, and both sides' shingle arrays
    * are fetched by id only for surviving candidates. Pairs WITHIN
    * the delta are the caller's choice via [[Dedup.minhashLshPairs]]
    * on `newDocs` — this operator answers "is it already in the
    * corpus". */
  def flagAgainst(spark: SparkSession, table: String, newDocs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val idxBands = spark.table(bandsTable(table))
    val idxSv = spark.table(svTable(table))
    // cached: the delta's bands feed the candidate join and its sv
    // arrays the verify join — one signing pass, two readers
    val delta = Dedup.signedBands(newDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = flagSigned(delta, idxBands, idxSv, threshold,
      hot = hotFor(spark, table))
    graft.api.Materialize.releasing(pairs, Seq(delta))
  }

  /** The index's hot-bucket sidecar, if it exists (indices written
    * before the sidecar existed keep working unguarded). */
  private def hotFor(spark: SparkSession, table: String): Option[DataFrame] =
    if (spark.catalog.tableExists(hotTable(table)))
      Some(spark.table(hotTable(table)))
    else None

  /** Flag core against explicit index frames: candidates from the
    * band-bucket join, `pairFilter` applied on the bare (doc_id,
    * dup_of) projection BEFORE the distinct (so a directional filter
    * also shrinks the distinct's shuffle), exact-Jaccard verify by
    * id-fetched shingle arrays. `signed` must be a
    * [[Dedup.signedBands]] frame (caller owns its caching). */
  private[graft] def flagSigned(signed: DataFrame, idxBands: DataFrame,
      idxSv: DataFrame, threshold: Double,
      pairFilter: org.apache.spark.sql.Column = lit(true),
      hot: Option[DataFrame] = None): DataFrame = {
    val deltaBands0 = bandRows(signed)
    // hot-bucket guard (see hotTable): delta band rows pointing into
    // an over-cap index bucket are dropped BEFORE the candidate join.
    // No hard broadcast hint: the hot sidecar is tiny (empty on a
    // healthy corpus) and AQE broadcasts it from runtime stats.
    val deltaBands = hot.fold(deltaBands0)(h =>
      deltaBands0.join(h.select(col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"), "left_anti"))
    val cand = deltaBands
      .alias("d")
      .join(idxBands.alias("i"),
        col("d.band_idx") === col("i.band_idx") &&
          col("d.band_key") === col("i.band_key"))
      .select(col("d.doc_id").as("doc_id"), col("i.doc_id").as("dup_of"))
      .filter(pairFilter)
      .distinct()
    cand
      .join(signed.select(col("doc_id"), col("sv").as("dsv")), Seq("doc_id"))
      .join(idxSv.select(col("doc_id").as("dup_of"), col("sv").as("isv")),
        Seq("dup_of"))
      .select(col("doc_id"), col("dup_of"),
        size(array_intersect(col("dsv"), col("isv"))).cast("long").as("common"),
        size(col("dsv")).cast("long").as("na"),
        size(col("isv")).cast("long").as("nb"))
      .filter(col("common").cast("double") /
        (col("na") + col("nb") - col("common")) >= threshold)
  }

  // Growing index (VERDICT r7 #4): a stream that admits survivors
  // must APPEND to the index, but a per-batch append into the bucketed
  // base tables writes `buckets` new files every micro-batch —
  // O(batches x buckets) small files, the classic 100-TB file-count
  // death. Admitted docs land in batch_id-partitioned extents instead
  // and compaction folds them (graft.api.Lsm). A day's crawl is ~0.1%
  // of a 100-TB corpus, so the extent side of the candidate join stays
  // negligible between compactions.

  /** Extent directories for a growing index. */
  def extentBandsPath(growPath: String): String = Bands.path(growPath)
  def extentSvPath(growPath: String): String = Sv.path(growPath)
  def tombstonePath(growPath: String): String = graft.api.Lsm.tombstonePath(growPath)

  /** Forget documents (right-to-be-forgotten over the growing index):
    * from the next [[flagAndAdmit]] on, a forgotten document no longer
    * witnesses duplicates; [[compact]] removes its bands/sv rows.
    * Caller contract: ids must reference INDEXED documents — a
    * tombstoned id arriving later as a NEW batch document would lose
    * that batch's within-batch pairs, so [[flagAndAdmit]] rejects it.
    *
    * Replay scope (ADVICE r10 #3): tombstones apply RETROACTIVELY on
    * replay — a flag batch re-run after a later forget() rewrites its
    * sink partition WITHOUT the forgotten witnesses' pairs. This is
    * deliberate: forget() is a privacy erasure, so a crash-replay
    * must not resurrect a forgotten document's pairs in the sink. The
    * replay-idempotence claim on [[flagAndAdmit]] is therefore scoped
    * to a FIXED tombstone state; extents (guarded by batch_id) are
    * bit-identical on replay regardless. */
  def forget(spark: SparkSession, growPath: String, ids: DataFrame,
      batchId: Long): Unit =
    graft.api.Lsm.forget(spark, Grow, growPath, ids, batchId)

  /** The (bands, sv) index frames a batch must flag against: the
    * bucketed base plus the extents of batches before `beforeBatch`,
    * as SEPARATE parts ([[graft.api.Lsm.parts]]) — flagging per part
    * and unioning the verified PAIRS is pair-set-identical (base and
    * extent doc ids are disjoint). */
  private[graft] def indexPartsFor(spark: SparkSession, table: String,
      growPath: String, beforeBatch: Long): Seq[(DataFrame, DataFrame)] =
    graft.api.Lsm.parts(spark, Bands, table, growPath, Some(beforeBatch))
      .zip(graft.api.Lsm.parts(spark, Sv, table, growPath, Some(beforeBatch)))

  /** One micro-batch of the GROWING incremental dedup: flag `batch`
    * against base index + prior extents, write verified dup rows
    * (doc_id, dup_of, common, na, nb) to the batch's own sink
    * partition, and ADMIT the survivors' bands/sv into the batch's
    * own extent partitions. Within-batch near-dups are dropped
    * greedily (a doc with a verified smaller-id near-dup in the same
    * batch is flagged with that witness as dup_of), so two copies
    * arriving in one crawl batch admit only one — consistent with
    * [[Dedup]] keep-one-per-cluster direction. All three writes
    * overwrite their own batch_id partition: replay-idempotent at a
    * fixed tombstone state (a forget() BETWEEN original run and
    * replay intentionally erases the forgotten witnesses' pairs from
    * the replayed sink — see [[forget]]'s replay-scope note).
    *
    * 100 TB posture: ONE signing pass feeds the index flag, the
    * within-batch flag and the admission writes; candidate joins
    * carry id pairs only; the batch is the only thing signed. */
  def flagAndAdmit(spark: SparkSession, table: String, growPath: String,
      batch: DataFrame, batchId: Long, sinkPath: String,
      threshold: Double = 0.5): Unit = {
    // normalize the id type so extents always union cleanly with the
    // base tables (and the explicit extent read schemas)
    val signed = Dedup.signedBands(
        batch.withColumn("doc_id", col("doc_id").cast("long")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // tombstone-rebirth guard (see graft.api.Lsm.admitting): the
      // pair-side anti-join below can't tell a forgotten witness from
      // a reborn doc, whose within-batch pairs would silently vanish.
      // This batch's own prior sink partition also proves a replay.
      val tombs = graft.api.Lsm.admitting(spark, Grow, growPath,
        signed.select(col("doc_id")), batchId, Seq(s"$sinkPath/batch_id=$batchId"))
      val parts = indexPartsFor(spark, table, growPath, batchId)
      val deltaBands = bandRows(signed)
      val deltaSv = signed.select(col("doc_id"), col("sv"))
      // the hot guard applies to the BASE part only (parts.head):
      // extents are admission-rate-bounded between compactions
      val hot = hotFor(spark, table)
      val flagged = parts.zipWithIndex
        .map { case ((idxBands, idxSv), i) =>
          flagSigned(signed, idxBands, idxSv, threshold,
            hot = if (i == 0) hot else None) }
        .reduce(_ unionByName _)
        .unionByName(flagSigned(signed, deltaBands, deltaSv, threshold,
          pairFilter = col("dup_of") < col("doc_id")))
      // forgotten documents must not witness: applied on the PAIR frame
      // (O(pairs)) — an index-side anti-join would rescan O(index)
      // bands per batch, the delta-sized-admission trap of docs/SCALE.md.
      // Eager localCheckpoint instead of persist+prime (r18): the same
      // one materialization job (computing it also fills signed's
      // cache, so every reader below starts warm), but the checkpoint
      // additionally TRUNCATES the lineage — the flag tree here is the
      // batch's deepest plan (three flag legs, each a candidate join +
      // distinct + two verify joins, unioned), and with a plain persist
      // Catalyst re-optimizes that whole tree for EACH of the three
      // writes below (job-trace: ~0.4-0.5 s driver gaps per batch).
      // Freed right after the writes (freeCheckpoint) — the blocks are
      // dead once the partitions are committed.
      val dropped = graft.api.Iterations.checkpoint(
        tombs.fold(flagged)(ts =>
          flagged.join(ts.select(col("doc_id").as("dup_of")),
            Seq("dup_of"), "left_anti")))
      try {
        // sink + the two admission extents are independent consumers
        // of the checkpointed pair frame + signing cache — overlapped
        // (guide §2.6, r18). Crash windows are unchanged in kind: all
        // three writes are idempotent per-partition overwrites and
        // every replay guard keys on per-partition existence (the
        // rebirth exemption unions the sink and both extent
        // partitions), so any committed subset replays exactly as
        // under sequential order.
        val survivors = signed.join(
          dropped.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        graft.api.Overlap.run(
          () => dropped.write.mode("overwrite")
            .parquet(s"$sinkPath/batch_id=$batchId"),
          () => bandRows(survivors)
            .write.mode("overwrite")
            .parquet(s"${extentBandsPath(growPath)}/batch_id=$batchId"),
          () => survivors.select(col("doc_id"), col("sv"))
            .write.mode("overwrite")
            .parquet(s"${extentSvPath(growPath)}/batch_id=$batchId"))
      } finally graft.api.Iterations.freeCheckpoint(dropped)
    } finally signed.unpersist(blocking = true)
  }

  /** Fold every extent into the bucketed base tables and apply the
    * tombstones physically ([[graft.api.Lsm.compact]]) — the
    * forgotten docs' bands and shingle arrays leave the index here.
    * The hot sidecar covers the whole compacted index again (the
    * admitted extents' buckets re-enter the guard): it rebuilds from
    * the STAGED bands, row-identical to the bucketed rewrite, so all
    * three writes are independent. */
  def compact(spark: SparkSession, table: String, growPath: String,
      buckets: Int = 16): Unit =
    graft.api.Lsm.compact(spark, Grow, table, growPath,
      staged => graft.api.Lsm.writeBase(Grow, table, staged, buckets,
        () => writeHot(staged.head, table)),
      alsoReset = Seq(hotTable(table)))

  /** Size-tiered compaction ([[graft.api.Lsm.compactTiered]]) measured
    * in documents (sv rows). Base-hitting tombstones survive —
    * [[flagAndAdmit]] keeps masking their pairs — and the bucketed
    * base AND the hot sidecar are untouched: extents remain extents,
    * so the guard's scope is unchanged; only the FULL [[compact]]
    * re-enters extent buckets into the guard. */
  def compactTiered(spark: SparkSession, table: String, growPath: String,
      buckets: Int = 16, maxExtentFraction: Double = 0.2): Unit =
    graft.api.Lsm.compactTiered(spark, Grow, table, growPath, maxExtentFraction,
      full = () => compact(spark, table, growPath, buckets),
      sizes = (() => spark.table(svTable(table)).count(),
        () => graft.api.Lsm.extent(spark, Sv, table, growPath).fold(0L)(_.count())))
}
