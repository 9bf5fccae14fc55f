package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.NearestCell
import graft.graph.Algorithms

/** Persistable IVF index — the ANN *serving* shape: train the coarse
  * quantizer once, write the cell-assigned corpus as a catalog table
  * bucketed on the cell id, and serve top-k queries against it
  * without re-clustering or re-shuffling the corpus.
  *
  * 100 TB posture: the corpus is written bucketed by `cell`, so a
  * probe query's candidate join clusters on the bucket layout instead
  * of exchanging the corpus, and cell-equality predicates prune
  * buckets at scan time. Centroids are k x dim scalars stored as a
  * tiny parquet side table and re-embedded into the codegen'd
  * NearestCell expressions at load. Parquet round-trips doubles
  * bit-exactly, so a loaded index answers queries identically to the
  * just-trained one (asserted in IvfIndexSpec).
  *
  * Growth is the [[graft.api.Lsm]] lifecycle. The coarse quantizer is
  * FROZEN between retrains (the standard IVF serving contract — cell
  * geometry drifts only as fast as the data distribution), so
  * admission is one narrow assignment pass over the batch and
  * compaction a straight rewrite; [[retrain]] is the stage that
  * re-learns the geometry. The float index has one keyed side
  * (`cells`); the int8 index two (`codes`, the scan side, and `vecs`,
  * the float re-rank side), sharing one tombstone directory.
  */
object IvfIndex {

  private val Cells = graft.api.Lsm.Side("cells", "", Seq("cell"))
  private val FloatGrow = graft.api.Lsm.Grow("vec_id", Seq(Cells))
  private val Codes = graft.api.Lsm.Side("codes", "", Seq("cell"))
  private val Vecs = graft.api.Lsm.Side("vecs", "_vecs", Seq("vec_id"))
  private val Int8Grow = graft.api.Lsm.Grow("vec_id", Seq(Codes, Vecs))

  /** Train on `corpus` (vec_id, embedding, metadata...) and persist
    * under `table` (+ `table_centroids`): corpus bucketed by cell.
    * Metadata columns beyond (vec_id, embedding) ride along into the
    * stored table — the vector-store serving shape, where every
    * vector carries filterable attributes (label, source, license,
    * timestamp) and filtered search prunes on them AT THE SCAN
    * (see [[searchGrown]]'s `pred`). */
  def write(corpus: DataFrame, table: String, nlist: Int = 16,
      iterations: Int = 3, buckets: Int = 16): Unit = {
    val spark = corpus.sparkSession
    Seq(table, s"${table}_centroids")
      .foreach(n => graft.api.Bucketing.resetManaged(spark, n))
    val pts = corpus.select(col("vec_id").as("id"), col("embedding").as("features"))
    val cells = Algorithms.kMeansCentroids(pts, nlist, iterations)
    // centroid sidecar and bucketed corpus are independent consumers
    // of the trained (driver-local) centroids — overlapped (guide §2.6)
    graft.api.Lsm.writeBase(FloatGrow, table, Seq(corpus.select(col("*"),
        NearestCell.nearestCell(col("embedding"), cells).as("cell"))), buckets,
      () => writeCentroids(spark, cells, table))
  }

  /** The `<table>_centroids` sidecar: (cid, cent), row index = cell id. */
  private def writeCentroids(spark: SparkSession, cells: Array[Array[Double]],
      table: String): Unit = {
    import spark.implicits._
    cells.zipWithIndex
      .map { case (cent, cid) => (cid, cent.toSeq) }.toSeq
      .toDF("cid", "cent")
      .coalesce(1)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_centroids")
  }

  /** Bounded-by-contract query frames collect ONCE and feed the
    * broadcast side as a local relation (r17, the
    * PostingsIndex.searchParts treatment): the broadcast was already
    * a driver collect of these rows — this just stops the query
    * frame's SOURCE plan (a filtered corpus scan) from re-executing
    * as the broadcast build. */
  private def localQueries(queries: DataFrame): DataFrame = {
    val qProj = queries.select(col("vec_id"), col("embedding"))
    // bounded-contract guard (ADVICE r17 #4): post-collect row-count
    // assertion — see Similarity.localized for why the guard is NOT a
    // limit pushed into the collect (measured 2-4 sequential take
    // jobs) and how spark.driver.maxResultSize covers the far end
    val rows = qProj.collect()
    require(rows.length <= Similarity.MaxLocalRows,
      s"bounded-query contract violated: ${rows.length} query rows " +
        s"collected to the driver (cap ${Similarity.MaxLocalRows} — " +
        "queries are a bounded suite, never a corpus)")
    queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), qProj.schema)
  }

  /** Load the centroid matrix back (row index = cell id). */
  def loadCentroids(spark: SparkSession, table: String): Array[Array[Double]] =
    spark.table(s"${table}_centroids")
      .orderBy(col("cid"))
      .collect()
      .map(_.getSeq[Double](1).toArray)

  /** Top-k cosine search against a persisted index: queries probe
    * their `nprobe` nearest cells; the cell-equality join reads only
    * matching buckets of the corpus table. Same ranking contract as
    * Similarity.ivfTopK (sim desc, cid tiebreak).
    *
    * `excludeSelf` (default true — the kNN-graph contract, where qid
    * IS a corpus vec_id) drops qid == cid candidates; SERVING paths
    * whose qids come from a separate id space must pass false, or a
    * corpus vector whose vec_id collides with a query id silently
    * vanishes from that query's candidates (ADVICE r12). */
  def search(spark: SparkSession, table: String, queries: DataFrame,
      k: Int, nprobe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    import graft.sim.Similarity.simRounded
    val cells = loadCentroids(spark, table)
    val cb = spark.table(table)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"), col("cell"))
    val qb = broadcast(
      localQueries(queries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .withColumn("cell", explode(NearestCell.nearestCells(col("qv"), cells, nprobe))))
    val cand = qb.join(cb, Seq("cell"))
      .filter(if (excludeSelf) col("qid") =!= col("cid") else lit(true))
      .select(col("qid"), col("cid"), simRounded(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }

  /** Extent directory of a growing index. */
  def extentPath(growPath: String): String = Cells.path(growPath)

  /** Tombstone directory of a growing index (deleted vec_ids). */
  def tombstonePath(growPath: String): String = graft.api.Lsm.tombstonePath(growPath)

  /** Delete vectors from a growing index WITHOUT rewriting anything:
    * [[searchGrown]] anti-joins them off the candidate set, [[compact]]
    * applies them physically. Works on both the float and the int8
    * index (one tombstone directory). Between compactions the
    * tombstone set is delete-rate bounded, so AQE broadcasts the
    * anti-join side from runtime stats; no hard hint. */
  def delete(spark: SparkSession, growPath: String, ids: DataFrame,
      batchId: Long): Unit =
    graft.api.Lsm.forget(spark, FloatGrow, growPath, ids, batchId)

  /** Admit one batch of new vectors: assign each to its nearest
    * TRAINED cell and append as the batch's own extent partition.
    * Batch columns must match the base corpus (vec_id, embedding,
    * metadata...); the cell column is computed here. */
  def admit(spark: SparkSession, table: String, growPath: String,
      batch: DataFrame, batchId: Long): Unit = {
    graft.api.Lsm.admitting(spark, FloatGrow, growPath, batch, batchId)
    val cells = loadCentroids(spark, table)
    batch.select(col("*"),
        NearestCell.nearestCell(col("embedding"), cells).as("cell"))
      .withColumn("vec_id", col("vec_id").cast("long"))
      .write.mode("overwrite")
      .parquet(s"${extentPath(growPath)}/batch_id=$batchId")
  }

  /** MERGE independently-built IVF shards into one served index
    * (VERDICT r12 #6 — build shards in parallel, serve one). The
    * merged index adopts the FIRST shard's trained quantizer: cell
    * geometry is serving state and two geometries cannot both
    * survive — this is the frozen-quantizer admission contract
    * extended across shards. Every other shard's LIVE vectors
    * (base + extents, tombstone-masked) re-assign to the primary
    * cells — the same narrow pass [[admit]] runs per batch — and the
    * union re-buckets once; the primary's centroid table copies
    * over. Grow state is CONSUMED (applied physically, like
    * [[compact]]); [[retrain]] on the merged index re-learns
    * geometry from the union when drift warrants it.
    *
    * Equivalence contract (IvfIndexSpec): search(merged) ≡
    * searchGrown(primary shard with every other shard's live vectors
    * admitted as extents) — identical candidates and ranking,
    * because both sides quantize with the primary geometry.
    *
    * 100 TB posture: one narrow assignment projection over the
    * non-primary shards + one bucketed shuffle over the union — the
    * cost of [[write]] minus the k-means training pass, which is
    * what sharding parallelized. */
  def merge(spark: SparkSession, shards: Seq[(String, Option[String])],
      outTable: String, buckets: Int = 16): Unit = {
    require(shards.nonEmpty, "merge needs at least one shard")
    require(!shards.exists(_._1 == outTable),
      "merge target must not be one of the shards")
    val cells = loadCentroids(spark, shards.head._1)
    def live(tbl: String, grow: Option[String]): DataFrame =
      grow.fold(spark.table(tbl))(graft.api.Lsm.live(spark, FloatGrow, tbl, _).head)
    val primary = live(shards.head._1, shards.head._2)
    val reassigned = shards.tail.map { case (tbl, grow) =>
      live(tbl, grow).drop("cell")
        .select(col("*"), NearestCell.nearestCell(col("embedding"), cells).as("cell"))
    }
    Seq(outTable, s"${outTable}_centroids")
      .foreach(n => graft.api.Bucketing.resetManaged(spark, n))
    // centroid copy and merged bucketed write are independent —
    // overlapped (guide §2.6)
    graft.api.Lsm.writeBase(FloatGrow, outTable,
      Seq((Seq(primary) ++ reassigned).reduce(_ unionByName _)), buckets,
      () => spark.table(s"${shards.head._1}_centroids")
        .coalesce(1).write.mode("overwrite").format("parquet")
        .saveAsTable(s"${outTable}_centroids"))
  }

  /** Top-k cosine search against base + every admitted extent. Same
    * ranking contract as [[search]]; with no extents the two are
    * plan-identical.
    *
    * `pred` is the filtered-ANN serving primitive (VERDICT r9 #6): a
    * metadata predicate over the index's stored columns (e.g.
    * `col("label").isin(1, 4, 7)`), applied to EACH index part's scan
    * BEFORE the candidate join — Catalyst pushes it into the parquet
    * scan (PushedFilters; asserted in PlanAuditSpec), so filtered
    * search reads strictly less than unfiltered instead of filtering
    * candidates post-join. Ranks are computed over the filtered
    * corpus only, which is the contract a vector store's
    * metadata-filtered query needs (top-k OF THE ALLOWED SET, not
    * allowed-members of the global top-k). */
  def searchGrown(spark: SparkSession, table: String, growPath: String,
      queries: DataFrame, k: Int, nprobe: Int = 4,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import graft.sim.Similarity.simRounded
    val cells = loadCentroids(spark, table)
    val qb = broadcast(
      localQueries(queries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .withColumn("cell", explode(NearestCell.nearestCells(col("qv"), cells, nprobe))))
    val cand = graft.api.Lsm.parts(spark, Cells, table, growPath)
      .map { p =>
        val cb = pred.map(p.filter).getOrElse(p)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"),
            col("cell"))
        qb.join(cb, Seq("cell")).filter(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid"), simRounded(col("qv"), col("cv")).as("sim"))
      }
      .reduce(_ unionByName _)
    // tombstoned vectors drop out of the candidate set BEFORE the rank
    // window, so ranks are over live vectors only (a deleted vector
    // must not eat a top-k slot)
    val live = maskCandidates(spark, growPath, cand)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    live.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }

  /** Tombstoned vectors drop out of the candidate set BEFORE the rank
    * window, so ranks are over live vectors only (a deleted vector
    * must not eat a top-k or rerank slot). */
  private def maskCandidates(spark: SparkSession, growPath: String,
      cand: DataFrame): DataFrame =
    graft.api.Lsm.tombstones(spark, FloatGrow, growPath).fold(cand)(ts =>
      cand.join(ts.select(col("vec_id").as("cid")), Seq("cid"), "left_anti"))

  /** Fold every extent into the bucketed base table and apply
    * tombstones physically ([[graft.api.Lsm.compact]]); the centroids
    * stay — cell assignments are final under the frozen quantizer. */
  def compact(spark: SparkSession, table: String, growPath: String,
      buckets: Int = 16): Unit =
    graft.api.Lsm.compact(spark, FloatGrow, table, growPath,
      graft.api.Lsm.writeBase(FloatGrow, table, _, buckets))

  /** Size-tiered compaction ([[graft.api.Lsm.compactTiered]]) measured
    * in vector rows: the base-side `count()` is a parquet
    * metadata/footer pass (vectorized count, no row data) — cheap but
    * O(file count); an index that compacts at high frequency should
    * maintain a 1-row stats sidecar instead (the PostingsIndex stats
    * table is the template). The bucketed base and the centroids are
    * untouched below the threshold. Spec-pinned in IvfIndexSpec: base
    * files byte-identical below threshold, search ≡ pre-compaction ≡
    * live brute force. */
  def compactTiered(spark: SparkSession, table: String, growPath: String,
      buckets: Int = 16, maxExtentFraction: Double = 0.2): Unit =
    graft.api.Lsm.compactTiered(spark, FloatGrow, table, growPath, maxExtentFraction,
      full = () => compact(spark, table, growPath, buckets),
      sizes = (() => spark.table(table).count(),
        () => graft.api.Lsm.extent(spark, Cells, table, growPath).fold(0L)(_.count())))

  /** Retrain the coarse quantizer on the LIVE corpus (base + extents
    * − tombstones) and rebuild the index around the NEW cell geometry
    * — the lifecycle stage [[compact]] cannot provide (VERDICT r10
    * #3): compact keeps the frozen cells, and a corpus whose
    * distribution drifts far enough from the training snapshot
    * degrades probe recall (queries probe the nprobe nearest CELLS;
    * cells that no longer tile the data well make the true neighbors
    * land outside them). Retrain is by definition a fresh [[write]] of
    * the live corpus — the oracle contract (search-after-retrain ≡
    * search against a fresh write; pinned in IvfIndexSpec and
    * q_knn_retrain). Grow state is consumed and cleared.
    *
    * 100 TB posture: one full-corpus pass (assignment) + k-means on a
    * dim-bounded centroid state — the same O(corpus) cost class as
    * compact, run at the same cadence (rare, scheduled, stream
    * paused). Admission stays O(delta) between retrains. */
  def retrain(spark: SparkSession, table: String, growPath: String,
      nlist: Int = 0, iterations: Int = 3, buckets: Int = 16): Unit = {
    // nlist <= 0 (the default) derives the cell count from the STORED
    // centroids: an index written with a non-default nlist must not
    // silently change geometry class on a bare retrain() call (the
    // cell COUNT is preserved; the cells themselves retrain — that is
    // the point). Pass nlist explicitly to re-size on purpose.
    val k = if (nlist > 0) nlist else loadCentroids(spark, table).length
    graft.api.Lsm.rebuildLive(spark, FloatGrow, table, growPath, "_retrain_staging")(
        live => Seq(live.head.drop("cell")))(
      staged => write(staged.head, table, k, iterations, buckets))
  }

  // ---- int8-quantized variant (VERDICT r7 #3) -------------------------

  /** Float-vector side table of the int8 index: (vec_id, embedding)
    * bucketed on vec_id — floats stored ONCE, fetched by id only for
    * re-rank survivors (the [[graft.dedup.DedupIndex]] `_sv`
    * normalization applied to ANN). */
  def vecsTable(table: String): String = Vecs.base(table)

  /** Train + persist the int8-quantized IVF index: the scan table
    * `<table>` carries (vec_id, cell, codes array<tinyint>, scale_q,
    * normq) bucketed on cell — 1 byte/element through the candidate
    * scan instead of 4 (the memory-bandwidth win the quantizer exists
    * for) — plus `<table>_vecs` (floats by id, re-rank side) and
    * `<table>_centroids`. `normq` = Σ codes² is precomputed once at
    * write time so the scan's approximate-cosine needs only the
    * int8 dot against the query codes. */
  def writeInt8(corpus: DataFrame, table: String, nlist: Int = 16,
      iterations: Int = 3, buckets: Int = 16): Unit = {
    val spark = corpus.sparkSession
    Seq(table, vecsTable(table), s"${table}_centroids")
      .foreach(n => graft.api.Bucketing.resetManaged(spark, n))
    val pts = corpus.select(col("vec_id").as("id"), col("embedding").as("features"))
    val cells = Algorithms.kMeansCentroids(pts, nlist, iterations)
    val coded = graft.sim.Quantize.withInt8Codes(corpus)
      .withColumn("normq",
        graft.functions.Int8Dot.int8Dot(col("codes"), col("codes")))
    // metadata columns (label, source, ...) ride into the SCAN table —
    // the float embedding stays excluded (the bandwidth win), but a
    // filtered search must prune on metadata at the codes scan
    val meta = corpus.columns.toSeq
      .filterNot(Set("vec_id", "embedding")).map(col)
    // the three writes (codes table, float side table, centroid
    // sidecar) are independent — overlapped (guide §2.6)
    graft.api.Lsm.writeBase(Int8Grow, table, Seq(
        coded.select(Seq(col("vec_id"),
          NearestCell.nearestCell(col("embedding"), cells).as("cell"),
          col("codes"), col("scale_q"), col("normq")) ++ meta: _*),
        corpus.select(col("vec_id"), col("embedding"))), buckets,
      () => writeCentroids(spark, cells, table))
  }

  /** Top-k cosine search against a persisted int8 index, two-stage:
    *
    * 1. int8 scan — candidates from the `nprobe` probed cells are
    *    ranked by the EXACT-integer approximate cosine
    *    `dotq / sqrt(normq)` (query/corpus scales cancel out of
    *    cosine, so neither is needed for ranking; dotq and normq are
    *    exact longs, the divide+sqrt is one fixed IEEE expression —
    *    deterministic and SQL-replayable) and cut to the top
    *    `rerankC` per query. The scan reads codes+normq only — the
    *    float column never rides the candidate join.
    * 2. float re-rank — the surviving (qid, cid) pairs fetch exact
    *    floats BY ID from the vec_id-bucketed side table and are
    *    re-ranked by the exact [[Similarity.simRounded]] cosine.
    *
    * Zero-vector guard: all-zero codes give normq = 0 and sort last
    * (score -1e9, below any cosine). Same ranking contract as
    * [[search]] (sim desc, cid tiebreak).
    *
    * `pred` (VERDICT r9 #6, int8 leg): metadata predicate applied to
    * the CODES scan before the candidate join — pushed into the
    * bucketed parquet scan, so both the int8 stage and the float
    * re-rank only ever see allowed vectors, and ranks (incl. the
    * rerankC cut) are over the allowed set only. */
  def searchInt8(spark: SparkSession, table: String, queries: DataFrame,
      k: Int, nprobe: Int = 4, rerankC: Int = 25,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import graft.sim.Similarity.simRounded
    import graft.functions.Int8Dot.int8Dot
    val cells = loadCentroids(spark, table)
    val cb = pred.map(spark.table(table).filter).getOrElse(spark.table(table))
      .select(col("vec_id").as("cid"), col("codes").as("ccodes"),
        col("normq"), col("cell"))
    val qb = broadcast(
      graft.sim.Quantize.withInt8Codes(
          localQueries(queries).select(col("vec_id").as("qid"), col("embedding")))
        .select(col("qid"), col("embedding").as("qv"), col("codes").as("qcodes"))
        .withColumn("cell", explode(NearestCell.nearestCells(col("qv"), cells, nprobe))))
    val scoreq = when(col("normq") === 0, lit(-1e9)).otherwise(
      int8Dot(col("qcodes"), col("ccodes")).cast("double") /
        sqrt(col("normq").cast("double")))
    val wq = Window.partitionBy(col("qid")).orderBy(col("scoreq").desc, col("cid"))
    val topC = qb.join(cb, Seq("cell")).filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("qv"), col("cid"), scoreq.as("scoreq"))
      .withColumn("rkq", row_number().over(wq)).filter(col("rkq") <= rerankC)
    val vecs = spark.table(vecsTable(table))
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    topC.join(vecs, Seq("cid"))
      .select(col("qid"), col("cid"), simRounded(col("qv"), col("cv")).as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }

  /** Drop all tables of an int8 index. */
  def dropInt8(spark: SparkSession, table: String): Unit =
    Seq(table, vecsTable(table), s"${table}_centroids")
      .foreach(n => graft.api.Bucketing.resetManaged(spark, n))

  // ---- growing int8 index (r11: lifecycle parity with the float path)
  //
  // Quantization is per-vector (scale from the vector itself), so
  // admitting against the FROZEN quantizer is bit-identical to having
  // had the vector at write time — exactly the oracle/spec contract.

  /** Codes-extent directory of a growing int8 index. */
  def int8CodesPath(growPath: String): String = Codes.path(growPath)

  /** Float-vector extent directory of a growing int8 index. */
  def int8VecsPath(growPath: String): String = Vecs.path(growPath)

  /** Admit one batch of new vectors to a persisted int8 index:
    * quantize, assign to the frozen quantizer's nearest cell, land
    * codes + floats as the batch's own extent partitions. Metadata
    * columns ride into the codes extent like the base write. */
  def admitInt8(spark: SparkSession, table: String, growPath: String,
      batch: DataFrame, batchId: Long): Unit = {
    graft.api.Lsm.admitting(spark, Int8Grow, growPath, batch, batchId)
    val cells = loadCentroids(spark, table)
    val coded = graft.sim.Quantize.withInt8Codes(batch)
      .withColumn("normq",
        graft.functions.Int8Dot.int8Dot(col("codes"), col("codes")))
    val meta = batch.columns.toSeq
      .filterNot(Set("vec_id", "embedding")).map(col)
    // codes extent and float extent are independent — overlapped
    // (guide §2.6)
    graft.api.Overlap.run(
      () => coded.select(Seq(col("vec_id").cast("long").as("vec_id"),
          NearestCell.nearestCell(col("embedding"), cells).as("cell"),
          col("codes"), col("scale_q"), col("normq")) ++ meta: _*)
        .write.mode("overwrite")
        .parquet(s"${int8CodesPath(growPath)}/batch_id=$batchId"),
      () => batch.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        .write.mode("overwrite")
        .parquet(s"${int8VecsPath(growPath)}/batch_id=$batchId"))
  }

  /** [[searchInt8]] against base + every admitted extent: the int8
    * candidate stage scans base codes (bucketed) and codes extents as
    * SEPARATE parts (the union-erases-bucketing trap, as searchGrown);
    * tombstoned ids drop out of the candidate set BEFORE the rerank
    * cut (a deleted vector must not eat a rerank slot either); the
    * float re-rank fetches by id from base vecs + vecs extents. Same
    * ranking contract as [[searchInt8]]; `pred` prunes each codes
    * part's scan. */
  def searchInt8Grown(spark: SparkSession, table: String, growPath: String,
      queries: DataFrame, k: Int, nprobe: Int = 4, rerankC: Int = 25,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import graft.sim.Similarity.simRounded
    import graft.functions.Int8Dot.int8Dot
    val cells = loadCentroids(spark, table)
    val qb = broadcast(
      graft.sim.Quantize.withInt8Codes(
          localQueries(queries).select(col("vec_id").as("qid"), col("embedding")))
        .select(col("qid"), col("embedding").as("qv"), col("codes").as("qcodes"))
        .withColumn("cell", explode(NearestCell.nearestCells(col("qv"), cells, nprobe))))
    val scoreq = when(col("normq") === 0, lit(-1e9)).otherwise(
      int8Dot(col("qcodes"), col("ccodes")).cast("double") /
        sqrt(col("normq").cast("double")))
    val cand = graft.api.Lsm.parts(spark, Codes, table, growPath)
      .map { p =>
        val cb = pred.map(p.filter).getOrElse(p)
          .select(col("vec_id").as("cid"), col("codes").as("ccodes"),
            col("normq"), col("cell"))
        qb.join(cb, Seq("cell")).filter(col("qid") =!= col("cid"))
          .select(col("qid"), col("qv"), col("qcodes"), col("cid"),
            col("ccodes"), col("normq"))
      }
      .reduce(_ unionByName _)
      .select(col("qid"), col("qv"), col("cid"), scoreq.as("scoreq"))
    val live = maskCandidates(spark, growPath, cand)
    val wq = Window.partitionBy(col("qid")).orderBy(col("scoreq").desc, col("cid"))
    val topC = live.withColumn("rkq", row_number().over(wq))
      .filter(col("rkq") <= rerankC)
    val vecs = graft.api.Lsm.parts(spark, Vecs, table, growPath)
      .reduce(_ unionByName _)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    topC.join(vecs, Seq("cid"))
      .select(col("qid"), col("cid"), simRounded(col("qv"), col("cv")).as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }

  /** Retrain the int8 index's coarse quantizer on the LIVE corpus and
    * rebuild both tables — the quantized twin of [[retrain]], closing
    * the int8 lifecycle (write → admit → delete → filtered search →
    * compact → retrain). The live FLOAT vectors (base vecs + vecs
    * extents − tombstones) are the training and re-quantization
    * input; codes are per-vector, so [[writeInt8]] on the staged live
    * corpus is definitionally the fresh-write contract. Same O(corpus)
    * cost class and cadence as [[compactInt8]]. */
  def retrainInt8(spark: SparkSession, table: String, growPath: String,
      nlist: Int = 0, iterations: Int = 3, buckets: Int = 16): Unit = {
    // nlist <= 0 derives the stored cell count, as [[retrain]]
    val k = if (nlist > 0) nlist else loadCentroids(spark, table).length
    // metadata columns live on the CODES side — carry them through
    // the rebuild by joining codes metadata onto the live floats
    val metaCols = spark.table(table).columns.toSeq
      .filterNot(Set("vec_id", "cell", "codes", "scale_q", "normq"))
    graft.api.Lsm.rebuildLive(spark, Int8Grow, table, growPath, "_retrain_staging") {
      case Seq(codes, vecs) => Seq(
        if (metaCols.isEmpty) vecs
        else vecs.join(codes.select((col("vec_id") +: metaCols.map(col)): _*),
          Seq("vec_id")))
    }(staged => writeInt8(staged.head, table, k, iterations, buckets))
  }

  /** Fold int8 extents into the bucketed base tables and apply
    * tombstones physically to BOTH sides ([[graft.api.Lsm.compact]]) —
    * cell/code assignments are final (frozen quantizer + per-vector
    * quantization), so compaction is a straight rewrite. */
  def compactInt8(spark: SparkSession, table: String, growPath: String,
      buckets: Int = 16): Unit =
    graft.api.Lsm.compact(spark, Int8Grow, table, growPath,
      graft.api.Lsm.writeBase(Int8Grow, table, _, buckets))
}
