package graft.api

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one LSM lifecycle of the four index families (PostingsIndex,
  * IvfIndex, DedupIndex, FingerprintIndex). A family describes its
  * grow state as a [[Grow]] value and supplies only its payload — the
  * tokenize/sign/cell-assign/band transform, its search or flag plan,
  * the tiered-compaction size measure and any output derived from the
  * staged frames. Everything below is shared:
  *
  *   - base: each keyed [[Side]] is a bucketed catalog table written
  *     by the family's `write`;
  *   - admit: a batch lands in its OWN partition
  *     `<growPath>/<side>/batch_id=N` of every side, so a replay
  *     overwrites itself (idempotent). [[admitting]] opens every
  *     admission: it finishes an interrupted swap and rejects a
  *     tombstoned id that is not in the batch's own prior partitions
  *     (that is crash replay; anything else is rebirth — a forgotten
  *     id must not be re-admitted before a compaction clears it);
  *   - forget/delete: ids land as the batch's own tombstone partition
  *     ([[forget]]); readers mask them, compaction applies them;
  *   - read: [[parts]] gives base and extents as SEPARATE frames — a
  *     union before a per-part filter or join would erase the base
  *     bucketing and make every read O(index) (docs/SCALE.md "growing
  *     index") — with an optional `batch_id < n` replay guard;
  *   - [[compact]]: live view (base ∪ extents − tombstones) staged,
  *     base tables reset and rewritten bucketed, grow dirs cleared;
  *   - [[compactTiered]]: below a size threshold only the extents fold
  *     into ONE consolidated partition ([[ConsolidatedBatchId]]),
  *     base-hitting tombstones survive, and [[swapConsolidated]] moves
  *     the generation in crash-safely; above it, the full fold.
  *
  * Every entry point that mutates or consumes grow state ([[admitting]],
  * [[forget]], [[live]], [[compact]], [[compactTiered]]) first runs
  * [[recover]], so nothing is built on a half-swapped index. The read
  * paths ([[parts]], [[tombstones]]) do not: a search may run beside a
  * compaction, and replaying its plan concurrently would race it.
  *
  * Caller contract: ids are unique across base + extents, and
  * compactions do not run concurrently with admissions or forgets. */
object Lsm {

  /** One keyed side of a family's grow state: the base catalog table
    * `<table><suffix>` bucketed on `bucketCols`, and the extent
    * directory `<growPath>/<dir>`. `ddl` is the extent read schema
    * without `batch_id`; empty means the base table's schema. The
    * schema is explicit, never inferred: a batch that admits nothing
    * leaves a data-file-less partition. */
  final case class Side(dir: String, suffix: String, bucketCols: Seq[String],
      ddl: String = "") {
    def base(table: String): String = table + suffix
    def path(growPath: String): String = s"$growPath/$dir"
  }

  /** A family's grow state: the tombstone key column and its keyed
    * sides. The FIRST side's extent directory marks "has extents"; the
    * LAST side holds one row per id, and surviving tombstones are
    * decided against it. `derived` names keyless per-batch extent
    * directories (Postings' stats deltas) that move and clear with the
    * sides. */
  final case class Grow(key: String, sides: Seq[Side], derived: Seq[String] = Nil)

  /** The extent batch_id the size-tiered compactors consolidate
    * into — negative so it can never collide with a caller-assigned
    * admission id (admission ids are expected non-negative; the
    * replay guards key on a batch's own partition, so reusing a live
    * admission id would alias a consolidation with a replay). */
  val ConsolidatedBatchId: Long = -1L

  /** Tombstone directory of a growing index. */
  def tombstonePath(growPath: String): String = growPath + "/tombstones"

  /** Canonical staging root of a grow path — shared by every
    * family's compactTiered and by [[recover]] callers. */
  def stagingRoot(growPath: String): String = growPath + "/_tiered_staging"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, dir).exists(new Path(dir))

  private def recoverAt(spark: SparkSession, growPath: String): Unit = {
    recover(spark, stagingRoot(growPath)); ()
  }

  /** Land `ids` as tombstone partition `batchId` (an idempotent
    * overwrite). A stray id is benign: every correction joins against
    * the index by id. */
  def forget(spark: SparkSession, grow: Grow, growPath: String, ids: DataFrame,
      batchId: Long): Unit = {
    recoverAt(spark, growPath)
    ids.select(col(grow.key).cast("long").as(grow.key))
      .write.mode("overwrite")
      .parquet(s"${tombstonePath(growPath)}/batch_id=$batchId")
  }

  /** The tombstoned ids (one `key` column), if any were forgotten. */
  def tombstones(spark: SparkSession, grow: Grow, growPath: String): Option[DataFrame] =
    if (!exists(spark, tombstonePath(growPath))) None
    else Some(spark.read.schema(s"${grow.key} LONG, batch_id LONG")
      .parquet(tombstonePath(growPath)).select(col(grow.key)))

  /** `df` without the tombstoned ids. */
  def mask(grow: Grow, df: DataFrame, ts: Option[DataFrame]): DataFrame =
    ts.fold(df)(t => df.join(t, Seq(grow.key), "left_anti"))

  /** Every extent of `side` (batch_id dropped; `before` keeps only
    * batches below it) — read unconditionally. */
  private def extentOf(spark: SparkSession, side: Side, table: String,
      growPath: String, before: Option[Long] = None): DataFrame = {
    val reader =
      if (side.ddl.nonEmpty) spark.read.schema(side.ddl + ", batch_id LONG")
      else spark.read.schema(StructType(spark.table(side.base(table)).schema.fields :+
        StructField("batch_id", LongType)))
    val ext = reader.parquet(side.path(growPath))
    before.fold(ext)(n => ext.filter(col("batch_id") < lit(n))).drop("batch_id")
  }

  /** The extents of `side` as one frame, if any were admitted. */
  def extent(spark: SparkSession, side: Side, table: String,
      growPath: String): Option[DataFrame] =
    if (exists(spark, side.path(growPath))) Some(extentOf(spark, side, table, growPath))
    else None

  /** Base + extents of `side` as SEPARATE frames (see the object
    * doc). `before` is the flag families' replay guard: a batch re-run
    * after a mid-write crash must not see its own partial extent. */
  def parts(spark: SparkSession, side: Side, table: String, growPath: String,
      before: Option[Long] = None): Seq[DataFrame] =
    spark.table(side.base(table)) +:
      (if (exists(spark, side.path(growPath)))
        Seq(extentOf(spark, side, table, growPath, before))
      else Nil)

  private def union(spark: SparkSession, side: Side, table: String,
      growPath: String): DataFrame =
    parts(spark, side, table, growPath).reduce(_ unionByName _)

  /** The live view of every side, in side order: base ∪ extents −
    * tombstones. */
  def live(spark: SparkSession, grow: Grow, table: String,
      growPath: String): Seq[DataFrame] = {
    recoverAt(spark, growPath)
    val ts = tombstones(spark, grow, growPath)
    grow.sides.map(s => mask(grow, union(spark, s, table, growPath), ts))
  }

  /** Open an admission of batch `batchId` whose ids are `ids`: finish
    * any interrupted swap, then — only when tombstones exist, as one
    * O(batch) count job — reject ids that are tombstoned and absent
    * from this batch's own prior partitions (every side's, plus
    * `ownAlso`, e.g. a flag sink). The sides are written concurrently,
    * so a crash can leave any one of them; the union of all of them is
    * what recognizes a replay. Returns the tombstones. */
  def admitting(spark: SparkSession, grow: Grow, growPath: String, ids: DataFrame,
      batchId: Long, ownAlso: Seq[String] = Nil): Option[DataFrame] = {
    recoverAt(spark, growPath)
    val ts = tombstones(spark, grow, growPath)
    ts.foreach { t =>
      val k = grow.key
      val own = (grow.sides.map(s => s"${s.path(growPath)}/batch_id=$batchId") ++ ownAlso)
        .filter(exists(spark, _))
        .map(p => spark.read.schema(s"$k LONG").parquet(p))
      val tombstoned = ids.select(col(k).cast("long").as(k)).join(t, Seq(k), "left_semi")
      val reborn = own.reduceOption(_ unionByName _)
        .fold(tombstoned)(o => tombstoned.join(o, Seq(k), "left_anti")).count()
      require(reborn == 0L,
        s"admit(batch $batchId): $reborn $k(s) are tombstoned in this index " +
          "and not part of this batch's own prior partitions — a forgotten id " +
          "must not be re-admitted before a compaction clears the tombstones")
    }
    ts
  }

  /** Bucketed (re)write of every side's base table from `frames` (in
    * side order), overlapped with the family's `also` writes. */
  def writeBase(grow: Grow, table: String, frames: Seq[DataFrame], buckets: Int,
      also: (() => Unit)*): Unit =
    Overlap.run(grow.sides.zip(frames).map { case (s, df) =>
      () => Bucketing.writeBucketed(df, s.base(table), s.bucketCols, buckets)
    } ++ also: _*)

  /** Drop every grow directory (sides, derived, tombstones) and
    * `staging`. */
  private def clear(spark: SparkSession, grow: Grow, growPath: String,
      staging: String): Unit = {
    val fs = fsOf(spark, growPath)
    (grow.sides.map(_.path(growPath)) ++ grow.derived.map(d => s"$growPath/$d") ++
      Seq(tombstonePath(growPath), staging))
      .foreach(d => fs.delete(new Path(d), true))
  }

  /** Rebuild from the live view: stage `frames(live)` as plain parquet
    * under `growPath/<stagingName>` (the base tables cannot be
    * overwritten while being read), hand the staged copies to
    * `rebuild`, then clear the grow directories. The retrain paths use
    * it directly; [[compact]] is its fold-only form. */
  def rebuildLive(spark: SparkSession, grow: Grow, table: String, growPath: String,
      stagingName: String)(frames: Seq[DataFrame] => Seq[DataFrame])(
      rebuild: Seq[DataFrame] => Unit): Unit = {
    val staging = s"$growPath/$stagingName"
    val staged = frames(live(spark, grow, table, growPath)).zipWithIndex
      .map { case (df, i) => (df, s"$staging/$i") }
    Overlap.run(staged.map { case (df, p) =>
      () => df.write.mode("overwrite").parquet(p) }: _*)
    rebuild(staged.map { case (_, p) => spark.read.parquet(p) })
    clear(spark, grow, growPath, staging)
  }

  /** Full compaction: fold every extent into the bucketed base tables
    * and apply tombstones physically. The live sides are staged, the
    * side tables and `alsoReset` are reset, `rebuild` writes the staged
    * frames (usually [[writeBase]]), and the grow dirs are cleared. A
    * no-op without extents or tombstones. */
  def compact(spark: SparkSession, grow: Grow, table: String, growPath: String,
      rebuild: Seq[DataFrame] => Unit, alsoReset: Seq[String] = Nil): Unit = {
    recoverAt(spark, growPath)
    if (!exists(spark, grow.sides.head.path(growPath)) &&
        !exists(spark, tombstonePath(growPath))) return
    rebuildLive(spark, grow, table, growPath, "_compact_staging")(identity) { staged =>
      (grow.sides.map(_.base(table)) ++ alsoReset)
        .foreach(Bucketing.resetManaged(spark, _))
      rebuild(staged)
    }
  }

  /** Size-tiered compaction: bound write amplification by NOT
    * rewriting the base on every compaction. When `sizes` — the
    * family's (base, extents) measure, read overlapped — puts the
    * extents under `maxExtentFraction` of the base, the extents alone
    * fold into ONE consolidated partition per side (extent-hitting
    * tombstones applied physically); tombstones on base docs or stray
    * ids survive, still masked at read time, until the next full
    * fold. Otherwise (or without extents) it runs `full`. The base
    * tables' files are untouched below the threshold, so the cost is
    * O(extent mass), and the base pays its O(index) rewrite once per
    * ~maxExtentFraction of growth.
    *
    * `stage` writes one side's live extent under the staging root (the
    * family may derive outputs from it, e.g. Postings' stats delta);
    * the survivor count rides the tombstone write as an observed metric.
    * Observation metrics are accumulator-backed: a speculative or
    * retried duplicate task can over-count them. This engine runs
    * local[] with speculation off (Spark's default), where they equal
    * the written rows by construction. */
  def compactTiered(spark: SparkSession, grow: Grow, table: String, growPath: String,
      maxExtentFraction: Double, full: () => Unit, sizes: (() => Long, () => Long),
      stage: (Side, DataFrame, String) => Unit = stageSide): Unit = {
    // an interrupted generation must finish before a new one stages
    recoverAt(spark, growPath)
    if (!exists(spark, grow.sides.head.path(growPath))) return full()
    val Seq(baseN, extN) = Overlap.all(Seq(sizes._1, sizes._2))
    if (baseN <= 0 || extN.toDouble / baseN >= maxExtentFraction) return full()
    val staging = stagingRoot(growPath)
    val ts = tombstones(spark, grow, growPath)
    val ext = grow.sides.map(s => s -> extentOf(spark, s, table, growPath))
    val remaining = new java.util.concurrent.atomic.AtomicLong(0L)
    Overlap.run(ext.map { case (s, df) => () => stage(s, mask(grow, df, ts), staging) } ++
      // tombstones that hit no extent row survive; DISTINCT: a
      // twice-forgotten id survives as one row
      ts.toSeq.map { t => () =>
        val obs = Observation()
        t.distinct().join(ext.last._2.select(col(grow.key)), Seq(grow.key), "left_anti")
          .observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(staging + "/tombstones")
        remaining.set(obs.get("n").asInstanceOf[Long])
      }: _*)
    swapConsolidated(spark, staging,
      (grow.sides.map(_.dir) ++ grow.derived).map(d => s"$staging/$d" -> s"$growPath/$d"),
      if (remaining.get > 0) Some(staging + "/tombstones") else None,
      tombstonePath(growPath))
  }

  /** The default `stage` of [[compactTiered]]: `live` as plain
    * parquet under `<root>/<side>`. */
  def stageSide(side: Side, live: DataFrame, root: String): Unit =
    live.write.mode("overwrite").parquet(s"$root/${side.dir}")

  /** Swap a staged consolidated generation into place — the tail of
    * [[compactTiered]].
    *
    * `extentMoves` maps each staged consolidated dataset to its final
    * extent directory; `survivors` is the staged surviving-tombstone
    * dataset (None when the index had no tombstones or none survive);
    * `tombstoneDir` is the live tombstone directory.
    *
    * CRASH-WINDOW ORDERING: the privacy-grade failure is a window
    * where the tombstone directory is ABSENT while un-consolidated
    * extents (or the untouched base) still hold forgotten documents —
    * a crash there silently resurrects them. So:
    *
    *   1. Surviving tombstones land FIRST, ADDITIVELY, as the
    *      consolidated tombstone partition alongside the old ones —
    *      survivors ⊆ old, so the mask is a superset of the correct
    *      mask at every intermediate state (over-masking an id whose
    *      extent rows were already applied is a no-op: every masking
    *      anti-join and the DISTINCT'd stats corrections are
    *      duplicate- and stray-tolerant).
    *   2. Each extent directory swaps: the batch partitions the plan
    *      RECORDED at stage time deleted, consolidated partition
    *      renamed in — every delete/rename CHECKED (`require`), so a
    *      filesystem refusal fails loudly instead of leaving a
    *      silent half-swap.
    *   3. The recorded old tombstone partitions are removed LAST,
    *      only after every extent swap committed — forgotten ids
    *      stay masked while any pre-consolidation extent rows can
    *      still exist.
    *
    * CRASH RECOVERY: before the first move, the full swap plan —
    * including, PER DIRECTORY, the exact batch partitions this
    * generation consumed (a replay must never delete a batch that was
    * admitted or forgotten AFTER the crash; the recorded sets make
    * deletion precise instead of delete-everything) — is persisted
    * ATOMICALLY (temp file + rename, `end` terminator) as
    * `_swap_plan.txt` INSIDE `stagingRoot`; every move below is
    * guarded by staged-side existence, so the sequence is idempotent;
    * and [[recover]] replays it. A crash in ANY window therefore has a
    * mechanical finisher: `recover(spark, Lsm.stagingRoot(growPath))`
    * completes the interrupted generation (or no-ops if the swap never
    * started or already finished — the plan file lives and dies with
    * the staging root, which is deleted only after the whole swap
    * succeeds). Tombstone masking is never lost in any window. */
  def swapConsolidated(spark: SparkSession, stagingRoot: String,
      extentMoves: Seq[(String, String)], survivors: Option[String],
      tombstoneDir: String): Unit = {
    val fs = fsOf(spark, stagingRoot)
    // record, per directory, the partitions that exist NOW — the
    // generation being consolidated. Replay deletes exactly these.
    def recorded(dir: String): Seq[String] = {
      val p = new Path(dir)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(n => n.startsWith("batch_id=") &&
          n != s"batch_id=$ConsolidatedBatchId").toSeq.sorted
    }
    val moves = extentMoves.map { case (s, f) => (s, f, recorded(f)) }
    val tombRecorded = recorded(tombstoneDir)
    writePlan(fs, stagingRoot, moves, survivors, tombstoneDir, tombRecorded)
    performSwap(fs, stagingRoot, moves, survivors, tombstoneDir, tombRecorded)
  }

  /** Name of the persisted swap plan (underscore-prefixed: Spark's
    * readers ignore it if a listing ever sweeps the staging root). */
  val PlanFile = "_swap_plan.txt"

  /** Test-only fault injection: called with a label after each
    * sub-step of the swap; a throwing failpoint simulates a crash in
    * exactly that window (LsmRecoverySpec). Production no-op. */
  private[graft] var failpoint: String => Unit = _ => ()

  /** Plan persistence is ATOMIC: written to a temp name, fsync'd on
    * close, then renamed over the final name, with an `end`
    * terminator line — a crash mid-write can never leave a half-plan
    * under [[PlanFile]], so [[recover]] either sees a complete plan or
    * (plan absent ⇒ no move ever ran) nothing. */
  private def writePlan(fs: FileSystem,
      stagingRoot: String, moves: Seq[(String, String, Seq[String])],
      survivors: Option[String], tombstoneDir: String,
      tombRecorded: Seq[String]): Unit = {
    val body = (Seq("v2", tombstoneDir, survivors.getOrElse("-"),
      "T:" + tombRecorded.mkString(",")) ++
      moves.map { case (s, f, rec) => s"E:$s\t$f\t${rec.mkString(",")}" } ++
      Seq("end")).mkString("\n")
    val tmp = new Path(stagingRoot, PlanFile + ".tmp")
    val fin = new Path(stagingRoot, PlanFile)
    // A committed plan still present here is the ONLY replay record of
    // an interrupted earlier swap — silently deleting it would leave
    // that generation unfinishable. [[compactTiered]] recovers before
    // restaging, so this only trips a direct swapConsolidated caller
    // that skipped recovery; fail loudly instead of destroying the
    // record.
    require(!fs.exists(fin),
      s"unreplayed swap plan present at $fin — run Lsm.recover($stagingRoot) first")
    fs.delete(tmp, false)
    val out = fs.create(tmp, true)
    try { out.write(body.getBytes("UTF-8")); out.hsync() }
    finally out.close()
    require(fs.rename(tmp, fin), s"could not commit swap plan $fin")
  }

  /** Replay an interrupted swap from the persisted plan. Returns
    * true if a plan was found and completed, false if there was
    * nothing to recover: no staging root / no committed plan —
    * either the compaction never reached the swap (a leftover
    * `.tmp` from a crash mid-plan-write is deleted here: the plan
    * commit precedes every move, so no move can have run), in which
    * case re-running compactTiered restages from scratch, or the
    * swap already finished and removed the root. Idempotent: safe
    * to call again after a crash DURING recovery. */
  def recover(spark: SparkSession, stagingRoot: String): Boolean = {
    val fs = fsOf(spark, stagingRoot)
    val plan = new Path(stagingRoot, PlanFile)
    fs.delete(new Path(stagingRoot, PlanFile + ".tmp"), false)
    if (!fs.exists(plan)) return false
    val in = fs.open(plan)
    val body = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      Iterator.continually(in.read(buf)).takeWhile(_ > 0)
        .foreach(n => bos.write(buf, 0, n))
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
    val lines = body.split("\n").toSeq
    require(lines.headOption.contains("v2") && lines.lastOption.contains("end"),
      s"unrecognized or torn swap plan in $stagingRoot " +
        s"(header=${lines.headOption}, terminator=${lines.lastOption}) — " +
        "plans are committed atomically, so this file was written by " +
        "something else; refusing to replay it")
    val tombstoneDir = lines(1)
    val survivors = Option(lines(2)).filter(_ != "-")
    def names(csv: String): Seq[String] =
      csv.split(",").toSeq.filter(_.nonEmpty)
    val tombRecorded = names(lines(3).stripPrefix("T:"))
    val moves = lines.drop(4).dropRight(1).filter(_.nonEmpty).map { l =>
      l.stripPrefix("E:").split("\t", -1) match {
        case Array(s, f, rec) => (s, f, names(rec))
        case Array(s, f)      => (s, f, Seq.empty[String])
      }
    }
    performSwap(fs, stagingRoot, moves, survivors, tombstoneDir, tombRecorded)
    true
  }

  /** The guarded, idempotent move sequence — shared by the live swap
    * and [[recover]]'s replay. Every step keys on the STAGED side's
    * existence: a step whose staged input is gone already completed
    * in a previous attempt and is skipped; deletions touch ONLY the
    * partitions the plan recorded (+ swap-internal names), so
    * batches admitted or forgotten between a crash and its recovery
    * survive the replay untouched. */
  private def performSwap(fs: FileSystem,
      stagingRoot: String, moves: Seq[(String, String, Seq[String])],
      survivors: Option[String], tombstoneDir: String,
      tombRecorded: Seq[String]): Unit = {
    def p(s: String) = new Path(s)
    def rm(d: String): Unit =
      require(!fs.exists(p(d)) || fs.delete(p(d), true),
        s"tiered compaction: could not delete $d")
    def mv(from: String, to: String): Unit = {
      fs.mkdirs(p(to).getParent)
      require(fs.rename(p(from), p(to)),
        s"tiered compaction: could not rename $from -> $to")
    }
    def rmRecorded(dir: String, rec: Seq[String]): Unit =
      rec.foreach(n => rm(s"$dir/$n"))
    // 1. survivors in, additively (mask superset from here on). A
    // previous consolidation's partition renames ASIDE first (still
    // readable — any batch_id=* partition is), never deleted before
    // the new survivors land; step 3's cleanup removes it. The aside
    // TARGET may itself survive from an interrupted earlier attempt —
    // renaming onto an existing dir would fail or nest; deleting the
    // stale aside first is safe because its content is redundant with
    // the still-present old batch partitions (the mask superset
    // invariant never depends on the aside copy). On replay, a missing
    // staged-survivors dir means this step already committed (the mv
    // is the step's atom) — skip.
    val aside = s"$tombstoneDir/batch_id=${ConsolidatedBatchId - 1}"
    survivors.filter(s => fs.exists(p(s))).foreach { s =>
      val cons = s"$tombstoneDir/batch_id=$ConsolidatedBatchId"
      if (fs.exists(p(cons))) {
        rm(aside)
        mv(cons, aside)
        failpoint("survivors_aside")
      }
      mv(s, cons)
      failpoint("survivors_moved")
    }
    // 2. extent swaps, checked; staged-gone means this extent's swap
    // already committed in a previous attempt (the mv is last).
    // Deletions are the RECORDED partitions only — a batch admitted
    // after a crash is not part of this generation and must survive.
    moves.filter { case (staged, _, _) => fs.exists(p(staged)) }
      .foreach { case (staged, finalDir, rec) =>
        rmRecorded(finalDir, rec)
        rm(s"$finalDir/batch_id=$ConsolidatedBatchId")
        failpoint(s"extent_deleted:$finalDir")
        mv(staged, s"$finalDir/batch_id=$ConsolidatedBatchId")
        failpoint(s"extent_moved:$finalDir")
      }
    // 3. the recorded old tombstone partitions (and the swap-internal
    // aside) out, LAST; tombstones forgotten after a crash are not in
    // the recorded set and stay. If the directory is now empty —
    // nothing survived and nothing new arrived — it goes entirely
    // (the fresh-swap "no survivors" semantics).
    rmRecorded(tombstoneDir, tombRecorded)
    rm(aside)
    if (fs.exists(p(tombstoneDir)) &&
        fs.listStatus(p(tombstoneDir)).isEmpty)
      rm(tombstoneDir)
    failpoint("tombstones_cleaned")
    // 4. staging root (and the plan file with it) gone = swap done
    rm(stagingRoot)
  }
}
