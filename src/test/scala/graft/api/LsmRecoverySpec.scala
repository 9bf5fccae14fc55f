package graft.api

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash-injection coverage for [[Lsm.recover]] (VERDICT r12 #4): a
  * compaction killed inside the swap window — including the
  * previously-documented-only residual, "between one extent dir's
  * delete and its rename" — must be mechanically finishable, with
  * results identical to a never-crashed twin, for every LSM family
  * (the crash-window table below) and through every grow-state
  * consumer (a direct compact after the crash recovers first). */
class LsmRecoverySpec extends SparkSpec {

  import graft.text.{PostingsIndex, TextFunctions}
  import graft.dedup.{DedupIndex, FingerprintIndex}
  import graft.sim.IvfIndex

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def queries(src: DataFrame) =
    src.filter(col("doc_id") < 20).limit(20)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(
          slice(TextFunctions.tokens(col("text")), 1, 5))).as("tok"))

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Int)] = {
    import spark.implicits._
    df.select(col("qid"), col("doc_id"), col("score"), col("rk"))
      .as[(Long, Long, Long, Int)].collect().sorted.toSeq
  }

  private class InjectedCrash extends RuntimeException("injected crash")

  /** Arm the failpoint to throw at the n-th occurrence of labels
    * starting with `prefix`. */
  private def armCrash(prefix: String, nth: Int = 1): Unit = {
    var n = 0
    Lsm.failpoint = l =>
      if (l.startsWith(prefix)) { n += 1; if (n == nth) throw new InjectedCrash }
  }
  private def disarm(): Unit = Lsm.failpoint = _ => ()

  test("PostingsIndex: crash between an extent's delete and rename; recover() finishes, results == untouched twin") {
    // the r12 VERDICT's named residual window: postings extent already
    // swapped, docs extent DELETED but the consolidated partition not
    // yet renamed in — the index is internally inconsistent
    def setup(table: String): String = {
      PostingsIndex.write(docs.filter(col("doc_id") % 10 < 8), table)
      val root = java.nio.file.Files.createTempDirectory(table).toString
      PostingsIndex.admit(spark, table, root,
        docs.filter(col("doc_id") % 10 === 8), 0L)
      PostingsIndex.forget(spark, root,
        docs.filter(col("doc_id") % 10 < 9 && col("doc_id") % 4 === 0)
          .select(col("doc_id")), 100L)
      root
    }
    val q = queries(docs)
    val rootA = setup("lsmrec_pidx_a") // never-crashed twin
    PostingsIndex.compactTiered(spark, "lsmrec_pidx_a", rootA)
    val rootB = setup("lsmrec_pidx_b") // crash + recover
    armCrash("extent_deleted:", nth = 2)
    try {
      intercept[InjectedCrash] {
        PostingsIndex.compactTiered(spark, "lsmrec_pidx_b", rootB)
      }
    } finally disarm()
    // the interrupted generation is fully described on disk
    val staging = rootB + "/_tiered_staging"
    val fs = new org.apache.hadoop.fs.Path(staging)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(staging, Lsm.PlanFile)),
      "swap plan must be persisted before the first move")
    // mechanical finisher
    assert(Lsm.recover(spark, staging), "recover must find and replay the plan")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staging)),
      "staging root must be gone after a completed recovery")
    assert(!Lsm.recover(spark, staging), "second recover must be a no-op")
    // results identical to the never-crashed twin, and the lifecycle
    // continues: a later admission composes on the recovered index
    assert(rows(PostingsIndex.searchGrown(spark, "lsmrec_pidx_b", rootB, q, 3)) ==
      rows(PostingsIndex.searchGrown(spark, "lsmrec_pidx_a", rootA, q, 3)))
    Seq(rootA -> "lsmrec_pidx_a", rootB -> "lsmrec_pidx_b").foreach {
      case (root, table) => PostingsIndex.admit(spark, table, root,
        docs.filter(col("doc_id") % 10 === 9), 1L)
    }
    assert(rows(PostingsIndex.searchGrown(spark, "lsmrec_pidx_b", rootB, q, 3)) ==
      rows(PostingsIndex.searchGrown(spark, "lsmrec_pidx_a", rootA, q, 3)))
    PostingsIndex.drop(spark, "lsmrec_pidx_a")
    PostingsIndex.drop(spark, "lsmrec_pidx_b")
  }

  test("DedupIndex: crash after the survivor mask lands; a crash DURING recovery is also survivable") {
    import spark.implicits._
    def setup(table: String): String = {
      DedupIndex.write(docs.filter(col("doc_id") % 8 < 7), table, buckets = 4)
      val root = java.nio.file.Files.createTempDirectory(table).toString
      DedupIndex.flagAndAdmit(spark, table, s"$root/ext",
        docs.filter(col("doc_id") % 8 === 7), 0L, s"$root/sink")
      DedupIndex.forget(spark, s"$root/ext",
        docs.filter(col("doc_id") % 8 < 7 && col("doc_id") % 9 === 0)
          .select(col("doc_id")), 100L)
      root
    }
    val rootA = setup("lsmrec_dedup_a")
    DedupIndex.compactTiered(spark, "lsmrec_dedup_a", s"$rootA/ext", buckets = 4)
    val rootB = setup("lsmrec_dedup_b")
    // crash window: survivors moved in (mask superset holds), no
    // extent swapped yet
    armCrash("survivors_moved")
    try {
      intercept[InjectedCrash] {
        DedupIndex.compactTiered(spark, "lsmrec_dedup_b", s"$rootB/ext", buckets = 4)
      }
    } finally disarm()
    val staging = s"$rootB/ext/_tiered_staging"
    // double crash: the RECOVERY itself dies mid-extent-swap...
    armCrash("extent_deleted:", nth = 1)
    try {
      intercept[InjectedCrash] { Lsm.recover(spark, staging) }
    } finally disarm()
    // ...and a second recover still finishes idempotently
    assert(Lsm.recover(spark, staging))
    // flags on the next batch are identical to the untouched twin
    // (forgotten witnesses stay masked, consolidated extents witness)
    def flagsOf(table: String, root: String): Set[(Long, Long)] = {
      DedupIndex.flagAndAdmit(spark, table, s"$root/ext",
        docs.filter(col("doc_id") % 8 === 3 && col("doc_id") % 2 === 1)
          .select(col("doc_id") + 100000L as "doc_id", col("text")),
        7L, s"$root/sink")
      spark.read
        .schema("doc_id LONG, dup_of LONG, common LONG, na LONG, nb LONG, batch_id LONG")
        .parquet(s"$root/sink").filter(col("batch_id") === 7L)
        .select(col("doc_id"), col("dup_of"))
        .as[(Long, Long)].collect().toSet
    }
    assert(flagsOf("lsmrec_dedup_b", rootB) == flagsOf("lsmrec_dedup_a", rootA))
    Seq("lsmrec_dedup_a", "lsmrec_dedup_b").foreach(t => DedupIndex.drop(spark, t))
  }

  test("recover on a root that never reached the swap (or already finished) is a safe no-op") {
    assert(!Lsm.recover(spark,
      java.nio.file.Files.createTempDirectory("lsmrec_empty").toString + "/nope"))
  }

  test("replay precision: a tombstone batch landing between crash and recovery survives the replay (recorded-set deletion)") {
    // review r13: the plan records WHICH partitions the generation
    // consumed; replay deletes exactly those — a forget that lands
    // after the crash (here written directly, bypassing the mutators'
    // own auto-recover) must stay masked after recovery
    def setup(table: String): String = {
      PostingsIndex.write(docs.filter(col("doc_id") % 10 < 8), table)
      val root = java.nio.file.Files.createTempDirectory(table).toString
      PostingsIndex.admit(spark, table, root,
        docs.filter(col("doc_id") % 10 === 8), 0L)
      PostingsIndex.forget(spark, root,
        docs.filter(col("doc_id") % 10 < 9 && col("doc_id") % 4 === 0)
          .select(col("doc_id")), 100L)
      root
    }
    val q = queries(docs)
    val lateForget = docs
      .filter(col("doc_id") % 10 < 9 && col("doc_id") % 4 =!= 0 &&
        col("doc_id") % 7 === 1)
      .select(col("doc_id"))
    // twin A: clean compaction, then the same late forget via the API
    val rootA = setup("lsmrec_prec_a")
    PostingsIndex.compactTiered(spark, "lsmrec_prec_a", rootA)
    PostingsIndex.forget(spark, rootA, lateForget, 999L)
    // twin B: crash mid-swap, tombstone batch lands RAW (no recover),
    // then mechanical recovery
    val rootB = setup("lsmrec_prec_b")
    armCrash("extent_deleted:", nth = 2)
    try {
      intercept[InjectedCrash] {
        PostingsIndex.compactTiered(spark, "lsmrec_prec_b", rootB)
      }
    } finally disarm()
    lateForget.write.mode("overwrite")
      .parquet(s"${PostingsIndex.tombstonePath(rootB)}/batch_id=999")
    assert(Lsm.recover(spark, Lsm.stagingRoot(rootB)))
    val a = rows(PostingsIndex.searchGrown(spark, "lsmrec_prec_a", rootA, q, 3))
    val b = rows(PostingsIndex.searchGrown(spark, "lsmrec_prec_b", rootB, q, 3))
    assert(b == a, "post-crash tombstones must survive the replay")
    // and the late-forgotten ids really are masked (non-vacuous)
    import spark.implicits._
    val lateIds = lateForget.as[Long].collect().toSet
    assert(lateIds.nonEmpty && b.forall(r => !lateIds.contains(r._2)))
    PostingsIndex.drop(spark, "lsmrec_prec_a")
    PostingsIndex.drop(spark, "lsmrec_prec_b")
  }

  test("re-running compactTiered after a crash AUTO-recovers before staging (the natural operator response is safe)") {
    // without the entry-point recover, a re-run would stage a new
    // generation from HALF-SWAPPED state (e.g. postings already
    // consolidated, docs extents still per-batch) and consolidate
    // inconsistent stats
    def setup(table: String): String = {
      PostingsIndex.write(docs.filter(col("doc_id") % 10 < 8), table)
      val root = java.nio.file.Files.createTempDirectory(table).toString
      PostingsIndex.admit(spark, table, root,
        docs.filter(col("doc_id") % 10 === 8), 0L)
      PostingsIndex.forget(spark, root,
        docs.filter(col("doc_id") % 10 < 9 && col("doc_id") % 4 === 0)
          .select(col("doc_id")), 100L)
      root
    }
    val q = queries(docs)
    val rootA = setup("lsmrec_auto_a")
    PostingsIndex.compactTiered(spark, "lsmrec_auto_a", rootA)
    val rootB = setup("lsmrec_auto_b")
    armCrash("extent_deleted:", nth = 2)
    try {
      intercept[InjectedCrash] {
        PostingsIndex.compactTiered(spark, "lsmrec_auto_b", rootB)
      }
    } finally disarm()
    // no explicit recover: just run the compaction again
    PostingsIndex.compactTiered(spark, "lsmrec_auto_b", rootB)
    assert(rows(PostingsIndex.searchGrown(spark, "lsmrec_auto_b", rootB, q, 3)) ==
      rows(PostingsIndex.searchGrown(spark, "lsmrec_auto_a", rootA, q, 3)))
    PostingsIndex.drop(spark, "lsmrec_auto_a")
    PostingsIndex.drop(spark, "lsmrec_auto_b")
  }

  test("merge AUTO-recovers a shard that crashed mid-swap before consuming its grow state (ADVICE r13)") {
    // without the entry-point recover, merging a half-swapped shard
    // (postings consolidated, docs extents deleted-not-renamed) bakes
    // the inconsistency permanently into the output index
    def shard(table: String, residue: Int): String = {
      PostingsIndex.write(
        docs.filter(col("doc_id") % 2 === residue && col("doc_id") % 10 < 8), table)
      val root = java.nio.file.Files.createTempDirectory(table).toString
      PostingsIndex.admit(spark, table, root,
        docs.filter(col("doc_id") % 2 === residue && col("doc_id") % 10 === 8), 0L)
      PostingsIndex.forget(spark, root,
        docs.filter(col("doc_id") % 2 === residue && col("doc_id") % 4 === 0)
          .select(col("doc_id")), 100L)
      root
    }
    val q = queries(docs)
    val rootA0 = shard("lsmrec_mrg_a0", 0); val rootA1 = shard("lsmrec_mrg_a1", 1)
    val rootB0 = shard("lsmrec_mrg_b0", 0); val rootB1 = shard("lsmrec_mrg_b1", 1)
    // twin A: crash shard a1 mid-swap, recover EXPLICITLY, then merge
    armCrash("extent_deleted:", nth = 2)
    try {
      intercept[InjectedCrash] {
        PostingsIndex.compactTiered(spark, "lsmrec_mrg_a1", rootA1)
      }
    } finally disarm()
    assert(Lsm.recover(spark, Lsm.stagingRoot(rootA1)))
    PostingsIndex.merge(spark,
      Seq("lsmrec_mrg_a0" -> Some(rootA0), "lsmrec_mrg_a1" -> Some(rootA1)),
      "lsmrec_mrg_a", buckets = 4)
    // twin B: identical crash on shard b1, NO explicit recover — merge
    // itself must replay the interrupted swap before reading the shard
    armCrash("extent_deleted:", nth = 2)
    try {
      intercept[InjectedCrash] {
        PostingsIndex.compactTiered(spark, "lsmrec_mrg_b1", rootB1)
      }
    } finally disarm()
    PostingsIndex.merge(spark,
      Seq("lsmrec_mrg_b0" -> Some(rootB0), "lsmrec_mrg_b1" -> Some(rootB1)),
      "lsmrec_mrg_b", buckets = 4)
    assert(rows(PostingsIndex.search(spark, "lsmrec_mrg_b", q, 3)) ==
      rows(PostingsIndex.search(spark, "lsmrec_mrg_a", q, 3)))
    Seq("lsmrec_mrg_a0", "lsmrec_mrg_a1", "lsmrec_mrg_b0", "lsmrec_mrg_b1",
      "lsmrec_mrg_a", "lsmrec_mrg_b").foreach(t => PostingsIndex.drop(spark, t))
  }

  test("writePlan refuses to destroy an unreplayed committed plan (ADVICE r13)") {
    // a direct swapConsolidated on a root whose previous swap crashed
    // must fail loudly instead of silently deleting the only replay
    // record of the interrupted generation
    def setup(table: String): String = {
      PostingsIndex.write(docs.filter(col("doc_id") % 10 < 8), table)
      val root = java.nio.file.Files.createTempDirectory(table).toString
      PostingsIndex.admit(spark, table, root,
        docs.filter(col("doc_id") % 10 === 8), 0L)
      root
    }
    val root = setup("lsmrec_guard")
    armCrash("extent_deleted:", nth = 1)
    try {
      intercept[InjectedCrash] {
        PostingsIndex.compactTiered(spark, "lsmrec_guard", root)
      }
    } finally disarm()
    val staging = Lsm.stagingRoot(root)
    val ex = intercept[IllegalArgumentException] {
      Lsm.swapConsolidated(spark, staging, Seq.empty, None, root + "/nope")
    }
    assert(ex.getMessage.contains("unreplayed swap plan"))
    // the plan survived the refusal and is still mechanically finishable
    assert(Lsm.recover(spark, staging))
    PostingsIndex.drop(spark, "lsmrec_guard")
  }

  // ---- the crash-window table: family x failpoint label ---------------

  /** One index family under test. `setup` builds a base, one extent
    * batch and tombstones on BOTH (so survivors exist), below the
    * tiered threshold, and returns the grow path. `sides` lists each
    * keyed side's (base table, extent dir) and `key` the id column.
    * `observe` reads the family's results; the flag families read them
    * by flagging a probe batch `n` (which also admits its survivors).
    * `admitMore` is one later admission. */
  private case class Family(name: String, key: String,
      sides: (String, String) => Seq[(String, String)], setup: String => String,
      tiered: (String, String) => Unit, compact: (String, String) => Unit,
      observe: (String, String, Long) => Any, admitMore: (String, String) => Unit,
      drop: String => Unit)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def sinkOf(root: String): String = root + "_sink"

  private def exists(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private val postingsFamily = Family("PostingsIndex", "doc_id",
    sides = (t, root) => Seq(t -> PostingsIndex.postingsPath(root),
      PostingsIndex.docsTable(t) -> PostingsIndex.docsPath(root)),
    setup = table => {
      PostingsIndex.write(docs.filter(col("doc_id") % 10 < 8), table)
      val root = tmp(table)
      PostingsIndex.admit(spark, table, root,
        docs.filter(col("doc_id") % 10 === 8), 0L)
      PostingsIndex.forget(spark, root,
        docs.filter(col("doc_id") % 10 < 9 && col("doc_id") % 4 === 0)
          .select(col("doc_id")), 100L)
      root
    },
    tiered = (t, root) => PostingsIndex.compactTiered(spark, t, root),
    compact = (t, root) => PostingsIndex.compact(spark, t, root),
    observe = (t, root, _) => rows(PostingsIndex.searchGrown(spark, t, root, queries(docs), 3)),
    admitMore = (t, root) => PostingsIndex.admit(spark, t, root,
      docs.filter(col("doc_id") % 10 === 9), 1L),
    drop = t => PostingsIndex.drop(spark, t))

  private def emb = spark.read.parquet(s"${sf("embeddings")}/embeddings.parquet")

  private val ivfFamily = Family("IvfIndex", "vec_id",
    sides = (t, root) => Seq(t -> IvfIndex.extentPath(root)),
    setup = table => {
      IvfIndex.write(emb.filter(col("vec_id") % 8 < 7), table, buckets = 4)
      val root = tmp(table)
      IvfIndex.admit(spark, table, root, emb.filter(col("vec_id") % 8 === 7), 0L)
      IvfIndex.delete(spark, root,
        emb.filter(col("vec_id") % 9 === 0).select(col("vec_id")), 100L)
      root
    },
    tiered = (t, root) => IvfIndex.compactTiered(spark, t, root, buckets = 4),
    compact = (t, root) => IvfIndex.compact(spark, t, root, buckets = 4),
    observe = (t, root, _) => {
      import spark.implicits._
      IvfIndex.searchGrown(spark, t, root, emb.filter(col("vec_id") < 10), 5)
        .select(col("qid"), col("cid"), col("sim"), col("rk"))
        .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    },
    // copies of deleted vectors under fresh ids: they must surface
    admitMore = (t, root) => IvfIndex.admit(spark, t, root,
      emb.filter(col("vec_id") % 9 === 0).withColumn("vec_id", col("vec_id") + 100000L), 1L),
    drop = t => Seq(t, s"${t}_centroids").foreach(Bucketing.resetManaged(spark, _)))

  private val dedupFamily = Family("DedupIndex", "doc_id",
    sides = (t, root) => Seq(DedupIndex.bandsTable(t) -> DedupIndex.extentBandsPath(root),
      DedupIndex.svTable(t) -> DedupIndex.extentSvPath(root)),
    setup = table => {
      DedupIndex.write(docs.filter(col("doc_id") % 8 < 7), table, buckets = 4)
      val root = tmp(table)
      DedupIndex.flagAndAdmit(spark, table, root,
        docs.filter(col("doc_id") % 8 === 7), 0L, sinkOf(root))
      DedupIndex.forget(spark, root,
        docs.filter(col("doc_id") % 9 === 0).select(col("doc_id")), 100L)
      root
    },
    tiered = (t, root) => DedupIndex.compactTiered(spark, t, root, buckets = 4),
    compact = (t, root) => DedupIndex.compact(spark, t, root, buckets = 4),
    // probes: copies of forgotten docs (their witness is masked) and
    // of live base docs (flagged)
    observe = (t, root, n) => {
      import spark.implicits._
      DedupIndex.flagAndAdmit(spark, t, root,
        docs.filter(col("doc_id") % 9 === 0 ||
            (col("doc_id") % 8 === 3 && col("doc_id") % 2 === 1))
          .select(col("doc_id") + n * 100000L as "doc_id", col("text")),
        n, sinkOf(root))
      spark.read
        .schema("doc_id LONG, dup_of LONG, common LONG, na LONG, nb LONG, batch_id LONG")
        .parquet(sinkOf(root)).filter(col("batch_id") === n)
        .select(col("doc_id"), col("dup_of")).as[(Long, Long)].collect().toSet
    },
    admitMore = (t, root) => DedupIndex.flagAndAdmit(spark, t, root,
      docs.filter(col("doc_id") % 9 === 0)
        .select(col("doc_id") + 800000L as "doc_id", col("text")), 8L, sinkOf(root)),
    drop = t => DedupIndex.drop(spark, t))

  private val Bits = 56
  private def fp(i: Long): Long = (i * 0x9E3779B97F4AL) & ((1L << Bits) - 1)

  private val fingerprintFamily = Family("FingerprintIndex", "id",
    sides = (t, root) => Seq(FingerprintIndex.bandsTable(t) -> FingerprintIndex.extentPath(root)),
    setup = table => {
      import spark.implicits._
      FingerprintIndex.write((10L to 29L).map(i => (i, fp(i))).toDF("media_id", "fp"),
        "media_id", "fp", table, Bits, maxHamming = 7, buckets = 4)
      val root = tmp(table)
      FingerprintIndex.flagAndAdmit(spark, table, root,
        Seq((30L, fp(30L)), (31L, fp(31L))).toDF("media_id", "fp"),
        "media_id", "fp", Bits, 7, 0L, sinkOf(root))
      FingerprintIndex.forget(spark, root, Seq(10L, 30L).toDF("id"), 100L)
      root
    },
    tiered = (t, root) => FingerprintIndex.compactTiered(spark, t, root, buckets = 4),
    compact = (t, root) => FingerprintIndex.compact(spark, t, root, buckets = 4),
    // probes: near-dups of a live base item, the forgotten base item,
    // the live extent item, the forgotten extent item and item 40
    // (admitted later)
    observe = (t, root, n) => {
      import spark.implicits._
      FingerprintIndex.flagAndAdmit(spark, t, root,
        Seq(11L, 10L, 31L, 30L, 40L).zipWithIndex
          .map { case (i, j) => (n * 1000L + j, fp(i) ^ 1L) }.toDF("media_id", "fp"),
        "media_id", "fp", Bits, 7, n, sinkOf(root))
      spark.read.schema("id LONG, dup_of LONG, hamming LONG, batch_id LONG")
        .parquet(sinkOf(root)).filter(col("batch_id") === n)
        .select(col("id"), col("dup_of")).as[(Long, Long)].collect().toSet
    },
    admitMore = (t, root) => {
      import spark.implicits._
      FingerprintIndex.flagAndAdmit(spark, t, root,
        Seq((40L, fp(40L))).toDF("media_id", "fp"),
        "media_id", "fp", Bits, 7, 8L, sinkOf(root))
    },
    drop = t => FingerprintIndex.drop(spark, t))

  private val families = Seq(postingsFamily, ivfFamily, dedupFamily, fingerprintFamily)

  /** Each side's live ids as a sorted multiset: base table ∪ extents
    * − tombstones. A lost or duplicated row shows here even where the
    * family's results cannot see it. */
  private def liveIds(f: Family, table: String, root: String): Seq[Seq[Long]] = {
    import spark.implicits._
    def ids(df: DataFrame): Seq[Long] = df.select(col(f.key).cast("long")).as[Long].collect().toSeq
    def read(dir: String): Seq[Long] =
      if (exists(dir)) ids(spark.read.schema(s"${f.key} LONG").parquet(dir)) else Nil
    val tombs = read(root + "/tombstones").toSet
    f.sides(table, root).map { case (base, ext) =>
      (ids(spark.table(base)) ++ read(ext)).filterNot(tombs).sorted
    }
  }

  /** (live ids, results) — ids first: the flag families' `observe`
    * admits its probe batch. */
  private def snapshot(f: Family, table: String, root: String, n: Long): (Any, Any) =
    (liveIds(f, table, root), f.observe(table, root, n))

  /** Snapshots of a never-crashed twin: after a clean tiered
    * compaction, and after one more admission on top of it. */
  private val twins = scala.collection.mutable.Map.empty[String, ((Any, Any), (Any, Any))]
  private def twinOf(f: Family): ((Any, Any), (Any, Any)) = twins.getOrElseUpdate(f.name, {
    val table = s"lsmtab_${f.name.toLowerCase}_twin"
    val root = f.setup(table)
    f.tiered(table, root)
    val before = snapshot(f, table, root, 7L)
    f.admitMore(table, root)
    val after = snapshot(f, table, root, 9L)
    f.drop(table)
    (before, after)
  })

  /** Once an interrupted swap is finished, live ids and results equal
    * the never-crashed twin, no swap plan is left to replay, and a
    * later admission composes. */
  private def assertLikeTwin(f: Family, table: String, root: String): Unit = {
    val (before, after) = twinOf(f)
    assert(snapshot(f, table, root, 7L) == before, s"${f.name}: state differs from the twin")
    assert(!exists(Lsm.stagingRoot(root)), "a swap plan was left behind")
    f.admitMore(table, root)
    assert(snapshot(f, table, root, 9L) == after, s"${f.name}: a later admission does not compose")
  }

  private def crashTiered(f: Family, table: String, root: String, label: String): Unit = {
    armCrash(label)
    try intercept[InjectedCrash](f.tiered(table, root))
    finally disarm()
  }

  for (f <- families;
       label <- Seq("survivors_moved", "extent_deleted:", "extent_moved:", "tombstones_cleaned"))
    test(s"crash window ${f.name} at ${label.stripSuffix(":")}: recover() finishes, results == never-crashed twin, admit composes") {
      val table = s"lsmtab_${f.name.toLowerCase}_${label.filter(_.isLetter)}"
      val root = f.setup(table)
      crashTiered(f, table, root, label)
      assert(Lsm.recover(spark, Lsm.stagingRoot(root)), "recover must find and replay the plan")
      assertLikeTwin(f, table, root)
      f.drop(table)
    }

  for (f <- families)
    test(s"${f.name}.compact after an interrupted tiered swap recovers it first (no stale plan replays later)") {
      // without recovery inside compact, the full fold reads
      // half-swapped extents (the recorded partitions already deleted,
      // the consolidated one not yet renamed in) and loses them, and
      // the stale plan left behind replays onto the compacted index at
      // the next admission
      val table = s"lsmtab_${f.name.toLowerCase}_compact"
      val root = f.setup(table)
      crashTiered(f, table, root, "extent_deleted:")
      f.compact(table, root)
      assertLikeTwin(f, table, root)
      f.drop(table)
    }
}
