package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkSpec {

  test("persisted IVF index answers identically to the in-session IVF search") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val direct = Similarity.ivfTopK(emb, queries, k = 5)
      .orderBy("qid", "rk").collect().toSeq

    IvfIndex.write(emb, "ivf_test_idx", nlist = 16, iterations = 3)
    val served = IvfIndex.search(spark, "ivf_test_idx", queries, k = 5)
      .orderBy("qid", "rk").collect().toSeq
    assert(served == direct)

    // serving plan must not re-shuffle or broadcast the corpus side
    val plan = IvfIndex.search(spark, "ivf_test_idx", queries, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    spark.sql("DROP TABLE IF EXISTS ivf_test_idx")
    spark.sql("DROP TABLE IF EXISTS ivf_test_idx_centroids")
  }

  test("int8 IVF: recall vs brute force; scan never reads floats; re-rank exact") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)

    IvfIndex.writeInt8(emb, "ivf8_test_idx", nlist = 16, iterations = 3)
    val served = IvfIndex.searchInt8(spark, "ivf8_test_idx", queries, k = 5)

    // recall@5 vs exact brute force: the int8 stage only pre-selects
    // candidates (top-25 of the probed cells); the float re-rank is
    // exact, so recall should track the float IVF's probe coverage
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val ann = served.select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall > 0.5, s"int8 IVF recall collapsed: $recall")

    // the surviving sims are EXACT float cosines: every served (qid,
    // cid, sim) must agree with the brute-force sim for that pair
    val bruteSims = Similarity.bruteForceTopK(emb, queries, 1000)
      .select("qid", "cid", "sim").as[(Long, Long, Double)].collect()
      .map { case (q, c, s) => (q, c) -> s }.toMap
    served.select("qid", "cid", "sim").as[(Long, Long, Double)].collect()
      .foreach { case (q, c, s) =>
        assert(bruteSims.get((q, c)).contains(s), s"sim mismatch for ($q,$c)")
      }

    // the int8 candidate scan must not read the float embedding
    // column — the memory-bandwidth win is the point of the index.
    // The float column appears only in the re-rank side's scan of the
    // _vecs table, never in the cell-bucketed code table's scan.
    val plan = IvfIndex.searchInt8(spark, "ivf8_test_idx", queries, k = 5)
      .queryExecution.executedPlan.toString
    val codeScan = plan.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("ivf8_test_idx") &&
        !l.contains("ivf8_test_idx_")).toSeq
    assert(codeScan.nonEmpty, plan)
    assert(codeScan.forall(!_.contains("embedding")),
      "int8 scan reads the float column:\n" + codeScan.mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)

    IvfIndex.dropInt8(spark, "ivf8_test_idx")
  }

  test("growing IVF: frozen-quantizer admission, replay idempotence, compact parity") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val queries = emb.filter(col("vec_id") < 10)
    val grow = java.nio.file.Files.createTempDirectory("ivf_grow_spec").toString

    IvfIndex.write(base, "ivf_grow_idx", nlist = 16, iterations = 3)
    // with no extents, searchGrown must equal plain search
    val baseOnly = IvfIndex.search(spark, "ivf_grow_idx", queries, k = 5)
      .orderBy("qid", "rk").collect().toSeq
    val grownEmpty = IvfIndex.searchGrown(spark, "ivf_grow_idx", grow,
      queries, k = 5).orderBy("qid", "rk").collect().toSeq
    assert(grownEmpty == baseOnly)

    // admit the odd half in two batches; plant an EXACT COPY of query
    // vector 0 under a fresh id — it must surface as its top hit
    val q0 = emb.filter(col("vec_id") === 0)
      .select(lit(999001L).as("vec_id"), col("embedding"))
    IvfIndex.admit(spark, "ivf_grow_idx", grow,
      emb.filter(pmod(col("vec_id"), lit(4)) === 1)
        .select(col("vec_id"), col("embedding")).unionByName(q0), 1L)
    IvfIndex.admit(spark, "ivf_grow_idx", grow,
      emb.filter(pmod(col("vec_id"), lit(4)) === 3), 2L)
    val grown = IvfIndex.searchGrown(spark, "ivf_grow_idx", grow, queries, 5)
    val top0 = grown.filter(col("qid") === 0 && col("rk") === 1)
      .select("cid", "sim").as[(Long, Double)].collect().head
    assert(top0._1 == 999001L && top0._2 == 1.0,
      s"planted duplicate must be qid 0's top hit, got $top0")
    val before = grown.orderBy("qid", "rk").collect().toSeq

    // replay a batch (crash-recovery path): results must not change
    IvfIndex.admit(spark, "ivf_grow_idx", grow,
      emb.filter(pmod(col("vec_id"), lit(4)) === 3), 2L)
    val replay = IvfIndex.searchGrown(spark, "ivf_grow_idx", grow,
      queries, 5).orderBy("qid", "rk").collect().toSeq
    assert(replay == before)

    // compaction folds extents into the bucketed base: same answers,
    // extents gone
    IvfIndex.compact(spark, "ivf_grow_idx", grow)
    val compacted = IvfIndex.searchGrown(spark, "ivf_grow_idx", grow,
      queries, 5).orderBy("qid", "rk").collect().toSeq
    assert(compacted == before)
    val fs = new org.apache.hadoop.fs.Path(grow)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(IvfIndex.extentPath(grow))))

    spark.sql("DROP TABLE IF EXISTS ivf_grow_idx")
    spark.sql("DROP TABLE IF EXISTS ivf_grow_idx_centroids")
  }

  test("growing IVF deletes: tombstones mask immediately, compact applies them physically") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val grow = java.nio.file.Files.createTempDirectory("ivf_del_spec").toString
    IvfIndex.write(emb.filter(col("vec_id") % 2 === 0), "ivf_del_idx")
    IvfIndex.admit(spark, "ivf_del_idx", grow,
      emb.filter(col("vec_id") % 2 === 1), 1L)
    // delete every 7th id (base AND extent members)
    IvfIndex.delete(spark, grow,
      emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")), 2L)
    val masked = IvfIndex.searchGrown(spark, "ivf_del_idx", grow, queries, 5)
      .orderBy("qid", "rk").collect().toSeq
    // no deleted vector may appear, and ranks are over live vectors
    assert(masked.forall(r => r.getLong(1) % 7 != 0),
      "tombstoned ids must not surface in results")
    // compaction applies tombstones physically: same answers, both
    // sidecar directories gone, deleted rows gone from the base table
    IvfIndex.compact(spark, "ivf_del_idx", grow)
    val compacted = IvfIndex.searchGrown(spark, "ivf_del_idx", grow,
      queries, 5).orderBy("qid", "rk").collect().toSeq
    assert(compacted == masked)
    val fs = new org.apache.hadoop.fs.Path(grow)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(IvfIndex.tombstonePath(grow))))
    assert(spark.table("ivf_del_idx")
      .filter(col("vec_id") % 7 === 0).count() == 0)
    spark.sql("DROP TABLE IF EXISTS ivf_del_idx")
    spark.sql("DROP TABLE IF EXISTS ivf_del_idx_centroids")
  }

  test("compactTiered: base files untouched below threshold, one consolidated extent, base tombstones survive, search invariant") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val grow = java.nio.file.Files.createTempDirectory("ivf_tiered_spec").toString
    val table = "ivf_tiered_idx"
    // base 7/8 of the corpus; extent 1/8 (~14% of base, under 20%)
    IvfIndex.write(emb.filter(col("vec_id") % 8 < 7), table)
    IvfIndex.admit(spark, table, grow,
      emb.filter(col("vec_id") % 8 === 7), 1L)
    IvfIndex.delete(spark, grow,
      emb.filter(col("vec_id") % 9 === 0).select(col("vec_id")), 2L)
    val before = IvfIndex.searchGrown(spark, table, grow, queries, 5)
      .orderBy("qid", "rk").collect().toSeq
    val basePre = (warehouseFiles(table), warehouseFiles(table + "_centroids"))
    IvfIndex.compactTiered(spark, table, grow)
    assert((warehouseFiles(table), warehouseFiles(table + "_centroids")) == basePre)
    val fs = new org.apache.hadoop.fs.Path(grow)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partitions(dir: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSeq.sorted
    val cons = s"batch_id=${graft.api.Lsm.ConsolidatedBatchId}"
    assert(partitions(IvfIndex.extentPath(grow)) == Seq(cons))
    assert(partitions(IvfIndex.tombstonePath(grow)) == Seq(cons))
    // surviving tombstones = base-hitting ids only (extent ids applied)
    import spark.implicits._
    val remaining = spark.read.schema("vec_id LONG")
      .parquet(IvfIndex.tombstonePath(grow))
      .select(col("vec_id")).as[Long].collect().sorted.toSeq
    val expected = emb
      .filter(col("vec_id") % 9 === 0 && col("vec_id") % 8 < 7)
      .select(col("vec_id")).as[Long].collect().sorted.toSeq
    assert(remaining == expected)
    // search invariant through the tiered fold, and composes with a
    // later admission
    assert(IvfIndex.searchGrown(spark, table, grow, queries, 5)
      .orderBy("qid", "rk").collect().toSeq == before)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_centroids")
  }

  test("growing int8: admission == write-time presence; deletes mask pre-rerank; compact folds both sides") {
    // per-vector quantization + frozen quantizer => a vector admitted
    // later must serve bit-identically to one present at write time.
    // Ground truth: writeInt8 of the FULL corpus but with centroids
    // frozen from the even half is not directly expressible, so the
    // equivalence is asserted the spec-strong way we can: grown
    // search == compacted search (compact is a pure fold), and the
    // planted exact-dup admitted as an extent must serve as top-1.
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 4)
    val grow = java.nio.file.Files.createTempDirectory("ivf_i8grow_spec").toString
    IvfIndex.writeInt8(emb.filter(col("vec_id") % 2 === 0), "ivf_i8g_idx",
      nlist = 8, iterations = 2, buckets = 4)
    // batch 1: odds plus an exact copy of query 0 (planted top-1)
    IvfIndex.admitInt8(spark, "ivf_i8g_idx", grow,
      emb.filter(col("vec_id") % 2 === 1)
        .unionByName(emb.filter(col("vec_id") === 0)
          .select(lit(999001L).as("vec_id"), col("embedding"))), 1L)
    val grown = IvfIndex.searchInt8Grown(spark, "ivf_i8g_idx", grow,
      queries, 5).orderBy("qid", "rk").collect().toSeq
    val top1 = grown.find(r => r.getLong(0) == 0 && r.getInt(3) == 1).get
    assert(top1.getLong(1) == 999001L && top1.getDouble(2) == 1.0,
      s"planted admitted dup must be top-1: $top1")
    // delete the planted dup: it must stop serving (and not eat a
    // rerank slot), everything else unchanged in membership
    IvfIndex.delete(spark, grow,
      Seq(999001L).toDF("vec_id"), 2L)
    val masked = IvfIndex.searchInt8Grown(spark, "ivf_i8g_idx", grow,
      queries, 5).orderBy("qid", "rk").collect().toSeq
    assert(masked.forall(_.getLong(1) != 999001L))
    // compact folds codes + vecs extents and applies tombstones:
    // searches answer identically from the rewritten base alone
    IvfIndex.compactInt8(spark, "ivf_i8g_idx", grow, buckets = 4)
    val compacted = IvfIndex.searchInt8(spark, "ivf_i8g_idx", queries, 5)
      .orderBy("qid", "rk").collect().toSeq
    assert(compacted == masked, "compaction must be invisible to results")
    val fs = new org.apache.hadoop.fs.Path(grow)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(IvfIndex.int8CodesPath(grow))))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(IvfIndex.int8VecsPath(grow))))
    assert(spark.table("ivf_i8g_idx").filter(col("vec_id") === 999001L).count() == 0)
    assert(spark.table(IvfIndex.vecsTable("ivf_i8g_idx"))
      .filter(col("vec_id") === 999001L).count() == 0)
    IvfIndex.dropInt8(spark, "ivf_i8g_idx")
  }

  test("int8 retrain: == fresh writeInt8 of the live corpus; grow dirs cleared; metadata survives") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val queries = emb.filter(col("vec_id") < 10)
    val grow = java.nio.file.Files.createTempDirectory("ivf_i8rt_spec").toString
    IvfIndex.writeInt8(emb.filter(col("vec_id") % 2 === 0), "ivf_i8rt_idx",
      nlist = 8, iterations = 2, buckets = 4)
    IvfIndex.admitInt8(spark, "ivf_i8rt_idx", grow,
      emb.filter(col("vec_id") % 2 === 1), 1L)
    IvfIndex.delete(spark, grow,
      emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")), 2L)
    IvfIndex.retrainInt8(spark, "ivf_i8rt_idx", grow,
      nlist = 8, iterations = 2, buckets = 4)
    val retrained = IvfIndex.searchInt8(spark, "ivf_i8rt_idx", queries, 5)
      .orderBy("qid", "rk").collect().toSeq
    IvfIndex.writeInt8(emb.filter(col("vec_id") % 7 =!= 0), "ivf_i8rt_fresh",
      nlist = 8, iterations = 2, buckets = 4)
    val fresh = IvfIndex.searchInt8(spark, "ivf_i8rt_fresh", queries, 5)
      .orderBy("qid", "rk").collect().toSeq
    assert(retrained == fresh && retrained.nonEmpty,
      "int8 retrain must equal a fresh writeInt8 of the live corpus")
    // metadata (label) survives the rebuild on the codes table, and a
    // filtered search still works against the retrained index
    assert(spark.table("ivf_i8rt_idx").columns.contains("label"))
    val filtered = IvfIndex.searchInt8(spark, "ivf_i8rt_idx", queries, 5,
      pred = Some(col("label").isin(1, 4, 7)))
    assert(filtered.count() > 0)
    val fs = new org.apache.hadoop.fs.Path(grow)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(IvfIndex.int8CodesPath(grow))))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(IvfIndex.tombstonePath(grow))))
    IvfIndex.dropInt8(spark, "ivf_i8rt_idx")
    IvfIndex.dropInt8(spark, "ivf_i8rt_fresh")
  }

  test("retrain: search-after-retrain == search against a fresh write of the live corpus; grow dirs cleared") {
    // VERDICT r10 #3 — the last lifecycle stage. retrain() must be
    // indistinguishable from dropping everything and write()-ing the
    // live corpus (base + admitted extents - tombstones) from scratch:
    // new quantizer trained on the live set, full reassignment,
    // rewritten bucketed base, extent/tombstone dirs consumed.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val grow = java.nio.file.Files.createTempDirectory("ivf_retrain_spec").toString
    IvfIndex.write(emb.filter(col("vec_id") % 2 === 0), "ivf_rt_idx")
    IvfIndex.admit(spark, "ivf_rt_idx", grow,
      emb.filter(col("vec_id") % 2 === 1), 1L)
    IvfIndex.delete(spark, grow,
      emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")), 2L)
    IvfIndex.retrain(spark, "ivf_rt_idx", grow)
    val retrained = IvfIndex.search(spark, "ivf_rt_idx", queries, 5)
      .orderBy("qid", "rk").collect().toSeq

    // ground truth: a fresh index over the live corpus
    IvfIndex.write(emb.filter(col("vec_id") % 7 =!= 0), "ivf_rt_fresh")
    val fresh = IvfIndex.search(spark, "ivf_rt_fresh", queries, 5)
      .orderBy("qid", "rk").collect().toSeq
    assert(retrained == fresh, "retrain must equal a fresh write of the live corpus")
    assert(retrained.nonEmpty)

    // extents + tombstones consumed; retrained base holds exactly the
    // live corpus; searchGrown on the cleared growPath == plain search
    val fs = new org.apache.hadoop.fs.Path(grow)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(IvfIndex.extentPath(grow))))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(IvfIndex.tombstonePath(grow))))
    assert(spark.table("ivf_rt_idx").count() ==
      emb.filter(col("vec_id") % 7 =!= 0).count())
    val grown = IvfIndex.searchGrown(spark, "ivf_rt_idx", grow, queries, 5)
      .orderBy("qid", "rk").collect().toSeq
    assert(grown == retrained)
    Seq("ivf_rt_idx", "ivf_rt_idx_centroids", "ivf_rt_fresh",
      "ivf_rt_fresh_centroids").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("merge: shards adopt the primary quantizer; == searchGrown over primary + others admitted; lifecycle composes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    // shard A (PRIMARY): evens base + %4==1 extent + deletes %10==0
    // (hits A's base); shard B: %4==3, plain, its own quantizer
    IvfIndex.write(emb.filter(col("vec_id") % 2 === 0), "ivf_mrg_a",
      nlist = 16, iterations = 3)
    IvfIndex.write(emb.filter(col("vec_id") % 4 === 3), "ivf_mrg_b",
      nlist = 8, iterations = 2)
    val growA = java.nio.file.Files.createTempDirectory("ivf_mrg_a").toString
    IvfIndex.admit(spark, "ivf_mrg_a", growA,
      emb.filter(col("vec_id") % 4 === 1), 0L)
    IvfIndex.delete(spark, growA,
      emb.filter(col("vec_id") % 10 === 0).select(col("vec_id")), 1L)
    IvfIndex.merge(spark,
      Seq("ivf_mrg_a" -> Some(growA), "ivf_mrg_b" -> None), "ivf_mrg_out")
    // reference: the SAME geometry serving the same live union — B's
    // live vectors admitted onto shard A (frozen-quantizer admission)
    val growRef = java.nio.file.Files.createTempDirectory("ivf_mrg_ref").toString
    IvfIndex.admit(spark, "ivf_mrg_a", growRef,
      emb.filter(col("vec_id") % 4 === 1), 0L)
    IvfIndex.admit(spark, "ivf_mrg_a", growRef,
      emb.filter(col("vec_id") % 4 === 3), 1L)
    IvfIndex.delete(spark, growRef,
      emb.filter(col("vec_id") % 10 === 0).select(col("vec_id")), 2L)
    val merged = IvfIndex.search(spark, "ivf_mrg_out", queries, 5)
      .orderBy("qid", "rk").collect().toSeq
    val reference = IvfIndex.searchGrown(spark, "ivf_mrg_a", growRef,
      queries, 5).orderBy("qid", "rk").collect().toSeq
    assert(merged == reference)
    assert(merged.nonEmpty)
    // the merged index holds exactly the live union, the primary's
    // centroids, and no deleted ids
    import spark.implicits._
    val held = spark.table("ivf_mrg_out").select("vec_id")
      .as[Long].collect().toSet
    val wantLive = emb.filter(
      (col("vec_id") % 2 === 0 || col("vec_id") % 4 === 1 ||
        col("vec_id") % 4 === 3) && col("vec_id") % 10 =!= 0)
      .select("vec_id").as[Long].collect().toSet
    assert(held == wantLive)
    assert(spark.table("ivf_mrg_out_centroids").orderBy("cid").collect().toSeq ==
      spark.table("ivf_mrg_a_centroids").orderBy("cid").collect().toSeq)
    // lifecycle on the merged index: a later admission composes
    val growM = java.nio.file.Files.createTempDirectory("ivf_mrg_m").toString
    val extra = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"),
        col("label"))
    IvfIndex.admit(spark, "ivf_mrg_out", growM, extra, 0L)
    val grownAfter = IvfIndex.searchGrown(spark, "ivf_mrg_out", growM,
      queries, 5).orderBy("qid", "rk").collect().toSeq
    assert(grownAfter.nonEmpty)
    Seq("ivf_mrg_a", "ivf_mrg_a_centroids", "ivf_mrg_b",
      "ivf_mrg_b_centroids", "ivf_mrg_out", "ivf_mrg_out_centroids")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("rebirth guard: re-admitting a deleted vec_id throws (float and int8); replaying its own batch does not") {
    // a deleted id re-admitted before a compaction would stay hidden
    // by its own tombstone and vanish at compact — the other three
    // families reject this; so does IVF
    val emb = spark.read.parquet(s"${sf("embeddings")}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val vec3 = emb.filter(col("vec_id") === 3)
    def check(table: String, admit: (String, String, Long) => Unit): Unit = {
      val grow = java.nio.file.Files.createTempDirectory(table).toString
      admit(table, grow, 1L)
      IvfIndex.delete(spark, grow, vec3.select(col("vec_id")), 2L)
      // replay of batch 1: vec 3 is in the batch's own prior partition
      admit(table, grow, 1L)
      val e = intercept[IllegalArgumentException](admit(table, grow, 3L))
      assert(e.getMessage.contains("tombstoned"), e.getMessage)
    }
    IvfIndex.write(emb.filter(col("vec_id") % 2 === 0), "ivf_reborn_idx", buckets = 4)
    check("ivf_reborn_idx",
      (t, g, b) => IvfIndex.admit(spark, t, g, vec3, b))
    IvfIndex.writeInt8(emb.filter(col("vec_id") % 2 === 0), "ivf_reborn8_idx",
      nlist = 8, iterations = 2, buckets = 4)
    check("ivf_reborn8_idx",
      (t, g, b) => IvfIndex.admitInt8(spark, t, g, vec3, b))
    Seq("ivf_reborn_idx", "ivf_reborn_idx_centroids")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfIndex.dropInt8(spark, "ivf_reborn8_idx")
  }
}
