package graft.text

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PostingsIndexSpec extends SparkSpec {

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  /** Bounded query set: first 20 docs, each query its first 5
    * distinct tokens (the q_bm25_topk shape at spec scale). */
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

  private def cleanup(table: String): Unit =
    PostingsIndex.drop(spark, table)

  test("served index answers identically to the one-shot corpus BM25") {
    val q = queries(docs)
    val direct = rows(Retrieval.bm25TopK(docs, q, k = 3))
    PostingsIndex.write(docs, "pidx_test_base")
    val served = rows(PostingsIndex.search(spark, "pidx_test_base", q, k = 3))
    assert(served == direct)
    assert(served.nonEmpty)

    // the postings scan must see the literal term filter (pushdown) —
    // the read is term-bounded, not corpus-bounded
    val plan = PostingsIndex.search(spark, "pidx_test_base", q, k = 3)
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .filter(l => l.contains("pidx_test_base") && l.contains("Scan"))
      .mkString("\n")
    assert(scanLine.contains("PushedFilters: [In(tok"), scanLine)
    // the literal IN also prunes buckets of the tok-bucketed table
    assert(scanLine.contains("SelectedBucketsCount"), scanLine)
    // the only nested-loop join is the 1-row stats cross (the
    // Retrieval pattern); nothing corpus-sized rides a broadcast
    val bnlj = plan.linesIterator
      .count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, plan)
    cleanup("pidx_test_base")
  }

  test("served lex leg is rank-identical to the monolithic lexRanked") {
    val q = queries(docs)
    PostingsIndex.write(docs, "pidx_test_lex")
    import spark.implicits._
    def legs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("id"), col("rk"))
        .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(legs(PostingsIndex.lexRanked(spark, "pidx_test_lex", q, 10)) ==
      legs(Retrieval.lexRanked(docs, q, 10)))
    cleanup("pidx_test_lex")
  }

  test("grow + forget: search equals brute-force BM25 over the live doc set") {
    val q = queries(docs)
    val table = "pidx_test_grow"
    PostingsIndex.write(docs.filter(col("doc_id") % 3 === 0), table)
    val root = java.nio.file.Files.createTempDirectory("pidx_grow").toString
    (1 to 2).foreach(k => PostingsIndex.admit(spark, table, root,
      docs.filter(col("doc_id") % 3 === k), k - 1L))
    // grown index == monolithic scan over everything
    assert(rows(PostingsIndex.searchGrown(spark, table, root, q, 3)) ==
      rows(Retrieval.bm25TopK(docs, q, 3)))

    // forget: masked docs vanish from results AND from df/N/avgdl
    PostingsIndex.forget(spark, root,
      docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")), 100L)
    val live = docs.filter(col("doc_id") % 5 =!= 0)
    val after = rows(PostingsIndex.searchGrown(spark, table, root, q, 3))
    assert(after == rows(Retrieval.bm25TopK(live, q, 3)))
    assert(after.forall(_._2 % 5 != 0))
    cleanup(table)
  }

  test("a re-submitted forget batch cannot double-subtract the stats correction") {
    val q = queries(docs)
    val table = "pidx_test_dupforget"
    PostingsIndex.write(docs.filter(col("doc_id") % 3 === 0), table)
    val root = java.nio.file.Files.createTempDirectory("pidx_dupforget").toString
    val ids = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
      .select(col("doc_id"))
    // same deletion request lands twice (the forgetDocsStream shape);
    // N/avgdl must subtract each doc ONCE
    PostingsIndex.forget(spark, root, ids, 0L)
    PostingsIndex.forget(spark, root, ids, 1L)
    val live = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 =!= 0)
    assert(rows(PostingsIndex.searchGrown(spark, table, root, q, 3)) ==
      rows(Retrieval.bm25TopK(live, q, 3)))
    cleanup(table)
  }

  test("compact applies tombstones physically, recomputes stats, clears dirs") {
    val q = queries(docs)
    val table = "pidx_test_compact"
    PostingsIndex.write(docs.filter(col("doc_id") % 3 === 0), table)
    val root = java.nio.file.Files.createTempDirectory("pidx_compact").toString
    PostingsIndex.admit(spark, table, root,
      docs.filter(col("doc_id") % 3 === 1), 0L)
    PostingsIndex.forget(spark, root,
      docs.filter(col("doc_id") % 3 < 2 && col("doc_id") % 5 === 0)
        .select(col("doc_id")), 100L)
    val before = rows(PostingsIndex.searchGrown(spark, table, root, q, 3))
    PostingsIndex.compact(spark, table, root)
    // growth dirs gone; base-only search now answers the same
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(PostingsIndex.postingsPath(root), PostingsIndex.docsPath(root),
        PostingsIndex.statsPath(root), PostingsIndex.tombstonePath(root))
      .foreach(d => assert(!fs.exists(new org.apache.hadoop.fs.Path(d)), d))
    assert(rows(PostingsIndex.search(spark, table, q, 3)) == before)
    // stats row equals the live doc side exactly
    import spark.implicits._
    val (n, tt) = spark.table(PostingsIndex.statsTable(table))
      .as[(Long, Long)].collect().head
    val liveDocs = docs.filter(col("doc_id") % 3 < 2 &&
      !(col("doc_id") % 5 === 0))
    assert(n == liveDocs.count())
    assert(tt == liveDocs
      .select(sum(size(TextFunctions.tokens(col("text")))).cast("long"))
      .as[Long].collect().head)
    cleanup(table)
  }

  test("tombstone-rebirth guard: re-admitting a forgotten id throws; crash replay does not") {
    val table = "pidx_test_guard"
    PostingsIndex.write(docs.filter(col("doc_id") % 3 === 0), table)
    val root = java.nio.file.Files.createTempDirectory("pidx_guard").toString
    val batch = docs.filter(col("doc_id") % 3 === 1)
    PostingsIndex.admit(spark, table, root, batch, 0L)
    PostingsIndex.forget(spark, root,
      batch.filter(col("doc_id") % 5 === 0).select(col("doc_id")), 100L)
    // replaying batch 0 after the forget: its ids intersect the
    // tombstones, but via its OWN prior partition — crash replay, ok
    PostingsIndex.admit(spark, table, root, batch, 0L)
    // a NEW batch carrying a forgotten id is rebirth — rejected
    val err = intercept[IllegalArgumentException] {
      PostingsIndex.admit(spark, table, root,
        batch.filter(col("doc_id") % 5 === 0).limit(1), 7L)
    }
    assert(err.getMessage.contains("tombstoned"))
    cleanup(table)
  }


  test("compactTiered below threshold: base untouched, one consolidated extent, base tombstones survive") {
    val q = queries(docs)
    val table = "pidx_test_tiered"
    // base = %10<8, extent = %10==8 (~12.5% of base, under the 20%
    // threshold -> the tiered path MUST run, not the full fold)
    PostingsIndex.write(docs.filter(col("doc_id") % 10 < 8), table)
    val root = java.nio.file.Files.createTempDirectory("pidx_tiered").toString
    PostingsIndex.admit(spark, table, root,
      docs.filter(col("doc_id") % 10 === 8), 0L)
    // %4, not %5: x === 8 (mod 10) forces x === 3 (mod 5), so a %5
    // tombstone set could never hit the extent batch and assertion 3's
    // "applied physically" branch would be vacuous (review r12)
    PostingsIndex.forget(spark, root,
      docs.filter(col("doc_id") % 10 < 9 && col("doc_id") % 4 === 0)
        .select(col("doc_id")), 100L)
    // the fixture must actually exercise BOTH tombstone classes
    assert(docs.filter(col("doc_id") % 10 === 8 && col("doc_id") % 4 === 0)
      .count() > 0, "no extent-hitting tombstones in the fixture")
    val before = rows(PostingsIndex.searchGrown(spark, table, root, q, 3))
    val baseBefore = (warehouseFiles(table), warehouseFiles(PostingsIndex.docsTable(table)),
      warehouseFiles(PostingsIndex.statsTable(table)))
    PostingsIndex.compactTiered(spark, table, root)
    // 1. the base tables' files are byte-for-byte the same objects
    assert((warehouseFiles(table), warehouseFiles(PostingsIndex.docsTable(table)),
      warehouseFiles(PostingsIndex.statsTable(table))) == baseBefore)
    // 2. extents consolidated into the single reserved partition
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partitions(dir: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSeq.sorted
    val cons = s"batch_id=${graft.api.Lsm.ConsolidatedBatchId}"
    assert(partitions(PostingsIndex.postingsPath(root)) == Seq(cons))
    assert(partitions(PostingsIndex.docsPath(root)) == Seq(cons))
    assert(partitions(PostingsIndex.statsPath(root)) == Seq(cons))
    // 3. surviving tombstones are exactly the base-referencing ids
    // (extent-hitting ones were applied physically)
    import spark.implicits._
    val remaining = spark.read.schema("doc_id LONG")
      .parquet(PostingsIndex.tombstonePath(root))
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    val expected = docs
      .filter(col("doc_id") % 10 < 8 && col("doc_id") % 4 === 0)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(remaining == expected)
    // 4. results invisible: tiered-compacted == pre-compact == brute
    // over the live set, and a later admission still composes
    assert(rows(PostingsIndex.searchGrown(spark, table, root, q, 3)) == before)
    PostingsIndex.admit(spark, table, root,
      docs.filter(col("doc_id") % 10 === 9), 1L)
    val live = docs.filter(
      (col("doc_id") % 10 < 9 && !(col("doc_id") % 4 === 0)) ||
        col("doc_id") % 10 === 9)
    assert(rows(PostingsIndex.searchGrown(spark, table, root, q, 3)) ==
      rows(Retrieval.bm25TopK(live, q, 3)))
    cleanup(table)
  }

  test("compactTiered crash window: the additive survivor mask keeps search exact mid-swap") {
    // pins Lsm.swapConsolidated's safety argument: after step 1
    // (survivors landed ADDITIVELY, extents and old tombstones still
    // in place) the mask is old ∪ survivors = old — a crash there
    // must leave search EXACTLY correct, not merely conservative.
    val q = queries(docs)
    val table = "pidx_test_crashwin"
    PostingsIndex.write(docs.filter(col("doc_id") % 10 < 8), table)
    val root = java.nio.file.Files.createTempDirectory("pidx_crashwin").toString
    PostingsIndex.admit(spark, table, root,
      docs.filter(col("doc_id") % 10 === 8), 0L)
    PostingsIndex.forget(spark, root,
      docs.filter(col("doc_id") % 10 < 9 && col("doc_id") % 4 === 0)
        .select(col("doc_id")), 100L)
    val before = rows(PostingsIndex.searchGrown(spark, table, root, q, 3))
    // simulate the post-step-1 state by hand: survivors (base-hitting
    // ids) written as the consolidated tombstone partition ALONGSIDE
    // the old one, nothing else touched
    docs.filter(col("doc_id") % 10 < 8 && col("doc_id") % 4 === 0)
      .select(col("doc_id")).write.mode("overwrite")
      .parquet(s"${PostingsIndex.tombstonePath(root)}/batch_id=" +
        graft.api.Lsm.ConsolidatedBatchId)
    assert(rows(PostingsIndex.searchGrown(spark, table, root, q, 3)) == before)
    // and the interrupted compaction can simply run again to completion
    PostingsIndex.compactTiered(spark, table, root)
    assert(rows(PostingsIndex.searchGrown(spark, table, root, q, 3)) == before)
    cleanup(table)
  }

  test("compactTiered above threshold delegates to the full fold") {
    val q = queries(docs)
    val table = "pidx_test_tiered_full"
    // extent = 50% of base -> over threshold -> full compact semantics
    PostingsIndex.write(docs.filter(col("doc_id") % 3 === 0), table)
    val root = java.nio.file.Files.createTempDirectory("pidx_tiered_full").toString
    PostingsIndex.admit(spark, table, root,
      docs.filter(col("doc_id") % 3 === 1), 0L)
    val before = rows(PostingsIndex.searchGrown(spark, table, root, q, 3))
    PostingsIndex.compactTiered(spark, table, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(PostingsIndex.postingsPath(root), PostingsIndex.docsPath(root),
        PostingsIndex.statsPath(root), PostingsIndex.tombstonePath(root))
      .foreach(d => assert(!fs.exists(new org.apache.hadoop.fs.Path(d)), d))
    assert(rows(PostingsIndex.search(spark, table, q, 3)) == before)
    cleanup(table)
  }

  test("crash replay recognized from the postings partition alone (docs write never landed)") {
    val table = "pidx_test_crash"
    PostingsIndex.write(docs.filter(col("doc_id") % 3 === 0), table)
    val root = java.nio.file.Files.createTempDirectory("pidx_crash").toString
    val batch = docs.filter(col("doc_id") % 3 === 1)
    PostingsIndex.admit(spark, table, root, batch, 0L)
    // simulate the crash window: postings landed, docs write did not
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${PostingsIndex.docsPath(root)}/batch_id=0"), true)
    PostingsIndex.forget(spark, root,
      batch.filter(col("doc_id") % 5 === 0).select(col("doc_id")).limit(1), 100L)
    // the replay's ids intersect the tombstones, but its own POSTINGS
    // partition proves this is a replay, not a rebirth (ADVICE r11 #4)
    PostingsIndex.admit(spark, table, root, batch, 0L)
    cleanup(table)
  }

  /** Phrase fixture: each query doc's leading 3 tokens. */
  private def phrases(src: DataFrame) =
    src.filter(col("doc_id") < 8)
      .select(col("doc_id").as("qid"),
        posexplode(slice(TextFunctions.tokens(col("text")), 1, 3))
          .as(Seq("off", "tok")))

  /** Reference phrase match: brute-force over raw text token arrays.
    * `universe` is the live doc set; phrases always come from the
    * full corpus (the query side is independent of index liveness). */
  private def brutePhrase(phraseSrc: DataFrame,
      universe: DataFrame): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    val docs = universe.select(col("doc_id"),
      TextFunctions.tokens(col("text")).as("t")).as[(Long, Seq[String])]
      .collect()
    val ph = phrases(phraseSrc).as[(Long, Int, String)].collect()
      .groupBy(_._1).map { case (q, rows) =>
        q -> rows.sortBy(_._2).map(_._3).toSeq }
    (for {
      (q, p) <- ph.toSeq
      (d, t) <- docs
      n = t.indices.count(s => s + p.length <= t.length &&
        p.indices.forall(o => t(s + o) == p(o)))
      if n > 0
    } yield (q, d, n.toLong)).sorted
  }

  test("phrase search: served adjacency match equals brute force; lifecycle parity; bucket-pruned scan") {
    val table = "pidx_test_phrase"
    PostingsIndex.write(docs.filter(col("doc_id") % 3 === 0), table)
    val root = java.nio.file.Files.createTempDirectory("pidx_phrase").toString
    PostingsIndex.admit(spark, table, root,
      docs.filter(col("doc_id") % 3 === 1), 0L)
    import spark.implicits._
    def served() = PostingsIndex
      .phraseSearchGrown(spark, table, root, phrases(docs))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val grown = served()
    assert(grown == brutePhrase(docs, docs.filter(col("doc_id") % 3 < 2)))
    assert(grown.nonEmpty)
    // forget masks a doc out of phrase results too
    PostingsIndex.forget(spark, root,
      docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")), 100L)
    val masked = served()
    assert(masked == brutePhrase(docs,
      docs.filter(col("doc_id") % 3 < 2 && col("doc_id") % 5 =!= 0)))
    // compact carries positions: base-only phrase search unchanged
    PostingsIndex.compact(spark, table, root)
    assert(served() == masked)
    // the candidate scan is term-bounded and bucket-pruned, and the
    // BM25 path still prunes the pos column away
    val pp = PostingsIndex.phraseSearchGrown(spark, table, root, phrases(docs))
      .queryExecution.executedPlan.toString
    val scanLine = pp.linesIterator
      .filter(l => l.contains(table) && l.contains("Scan")).mkString("\n")
    assert(scanLine.contains("PushedFilters: [In(tok"), scanLine)
    assert(scanLine.contains("SelectedBucketsCount"), scanLine)
    val q = queries(docs)
    val bp = PostingsIndex.search(spark, table, q, k = 3)
      .queryExecution.executedPlan.toString
    val bmScan = bp.linesIterator
      .filter(l => l.contains(table) && l.contains("Scan")).mkString("\n")
    assert(!bmScan.contains("pos"),
      "BM25 scan must not read the positions column:\n" + bmScan)
    cleanup(table)
  }

  test("admit replay is idempotent for search") {
    val q = queries(docs)
    val table = "pidx_test_replay"
    PostingsIndex.write(docs.filter(col("doc_id") % 3 === 0), table)
    val root = java.nio.file.Files.createTempDirectory("pidx_replay").toString
    val batch = docs.filter(col("doc_id") % 3 === 1)
    PostingsIndex.admit(spark, table, root, batch, 0L)
    val first = rows(PostingsIndex.searchGrown(spark, table, root, q, 3))
    PostingsIndex.admit(spark, table, root, batch, 0L)
    assert(rows(PostingsIndex.searchGrown(spark, table, root, q, 3)) == first)
    cleanup(table)
  }

  test("merge: shards (incl. grow state) fold into one index == monolithic write over the live union; lifecycle composes (merge -> admit -> forget -> compactTiered)") {
    val q = queries(docs)
    // shard A: base %4==0, extent %4==2, forget evens with %3==0
    // (hits both A's base and A's extent); shard B: odds, plain
    PostingsIndex.write(docs.filter(col("doc_id") % 4 === 0), "pidx_mrg_a")
    PostingsIndex.write(docs.filter(col("doc_id") % 2 === 1), "pidx_mrg_b")
    val rootA = java.nio.file.Files.createTempDirectory("pidx_mrg_a").toString
    PostingsIndex.admit(spark, "pidx_mrg_a", rootA,
      docs.filter(col("doc_id") % 4 === 2), 0L)
    PostingsIndex.forget(spark, rootA,
      docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 3 === 0)
        .select(col("doc_id")), 100L)
    PostingsIndex.merge(spark,
      Seq("pidx_mrg_a" -> Some(rootA), "pidx_mrg_b" -> None), "pidx_mrg_out")
    // == a monolithic index built from the live union in one shot
    val live = docs.filter(col("doc_id") % 6 =!= 0)
    PostingsIndex.write(live, "pidx_mrg_mono")
    val merged = rows(PostingsIndex.search(spark, "pidx_mrg_out", q, 3))
    assert(merged == rows(PostingsIndex.search(spark, "pidx_mrg_mono", q, 3)))
    assert(merged == rows(Retrieval.bm25TopK(live, q, 3)))
    assert(merged.nonEmpty)
    // the merged stats folded exactly (n_docs + total_toks)
    import spark.implicits._
    val gotStats = spark.table(PostingsIndex.statsTable("pidx_mrg_out"))
      .as[(Long, Long)].collect().head
    val wantStats = spark.table(PostingsIndex.statsTable("pidx_mrg_mono"))
      .as[(Long, Long)].collect().head
    assert(gotStats == wantStats)
    // lifecycle on the MERGED index: admit a small batch (under the
    // tiered threshold), forget a few, tiered-compact, search — must
    // equal brute force over the final live set
    val rootM = java.nio.file.Files.createTempDirectory("pidx_mrg_m").toString
    PostingsIndex.admit(spark, "pidx_mrg_out", rootM,
      docs.filter(col("doc_id") % 12 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")), 0L)
    PostingsIndex.forget(spark, rootM,
      live.filter(col("doc_id") % 7 === 1).select(col("doc_id")), 101L)
    PostingsIndex.compactTiered(spark, "pidx_mrg_out", rootM)
    val finalLive = live.filter(col("doc_id") % 7 =!= 1).unionByName(
      docs.filter(col("doc_id") % 12 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
    assert(rows(PostingsIndex.searchGrown(spark, "pidx_mrg_out", rootM, q, 3)) ==
      rows(Retrieval.bm25TopK(finalLive, q, 3)))
    Seq("pidx_mrg_a", "pidx_mrg_b", "pidx_mrg_out", "pidx_mrg_mono")
      .foreach(cleanup)
  }
}
