package graft

import org.apache.spark.sql.functions._

/** Dev-only PostingsIndex slope measurement (r11): prove the two
  * serving claims the lexical index makes —
  *
  *   1. admission is O(batch), NOT O(index): the same 10k-doc delta
  *      admits in flat wall against a 100k- and a 1M-doc base;
  *   2. served search reads term-hit mass, not the corpus: against
  *      the SAME corpus, searchGrown vs the monolithic
  *      Retrieval.bm25TopK (which must tokenize + explode every doc
  *      per query batch) — the gap is the point of persisting
  *      postings, and it widens with corpus size.
  *
  * Run:
  *   SPARK_GRAFT_CPUS=32 sbt -batch "Test/runMain graft.DevScalePostings"
  *
  * Synthetic corpus: 20-token docs over a 50k-word vocabulary
  * (token j of doc d = "w" + (d*31 + j*977) % 50000) — realistic
  * per-term postings density (n/50k docs per term), no text files. */
object DevScalePostings {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()

    val vocab = 50000
    val docLen = 20
    def docs(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(docLen - 1)),
          j => concat(lit("w"),
            (col("id") * 31 + j * 977) % vocab)), " ").as("text"))
    // bounded query set: 40 queries x 5 terms from the same generator
    def queries = docs(0, 40)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(
          graft.text.TextFunctions.tokens(col("text")), 1, 5))).as("tok"))

    def timed[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val deltaN = 10000L
    Seq(100000L, 1000000L).foreach { baseN =>
      val table = s"pidx_scale_$baseN"
      val tWrite = timed(
        graft.text.PostingsIndex.write(docs(0, baseN), table, buckets = 16))
      val root = java.nio.file.Files.createTempDirectory("pidx_scale")
      // three serialized batches so later admissions also see extents
      val admits = (0 until 3).map { b =>
        timed(graft.text.PostingsIndex.admit(spark, table, root.toString,
          docs(10000000L + b * deltaN, deltaN), b.toLong))
      }
      val tServed = timed(graft.text.PostingsIndex.searchGrown(
        spark, table, root.toString, queries, 3).collect())
      val corpus = docs(0, baseN)
        .unionByName(docs(10000000L, deltaN))
        .unionByName(docs(10010000L, deltaN))
        .unionByName(docs(10020000L, deltaN))
      val tMono = timed(
        graft.text.Retrieval.bm25TopK(corpus, queries, 3).collect())
      // tiered vs full compaction slope (r12): the 30k extent mass is
      // fixed while the base grows 10x — tiered cost must track the
      // EXTENT mass (flat), full cost the INDEX mass (~10x). Tombstone
      // a slice first so the tiered path also exercises its
      // apply-vs-survive split.
      graft.text.PostingsIndex.forget(spark, root.toString,
        docs(10000000L, deltaN).filter(col("doc_id") % 5 === 0)
          .select(col("doc_id")), 100L)
      val tTiered = timed(graft.text.PostingsIndex.compactTiered(
        spark, table, root.toString, buckets = 16))
      // after the tiered pass the extents are consolidated; admit one
      // more delta then time the FULL fold over base+extent
      graft.text.PostingsIndex.admit(spark, table, root.toString,
        docs(10030000L, deltaN), 50L)
      val tFull = timed(graft.text.PostingsIndex.compact(
        spark, table, root.toString, buckets = 16))
      println(f"PIDXSCALE base=$baseN write=$tWrite%.1f s " +
        f"admit10k=[${admits.map(t => f"$t%.1f").mkString(", ")}] s " +
        f"servedSearch=$tServed%.1f s monolithicSearch=$tMono%.1f s " +
        f"tieredCompact=$tTiered%.1f s fullCompact=$tFull%.1f s")
      graft.text.PostingsIndex.drop(spark, table)
    }
    spark.stop()
  }
}
