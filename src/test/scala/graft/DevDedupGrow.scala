package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only growing-index admission-cost measurement (VERDICT r8 #7):
  * q_dedup_grow serializes 3 admissions and is the most expensive gate
  * query, so this harness checks the claim that matters at 100 TB —
  * per-batch `flagAndAdmit` cost stays DELTA-sized as the extent set
  * grows to 10x its first batch, instead of creeping O(index). Run:
  *
  *   SPARK_DRIVER_MEM=16g SPARK_GRAFT_CPUS=32 \
  *     sbt -batch "Test/runMain graft.DevDedupGrow"
  *
  * Shape: a BASE corpus is signed into the bucketed index once; then
  * `batches` fixed-size deltas are admitted back-to-back, each timed.
  * ~8% of each delta near-duplicates a doc admitted two batches
  * earlier (so the flag path exercises extent-vs-delta hits, not just
  * base hits), and a second config with a 10x base isolates the
  * base-scan term from the extent-growth term. Findings land in
  * docs/SCALE.md (growing-index section). */
object DevDedupGrow {

  /** Deterministic ~60-token documents; near-dup fraction: ids
    * congruent to 0 mod 12 copy the text of (id - nearDupLag) with a
    * one-token suffix change, others are unique token streams. */
  private def docs(spark: SparkSession, start: Long, n: Long,
      nearDupLag: Long): org.apache.spark.sql.DataFrame = {
    val base = spark.range(start, start + n)
      .select(col("id").as("doc_id"),
        when(col("id") % 12 === 0 && col("id") - nearDupLag >= 0,
          col("id") - nearDupLag).otherwise(col("id")).as("seed"),
        (col("id") % 12 === 0).as("mutated"))
    // word shape matters: graft's wordVal signature is (first char,
    // last char, length), so tokens must vary their FIRST letter too —
    // a fixed "tok" prefix collapses the whole vocabulary onto ~50
    // word values, makes every doc's coarse shingle set overlap every
    // other's, and floods LSH with O(base) spurious candidates (the
    // run that exposed the missing index-side hot-bucket guard)
    def tok(k: Int) = {
      val h = pmod(hash(col("seed"), lit(k)).cast("long"), lit(26L * 26 * 26))
      concat(
        chr(lit(97) + pmod(h, lit(26L))),
        chr(lit(97) + pmod(h / 26, lit(26L))),
        chr(lit(97) + pmod(h / (26 * 26), lit(26L))),
        pmod(hash(col("seed"), lit(k + 1000)).cast("long"), lit(997L)))
    }
    base.select(col("doc_id"),
      concat_ws(" ",
        (0 until 60).map(tok) :+
          when(col("mutated"), concat(lit("zq"), col("doc_id")))
            .otherwise(lit("end")): _*).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect() // JIT warm

    val batchRows = 20000L
    val batches = args.lift(1).map(_.toInt).getOrElse(12)
    val work = java.nio.file.Files.createTempDirectory("dedup_grow_dev")
      .toString

    if (args.headOption.contains("explain")) {
      // plan forensics: what does the candidate+verify join actually
      // plan against the bucketed base tables?
      val table = "grow_dev_explain"
      graft.dedup.DedupIndex.write(docs(spark, 0L, 200000L, 1L), table)
      val delta = graft.dedup.Dedup.signedBands(
        docs(spark, 200000L, 20000L, 40000L)).cache()
      val flagged = graft.dedup.DedupIndex.flagSigned(delta,
        spark.table(graft.dedup.DedupIndex.bandsTable(table)),
        spark.table(graft.dedup.DedupIndex.svTable(table)), 0.5)
      flagged.collect()
      println(flagged.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0))
      graft.dedup.DedupIndex.drop(spark, table)
      spark.stop(); return
    }

    Seq(("base200k", 200000L), ("base2m", 2000000L))
      .filter(c => args.headOption.forall(_ == c._1)).foreach {
      case (tag, baseRows) =>
        val table = s"grow_dev_$tag"
        val growPath = s"$work/$tag/extents"
        val sinkPath = s"$work/$tag/flags"
        val t0 = System.nanoTime()
        graft.dedup.DedupIndex.write(
          docs(spark, 0L, baseRows, nearDupLag = 1L), table)
        println(f"$tag%-8s index write ${(System.nanoTime() - t0) / 1e9}%7.2f s " +
          f"(base=$baseRows rows)")
        (1 to batches).foreach { b =>
          // deltas start past the base id range; the near-dup lag of
          // two batches reaches docs admitted as EXTENTS, so hits must
          // come from the growing side, not only the bucketed base
          val start = baseRows + (b - 1) * batchRows
          val d = docs(spark, start, batchRows, nearDupLag = 2 * batchRows)
          val tb = System.nanoTime()
          graft.dedup.DedupIndex.flagAndAdmit(spark, table, growPath, d,
            batchId = b.toLong, sinkPath = sinkPath)
          val flagged = spark.read
            .parquet(s"$sinkPath/batch_id=$b").count()
          println(f"$tag%-8s batch $b%2d admit ${(System.nanoTime() - tb) / 1e9}%7.2f s " +
            f"flagged=$flagged")
        }
        graft.dedup.DedupIndex.drop(spark, table)
    }
    spark.stop()
  }
}
