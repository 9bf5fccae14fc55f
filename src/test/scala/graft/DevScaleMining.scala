package graft

import org.apache.spark.sql.functions._

/** Dev-only scale measurement for the round-11 mining/tokenizer
  * family: run the operators on synthetic corpora 20x/200x past the
  * sf0.1 fixture and record wall-time slopes. Run:
  *
  *   sbt -batch "Test/runMain graft.DevScaleMining [nDocs]"
  *
  * Docs are deterministic hash-text (no RNG, no storage): 30-79
  * words drawn from a 2000-word vocabulary, ids striped over a 5-way
  * lang split. Expected shapes: BPE train = one corpus scan into the
  * vocab-bounded dictionary + corpus-independent epochs; importance
  * select / temperature mix / quality distill = linear single-pass
  * pipelines. Results land in docs/SCALE.md. */
object DevScaleMining {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect() // JIT warm

    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val docs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", transform(
          sequence(lit(0), pmod(hash(col("id")), lit(50)) + lit(29)),
          i => concat(lit("w"),
            pmod(hash(col("id"), i), lit(2000)).cast("string")))).as("text"),
        when(pmod(col("id"), lit(5)) === 0, lit("en"))
          .otherwise(concat(lit("x"), pmod(col("id"), lit(5)).cast("string")))
          .as("lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"MININGSCALE corpus n=${docs.count()}")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"MININGSCALE $name%-20s ${(System.nanoTime() - t0) / 1e9}%8.2f s ($rows rows)")
    }
    time("bpe_train12") {
      graft.text.Bpe.train(spark, docs, 12).count() }
    time("bpe_tokens") {
      graft.text.Bpe.docTokenCounts(spark, docs, 12).count() }
    time("importance_select") {
      graft.pipeline.Importance.select(docs, col("lang") === "en", 50).count() }
    time("temperature_mix") {
      graft.pipeline.Sampling.temperatureMix(docs, "lang", "doc_id", 200L)
        .count() }
    time("quality_distill") {
      graft.pipeline.QualityModel.distill(docs).count() }
    // label propagation decoupled from the kNN build (DevScaleSim
    // measures that): synthetic 5-out-degree hash graph, 20% seeds
    val g = spark.range(n).select(col("id").as("qid"),
        explode(transform(sequence(lit(0), lit(4)),
          j => pmod(hash(col("id"), j), lit(n)))).as("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    g.count()
    val seeds = spark.range(n)
      .filter(graft.pipeline.Sampling.idBucket(col("id"), 1000) < 200)
      .select(col("id").as("vec_id"), pmod(col("id"), lit(10)).cast("int").as("label"))
    time("label_prop_3r") {
      graft.sim.Similarity.propagateLabels(g, seeds, 3).count() }
    spark.stop()
  }
}
