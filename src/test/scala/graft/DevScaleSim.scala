package graft

import org.apache.spark.sql.functions._

/** Dev-only ANN scale-headroom measurement (r10): kNN-graph build two
  * orders of magnitude beyond the sf0.1 fixture (2k vectors). Run:
  *
  *   SPARK_DRIVER_MEM=48g SPARK_GRAFT_CPUS=32 \
  *     sbt -batch "Test/runMain graft.DevScaleSim [n] [nlist] [nprobe]"
  *
  * Vectors are deterministic hash-floats (no RNG): dim 64, components
  * in [-1, 1), generated in-executor from (id, dim) — so the corpus
  * needs no storage and the run is reproducible. The headline numbers
  * (wall, candidate volume = n * nprobe * n/nlist) land in docs/
  * SCALE.md "Similarity search". nlist follows the sqrt(n) contract
  * from Similarity.knnGraph's scaladoc. */
object DevScaleSim {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect() // JIT warm

    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val nlist = args.lift(1).map(_.toInt)
      .getOrElse(math.max(16, math.sqrt(n.toDouble).toInt))
    val nprobe = args.lift(2).map(_.toInt).getOrElse(6)
    // deterministic pseudo-random floats: hash(id, d) spread to [-1, 1)
    val emb = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        d => ((pmod(hash(col("id"), d).cast("long"), lit(2000003L)) - 1000001L)
          .cast("double") / lit(1000001.0)).cast("float")).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"SIMSCALE corpus n=${emb.count()} nlist=$nlist nprobe=$nprobe " +
      f"expected_cand=${n.toDouble * nprobe * n / nlist}%.2e")

    (1 to 2).foreach { run =>
      val t0 = System.nanoTime()
      val edges = graft.sim.Similarity.knnGraph(emb, k = 5,
        nlist = nlist, nprobe = nprobe).count()
      println(f"SIMSCALE run$run knnGraph wall=${(System.nanoTime() - t0) / 1e9}%.1f s edges=$edges")
    }
    val t1 = System.nanoTime()
    val nclust = graft.sim.Similarity.knnClusters(emb, k = 5,
      nlist = nlist, nprobe = nprobe).count()
    println(f"SIMSCALE knnClusters wall=${(System.nanoTime() - t1) / 1e9}%.1f s clusters=$nclust")
    emb.unpersist()
    spark.stop()
  }
}
