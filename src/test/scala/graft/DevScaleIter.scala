package graft

import org.apache.spark.sql.functions._

/** Dev-only iteration scale-headroom measurement (VERDICT r7 #6):
  * per-superstep wall time of CC / SSSP on synthetic ~10M-edge graphs,
  * two orders of magnitude beyond the sf0.1 gate (~120k edges). Run:
  *
  *   GRAFT_ITER_TRACE=1 SPARK_DRIVER_MEM=48g SPARK_GRAFT_CPUS=32 \
  *     sbt -batch "Test/runMain graft.DevScaleIter"
  *
  * Graphs (deterministic, generated in-process):
  *  - deep:    8 chains x 1.25M vertices (~10M edges, diameter 1.25M)
  *             — stresses SUPERSTEP COUNT (pointer-jump log-folding)
  *             and the late-superstep regime where the workset is
  *             tiny but the solution rebuild is still O(|V|).
  *  - shallow: 2.5M vertices x 4 pseudo-random out-edges (10M edges,
  *             diameter ~10) — stresses PER-SUPERSTEP volume at full
  *             state size.
  *
  * Findings land in docs/SCALE.md (iteration headroom section). */
object DevScaleIter {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect() // JIT warm

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"TOTAL $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // deep: 8 chains of 1.25M vertices each; edge v -> v+1 within a chain
    val chains = 8L
    val len = 1250000L
    val deep = spark.range(chains * len)
      .filter(col("id") % len =!= len - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))

    // shallow: 4 deterministic pseudo-random out-edges per vertex
    // (Knuth multiplicative spread over the hash, mod n)
    val n = 2500000L
    val shallow = spark.range(n).select(col("id").as("src"),
      explode(array((0 until 4).map(k =>
        pmod(hash(col("id"), lit(k)).cast("long") * lit(2654435761L),
          lit(n))): _*)).as("dst"))

    val which = args.headOption.getOrElse("all")

    if (which == "all" || which == "cc-deep") {
      val comps = timed("cc-deep") {
        graft.graph.Algorithms.connectedComponents(deep, maxIterations = 60)
          .agg(countDistinct(col("component"))).collect()(0).getLong(0)
      }
      println(s"cc-deep components=$comps (expect $chains)")
    }
    if (which == "cc-deep-skew") {
      // convergence-tail skew experiment: at the last supersteps ~10M
      // rows probe-join on ~8 component-root keys; AQE's skew split
      // defaults (256m threshold) never fire at this scale. Lowered
      // thresholds + smaller advisory size: does the 36s/80s tail drop?
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      val comps = timed("cc-deep-skewtuned") {
        graft.graph.Algorithms.connectedComponents(deep, maxIterations = 60)
          .agg(countDistinct(col("component"))).collect()(0).getLong(0)
      }
      println(s"cc-deep-skewtuned components=$comps (expect $chains)")
    }
    if (which == "all" || which == "cc-shallow") {
      val comps = timed("cc-shallow") {
        graft.graph.Algorithms.connectedComponents(shallow, maxIterations = 60)
          .agg(countDistinct(col("component"))).collect()(0).getLong(0)
      }
      println(s"cc-shallow components=$comps (expect ~1)")
    }
    if (which == "all" || which == "sssp-vc") {
      // message-passing SSSP on the shallow graph, unit weights; the
      // observer clock measures each superstep barrier-to-barrier
      var last = System.nanoTime()
      val reached = timed("sssp-vc-shallow") {
        graft.graph.VertexCentric.shortestPathsVC(
          shallow.withColumn("weight", lit(1L)), source = 0L,
          maxIterations = 60,
          observer = st => {
            val now = System.nanoTime()
            println(f"sssp superstep ${st.superstep} changed=${st.changed} " +
              f"t=${(now - last) / 1e9}%.2fs")
            last = now
          })
          .filter(col("distance").isNotNull).count()
      }
      println(s"sssp-vc reached=$reached of $n")
    }
    if (which == "sssp-tree-prof") {
      // VERDICT r9 #5: separate FIXED per-barrier cost (the checkpoint
      // job itself) from driver gaps (scheduling + Observation drain +
      // freeCheckpoint + noise). At fold=1 each barrier is ~one job,
      // so the ordered job spans from a SparkListener give the
      // per-barrier breakdown directly: job duration = compute+
      // materialize; gap before a job = driver-side fixed cost +
      // external noise. Two back-to-back runs in one session separate
      // the two: a component that's equal across runs is structure, a
      // component that swings is box noise.
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          jobs.put(js.jobId, Array(js.time, -1L))
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          val v = jobs.get(je.jobId); if (v != null) v(1) = je.time
        }
      })
      val chain = spark.range(10000000L - 1)
        .select(col("id").as("src"), (col("id") + 1).as("dst"),
          lit(1L).as("weight"))
      (1 to 2).foreach { run =>
        jobs.clear()
        val t0 = System.currentTimeMillis()
        val got = timed(s"sssp-tree-prof-run$run") {
          graft.graph.Algorithms.treeShortestPaths(chain, source = 0L,
            maxDepth = 10000000).count()
        }
        val wall = (System.currentTimeMillis() - t0) / 1000.0
        import scala.jdk.CollectionConverters._
        val spans = jobs.asScala.values.toSeq.filter(_(1) > 0)
          .map(v => (v(0), v(1))).sortBy(_._1)
        val jobSec = spans.map(s => (s._2 - s._1) / 1000.0)
        val gaps = (t0 +: spans.map(_._2)).zip(spans.map(_._1))
          .map { case (prevEnd, start) => math.max(0, start - prevEnd) / 1000.0 }
        println(f"PROF run$run wall=$wall%.1f jobs=${spans.size} " +
          f"jobSum=${jobSec.sum}%.1f gapSum=${gaps.sum}%.1f reached=$got")
        spans.indices.foreach { k =>
          println(f"PROF run$run job$k%02d dur=${jobSec(k)}%6.2f gapBefore=${gaps(k)}%6.2f")
        }
      }
    }
    if (which == "all" || which == "sssp-tree") {
      // pointer-jump SSSP on ONE 10M-vertex chain (a rooted path):
      // ceil(log2 1e7)+1 = 25 self-join jumps over 10M-row state
      val chain = spark.range(10000000L - 1)
        .select(col("id").as("src"), (col("id") + 1).as("dst"),
          lit(1L).as("weight"))
      val got = timed("sssp-tree-10M-chain") {
        graft.graph.Algorithms.treeShortestPaths(chain, source = 0L,
          maxDepth = 10000000).count()
      }
      println(s"sssp-tree reached=$got of 10000000")
    }
    spark.stop()
  }
}
