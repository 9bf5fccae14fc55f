package graft

/** Dev-only pin-flag adjudication runner (VERDICT r12 #2).
  *
  * Reproduces the bench's exact conditions (GraftSession.engine; the
  * committed canary was taken at SPARK_GRAFT_CPUS=32; warm methodology,
  * same 3-leg canary as Bench.scala) and times the flagged
  * queries min-of-3 AFTER establishing the box is neutral: the canary median
  * must read <= 1.05x the committed neutral-box canary (1.273988935 from
  * e5cad92), else the run is declared non-neutral and the numbers are only
  * advisory. Prints raw + canary-normalized values against the committed
  * neutral-box priors so a flag can be closed (<= threshold) or escalated
  * (repeat offender -> root-cause) from this one output.
  *
  *   sbt "Test/runMain graft.DevPinAdjudicate q_dedup_forget=3.64008882 q_quantile_per_group=0.239672822"
  */
object DevPinAdjudicate {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val neutralCanary = sys.env.getOrElse("SPARK_GRAFT_NEUTRAL_CANARY",
      "1.273988935").toDouble
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val warmup = "/root/testdata/sf0.001"
    Seq("q3_shipping_priority", "q_topk_per_group", "q_wordcount",
        "q_connected_components", "q_pagerank").foreach { n =>
      try SparkEntry.queries(n)(spark, warmup).count()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    // identical 3-leg canary to Bench.scala:62 so scales are comparable
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.range(4000000L).selectExpr("sum(id * 2)").collect()
      val a = spark.range(200000L).selectExpr("id % 1000 as k", "id as v")
      val b = spark.range(1000L).selectExpr("id as k", "id * 3 as w")
      a.groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("sv"))
        .join(b, "k").selectExpr("sum(sv + w)").collect()
      (1 to 10).foreach { _ =>
        spark.range(0, 3200, 1, 32).selectExpr("sum(id)").collect()
      }
      (System.nanoTime() - t0) / 1e9
    }
    canary() // warm pass
    val pre = math.min(canary(), canary())
    val targets: Seq[(String, Double)] = args.toSeq.map { a =>
      val Array(n, p) = a.split("="); (n, p.toDouble)
    }
    val rows = targets.map { case (name, prior) =>
      // warm the query once at the gate SF (codegen/JIT context), then
      // min-of-3 timed — matching the bench's warm min-of-3 methodology
      val timed = (1 to 4).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      (name, prior, timed.tail.min, timed)
    }
    val post = math.min(canary(), canary())
    val canaryMed = (pre + post) / 2
    val scale = canaryMed / neutralCanary
    val neutral = scale <= 1.05
    println(f"canary pre=$pre%.4f post=$post%.4f mean=$canaryMed%.4f " +
      f"neutral_prior=$neutralCanary%.4f scale=$scale%.3f neutral=${neutral}")
    rows.foreach { case (name, prior, v, all) =>
      val thr = (if (prior < 0.5) 2.5 else 1.5) * prior * math.max(1.0, scale)
      val verdict = if (v <= thr) "WITHIN" else "EXCEEDS"
      println(f"$name%-24s prior=$prior%.3f min3=$v%.3f runs=${all.map(t => f"$t%.2f").mkString(",")} " +
        f"norm=${v / math.max(1.0, scale)}%.3f threshold=$thr%.3f -> $verdict")
    }
    spark.stop()
  }
}
