package graft.api

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._

/** [[Spread]]'s two helpers: `forCompute` reads a partition count only
  * off a narrow plan (reading one off a frame with an upstream exchange
  * would run that exchange) and spreads any other frame unconditionally,
  * and `byKey` pins a join input's partition count without touching its
  * rows. */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  private def docs = s"${sf("documents")}/documents.parquet"

  test("forCompute spreads a frame with an upstream exchange and starts no job") {
    val scan = spark.read.parquet(docs)
    val grouped = scan.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val mapped = scan.select(col("lang")).as[String]
      .groupByKey(identity).mapGroups((k, it) => (k, it.size)).toDF()
    // an unfilled cache of a shuffling plan: building its scan's RDD
    // would run that plan
    val cached = scan.select(col("lang")).distinct().cache()
    val sc = spark.sparkContext
    val target = sc.defaultParallelism
    // jobs carry the local properties of the thread that started them
    // (AQE stage threads included), so marks tell this test's jobs apart
    def marked[A](mark: String)(body: => A): A = {
      sc.setLocalProperty("spread.spec", mark)
      try body finally sc.setLocalProperty("spread.spec", null)
    }
    val marks = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        Option(s.properties).flatMap(p => Option(p.getProperty("spread.spec")))
          .foreach(marks.put)
    }
    sc.addSparkListener(listener)
    val spread = try {
      val out = marked("call")(Seq(grouped, mapped, cached).map(Spread.forCompute(_)))
      // the listener bus delivers in order: once the sentinel's start
      // has arrived, so has every job start the calls made
      marked("sentinel")(sc.parallelize(Seq(1), 1).count())
      assert(marks.poll(60, java.util.concurrent.TimeUnit.SECONDS) == "sentinel")
      out
    } finally { sc.removeSparkListener(listener); cached.unpersist() }
    spread.foreach { df =>
      df.queryExecution.analyzed match {
        case Repartition(n, true, _) => assert(n == target)
        case other => fail(s"expected a round-robin repartition to $target:\n$other")
      }
    }
    assert(spread.head.count() == grouped.count())
  }

  test("forCompute spreads a one-file scan and a limit to defaultParallelism; a wide frame is returned as is") {
    val target = spark.sparkContext.defaultParallelism
    val scan = spark.read.parquet(docs)
    assert(scan.rdd.getNumPartitions < target)
    val spread = Spread.forCompute(scan)
    assert(spread.rdd.getNumPartitions == target)
    assert(spread.count() == scan.count())
    val limited = Spread.forCompute(scan.limit(40))
    assert(limited.rdd.getNumPartitions == target)
    assert(limited.count() == 40)
    val wide = spark.range(0, 1000, 1, target * 2)
    assert(Spread.forCompute(wide) eq wide)
  }

  test("byKey hash-partitions to defaultParallelism with the same rows") {
    val p = spark.sparkContext.defaultParallelism
    val df = spark.range(1000).select((col("id") % 7).as("k"), col("id"))
    val pinned = Spread.byKey(df, col("k"))
    assert(pinned.rdd.getNumPartitions == p)
    assert(pinned.collect().sortBy(_.getLong(1)).toSeq ==
      df.collect().sortBy(_.getLong(1)).toSeq)
    // hash partitioning: each key lives in exactly one partition
    val perKey = pinned.withColumn("pid", spark_partition_id())
      .groupBy(col("k")).agg(countDistinct(col("pid")).as("n"))
      .collect().map(_.getLong(1))
    assert(perKey.length == 7 && perKey.forall(_ == 1L))
  }
}
