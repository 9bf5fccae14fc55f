package graft
import org.apache.spark.sql.functions._
import graft.text.TextFunctions.tokens
object DevSpanProfile {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    def time(tag: String)(f: => Unit): Unit = {
      for (i <- 1 to 3) { val t0 = System.nanoTime(); f
        println(f"$tag run$i ${(System.nanoTime() - t0) / 1e9}%.3f s") }
    }
    // variant A: string spans (current)
    val wsA = tokens(col("text"))
    val spansStr = when(size(wsA) >= 3, transform(sequence(lit(0), size(wsA) - 3),
      i => array_join(slice(wsA, i + 1, lit(3)), " "))).otherwise(array().cast("array<string>"))
    // variant B: hashed spans, mod 1e15
    val M = 1000000000000037L
    val wv = (w: org.apache.spark.sql.Column) =>
      (ascii(w) * lit(1024L) + ascii(substring(w, -1, 1)) * lit(32L) + length(w)).cast("long")
    val spansHash = when(size(wsA) >= 3, transform(sequence(lit(0), size(wsA) - 3),
      i => aggregate(transform(slice(wsA, i + 1, lit(3)), w => wv(w)),
        lit(0L), (acc, v) => (acc * 31 + v) % M))).otherwise(array().cast("array<long>"))
    time("strings") {
      val sh = docs.select(col("doc_id"), posexplode(spansStr).as(Seq("pos", "s")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dup = sh.groupBy(col("s")).agg(count_distinct(col("doc_id")).as("d")).filter(col("d") >= 2).select("s")
      val starts = sh.join(dup, "s").groupBy(col("doc_id")).agg(sort_array(collect_set(col("pos"))).as("st"))
      println("  rows=" + starts.count()); sh.unpersist(true)
    }
    time("hashes") {
      val sh = docs.select(col("doc_id"), posexplode(spansHash).as(Seq("pos", "s")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dup = sh.groupBy(col("s")).agg(count_distinct(col("doc_id")).as("d")).filter(col("d") >= 2).select("s")
      val starts = sh.join(dup, "s").groupBy(col("doc_id")).agg(sort_array(collect_set(col("pos"))).as("st"))
      println("  rows=" + starts.count()); sh.unpersist(true)
    }
    time("minmax") {
      val sh = docs.select(col("doc_id"), posexplode(spansStr).as(Seq("pos", "s")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dup = sh.groupBy(col("s"))
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .filter(col("mn") =!= col("mx")).select("s")
      val starts = sh.join(dup, "s").groupBy(col("doc_id")).agg(sort_array(collect_set(col("pos"))).as("st"))
      println("  rows=" + starts.count()); sh.unpersist(true)
    }
  }
}
