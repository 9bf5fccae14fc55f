package graft
import org.apache.spark.sql.functions._

/** Scale probe for Scrub.spanScrub: synthetic word-salad corpora at
  * 1x/4x/10x the sf0.1 document count, same vocab shape, measuring
  * wall-time slope (backs the SCALE.md linearity claim). */
object DevSpanScale {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    import spark.implicits._
    val vocab = (0 until 40).map(i => s"w$i")
    def corpus(n: Int) = spark.range(n.toLong).select(
      col("id").as("doc_id"), lit("en").as("lang"),
      expr(s"""array_join(transform(sequence(1, 80 + CAST(id % 40 AS INT)),
        i -> element_at(array(${vocab.map("'" + _ + "'").mkString(",")}),
          CAST(1 + pmod(id * 31 + i * 17, 40) AS INT))), ' ')""").as("text"))
    for (n <- Seq(5000, 20000, 50000)) {
      val docs = corpus(n).persist()
      docs.count()
      for (i <- 1 to 2) {
        val t0 = System.nanoTime()
        val out = graft.pipeline.Scrub.spanScrub(docs, materialize = true)
        val cnt = out.count()
        println(f"n=$n run$i ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$cnt")
      }
      docs.unpersist(true)
    }
  }
}
