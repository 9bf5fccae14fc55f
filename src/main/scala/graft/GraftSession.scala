package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL entry surface. The reference has no SQL layer (SURVEY.md §3.2)
  * — Spark's own parser/analyzer is the strict superset. This helper
  * registers the driver tables as temp views so users (and the query
  * corpus) can run plain ANSI SQL against the same catalog names the
  * DuckDB oracle uses, making Spark-vs-oracle parity a single shared
  * SQL string. It is also the one place that builds the engine
  * session.
  */
object GraftSession {

  /** Engine cores: SPARK_GRAFT_CPUS, default 4. */
  private def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The one engine conf: Bench times it, Verify gates it, the test
    * suite and the dev tools run it. Constraint propagation is off
    * (r17): Catalyst's inference is O(plan²) on the deep lifecycle and
    * staged plans this engine runs, and it is the documented source of
    * two pathologies here (r16: join-constraint alias re-expansion OOM;
    * r17: filter pushdown as a third re-expansion door — docs/SCALE.md).
    * Iteration loops already ran with it off (measured, r5); engine-wide
    * it measured q_bm25_compact 9.9 -> 7.2 s / q_substring_fixpoint
    * 4.0 -> 2.7 s warm same-box A/B, flat elsewhere. Every filter in
    * this engine is explicit, so no query depends on inferred
    * predicates. */
  def engineConf(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.constraintPropagation.enabled" -> "false")

  /** The `local[cores]` engine session, logging at WARN. */
  def engine(cores: Int = cpus): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
    engineConf(cores).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // Weak-keyed by session (so a closed session can be collected);
  // value maps table name -> the dir its temp view was built from.
  // Temp views are namespaced only by (session, table): memoizing on
  // (session, dir, table) would silently serve dirA's view after a
  // dirB registration (e.g. mixing scale factors in one session).
  private val registered =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()

  /** Register driver tables under their bare names. Memoized per
    * (session, table) — creating a DataFrame reads the parquet footer
    * for its schema, so re-registering all 10 tables per query would
    * cost seconds — and re-registered whenever `dir` differs from the
    * one the live view was built from. */
  def registerTables(spark: SparkSession, dir: String,
      tables: Seq[String] = TableNames): Unit = synchronized {
    val byTable = registered.computeIfAbsent(spark,
      _ => scala.collection.mutable.Map.empty[String, String])
    tables.foreach { n =>
      if (!byTable.get(n).contains(dir)) {
        Tables.t(spark, dir, n).createOrReplaceTempView(n)
        byTable(n) = dir
      }
    }
  }

  /** Run SQL against the registered tables (narrow `tables` to skip
    * schema reads for relations the query doesn't touch). */
  def sql(spark: SparkSession, dir: String, query: String,
      tables: Seq[String] = TableNames): DataFrame = {
    registerTables(spark, dir, tables)
    spark.sql(query)
  }
}
