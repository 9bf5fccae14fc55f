package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.dedup.{DedupIndex, FingerprintIndex}
import graft.graph.Algorithms
import graft.multimodal.Multimodal
import graft.ops.Iterative
import graft.sim.{IvfIndex, Similarity}
import graft.text.PostingsIndex

/** A unit's collected result, compared with its query's oracle. */
final case class Out(schema: StructType, rows: Array[Row])

/** What a unit sees: the input tables, fresh index roots and the call
  * recorder. Every call into a layer's public function goes through
  * [[call]] or [[collect]], so it gets its own span. */
final class Ctx(val spark: SparkSession, val dataDir: String, rootsDir: Path,
    calls: Calls) {
  val roots = ArrayBuffer.empty[Path]

  def t(name: String): DataFrame = graft.Tables.t(spark, dataDir, name)

  /** A fresh directory for a lifecycle's extents and tombstones. */
  def root(prefix: String): String = {
    val p = Files.createTempDirectory(rootsDir, prefix)
    roots += p
    p.toString
  }

  def call[T](name: String, kind: String)(body: => T): T = calls(name, kind)(body)

  /** A call whose result frame is the unit's output: the span covers
    * building the frame and collecting it. */
  def collect(name: String, kind: String)(df: => DataFrame): Out =
    calls(name, kind) { val d = df; Out(d.schema, d.collect()) }
}

/** One registered query, run as a sequence of layer calls. */
final case class BenchUnit(query: String, run: Ctx => Out)

object Workloads {
  import Kind._

  def apply(name: String): Seq[BenchUnit] = name match {
    case "index_lifecycle" => indexLifecycle
    case "analytics" => iterative ++ corpusScan
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** The tables each workload reads; set-up reads their footers. */
  def tables(name: String): Seq[String] = name match {
    case "index_lifecycle" => Seq("documents", "embeddings")
    case _ => Seq("orders", "embeddings", "documents", "events")
  }

  // ---- index_lifecycle ----------------------------------------------
  // Each unit replays one registered lifecycle query with the same
  // public calls and predicates, so its final output is checked by
  // that query's oracle. The query helpers that pick the search
  // inputs are private to ops.*, so their predicates are restated.

  /** MiningOps.bm25QuerySet: the first 40 docs, each its first 5
    * distinct tokens. */
  private def bm25QuerySet(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < graft.ops.MiningOps.Bm25Queries)
      .limit(graft.ops.MiningOps.Bm25Queries)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(graft.text.TextFunctions.tokens(col("text")),
          1, graft.ops.MiningOps.Bm25Terms))).as("tok"))

  /** TextOps.knnQueries: the ten lowest vec_ids. */
  private def knnQueries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 10).limit(10)

  private val indexLifecycle = Seq(
    // q_bm25_forget: write base, admit a batch, forget, search grown
    BenchUnit("q_bm25_forget", c => {
      val docs = c.t("documents")
      val table = "graft_q_bm25_forget"
      c.call("text.PostingsIndex.write", Mutate) {
        PostingsIndex.write(docs.filter(col("doc_id") % 3 === 0), table)
      }
      val root = c.root("graft_q_bm25_forget")
      c.call("text.PostingsIndex.admit", Mutate) {
        PostingsIndex.admit(c.spark, table, root,
          docs.filter(col("doc_id") % 3 === 1), 0L)
      }
      c.call("text.PostingsIndex.forget", Mutate) {
        PostingsIndex.forget(c.spark, root,
          docs.filter(expr("doc_id % 3 < 2 AND doc_id % 5 = 0"))
            .select(col("doc_id")), 100L)
      }
      c.collect("text.PostingsIndex.searchGrown", Search) {
        PostingsIndex.searchGrown(c.spark, table, root, bm25QuerySet(docs),
          graft.ops.MiningOps.Bm25K)
      }
    }),
    // q_knn_filtered: the grown index searched under a label predicate
    BenchUnit("q_knn_filtered", c => {
      val emb = c.t("embeddings")
      val table = "graft_q_knn_filtered"
      c.call("sim.IvfIndex.write", Mutate) {
        IvfIndex.write(emb.filter(col("vec_id") % 2 === 0), table)
      }
      val grow = c.root("graft_q_knn_filtered") + "/ext"
      Seq(1 -> 1L, 3 -> 2L).foreach { case (m, batch) =>
        c.call("sim.IvfIndex.admit", Mutate) {
          IvfIndex.admit(c.spark, table, grow,
            emb.filter(pmod(col("vec_id"), lit(4)) === m), batch)
        }
      }
      c.collect("sim.IvfIndex.searchGrown", Search) {
        IvfIndex.searchGrown(c.spark, table, grow, knnQueries(emb), 5,
          pred = Some(col("label").isin(1, 4, 7)))
      }
    }),
    // q_dedup_index: index the even docs, flag the odd ones
    BenchUnit("q_dedup_index", c => {
      val docs = c.t("documents")
      val table = "graft_q_dedup_index"
      c.call("dedup.DedupIndex.write", Mutate) {
        DedupIndex.write(docs.filter(col("doc_id") % 2 === 0), table, buckets = 8)
      }
      c.collect("dedup.DedupIndex.flagAgainst", Search) {
        DedupIndex.flagAgainst(c.spark, table, docs.filter(col("doc_id") % 2 =!= 0), 0.5)
      }
    }),
    // q_image_dedup_index: fingerprint index of the even docs' images,
    // flagged with the odd docs plus every perturbed variant
    BenchUnit("q_image_dedup_index", c => {
      val docs = c.t("documents")
      val table = "graft_q_image_dedup_index"
      val bits = graft.functions.ImageHash.DHashBits
      c.call("dedup.FingerprintIndex.write", Mutate) {
        FingerprintIndex.write(
          Multimodal.imageFingerprints(
            Multimodal.asMediaTable(docs.filter(col("doc_id") % 2 === 0))),
          "media_id", "fp", table, bits, maxHamming = 7, buckets = 8)
      }
      val deltaMedia = Multimodal.asMediaTable(docs.filter(col("doc_id") % 2 =!= 0))
        .unionByName(Multimodal.mediaVariants(docs))
      c.collect("dedup.FingerprintIndex.flagAgainst", Search) {
        FingerprintIndex.flagAgainst(c.spark, table,
          Multimodal.imageFingerprints(deltaMedia), "media_id", "fp", bits,
          maxHamming = 7)
      }
    }))

  // ---- iterative -----------------------------------------------------
  // One call per unit into graph.Algorithms, api.Iterations.bulk or
  // sim.Similarity; the span covers the loop and collecting its
  // result. Edge builders restate ops.Iterative's private helpers.

  /** Iterative.custChainEdges: each customer's consecutive orders,
    * restarting every ChunkLen orders. */
  private def custChainEdges(c: Ctx): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    c.t("orders")
      .select(col("o_orderkey"), row_number().over(w).as("rn"),
        lead(col("o_orderkey"), 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull && (col("rn") % Iterative.ChunkLen) =!= 0)
      .select(col("o_orderkey").as("src"), col("nxt").as("dst"))
  }

  private val iterative = Seq(
    BenchUnit("q_kmeans", c => c.collect("graph.Algorithms.kMeans", Compute) {
      Algorithms.kMeans(
        c.t("embeddings").select(col("vec_id").as("id"), col("embedding").as("features")),
        k = Iterative.KMeansK, iterations = Iterative.KMeansIters)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_points"))
    }),
    BenchUnit("q_closure", c => c.collect("api.Iterations.bulk", Compute) {
      val e = custChainEdges(c)
      val doublings = 32 - Integer.numberOfLeadingZeros(Iterative.ChunkLen - 1)
      graft.api.Iterations.bulk(e, doublings) { g =>
        g.alias("p").join(g.alias("q"), col("p.dst") === col("q.src"))
          .select(col("p.src").as("src"), col("q.dst").as("dst"))
          .union(g).distinct()
      }.agg(count(lit(1)).as("n_pairs"))
    }),
    BenchUnit("q_knn_graph", c => c.collect("sim.Similarity.knnGraph", Compute) {
      Similarity.knnGraph(c.t("embeddings"), 5)
    }))


  // ---- corpus_scan ---------------------------------------------------
  // Single-pass operator chains, each the registered query function
  // itself; the span is named after the module the unit exercises.

  private def registered(query: String, module: String) =
    BenchUnit(query, c => c.collect(module, Compute) {
      graft.SparkEntry.queries(query)(c.spark, c.dataDir)
    })

  private val corpusScan = Seq(
    registered("q_wordcount", "ops.Relational"),
    registered("q_sessions", "ops.Events"),
    registered("q_lang_id", "text"),
    registered("q_jpeg_decode", "multimodal"),
    registered("q_gif_decode", "multimodal"),
    registered("q_substring_scrub", "dedup.Dedup"),
    registered("q_pipeline_e2e", "pipeline"))
}
