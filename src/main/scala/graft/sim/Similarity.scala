package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §7 phase 4):
  * brute-force cosine top-k as the exactness baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Exactness: float*float products are exactly representable as
  * doubles; each term is quantized to integer 1e-12 units and summed
  * as longs, so dot products and norms are independent of summation
  * order and identical in Spark and DuckDB. The final
  * dot/(sqrt(na)*sqrt(nb)) is a fixed IEEE expression on exact inputs.
  *
  * 100 TB posture: queries are broadcast (top-k against a bounded
  * query set); the corpus side streams partition-parallel; per-query
  * top-k is a windowed rank, no driver collect.
  */
object Similarity {

  /** Exact scaled-integer dot product of two float-array columns. */
  def dotScaled(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => round(x * y * lit(1e12)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** SQL twin: exact scaled dot product via 1-based list indexing. */
  def sqlDotScaled(a: String, b: String, dim: Int): String =
    s"""list_sum(list_transform(generate_series(1, $dim),
          i -> CAST(round($a[i] * $b[i] * 1e12) AS BIGINT)))"""

  /** Cosine similarity from exact scaled dot/norms. */
  def cosine(a: Column, b: Column): Column =
    (dotScaled(a, b) / lit(1e12)) /
      (sqrt(dotScaled(a, a) / lit(1e12)) * sqrt(dotScaled(b, b) / lit(1e12)))

  def sqlCosine(a: String, b: String, dim: Int): String =
    s"""(${sqlDotScaled(a, b, dim)} / 1e12) /
        (sqrt(${sqlDotScaled(a, a, dim)} / 1e12) * sqrt(${sqlDotScaled(b, b, dim)} / 1e12))"""

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself). Similarity is rounded to 1e-6
    * before ranking and ties break on vec_id, so the selection is
    * fully deterministic. */
  /** Cosine quantized to 1e-6 via single-arg round (identical
    * across engines, unlike round(x, 6)). Uses the codegen'd
    * CosineSim expression — same arithmetic as [[cosine]], ~10x
    * faster than the interpreted HOF path. */
  def simRounded(a: Column, b: Column): Column =
    round(graft.functions.CosineSim.cosineSim(a, b) * lit(1e6)).cast("long") / lit(1e6)

  def sqlSimRounded(a: String, b: String, dim: Int): String =
    s"CAST(round((${sqlCosine(a, b, dim)}) * 1e6) AS BIGINT) / 1e6"


  /** Bounded-by-contract query frames collect ONCE and feed their
    * broadcast side as a local relation (r17, the IvfIndex/
    * PostingsIndex treatment): the broadcast is already a driver
    * collect of these rows — this stops the frame's source plan (a
    * filtered corpus scan) from re-executing as the build. Callers
    * pass the PROJECTED bounded frame. */
  private def localized(df: DataFrame): DataFrame = {
    // bounded-contract guard (ADVICE r17 #4): a post-collect row-count
    // assertion fails contract violations with a clear error. Two
    // layers on purpose: collects past spark.driver.maxResultSize
    // (1 GB default) already abort with that conf's own named error
    // BEFORE driver memory is at risk, and anything under it lands
    // here and trips the cap. (A limit(cap+1) pushed INTO the collect
    // was measured slower — Spark's incremental take runs 2-4
    // sequential jobs per collect — so the guard stays post-collect.)
    val rows = df.collect()
    require(rows.length <= MaxLocalRows,
      s"bounded-query contract violated: ${rows.length} rows collected " +
        s"to the driver (cap $MaxLocalRows — queries are a bounded " +
        "suite, never a corpus)")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Driver-collect cap for bounded-by-contract query frames (see
    * [[localized]]; shared by [[graft.sim.IvfIndex]]). Far above any
    * real query suite, far below a corpus. */
  private[sim] val MaxLocalRows: Int = 1 << 20

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // queries are the bounded side -> broadcast them; the corpus side
    // streams partition-parallel with no shuffle before the rank
    val qc = broadcast(localized(
        queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))))
      .join(corpus.select(col("vec_id").as("cid"), col("embedding").as("cv")),
        col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), simRounded(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    qc.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }

  /** Hard-negative mining for contrastive training: per query vector,
    * the top-k most-similar corpus vectors with a DIFFERENT label —
    * the "looks like a positive, isn't one" examples an embedding
    * model trains against. Same bounded-query broadcast shape as
    * [[bruteForceTopK]] with the label inequality riding the join
    * condition (a residual on the broadcast probe, not a post-rank
    * filter — rank positions must be computed over negatives only).
    * At corpus scale, swap the streamed side for the IVF-probed
    * candidate set exactly as [[ivfTopK]] does for positives. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val qc = broadcast(localized(queries.select(col("vec_id").as("qid"),
        col("embedding").as("qv"), col("label").as("qlabel"))))
      .join(corpus.select(col("vec_id").as("cid"), col("embedding").as("cv"),
          col("label").as("clabel")),
        col("qid") =!= col("cid") && col("qlabel") =!= col("clabel"))
      .select(col("qid"), col("cid"), col("clabel").as("neg_label"),
        simRounded(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    qc.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("neg_label"), col("sim"), col("rk"))
  }

  // ---- LSH-bucketed approximate variant -------------------------------

  /** Deterministic pseudo-random hyperplanes: component h[p][d] =
    * ((p*8191 + d)*2654435761 mod 1000003) - 501001 (zero-mean ints). */
  def hyperplaneWeight(p: Int, d: Int): Long =
    ((p * 8191L + d) * 2654435761L) % 1000003L - 501001L

  /** Sign of the EXACT-QUANTIZED hyperplane dot product: each term
    * v[d]*w (float times int — exact in double) is rounded to integer
    * 1e-6 units and summed as longs, so the sign is order-independent
    * and identical in the DuckDB oracle (see LshBucketExpr's doc). */
  def hyperplaneSign(vec: Column, p: Int, dim: Int): Column = {
    val terms = (0 until dim).map { d =>
      round(element_at(vec, d + 1).cast("double") *
        lit(hyperplaneWeight(p, d).toDouble) * lit(1e6)).cast("long")
    }
    when(terms.reduceLeft(_ + _) >= 0, lit(1)).otherwise(lit(0))
  }

  /** SQL twin of one plane's quantized dot-product sum (list_sum over
    * BIGINT terms — order-free). The weight row is embedded as a list
    * literal; the explicit DOUBLE cast keeps DuckDB from doing float
    * arithmetic on the FLOAT[] column. */
  def sqlLshPlaneSum(vec: String, p: Int, dim: Int): String = {
    val ws = (0 until dim).map(hyperplaneWeight(p, _)).mkString("[", ",", "]")
    s"""list_sum(list_transform(generate_series(1, $dim),
        i -> CAST(round(CAST($vec[i] AS DOUBLE) * ($ws)[i] * 1e6) AS BIGINT)))"""
  }

  /** SQL twin of [[lshBucket]]: the planes-bit sign pattern. */
  def sqlLshBucket(vec: String, planes: Int, dim: Int): String =
    (0 until planes).map(p =>
      s"(CASE WHEN ${sqlLshPlaneSum(vec, p, dim)} >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Bucket id = sign pattern across `planes` hyperplanes. Runs as an
    * imperative expression (planes*dim multiplies per row would be a
    * ~512-node Catalyst tree otherwise); [[lshBucketRef]] keeps the
    * Column formulation as the parity-tested semantic reference. */
  def lshBucket(vec: Column, planes: Int, dim: Int): Column =
    graft.functions.LshBucketExpr.lshBucketFast(vec, planes, dim)

  def lshBucketRef(vec: Column, planes: Int, dim: Int): Column =
    (0 until planes).map(p => hyperplaneSign(vec, p, dim) * lit(1 << p))
      .reduceLeft(_ + _)

  /** IVF (inverted-file) ANN: the corpus is partitioned into `nlist`
    * KMeans cells; each query probes only its `nprobe` nearest cells.
    * Centroids come from the deterministic KMeans in graft.graph (a
    * bounded nlist x dim array, embedded as a codegen reference object
    * in the NearestCell expressions — no boxed UDF in the path), so
    * the corpus side is one narrow cell-id column and the candidate
    * join touches ~ nprobe/nlist of the corpus per query — the
    * learned-bucket alternative to the hyperplane LSH below. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iterations: Int = 3): DataFrame = {
    import graft.functions.NearestCell
    import graft.graph.Algorithms
    val pts = corpus.select(col("vec_id").as("id"), col("embedding").as("features"))
    val cells = Algorithms.kMeansCentroids(pts, nlist, iterations)
    val cb = corpus.select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .withColumn("cell", NearestCell.nearestCell(col("cv"), cells))
    val qb = broadcast(
      localized(queries.select(col("vec_id").as("qid"), col("embedding").as("qv")))
        .withColumn("cell", explode(NearestCell.nearestCells(col("qv"), cells, nprobe))))
    val cand = qb.join(cb, Seq("cell")).filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), simRounded(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }

  /** kNN-GRAPH construction: top-k cosine neighbors for EVERY corpus
    * vector — the batch primitive behind embedding-space clustering,
    * shared-nearest-neighbor dedup, and graph-based label propagation
    * over a training corpus. Same IVF blocking as [[ivfTopK]], but
    * the probe side IS the corpus, so NOTHING broadcasts: both sides
    * carry the narrow cell id, the candidate join is a keyed shuffle
    * join (SHUFFLE_HASH, the q_dedup_embedding posture — a
    * corpus-sized side must never broadcast), and the per-vector rank
    * is one WindowGroupLimit. Join volume ~ nprobe/nlist of the
    * all-pairs square.
    *
    * The join costs its OUTPUT pairs, not its input bytes, so both
    * sides are hash-partitioned on `cell` at the job's width
    * ([[graft.api.Spread.byKey]]); left to AQE, the few-MB `cell`
    * shuffle coalesced into ONE partition at any core count and all
    * the exact-cosine scoring plus the partial top-k ran as one task.
    * The pinned exchange gets no AQE skew split: at 100 TB nlist
    * scales with the corpus (cells ~ sqrt(n) keeps both the per-cell
    * block and the centroid table bounded), and that bounds the
    * largest partition. A cell is the unit of work, so at fixture
    * scale the nlist=16 cells spread unevenly over the partitions.
    * Recall contract matches ivfTopK: neighbors outside the nprobe
    * probed cells are missed (SimilaritySpec asserts recall vs brute
    * force on the fixture). */
  def knnGraph(corpus: DataFrame, k: Int, nlist: Int = 16,
      nprobe: Int = 4, iterations: Int = 3): DataFrame = {
    import graft.functions.NearestCell
    import graft.graph.Algorithms
    val pts = corpus.select(col("vec_id").as("id"), col("embedding").as("features"))
    val cells = Algorithms.kMeansCentroids(pts, nlist, iterations)
    val cb = corpus.select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .withColumn("cell", NearestCell.nearestCell(col("cv"), cells))
    val qb = corpus.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("cell", explode(NearestCell.nearestCells(col("qv"), cells, nprobe)))
    val cand = graft.api.Spread.byKey(qb, col("cell"))
      .join(graft.api.Spread.byKey(cb, col("cell")).hint("SHUFFLE_HASH"),
        Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), simRounded(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }

  /** Semi-hard negative mining (the FaceNet triplet band applied to
    * corpus mining): per query, the top-k DIFFERENT-label vectors
    * whose similarity falls in `[pos_sim - margin, pos_sim)`, where
    * pos_sim is the query's hardest positive (max same-label sim).
    * Harder than random negatives, but excluded are the "too hard"
    * ones that outrank the positive itself — training on those mostly
    * teaches label noise. Complements [[hardNegatives]] (which keeps
    * the unconditioned top-k).
    *
    * All band arithmetic runs in exact 1e-6-unit LONG space
    * (marginMicro), so the band membership is integer-exact and
    * SQL-replayable. Two bounded-query-broadcast passes over the
    * corpus: one for pos_sim (a <=|queries|-row aggregate that rides
    * back on the broadcast side), one for the negatives; the corpus
    * streams partition-parallel in both, nothing corpus-sized
    * shuffles or broadcasts. Queries with no same-label counterpart
    * have no positive and are absent (the caller can't form a triplet
    * for them anyway). */
  def semiHardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      marginMicro: Long = 100000L): DataFrame = {
    def simq(a: Column, b: Column): Column =
      round(graft.functions.CosineSim.cosineSim(a, b) * lit(1e6)).cast("long")
    val qs = localized(queries.select(col("vec_id").as("qid"),
      col("embedding").as("qv"), col("label").as("qlabel")))
    val cb = corpus.select(col("vec_id").as("cid"),
      col("embedding").as("cv"), col("label").as("clabel"))
    val pos = broadcast(qs)
      .join(cb, col("qid") =!= col("cid") && col("qlabel") === col("clabel"))
      .groupBy(col("qid")).agg(max(simq(col("qv"), col("cv"))).as("pos_simq"))
    val negs = broadcast(qs.join(pos, Seq("qid")))
      .join(cb, col("qid") =!= col("cid") && col("qlabel") =!= col("clabel"))
      .select(col("qid"), col("cid"), col("clabel").as("neg_label"),
        simq(col("qv"), col("cv")).as("simq"), col("pos_simq"))
      .filter(col("simq") < col("pos_simq") &&
        col("simq") >= col("pos_simq") - lit(marginMicro))
    val w = Window.partitionBy(col("qid")).orderBy(col("simq").desc, col("cid"))
    negs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("neg_label"),
        (col("simq") / lit(1e6)).as("sim"),
        (col("pos_simq") / lit(1e6)).as("pos_sim"), col("rk"))
  }

  /** Mutual-kNN (shared-nearest-neighbor) clustering: an edge joins
    * two vectors iff EACH appears in the other's [[knnGraph]] top-k —
    * the standard symmetric cut that resists hub vectors (a hub that
    * rides many top-k lists only links where the relation is mutual,
    * so one generic centroid-ish embedding can't glue unrelated
    * clusters together the way a plain threshold does) — then
    * connected components label the clusters. Output matches the
    * q_embed_clusters shape (min-id cluster label, per-cluster count/
    * max/sum); vectors with no mutual edge are absent, the same
    * singleton contract as [[graft.dedup.Dedup.embeddingClusters]].
    * The graph frame is persisted for the mutuality self-join's two
    * readers and released once the components are checkpointed. */
  def knnClusters(corpus: DataFrame, k: Int, nlist: Int = 16,
      nprobe: Int = 4, iterations: Int = 3): DataFrame = {
    val g = knnGraph(corpus, k, nlist, nprobe, iterations)
      .select(col("qid"), col("cid"))
    // mutuality as ONE grouped pass over unordered endpoints (r18,
    // guide §2.4): (qid, cid) rows are unique per direction (top-k
    // per qid) and qid != cid, so an unordered pair occurs exactly
    // twice iff BOTH directions are in the graph — the old a⋈b
    // self-join shuffled g twice (each side keyed by a different
    // column order) and needed g persisted for its two readers; the
    // count==2 form shuffles g once and has a single consumer (cache
    // gone). Identical pair set by construction.
    val mutual = g
      .select(least(col("qid"), col("cid")).as("src"),
        greatest(col("qid"), col("cid")).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n2"))
      .filter(col("n2") === 2)
      .select(col("src"), col("dst"))
    graft.graph.Algorithms.connectedComponents(mutual)
      .groupBy(col("component").as("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"), max(col("vertex")).as("max_vec"),
        sum(col("vertex")).as("sum_vec"))
  }

  /** Semi-supervised label propagation over the [[knnGraph]]: scale
    * a seed labeling (vec_ids matching `seedFilter` keep their
    * `label` column, round 0) to the corpus by synchronous majority
    * vote — each round, every still-unlabeled vector adopts the most
    * common label among its already-labeled kNN out-neighbors (ties
    * break on the smaller label; vectors with no labeled neighbor
    * stay unlabeled and may resolve in a later round). Seeds are
    * clamped. Output (vec_id, label, round) exposes the full
    * trajectory — round t rows were assigned at round t — which is
    * what the unrolled oracle checks.
    *
    * 100 TB posture: the graph is built once (the measured
    * linear-in-candidates kNN-graph plan) and persisted at O(n·k)
    * rows; each round is one keyed join (votes = graph ⋈ labels on
    * the neighbor id, labels always a keyed side, nothing
    * corpus-sized broadcasts), one anti-join to restrict to
    * unlabeled nodes, one (qid,label) partial-agg and one top-1
    * rank window — all hit-sized. State is checkpointed per round
    * (bounded lineage), rounds are a small constant. */
  def labelPropagation(corpus: DataFrame, seedFilter: Column, k: Int,
      rounds: Int, nlist: Int = 16, nprobe: Int = 4,
      iterations: Int = 3): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val g = knnGraph(corpus, k, nlist, nprobe, iterations)
      .select(col("qid"), col("cid"))
      .persist(MEMORY_AND_DISK)
    val out = propagateLabels(g,
      corpus.filter(seedFilter).select(col("vec_id"), col("label")), rounds)
    g.unpersist(blocking = false)
    out
  }

  /** The propagation core of [[labelPropagation]], over an explicit
    * out-edge frame `g` (qid, cid) and `seeds` (vec_id, label).
    * Runs the rounds eagerly (state checkpointed per round). */
  def propagateLabels(g: DataFrame, seeds: DataFrame, rounds: Int)
      : DataFrame = {
    // r18: checkpoint each round's NEWLY-labeled rows only and keep
    // the label state as a union of the checkpointed pieces — the old
    // form re-materialized the WHOLE accumulated label set every
    // round (round t wrote |seeds| + Σ newly rows again), so the
    // per-round barrier cost grew with coverage instead of with the
    // delta. The union of ≤ rounds+1 checkpointed pieces is a shallow
    // plan whose pieces never recompute (truncated lineage), and
    // every join below reads it as cached blocks.
    var pieces: Seq[DataFrame] = Seq(seeds
      .select(col("vec_id"), col("label").cast("int").as("label"),
        lit(0).as("round"))
      .localCheckpoint(eager = true))
    for (t <- 1 to rounds) {
      val labels = pieces.reduce(_ unionByName _)
      val votes = g
        .join(labels.select(col("vec_id").as("cid"), col("label")), Seq("cid"))
        .join(labels.select(col("vec_id").as("qid")), Seq("qid"), "left_anti")
        .groupBy(col("qid"), col("label")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("label"))
      val newly = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("qid").as("vec_id"), col("label"), lit(t).as("round"))
      pieces = pieces :+ newly.localCheckpoint(eager = true)
    }
    pieces.reduce(_ unionByName _)
  }

  /** Margin-based bitext mining (the Artetxe/Schwenk 2019 criterion):
    * mine aligned pairs across two pools (source/target "languages")
    * by scoring each candidate pair's cosine against BOTH endpoints'
    * neighborhood averages — margin = sim·(cntA+cntB) div
    * (ΣNNk(a) + ΣNNk(b)) in integer ppm — and keeping only MUTUAL
    * best pairs above a threshold. The margin denominator is what
    * kills hub vectors: a generic embedding with a uniformly warm
    * neighborhood can't clear a ratio of ~1.
    *
    * Candidates are IVF cell-blocked exactly like [[knnGraph]]
    * (probe side explodes nprobe cells, base side keyed on its one
    * cell, SHUFFLE_HASH — nothing pool-sized broadcasts), in both
    * directions; neighborhood sums are top-k windows over the
    * candidate lists. Same recall contract as knnGraph: pairs
    * outside the probed cells are missed.
    *
    * Integer-exactness guard: pairs with nonpositive sim or
    * nonpositive neighborhood sum are dropped BEFORE the margin
    * division (they can't be bitext anyway, and Spark's `div`
    * truncates toward zero while DuckDB's `//` floors — they only
    * agree on nonnegative operands). All arithmetic stays < 2^63:
    * sim ≤ 1e6, counts ≤ 2k, so the numerator is ≤ 2k·1e12. */
  def bitextMine(corpus: DataFrame, isSrc: Column, isTgt: Column, k: Int,
      marginPpmMin: Long, nlist: Int = 16, nprobe: Int = 4,
      iterations: Int = 3): DataFrame = {
    import graft.functions.NearestCell
    import graft.graph.Algorithms
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def simMicro(a: Column, b: Column): Column =
      round(graft.functions.CosineSim.cosineSim(a, b) * lit(1e6)).cast("long")
    // quantizer trained on the WHOLE corpus (the knnGraph contract)
    val pts = corpus.select(col("vec_id").as("id"),
      col("embedding").as("features"))
    val cells = Algorithms.kMeansCentroids(pts, nlist, iterations)
    val a = corpus.filter(isSrc)
      .select(col("vec_id").as("aid"), col("embedding").as("av"))
    val b = corpus.filter(isTgt)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"))
    def blocked(probe: DataFrame, pv: String, base: DataFrame,
        basev: String): DataFrame =
      probe.withColumn("cell",
          explode(NearestCell.nearestCells(col(pv), cells, nprobe)))
        .join(base.withColumn("cell",
            NearestCell.nearestCell(col(basev), cells)).hint("SHUFFLE_HASH"),
          Seq("cell"))
        .select(col("aid"), col("bid"),
          simMicro(col("av"), col("bv")).as("simq"))
    val candAB = blocked(a, "av", b, "bv").persist(MEMORY_AND_DISK)
    val candBA = blocked(b, "bv", a, "av")
    def nnSum(cand: DataFrame, key: String, other: String): DataFrame = {
      val w = Window.partitionBy(col(key))
        .orderBy(col("simq").desc, col(other))
      cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .groupBy(col(key))
        .agg(sum(col("simq")).as(s"sum_$key"),
          count(lit(1)).as(s"cnt_$key"))
    }
    val margins = candAB
      .join(nnSum(candAB, "aid", "bid"), Seq("aid"))
      .join(nnSum(candBA, "bid", "aid"), Seq("bid"))
      .filter(col("simq") > 0 && (col("sum_aid") + col("sum_bid")) > 0)
      .select(col("aid"), col("bid"),
        expr("(simq * (cnt_aid + cnt_bid) * 1000000L) div (sum_aid + sum_bid)")
          .as("margin_ppm"))
      .persist(MEMORY_AND_DISK)
    val wa = Window.partitionBy(col("aid"))
      .orderBy(col("margin_ppm").desc, col("bid"))
    val wb = Window.partitionBy(col("bid"))
      .orderBy(col("margin_ppm").desc, col("aid"))
    val bestA = margins.withColumn("ra", row_number().over(wa))
      .filter(col("ra") === 1).drop("ra")
    val bestB = margins.withColumn("rb", row_number().over(wb))
      .filter(col("rb") === 1).drop("rb")
    val out = bestA.join(bestB, Seq("aid", "bid", "margin_ppm"))
      .filter(col("margin_ppm") >= marginPpmMin)
      .select(col("aid"), col("bid"), col("margin_ppm"))
    graft.api.Materialize.releasing(out, Seq(candAB, margins))
  }

  /** ANN top-k with multi-probe LSH: each query probes its own bucket
    * plus every bucket at Hamming distance 1 (flip one hyperplane
    * sign) — near-neighbors that land just across one hyperplane are
    * still found, which roughly triples recall over single-probe on
    * unclustered data. Probing expands only the (broadcast, bounded)
    * query side; the corpus keeps one bucket per vector, so the join
    * still touches ~ (planes+1)/2^planes of the corpus per query.
    * Recall vs brute force is asserted in SimilaritySpec. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 8, dim: Int = 64): DataFrame = {
    val cb = corpus.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      lshBucket(col("embedding"), planes, dim).as("bucket"))
    val probes = (0 until planes).foldLeft(array(col("bucket0"))) { (acc, p) =>
      concat(acc, array(col("bucket0").bitwiseXOR(lit(1 << p))))
    }
    val qb = broadcast(
      localized(queries.select(col("vec_id").as("qid"), col("embedding").as("qv")))
        .select(col("qid"), col("qv"),
          lshBucket(col("qv"), planes, dim).as("bucket0"))
        .withColumn("bucket", explode(probes))
        .drop("bucket0"))
    val cand = qb.join(cb, Seq("bucket")).filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), simRounded(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }
}
