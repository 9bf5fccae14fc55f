package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.engine()
    // warm up JVM/codegen/scheduler and parquet footers before timing:
    // the metric is query compute cost, not session startup/metadata IO
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    GraftSession.TableNames.foreach { n =>
      try Tables.t(spark, sfDir, n).schema catch { case _: Throwable => () }
    }
    // exercise the execution surface once on a tiny warmup SF (join,
    // broadcast, window, explode codegen paths + whole-stage compiler):
    // otherwise whichever query happens to run first absorbs several
    // seconds of one-time session setup that isn't its own cost.
    // METHODOLOGY (recorded in the output line as "warmup"): since
    // round 3 the suite is timed warm; totals are not comparable to
    // rounds 1-2, which timed the first query cold. The warmup dataset
    // comes from SPARK_GRAFT_WARMUP_DIR, defaulting to the sf0.001
    // sibling of the benched SF dir; if absent we warm on the benched
    // dir itself (still warm-methodology, just pricier warmup).
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001").getPath)
    val warmup = if (new java.io.File(warmupDir).isDirectory) warmupDir else sfDir
    Seq("q3_shipping_priority", "q_topk_per_group", "q_wordcount",
        "q_connected_components", "q_pagerank").foreach { n =>
      try SparkEntry.queries(n)(spark, warmup).count()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache() // warmup caches are not the benched SF's
    // METHODOLOGY (round 5, recorded below as "methodology"): each query
    // is timed `runs` times back-to-back and the MIN is reported. A
    // single timed pass on a shared VM swings 2-3x with neighbor load
    // (round 4's recorded 101s vs 55s warm re-run was pure contention);
    // min-of-N is the standard noise floor estimator for a deterministic
    // workload. Raw per-run times are kept in "runs" so any reader can
    // audit the spread instead of trusting the summary.
    val runsPerQuery =
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
        .getOrElse(3).max(1)
    // ---- canary (VERDICT r9 #2): a FIXED workload timed at suite
    // start/middle/end whose cost is independent of the benched SF and of
    // the query set. Round 9's postmortem: a ~33% box-wide slowdown made
    // a flat suite read as a 46% regression and the 1.5x pin fired on an
    // innocent query. The canary measures the box, so the pin can compare
    // box-normalized times and raw totals can be read alongside a
    // normalized twin. Three legs on purpose, matching the suite's
    // own cost mix (leg ratios measured via DevCanaryProfile on its
    // local[32] session, which last exists at commit 3d04a35): a
    // codegen'd CPU leg (range sum), a shuffle+join leg, and a
    // scheduler-latency leg (10 tiny single-stage jobs) — most suite
    // queries are many small stages, so driver/scheduler latency is a
    // large share of their time and a CPU-only canary under-reads
    // contention that steals wakeups rather than cycles.
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
    // each probe POINT is min-of-2: single-shot probes measured 40%
    // swings (1.62 -> 1.16 between back-to-back r10 runs) while the
    // suite moved 4% — driver GC / JIT state hits a 1-2 s probe much
    // harder than a 90 s suite, and min-of-2 discards exactly that
    def canaryProbe(): Double = math.min(canary(), canary())
    canary() // one untimed pass so the canary itself is warm-methodology
    // ---- execution order (VERDICT r11 #2): DETERMINISTICALLY SHUFFLED,
    // not alphabetical. Sorted-name order made every mid-suite
    // contention burst elevate a CONTIGUOUS ALPHABETICAL block (r11: one
    // burst -> 7 false flags across c-d) and a 3-probe canary missed the
    // burst entirely. Hashing each name with a per-round seed scatters
    // any time-local burst across the alphabet, so a contention window
    // now reads as SCATTERED flags (adjudicate as contention) while a
    // real regression stays the same single query under any seed. The
    // seed defaults to the query-set size — stable for a given code
    // state (same-code re-runs stay comparable run-to-run), changing
    // whenever the suite grows (each round re-rolls the order);
    // SPARK_GRAFT_BENCH_SEED overrides for A/B adjudication runs.
    val orderSeed =
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_SEED",
        SparkEntry.queries.size.toString).toInt)
        .getOrElse(SparkEntry.queries.size)
    val sortedQueries = SparkEntry.queries.toSeq.sortBy { case (name, _) =>
      (scala.util.hashing.MurmurHash3.stringHash(s"$name#$orderSeed"), name)
    }
    // ---- canary probes every PROBE_EVERY queries (VERDICT r11 #2), not
    // just start/mid/end: each query's normalization is attributed to
    // its own probe window (the mean of its two flanking probes), so a
    // mid-suite burst relaxes the pin exactly for the queries that ran
    // inside it and nowhere else. ~7 probes x ~2 s on a 181-query suite
    // is <10% overhead, none of it inside any query's timed region.
    val ProbeEvery = 30
    val probeTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val results = sortedQueries.zipWithIndex.map { case ((name, fn), i) =>
      if (i % ProbeEvery == 0) probeTimes += canaryProbe()
      val timed = (1 to runsPerQuery).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        // drop caches a lazy operator persisted for its own reuse (e.g.
        // the dedup shingle frames) so one run's leftover cache can't
        // pressure the next run's memory; not part of the timed work
        spark.catalog.clearCache()
        (dt, ok)
      }
      // a throwing run contributes NO time: a broken query must never
      // lower the min or the total — all-runs-failed queries land in
      // "failed", and queries that threw on SOME runs are surfaced in
      // "flaky" (their min over the successful runs still counts)
      val good = timed.collect { case (dt, true) => dt }
      (name, good.minOption, timed.map(_._1), timed.count(!_._2), i)
    }
    probeTimes += canaryProbe() // closing probe: every window has 2 ends
    val probes = probeTimes.toSeq
    // a query's window canary: mean of the probes flanking its position
    // (probe j precedes query j*ProbeEvery; the last probe follows the
    // last query)
    def windowCanary(i: Int): Double = {
      val j = math.min(i / ProbeEvery, probes.size - 2)
      (probes(j) + probes(j + 1)) / 2
    }
    // suite-level canary: MEDIAN of all probes — robust to any one probe
    // landing inside a transient spike, and the value the NEXT round's
    // per-window scales compare against
    val canaryNow = probes.sorted.apply(probes.size / 2)
    val failed = results.collect { case (k, None, _, _, _) => k }
    val flaky = results.collect {
      case (k, Some(_), _, nf, _) if nf > 0 => s"\"" + k + "\":" + nf
    }.mkString("{", ",", "}")
    val qs = results.collect {
      case (k, Some(v), _, _, _) => s"\"" + k + "\":" + v
    }.mkString("{", ",", "}")
    val raw = results.map { case (k, _, ts, _, _) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    // ---- committed per-query artifact + regression pin (VERDICT r7 #2).
    // The driver keeps only the last ~2000 chars of stdout, so the full
    // per-query detail is truncated there mid-alphabet; persisting it to
    // a repo file makes each round's per-query history auditable from
    // artifacts alone. Any query whose min exceeds 1.5x its committed
    // prior is flagged inline. HEURISTIC for readers (shuffled-order
    // era): a burst of SIMULTANEOUS flags on unrelated names is
    // VM/neighbor contention (the shuffled order scatters any
    // time-local burst across the alphabet, and each flag's own
    // window_canary shows the elevated probe), while a single
    // repeat-offender across runs is a real plan/code regression.
    // absolute default: the artifact must land in the repo regardless of
    // the launcher's working directory
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench/detail_latest.json")
    val priorTxt = scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(outPath)), "UTF-8")).getOrElse("")
    val priorQueries: Map[String, Double] =
      scala.util.Try {
        val qsect = priorTxt.substring(priorTxt.indexOf("\"queries\""))
        // whitespace-tolerant: hand-edited or python-rewritten priors
        // come with ": " separators, the Scala writer without
        "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9][0-9.Ee+-]*)".r.findAllMatchIn(
          qsect.substring(0, qsect.indexOf("}") + 1))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.getOrElse(Map.empty)
    // prior round's canary median, parsed from the committed detail file.
    // Absent in the first round after this lands -> scale 1.0 (raw pin).
    val priorCanary: Option[Double] =
      "\"canary_median\"\\s*:\\s*([0-9][0-9.Ee+-]*)".r.findFirstMatchIn(priorTxt)
        .map(_.group(1).toDouble)
    // baseline provenance (VERDICT r11 #8): the commit + canary the pin
    // compares against, copied INTO this detail so adjudicating a flag
    // needs only this one file. The commit of THIS run is recorded too
    // (read from .git, no subprocess) and becomes the next run's
    // baseline_commit once committed.
    def gitHead(): String = scala.util.Try {
      // locate .git by walking up from the detail path (falls back to
      // the launch cwd) — the bench may be launched from anywhere
      val start = Option(java.nio.file.Paths.get(outPath).getParent)
        .getOrElse(java.nio.file.Paths.get(
          sys.props.getOrElse("user.dir", ".")))
      val gitDir = Iterator.iterate(start.toAbsolutePath)(_.getParent)
        .takeWhile(_ != null).take(16)
        .map(_.resolve(".git"))
        .find(java.nio.file.Files.isDirectory(_))
        .get
      def read(p: java.nio.file.Path): String =
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val headTxt = read(gitDir.resolve("HEAD")).trim
      if (headTxt.startsWith("ref: ")) {
        val ref = headTxt.stripPrefix("ref: ")
        val loose = gitDir.resolve(ref)
        if (java.nio.file.Files.exists(loose)) read(loose).trim
        else {
          // packed refs (after git pack-refs/gc the loose file is gone)
          read(gitDir.resolve("packed-refs")).linesIterator
            .filterNot(l => l.startsWith("#") || l.startsWith("^"))
            .collectFirst { case l if l.endsWith(" " + ref) =>
              l.split(" ")(0) }
            .get
        }
      } else headTxt
    }.getOrElse("unknown")
    val baselineCommit =
      "\"commit\"\\s*:\\s*\"([0-9a-f]+)\"".r.findFirstMatchIn(priorTxt)
        .map(_.group(1)).getOrElse("unknown")
    // scale = how much slower THIS box is than the prior round's box on
    // identical fixed work. Clamped to [0.5, 4]: outside that the canary
    // itself is suspect (e.g. a canary run landed inside an extreme
    // spike) and a wrong aggressive normalization would hide a real
    // regression — better to pin near-raw and let the committed canary
    // numbers tell the adjudication story.
    def clampScale(now: Double): Double = priorCanary match {
      case Some(p) if p > 0 => math.min(4.0, math.max(0.5, now / p))
      case _ => 1.0
    }
    val canaryScale = clampScale(canaryNow)
    // the pin compares NORMALIZED values (VERDICT r9 #2), normalized by
    // the query's OWN probe window (VERDICT r11 #2): a query is a
    // regression only if it is slow relative to how slow the box was
    // WHILE IT RAN. v/scale_i > 1.5*prior <=> v > 1.5*prior*scale_i.
    // ASYMMETRIC on purpose: normalization exists to absorb box
    // SLOWDOWNS; a canary that comes back FASTER than the prior run
    // must never tighten the pin below the raw comparison — canary
    // variance would manufacture regressions out of flat queries
    // (observed in r10: canary 1.85 -> 1.21 between runs while the
    // whole suite stayed flat; a symmetric pin flagged a dozen flat
    // queries). The cost is that a genuinely-faster box can mask a
    // sub-50% regression for one round — the committed per-query
    // detail still shows it raw.
    def pinScaleAt(i: Int): Double = math.max(1.0, clampScale(windowCanary(i)))
    // tiered threshold: sub-0.5 s queries swing up to ~1.7x between
    // back-to-back min-of-3 runs on a FLAT box (r10 measured: three
    // <0.5 s queries fired at scale 1.007 while every >=0.5 s query
    // stayed quiet) — scheduler jitter is a fixed ~50-100 ms cost that
    // is relative noise only below ~0.5 s. 2.5x still catches a real
    // small-query regression (the injected 3x validation case fires).
    def pinThreshold(p: Double, i: Int): Double =
      (if (p < 0.5) 2.5 else 1.5) * p * pinScaleAt(i)
    val regressions = results.collect {
      case (k, Some(v), _, _, i)
        if priorQueries.get(k).exists(p => v > pinThreshold(p, i)) =>
        s"\"" + k + "\":{\"prior\":" + priorQueries(k) + ",\"now\":" + v +
          ",\"now_normalized\":" + (v / clampScale(windowCanary(i))) +
          ",\"window_canary\":" + windowCanary(i) +
          ",\"effective_threshold\":" + pinThreshold(priorQueries(k), i) + "}"
    }.mkString("{", ",", "}")
    // Locale.ROOT: the f-interpolator follows the default locale, and
    // a comma-decimal locale would emit invalid JSON into the artifact
    val probesJson = probes
      .map(t => String.format(java.util.Locale.ROOT, "%.4f", Double.box(t)))
      .mkString("[", ",", "]")
    val canaryJson =
      s""""canary_probes":$probesJson,"probe_every":$ProbeEvery,"order_seed":$orderSeed,"canary_median":$canaryNow,"canary_prior":${priorCanary.getOrElse(-1.0)},"canary_scale":$canaryScale,"commit":"${gitHead()}","baseline_commit":"$baselineCommit","baseline_canary":${priorCanary.getOrElse(-1.0)},"value_normalized":${total / canaryScale}"""
    val detail = s"""{"metric":"total_detail","value":$total,"unit":"sec",$canaryJson,"queries":$qs,"runs":$raw,"failed":$failedJson,"flaky_run_failures":$flaky,"regressions_vs_prior_normalized":$regressions,"n_prior":${priorQueries.size},"sf":"$sfDir","warmup":"$warmup","methodology":"warm min-of-$runsPerQuery per query, run in a deterministically shuffled order (hash of name + order_seed, seed defaults to the query count) so a time-local contention burst scatters across names instead of elevating an alphabetical block; regression pin is canary-normalized PER PROBE WINDOW (min-of-2 canary probe every $ProbeEvery queries, each query normalized by the mean of its two flanking probes vs the prior committed canary_median, scale clamped to [0.5,4], pin uses max(1,scale) — slowdowns relax it, a faster canary never tightens below raw; threshold 1.5x, or 2.5x for sub-0.5s priors where scheduler jitter dominates); under the shuffled order SCATTERED simultaneous flags = contention, an isolated repeat-offender = regression"}"""
    scala.util.Try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, detail.getBytes("UTF-8"))
    }.failed.foreach(e => println(s"WARN: could not write $outPath: $e"))
    // full audit line first (per-query mins + raw runs), then a compact
    // total-only line LAST: the driver keeps only the final ~2000 chars of
    // stdout, and the full line outgrew that window in round 5 — the tail
    // must always contain a parseable headline total
    println(detail)
    println(s"""{"metric":"total","value":$total,"unit":"sec","value_normalized":${total / canaryScale},"canary_median":$canaryNow,"canary_scale":$canaryScale,"order_seed":$orderSeed,"commit":"${gitHead()}","baseline_commit":"$baselineCommit","baseline_canary":${priorCanary.getOrElse(-1.0)},"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"flaky_run_failures":$flaky,"regressions_vs_prior_normalized":$regressions,"sf":"$sfDir","methodology":"warm min-of-$runsPerQuery per query, shuffled order, per-window canary-normalized pin; per-query detail committed at $outPath"}""")
    spark.stop()
  }
}
