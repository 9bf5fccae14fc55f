package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver. Runs one workload's units pass after pass in one
  * session and prints one result line (JSON, prefixed `PERFBENCH `);
  * the oracle check and the final report are done by perfbench/run.py.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --cores C
  *       --data DIR --work DIR
  */
object Main {
  /** Session builds (with their table-footer reads) per run; setup_s
    * takes their median. */
  val SetupRepeats = 3

  /** Units run side by side in the warm-up. Most first-run cost is
    * single-threaded code generation and JIT work, which overlaps well;
    * the timed passes run one unit at a time. */
  val WarmupThreads = 3

  /** The engine conf of graft.Bench and graft.Verify, so the benchmark
    * times the engine the oracle gate covers. */
  def engineConf(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.constraintPropagation.enabled" -> "false")

  final case class UnitRun(query: String, pass: Int, out: Option[Out],
      error: Option[String], storedBytes: Long, heapMb: Double, cpuS: Double,
      leaks: Seq[String], digest: String)

  def main(args: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val mainStart = System.nanoTime()
    val timeline = LinkedHashMap.empty[String, Any]
    def mark(phase: String): Unit = timeline(phase) = (System.nanoTime() - mainStart) / 1e9
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val units = Workloads(workload)
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val data = Paths.get(a("data")).toAbsolutePath.toString
    val work = Paths.get(a("work")).toAbsolutePath
    val warehouse = work.resolve("warehouse")
    val rootsDir = work.resolve("roots")
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    Seq(warehouse, rootsDir, work.resolve("local")).foreach(Files.createDirectories(_))

    // ---- set-up: session build + table-footer reads, repeated; then
    // the untimed warm-up
    def build(): SparkSession = {
      val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      engineConf(cores).foreach { case (k, v) => b.config(k, v) }
      val s = b.config("spark.sql.warehouse.dir", warehouse.toString)
        .config("spark.local.dir", work.resolve("local").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      Workloads.tables(workload).foreach(n => graft.Tables.t(s, data, n).schema)
      s
    }
    val sessionS = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val s = build()
      if (i < SetupRepeats) s.stop()
      (System.nanoTime() - t0) / 1e9
    }
    val spark = SparkSession.active
    mark("setup")
    val calls = new Calls
    val listener = new EngineListener
    val runs = ArrayBuffer.empty[UnitRun]
    val rng = new scala.util.Random(seed)

    def runUnit(u: BenchUnit, pass: Int): Unit = {
      val ctx = new Ctx(spark, data, rootsDir, calls)
      val tmpBefore = entries(tmpDir).toSet
      val cpu0 = processCpuNs()
      val result = attempt(calls(u.query, Kind.Unit)(u.run(ctx)))
      val cpuS = (processCpuNs() - cpu0) / 1e9
      // untimed from here: size the stored state, read the live heap,
      // then tear the unit down and check that nothing is left
      val stored = dirBytes(warehouse) + ctx.roots.map(dirBytes).sum
      val heap = liveHeapMb()
      teardown(spark, ctx.roots.toSeq)
      val leaks = leftovers(spark, warehouse, rootsDir) ++
        entries(tmpDir).filterNot(tmpBefore).map(p => s"file $p")
      runs += UnitRun(u.query, pass, result.toOption, result.left.toOption,
        stored, heap, cpuS, leaks, result.map(digest).getOrElse(""))
    }

    def runPass(pass: Int): Unit = {
      calls.pass = pass
      val withTrace = traced && pass % 2 == 0
      if (withTrace) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
      }
      rng.shuffle(units).foreach(runUnit(_, pass))
      if (withTrace) {
        listener.fence(spark.sparkContext)
        spark.listenerManager.unregister(listener)
        spark.sparkContext.removeSparkListener(listener)
      }
    }

    /** Pass 0, untimed: every unit and the canary once, side by side.
      * Some units set session conf for their own duration, which can
      * interleave, so the conf is restored afterwards. */
    def warmUp(): Unit = {
      val conf = spark.conf.getAll
      val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmupThreads)
      val done = try {
        val warmCanary = pool.submit(() => canary(spark))
        val tasks = rng.shuffle(units).map { u =>
          pool.submit(() => {
            val ctx = new Ctx(spark, data, rootsDir, new Calls)
            (u, ctx, attempt(u.run(ctx)))
          })
        }
        warmCanary.get()
        tasks.map(_.get())
      } finally pool.shutdown()
      teardown(spark, done.flatMap(_._2.roots))
      (spark.conf.getAll.keySet -- conf.keySet).foreach(spark.conf.unset)
      conf.foreach { case (k, v) => if (spark.conf.getOption(k) != Some(v)) spark.conf.set(k, v) }
      val leaks = leftovers(spark, warehouse, rootsDir)
      done.foreach { case (u, _, r) =>
        runs += UnitRun(u.query, 0, r.toOption, r.left.toOption, 0L, 0.0, 0.0, leaks,
          r.map(digest).getOrElse(""))
      }
    }

    val w0 = System.nanoTime()
    warmUp()
    val warmupS = (System.nanoTime() - w0) / 1e9
    mark("warmup")
    // timed passes: until `seconds` have been measured; a traced run
    // alternates untraced and traced passes, and makes at least three so
    // that an untraced pass follows its first traced one
    val canaryBefore = canary(spark)
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < (if (traced) 3 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass += 1
      runPass(pass)
    }
    val canaryS = Seq(canaryBefore, canary(spark))
    val passes = 1 to pass
    mark("timed")

    // ---- checks: every pass returns the same rows; the last pass's
    // rows are written for the oracle check
    val failures = ArrayBuffer.empty[LinkedHashMap[String, Any]]
    def fail(r: UnitRun, reason: String): Unit =
      failures += LinkedHashMap("query" -> r.query, "pass" -> r.pass, "reason" -> reason)
    runs.foreach { r =>
      r.error.foreach(fail(r, _))
      if (r.error.isEmpty && r.digest != runs.find(_.query == r.query).get.digest)
        fail(r, "rows differ from the warm-up")
      if (r.pass > 0 && r.leaks.nonEmpty) fail(r, "left behind: " + r.leaks.mkString(", "))
    }
    runs.find(r => r.pass == 0 && r.leaks.nonEmpty).foreach(r =>
      fail(r, "left behind by the warm-up: " + r.leaks.mkString(", ")))
    val outputs = LinkedHashMap.empty[String, String]
    units.foreach { u =>
      runs.filter(r => r.query == u.query && r.pass == pass).head.out.foreach { o =>
        val path = work.resolve("out").resolve(u.query).toString
        spark.createDataFrame(o.rows.toSeq.asJava, o.schema).coalesce(1)
          .write.mode("overwrite").parquet(path)
        outputs(u.query) = path
      }
    }

    // ---- metrics
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def perPass(ps: Seq[Int])(f: Int => Double): Double = med(ps.map(f))
    val spans = calls.spans.toSeq
    def spanSum(p: Int, keep: Span => Boolean): Double =
      spans.filter(s => s.pass == p && keep(s)).map(_.seconds).sum
    def wallOf(p: Int): Double = spanSum(p, _.parent < 0)
    val untracedPasses = passes.filter(p => !(traced && p % 2 == 0))
    val tracedPasses = passes.filter(p => traced && p % 2 == 0)
    val passWalls = untracedPasses.map(wallOf)
    val e2e = LinkedHashMap[String, Any](
      "wall_s" -> med(passWalls),
      "wall_norm" -> med(passWalls) / med(canaryS),
      "setup_s" -> (jvmStartS + med(sessionS) + warmupS),
      "cpu_s" -> perPass(untracedPasses)(p => runs.filter(_.pass == p).map(_.cpuS).sum),
      "heap_live_peak_mb" -> perPass(untracedPasses)(p =>
        runs.filter(_.pass == p).map(_.heapMb).max),
      "mutate_s" -> perPass(untracedPasses)(spanSum(_, _.kind == Kind.Mutate)),
      "search_s" -> perPass(untracedPasses)(spanSum(_, _.kind == Kind.Search)),
      "stored_mb" -> perPass(untracedPasses)(p =>
        runs.filter(_.pass == p).map(_.storedBytes).sum / 1e6))
    val layer = LinkedHashMap.empty[String, Any]
    if (traced) {
      val attr = new Attribution(spans.filter(s => tracedPasses.contains(s.pass)),
        listener, cores)
      val byPass = tracedPasses.map(p => attr.engine(p) ++ attr.calls(p))
      byPass.flatMap(_.keys).distinct.sorted.foreach { k =>
        layer(k) = med(byPass.map(_.getOrElse(k, 0.0)))
      }
      // each traced pass against the untraced pass after it: while the
      // JIT still warms, later passes run faster, so this bounds the
      // overhead from above
      layer("trace.overhead_s") = med(tracedPasses.filter(p => passes.contains(p + 1))
        .map(p => wallOf(p) - wallOf(p + 1)))
      Seq("mutate_s", "search_s", "stored_mb").foreach(k => layer(s"index.$k") = e2e(k))
      layer("jvm.heap_live_peak_mb") = e2e("heap_live_peak_mb")
      Files.write(work.resolve("spans.json"), calls.json.getBytes("UTF-8"))
    }

    val result = LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed,
      "units" -> units.map(_.query), "passes" -> pass,
      "attempted" -> runs.count(_.pass > 0), "failures" -> failures,
      "e2e" -> e2e, "layer" -> layer,
      "setup" -> LinkedHashMap("jvm_start_s" -> jvmStartS,
        "session_s" -> sessionS, "warmup_s" -> warmupS),
      "pass_wall_s" -> passWalls,
      "canary_s" -> canaryS,
      "unit_s" -> LinkedHashMap(units.map(u => u.query -> perPass(untracedPasses)(p =>
        spanSum(p, s => s.parent < 0 && s.name == u.query))): _*),
      "timeline_s" -> timeline,
      "env" -> LinkedHashMap("cores" -> cores,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version,
        "conf" -> LinkedHashMap(engineConf(cores): _*)),
      "outputs" -> outputs,
      "oracle_sql" -> LinkedHashMap(units.map(u =>
        u.query -> graft.SparkEntry.oracleSql(u.query)): _*))
    mark("outputs")
    spark.stop()
    mark("stop")
    println("PERFBENCH " + Json(result))
  }

  /** Fixed engine work that runs no graft code — a code-generated CPU
    * leg, a shuffle and join leg and six tiny jobs, half the mix of
    * graft.Bench's canary — probed before and after the timed passes.
    * Its time tracks how fast the shared machine runs right now;
    * dividing by it gives `wall_norm`, the canary-normalized twin of
    * `wall_s`. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(2000000L).selectExpr("sum(id * 2)").collect()
    val a = spark.range(100000L).selectExpr("id % 1000 as k", "id as v")
    val b = spark.range(1000L).selectExpr("id as k", "id * 3 as w")
    a.groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("sv"))
      .join(b, "k").selectExpr("sum(sv + w)").collect()
    (1 to 6).foreach(_ => spark.range(0, 3200, 1, 32).selectExpr("sum(id)").collect())
    (System.nanoTime() - t0) / 1e9
  }

  /** Order-insensitive digest of a unit's rows. */
  def digest(o: Out): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    o.rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** CPU time of this JVM: driver, executors (local mode), JIT and GC. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }

  /** Heap in use right after a full collection, read from the GC
    * MXBeans' last-collection record. */
  def liveHeapMb(): Double = {
    System.gc()
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val last = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: com.sun.management.GarbageCollectorMXBean => b.getLastGcInfo }
      .filter(_ != null).maxBy(_.getEndTime)
    last.getMemoryUsageAfterGc.asScala.collect {
      case (pool, u) if heapPools(pool) => u.getUsed
    }.sum / 1e6
  }

  def attempt[T](body: => T): Either[String, T] =
    try Right(body)
    catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** Drop every table, cached frame and checkpointed block, and the
    * units' index roots. */
  def teardown(spark: SparkSession, roots: Seq[Path]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect().filterNot(_.isTemporary)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    roots.foreach(deleteTree)
  }

  /** What teardown could not remove: tables, persisted blocks, and
    * files in the warehouse or the index roots. */
  def leftovers(spark: SparkSession, dirs: Path*): Seq[String] = {
    val tables = spark.catalog.listTables().collect().filterNot(_.isTemporary)
      .map(t => s"table ${t.name}")
    val blocks = spark.sparkContext.getPersistentRDDs.keys.map(id => s"rdd $id")
    (tables ++ blocks).toSeq ++ dirs.flatMap(entries).map(p => s"file $p")
  }

  def entries(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    val paths = try walk.iterator().asScala.toSeq finally walk.close()
    paths.reverse.foreach(Files.deleteIfExists(_))
  }
}

/** Minimal JSON encoder for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
