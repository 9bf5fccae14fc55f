package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What a layer call does, for the mutate / search split of the index
  * lifecycles. A unit span (one registered query) has kind `unit`. */
object Kind {
  val Unit = "unit"
  val Mutate = "mutate"
  val Search = "search"
  val Compute = "compute"
}

/** One call into a layer's public function: its window in epoch
  * milliseconds (the clock Spark stamps its events with, used for
  * attribution) and its duration from the monotonic clock. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    pass: Int, startMs: Long, endMs: Long, seconds: Double, gcMs: Long)

/** Keeps one span per call in memory. Calls are issued one at a time
  * from the driver thread, so spans nest strictly. */
final class Calls {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  var pass = 0

  def apply[T](name: String, kind: String)(body: => T): T = {
    val id = spans.size
    val gc0 = Calls.gcMillis()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    spans += Span(id, name, kind, open.headOption.getOrElse(-1), pass,
      startMs, startMs, 0.0, 0L)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endMs = System.currentTimeMillis(),
        seconds = (System.nanoTime() - t0) / 1e9, gcMs = Calls.gcMillis() - gc0)
    }
  }

  def json: String = Json(spans.map(s => LinkedHashMap[String, Any](
    "id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
    "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
    "seconds" -> s.seconds)))
}

object Calls {
  /** Collection time of every collector of this JVM (driver and, in
    * local mode, the executors too). */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }
}

/** Engine events of the traced run: a `SparkListener` for jobs, stages
  * and tasks, and a `QueryExecutionListener` for Catalyst phase times
  * and write-command metrics. Both sit on the shared listener queue,
  * so a fence job orders them after everything posted before it. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long, endMs: Long)
  final case class Task(launchMs: Long, runMs: Long, cpuNs: Long,
      retry: Boolean, shuffleBytes: Long, spillBytes: Long)
  final case class Query(atMs: Long, catalystMs: Long, commitMs: Long,
      files: Long, bytes: Long)

  private val jobStarts = LinkedHashMap.empty[Int, Long]
  private val jobEnds = LinkedHashMap.empty[Int, Long]
  private val stageTimes = ArrayBuffer.empty[Long]
  private val taskRows = ArrayBuffer.empty[Task]
  private val queryRows = ArrayBuffer.empty[Query]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = e.time
    notifyAll()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageTimes += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) taskRows += Task(i.launchTime, m.executorRunTime,
      m.executorCpuTime, i.attemptNumber > 0 || i.speculative,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val w = EngineListener.writeMetrics(qe.executedPlan)
      synchronized {
        queryRows += Query(phases.map(_.endTimeMs).max, phases.map(_.durationMs).sum,
          w.getOrElse("taskCommitTime", 0L) + w.getOrElse("jobCommitTime", 0L),
          w.getOrElse("numFiles", 0L), w.getOrElse("numOutputBytes", 0L))
      }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Run a one-task job and wait until its end event arrives: every
    * event posted before it has then been delivered. */
  def fence(sc: SparkContext): Unit = {
    sc.setJobGroup("perfbench-fence", "listener fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val ids = sc.statusTracker.getJobIdsForGroup("perfbench-fence").toSet
    val deadline = System.currentTimeMillis() + 60000
    synchronized {
      while (!ids.forall(jobEnds.contains) && System.currentTimeMillis() < deadline)
        wait(100)
    }
  }

  def jobs: Seq[Job] = synchronized {
    jobStarts.toSeq.map { case (id, s) => Job(id, s, jobEnds.getOrElse(id, s)) }
  }
  def stages: Seq[Long] = synchronized(stageTimes.toSeq)
  def tasks: Seq[Task] = synchronized(taskRows.toSeq)
  def queries: Seq[Query] = synchronized(queryRows.toSeq)
}

object EngineListener {
  private val WriteMetricNames =
    Set("taskCommitTime", "jobCommitTime", "numFiles", "numOutputBytes")

  /** Sum of the write command metrics found anywhere in a physical
    * plan, looking through command results, AQE and query stages. */
  def writeMetrics(plan: SparkPlan): Map[String, Long] = {
    val acc = scala.collection.mutable.Map.empty[String, Long]
    def walk(p: SparkPlan): Unit = {
      p.metrics.foreach { case (k, m) =>
        if (WriteMetricNames(k)) acc(k) = acc.getOrElse(k, 0L) + m.value
      }
      p match {
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(plan)
    acc.toMap
  }
}

/** Turns spans and engine events into per-layer metrics. Each event is
  * attributed to the innermost span whose window contains its time;
  * engine totals cover the unit spans (the timed region) only. */
final class Attribution(spans: Seq[Span], l: EngineListener, cores: Int) {
  private val byId = spans.map(s => s.id -> s).toMap

  private def innermost(t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.id)

  private def root(s: Span): Span =
    if (s.parent < 0) s else root(byId(s.parent))

  private val jobs = l.jobs.map(j => (j, innermost(j.startMs)))
  private val tasks = l.tasks.map(t => (t, innermost(t.launchMs)))
  private val stages = l.stages.map(innermost)
  private val queries = l.queries.map(q => (q, innermost(q.atMs)))

  /** Length of the union of `intervals`, clipped to [lo, hi], seconds. */
  private def unionSeconds(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > cur._2) { total += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, cur._2 max b)
    }
    if (cur._1 != Long.MinValue) total += cur._2 - cur._1
    total / 1000.0
  }

  private def inUnit(s: Option[Span], pass: Int): Boolean =
    s.exists(x => root(x).pass == pass)

  /** The 16 engine metrics of one pass. */
  def engine(pass: Int): Map[String, Double] = {
    val units = spans.filter(s => s.parent < 0 && s.pass == pass)
    val wall = units.map(_.seconds).sum
    val passJobs = jobs.filter(j => inUnit(j._2, pass)).map(_._1)
    val active = units.map(u =>
      unionSeconds(passJobs.map(j => (j.startMs, j.endMs)), u.startMs, u.endMs)).sum
    val ts = tasks.filter(t => inUnit(t._2, pass)).map(_._1)
    val qs = queries.filter(q => inUnit(q._2, pass)).map(_._1)
    val runS = ts.map(_.runMs).sum / 1000.0
    Map(
      "spark.jobs" -> passJobs.size.toDouble,
      "spark.stages" -> stages.count(inUnit(_, pass)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_retries" -> ts.count(_.retry).toDouble,
      "spark.job_active_s" -> active,
      "spark.driver_only_s" -> (wall - active),
      "spark.catalyst_s" -> qs.map(_.catalystMs).sum / 1000.0,
      "spark.commit_s" -> qs.map(_.commitMs).sum / 1000.0,
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> units.map(_.gcMs).sum / 1000.0,
      "spark.core_occupancy" -> (if (wall > 0) runS / (wall * cores) else 0.0),
      "spark.shuffle_write_mb" -> ts.map(_.shuffleBytes).sum / 1e6,
      "spark.spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
      "spark.output_mb" -> qs.map(_.bytes).sum / 1e6,
      "spark.files_written" -> qs.map(_.files).sum.toDouble)
  }

  /** Per-call metrics of one pass, keyed `<call>.<metric>`, summed over
    * every span with that call name. */
  def calls(pass: Int): Map[String, Double] = {
    val named = spans.filter(s => s.parent >= 0 && s.pass == pass).groupBy(_.name)
    named.toSeq.flatMap { case (name, ss) =>
      val ids = ss.map(_.id).toSet
      val own = (o: Option[Span]) => o.exists(s => ids(s.id))
      val callS = ss.map(_.seconds).sum
      val callJobs = jobs.filter(j => own(j._2)).map(_._1)
      val active = ss.map(s =>
        unionSeconds(callJobs.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)).sum
      val runS = tasks.filter(t => own(t._2)).map(_._1.runMs).sum / 1000.0
      Seq(s"$name.call_s" -> callS,
        s"$name.jobs" -> callJobs.size.toDouble,
        s"$name.driver_only_s" -> (callS - active),
        s"$name.executor_run_s" -> runS,
        s"$name.core_occupancy" -> (if (callS > 0) runS / (callS * cores) else 0.0))
    }.toMap
  }
}
