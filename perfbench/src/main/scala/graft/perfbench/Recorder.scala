package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionStart => SQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` names the span that caused it; spans of one
  * operation share its `op` id. Times are epoch milliseconds.
  */
final case class Span(
    id: String, parent: String, op: String, kind: String, name: String,
    start: Double, end: Double, attrs: Map[String, Any] = Map.empty)

/** Task-time sum for the host-noise marker: cheap enough to stay on in
  * untraced runs (one atomic add per task).
  */
final class TaskTime extends SparkListener {
  private val runMs = new java.util.concurrent.atomic.AtomicLong()
  def totalMs: Long = runMs.get
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null) runMs.addAndGet(t.taskMetrics.executorRunTime)
}

/** The traced run's recorder: a benchmark-owned SparkListener and
  * QueryExecutionListener. Everything is kept in memory and turned into
  * spans and per-layer figures after the run. (Micro-batch progress comes
  * from the query's own `recentProgress`, which untraced runs need too.)
  */
final class Recorder(spark: SparkSession, harnessModule: String) {
  import Recorder._

  final case class Job(id: Int, start: Long, group: String, execId: Long,
      site: String, siteLong: String, stages: Seq[Int]) {
    @volatile var end: Long = start
  }
  final case class Task(stage: Int, launch: Long, finish: Long, run: Long, cpuNs: Long,
      deser: Long, gc: Long, delay: Long, shufRead: Long, shufWrite: Long,
      fetchWait: Long, spill: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val stageInfo = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Long)]()
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  // (end of the last planning phase, ms spent in the three phases)
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()
  private val blockMem = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  @volatile private var storageNow = 0L
  @volatile var storagePeak = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val first = e.stageInfos.sortBy(_.stageId).headOption
      jobs.put(e.jobId, Job(e.jobId, e.time, prop("spark.jobGroup.id").getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        first.map(_.name).getOrElse(""), first.map(_.details).getOrElse(""),
        e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stageInfo.put(s.stageId, (s.name, s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime)
        tasks.add(Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime, m.executorDeserializeTime, m.jvmGCTime, delay,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      val key = b.blockId.name
      val mem = if (b.storageLevel.isValid) b.memSize else 0L
      val old = Option(blockMem.put(key, mem)).getOrElse(0L)
      storageNow += mem - old
      if (storageNow > storagePeak) storagePeak = storageNow
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SQLExecutionStart => execSite.put(s.executionId, s.details)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      if (ph.nonEmpty)
        plans.add((ph.map(_.endTimeMs).max, ph.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Detach, after the listener bus has delivered everything queued. */
  def stop(): Unit = {
    drainBus(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0

  /** The module that launched a job: the innermost frame of its call site
    * in one of `Modules`. AQE stage jobs carry the call site of the thread
    * pool that submits them, so a job inside a SQL execution is attributed
    * through that execution's call site instead of its own. A call site with
    * no such frame goes to `harnessModule`: on the batch side
    * that is the harness's action on the frame a query builder returned; a
    * streaming query stamps every job with the call site of its `start()`.
    */
  def moduleOf(j: Job): String = {
    val site = Option(execSite.get(j.execId)).getOrElse(j.siteLong)
    site.split('\n').map(_.trim.stripPrefix("at ")).filter(_.startsWith("graft."))
      .map(_.split('.')(1)).find(Modules.contains).getOrElse(harnessModule)
  }

  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  def allTasks: Seq[Task] = tasks.asScala.toSeq
  def planSpans: Seq[(Long, Double)] = plans.asScala.toSeq
  def stageName(id: Int): Option[(String, Long, Long)] = Option(stageInfo.get(id))
}

object Recorder {
  /** Modules a job can be attributed to (the repository's package names). */
  val Modules: Seq[String] =
    Seq("sources", "queries", "cli", "operators", "expressions", "ml", "streaming")

  /** Wait until the asynchronous listener bus has delivered every event
    * posted so far (listener figures are read right after).
    */
  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
}

/** Turns the recorder's events into spans and per-layer figures for the
  * given operations (jobs are matched by job group, else by start time).
  */
final class LayerReport(rec: Recorder, ops: Seq[OpSpan], cores: Int) {

  private val jobsByOp: Map[OpSpan, Seq[rec.Job]] = {
    val byGroup = ops.map(o => o.group -> o).toMap
    rec.allJobs.flatMap { j =>
      byGroup.get(j.group).orElse(ops.find(o => j.start >= o.start && j.start <= o.end))
        .map(_ -> j)
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }
  private val stageToJob: Map[Int, rec.Job] =
    jobsByOp.values.flatten.flatMap(j => j.stages.map(_ -> j)).toMap
  private val tasksByJob: Map[Int, Seq[rec.Task]] =
    rec.allTasks.flatMap(t => stageToJob.get(t.stage).map(_.id -> t)).groupMap(_._1)(_._2)

  private def tasksOf(js: Iterable[rec.Job]): Seq[rec.Task] =
    js.toSeq.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
  private val measuredJobs = jobsByOp.values.flatten.toSeq
  private val measuredTasks = tasksOf(measuredJobs)

  /** Union length (ms) of [start, end] intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cur = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  def spans: Seq[Span] = ops.flatMap { o =>
    val opId = o.group
    val base = Seq(
      Span(opId, "", opId, "operation", o.name, o.start, o.end, Map("pass" -> o.pass)),
      Span(s"$opId/build", opId, opId, "build", o.name, o.start, o.built),
      Span(s"$opId/action", opId, opId, "action", o.name, o.built, o.end))
    val plan = rec.planSpans.filter(p => p._1 >= o.built && p._1 <= o.end).map { case (end, ms) =>
      Span(s"$opId/plan@$end", s"$opId/action", opId, "plan", o.name, end - ms, end.toDouble)
    }
    val js = jobsByOp.getOrElse(o, Nil).flatMap { j =>
      val parent = if (j.start < o.built) s"$opId/build" else s"$opId/action"
      val jid = s"job-${j.id}"
      Seq(Span(jid, parent, opId, "job", j.site, j.start, j.end,
        Map("module" -> rec.moduleOf(j), "group" -> j.group, "sql_execution" -> j.execId))) ++
        j.stages.flatMap { s =>
          rec.stageName(s).map { case (n, a, b) =>
            Span(s"stage-$s", jid, opId, "stage", n, a, b) }
        } ++ tasksByJob.getOrElse(j.id, Nil).map { t =>
          Span(s"task-${t.stage}-${t.launch}", s"stage-${t.stage}", opId, "task", s"stage ${t.stage}",
            t.launch, t.finish, Map("run_ms" -> t.run, "gc_ms" -> t.gc))
        }
    }
    base ++ plan ++ js
  }

  /** Per-layer figures summed over the given operations. */
  def figures: Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val wall = ops.map(o => o.end - o.start).sum
    var buildMs, betweenMs = 0.0
    var buildJobs = 0
    ops.foreach { o =>
      val inBuild = jobsByOp.getOrElse(o, Nil).filter(_.start < o.built)
      buildJobs += inBuild.size
      buildMs += o.built - o.start
      betweenMs += (o.built - o.start) -
        covered(inBuild.map(j => (j.start, j.end)), o.start.toLong, o.built.toLong)
    }
    out("queries.build_s") = buildMs / 1e3
    out("queries.build_jobs") = buildJobs
    out("driver.between_jobs_s") = betweenMs / 1e3
    val byModule = measuredJobs.groupBy(rec.moduleOf)
    val src = byModule.getOrElse("sources", Nil)
    out("sources.jobs") = src.size
    out("sources.s") = src.map(j => j.end - j.start).sum / 1e3
    out("catalyst.plan_s") = ops.flatMap(o => rec.planSpans.filter(p => p._1 >= o.start && p._1 <= o.end))
      .map(_._2).sum / 1e3
    out("scheduler.jobs") = measuredJobs.size
    out("scheduler.stages") = measuredJobs.map(_.stages.size).sum
    out("scheduler.tasks") = measuredTasks.size
    out("scheduler.delay_s") = measuredTasks.map(_.delay).sum / 1e3
    out("executor.deser_s") = measuredTasks.map(_.deser).sum / 1e3
    val run = measuredTasks.map(_.run).sum
    out("executor.run_s") = run / 1e3
    out("executor.cpu_s") = measuredTasks.map(_.cpuNs).sum / 1e9
    out("executor.util") = if (wall > 0) run / (wall * cores) else 0.0
    out("executor.gc_s") = measuredTasks.map(_.gc).sum / 1e3
    out("stragglers") = measuredTasks.groupBy(_.stage).values.filter(_.size >= 3).map { ts =>
      val d = ts.map(t => t.finish - t.launch).sorted
      val med = d(d.size / 2)
      d.count(_ > 5 * math.max(med, 1L))
    }.sum
    out("shuffle.write_mb") = measuredTasks.map(_.shufWrite).sum / 1048576.0
    out("shuffle.read_mb") = measuredTasks.map(_.shufRead).sum / 1048576.0
    out("shuffle.fetch_wait_s") = measuredTasks.map(_.fetchWait).sum / 1e3
    out("spill.mb") = measuredTasks.map(_.spill).sum / 1048576.0
    Recorder.Modules.foreach { m =>
      val js = byModule.getOrElse(m, Nil)
      out(s"$m.jobs") = js.size
      out(s"$m.task_s") = tasksOf(js).map(_.run).sum / 1e3
    }
    out.toMap
  }
}

/** One operation the harness timed: builder call [start, built), action
  * [built, end]. `group` is the job group set for it.
  */
final case class OpSpan(group: String, name: String, pass: Int, start: Double, built: Double, end: Double)
