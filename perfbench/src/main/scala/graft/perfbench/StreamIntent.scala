package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.ml.OnlineLogreg
import graft.streaming.{MetricsSink, MetricsStore, Replayer, StreamJob}

/** The open-loop streaming workload. A single generator thread writes the
  * events as JSON-lines files of `FileEvents` events on a fixed schedule of
  * `Rate` events per second, whatever the stream is doing. The files flow
  * through a `text` file source, `StreamJob.parse`, `sessionAggStream` and
  * `foreachBatch(processBatch)` into a `MetricsStore`, with the
  * `StreamJob.Config` defaults (5 s trigger, 5 min / 30 s windows, 10 min
  * watermark).
  *
  * The run has two phases. Warm-up: one second of events is written, the
  * query starts and its first micro-batch (cold planning and codegen)
  * ingests them; then one trigger interval's worth is written at once and
  * ingested by the next. Measurement: the open-loop schedule of `seconds` x `Rate`
  * events starts at a fixed phase of the trigger grid. An event's lag runs
  * from its file's scheduled write time to the return of the
  * `MetricsSink.update` call of the micro-batch that ingested it; files map
  * to micro-batches through the cumulative `numInputRows`.
  */
object StreamIntent {
  import Main._

  val Name = "stream_intent"
  /** Events per second, the reference producer's rate. */
  val Rate = 1000
  val FileEvents = 100
  /** The `StreamJob.Config` default trigger interval, in milliseconds. */
  val TriggerMs = 5000.0
  /** Files written for the two warm-up micro-batches: one second of events
    * for the cold one, then one trigger interval's worth at once.
    */
  val WarmupRounds: Seq[Int] = Seq(Rate / FileEvents, (Rate * TriggerMs / 1e3).toInt / FileEvents)
  val WarmupFiles: Int = WarmupRounds.sum
  /** Largest seeded deviation of a file's write time from its schedule. */
  val JitterMs = 10.0

  /** The program's clickstream projection in the reference vocabulary and
    * wire columns: `click` is relabelled `cart` (QueryHelpers.ClickConf), so
    * both feedback branches of `processBatch` run.
    */
  def referenceEvents(spark: SparkSession, data: String): DataFrame =
    graft.queries.QueryHelpers.clickstream(spark, data).select(
      col("event_time"),
      when(col("event_type") === "click", "cart").otherwise(col("event_type")).as("event_type"),
      col("product_id").cast("long").as("product_id"),
      col("price"),
      substring_index(col("user_session"), "_", 1).cast("long").as("user_id"),
      col("user_session"))

  /** `need` events as wire JSON, in event-time order. When the data holds
    * fewer, the pool repeats with event time shifted by whole multiples of
    * the data's day span, and the day-scoped session key with it, so
    * session keys stay distinct.
    */
  def eventPool(spark: SparkSession, data: String, need: Int): Array[String] = {
    val base = Replayer.eventJson(referenceEvents(spark, data)
      .orderBy(col("event_time"), col("user_session"), col("product_id")))
      .select("value").collect().map(_.getString(0))
    val days = base.flatMap(DayRe.findFirstMatchIn(_)).map(_.group(1)).distinct
    val span = java.time.temporal.ChronoUnit.DAYS.between(
      LocalDate.parse(days.min), LocalDate.parse(days.max)) + 1
    Iterator.from(0).flatMap { k =>
      if (k == 0) base.iterator else base.iterator.map(shift(_, k * span))
    }.take(need).toArray
  }

  private val DayRe = """"event_time":"(\d{4}-\d\d-\d\d) """.r
  private val SessionDayRe = """"user_session":"(\d+)_(\d{4}-\d\d-\d\d)"""".r

  private def shift(json: String, days: Long): String = {
    def later(d: String) = LocalDate.parse(d).plusDays(days).toString
    val t = DayRe.replaceAllIn(json, m => s""""event_time":"${later(m.group(1))} """)
    SessionDayRe.replaceAllIn(t, m => s""""user_session":"${m.group(1)}_${later(m.group(2))}"""")
  }

  /** MetricsSink decorator that records when each batch's update returned. */
  final class TimedSink(inner: MetricsStore) extends MetricsSink {
    val updates = new ConcurrentHashMap[Long, (Double, Double)]()
    def update(current: Map[String, Any]): Unit = {
      val t0 = nowMs
      inner.update(current)
      updates.put(current("batch_id").asInstanceOf[Long], (t0, nowMs))
    }
    def latest: Option[Map[String, Any]] = inner.latest
    def size: Int = inner.size
  }

  def run(conf: Conf): Map[String, Any] = {
    val need = (WarmupFiles + (conf.seconds * Rate).toInt / FileEvents) * FileEvents
    val (spark, pool, setupS) = setUp(conf)(s => eventPool(s, conf.data, need))
    val cfg = StreamJob.Config(
      checkpointDir = s"${conf.work}/stream_checkpoint",
      metricsPath = s"${conf.work}/stream_metrics.json")
    val inDir = Paths.get(conf.work, "stream_in")
    Files.createDirectories(inDir)
    val rec = if (conf.trace) Some(new Recorder(spark, "streaming")) else None
    rec.foreach(_.start())
    val taskTime = new TaskTime
    spark.sparkContext.addSparkListener(taskTime)
    val store = new TimedSink(new MetricsStore(cfg.metricsPath))
    val model = new OnlineLogreg(6)
    val processed = new ConcurrentHashMap[Long, (Double, Double)]()
    val failures = mutable.ArrayBuffer.empty[String]

    val events = StreamJob.parse(
      spark.readStream.format("text").load(inDir.toString).select(col("value").as("json_str")))
    // old-generation garbage piles up between G1 marking cycles, so the
    // stream's heap figure is the live heap after one full collection once
    // every event is in: state store, model, metrics history, source log
    System.gc()
    val heap = new HeapPeak(majorOnly = true)
    def startQuery() = StreamJob.sessionAggStream(events, cfg).writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(cfg.triggerInterval))
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = nowMs
        StreamJob.processBatch(batch, id, model, store, cfg.maxScoredRows)
        processed.put(id, (t0, nowMs))
        ()
      }
      .start()

    val files = pool.grouped(FileEvents).toArray
    // files [from, until) as one file, made visible to the source at once
    def write(from: Int, until: Int): Unit = {
      val tmp = inDir.resolve(f".part-$from%06d.json.tmp")
      Files.write(tmp, files.slice(from, until).flatten.mkString("\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, inDir.resolve(f"part-$from%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    }

    // warm-up: the first micro-batch ingests the first round of files, a
    // later one the second
    write(0, WarmupRounds.head)
    val warmStart = nowMs
    val query = startQuery()
    def waitIngested(n: Long): Unit = {
      val deadline = System.nanoTime() + 60e9.toLong
      while (query.recentProgress.map(_.numInputRows).sum < n && System.nanoTime() < deadline &&
        query.isActive) Thread.sleep(20)
    }
    waitIngested(WarmupRounds.head * FileEvents)
    write(WarmupRounds.head, WarmupFiles)
    waitIngested(WarmupFiles * FileEvents)
    val warmEnd = nowMs
    val taskAtWarmEnd = taskTime.totalMs

    // measurement: file i is due at start + (i - WarmupFiles) * gap, plus a
    // seeded jitter. Triggers fire on multiples of the interval in epoch
    // time, so the schedule starts at least a second after the warm-up, at a
    // fixed phase of that grid, halfway between two file writes: every run
    // batches the events alike and no trigger races a write.
    val gapMs = FileEvents * 1e3 / Rate
    val start = (math.floor((nowMs + 1000) / TriggerMs) + 1) * TriggerMs + gapMs / 2
    val jitter = new scala.util.Random(conf.seed)
    val due = new Array[Double](files.length)
    val late = mutable.ArrayBuffer.empty[Double]
    var i = WarmupFiles
    while (i < files.length) {
      due(i) = start + (i - WarmupFiles) * gapMs + (jitter.nextDouble() - 0.5) * 2 * JitterMs
      val wait = due(i) - nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      write(i, i + 1)
      late += nowMs - due(i)
      i += 1
    }
    val sent = i * FileEvents

    // drain: wait until every written event has been ingested
    waitIngested(sent)
    val stopAt = nowMs
    System.gc()
    query.stop()
    val peakHeap = heap.stop()
    Recorder.drainBus(spark)
    val utilStart = taskAtWarmEnd / ((warmEnd - warmStart) * cores)
    val utilEnd = (taskTime.totalMs - taskAtWarmEnd) / ((stopAt - start) * cores)
    query.exception.foreach(e => failures += s"stream failed: ${e.getMessage}")
    val progress = query.recentProgress.toSeq.sortBy(_.batchId)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val got = progress.map(_.numInputRows).sum
    val missing = math.abs(sent - got)

    progress.foreach { p =>
      val st = p.stateOperators.headOption
      System.err.println(f"[perfbench] batch ${p.batchId}%3d rows ${p.numInputRows}%6d " +
        f"trigger ${dur(p, "triggerExecution")}%6.0f ms (plan ${dur(p, "queryPlanning")}%5.0f, " +
        f"add ${dur(p, "addBatch")}%5.0f)  state rows ${st.fold(0L)(_.numRowsTotal)}%7d " +
        s"watermark ${p.eventTime.get("watermark")}")
    }

    // lag per file, through the cumulative input-row count of each batch
    val nonEmpty = progress.filter(_.numInputRows > 0)
    val lags = mutable.ArrayBuffer.empty[Double]
    var fileIdx = 0
    val measuredBatches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    nonEmpty.foreach { p =>
      val nFiles = (p.numInputRows / FileEvents).toInt
      val done = Option(store.updates.get(p.batchId)).orElse(Option(processed.get(p.batchId)))
        .map(_._2).getOrElse(epochMs(p) + dur(p, "triggerExecution"))
      val measured = math.max(fileIdx, WarmupFiles) until math.min(fileIdx + nFiles, files.length)
      measured.foreach(f => lags += (done - due(f)) / 1e3)
      if (measured.nonEmpty) measuredBatches += p
      fileIdx += nFiles
    }
    // a pass is the time one trigger interval of input takes: measured
    // trigger time per row times the rows a full interval brings at `Rate`
    // (the last micro-batch may hold less than a full interval)
    val measuredRows = measuredBatches.map(_.numInputRows).sum
    val passS = measuredBatches.map(dur(_, "triggerExecution")).sum / 1e3 /
      math.max(1L, measuredRows) * Rate * TriggerMs / 1e3
    if (measuredBatches.isEmpty) failures += "no micro-batch ingested a measured event"

    val docOk =
      try {
        val series = MetricsStore.conversionSeries(spark, cfg.metricsPath).count()
        series == math.min(store.updates.size, 50).toLong && series > 0
      } catch { case _: Throwable => false }
    if (!docOk) failures += s"metrics document at ${cfg.metricsPath} does not read back"

    val e2e = Map(
      "setup_s" -> setupS,
      "cold_pass_s" -> nonEmpty.headOption.map(dur(_, "triggerExecution") / 1e3).getOrElse(0.0),
      "pass_s" -> passS,
      "latency_p50_s" -> median(lags.toSeq),
      "latency_p99_s" -> quantile(lags.toSeq, 0.99),
      "peak_heap_mb" -> peakHeap)

    val layers = rec.map { r =>
      r.stop()
      val asOps = nonEmpty.map { p =>
        val s = epochMs(p)
        OpSpan(s"batch${p.batchId}", "micro-batch", p.batchId.toInt, s, s, s + dur(p, "triggerExecution"))
      }
      val inner = nonEmpty.flatMap { p =>
        val g = s"batch${p.batchId}"
        Option(processed.get(p.batchId)).toSeq.map { case (a, b) =>
          Span(s"$g/processBatch", g, g, "processBatch", "StreamJob.processBatch", a, b) } ++
          Option(store.updates.get(p.batchId)).toSeq.map { case (a, b) =>
            Span(s"$g/update", s"$g/processBatch", g, "sink", "MetricsSink.update", a, b) }
      }
      writeSpans(conf.spans, new LayerReport(r, asOps, cores).spans ++ inner)
      val measured = measuredBatches.toSet
      val ops = asOps.filter(o => measured.exists(_.batchId == o.pass))
      val n = math.max(1, ops.size).toDouble
      val fig = new LayerReport(r, ops, cores).figures
        .map { case (k, v) => k -> (if (k == "executor.util") v else v / n) }
      def mean(k: String): Double = measuredBatches.map(dur(_, k)).sum / n / 1e3
      val state = progress.lastOption.flatMap(_.stateOperators.headOption)
      val updMs = measuredBatches.flatMap(p => Option(store.updates.get(p.batchId)))
        .map { case (a, b) => b - a }
      fig ++ Map(
        "codegen.compiles" -> r.compiles.toDouble,
        "storage.peak_mb" -> r.storagePeak / 1048576.0,
        "storage.leaked_rdds" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
        "stream.batches" -> measuredBatches.size.toDouble,
        "stream.rows_per_batch" -> measuredBatches.map(_.numInputRows).sum / n,
        "stream.jobs_per_batch" -> fig("scheduler.jobs"),
        "stream.trigger_s" -> mean("triggerExecution"),
        "stream.get_batch_s" -> mean("getBatch"),
        "stream.add_batch_s" -> mean("addBatch"),
        "stream.plan_s" -> mean("queryPlanning"),
        "stream.wal_s" -> (mean("walCommit") + mean("commitOffsets")),
        "stream.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "stream.state_mb" -> state.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
        "stream.state_commit_ms" -> measuredBatches.flatMap(_.stateOperators.headOption)
          .map(_.commitTimeMs.toDouble).sum / n,
        "metrics_store.update_ms" -> (if (updMs.isEmpty) 0.0 else updMs.sum / updMs.size),
        "metrics_store.doc_kb" -> Files.size(Paths.get(cfg.metricsPath)) / 1024.0,
        "gen.late_ms" -> quantile(late.toSeq, 0.99))
    }
    spark.stop()
    Map(
      "e2e" -> e2e,
      "layers" -> layers.getOrElse(Map.empty),
      "attempted" -> sent,
      // a run whose output or measurement is unusable fails every event
      "failed" -> (if (failures.nonEmpty) sent else missing),
      "failed_ops" -> Seq.empty[String],
      "failures" -> ((if (missing > 0) Seq(s"ingested $got events, sent $sent") else Nil) ++ failures),
      "oracle_out" -> "",
      "oracled" -> Seq.empty[String],
      "samples" -> Map("measured_batches" -> measuredBatches.size, "lag_events" -> lags.size * FileEvents),
      "host" -> Map("task_util_start" -> utilStart, "task_util_end" -> utilEnd,
        "gen_late_p99_ms" -> quantile(late.toSeq, 0.99)))
  }

  private def epochMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
}
