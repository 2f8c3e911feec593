package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ml.OnlineLogreg
import graft.streaming.{MetricsSink, StreamJob}

/** The T5 checkpoint-restart fixture (reference stream_processor.py:332):
  * two one-file micro-batches through `StreamJob`, either with a stop and
  * a restart from the same checkpoint between them ([[interrupted]]) or
  * in one uninterrupted query ([[continuous]]). Batch 1's purchase lands
  * in the windows batch 0's s1 events opened, so only recovered window
  * state gives the cumulative totals; s2 opens fresh windows.
  */
object StreamRestart {

  class RecordingSink extends MetricsSink {
    val updates = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    def update(current: Map[String, Any]): Unit = synchronized { updates += current }
    def latest: Option[Map[String, Any]] = synchronized { updates.lastOption }
    def size: Int = synchronized { updates.size }
    // deterministic Spark-side fields only: timestamp is wall-clock and
    // predictions depend on the driver-side model instance (S9 model
    // persistence is its own surface, tested in OnlineLogreg's spec)
    // batch_id is excluded from the parity compare: a stopping query may
    // commit a trailing NO-DATA batch (watermark bookkeeping) that
    // processBatch skips as empty, so the restarted data batch's id can
    // be continuous+1 vs the uninterrupted twin. Continuity is asserted
    // separately.
    private val DetKeys = Set("batch_count", "total_views",
      "total_carts", "total_purchases", "total_events", "active_sessions",
      "conversion_rate")
    def det: Seq[Map[String, Any]] =
      synchronized { updates.toSeq.map(_.filter(kv => DetKeys(kv._1))) }
    def batchIds: Seq[Long] =
      synchronized { updates.toSeq.map(_("batch_id").asInstanceOf[Long]) }
  }

  private def evt(t: String, typ: String, sess: String, price: Double) =
    s"""{"event_time":"$t UTC","event_type":"$typ","product_id":1,"category_id":1,""" +
      s""""category_code":"c","brand":"b","price":$price,"user_id":1,""" +
      s""""user_session":"$sess","ingestion_time":"$t"}"""
  private val B0 = Seq(
    evt("2024-01-01 10:00:05", "view", "s1", 10.0),
    evt("2024-01-01 10:00:15", "cart", "s1", 20.0))
  private val B1 = Seq(
    evt("2024-01-01 10:00:25", "purchase", "s1", 20.0),
    evt("2024-01-01 10:05:35", "view", "s2", 5.0))

  /** Runs the `StreamJob` pipeline on `spark` over `dir`, one file per
    * trigger, until everything available is processed, then stops.
    */
  def runJob(spark: SparkSession, dir: String, cp: String, sink: RecordingSink): Unit = {
    val raw = spark.readStream.format("text")
      .option("maxFilesPerTrigger", "1").load(dir)
      .select(org.apache.spark.sql.functions.col("value").as("json_str"))
    val events = StreamJob.parse(raw)
    val conf = StreamJob.Config(
      checkpointDir = cp, windowDuration = "1 minute", slideDuration = "30 seconds")
    val model = new OnlineLogreg(nFeatures = 6)
    val q = StreamJob.sessionAggStream(events, conf).writeStream
      .outputMode("update")
      .option("checkpointLocation", cp)
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamJob.processBatch(b, id, model, sink)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  private def write(dir: String, name: String, lines: Seq[String], mtime: Long): Unit = {
    val p = Paths.get(dir, name)
    Files.write(p, lines.mkString("\n").getBytes)
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Batch 0 on `first`, stop, add batch 1, restart on `second` from the
    * same checkpoint. Returns the sink and its size after the first run.
    */
  def interrupted(first: SparkSession, second: SparkSession): (RecordingSink, Int) = {
    val dir = tmp("graft-restart-in")
    val cp = tmp("graft-restart-cp")
    val sink = new RecordingSink
    write(dir, "b0.txt", B0, 1000000L)
    runJob(first, dir, cp, sink)
    val afterFirst = sink.size
    write(dir, "b1.txt", B1, 2000000L)
    runJob(second, dir, cp, sink)
    (sink, afterFirst)
  }

  /** Both files present from the start, fresh checkpoint, one query. */
  def continuous(spark: SparkSession): RecordingSink = {
    val dir = tmp("graft-restart-twin-in")
    val sink = new RecordingSink
    write(dir, "b0.txt", B0, 1000000L)
    write(dir, "b1.txt", B1, 2000000L)
    runJob(spark, dir, tmp("graft-restart-twin-cp"), sink)
    sink
  }

  /** The cumulative totals of the last emission: s1's two windows carry
    * batch 0's view and cart across the restart (2 views from s1 state +
    * 2 from s2's new windows).
    */
  val FinalTotals: Map[String, Any] =
    Map("total_views" -> 4L, "total_carts" -> 2L, "total_purchases" -> 2L)
}
