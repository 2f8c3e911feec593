package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ml.OnlineLogreg

/** T1–T6: the streaming topology
  * (reference: src/streaming/stream_processor.py:305-347).
  *
  *   source → parse → watermark(10m) → SessionPanes(5m/30s)
  *          → foreachBatch { score + online-fit + metrics JSON }
  *
  * The sliding-window features come from one state row per session, its
  * 30 s panes ([[SessionPanes]]), with `unique_items` exact as in the
  * reference; `SessionWindows.slidingSessionAgg` is the static twin.
  *
  * The per-batch scoring mirrors the reference's deliberate driver-side
  * design (stream_processor.py:226 collects the whole micro-batch): the
  * model state lives on the driver, so we collect at most `maxScoredRows`
  * rows per trigger (update-mode emits only changed windows — bounded by
  * active sessions per slide, not by history). Like the reference, each
  * micro-batch is read once: one Spark job yields the totals and the
  * scored rows, so the state store commits one version per trigger and
  * the Spark session keeps one version in memory (see [[processBatch]]).
  * Feedback rule: purchase>0 → label 1; no purchase but cart>0 → label 0;
  * view-only windows are skipped as negatives
  * (stream_processor.py:272-278).
  */
object StreamJob {

  /** Kafka JSON envelope schema (reference: stream_processor.py:50-61). */
  val EventSchema: StructType = StructType(
    Seq(
      StructField("event_time", StringType),
      StructField("event_type", StringType),
      StructField("product_id", LongType),
      StructField("category_id", LongType),
      StructField("category_code", StringType),
      StructField("brand", StringType),
      StructField("price", DoubleType),
      StructField("user_id", LongType),
      StructField("user_session", StringType),
      StructField("ingestion_time", StringType)
    )
  )

  final case class Config(
      kafkaBootstrap: String = "localhost:9092",
      topic: String = "ecommerce-events",
      watermarkDelay: String = "10 minutes",
      windowDuration: String = "5 minutes",
      slideDuration: String = "30 seconds",
      triggerInterval: String = "5 seconds",
      checkpointDir: String = "/tmp/graft-streaming-checkpoints",
      metricsPath: String = "/tmp/graft_streaming_metrics.json",
      maxScoredRows: Int = 1000,
      // when set, the online model snapshots here every ~1000 predictions
      // and a restarted job resumes the learned weights (S9 online half;
      // reference MODEL_CONFIG["model_path"], online_model.py:87-116)
      modelPath: Option[String] = None
  )

  /** S4 + P8–P10: Kafka source → JSON value parse → timestamp. */
  def kafkaSource(spark: SparkSession, conf: Config): DataFrame =
    parse(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", conf.kafkaBootstrap)
        .option("subscribe", conf.topic)
        .option("startingOffsets", "latest")
        .option("failOnDataLoss", "false")
        .load()
        .selectExpr("CAST(value AS STRING) AS json_str")
    )

  /** The same parse stage over any frame holding a `json_str` column —
    * shared by the Kafka path and file/memory test sources.
    */
  def parse(raw: DataFrame): DataFrame =
    raw
      .select(from_json(col("json_str"), EventSchema).as("data"))
      .select("data.*")
      // try_to_timestamp: ANSI mode would otherwise throw on a malformed
      // event_time; the reference drops such rows (null → filtered).
      .withColumn("event_timestamp", try_to_timestamp(col("event_time"), lit("yyyy-MM-dd HH:mm:ss 'UTC'")))
      .filter(col("event_timestamp").isNotNull)

  /** T1+T2: watermark then sliding session aggregation from one state row
    * per session ([[SessionPanes]]): the columns of
    * `SessionWindows.slidingSessionAgg`, `unique_items` exact.
    */
  def sessionAggStream(events: DataFrame, conf: Config): DataFrame =
    SessionPanes.slidingSessionAgg(events, conf.watermarkDelay, conf.windowDuration,
      conf.slideDuration)

  /** T6: per-micro-batch scoring + online learning + metrics write.
    *
    * One pass, one Spark job per micro-batch. Every action on a
    * `foreachBatch` frame re-runs the stateful session operator behind it
    * and re-commits its state store, so the totals and the scored rows come
    * out of a single `mapPartitions`: per partition the sums of the four
    * counts, the row count and the partition's first `maxScoredRows` rows.
    * The driver merges the sums (`Math.addExact`: a `Long` overflow throws,
    * as the ANSI `sum` does) and keeps the first `maxScoredRows` rows in
    * partition order, the rows `limit(maxScoredRows)` would take. An empty
    * batch (row count 0) writes no metrics. With one commit per trigger,
    * one retained state version covers the success path, which
    * [[graft.GraftSession.tune]] sets (the default two would hold the
    * session state in the heap twice).
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      model: OnlineLogreg,
      store: MetricsSink,
      maxScoredRows: Int = 1000
  ): Unit = {
    def long(c: String) = col(c).cast("long")
    // columns 0-7 are the scored row, 8 is total_events; sums holds views,
    // carts, purchases, total_events, then the row count
    val summed = Array(1, 2, 3, 8)
    val projected = batch
      .select(col("user_session"), long("view_count"), long("cart_count"),
        long("purchase_count"), col("session_duration"), col("avg_price"),
        col("max_price"), col("unique_items"), long("total_events"))
    // folds the internal rows: only the kept rows become `Row`s
    val parts = projected.queryExecution.toRdd
      .mapPartitions { it =>
        val sums = new Array[Long](5)
        val kept = Array.newBuilder[InternalRow]
        var n = 0
        it.foreach { r =>
          for (k <- summed.indices if !r.isNullAt(summed(k)))
            sums(k) = Math.addExact(sums(k), r.getLong(summed(k)))
          sums(4) += 1
          // the scan reuses its row object
          if (n < maxScoredRows) { kept += r.copy(); n += 1 }
        }
        Iterator.single((sums, kept.result()))
      }
      .collect()
    val totals = parts.foldLeft(new Array[Long](5)) { case (acc, (s, _)) =>
      acc.indices.foreach(k => acc(k) = Math.addExact(acc(k), s(k)))
      acc
    }
    if (totals(4) == 0) return
    val carts = totals(1)
    val purchases = totals(2)
    val conversion = if (carts == 0) 0.0 else purchases.toDouble / carts * 100.0
    val toRow = CatalystTypeConverters.createToScalaConverter(projected.schema)
    val rows: Array[Row] =
      parts.iterator.flatMap(_._2).take(maxScoredRows).map(toRow(_).asInstanceOf[Row]).toArray

    val predictions = rows.map { r =>
      def d(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.get(i) match {
        case n: Number => n.doubleValue()
        case _         => 0.0
      }
      val x = Array(d(1), d(2), d(4), d(5), d(6), d(7))
      val purchaseCount = d(3)
      val p = model.predictProba(x)
      // ground-truth feedback (stream_processor.py:272-278)
      if (purchaseCount > 0) model.partialFit(x, 1)
      else if (x(1) > 0) model.partialFit(x, 0)
      Map(
        "session_id" -> (if (r.isNullAt(0)) "null" else r.get(0).toString),
        "purchase_probability" -> p,
        "intent" -> (if (p > 0.7) "high" else if (p > 0.4) "medium" else "low"),
        "features" -> Map(
          "view_count" -> x(0), "cart_count" -> x(1), "session_duration" -> x(2),
          "avg_price" -> x(3), "max_price" -> x(4), "unique_items" -> x(5)
        ),
        "has_purchased" -> (purchaseCount > 0)
      )
    }

    store.update(
      Map(
        "batch_id" -> batchId,
        "batch_count" -> rows.length,
        "total_views" -> totals(0),
        "total_carts" -> carts,
        "total_purchases" -> purchases,
        "total_events" -> totals(3),
        "active_sessions" -> totals(4),
        "conversion_rate" -> conversion,
        "timestamp" -> Instant.now().toString,
        "predictions" -> predictions.take(50).toSeq,
        "model_metrics" -> model.metrics
      )
    )
  }

  /** T3–T6: wire a parsed event stream into the full job. */
  def start(events: DataFrame, conf: Config, model: OnlineLogreg, store: MetricsSink): StreamingQuery = {
    conf.modelPath.foreach(p => model.snapshotPath = Some(p))
    sessionAggStream(events, conf).writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(conf.triggerInterval))
      .option("checkpointLocation", conf.checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, id, model, store, conf.maxScoredRows)
      }
      .start()
  }
}
