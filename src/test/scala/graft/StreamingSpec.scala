package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.OnlineLogreg
import graft.sources.Tables
import graft.streaming.{InMemoryKv, KvMetricsStore, MetricsStore, SessionWindows, StreamJob}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("freq_sketch aggregates on a stream: final candidates cover true heavy hitters") {
    val dir = Files.createTempDirectory("graft-fs-items")
    val checkpoint = Files.createTempDirectory("graft-fs-cp").toString
    // two micro-batch files so the sketch's partial states actually merge
    val b0 = Seq.fill(12)("x") ++ Seq.fill(5)("y") ++ Seq("a", "b", "c")
    val b1 = Seq.fill(9)("x") ++ Seq.fill(6)("y") ++ Seq("d", "e")
    Files.write(dir.resolve("b0.csv"), b0.mkString("\n").getBytes)
    Files.write(dir.resolve("b1.csv"), b1.mkString("\n").getBytes)
    val q = spark.readStream.schema("item STRING").csv(dir.toString)
      .agg(graft.expressions.FreqSketch.freq_sketch(col("item"), 3).as("cand"))
      .select(map_keys(col("cand")).as("keys"))
      .writeStream.outputMode("complete").format("memory").queryName("fs_stream")
      .option("checkpointLocation", checkpoint).start()
    try q.processAllAvailable()
    finally q.stop()
    val keys = spark.sql("SELECT keys FROM fs_stream").as[Seq[String]].collect().head.toSet
    val all = b0 ++ b1
    val hh = all.groupBy(identity).collect {
      case (v, occ) if occ.size * 4 > all.size => v
    }.toSet
    assert(hh == Set("x", "y"))
    assert(hh.subsetOf(keys) && keys.size <= 3)
  }

  test("min_k_by merges across micro-batches: streaming winners equal batch winners") {
    val dir = Files.createTempDirectory("graft-mkb-items")
    val checkpoint = Files.createTempDirectory("graft-mkb-cp").toString
    // ids interleaved so each micro-batch holds some of the final winners
    val b0 = (1L to 40L).filter(_ % 2 == 0)
    val b1 = (1L to 40L).filter(_ % 2 == 1)
    Files.write(dir.resolve("b0.csv"), b0.mkString("\n").getBytes)
    Files.write(dir.resolve("b1.csv"), b1.mkString("\n").getBytes)
    spark.conf.set("spark.sql.streaming.fileSource.maxFilesPerTrigger", "1")
    try {
      // race key = deterministic md5 uniform, weight 1 — same draw as the
      // batch WeightedSample path
      val key = graft.operators.WeightedSample.esKey(col("id"), lit(1.0))
      val q = spark.readStream.schema("id LONG").csv(dir.toString)
        .agg(graft.expressions.MinKByAgg.min_k_by(key, col("id"), 5).as("t"))
        .select(expr("transform(t, s -> s.id)").as("ids"))
        .writeStream.outputMode("complete").format("memory").queryName("mkb_stream")
        .option("checkpointLocation", checkpoint).start()
      try q.processAllAvailable()
      finally q.stop()
      val got = spark.sql("SELECT ids FROM mkb_stream").as[Seq[Long]].collect().head
      val expected = (1L to 40L).toDF("id")
        .agg(graft.expressions.MinKByAgg.min_k_by(key, col("id"), 5).as("t"))
        .select(expr("transform(t, s -> s.id)").as("ids"))
        .as[Seq[Long]].collect().head
      assert(got == expected && got.size == 5)
    } finally spark.conf.unset("spark.sql.streaming.fileSource.maxFilesPerTrigger")
  }

  test("per-group streaming weighted sample (update mode) converges to the batch draw") {
    val dir = Files.createTempDirectory("graft-mkbg-items")
    val checkpoint = Files.createTempDirectory("graft-mkbg-cp").toString
    val rows = (1L to 60L).map(i => (i, s"g${i % 3}"))
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    def csv(rs: Seq[(Long, String)]) = rs.map { case (i, g) => s"$i,$g" }.mkString("\n")
    Files.write(dir.resolve("b0.csv"), csv(b0).getBytes)
    Files.write(dir.resolve("b1.csv"), csv(b1).getBytes)
    spark.conf.set("spark.sql.streaming.fileSource.maxFilesPerTrigger", "1")
    try {
      val key = graft.operators.WeightedSample.esKey(col("id"), lit(1.0))
      def winners(df: org.apache.spark.sql.DataFrame) = df
        .groupBy($"g")
        .agg(graft.expressions.MinKByAgg.min_k_by(key, col("id"), 4).as("t"))
        .select($"g", expr("transform(t, s -> s.id)").as("ids"))
      val q = winners(spark.readStream.schema("id LONG, g STRING").csv(dir.toString))
        .writeStream.outputMode("update").format("memory").queryName("mkb_groups")
        .option("checkpointLocation", checkpoint).start()
      try q.processAllAvailable()
      finally q.stop()
      // update mode re-emits a group on every change: the LAST emission per
      // group is the converged state
      val got = spark.sql("SELECT g, ids FROM mkb_groups")
        .as[(String, Seq[Long])].collect().groupBy(_._1)
        .map { case (g, rs) => g -> rs.last._2 }
      val expected = winners(rows.toDF("id", "g"))
        .as[(String, Seq[Long])].collect().toMap
      assert(got == expected && got.size == 3)
    } finally spark.conf.unset("spark.sql.streaming.fileSource.maxFilesPerTrigger")
  }

  test("MetricsStore writes atomic, parseable JSON with bounded history") {
    val dir = Files.createTempDirectory("graft-metrics").toString
    val store = new MetricsStore(s"$dir/metrics.json", historyLimit = 3)
    (1 to 5).foreach(i => store.update(Map("batch_id" -> i, "conversion_rate" -> i * 1.5)))
    assert(store.size == 3) // history bounded
    val txt = new String(Files.readAllBytes(Paths.get(s"$dir/metrics.json")))
    assert(txt.contains("\"current\"") && txt.contains("\"history\""))
    assert(txt.contains("\"batch_id\":5"))
    assert(!txt.contains("\"batch_id\":1")) // evicted
    // no torn temp file left behind
    assert(!Files.exists(Paths.get(s"$dir/metrics.json.tmp")))
  }

  test("KvMetricsStore lays out keys like the reference Redis backend") {
    val kv = new InMemoryKv
    val store = new KvMetricsStore(kv, historyLimit = 3)
    (1 to 5).foreach(i => store.update(Map(
      "batch_id" -> i, "total_views" -> i * 10, "total_carts" -> i,
      "total_purchases" -> i, "conversion_rate" -> 100.0)))
    assert(store.size == 3) // LTRIM bounds history
    assert(kv.get("current_metrics").exists(_.contains("\"batch_id\":5")))
    // LPUSH → recent first
    assert(kv.lrange("metrics_history", 0, 0).head.contains("\"batch_id\":5"))
    assert(kv.get("total_views").contains("50"))
    assert(kv.get("conversion_rate").contains("100.0"))
  }

  test("json escaping handles quotes and control chars") {
    val s = MetricsStore.toJson(Map("k" -> "a\"b\n\tc"))
    assert(s == "{\"k\":\"a\\\"b\\n\\tc\"}")
    // every other control char too: Verify's oracle_sql.json relies on it
    assert(MetricsStore.toJson("\\\r\u0001") == "\"\\\\\\r\\u0001\"")
  }

  test("sliding window agg on static frame produces expected buckets") {
    val df = Seq(
      ("S", "view", "2024-01-01 10:00:10", 10.0, "p1"),
      ("S", "cart", "2024-01-01 10:00:40", 20.0, "p2"),
      ("S", "purchase", "2024-01-01 10:01:10", 20.0, "p2")
    ).toDF("user_session", "event_type", "ts_str", "price", "product_id")
      .withColumn("event_timestamp", to_timestamp($"ts_str"))
    val out = SessionWindows.slidingSessionAgg(
      df, windowDuration = "1 minute", slideDuration = "30 seconds", exactDistinct = true)
    // event at 10:00:10 belongs to windows starting 09:59:30 and 10:00:00
    val full = out.filter($"window.start" === to_timestamp(lit("2024-01-01 10:00:00")))
      .collect()(0)
    assert(full.getAs[Long]("view_count") == 1)
    assert(full.getAs[Long]("cart_count") == 1)
    assert(full.getAs[Long]("total_events") == 2)
    assert(full.getAs[Long]("session_duration") == 30)
  }

  test("approx sliding twin: HLL unique_items tracks exact within 10% (or ±2)") {
    val exact = SparkEntry.queries("q_sliding_windows")(spark, TestSpark.Sf0001)
      .select($"user_session", $"window_start_s", $"unique_items".as("exact_u"),
        $"total_events".as("te_exact"))
    val approx = SparkEntry.queries("q_sliding_windows_approx")(spark, TestSpark.Sf0001)
      .select($"user_session", $"window_start_s", $"unique_items".as("approx_u"),
        $"total_events".as("te_approx"))
    val joined = exact.join(approx, Seq("user_session", "window_start_s")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("te_exact") == r.getAs[Long]("te_approx"), r.toString)
      val e = r.getAs[Long]("exact_u"); val a = r.getAs[Long]("approx_u")
      assert(math.abs(a - e) <= math.max(2L, (0.1 * e).toLong), r.toString)
    }
  }

  test("stream-static enrichment join (streaming events ⋈ static dim)") {
    val dir = Files.createTempDirectory("graft-enrich-in")
    val checkpoint = Files.createTempDirectory("graft-enrich-cp").toString
    Files.write(dir.resolve("b0.csv"), "1,100.0\n2,50.0\n3,7.0".getBytes)
    val stream = spark.readStream.schema("user_id LONG, value DOUBLE").csv(dir.toString)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = stream.join(dim, Seq("user_id"), "left")
      .writeStream.outputMode("append").format("memory").queryName("enriched")
      .option("checkpointLocation", checkpoint).start()
    try q.processAllAvailable()
    finally q.stop()
    val rows = spark.sql("SELECT * FROM enriched").collect()
      .map(r => r.getLong(0) -> Option(r.getString(2)).getOrElse("none")).toMap
    assert(rows == Map(1L -> "gold", 2L -> "silver", 3L -> "none"))
  }

  test("stream-stream join: clicks ⋈ purchases within event-time bounds") {
    val clickDir = Files.createTempDirectory("graft-ss-clicks")
    val buyDir = Files.createTempDirectory("graft-ss-buys")
    val checkpoint = Files.createTempDirectory("graft-ss-cp").toString
    Files.write(clickDir.resolve("b0.csv"),
      "7,2024-01-01 10:00:00\n7,2024-01-01 11:00:00\n8,2024-01-01 10:00:00".getBytes)
    Files.write(buyDir.resolve("b0.csv"),
      "7,2024-01-01 10:05:00\n9,2024-01-01 10:00:00".getBytes)
    def src(dir: java.nio.file.Path, ts: String) = spark.readStream
      .schema(s"user_id LONG, ${ts}_str STRING").csv(dir.toString)
      .withColumn(ts, to_timestamp(col(s"${ts}_str"))).drop(s"${ts}_str")
    val clicks = src(clickDir, "click_ts").withWatermark("click_ts", "1 hour")
    val buys = src(buyDir, "buy_ts").withWatermark("buy_ts", "1 hour")
    // purchase attributed to a click at most 30 minutes earlier
    val q = clicks.as("clicks").join(buys.as("buys"),
        expr("clicks.user_id = buys.user_id AND buy_ts BETWEEN click_ts AND click_ts + INTERVAL 30 MINUTES"))
      .select(col("clicks.user_id").as("user_id"), col("click_ts"), col("buy_ts"))
      .writeStream.outputMode("append").format("memory").queryName("attributed")
      .option("checkpointLocation", checkpoint).start()
    try q.processAllAvailable()
    finally q.stop()
    val rows = spark.sql("SELECT user_id FROM attributed").collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(7L)) // only user 7's 10:00 click attributes; 11:00 click and users 8/9 don't
  }

  test("streaming concurrency deltas over gap-closed sessions match the batch spelling") {
    import graft.streaming.GapSessionizer
    import graft.operators.{IntervalOverlap, Sessionize}
    // events: two users, sessions split by >900s gaps across two micro-batches
    val events = Seq(
      (1L, 1000L, 1.0), (1L, 1100L, 1.0), (1L, 5000L, 1.0), (1L, 5100L, 1.0),
      (1L, 9900L, 1.0), (2L, 1050L, 1.0), (2L, 7000L, 1.0), (2L, 12000L, 1.0))
    val dir = Files.createTempDirectory("graft-conc-in")
    val checkpoint = Files.createTempDirectory("graft-conc-cp").toString
    val sorted = events.sortBy(_._2)
    val (h0, h1) = sorted.splitAt(sorted.size / 2)
    def csv(rows: Seq[(Long, Long, Double)]) =
      rows.map { case (u, t, v) => s"$u,$t,$v" }.mkString("\n")
    val f0 = dir.resolve("b0.csv"); val f1 = dir.resolve("b1.csv")
    Files.write(f0, csv(h0).getBytes)
    Files.write(f1, csv(h1).getBytes)
    Files.setLastModifiedTime(f0, java.nio.file.attribute.FileTime.fromMillis(1000000L))
    Files.setLastModifiedTime(f1, java.nio.file.attribute.FileTime.fromMillis(2000000L))
    spark.conf.set("spark.sql.streaming.fileSource.maxFilesPerTrigger", "1")
    try {
      val raw = spark.readStream
        .schema("user_id LONG, ts_s LONG, value DOUBLE").csv(dir.toString)
        .as[GapSessionizer.Event]
      val closed = GapSessionizer.sessions(raw, gapSeconds = 900L, timeoutMs = 0L)
      val deltas = IntervalOverlap.boundaryDeltas(closed.toDF(), "start_s", "end_s", 3600L)
      val q = deltas.writeStream.outputMode("complete").format("memory")
        .queryName("conc_deltas").option("checkpointLocation", checkpoint).start()
      try q.processAllAvailable()
      finally q.stop()
      val got = spark.sql("SELECT bucket, n_started, n_ended FROM conc_deltas")
        .as[(Long, Long, Long)].collect().toSet
      // batch twin on the SAME events, minus each user's final (never-closed
      // by gap evidence under NoTimeout) session
      val sess = Sessionize.gapSessions(events.toDF("user_id", "ts_s", "value"),
        "user_id", "ts_s", 900L)
      val agg = sess.groupBy($"user_id", $"session_idx")
        .agg(min($"ts_s").as("start_s"), max($"ts_s").as("end_s"))
      val lastIdx = sess.groupBy($"user_id").agg(max($"session_idx").as("_last"))
      val closedBatch = agg.join(lastIdx, "user_id").filter($"session_idx" < $"_last")
      val expected = IntervalOverlap.boundaryDeltas(closedBatch, "start_s", "end_s", 3600L)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected && got.nonEmpty)
    } finally spark.conf.unset("spark.sql.streaming.fileSource.maxFilesPerTrigger")
  }

  test("foreachBatch concurrency sink publishes the batch timeline on a stream") {
    import graft.streaming.{ConcurrencySink, GapSessionizer}
    import graft.operators.{IntervalOverlap, Sessionize}
    val events = Seq(
      (1L, 1000L, 1.0), (1L, 1100L, 1.0), (1L, 5000L, 1.0), (1L, 5100L, 1.0),
      (1L, 9900L, 1.0), (2L, 1050L, 1.0), (2L, 7000L, 1.0), (2L, 12000L, 1.0))
    val dir = Files.createTempDirectory("graft-csink-in")
    val checkpoint = Files.createTempDirectory("graft-csink-cp").toString
    val sorted = events.sortBy(_._2)
    val (h0, h1) = sorted.splitAt(sorted.size / 2)
    def csv(rows: Seq[(Long, Long, Double)]) =
      rows.map { case (u, t, v) => s"$u,$t,$v" }.mkString("\n")
    val f0 = dir.resolve("b0.csv"); val f1 = dir.resolve("b1.csv")
    Files.write(f0, csv(h0).getBytes)
    Files.write(f1, csv(h1).getBytes)
    Files.setLastModifiedTime(f0, java.nio.file.attribute.FileTime.fromMillis(1000000L))
    Files.setLastModifiedTime(f1, java.nio.file.attribute.FileTime.fromMillis(2000000L))
    spark.conf.set("spark.sql.streaming.fileSource.maxFilesPerTrigger", "1")
    try {
      val raw = spark.readStream
        .schema("user_id LONG, ts_s LONG, value DOUBLE").csv(dir.toString)
        .as[GapSessionizer.Event]
      val closed = GapSessionizer.sessions(raw, gapSeconds = 900L, timeoutMs = 0L)
      val deltas = IntervalOverlap.boundaryDeltas(closed.toDF(), "start_s", "end_s", 3600L)
      @volatile var last: Set[(Long, Long, Long, Long)] = Set.empty
      val q = ConcurrencySink.start(deltas, checkpoint) { tl =>
        last = tl.select($"bucket", $"n_started", $"n_ended", $"n_open_after")
          .as[(Long, Long, Long, Long)].collect().toSet
      }
      try q.processAllAvailable()
      finally q.stop()
      // batch twin on the SAME events, minus each user's final (never
      // gap-closed under NoTimeout) session
      val sess = Sessionize.gapSessions(events.toDF("user_id", "ts_s", "value"),
        "user_id", "ts_s", 900L)
      val agg = sess.groupBy($"user_id", $"session_idx")
        .agg(min($"ts_s").as("start_s"), max($"ts_s").as("end_s"))
      val lastIdx = sess.groupBy($"user_id").agg(max($"session_idx").as("_last"))
      val closedBatch = agg.join(lastIdx, "user_id").filter($"session_idx" < $"_last")
      val expected = IntervalOverlap.concurrencyTimeline(closedBatch, "start_s", "end_s", 3600L)
        .select($"bucket", $"n_started", $"n_ended", $"n_open_after")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(last == expected && last.nonEmpty)
    } finally spark.conf.unset("spark.sql.streaming.fileSource.maxFilesPerTrigger")
  }

  test("native dropDuplicatesWithinWatermark: one survivor per key on a stream") {
    val dir = Files.createTempDirectory("graft-ddw")
    val checkpoint = Files.createTempDirectory("graft-ddw-cp").toString
    Files.write(dir.resolve("b0.csv"),
      ("1,2024-01-01 10:00:00\n1,2024-01-01 10:00:30\n" +
        "2,2024-01-01 10:01:00\n2,2024-01-01 10:01:05\n3,2024-01-01 10:02:00").getBytes)
    val q = spark.readStream.schema("id LONG, ts_str STRING").csv(dir.toString)
      .withColumn("ts", to_timestamp(col("ts_str"))).drop("ts_str")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.outputMode("append").format("memory").queryName("ddw")
      .option("checkpointLocation", checkpoint).start()
    try q.processAllAvailable()
    finally q.stop()
    val ids = spark.sql("SELECT id FROM ddw").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("streaming exact dedup: first-seen wins within the watermark") {
    val dir = Files.createTempDirectory("graft-dedup-in")
    val checkpoint = Files.createTempDirectory("graft-dedup-cp").toString
    Files.write(dir.resolve("b0.csv"),
      ("1,2024-01-01 10:00:00,same text\n" +
        "2,2024-01-01 10:00:30,same text\n" + // dup within watermark → dropped
        "3,2024-01-01 10:01:00,other text").getBytes)
    val stream = spark.readStream.schema("doc_id LONG, ts_str STRING, text STRING")
      .csv(dir.toString)
      .withColumn("ts", to_timestamp($"ts_str")).drop("ts_str")
    val q = graft.operators.Dedup.dropExactDuplicatesStream(stream, "ts")
      .writeStream.outputMode("append").format("memory").queryName("deduped")
      .option("checkpointLocation", checkpoint).start()
    try q.processAllAvailable()
    finally q.stop()
    val ids = spark.sql("SELECT doc_id FROM deduped").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(1L, 3L)))
  }

  test("end-to-end stream: file source → watermark+window → foreachBatch → metrics JSON") {
    val dir = Files.createTempDirectory("graft-stream-in")
    val metricsPath = Files.createTempDirectory("graft-stream-m").toString + "/m.json"
    val checkpoint = Files.createTempDirectory("graft-stream-cp").toString
    def evt(t: String, typ: String, sess: String, price: Double) =
      s"""{"event_time":"$t UTC","event_type":"$typ","product_id":1,"category_id":1,""" +
        s""""category_code":"c","brand":"b","price":$price,"user_id":1,""" +
        s""""user_session":"$sess","ingestion_time":"$t"}"""
    val lines = Seq(
      evt("2024-01-01 10:00:05", "view", "s1", 10.0),
      evt("2024-01-01 10:00:15", "cart", "s1", 20.0),
      evt("2024-01-01 10:00:25", "purchase", "s1", 20.0),
      evt("2024-01-01 10:00:35", "view", "s2", 5.0),
      """not json at all""" // malformed line must be dropped, not crash
    )
    Files.write(dir.resolve("batch0.txt"), lines.mkString("\n").getBytes)

    val raw = spark.readStream.format("text").load(dir.toString)
      .select($"value".as("json_str"))
    val events = StreamJob.parse(raw)
    val conf = StreamJob.Config(
      checkpointDir = checkpoint, metricsPath = metricsPath,
      windowDuration = "1 minute", slideDuration = "30 seconds")
    val model = new OnlineLogreg(nFeatures = 6)
    val store = new MetricsStore(metricsPath)
    val q = StreamJob.sessionAggStream(events, conf).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamJob.processBatch(b, id, model, store)
      }
      .start()
    try {
      q.processAllAvailable()
    } finally q.stop()

    assert(Files.exists(Paths.get(metricsPath)), "metrics file written")
    val txt = new String(Files.readAllBytes(Paths.get(metricsPath)))
    // purchase event falls in 2 overlapping sliding windows → counted twice
    assert(txt.contains("\"total_purchases\":2"))
    assert(txt.contains("\"has_purchased\":true"))
    assert(txt.contains("\"predictions\""))
    assert(txt.contains("\"purchase_probability\""))
    assert(model.predictionsMade > 0)
    // §2.11 dashboard reads: the metrics doc loads back as DataFrames
    val series = MetricsStore.conversionSeries(spark, metricsPath).collect()
    assert(series.nonEmpty)
    assert(series(0).getAs[Double]("conversion_rate") == 100.0) // 2 purchases / 2 carts
    val preds = MetricsStore.predictionTable(spark, metricsPath).collect()
    assert(preds.nonEmpty)
    assert(preds.exists(_.getAs[String]("status") == "purchased"))
    val probs = preds.map(_.getAs[Double]("purchase_probability"))
    assert(probs.zip(probs.tail).forall { case (a, b) => a >= b }) // ranked desc

    // the same batch pipeline drives the KV (Redis-fake) backend unchanged
    val kv = new InMemoryKv
    val kvStore = new KvMetricsStore(kv)
    val model2 = new OnlineLogreg(nFeatures = 6)
    val checkpoint2 = Files.createTempDirectory("graft-stream-cp2").toString
    val q2 = StreamJob.sessionAggStream(events, conf).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint2)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamJob.processBatch(b, id, model2, kvStore)
      }
      .start()
    try q2.processAllAvailable()
    finally q2.stop()
    assert(kv.get("current_metrics").exists(_.contains("\"total_purchases\":2")))
    assert(kv.get("conversion_rate").contains("100.0"))
  }

  test("T5 checkpoint restart: stopped StreamJob resumes window state from its checkpoint") {
    // The recovery contract (reference stream_processor.py:332): kill the
    // query after batch 0, restart from the SAME checkpoint, feed batch 1 —
    // the restarted query must (a) NOT re-read batch 0's file (nothing
    // re-emitted), (b) resume the sliding-window aggregate STATE, so a
    // batch-1 event landing in a batch-0 window emits the CUMULATIVE
    // counts, and (c) continue the batch-id sequence. All three are proven
    // by emission-sequence parity with an uninterrupted run that saw both
    // files at one-file-per-trigger: if state were lost, s1's windows would
    // re-emit with view=0/cart=0 after restart and the totals would differ.
    import graft.streaming.MetricsSink
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
      // separately below.
      private val DetKeys = Set("batch_count", "total_views",
        "total_carts", "total_purchases", "total_events", "active_sessions",
        "conversion_rate")
      def det: Seq[Map[String, Any]] =
        synchronized { updates.toSeq.map(_.filter(kv => DetKeys(kv._1))) }
      def batchIds: Seq[Long] =
        synchronized { updates.toSeq.map(_("batch_id").asInstanceOf[Long]) }
    }
    def evt(t: String, typ: String, sess: String, price: Double) =
      s"""{"event_time":"$t UTC","event_type":"$typ","product_id":1,"category_id":1,""" +
        s""""category_code":"c","brand":"b","price":$price,"user_id":1,""" +
        s""""user_session":"$sess","ingestion_time":"$t"}"""
    // batch 1's purchase lands in the SAME windows batch 0's s1 events
    // opened — the state-recovery probe; s2 opens fresh windows
    val b0 = Seq(
      evt("2024-01-01 10:00:05", "view", "s1", 10.0),
      evt("2024-01-01 10:00:15", "cart", "s1", 20.0))
    val b1 = Seq(
      evt("2024-01-01 10:00:25", "purchase", "s1", 20.0),
      evt("2024-01-01 10:05:35", "view", "s2", 5.0))

    def runJob(dir: String, cp: String, sink: RecordingSink): Unit = {
      val raw = spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1").load(dir)
        .select($"value".as("json_str"))
      val events = StreamJob.parse(raw)
      val conf = StreamJob.Config(
        checkpointDir = cp, windowDuration = "1 minute", slideDuration = "30 seconds")
      val model = new OnlineLogreg(nFeatures = 6)
      val q = StreamJob.sessionAggStream(events, conf).writeStream
        .outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          StreamJob.processBatch(b, id, model, sink)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    def write(dir: String, name: String, lines: Seq[String], mtime: Long): Unit = {
      val p = Paths.get(dir, name)
      Files.write(p, lines.mkString("\n").getBytes)
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }

    // interrupted path: batch 0 → STOP → add batch 1 → restart, same checkpoint
    val dirA = Files.createTempDirectory("graft-restart-in").toString
    val cpA = Files.createTempDirectory("graft-restart-cp").toString
    val sinkA = new RecordingSink
    write(dirA, "b0.txt", b0, 1000000L)
    runJob(dirA, cpA, sinkA)
    val afterFirst = sinkA.size
    assert(afterFirst == 1, s"batch 0 should emit exactly once, got $afterFirst")
    write(dirA, "b1.txt", b1, 2000000L)
    runJob(dirA, cpA, sinkA) // a NEW query resumed from cpA

    // uninterrupted twin: both files present from the start, fresh checkpoint
    val dirB = Files.createTempDirectory("graft-restart-twin-in").toString
    val cpB = Files.createTempDirectory("graft-restart-twin-cp").toString
    val sinkB = new RecordingSink
    write(dirB, "b0.txt", b0, 1000000L)
    write(dirB, "b1.txt", b1, 2000000L)
    runJob(dirB, cpB, sinkB)

    // (a)+(b)+(c): identical emission sequences — batch ids continue (0 then
    // 1), batch 0 is not replayed, and the restarted batch-1 emission shows
    // the cumulative s1 window counts only recovered state can produce
    assert(sinkA.det == sinkB.det,
      s"restarted run diverged:\n  interrupted: ${sinkA.det}\n  continuous:  ${sinkB.det}")
    assert(sinkA.size == afterFirst + 1, "restart must emit exactly one more batch (no re-emission)")
    // batch-id continuity: the resumed query picks up AFTER the committed
    // offsets (a restart from scratch would re-emit id 0 with batch-0 data)
    val ids = sinkA.batchIds
    assert(ids.head == 0L && ids.last > ids.head,
      s"batch ids must continue from the checkpoint, got $ids")
    val last = sinkA.det.last
    // cumulative proof: s1's two windows carry batch-0's view+cart across the
    // restart (2 views from s1 state + 2 from s2's new windows)
    assert(last("total_views") == 4L && last("total_carts") == 2L &&
      last("total_purchases") == 2L, s"window state not recovered: $last")
  }

  test("stateless curation ops (PiiScrub, HashSplit, Repetition) compose on a stream") {
    // the curation projections are shuffle-free, so the SAME Column code
    // runs unchanged on a streaming frame — the property that lets one
    // pipeline definition serve both the batch backfill and the live feed
    import graft.operators.{HashSplit, PiiScrub, Repetition}
    val dir = Files.createTempDirectory("graft-curate-in")
    val cp = Files.createTempDirectory("graft-curate-cp").toString
    Files.write(dir.resolve("b0.csv"),
      "1\tmail me at a@b.io today\n2\tclean text here here".getBytes)
    val raw = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("sep", "\t")
      .csv(dir.toString)
    val out = raw.select(
      org.apache.spark.sql.functions.col("doc_id"),
      PiiScrub.emailCount(org.apache.spark.sql.functions.col("text")).as("n_emails"),
      Repetition.dupFrac(Repetition.words(org.apache.spark.sql.functions.col("text")))
        .as("dup_word_frac"),
      HashSplit.split(org.apache.spark.sql.functions.col("text")).as("split"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("curate_out").option("checkpointLocation", cp).start()
    try q.processAllAvailable()
    finally q.stop()
    val rows = spark.sql("SELECT doc_id, n_emails, dup_word_frac, split FROM curate_out")
      .as[(Long, Int, Double, String)].collect().sortBy(_._1)
    assert(rows.length == 2)
    assert(rows(0)._2 == 1 && rows(1)._2 == 0)
    assert(rows(1)._3 > 0.0) // "here here" repeats
    assert(Set("train", "val", "test").contains(rows(0)._4))
  }

  test("stateless LM scoring on a stream matches the batch scorer exactly") {
    // LmScore.scoreStateless ships the pruned LM as map literals, so the
    // scorer is a stateless projection: it runs on a streaming frame in
    // APPEND mode with no watermark and no state store, and must emit the
    // same rows (bit-for-bit, same fold order) the batch spelling computes
    // on the same documents — the GapSessionizer parity pattern.
    import graft.operators.LmScore
    val lmCorpus = Seq.tabulate(6)(i => (100L + i, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val probe = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the mat sat on the cat"),
      (3L, "zqx vnm wkj qpl"))
    val expected = LmScore.score(probe.toDF("doc_id", "text"), lmCorpus, minCount = 2L)
      .select($"doc_id", $"n_bigrams", $"avg_logp")
      .as[(Long, Long, Double)].collect().toSet

    val dir = Files.createTempDirectory("graft-lmstream-in")
    val cp = Files.createTempDirectory("graft-lmstream-cp").toString
    Files.write(dir.resolve("b0.csv"),
      probe.map { case (id, t) => s"$id\t$t" }.mkString("\n").getBytes)
    val raw = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("sep", "\t")
      .csv(dir.toString)
    val q = LmScore.scoreStateless(raw, lmCorpus, minCount = 2L)
      .writeStream.outputMode("append").format("memory")
      .queryName("lm_stream_out").option("checkpointLocation", cp).start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.sql("SELECT doc_id, n_bigrams, avg_logp FROM lm_stream_out")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected && got.size == 3)
  }

  test("quality-tiering a stream with batch-computed cuts matches the batch buckets") {
    // the CCNet feed-filter composition: cuts come from ONE approx-quantile
    // pass over the reference corpus (a batch action), after which
    // scoreStateless → bucketByCuts is a stateless projection pipeline that
    // tiers live documents in append mode — stream ≡ batch, bit-for-bit.
    import graft.operators.{LmScore, QualityBuckets}
    val corpus = Tables(spark, TestSpark.Sf0001).documents
    val scored = LmScore.score(corpus, corpus, minCount = 2L)
    val cuts = scored.stat.approxQuantile("avg_logp", Array(1.0 / 3, 2.0 / 3), 0.001)

    val probe = corpus.filter($"doc_id" < 20).select($"doc_id", $"text")
    val expected = QualityBuckets.bucketByCuts(
        LmScore.scoreStateless(probe, corpus, minCount = 2L), cuts)
      .select($"doc_id", $"bucket").as[(Long, Int)].collect().toSet

    val dir = Files.createTempDirectory("graft-qbstream-in").toString
    val cp = Files.createTempDirectory("graft-qbstream-cp").toString
    probe.write.mode("overwrite").parquet(dir)
    val raw = spark.readStream
      .schema("doc_id LONG, text STRING")
      .parquet(dir)
    val q = QualityBuckets.bucketByCuts(
        LmScore.scoreStateless(raw, corpus, minCount = 2L), cuts)
      .select($"doc_id", $"bucket")
      .writeStream.outputMode("append").format("memory")
      .queryName("qb_stream_out").option("checkpointLocation", cp).start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.sql("SELECT doc_id, bucket FROM qb_stream_out")
      .as[(Long, Int)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("gopher gates on a stream match the batch gates exactly") {
    // GopherFilter.gates is all integer comparisons over one projection —
    // no aggregation, no state — so the published quality filter runs
    // unchanged on a live feed in append mode (the LmScore stateless
    // parity pattern): the ingest-time drop decision is the same decision
    // the batch pipeline would make.
    import graft.operators.GopherFilter
    val probe = Tables(spark, TestSpark.Sf0001).documents
      .filter($"doc_id" < 20).select($"doc_id", $"text")
    val expected = GopherFilter.gates(probe)
      .select($"doc_id", $"reject_mask", $"keep")
      .as[(Long, Long, Boolean)].collect().toSet

    val dir = Files.createTempDirectory("graft-gopher-in").toString
    val cp = Files.createTempDirectory("graft-gopher-cp").toString
    probe.write.mode("overwrite").parquet(dir)
    val raw = spark.readStream.schema("doc_id LONG, text STRING").parquet(dir)
    val q = GopherFilter.gates(raw)
      .select($"doc_id", $"reject_mask", $"keep")
      .writeStream.outputMode("append").format("memory")
      .queryName("gopher_stream_out").option("checkpointLocation", cp).start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.sql("SELECT doc_id, reject_mask, keep FROM gopher_stream_out")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }
}
