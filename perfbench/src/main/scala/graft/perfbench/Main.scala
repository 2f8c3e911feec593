package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.cli.Preprocess
import graft.streaming.MetricsStore

/** JVM half of the benchmark (`perfbench/run.py` is the entry point). It
  * builds the inputs the program reads, drives the program through its
  * public entry points, times each call from outside and writes one JSON
  * document of raw figures to `<work>/jvm_result.json`.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *        --spans FILE
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, spans: String)

  /** How many times set-up runs; `setup_s` is the median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("spans"))
    val result =
      if (conf.workload == StreamIntent.Name) StreamIntent.run(conf)
      else Batch.run(conf)
    Files.write(Paths.get(conf.work, "jvm_result.json"),
      MetricsStore.toJson(result).getBytes(StandardCharsets.UTF_8))
  }

  val jvmStart: Double = System.currentTimeMillis().toDouble
  def cores: Int = Runtime.getRuntime.availableProcessors

  /** One local session shaped like the program's gates: local[nproc],
    * shuffle partitions = nproc, GraftSession.tune, default configs.
    */
  def session(conf: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${conf.work}/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(s)
  }

  /** Runs set-up `SetupReps` times, each in a fresh session; returns the
    * last session, what the last set-up produced and the median seconds.
    */
  def setUp[T](conf: Conf)(prepare: SparkSession => T): (SparkSession, T, Double) = {
    var last: Option[(SparkSession, T)] = None
    val times = (1 to SetupReps).map { _ =>
      last.foreach(_._1.stop())
      val t0 = System.nanoTime()
      val s = session(conf)
      val made = prepare(s)
      last = Some((s, made))
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[perfbench] set-up times ${times.map(t => f"$t%.2f").mkString(", ")} s")
    (last.get._1, last.get._2, median(times))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same base as Spark's listener timestamps.
    */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Peak heap in use after a collection, over every collection (or only
    * full ones) between construction and `stop`: the data the program held,
    * without the young garbage whose amount depends on GC timing.
    */
  final class HeapPeak(majorOnly: Boolean = false) {
    @volatile private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (!majorOnly || info.getGcAction == "end of major GC") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, used) }
          }
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))
    def stop(): Double = {
      Thread.sleep(100) // notifications arrive on a service thread after the pause
      emitters.foreach(_.removeNotificationListener(listener))
      peak.toDouble / 1048576.0
    }
  }

  /** Persisted RDDs an operation left behind, then the sweep every harness
    * of this program runs between queries. Checkpointed frames are not
    * unpersisted (their blocks die with the session).
    */
  def sweep(spark: SparkSession): Int = {
    val left = spark.sparkContext.getPersistentRDDs.values.filterNot(_.isCheckpointed)
    val n = left.size
    spark.catalog.clearCache()
    left.foreach(_.unpersist(blocking = true))
    n
  }

  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      MetricsStore.toJson(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs)
    }
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** The closed-loop batch workloads: one client runs a pass over the
  * workload's operations, in a seed-shuffled order, then the next pass.
  */
object Batch {
  import Main._

  /** One operation: `build` calls the program's builder and returns the
    * action that materialises the result: into the `noop` sink, or as
    * parquet under `out` when given (the cold pass, whose outputs are
    * checked).
    */
  final case class Op(name: String, build: (SparkSession, Conf, Option[String]) => () => Unit)

  def query(name: String): Op = Op(name, (spark, conf, out) => {
    val df = SparkEntry.queries(name)(spark, conf.data)
    out match {
      case Some(dir) => () => df.write.mode("overwrite").parquet(s"$dir/$name")
      case None => () => df.write.format("noop").mode("overwrite").save()
    }
  })

  val PreprocessOp: Op = Op("preprocess", (spark, conf, _) =>
    () => Preprocess.run(spark, s"${conf.work}/clickstream_csv", s"${conf.work}/preprocess_out"))

  /** Result columns the rows-only queries (no DuckDB oracle) must return. */
  val RowsOnly: Map[String, Seq[String]] = Map(
    "q_hll_rollup" -> Seq("event_type", "approx_distinct"))

  /** The `short_queries` operations. */
  val Ops: Seq[Op] =
    Seq("q1_pricing_summary", "q_session_features", "q_hll_rollup").map(query) :+ PreprocessOp

  /** Reference-schema CSV for `Preprocess`: the program's own clickstream
    * projection in the reference vocabulary (`click` is the cart event).
    */
  def writeClickstreamCsv(spark: SparkSession, data: String, work: String): Unit =
    graft.queries.QueryHelpers.clickstream(spark, data)
      .select(
        date_format(col("event_time"), "yyyy-MM-dd HH:mm:ss 'UTC'").as("event_time"),
        when(col("event_type") === "click", "cart").otherwise(col("event_type")).as("event_type"),
        col("product_id").cast("long").as("product_id"),
        lit(null).cast("long").as("category_id"),
        lit(null).cast("string").as("category_code"),
        lit(null).cast("string").as("brand"),
        col("price"),
        split(col("user_session"), "_").getItem(0).cast("long").as("user_id"),
        col("user_session"))
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(s"$work/clickstream_csv")

  /** Warm passes a run makes: a fixed count sized to fill `seconds` at
    * the nominal warm pass time, so that a slower host does not also move
    * the median to an earlier point of the JIT warm-up curve.
    */
  val NominalPassS = 2.0
  def warmPasses(seconds: Double): Int = math.max(2, math.round(seconds / NominalPassS).toInt)

  def run(conf: Conf): Map[String, Any] = {
    val ops = Ops
    val (spark, _, setupS) = setUp(conf)(writeClickstreamCsv(_, conf.data, conf.work))
    val sc = spark.sparkContext
    val taskTime = new TaskTime
    sc.addSparkListener(taskTime)
    val rec = if (conf.trace) Some(new Recorder(spark, "queries")) else None
    rec.foreach(_.start())
    val rng = new scala.util.Random(conf.seed)
    // failed operations as "name@pass"; a wrong output fails its cold-pass run
    val failed = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    var leaked = 0

    val checks = new Checks(spark, conf)
    // the cold pass runs the operations in their listed order, as a job
    // would; warm passes in a seed-shuffled order
    def runPass(pass: Int, out: Option[String] = None): Seq[OpSpan] =
      (if (pass == 0) ops else rng.shuffle(ops)).map { op =>
        val group = s"pass$pass/${op.name}"
        sc.setJobGroup(group, op.name)
        attempted += 1
        val t0 = nowMs
        var built = t0
        try {
          val act = op.build(spark, conf, out)
          built = nowMs
          act()
        } catch {
          case e: Throwable =>
            failed(s"${op.name}@$pass") = s"${e.getClass.getSimpleName}: ${e.getMessage}"
            if (built == t0) built = nowMs
        }
        val t1 = nowMs
        sc.clearJobGroup()
        leaked += sweep(spark)
        OpSpan(group, op.name, pass, t0, built, t1)
      }
    def utilOf(p: Seq[OpSpan], taskMs: Long): Double =
      taskMs / ((p.last.end - p.head.start) * cores)

    System.gc()
    val heap = new HeapPeak
    var task0 = taskTime.totalMs
    val cold = runPass(0, Some(checks.out))
    Recorder.drainBus(spark)
    val utilStart = utilOf(cold, taskTime.totalMs - task0)
    val warm = mutable.ArrayBuffer.empty[Seq[OpSpan]]
    val leakedCold = leaked
    var utilEnd = 0.0
    while (warm.size < warmPasses(conf.seconds)) {
      System.gc()
      task0 = taskTime.totalMs
      warm += runPass(warm.size + 1)
      Recorder.drainBus(spark)
      utilEnd = utilOf(warm.last, taskTime.totalMs - task0)
    }
    val peakHeap = heap.stop()

    // warm passes keep getting faster for the first several (JIT warm-up):
    // the first half settles, the second half is measured
    val measured = warm.drop(warm.size / 2).toSeq
    val warmS = warm.map(p => p.map(o => o.end - o.start).sum / 1e3).toSeq
    System.err.println(s"[perfbench] warm passes: ${warmS.map(x => f"$x%.3f").mkString(" ")} s")
    val passS = warmS.drop(warm.size / 2)
    measured.flatten.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      val cold1 = cold.find(_.name == n).map(o => o.end - o.start).getOrElse(0.0)
      System.err.println(f"[perfbench] $n%-28s cold ${cold1 / 1e3}%7.3f s  warm median " +
        f"${median(os.map(o => (o.end - o.start) / 1e3).toSeq)}%7.3f s")
    }
    val latS = measured.flatten.map(o => (o.end - o.start) / 1e3)
    val e2e = Map(
      "setup_s" -> setupS,
      "cold_pass_s" -> cold.map(o => o.end - o.start).sum / 1e3,
      "pass_s" -> median(passS),
      "latency_p50_s" -> median(latS),
      "latency_p99_s" -> quantile(latS, 0.99),
      "peak_heap_mb" -> peakHeap)

    val layers = rec.map { r =>
      r.stop()
      val all = cold ++ warm.flatten
      writeSpans(conf.spans, new LayerReport(r, all, cores).spans)
      val n = measured.size.toDouble
      val fig = new LayerReport(r, measured.flatten, cores).figures
      fig.map { case (k, v) => k -> (if (k == "executor.util") v else v / n) } ++ Map(
        // whole run: after the cold pass the codegen cache serves nearly all
        "codegen.compiles" -> r.compiles.toDouble,
        "storage.peak_mb" -> r.storagePeak / 1048576.0,
        "storage.leaked_rdds" -> (leaked - leakedCold).toDouble / warm.size)
    }

    System.err.println(f"[perfbench] timed passes done after ${(nowMs - jvmStart) / 1e3}%.1f s")
    ops.foreach(op => checks.check(op).foreach(failed.getOrElseUpdate(s"${op.name}@0", _)))
    val oracled = checks.writeOracles()
    spark.stop()
    Map(
      "e2e" -> e2e,
      "layers" -> layers.getOrElse(Map.empty),
      "attempted" -> attempted,
      "failed" -> failed.size,
      "failed_ops" -> failed.keys.toSeq,
      "failures" -> failed.map { case (k, v) => s"$k: $v" }.toSeq,
      "oracle_out" -> checks.out,
      "oracled" -> oracled,
      "samples" -> Map("warm_passes" -> warm.size, "measured_passes" -> measured.size,
        "ops" -> latS.size),
      "host" -> Map("task_util_start" -> utilStart, "task_util_end" -> utilEnd))
  }
}

/** Output checks, untimed, on what the cold pass wrote:
  *   - an oracled query's result goes to `scripts/local_verify.py`, which
  *     compares it with its `SparkEntry.oracleSql` answer in DuckDB;
  *   - a rows-only query must have its pinned columns and at least one row;
  *   - `Preprocess` must find the same sessions and label counts as
  *     `q_session_features` on the same events.
  */
final class Checks(spark: SparkSession, conf: Main.Conf) {
  val out: String = s"${conf.work}/check_out"
  private val oracled = mutable.ArrayBuffer.empty[String]

  def check(op: Batch.Op): Option[String] =
    try {
      if (op == Batch.PreprocessOp) checkPreprocess()
      else if (SparkEntry.oracleSql.contains(op.name)) { oracled += op.name; None }
      else {
        val df = spark.read.parquet(s"$out/${op.name}")
        val want = Batch.RowsOnly.getOrElse(op.name, Nil)
        val got = df.columns.toSeq
        if (got != want) Some(s"${op.name}: columns $got, expected $want")
        else if (df.isEmpty) Some(s"${op.name}: empty result")
        else None
      }
    } catch {
      case e: Throwable => Some(s"${op.name} (check): ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def checkPreprocess(): Option[String] = {
    def labels(df: DataFrame): Map[String, Long] =
      df.groupBy("label").count().collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val sf = s"$out/q_session_features"
    val got = labels(spark.read.parquet(s"${conf.work}/preprocess_out"))
    val want = labels(
      if (Files.exists(Paths.get(sf))) spark.read.parquet(sf)
      else SparkEntry.queries("q_session_features")(spark, conf.data))
    if (got == want) None
    else Some(s"preprocess: session labels $got; q_session_features labels $want")
  }

  /** Writes `oracle_sql.json` for the checked queries; returns their names. */
  def writeOracles(): Seq[String] = {
    Files.createDirectories(Paths.get(out))
    val sql = oracled.map(n => n -> SparkEntry.oracleSql(n)).toMap
    Files.write(Paths.get(out, "oracle_sql.json"),
      MetricsStore.toJson(sql).getBytes(StandardCharsets.UTF_8))
    oracled.toSeq
  }
}
