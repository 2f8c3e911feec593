package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

/** The serving-plane contract both metrics backends satisfy (the reference
  * switches file↔Redis behind one `update_metrics`,
  * src/streaming/metrics_store.py:88-104).
  */
trait MetricsSink {
  def update(current: Map[String, Any]): Unit
  def latest: Option[Map[String, Any]]
  def size: Int
}

/** S7: atomic JSON metrics sink — same document shape as the reference
  * (`{current, history[≤limit]}`, written temp-file-then-rename so the
  * dashboard process never reads a torn file; reference:
  * src/streaming/metrics_store.py:124-155).
  *
  * JSON is emitted by a minimal hand-rolled writer (strings, numbers,
  * booleans, maps, sequences) — no external dependencies.
  */
final class MetricsStore(path: String, historyLimit: Int = 1000) extends MetricsSink {

  private val history = mutable.Queue.empty[Map[String, Any]]

  def update(current: Map[String, Any]): Unit = synchronized {
    history.enqueue(current)
    while (history.size > historyLimit) history.dequeue()
    MetricsStore.writeAtomic(path, Map("current" -> current, "history" -> history.toSeq))
  }

  def latest: Option[Map[String, Any]] = synchronized(history.lastOption)
  def size: Int = synchronized(history.size)
}

/** S8: the Redis-shaped key-value surface the reference's Redis backend
  * drives (SET current + LPUSH/LTRIM history + scalar convenience keys;
  * src/streaming/metrics_store.py:105-119). No Redis exists in this
  * container, so [[InMemoryKv]] fakes the five commands behind the same
  * trait — a real client drops in without touching [[KvMetricsStore]].
  */
trait KvBackend {
  def set(key: String, value: String): Unit
  def get(key: String): Option[String]
  def lpush(key: String, value: String): Unit
  def ltrim(key: String, start: Int, stop: Int): Unit
  def lrange(key: String, start: Int, stop: Int): Seq[String]
}

final class InMemoryKv extends KvBackend {
  private val strings = mutable.Map.empty[String, String]
  private val lists = mutable.Map.empty[String, mutable.ArrayDeque[String]]
  def set(key: String, value: String): Unit = synchronized { strings(key) = value }
  def get(key: String): Option[String] = synchronized(strings.get(key))
  def lpush(key: String, value: String): Unit = synchronized {
    lists.getOrElseUpdate(key, mutable.ArrayDeque.empty).prepend(value)
  }
  def ltrim(key: String, start: Int, stop: Int): Unit = synchronized {
    lists.get(key).foreach(l => lists(key) = l.slice(start, stop + 1))
  }
  def lrange(key: String, start: Int, stop: Int): Seq[String] = synchronized {
    lists.get(key).map(_.slice(start, stop + 1).toSeq).getOrElse(Seq.empty)
  }
}

/** Key-value twin of [[MetricsStore]]: identical `update` contract, Redis
  * command layout identical to the reference's `_update_redis` — current
  * document under `current_metrics`, recent-first history under
  * `metrics_history` (LPUSH + LTRIM to `historyLimit`), and the four scalar
  * dashboard keys.
  */
final class KvMetricsStore(backend: KvBackend, historyLimit: Int = 1000) extends MetricsSink {

  def update(current: Map[String, Any]): Unit = {
    val json = MetricsStore.toJson(current)
    backend.set("current_metrics", json)
    backend.lpush("metrics_history", json)
    backend.ltrim("metrics_history", 0, historyLimit - 1)
    Seq("total_views", "total_carts", "total_purchases", "conversion_rate").foreach { k =>
      backend.set(k, current.getOrElse(k, 0).toString)
    }
  }

  /** `latest` re-reads through the backend (not a local cache) so it
    * observes exactly what a dashboard process polling the KV store sees.
    */
  def latest: Option[Map[String, Any]] =
    backend.get("current_metrics").map(j => Map("raw_json" -> j))
  def size: Int = backend.lrange("metrics_history", 0, historyLimit - 1).size
}

object MetricsStore {

  /** Write a valid EMPTY store document ({current: {}, history: []}) with
    * the same temp-file-then-atomic-move discipline as `update` — the one
    * place that owns the document shape for the zero-batch case.
    */
  def writeEmpty(path: String): Unit =
    writeAtomic(path, Map("current" -> Map.empty[String, Any], "history" -> Seq.empty[Any]))

  /** Temp-file-then-atomic-move write of one store document, so the
    * dashboard process never reads a torn file.
    */
  private def writeAtomic(path: String, doc: Map[String, Any]): Unit = {
    val target = Paths.get(path)
    Option(target.getParent).foreach(Files.createDirectories(_))
    // unique temp name: CONCURRENT writers to the same path (e.g. two
    // replays of the same dataset) must each move their own temp file —
    // a shared ".tmp" makes one writer's move race the other's write
    val tmp = Paths.get(path + ".tmp." + java.util.UUID.randomUUID().toString.take(8))
    Files.write(tmp, toJson(doc).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The store document as a one-row frame. A torn/corrupt file is an
    * ERROR, not an empty store — the atomic-move discipline means this
    * should never happen; don't mask it.
    */
  private def readDocument(
      spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame = {
    val raw = spark.read.option("multiLine", "true").json(path)
    require(!raw.schema.fieldNames.contains("_corrupt_record"),
      s"metrics store at $path is not valid JSON (corrupt record)")
    raw
  }

  /** §2.11 serving-plane reads: load the metrics document as DataFrames so
    * the dashboard queries (conversion-rate time series, event-distribution
    * totals, prediction table — reference dashboard/app.py:227-354) are
    * plain Spark queries instead of driver-side JSON walking.
    */
  def historyFrame(spark: org.apache.spark.sql.SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val raw = readDocument(spark, path)
    // an EMPTY store ({"history": []}) infers history as array<string> (or
    // drops it) — star-expanding that throws; hand back the empty frame
    // with the document schema instead
    val structured = raw.schema.find(_.name == "history").map(_.dataType).exists {
      case ArrayType(_: StructType, _) => true
      case _ => false
    }
    if (!structured)
      spark.range(0).select(
        lit(0L).as("batch_id"), lit("").as("timestamp"), lit(0L).as("ts_s"),
        lit(0L).as("total_views"), lit(0L).as("total_carts"),
        lit(0L).as("total_purchases"), lit(0.0d).as("conversion_rate"))
    else
      raw.select(explode(col("history")).as("h")).select("h.*")
  }

  /** Conversion-rate time series, most recent `n` batches. */
  def conversionSeries(spark: org.apache.spark.sql.SparkSession, path: String, n: Int = 50): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    historyFrame(spark, path)
      .select(col("batch_id"), col("timestamp"), col("conversion_rate"))
      .orderBy(col("batch_id").desc)
      .limit(n)
  }

  /** Dashboard prediction table (reference dashboard/app.py:311-354): the
    * current batch's predictions, top `n` by purchase probability, with the
    * reference's status bucketing (purchased ▸ high ▸ medium ▸ browsing).
    */
  def predictionTable(spark: org.apache.spark.sql.SparkSession, path: String, n: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val raw = readDocument(spark, path)
    val structured = raw.schema.find(_.name == "current").map(_.dataType).exists {
      case s: StructType => s.find(_.name == "predictions").map(_.dataType).exists {
        case ArrayType(_: StructType, _) => true
        case _ => false
      }
      case _ => false
    }
    if (!structured)
      return spark.range(0).select(
        lit("").as("session_id"), lit(0L).as("view_count"), lit(0L).as("cart_count"),
        lit(0L).as("session_duration"), lit(0.0d).as("avg_price"),
        lit(0.0d).as("purchase_probability"), lit("").as("status"))
    raw
      .select(explode(col("current.predictions")).as("p"))
      .select(
        col("p.session_id").as("session_id"),
        col("p.features.view_count").as("view_count"),
        col("p.features.cart_count").as("cart_count"),
        col("p.features.session_duration").as("session_duration"),
        col("p.features.avg_price").as("avg_price"),
        col("p.purchase_probability").as("purchase_probability"),
        when(col("p.has_purchased"), "purchased")
          .when(col("p.purchase_probability") > 0.7, "high_intent")
          .when(col("p.purchase_probability") > 0.4, "medium_intent")
          .otherwise("browsing").as("status")
      )
      .orderBy(col("purchase_probability").desc, col("session_id"))
      .limit(n)
  }

  def toJson(v: Any): String = v match {
    case null            => "null"
    case s: String       => quote(s)
    case b: Boolean      => b.toString
    case d: Double       => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float        => toJson(f.toDouble)
    case n: Number       => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${toJson(x)}" }.mkString("{", ",", "}")
    case s: collection.Seq[_]  => s.map(toJson).mkString("[", ",", "]")
    case a: Array[_]     => a.map(toJson).mkString("[", ",", "]")
    case other           => quote(other.toString)
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
}
