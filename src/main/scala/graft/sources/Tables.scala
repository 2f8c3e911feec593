package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.GraftSession

/** Accessors for the driver-provided parquet tables (TESTDATA.md).
  *
  * All loads are plain parquet scans — column pruning and predicate pushdown
  * reach the file scan untouched (verify with `.explain`: `PushedFilters`,
  * `ReadSchema`). No caching here: callers decide lifetime.
  */
final case class Tables(spark: SparkSession, dir: String) {
  GraftSession.tune(spark)

  private def p(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scan-parallelism floor for the CPU-kernel tables (documents,
    * embeddings). The driver's parquet files are written as a SINGLE row
    * group, and parquet tasks can't split inside a row group — so every
    * scan-rooted stage (shingle/minhash/levenshtein/BPE/cosine kernels)
    * runs on ONE core until its first exchange, however many cores the
    * session has (guide §2: make partitioning scale-adaptive, derive from
    * the input). When the scan plans fewer partitions than the session's
    * cores, hash-repartition on the table's id so the per-row kernels fan
    * out; the explicit numPartitions keeps AQE from coalescing the tiny
    * local shuffle back to one partition. At production scale the scan
    * already plans >= cores splits (many row groups / files), so the guard
    * makes this a provable no-op — no extra payload shuffle ever reaches a
    * big input. Hash-by-id placement is deterministic per row (no
    * round-robin, no sort-before-repartition, retry-safe per SPARK-38388),
    * and the partition count probe is metadata-only (file listing — no job,
    * no data read), cached per (path, cores).
    */
  private def parScan(name: String, key: String): DataFrame = {
    val df = p(name)
    val cores = spark.sparkContext.defaultParallelism
    val parts = Tables.scanParts(s"$dir/$name@$cores", s"$dir/$name.parquet", df)
    if (parts >= cores) df else df.repartition(cores, col(key))
  }

  def region: DataFrame    = p("region")
  def nation: DataFrame    = p("nation")
  def customer: DataFrame  = p("customer")
  def supplier: DataFrame  = p("supplier")
  def part: DataFrame      = p("part")
  // Only documents gets the floor: its per-row kernels (md5 minhash lanes,
  // shingle hashing, levenshtein, BPE symbolization) are expensive enough
  // that 32-way fan-out beats one extra tiny exchange 3-10x (bench A/B this
  // round). lineitem/orders/events were A/B'd too and LOST — their
  // consumers are aggregation-shaped (cheap map side + partial agg), so the
  // floor only multiplied per-stage task overhead (TPC-H family
  // 18.5 -> 24.4 s under a lineitem+orders floor; reverted).
  def orders: DataFrame    = p("orders")
  def lineitem: DataFrame  = p("lineitem")
  def documents: DataFrame = parScan("documents", "doc_id")
  // embeddings deliberately NOT parScan'd: its consumers are the
  // iterative-replay family (kmeans/ivf/pq/facility — tens of small driver
  // actions over a 2k-row table), where 32x the task count per action costs
  // more than the single-core scan ever did (TimeQ A/B this round:
  // q_facility_select 2.2 -> 6.2 s, q_knn_pq 4.0 -> 6.3 s under parScan).
  // The pair-building consumers fan out at their first exchange anyway.
  def embeddings: DataFrame = p("embeddings")

  /** `events` ships with parquet TIMESTAMP(NANOS) which Spark reads (under
    * `nanosAsLong`) as a raw long of nanos-since-epoch. Expose:
    *   - `ts`    — proper TimestampType (micros, truncated from nanos)
    *   - `ts_ns` — the original nanos long, for exact arithmetic
    */
  // events deliberately NOT parScan'd — A/B'd this round and it LOST:
  // the events consumers are aggregation/sketch/window/MLlib-shaped (light
  // map side, many small post-exchange actions), so flooring the scan to
  // 32 partitions multiplied every downstream action's task count instead
  // of parallelizing real kernel work (q_quantile_sketch 2.2 -> 7.4 s,
  // q_user_overlap 2.9 -> 4.5 s, q_rf_metrics 3.2 -> 4.7 s). It would also
  // reshuffle every sampled pipeline (sampleBy/randomSplit draw per
  // (partition, position) — NOTES r5). The one scan-rooted heavy consumer
  // (the sliding-window explode) gets the floor locally via
  // QueryHelpers.clickstreamPar instead.
  def events: DataFrame = {
    val raw = p("events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw
          .withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        // Driver-regenerated data ships ts as parquet timestamp[us] (read as
        // TIMESTAMP_NTZ). Normalize to TimestampType (session TZ is UTC) and
        // synthesize ts_ns = micros * 1000 so downstream exact arithmetic
        // (`ts_ns DIV 1000`) agrees bit-for-bit with DuckDB's epoch_ns(ts),
        // which also carries zero sub-micro digits here. ANSI forbids
        // NTZ -> BIGINT, so go through unix_micros, not CAST(ts AS LONG).
        raw
          .withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }

  /** Typed accessors — `Dataset[T]` views of the same scans. */
  def eventsDs: org.apache.spark.sql.Dataset[graft.schema.Schemas.Event] = {
    import spark.implicits._
    events.as[graft.schema.Schemas.Event]
  }
  def documentsDs: org.apache.spark.sql.Dataset[graft.schema.Schemas.Document] = {
    import spark.implicits._
    documents.as[graft.schema.Schemas.Document]
  }
  def embeddingsDs: org.apache.spark.sql.Dataset[graft.schema.Schemas.Embedding] = {
    import spark.implicits._
    embeddings.as[graft.schema.Schemas.Embedding]
  }

  /** The reference's clickstream shape (reference: src/streaming/config.py:144-157)
    * projected from the synthetic `events` table, for parity pipelines:
    * user_id plays the session key, `value` plays price, and the JSON `props`
    * `k` field plays product_id (exercises from_json-style extraction, P9).
    */
  def clickstream: DataFrame =
    events.select(
      col("ts").as("event_time"),
      col("event_type"),
      regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("product_id"),
      col("value").as("price"),
      col("user_id").cast("string").as("user_session")
    )
}

object Tables {
  // partition-count probe cache: planning the same scan hundreds of times
  // per Verify/Bench run would re-list the file each call; the count is a
  // pure function of (file bytes, session parallelism, split confs), so the
  // key carries the file's length+mtime (r21, ADVICE: a rewrite of the same
  // path in one JVM must not serve a stale count); for a directory (a
  // parquet dataset), the name, length and mtime of every file under it,
  // since a directory's own length and mtime do not change when a part file
  // is rewritten in place. Bounded: cleared if it ever exceeds MaxEntries (a
  // long-lived JVM cycling many data dirs) — losing the cache only costs a
  // re-probe.
  private val MaxEntries = 1024
  private val scanPartsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def stamp(f: java.io.File): String =
    if (f.isDirectory)
      Option(f.listFiles).getOrElse(Array.empty[java.io.File]).sortBy(_.getName)
        .map(c => s"${c.getName}:${stamp(c)}").mkString("[", ",", "]")
    else s"${f.length}@${f.lastModified}"
  private[graft] def scanParts(key: String, path: String, df: DataFrame): Int = {
    val full = s"$key#${stamp(new java.io.File(path))}"
    if (scanPartsCache.size > MaxEntries) scanPartsCache.clear()
    scanPartsCache.computeIfAbsent(full, _ => df.rdd.getNumPartitions).intValue
  }
}
