package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.BlockBridge

/** Session helpers shared by Verify / Bench / the dev tools / tests.
  *
  * The reference tunes its sessions at script level (8g driver,
  * shuffle.partitions=200 batch / 10 streaming, AQE + Kryo on the cluster —
  * reference: src/spark/preprocessing.py:17-25, src/streaming/config.py:77-85,
  * scripts/create_cluster.sh:42). We centralize the same knobs here, sized for
  * local[N] testing but with the cluster-scale settings (AQE, skew-join
  * handling) always on so the plans we test are the plans a 1000-executor
  * cluster would run.
  */
object GraftSession {

  /** Runtime SQL confs safe to apply to an existing session (everything here
    * is a dynamic SQLConf, not a static spark conf). Idempotent and cheap —
    * call before touching any table.
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.session.timeZone", "UTC")
    // AQE: runtime partition coalescing + skew-join splitting. At 100 TB the
    // skew handling is what keeps a hot user_session / join key from pinning
    // one executor; locally it is a no-op cost.
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // The driver-generated events table carries parquet TIMESTAMP(NANOS),
    // which Spark's vectorized reader rejects by default. Read the physical
    // int64 as a long (nanos since epoch); sources.Tables converts to a
    // proper TimestampType column.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Without this, the planner silently falls back to a plain scan on a
    // bucketed table when the query has no join/agg on the bucket key
    // ("Bucketed: false (disabled by query planner)") — which also drops
    // bucket PRUNING on point lookups (BucketedJoin.prunedLookup). Only
    // catalog tables written with bucketBy are affected.
    c.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    // BloomFilterAggregate (Decontaminate.overlapsViaBloom) silently clamps
    // to these runtime-filter caps; the defaults (4M items / 64 Mbit) are
    // sized for join pruning, not a corpus-scale membership prefilter.
    // 100M items / 2^30 bits ≈ a 128 MB filter — still a sane broadcast.
    c.set("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "100000000")
    c.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "1073741824")
    // Streaming state: keep one state-store version in the HDFS provider's
    // in-memory cache, not the default two. StreamJob.processBatch runs its
    // stateful plan once per trigger, so each trigger commits one version;
    // with two retained, the session state (one row per active session,
    // streaming.SessionPanes) sits in the heap twice. One covers the
    // success path (Spark's "success case only" setting); a retried batch
    // reloads its version from the checkpoint's delta files.
    c.set("spark.sql.streaming.maxBatchesToRetainInMemory", "1")
    // Streaming checkpoint files (offset and commit logs, state-store
    // deltas and Spark's checksum files for them) are each written to a
    // temp file and renamed into place. On a local file system without
    // Hadoop's native library, Spark's default manager forks a `chmod` per
    // file or directory it creates and a `readlink` per rename: about a
    // hundred forks per trigger. LocalCheckpointFileManager does the same
    // work in-process and keeps Hadoop's `.crc` sidecar (and verifies it on
    // read). On a cluster's HDFS or S3 checkpoint it is Spark's default
    // manager, unchanged. Spark's own checkpoint checksums
    // (spark.sql.streaming.checkpoint.fileChecksum.enabled) stay on.
    c.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
    // A scan over more paths than parallelPartitionDiscovery.threshold (32,
    // unchanged) lists them in a Spark job with one task per path by
    // default, so a streaming trigger that picks up 50 new files paid 50
    // task launches to list them. In local mode the job is capped at one
    // task per core (local[n]'s fixed defaultParallelism), so it lists the
    // same paths in fewer, larger tasks. On a cluster Spark's default cap
    // (10 000) stays: there defaultParallelism counts the executors
    // registered when tune runs, which can be 2 before any has registered
    // or under dynamic allocation, and would pin every later listing job,
    // batch scans included, at that many tasks.
    if (spark.sparkContext.isLocal)
      c.set("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        spark.sparkContext.defaultParallelism.toString)
    registerFunctions(spark)
    spark
  }

  /** Expose the native sketch expressions to SQL (`SELECT graft_simhash64(text) …`). */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // Idempotence: tune() runs per Tables() construction, and
    // createOrReplaceTempFunction logs a replace-WARN every time — 4k+
    // noise lines per Verify run. The definitions are process-constant,
    // so if the marker function is already present the whole batch is.
    if (reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_simhash64"))) return
    reg.createOrReplaceTempFunction(
      "graft_simhash64",
      exprs => graft.expressions.SimHash64(exprs.head),
      "built-in")
    reg.createOrReplaceTempFunction(
      "graft_minhash_sig",
      exprs => graft.expressions.MinHashSig(exprs.head, 32, 3, 42L),
      "built-in")
    reg.createOrReplaceTempFunction(
      "graft_fingerprint64",
      exprs => graft.expressions.Fingerprint64(exprs.head),
      "built-in")
    reg.createOrReplaceTempFunction(
      "graft_shingle_set",
      exprs => graft.expressions.ShingleSet(exprs.head, 3),
      "built-in")
    // Composition operators exposed to SQL as well. The Column API builds
    // opaque ColumnNode trees in Spark 4 (not registry-compatible Catalyst
    // expressions), so these are registered from parsed SQL templates with
    // the argument expression spliced in — still plain Catalyst after
    // analysis, fully codegen'd, no UDFs. RepetitionSqlSpec pins template ≡
    // Column-API equality so the two spellings can't drift.
    def template(sqlText: String): Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression = { exprs =>
      require(exprs.length == 1,
        s"graft template functions take exactly 1 argument, got ${exprs.length}")
      spark.sessionState.sqlParser.parseExpression(sqlText).transformUp {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.name.equalsIgnoreCase("__arg__") => exprs.head
      }
    }
    // SQL-string-literal escape for a Java/RE2 regex (backslashes doubled)
    def rq(re: String): String = "'" + re.replace("\\", "\\\\") + "'"
    import graft.operators.PiiScrub.{EmailRe, Ipv4Re, UrlRe}
    reg.createOrReplaceTempFunction(
      "graft_pii_redact",
      template(
        s"""regexp_replace(regexp_replace(regexp_replace(__ARG__,
           |  ${rq(UrlRe)}, '<URL>'), ${rq(EmailRe)}, '<EMAIL>'), ${rq(Ipv4Re)}, '<IP>')"""
          .stripMargin),
      "built-in")
    reg.createOrReplaceTempFunction(
      "graft_hash_bucket",
      template(
        """(CASE WHEN ascii(substring(md5(CAST(__ARG__ AS STRING)), 1, 1)) >= 97
          |      THEN ascii(substring(md5(CAST(__ARG__ AS STRING)), 1, 1)) - 87
          |      ELSE ascii(substring(md5(CAST(__ARG__ AS STRING)), 1, 1)) - 48 END) * 16
          |+ (CASE WHEN ascii(substring(md5(CAST(__ARG__ AS STRING)), 2, 1)) >= 97
          |        THEN ascii(substring(md5(CAST(__ARG__ AS STRING)), 2, 1)) - 87
          |        ELSE ascii(substring(md5(CAST(__ARG__ AS STRING)), 2, 1)) - 48 END)"""
          .stripMargin),
      "built-in")
    reg.createOrReplaceTempFunction(
      "graft_dup_word_frac",
      template(
        """CASE WHEN size(filter(split(lower(__ARG__), '\\s+'), w -> w != '')) = 0
          |     THEN CAST(0.0 AS DOUBLE)
          |     ELSE 1.0 - CAST(size(array_distinct(
          |            filter(split(lower(__ARG__), '\\s+'), w -> w != ''))) AS DOUBLE)
          |          / size(filter(split(lower(__ARG__), '\\s+'), w -> w != '')) END"""
          .stripMargin),
      "built-in")
    // custom aggregates (the analyzer wraps AggregateFunctions itself);
    // k / merge-pair arguments must be foldable literals
    def litOf(e: org.apache.spark.sql.catalyst.expressions.Expression, what: String): Any = {
      require(e.foldable, s"$what must be a literal")
      val v = e.eval()
      require(v != null, s"$what must be non-null")
      v
    }
    reg.createOrReplaceTempFunction(
      "graft_freq_sketch",
      exprs => graft.expressions.FreqSketch(exprs.head,
        litOf(exprs(1), "k").asInstanceOf[Number].intValue),
      "built-in")
    reg.createOrReplaceTempFunction(
      "graft_min_k_by",
      exprs => graft.expressions.MinKByAgg.of(exprs.head, exprs(1),
        litOf(exprs(2), "k").asInstanceOf[Number].intValue),
      "built-in")
    reg.createOrReplaceTempFunction(
      "graft_bpe_merge_pair",
      exprs => graft.expressions.PairMerge(exprs.head,
        litOf(exprs(1), "left").toString, litOf(exprs(2), "right").toString),
      "built-in")
  }

  /** Local session for tests and ad-hoc runs. */
  def local(cores: Int = 4, shufflePartitions: Int = 8): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      // static conf: bucketed tables (BucketedJoin) land in tmp, not cwd
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }

  /** The harness session (Bench, Verify, DumpPlans, ShowQ): [[local]] with
    * n cores and n shuffle partitions, n = `SPARK_GRAFT_CPUS`, or the
    * host's available processors when that is unset.
    */
  def harness(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    local(n, shufflePartitions = n)
  }

  /** Release every block a query left behind: DataFrame caches (e.g. the
    * SGD feature persist), RDDs MLlib fits persist (ALS/KMeans/RF) and the
    * iterative operators' localCheckpoint frames, through
    * [[BlockBridge.release]] (no lineage WARN for the checkpoints).
    * Blocking, so eviction finishes before the caller's next timed region
    * starts.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(BlockBridge.release(_, blocking = true))
  }
}
