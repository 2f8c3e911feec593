package graft

import java.nio.file.Files

import scala.util.Try

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Pins the `Tables.events` schema contract (sources/Tables.scala) against
  * BOTH physical shapes the driver has shipped for `events.parquet`:
  *
  *   1. parquet timestamp[us] (isAdjustedToUTC=false → Spark TIMESTAMP_NTZ) —
  *      the shape after the round-9 testdata regeneration;
  *   2. int64 nanos-since-epoch (what parquet TIMESTAMP(NANOS) becomes under
  *      `spark.sql.legacy.parquet.nanosAsLong=true` — the branch dispatch in
  *      Tables.events sees plain LongType either way, so an int64 fixture
  *      exercises the identical code path).
  *
  * Round 9 lost 58 queries at analysis time because the NTZ branch was never
  * exercised in-suite; this spec makes a silent driver regeneration of either
  * shape a loud test failure. Both branches must yield `ts: TimestampType`
  * plus `ts_ns` consistent with it (micros×1000 / raw nanos respectively).
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeFixture(sql: String): String = {
    val dir = Files.createTempDirectory("tables_fixture").toString
    spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("NTZ branch: parquet timestamp[us] -> ts TimestampType, ts_ns = micros*1000") {
    val dir = writeFixture(
      """SELECT * FROM VALUES
        |  (timestamp_ntz'2024-01-02 03:04:05.123456', 1L),
        |  (timestamp_ntz'1970-01-01 00:00:00.000001', 2L)
        |AS t(ts, user_id)""".stripMargin)
    // Written as TIMESTAMP_NTZ → parquet timestamp[us] not adjusted to UTC;
    // the scan must NOT come back as LongType (that would mean the fixture
    // degraded and the test is no longer pinning the NTZ branch).
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType !== LongType, "fixture no longer NTZ-shaped")

    val ev = Tables(spark, dir).events
    assert(ev.schema("ts").dataType === TimestampType)
    val got = ev.orderBy("user_id")
      .select(unix_micros(col("ts")).as("us"), col("ts_ns"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val wallMicros = java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 123456000)
      .toInstant(java.time.ZoneOffset.UTC)
    val expected1 = wallMicros.getEpochSecond * 1000000L + 123456L
    assert(got === Array((expected1, expected1 * 1000L), (1L, 1000L)))
  }

  test("nanos-long branch: int64 ts -> ts TimestampType truncated to micros, ts_ns raw") {
    val dir = writeFixture(
      """SELECT * FROM VALUES
        |  (1704164645123456789L, 1L),
        |  (999L, 2L)
        |AS t(ts, user_id)""".stripMargin)
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType === LongType, "fixture must read back as LongType")

    val ev = Tables(spark, dir).events
    assert(ev.schema("ts").dataType === TimestampType)
    val got = ev.orderBy("user_id")
      .select(unix_micros(col("ts")).as("us"), col("ts_ns"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // micros = nanos DIV 1000 (truncation); ts_ns is the untouched long.
    assert(got === Array((1704164645123456L, 1704164645123456789L), (0L, 999L)))
  }

  test("live driver testdata satisfies the contract (ts TimestampType, ts_ns consistent)") {
    val ev = Tables(spark, TestSpark.Sf0001).events
    assert(ev.schema("ts").dataType === TimestampType)
    // Whichever branch fired, ts_ns must carry at least micro precision of ts:
    // floor(ts_ns / 1000) == unix_micros(ts) on every row.
    val bad = ev.filter(expr("ts_ns DIV 1000") =!= unix_micros(col("ts"))).count()
    assert(bad === 0L, s"$bad rows with ts_ns inconsistent with ts")
    assert(ev.count() > 0L)
  }

  test("scanParts re-reads a parquet directory's partition count after a part file is rewritten in place") {
    def partFile(dir: String): java.nio.file.Path = {
      val ps = Files.list(java.nio.file.Paths.get(dir))
      try ps.filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      finally ps.close()
    }
    def write(rows: Int): String = {
      val dir = Files.createTempDirectory("tables_scanparts").toString + "/t.parquet"
      spark.range(rows).selectExpr("id", "hash(id) AS h").coalesce(1).write.parquet(dir)
      dir
    }
    val small = write(2000)
    val large = write(20000)
    val key = s"$small@scanparts-spec"
    def probe(): (Int, Int) = {
      val df = spark.read.parquet(small)
      (Tables.scanParts(key, small, df), df.rdd.getNumPartitions)
    }
    val conf = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(conf)
    // small splits, so the partition count follows the part file's size
    spark.conf.set(conf, "4096")
    try {
      val (before, fresh0) = probe()
      assert(before == fresh0)
      // same file names, new bytes: the directory's own length and mtime
      // stay as they were
      Files.write(partFile(small), Files.readAllBytes(partFile(large)))
      val crc = (d: String) => partFile(d).resolveSibling(s".${partFile(d).getFileName}.crc")
      Files.write(crc(small), Files.readAllBytes(crc(large)))
      val (after, fresh1) = probe()
      assert(fresh1 > fresh0)
      assert(after == fresh1, s"stale partition count $after, the rewritten directory plans $fresh1")
    } finally saved.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  /** The Spark jobs `body` runs. */
  private def jobsOf(body: => Any): Int = ListenerBus.countJobs(spark.sparkContext)(body)

  test("schema cache: a second build of a table runs no Spark job") {
    Tables(spark, TestSpark.Sf0001).lineitem
    var df: DataFrame = null
    assert(jobsOf { df = Tables(spark, TestSpark.Sf0001).lineitem } == 0)
    assert(df.schema == spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet").schema)
  }

  test("schema cache: a file rewritten in place with a new length or mtime is inferred again") {
    val dir = Files.createTempDirectory("tables_schema").toString
    val file = java.nio.file.Paths.get(s"$dir/region.parquet")
    def bytesOf(sql: String): Array[Byte] = {
      val tmp = Files.createTempDirectory("tables_schema_src").toString + "/t.parquet"
      spark.sql(sql).coalesce(1).write.parquet(tmp)
      val ps = Files.list(java.nio.file.Paths.get(tmp))
      try Files.readAllBytes(ps.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get())
      finally ps.close()
    }
    Files.write(file, bytesOf("SELECT 1 AS r_regionkey, 'a' AS r_name"))
    assert(Tables(spark, dir).region.columns.toSeq == Seq("r_regionkey", "r_name"))
    // a new length
    Files.write(file, bytesOf("SELECT 1L AS r_regionkey, 'a' AS r_name, 2.5D AS r_extra"))
    var df: DataFrame = null
    assert(jobsOf { df = Tables(spark, dir).region } > 0)
    assert(df.columns.toSeq == Seq("r_regionkey", "r_name", "r_extra"))
    assert(df.schema("r_regionkey").dataType == LongType)
    assert(df.collect().map(_.toSeq) === Array(Seq(1L, "a", 2.5)))
    assert(jobsOf(Tables(spark, dir).region) == 0)
    // the same bytes, a new mtime
    assert(file.toFile.setLastModified(file.toFile.lastModified - 60000L))
    assert(jobsOf(Tables(spark, dir).region) > 0)
  }

  test("schema cache: a read under another nanosAsLong value gets its own entry") {
    // events as older data ships it: parquet TIMESTAMP(NANOS)
    val path = Files.createTempDirectory("tables_nanos").toString + "/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); required int64 user_id; }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1704164645123456789L).append("user_id", 1L))
    finally writer.close()
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(conf)
    def both = (Try(spark.read.parquet(path).schema), Try(Tables.read(spark, path).schema))
    try {
      spark.conf.set(conf, "true")
      val (plainOn, cachedOn) = both
      assert(cachedOn.get == plainOn.get && plainOn.get("ts").dataType == LongType)
      spark.conf.set(conf, "false")
      // whatever the plain read does under this value, the cached read does
      // too: it never serves the LongType schema of the other value
      val (plainOff, cachedOff) = both
      assert(plainOff.map(_.toString).toEither.left.map(_.getClass) ==
        cachedOff.map(_.toString).toEither.left.map(_.getClass))
      spark.conf.set(conf, "true")
      var again: StructType = null
      val jobs = jobsOf { again = Tables.read(spark, path).schema }
      assert(again == plainOn.get && jobs == 0)
    } finally saved.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }
}
