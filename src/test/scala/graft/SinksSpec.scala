package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sinks

/** `Sinks.writeParquet` returns exactly the rows a read of its output
  * finds: the count comes from the write's commit statistics.
  */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def path(): String = Files.createTempDirectory("graft-sinks").resolve("out").toString

  private def fields(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  private def frame(n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).select(col("id"), (col("id") % 7).cast("string").as("s"))

  test("writeParquet returns the row count of a multi-partition frame") {
    val out = path()
    val df = frame(1000, 7)
    assert(df.rdd.getNumPartitions == 7)
    assert(Sinks.writeParquet(df, out) == 1000L)
    assert(spark.read.parquet(out).count() == 1000L)
  }

  test("an overwrite of a non-empty path returns the new count, not old + new") {
    val out = path()
    assert(Sinks.writeParquet(frame(1000, 4), out) == 1000L)
    assert(Sinks.writeParquet(frame(37, 3), out) == 37L)
    assert(spark.read.parquet(out).count() == 37L)
  }

  test("an empty frame returns 0 and reads back with its schema") {
    val out = path()
    val schema = frame(1, 1).schema
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(empty.rdd.getNumPartitions == 0)
    assert(Sinks.writeParquet(empty, out) == 0L)
    val back = spark.read.parquet(out)
    assert(back.count() == 0L)
    assert(fields(back.schema) == fields(schema))
  }
}
