package graft.cli

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.operators.Featurize
import graft.sources.{Clickstream, Sinks}

/** Reference-parity preprocessing CLI
  * (reference: src/spark/preprocessing.py:127-150 — same flags):
  *
  *   runMain graft.cli.Preprocess --input events.csv --output features.parquet
  *
  * CSV → clean → leakage-free sessionization → session features → Parquet.
  * Two Spark jobs per call, the shuffle map stage and the write; the
  * returned row count comes from the write's commit statistics
  * ([[Sinks.writeParquet]]), not from reading the output back.
  */
object Preprocess {

  def run(spark: SparkSession, input: String, output: String): Long = {
    GraftSession.tune(spark)
    val raw = Clickstream.loadCsv(spark, input)
    val features = Featurize.leakageFreeSessionFeatures(raw)
    Sinks.writeParquet(features, output)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val input = opts.getOrElse("--input", sys.error("--input required"))
    val output = opts.getOrElse("--output", sys.error("--output required"))
    // spark-submit injects the master; standalone runs fall back to local
    val spark = SparkSession.builder().appName("graft-preprocess")
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()
    val n = run(spark, input, output)
    println(s"[preprocess] wrote $n session-feature rows to $output")
    spark.stop()
  }
}
