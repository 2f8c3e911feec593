package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.graftbridge.WriteBridge

/** Sinks (S2 + the layouts a 100 TB deployment needs).
  *
  * - `writeParquet`: plain overwrite parquet (reference S2,
  *   preprocessing.py:123); returns the rows written, so a caller needs
  *   no second read of the output to count them.
  * - `writePartitioned`: hive-style directory partitioning on date-ish keys —
  *   readers filtering on the partition column scan only matching
  *   directories (`PartitionFilters` in the plan, zero data read for pruned
  *   partitions).
  * - `writeBucketed`: pre-shuffled bucket layout via the session catalog —
  *   two tables bucketed on the same key join with NO exchange (verify:
  *   plan has SortMergeJoin but no `Exchange hashpartitioning`). This is the
  *   co-located-join strategy for repeated large-fact joins.
  */
object Sinks {

  /** The count is the write's own commit statistic: exact under task
    * retry and no extra Spark job ([[WriteBridge]]).
    */
  def writeParquet(df: DataFrame, path: String): Long =
    WriteBridge.save(df, "parquet", SaveMode.Overwrite, path)

  /** JSONL (newline-delimited JSON) — the de-facto training-data
    * interchange format: one document object per line, splittable when
    * uncompressed, schema-on-read. Written gzip by default (the shipping
    * shape); read back with an EXPLICIT schema — `inferSchema` is banned
    * in production paths (a sampling pass whose result can drift with the
    * data).
    */
  def writeJsonl(df: DataFrame, path: String, compression: String = "gzip"): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", compression).json(path)

  def readJsonl(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      schema: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC reader next to [[writeOrc]] — round-trip + predicate pushdown are
    * spec-pinned so format choice stays a config decision, not a
    * correctness one.
    */
  def readOrc(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      nBuckets: Int = 8
  ): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Range-clustered parquet: repartition by range on `sortCols`, sort
    * within partitions, bound file size with `maxRecordsPerFile`. Each
    * output file then covers a narrow, mostly-disjoint key range, so parquet
    * footer min/max (zone maps) let ANY later range predicate on those
    * columns skip whole files/row-groups — the sort costs one shuffle at
    * write time and pays on every subsequent scan. This is the clustering
    * story where a partition column would be too fine-grained (e.g.
    * timestamps).
    *
    * `bloomFilterCols` adds per-column parquet BLOOM FILTERS — the 100 TB
    * POINT-lookup complement to min/max pruning: a range-clustered key
    * skips by footer stats, but a high-cardinality column probed by
    * equality (user_id, url hash) needs the bloom bitset to skip row
    * groups whose range happens to cover the probe value. `expectedNdv`
    * sizes the bitset (parquet-mr derives bits from ndv at ~1% fpp).
    */
  def writeRangeClustered(
      df: DataFrame,
      path: String,
      sortCols: Seq[String],
      nFiles: Int = 8,
      maxRecordsPerFile: Long = 0L,
      bloomFilterCols: Seq[String] = Nil,
      expectedNdv: Long = 10000L
  ): Unit = {
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    val w = df.repartitionByRange(nFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    bloomFilterCols
      .foldLeft(w) { (acc, c) =>
        // parquet-mr omits the bloom filter when every page of the chunk is
        // dictionary-encoded (the dictionary already answers membership), so
        // force plain encoding on bloom columns — they are high-cardinality
        // point-lookup keys by design, where the dictionary would fall back
        // to plain at production scale anyway
        acc.option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c", expectedNdv.toString)
          .option(s"parquet.enable.dictionary#$c", "false")
      }
      .parquet(path)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)
}
