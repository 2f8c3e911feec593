package graft
import graft.streaming.MetricsStore
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.harness()
    new java.io.File(outDir).mkdirs()
    // Queries are independent jobs on one thread-safe SparkSession: run a few
    // concurrently so small queries overlap the iterative ML fits instead of
    // queuing behind them (cuts the gate's wall time roughly in half).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // Dev-loop filter (driver leaves it unset → full dump): run only the
    // named queries and dump only their oracles, so local_verify checks
    // exactly the filtered set — never a stale earlier dump in the same dir.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only.fold(SparkEntry.queries)(k => SparkEntry.queries.filter(q => k(q._1)))
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = queries.toSeq.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            failed.add(name)
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // Machine-readable summary: a red query must change this line, not just
    // emit a stderr message nobody greps (the r9 silent-shrinkage lesson).
    val failedNames = failed.toArray(Array.empty[String]).sorted
    System.err.println(
      s"[verify] ${queries.size - failedNames.length} ok / ${failedNames.length} failed" +
        (if (failedNames.nonEmpty) failedNames.mkString(": ", ", ", "") else ""))
    // Release every block the queries left pinned (leak hygiene; queries
    // run concurrently above, so per-query cleanup would race — once at
    // the end is the safe point).
    GraftSession.release(spark)
    // toJson escapes backslash, quote and ALL control chars (<0x20) — a
    // tab or CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness.
    val json = MetricsStore.toJson(
      only.fold(SparkEntry.oracleSql)(k => SparkEntry.oracleSql.filter(o => k(o._1))))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
