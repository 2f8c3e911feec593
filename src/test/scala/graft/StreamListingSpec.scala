package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** A trigger that picks up more paths than the parallel-listing threshold
  * lists them in a Spark job; `GraftSession.tune` caps that job at one
  * task per core instead of one per path.
  */
final class StreamListingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("40 new files in one trigger: the listing job runs at most one task per core") {
    val sc = spark.sparkContext
    val files = 40
    assert(files > spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    val dir = Files.createTempDirectory("graft-listing-in")
    (0 until files).foreach { i =>
      Files.write(dir.resolve(f"part-$i%03d.txt"), (0 until 5).map(j => s"$i-$j").mkString("\n").getBytes)
    }
    // tasks of each parallel-listing job, by its job description
    val listingTasks = mutable.ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        if (desc.exists(_.startsWith("Listing leaf files")))
          listingTasks.synchronized { listingTasks += e.stageInfos.map(_.numTasks).sum }
      }
    }
    sc.addSparkListener(listener)
    val q = spark.readStream.format("text").load(dir.toString)
      .writeStream.format("noop")
      .option("checkpointLocation", Files.createTempDirectory("graft-listing-cp").toString)
      .start()
    try q.processAllAvailable()
    finally {
      q.stop()
      ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(q.recentProgress.map(_.numInputRows).sum == files * 5L)
    assert(listingTasks.nonEmpty, "the trigger's 40 paths were listed without a Spark job")
    assert(listingTasks.forall(_ <= sc.defaultParallelism), s"listing tasks: $listingTasks")
    assert(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.parallelism") ==
      sc.defaultParallelism.toString)
  }
}
