package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev utility: print a few rows + row count of one or more
  * `SparkEntry.queries` entries at a given SF dir, in the Bench session
  * shape ([[GraftSession.harness]]); [[DumpPlans]] writes their plans.
  * `sbt "runMain graft.tools.ShowQ /root/testdata/sf0.01 q_naive_bayes"`.
  */
object ShowQ {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.harness()
    val dir = args.head
    args.tail.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      println(s"== $name ==")
      df.show(40, truncate = false)
      println(s"[showq] $name rows=${df.count()}")
      GraftSession.release(spark)
    }
    spark.stop()
  }
}
