package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed logistic-regression training: the scale path for M6.
  *
  * The reference (and our OnlineLogreg parity twin) updates weights on the
  * driver from collected micro-batches. This trainer keeps ALL data on
  * executors: each epoch is ONE aggregate computing the full-batch log-loss
  * gradient Σ(σ(w·x̂)−y)·x̂ as pure Column arithmetic — codegen'd, map-side
  * combined, shuffle of exactly (nFeatures+2) doubles per partition. The
  * driver sees only the gradient vector and applies the step.
  *
  * 100 TB shape: epochs × one pass over the data, no collect, no UDF.
  */
object DistributedSgd {

  final case class Model(
      weights: Array[Double],
      bias: Double,
      mean: Array[Double],
      std: Array[Double]
  ) {
    def scoringColumn(cols: Seq[Column]): Column = {
      val z = cols.zipWithIndex.foldLeft(lit(bias)) { case (acc, (c, i)) =>
        if (std(i) > 1e-12) acc + lit(weights(i)) * ((c.cast("double") - lit(mean(i))) / lit(std(i)))
        else acc
      }
      lit(1.0) / (lit(1.0) + exp(-greatest(lit(-35.0), least(lit(35.0), z))))
    }
  }

  def fit(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String = "label",
      epochs: Int = 20,
      lr: Double = 1.0
  ): Model = {
    val n = featureCols.size
    // epochs+1 passes over the input: materialize the (narrow) projection
    // once instead of recomputing the upstream lineage per epoch — at scale
    // the input is often a whole sessionization pipeline.
    val proj = df.select((labelCol +: featureCols).map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fitCached(proj, featureCols, labelCol, epochs, lr)
    finally proj.unpersist()
  }

  private def fitCached(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      epochs: Int,
      lr: Double
  ): Model = {
    val n = featureCols.size

    // pass 1: standardization stats (one aggregate)
    val statExprs = featureCols.flatMap { c =>
      Seq(avg(col(c).cast("double")).as(s"m_$c"), stddev_samp(col(c).cast("double")).as(s"s_$c"))
    } :+ count(lit(1)).cast("double").as("n_rows")
    val stats = df.agg(statExprs.head, statExprs.tail: _*).collect()(0)
    // a feature with no non-null value (an empty or all-null input) has a
    // null mean and deviation, and one value a null deviation: such a
    // feature standardizes to the constant 0
    def stat(i: Int): Double = if (stats.isNullAt(i)) 0.0 else stats.getDouble(i)
    val mean = Array.tabulate(n)(i => stat(2 * i))
    val std = Array.tabulate(n) { i =>
      val s = stat(2 * i + 1); if (s.isNaN) 0.0 else s
    }
    val rows = stats.getDouble(2 * n)

    val weights = Array.fill(n)(0.0)
    var bias = 0.0
    // no rows, no gradient (its sums are null): the untrained model
    if (rows == 0) return Model(weights, bias, mean, std)

    def xhat(i: Int): Column =
      if (std(i) > 1e-12) (col(featureCols(i)).cast("double") - lit(mean(i))) / lit(std(i))
      else lit(0.0)

    var epoch = 0
    while (epoch < epochs) {
      val z = (0 until n).foldLeft(lit(bias))((acc, i) => acc + lit(weights(i)) * xhat(i))
      val p = lit(1.0) / (lit(1.0) + exp(-greatest(lit(-35.0), least(lit(35.0), z))))
      val g = p - col(labelCol).cast("double")
      val gradExprs = (0 until n).map(i => sum(g * xhat(i)).as(s"g$i")) :+ sum(g).as("gb")
      val grad = df.agg(gradExprs.head, gradExprs.tail: _*).collect()(0)
      var i = 0
      while (i < n) { weights(i) -= lr * grad.getDouble(i) / rows; i += 1 }
      bias -= lr * grad.getDouble(n) / rows
      epoch += 1
    }
    Model(weights, bias, mean, std)
  }
}
