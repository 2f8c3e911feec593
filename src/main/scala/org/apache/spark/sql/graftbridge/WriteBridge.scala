package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, SaveMode, classic}
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec

/** A file-source write that returns the rows it committed.
  *
  * `DataFrameWriter.save(path)` builds its write command (`saveCommand`,
  * `private[sql]`, hence this package) and runs it eagerly in a new
  * `QueryExecution`; [[save]] does exactly that, then reads the executed
  * `DataWritingCommandExec`'s `numOutputRows`. The write's stats tracker
  * fills that metric on the driver from the statistics of the committed
  * tasks only, so it stays exact under task retry, where an accumulator
  * would count a retried task twice. It costs no job and no
  * listener: `Dataset.observe` leaks its `ObservationManager` into later
  * task closures, and a `QueryExecutionListener` hears every concurrent
  * query of the session, asynchronously.
  *
  * Under AQE the command node sits inside `AdaptiveSparkPlanExec` →
  * `ResultQueryStageExec`, which `AdaptiveSparkPlanHelper.collectFirst`
  * descends into.
  */
object WriteBridge extends AdaptiveSparkPlanHelper {

  /** `df.write.mode(mode).format(format).save(path)`; returns the rows written. */
  def save(df: DataFrame, format: String, mode: SaveMode, path: String): Long = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val cmd = ds.write.mode(mode).format(format).saveCommand(Some(path))
    val qe = new QueryExecution(session, cmd, ds.queryExecution.tracker,
      shuffleCleanupMode = QueryExecution.determineShuffleCleanupMode(session.sessionState.conf))
    qe.assertCommandExecuted()
    val executed = qe.commandExecuted.collectFirst { case r: CommandResult => r.commandPhysicalPlan }
    executed.flatMap(collectFirst(_) { case w: DataWritingCommandExec => w.metrics("numOutputRows").value })
      .getOrElse(throw new IllegalStateException(s"no file write in the executed plan of $format $path"))
  }
}
