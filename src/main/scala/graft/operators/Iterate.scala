package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.BlockBridge

/** The loop combinator of the iterative operators (PageRank,
  * PersonalizedPageRank, LabelPropagation, Components, KCore, Bpe): a
  * frame rebuilt from the previous round's frame, for a fixed number of
  * rounds or until a stop rule holds. It owns the whole checkpoint policy:
  *
  *  - the initial frame and every round are eagerly `localCheckpoint`ed,
  *    one Spark job each, and that job also yields the round's row count;
  *  - each round's checkpoint is released once the next one is
  *    materialised, and so are the frames a step `cache`d on the round it
  *    read;
  *  - the caller owns the returned frame (the last round's checkpoint).
  *
  * Why checkpoints: per-round persist+count keeps EXECUTION flat, but the
  * LOGICAL plan still grows by one round per round and Catalyst re-analyses
  * the whole chain each time (r12 profile of PageRank at sf0.1: round 5
  * cost 2.5× round 1 under persist; flat ~0.2 s/round checkpointed — the
  * GraphX/GraphFrames iterative practice). A checkpointed round is a
  * `LogicalRDD` leaf, so every round plans the same shape and Janino's
  * codegen cache hits; a checkpoint cadence with lazy projections between
  * checkpoints changes the plan each round and ran 10–15 % slower (r25).
  * Releasing superseded rounds matters for long loops (Bpe's up to 100000
  * merges would otherwise hold every generation until the session sweep).
  *
  * Production posture: `localCheckpoint` trades fault tolerance for
  * latency — blocks live only on executors, so losing an executor
  * mid-query kills the job instead of recomputing lineage. That is the
  * right trade on a single host and for any job whose re-run cost is
  * acceptable. On a large shared cluster where executor loss is routine
  * (spot nodes, preemption), a reliable `checkpoint()` to HDFS/object
  * storage gives the same plan truncation for one extra write/read of the
  * per-round state; the change would be made here, in `checkpoint`, and
  * every operator above works identically under either.
  */
object Iterate {

  /** A materialised round: its checkpointed frame and row count. */
  final class Round private[Iterate] (val frame: DataFrame, val rows: Long) {
    private val scratch = ArrayBuffer.empty[DataFrame]

    /** Persist `df` while the next round is built from this one; it is
      * unpersisted once that round is materialised.
      */
    def cache(df: DataFrame): DataFrame = { scratch += df; df.persist() }

    private[Iterate] def dropScratch(): Unit = scratch.foreach(_.unpersist(blocking = false))
  }

  /** `rounds` rounds of `step` from `init`. */
  def apply(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    until(init, rounds)(r => Some(step(r.frame)))

  /** Up to `maxRounds` rounds of `step` from `init`. A step returns None to
    * stop before building a round; `stop(previous, next)` stops after one,
    * with both rounds still materialised.
    */
  def until(
      init: DataFrame,
      maxRounds: Int,
      stop: (Round, Round) => Boolean = (_, _) => false
  )(step: Round => Option[DataFrame]): DataFrame = {
    var cur = checkpoint(init)
    var i = 0
    var done = false
    while (!done && i < maxRounds) {
      val next = try step(cur).map(checkpoint) finally cur.dropScratch()
      next match {
        case None => done = true
        case Some(n) =>
          done = stop(cur, n)
          release(cur.frame)
          cur = n
          i += 1
      }
    }
    cur.frame
  }

  /** Drop the blocks of a frame this object checkpointed. */
  def release(frame: DataFrame): Unit = BlockBridge.release(rddOf(frame), blocking = false)

  /** One job: the checkpoint's own materialisation counts the rows. */
  private def checkpoint(df: DataFrame): Round = {
    val frame = df.localCheckpoint(eager = false)
    new Round(frame, rddOf(frame).count())
  }

  private def rddOf(frame: DataFrame): RDD[_] =
    frame.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }.get
}
