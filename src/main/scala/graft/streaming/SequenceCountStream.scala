package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sequences

/** Streaming packed-DFA state — the incremental twin of the
  * [[Sequences]] fold family: state is ONE BIGINT per user, each
  * batch folds its time-sorted codes on top of the stored
  * accumulator (the fold's init is the prior state column, so the
  * DFA literally resumes mid-pattern across the batch boundary). The
  * step lambda is the very Column function the batch operator folds
  * with — stream/batch parity by shared code, not by parallel
  * implementations; which step (sequence-count's `count*4+stage` or
  * strict-order's `best*8+current`) and which report divisor are the
  * only parameters.
  *
  * Like [[AttributionStream]]/[[FunnelStream]], correctness rests on
  * event-time-ordered replay (staged via
  * [[FunnelStream.stageTimeOrdered]]): a later batch may not deliver
  * an earlier event, because a DFA mid-state cannot be rewound.
  * State is |users| rows of two BIGINTs — the smallest state table
  * in the streaming family; replay-guarded and versioned like every
  * state here. It stays a versioned rewrite, not an
  * [[StreamUtil.AdditiveState]]: a DFA fold is not commutative, so
  * no combine of per-batch deltas can stand in for it.
  */
final class DfaState(stateDir: String, step: (Column, Column) => Column,
                     shift: Int, outCol: String) {
  private val state = new StreamUtil.VersionedState(stateDir)

  private def prior(spark: SparkSession): DataFrame = state.prior(spark,
    "user_id BIGINT, acc BIGINT")

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.commit(batchId) {
    val spark = batch.sparkSession
    val partial = Sequences.codedEvents(batch)
      .groupBy(col("user_id"))
      .agg(transform(array_sort(collect_list(struct(col("ts"), col("event_id"), col("code")))),
        s => s.getField("code")).as("codes"))
    val merged = prior(spark).join(partial, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        aggregate(
          coalesce(col("codes"), lit(Array.empty[Long])),
          coalesce(col("acc"), lit(0L)),
          step).as("acc"))
    StreamUtil.writeSharded(merged, state.at(batchId), Seq("user_id"))
  }

  /** Same histogram shape (and oracle) as the batch twin. */
  def histogram(spark: SparkSession): DataFrame =
    prior(spark)
      .select((col("acc") / shift).cast("long").as(outCol))
      .groupBy(col(outCol)).agg(count(lit(1)).as("n_users"))
      .orderBy(col(outCol))
}

object SequenceCountStream {

  private def run(spark: SparkSession, dir: String, prefix: String,
                  state: String => DfaState, nFiles: Int): DataFrame =
    StreamUtil.drained(spark, prefix, dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), state)(_.merge).histogram(spark)

  /** Queries entry: time-ordered replay through the incremental
    * sequence-count DFA (oracle: same recursive-CTE SQL as
    * `sequence_count`). */
  def streamSequenceCount(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    run(spark, dir, "graft_seqcnt_",
      sd => new DfaState(sd, Sequences.seqDfaStep, 4, "n_sequences"), nFiles)

  /** Queries entry: the strict-order funnel DFA, incrementally
    * (oracle: same recursive-CTE SQL as `funnel_strict_order`). */
  def streamFunnelStrict(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    run(spark, dir, "graft_strict_",
      sd => new DfaState(sd, Sequences.strictDfaStep, 8, "depth"), nFiles)
}
