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
  * [[StreamSources.timeOrdered]]): a later batch may not deliver
  * an earlier event, because a DFA mid-state cannot be rewound.
  *
  * A single-store [[StreamUtil.AdditiveState]]: its one store,
  * `delta`, holds per user the latest batch's accumulator,
  * `max(struct(batch, acc))`. The fold is the one order-dependent
  * step, and it lives in the batch's partial, which reads the
  * committed `acc` of the batch's users only — so a batch writes
  * |batch users| rows, not |users|.
  */
final class DfaState(stateDir: String, step: (Column, Column) => Column,
                     shift: Int, outCol: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "user_id BIGINT, acc STRUCT<batch: BIGINT, acc: BIGINT>",
    Seq("user_id"), StreamUtil.maxes("acc"))

  private def accs(spark: SparkSession): DataFrame =
    state.read(spark).select(col("user_id"), col("acc.acc").as("acc"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    Sequences.codedEvents(batch)
      .groupBy(col("user_id"))
      .agg(transform(array_sort(collect_list(struct(col("ts"), col("event_id"), col("code")))),
        s => s.getField("code")).as("codes"))
      .join(accs(batch.sparkSession), Seq("user_id"), "left")
      .select(col("user_id"), struct(lit(batchId).as("batch"),
        aggregate(col("codes"), coalesce(col("acc"), lit(0L)), step).as("acc")).as("acc"))
  }

  /** Same histogram shape (and oracle) as the batch twin. */
  def histogram(spark: SparkSession): DataFrame =
    accs(spark)
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
