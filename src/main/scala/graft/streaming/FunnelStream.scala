package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Streaming ordered-funnel: the sequential-pattern state machine of
  * [[graft.operators.Engagement.funnelConversion]] (view → click →
  * purchase, each stage gated on the previous stage's first-time)
  * maintained incrementally across micro-batches.
  *
  * State = one row per user: (first view, first gated click, first
  * gated purchase) — three timestamps, constant size, combined by a
  * per-column min ([[StreamUtil.AdditiveState]]). A batch's clicks
  * are gated against the MERGED first-view (committed state ∪ this
  * batch), so same-batch view→click chains resolve correctly; the
  * gates are the order-dependent step, and they live in the batch's
  * partial, which reads the committed state.
  *
  * Correctness rests on event-time-ordered delivery: a stage-k event
  * discarded today is never re-validated by a stage-(k-1) event
  * arriving later with an EARLIER timestamp. The replay stages
  * time-range-partitioned files with increasing mod-times
  * (micro-batch k holds only events later than every event of batch
  * k-1), which is also the property a log-compacted/ordered ingest
  * (Kafka per-partition order + watermark-buffered reordering) gives
  * the production variant. */
final class FunnelState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "user_id BIGINT, t_view TIMESTAMP, t_click TIMESTAMP, t_purchase TIMESTAMP",
    Seq("user_id"), StreamUtil.mins("t_view", "t_click", "t_purchase"))

  /** foreachBatch body; exactly-once under replay via the
    * batchId <= version guard. */
  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    // every batch user, with its committed stages and its batch first
    // view; a user with no qualifying event keeps an all-null row,
    // which `n_users` counts
    val users = batch.select(col("user_id")).distinct()
      .join(state.read(batch.sparkSession), Seq("user_id"), "left")
      .join(FunnelStream.firstOf(batch, "view", "bv"), Seq("user_id"), "left")
    // stage 2: batch clicks gated on the MERGED first-view
    val s1 = users.join(FunnelStream.firstAfter(batch, "click", "bc",
      users.select(col("user_id"), least(col("t_view"), col("bv")).as("gate"))), Seq("user_id"), "left")
    // stage 3: batch purchases gated on the merged first-click
    s1.join(FunnelStream.firstAfter(batch, "purchase", "bp",
        s1.select(col("user_id"), least(col("t_click"), col("bc")).as("gate"))), Seq("user_id"), "left")
      .select(col("user_id"), col("bv").as("t_view"), col("bc").as("t_click"),
        col("bp").as("t_purchase"))
  }

  /** The funnel report over the current state — same shape as the
    * batch query. */
  def counts(spark: SparkSession): DataFrame =
    state.read(spark).agg(
      count(col("t_view")).as("reached_view"),
      count(col("t_click")).as("reached_click"),
      count(col("t_purchase")).as("reached_purchase"),
      count(lit(1)).as("n_users"))
}

/** Streaming twin of [[graft.operators.Engagement.funnelExcluding]]:
  * per-user `(first view, first post-view purchase, first post-view
  * error)` — three conditional mins, constant state, merged per
  * time-ordered batch exactly like [[FunnelState]] (same ordered-
  * delivery contract: a merged first-view never moves earlier, so a
  * gate applied today is never invalidated tomorrow). The exclusion
  * verdict is a PURE READ: the journey is dirty iff the earliest
  * post-view error precedes the first purchase — if even the MIN
  * qualifying error lands at/after t_purchase, no error is inside
  * the interval. A late purchase arriving AFTER an already-recorded
  * error therefore classifies correctly with no per-user event
  * lists. The three mins are an [[StreamUtil.AdditiveState]]; the
  * post-view gates read the committed first-view. */
final class ExclusionFunnelState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "user_id BIGINT, t_view TIMESTAMP, t_purchase TIMESTAMP, t_err TIMESTAMP",
    Seq("user_id"), StreamUtil.mins("t_view", "t_purchase", "t_err"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    val bv = FunnelStream.firstOf(batch, "view", "bv")
    // the merged first-view of every batch user that has one
    val gate = batch.select(col("user_id")).distinct()
      .join(state.read(batch.sparkSession), Seq("user_id"), "left")
      .join(bv, Seq("user_id"), "left")
      .select(col("user_id"), least(col("t_view"), col("bv")).as("gate"))
      .filter(col("gate").isNotNull)
    gate.join(bv, Seq("user_id"), "left")
      .join(FunnelStream.firstAfter(batch, "purchase", "t_purchase", gate), Seq("user_id"), "left")
      .join(FunnelStream.firstAfter(batch, "error", "t_err", gate), Seq("user_id"), "left")
      .select(col("user_id"), col("bv").as("t_view"), col("t_purchase"), col("t_err"))
  }

  /** Same output shape as the batch query. */
  def report(spark: SparkSession): DataFrame =
    state.read(spark).agg(
        count(col("t_view")).as("users_view"),
        count(col("t_purchase")).as("converted"),
        coalesce(sum(when(col("t_purchase").isNotNull && col("t_err").isNotNull &&
          col("t_err") < col("t_purchase"), 1L).otherwise(0L)), lit(0L)).as("excluded"))
      .select(col("users_view"), col("converted"),
        (col("converted") - col("excluded")).as("clean_converted"),
        expr("""CASE WHEN converted > 0 THEN
               |  round(CAST(converted - excluded AS DOUBLE) / converted, 6)
               |END""".stripMargin).as("clean_rate"))
}

object FunnelStream {

  /** Each user's first `tpe` event of `events`, as `name`. */
  private[streaming] def firstOf(events: DataFrame, tpe: String, name: String): DataFrame =
    events.filter(col("event_type") === tpe)
      .groupBy(col("user_id")).agg(min(col("ts")).as(name))

  /** Each `gate` user's first batch `tpe` event strictly after its
    * `gate` timestamp, as `name`. */
  private[streaming] def firstAfter(batch: DataFrame, tpe: String, name: String,
      gate: DataFrame): DataFrame =
    firstOf(batch.join(gate, Seq("user_id")).filter(col("ts") > col("gate")), tpe, name)

  /** Queries entry: drain the time-ordered replay through the state
    * machine and emit the final funnel report (oracle: same SQL as
    * `funnel_conversion`). */
  def streamFunnel(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_funnel_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new FunnelState(_))(_.merge)
      .counts(spark)

  /** Queries entry: the exclusion funnel drained through the same
    * time-ordered replay (oracle: same SQL as `funnel_excluding`). */
  def streamFunnelExcluding(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_fexcl_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new ExclusionFunnelState(_))(_.merge)
      .report(spark)
}
