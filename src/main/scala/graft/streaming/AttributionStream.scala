package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import StreamUtil.AdditiveState.Store

/** Streaming last-touch attribution: the carry-forward window of
  * [[graft.operators.Behavior.attributionTransform]] maintained
  * incrementally across micro-batches.
  *
  * State = two stores of one [[StreamUtil.AdditiveState]]:
  *  - `lt`: one row per user — the latest touch seen so far as
  *    (ts, event_id, event_type), i.e. exactly the struct the batch
  *    operator's window max carries (and the store's combiner), with
  *    its ORIGINAL timestamp so the lookback expiry keeps working
  *    across batches;
  *  - `acc`: accumulated per-touch-type conversion counts and
  *    attributed value in integer CENTS (the tumble-agg exact-sum
  *    trick: per-batch rounded doubles would drift from the batch
  *    oracle, integer cents cannot), summed.
  *
  * Each batch unions the committed per-user touch (as a pseudo-row
  * that sorts before every batch event — delivery is time-ordered)
  * with the batch events, runs the SAME struct-max window, and
  * attributes the batch's purchases. Correctness rests on
  * event-time-ordered replay, as in [[FunnelStream]]: a purchase is
  * attributed when its batch closes, and no later batch may deliver
  * an earlier touch.
  */
final class AttributionState(stateDir: String, lookback: String) {
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    Store("lt", "user_id BIGINT, lt STRUCT<ts: TIMESTAMP, event_id: BIGINT, event_type: STRING>",
      Seq("user_id"), StreamUtil.maxes("lt")),
    Store("acc", "touch_type STRING, n_conversions BIGINT, cents BIGINT",
      Seq("touch_type"), StreamUtil.sums("n_conversions", "cents"))))

  /** foreachBatch body; exactly-once under replay via the
    * batchId <= version guard. */
  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    // committed per-user touch as a pseudo event: value never read (it
    // is not a purchase), event_type is the touch's own type
    val pseudo = state.read(batch.sparkSession, "lt")
      .select(col("user_id"), col("lt.ts").as("ts"), col("lt.event_id").as("event_id"),
        col("lt.event_type").as("event_type"), lit(null).cast("double").as("value"))
    val events = batch
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))

    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin("view", "click")
    val touch = struct(col("ts"), col("event_id"), col("event_type"))

    // batch purchases attributed against state ∪ batch touches;
    // pseudo rows are never purchases, so no double counting
    val acc = events.union(pseudo).withColumn("last_touch", max(when(isTouch, touch)).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("touch_type",
        when(col("last_touch").isNotNull &&
             col("last_touch.ts") >= col("ts") - expr(lookback),
          col("last_touch.event_type")).otherwise(lit("none")))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
           coalesce(sum(round(col("value") * 100).cast("long")), lit(0L)).as("cents"))

    Map("acc" -> acc,
      "lt" -> events.filter(isTouch).groupBy(col("user_id")).agg(max(touch).as("lt")))
  }

  /** The attribution report over the accumulated state — same shape
    * (and oracle) as the batch query: cents/100 equals the oracle's
    * round(sum(value), 2) because inputs are 2-decimal. */
  def report(spark: SparkSession): DataFrame =
    state.read(spark, "acc")
      .select(col("touch_type"), col("n_conversions"),
        (col("cents").cast("double") / 100.0).as("attributed_value"))
      .orderBy(col("touch_type"))
}

object AttributionStream {

  /** Queries entry: time-ordered replay through the incremental
    * attribution state machine (oracle: same SQL as
    * `attribution_last_touch`). */
  def streamAttribution(spark: SparkSession, dir: String, nFiles: Int = 4,
                        lookback: String = "INTERVAL 7 DAYS"): DataFrame =
    StreamUtil.drained(spark, "graft_attr_", dir, nFiles, lookback)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new AttributionState(_, lookback))(
      _.merge).report(spark)
}

/** Streaming Markov (removal-effect) attribution —
  * [[graft.operators.MultiTouch.markovAttributionTransform]]'s twin
  * under time-ordered replay: the chain's transition counts are
  * ADDITIVE once journeys are truncated consistently, and the
  * truncation state is a per-user frontier (last journey state + a
  * converted flag). Per batch: events of already-converted users are
  * dropped, each live user's batch slice truncates at its first
  * purchase, the first batch transition hangs off the frontier's
  * last state (START for new users), and the frontier advances.
  * Counts and frontier are two stores of one
  * [[StreamUtil.AdditiveState]]: the counts sum, the frontier's
  * `last_st` is latest-per-user (a struct max over `(ts, event_id,
  * st)`) and `converted` is a `max` of a boolean, since a converted
  * journey never reopens. Terminal NULL rows are NOT stored — the
  * READ face derives them from the frontier (a non-converted user's
  * journey "ends today" exactly like the batch operator's last-event
  * terminal), then runs the SHARED `markovFromCounts` folds.
  * Correctness rests on event-time-ordered replay like
  * [[FunnelStream]]/[[AttributionState]].
  */
final class MarkovAttrState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    Store("counts", "prev STRING, curr STRING, n BIGINT", Seq("prev", "curr"), StreamUtil.sums("n")),
    Store("frontier",
      "user_id BIGINT, last_st STRUCT<ts: TIMESTAMP, event_id: BIGINT, st: STRING>, converted BOOLEAN",
      Seq("user_id"), StreamUtil.maxes("last_st", "converted"))))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    val fr = state.read(batch.sparkSession, "frontier")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq0 = batch
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
    val live = seq0.join(
      fr.filter(col("converted")).select(col("user_id")), Seq("user_id"), "left_anti")
    val pcut = live.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("prn"))
    val j = live.join(pcut, Seq("user_id"), "left")
      .filter(col("prn").isNull || col("rn") <= col("prn"))
      .select(col("user_id"), col("ts"), col("event_id"), col("rn"),
        when(col("event_type") === "purchase", lit("CONV"))
          .otherwise(col("event_type")).as("st"))
    val wj = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val trans = j.withColumn("p0", lag(col("st"), 1).over(wj))
      .join(fr.select(col("user_id"), col("last_st.st").as("last_st")), Seq("user_id"), "left")
      .select(coalesce(col("p0"), col("last_st"), lit("START")).as("prev"),
        col("st").as("curr"))
    Map("counts" -> trans.groupBy(col("prev"), col("curr")).agg(count(lit(1)).as("n")),
      "frontier" -> j.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("st"))).as("last_st"))
        .withColumn("converted", coalesce(col("last_st.st") === "CONV", lit(false))))
  }

  /** Read face: counts ∪ the frontier's derived NULL terminals →
    * the shared removal-effect folds. */
  def report(spark: SparkSession): DataFrame = {
    val nulls = state.read(spark, "frontier").filter(!col("converted"))
      .select(col("last_st.st").as("prev"), lit("NULL").as("curr"))
      .groupBy(col("prev"), col("curr")).agg(count(lit(1)).as("n"))
    graft.operators.MultiTouch.markovFromCounts(
      state.read(spark, "counts").unionByName(nulls)
        .groupBy(col("prev"), col("curr")).agg(sum(col("n")).as("n")))
  }
}

object MarkovAttrStream {

  /** Queries entry (oracle: same SQL as `markov_attribution`):
    * time-ordered replay through the incremental journey-chain state. */
  def streamMarkovAttribution(spark: SparkSession, dir: String,
                              nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_smattr_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new MarkovAttrState(_))(_.merge)
      .report(spark)
}
