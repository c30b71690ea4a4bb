package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import StreamUtil.AdditiveState.Store

/** Streaming approximate-distinct (daily unique users) over HLL
  * sketch state — the scale path for "DAU on an unbounded stream":
  * exact distinct needs per-key user sets (state grows with users),
  * a Datasketches HLL union is a few KB per day FOREVER, and the
  * union is associative + commutative, so batch boundaries are
  * invisible by construction. The same sketch-column discipline as
  * [[graft.operators.Olap]] `hllSketchDaily` (reference: the daily
  * rollups its ClickHouse sink serves, `src/process.py:43-76`);
  * per-batch sketch deltas behind the replay guard are the
  * [[ValueCountState]] pattern.
  *
  * Approximate by construction → no DuckDB oracle (rows-only);
  * spec-gated instead on (a) EXACT equality with the one-shot batch
  * sketch (merge-invariance: same sketches whether the stream saw 1
  * batch or 10) and (b) ±5% of true exact distinct.
  */
final class HllDistinctState(stateDir: String, lgConfigK: Int = 14) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "day TIMESTAMP, sk BINARY",
    Seq("day"), Seq("sk" -> (hll_union_agg(_: Column, lit(false)))))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgConfigK)).as("sk"))
  }

  def estimates(spark: SparkSession): DataFrame =
    state.read(spark)
      .select(col("day"),
        round(hll_sketch_estimate(col("sk"))).cast("long").as("est_users"))
      .orderBy(col("day"))
}

object HllStream {

  /** Queries entry (rows-only): daily `est_users` after draining the
    * staged corpus through the real streaming engine. */
  def streamApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_hll_", dir)(
      _ => StreamSources.events(spark, dir), new HllDistinctState(_))(_.merge).estimates(spark)

  /** Queries entry (rows-only): weekly p50/p95/p99 from the merged
    * per-day KLL state after draining the staged corpus — the
    * streaming face of `kll_quantiles_daily`. KLL merges are
    * associative/commutative but RANDOMIZED (compaction coin flips),
    * so unlike the HLL/CMS twins the parity spec asserts rank-error
    * bounds, not byte equality. */
  def streamKllQuantiles(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_kll_", dir)(
      _ => StreamSources.events(spark, dir), new KllDailyState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `cms_top_items`): the CMS
    * counter grid is plain Long addition, so the sketch a stream
    * maintains equals the sketch a batch build produces — the
    * deterministic-hash design makes that an exact equality, checked
    * by the shared DuckDB oracle. */
  def streamCms(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_scms_", dir)(
      _ => StreamSources.events(spark, dir), new CmsState(_))(_.merge).topItems(spark)
}

/** Streaming Count–Min state — [[graft.operators.Sketches]]' twin:
  * the d×w counter grid is additive (Long sums), so batch boundaries
  * are invisible in the estimates; the candidate dictionary (the
  * sketch answers point queries, it cannot enumerate keys) is the
  * idempotent distinct-item presence set. Both are stores of one
  * [[StreamUtil.AdditiveState]]: each batch commits its own counter
  * grid and item set as deltas of one version.
  *
  * This pair is exactly what a production streaming counter keeps:
  * bounded sketch for the heavy tail, a key dictionary for the
  * queryable head. */
final class CmsState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    Store("counters", "j BIGINT, bucket BIGINT, c BIGINT",
      Seq("j", "bucket"), StreamUtil.sums("c")),
    Store("items", "item BIGINT", Seq("item"), Nil)))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    val items = batch
      .select(get_json_object(col("props"), "$.k").cast("long").as("item"))
    Map("counters" -> graft.operators.Sketches.cmsCountersTransform(items),
      "items" -> items.filter(col("item").isNotNull).distinct())
  }

  def topItems(spark: SparkSession): DataFrame =
    graft.operators.Sketches.cmsTopFromState(
      state.read(spark, "counters"), state.read(spark, "items"))
}

/** Streaming KLL quantile state — `kll_quantiles_daily`'s twin: one
  * few-KB binary sketch per (week, day), merged per batch with
  * [[graft.functions.KllMergeAgg]] (associative + commutative, so
  * batch boundaries never change what the sketch REPRESENTS — only
  * the randomized compaction path, whose error the spec bounds).
  * Exact weekly percentiles on an unbounded stream would need
  * per-key value multisets (state grows with events); this state is
  * O(weeks · days) sketches forever. Report is the batch operator's
  * own [[graft.operators.Olap.kllWeeklyReport]]. Each batch commits
  * its sketches as one delta behind the replay guard, and a read
  * merges the deltas per (week, day) ([[StreamUtil.AdditiveState]]). */
final class KllDailyState(stateDir: String, k: Int = 200) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "week TIMESTAMP, day TIMESTAMP, sk BINARY",
    Seq("week", "day"), Seq("sk" -> (call_function("graft_kll_merge", _: Column, lit(k)))))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.functions.GraftFunctions.register(batch.sparkSession)
    batch
      .select(date_trunc("week", col("ts")).as("week"),
        date_trunc("day", col("ts")).as("day"), col("value"))
      .groupBy(col("week"), col("day"))
      .agg(call_function("graft_kll_agg", col("value"), lit(k)).as("sk"))
  }

  def report(spark: SparkSession): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    graft.operators.Olap.kllWeeklyReport(state.read(spark), k)
  }
}
