package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Streaming ordered-funnel: the sequential-pattern state machine of
  * [[graft.operators.Engagement.funnelConversion]] (view → click →
  * purchase, each stage gated on the previous stage's first-time)
  * maintained incrementally across micro-batches.
  *
  * State = one row per user: (first view, first gated click, first
  * gated purchase) — three timestamps, constant size, merged per
  * batch with conditional mins (the [[CdcCompact]] versioned-parquet
  * MERGE pattern, replay-guarded the same way). A batch's clicks are
  * gated against the MERGED first-view (state ∪ this batch), so
  * same-batch view→click chains resolve correctly.
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
  private val state = new StreamUtil.VersionedState(stateDir)

  private def prior(spark: SparkSession): DataFrame = state.prior(spark,
    "user_id BIGINT, t_view TIMESTAMP, t_click TIMESTAMP, t_purchase TIMESTAMP")

  /** foreachBatch body; exactly-once under replay via the
    * batchId <= version guard. */
  def merge(batch: Dataset[Row], batchId: Long): Unit = state.commit(batchId) {
    val spark = batch.sparkSession
    val p = prior(spark)

    // stage 1: merged first-view per user
    val bv = batch.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("bv"))
    val users = batch.select(col("user_id")).distinct()
    val s1 = p.join(bv, Seq("user_id"), "full_outer")
      .join(users, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(least(col("t_view"), col("bv")), col("t_view"), col("bv")).as("t_view"),
        col("t_click"), col("t_purchase"))

    // stage 2: batch clicks gated on the MERGED first-view
    val bc = batch.filter(col("event_type") === "click")
      .join(s1.select(col("user_id"), col("t_view").as("gate")), Seq("user_id"))
      .filter(col("ts") > col("gate"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("bc"))
    val s2 = s1.join(bc, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"),
        coalesce(least(col("t_click"), col("bc")), col("t_click"), col("bc")).as("t_click"),
        col("t_purchase"))

    // stage 3: batch purchases gated on the merged first-click
    val bp = batch.filter(col("event_type") === "purchase")
      .join(s2.select(col("user_id"), col("t_click").as("gate")), Seq("user_id"))
      .filter(col("ts") > col("gate"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("bp"))
    val s3 = s2.join(bp, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"),
        coalesce(least(col("t_purchase"), col("bp")), col("t_purchase"), col("bp")).as("t_purchase"))

    // per-user funnel state is 4 columns × |users| — sharded by the
    // user_id hash so the per-batch rewrite scales with the cluster
    StreamUtil.writeSharded(s3, state.at(batchId), Seq("user_id"))
  }

  /** The funnel report over the current state — same shape as the
    * batch query. */
  def counts(spark: SparkSession): DataFrame =
    prior(spark).agg(
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
  * lists. */
final class ExclusionFunnelState(stateDir: String) {
  private val state = new StreamUtil.VersionedState(stateDir)

  private def prior(spark: SparkSession): DataFrame = state.prior(spark,
    "user_id BIGINT, t_view TIMESTAMP, t_purchase TIMESTAMP, t_err TIMESTAMP")

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.commit(batchId) {
    val spark = batch.sparkSession
    val p = prior(spark)
    val bv = batch.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("bv"))
    val s1 = p.join(bv, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(least(col("t_view"), col("bv")), col("t_view"), col("bv")).as("t_view"),
        col("t_purchase"), col("t_err"))
    def gatedMin(tpe: String, name: String) = batch
      .filter(col("event_type") === tpe)
      .join(s1.select(col("user_id"), col("t_view").as("gate")), Seq("user_id"))
      .filter(col("ts") > col("gate"))
      .groupBy(col("user_id")).agg(min(col("ts")).as(name))
    val s2 = s1.join(gatedMin("purchase", "bp"), Seq("user_id"), "left")
      .join(gatedMin("error", "be"), Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"),
        coalesce(least(col("t_purchase"), col("bp")), col("t_purchase"), col("bp")).as("t_purchase"),
        coalesce(least(col("t_err"), col("be")), col("t_err"), col("be")).as("t_err"))
    StreamUtil.writeSharded(s2, state.at(batchId), Seq("user_id"))
  }

  /** Same output shape as the batch query. */
  def report(spark: SparkSession): DataFrame = {
    val s = prior(spark)
    s.agg(
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
}

object FunnelStream {

  /** Stage events as `nFiles` time-range-partitioned parquet files
    * with strictly increasing mod-times: micro-batch k contains only
    * events later than every event of batch k-1, giving the ordered
    * delivery the incremental funnel needs. */
  private[graft] def stageTimeOrdered(spark: SparkSession, dir: String, out: String,
                                      nFiles: Int): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
      .repartitionByRange(nFiles, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(out)
    // part-0000k holds the k-th time range; pin mod-times to that order
    val files = Files.list(Paths.get(out)).iterator()
    val parts = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (files.hasNext) {
      val f = files.next()
      if (f.getFileName.toString.endsWith(".parquet")) parts += f
    }
    val t0 = System.currentTimeMillis()
    parts.sortBy(_.getFileName.toString).zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 60000L))
    }
  }

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
