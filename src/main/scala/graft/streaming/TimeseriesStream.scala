package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import StreamUtil.AdditiveState.Store

/** Streaming twins for the [[graft.operators.Timeseries]] family —
  * three more members of the state-merge family, each keeping the
  * SUFFICIENT state its statistic needs and deriving the report
  * through the batch operator's own expression tree:
  *
  *  - [[TypeDailyCountState]] → `stream_acf`: an autocorrelation is a
  *    whole-series regression (per-batch ACFs cannot merge — one
  *    late day re-centers every product), but the daily count grid is
  *    additive; report = `Timeseries.acfFromDaily`.
  *  - [[DailyVolRevState]] → `stream_rolling_corr`: same argument per
  *    window; additive `(day, x, y)` state, report =
  *    `Timeseries.corrFromDaily`.
  *  - [[SurvivalState]] → `stream_survival`: risk sets are suffix
  *    sums over ALL users' durations (a late first-view moves a
  *    user's whole duration), but the per-user `(v_day, any_p)`
  *    conditional mins and the one-row horizon max merge exactly;
  *    report = `Timeseries.survivalFromUsers`.
  *
  * All three are [[StreamUtil.AdditiveState]]s behind its replayed-
  * batch guard: each batch commits its partial as a delta, and a read
  * combines the deltas — sums for the count grids; per-user mins and
  * a keyless horizon max, two stores of one version, for survival.
  */
final class TypeDailyCountState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "event_type STRING, day TIMESTAMP, x BIGINT",
    Seq("event_type", "day"), StreamUtil.sums("x"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("x"))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Timeseries.acfFromDaily(state.read(spark))

  /** The SAME (type, day, x) grid serves the mix-drift report — one
    * state, two daily-composition faces. */
  def reportMixDrift(spark: SparkSession): DataFrame =
    graft.operators.Timeseries.mixDriftFromDaily(state.read(spark))

  /** THIRD face: day-of-week is a pure function of the day, so the
    * daily grid is a sufficient statistic for the χ² contingency
    * cells — no new state, the same additive counts. */
  def reportChi2Dow(spark: SparkSession): DataFrame =
    graft.operators.Stats.chi2FromObs(state.read(spark)
      .select(col("event_type"),
        (dayofweek(col("day")) - 1).cast("long").as("dow"), col("x"))
      .groupBy(col("event_type"), col("dow")).agg(sum(col("x")).as("n")))

  /** FOURTH face: the burstiness (Fano) read over the same grid. */
  def reportFano(spark: SparkSession): DataFrame =
    graft.operators.Stats.fanoFromDaily(
      state.read(spark).select(col("event_type"), col("day"), col("x").as("n")))

  /** FIFTH face: Spearman rank correlation between the type series —
    * rank space is a whole-series read, the counts stay additive. */
  def reportSpearman(spark: SparkSession): DataFrame =
    graft.operators.Stats.spearmanFromDaily(
      state.read(spark).select(col("event_type"), col("day"), col("x").as("n")))

  /** SIXTH face: the Wald–Wolfowitz runs test — run boundaries are a
    * whole-series read (a late day can split or merge runs). */
  def reportRuns(spark: SparkSession): DataFrame =
    graft.operators.Stats.runsFromDaily(
      state.read(spark).select(col("event_type"), col("day"), col("x").as("n")))

  /** SEVENTH face: Kendall τ-b between the type series. */
  def reportKendall(spark: SparkSession): DataFrame =
    graft.operators.Stats.kendallFromDaily(
      state.read(spark).select(col("event_type"), col("day"), col("x").as("n")))

  /** EIGHTH face: the Ljung–Box portmanteau over the ACF. */
  def reportLjungBox(spark: SparkSession): DataFrame =
    graft.operators.Timeseries.ljungBoxFromDaily(state.read(spark))

  /** NINTH face: the day-of-week residual outlier screen — the
    * per-dow history is a whole-grid read, the counts are additive. */
  def reportDowResidual(spark: SparkSession): DataFrame =
    graft.operators.Stats.dowResidualFromDaily(
      state.read(spark).select(col("event_type"), col("day"), col("x").as("n")))

  /** TENTH face: type↔weekday mutual information over the same
    * grid (dow derives from the day, the chi2FromObs route). */
  def reportMutualInfo(spark: SparkSession): DataFrame =
    graft.operators.Stats.miFromObs(state.read(spark)
      .select(col("event_type"),
        (dayofweek(col("day")) - 1).cast("long").as("dow"), col("x"))
      .groupBy(col("event_type"), col("dow")).agg(sum(col("x")).as("n")))

  /** ELEVENTH face: the Jarque–Bera normality screen — the central
    * moments are whole-series reads (a late day re-centers all
    * four), but the daily counts stay additive. */
  def reportJarqueBera(spark: SparkSession): DataFrame =
    graft.operators.Timeseries.jarqueBeraFromDaily(
      state.read(spark).select(col("event_type"), col("day"), col("x").as("n")))

  /** TWELFTH face: the Theil–Sen robust trend — every pairwise slope
    * touches two days, so per-batch medians cannot merge; the grid
    * can. */
  def reportTheilSen(spark: SparkSession): DataFrame =
    graft.operators.Timeseries.theilSenFromDaily(
      state.read(spark).select(col("event_type"), col("day"), col("x").as("n")))

  /** THIRTEENTH face: the seasonal-strength η² of dow on the daily
    * counts — between/within sums are whole-grid reads, the counts
    * merge. */
  def reportSeasonalStrength(spark: SparkSession): DataFrame =
    graft.operators.Stats.seasonalStrengthFromDaily(
      state.read(spark).select(col("event_type"), col("day"), col("x").as("n")))

  /** FOURTEENTH face: the Wilcoxon signed-rank z between type pairs —
    * signed ranks are whole-series reads (a late day re-ranks every
    * |d|), the counts merge. */
  def reportWilcoxon(spark: SparkSession): DataFrame =
    graft.operators.Stats.wilcoxonFromDaily(
      state.read(spark).select(col("event_type"), col("day"), col("x").as("n")))

  /** FIFTEENTH face: the lagged cross-correlation between type
    * pairs — every lag overlap is a whole-series read, the counts
    * merge. */
  def reportCcf(spark: SparkSession): DataFrame =
    graft.operators.Timeseries.ccfFromDaily(
      state.read(spark).select(col("event_type"), col("day"), col("x").as("n")))

  /** SIXTEENTH face: the PACF — the Durbin–Levinson recursion is a
    * whole-correlogram read, the counts merge. */
  def reportPacf(spark: SparkSession): DataFrame =
    graft.operators.Timeseries.pacfFromDaily(state.read(spark))

  /** SEVENTEENTH face: the Friedman repeated-measures test — does
    * the type activity ORDERING hold day after day; within-day ranks
    * are a whole-grid read, the counts stay additive. */
  def reportFriedman(spark: SparkSession): DataFrame =
    graft.operators.Stats.friedmanFromDailyCounts(
      state.read(spark).select(col("day"), col("event_type"), col("x")))
}

/** Additive (item, day, n) engagement grid for the adoption profile —
  * the first-seen day is a MIN over the grid, so a late micro-batch
  * that back-dates an item's launch re-dates every share correctly
  * at read time (a per-batch "first seen" would be wrong forever). */
final class ItemDayCountState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "item BIGINT, day TIMESTAMP, n BIGINT",
    Seq("item", "day"), StreamUtil.sums("n"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(get_json_object(col("props"), "$.k").cast("long").as("item"),
        date_trunc("day", col("ts")).as("day"))
      .filter(col("item").isNotNull)
      .groupBy(col("item"), col("day")).agg(count(lit(1)).as("n"))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Behavior.adoptionFromCounts(state.read(spark))

  /** SECOND face: the heavy-changers share-delta screen — the period
    * cut is a min over the same grid, so a late back-dating batch
    * re-dates the halves correctly at read time. */
  def reportHeavyChangers(spark: SparkSession): DataFrame =
    graft.operators.Timeseries.heavyChangersFromDaily(state.read(spark))
}

final class DailyVolRevState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "day TIMESTAMP, x BIGINT, y BIGINT",
    Seq("day"), StreamUtil.sums("x", "y"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(date_trunc("day", col("ts")).as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("x"), sum(col("cents")).as("y"))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Timeseries.corrFromDaily(state.read(spark))

  /** The SAME (day, x, y) grid serves the crossover signal — one
    * state, two daily-series faces (the ValueCountState pattern). */
  def reportMaCrossover(spark: SparkSession): DataFrame =
    graft.operators.Timeseries.maFromDaily(state.read(spark).select(col("day"), col("y")))
}

final class SurvivalState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    Store("users", "user_id BIGINT, v_day TIMESTAMP, any_p TIMESTAMP",
      Seq("user_id"), StreamUtil.mins("v_day", "any_p")),
    // keyless: one global row, the stream's latest day
    Store("horizon", "h TIMESTAMP", Nil, StreamUtil.maxes("h"))))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    val days = batch
      .select(col("user_id"), col("event_type"), date_trunc("day", col("ts")).as("day"))
    Map("users" -> days.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("day"))).as("v_day"),
          min(when(col("event_type") === "purchase", col("day"))).as("any_p")),
      "horizon" -> days.agg(max(col("day")).as("h")))
  }

  def report(spark: SparkSession): DataFrame =
    // the horizon read is a global aggregate, which the plan audit
    // accepts as a provably one-row broadcast side (isOneRowBuild)
    graft.operators.Timeseries.survivalFromUsers(
      state.read(spark, "users"), state.read(spark, "horizon"))
}

/** Streaming time-weighted average — the SECOND cross-batch-pair
  * member (after [[TransitionState]]): the interval spanning a
  * micro-batch boundary (user's last event in batch k held until
  * their first event in batch k+1) exists in no single batch, so the
  * state is the additive daily `(n_intervals, cw, sw)` sufficient
  * sums PLUS a per-user `(ts, event_id, cents)` frontier (a struct
  * max) that reconstructs exactly the boundary interval — weight
  * accrues to the EARLIER event's day with the earlier event's value,
  * the batch lead-gap semantics. Both are stores of one
  * [[StreamUtil.AdditiveState]]; the boundary interval is the batch
  * partial's read of the committed frontier. Report via the shared
  * `twaFromDaily`. */
final class TwaState(stateDir: String) {
  private val dec = "decimal(38,0)"
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    Store("daily", s"day TIMESTAMP, n_intervals BIGINT, cw $dec, sw $dec",
      Seq("day"), StreamUtil.sums("n_intervals", "cw", "sw")),
    Store("last", "user_id BIGINT, last STRUCT<ts: TIMESTAMP, event_id: BIGINT, cents: BIGINT>",
      Seq("user_id"), StreamUtil.maxes("last"))))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val b = batch
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("w_us", lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
    val inBatch = b.filter(col("w_us").isNotNull)
      .select(date_trunc("day", col("ts")).as("day"), col("cents"), col("w_us"))
    val boundary = state.read(batch.sparkSession, "last")
      .join(b.filter(col("rn") === 1).select(col("user_id"), col("ts")), Seq("user_id"))
      .select(date_trunc("day", col("last.ts")).as("day"), col("last.cents").as("cents"),
        (unix_micros(col("ts")) - unix_micros(col("last.ts"))).as("w_us"))
    Map(
      "daily" -> inBatch.unionByName(boundary)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("cents").cast(dec) * col("w_us")).as("cw"),
          sum(col("w_us").cast(dec)).as("sw")),
      "last" -> b.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("cents"))).as("last")))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Timeseries.twaFromDaily(state.read(spark, "daily"))
}

object TimeseriesStream {

  /** The (type, day) count state behind the seventeen faces below:
    * the time-ordered replay, drained once per (input, nFiles)
    * ([[StreamUtil.drained]]). */
  private def typeDaily(spark: SparkSession, dir: String, nFiles: Int) =
    StreamUtil.drained(spark, "graft_stdaily_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new TypeDailyCountState(_))(_.merge)

  /** The daily (x, y) state behind stream_rolling_corr and
    * stream_ma_crossover, drained like [[typeDaily]]. */
  private def volRev(spark: SparkSession, dir: String, nFiles: Int) =
    StreamUtil.drained(spark, "graft_svolrev_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new DailyVolRevState(_))(_.merge)

  /** Queries entry (oracle: same SQL as `time_weighted_value`). */
  def streamTimeWeighted(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_stwa_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new TwaState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `acf_daily`): the shared
    * (type, day) count state. */
  def streamAcf(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).report(spark)

  /** Queries entry (oracle: same SQL as `type_mix_drift`): the shared
    * (type, day) count state. */
  def streamTypeMixDrift(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportMixDrift(spark)

  /** Queries entry (oracle: same SQL as `chi2_type_dow`): the shared
    * (type, day) count state. */
  def streamChi2TypeDow(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportChi2Dow(spark)

  /** Queries entry (oracle: same SQL as `fano_factor_daily`): the
    * shared (type, day) count state. */
  def streamFano(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportFano(spark)

  /** Queries entry (oracle: same SQL as `spearman_daily_pairs`): the
    * shared (type, day) count state. */
  def streamSpearman(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportSpearman(spark)

  /** Queries entry (oracle: same SQL as `runs_test_daily`): the shared
    * (type, day) count state. */
  def streamRunsTest(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportRuns(spark)

  /** Queries entry (oracle: same SQL as `kendall_tau_daily`): the
    * shared (type, day) count state. */
  def streamKendall(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportKendall(spark)

  /** Queries entry (oracle: same SQL as `ljung_box_daily`): the shared
    * (type, day) count state. */
  def streamLjungBox(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportLjungBox(spark)

  /** Queries entry (oracle: same SQL as `mutual_info_type_dow`): the
    * shared (type, day) count state. */
  def streamMutualInfo(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportMutualInfo(spark)

  /** Queries entry (oracle: same SQL as `jarque_bera_daily`): the
    * shared (type, day) count state. */
  def streamJarqueBera(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportJarqueBera(spark)

  /** Queries entry (oracle: same SQL as `theil_sen_trend`): the shared
    * (type, day) count state. */
  def streamTheilSen(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportTheilSen(spark)

  /** Queries entry (oracle: same SQL as `seasonal_strength`): the
    * shared (type, day) count state. */
  def streamSeasonalStrength(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportSeasonalStrength(spark)

  /** Queries entry (oracle: same SQL as `wilcoxon_signed_rank`): the
    * shared (type, day) count state. */
  def streamWilcoxon(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportWilcoxon(spark)

  /** Queries entry (oracle: same SQL as `cross_correlation_daily`):
    * the shared (type, day) count state. */
  def streamCcf(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportCcf(spark)

  /** Queries entry (oracle: same SQL as `friedman_daily`): the shared
    * (type, day) count state. */
  def streamFriedman(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportFriedman(spark)

  /** Queries entry (oracle: same SQL as `pacf_daily`): the shared
    * (type, day) count state. */
  def streamPacf(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportPacf(spark)

  /** Queries entry (oracle: same SQL as `dow_residual_outliers`): the
    * shared (type, day) count state. */
  def streamDowResidual(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    typeDaily(spark, dir, nFiles).reportDowResidual(spark)

  /** The (item, day) count state behind the two faces below, drained
    * once per input ([[StreamUtil.drained]]) from the unstaged event
    * stream: order-free additive counts need no staged time ordering. */
  private def itemDays(spark: SparkSession, dir: String) =
    StreamUtil.drained(spark, "graft_itemday_", dir)(
      _ => StreamSources.events(spark, dir), new ItemDayCountState(_))(_.merge)

  /** Queries entry (oracle: same SQL as `item_adoption`): the shared
    * (item, day) count state. */
  def streamItemAdoption(spark: SparkSession, dir: String): DataFrame =
    itemDays(spark, dir).report(spark)

  /** Queries entry (oracle: same SQL as `heavy_changers`): the shared
    * (item, day) count state. */
  def streamHeavyChangers(spark: SparkSession, dir: String): DataFrame =
    itemDays(spark, dir).reportHeavyChangers(spark)

  /** Queries entry (oracle: same SQL as `rolling_corr_daily`). */
  def streamRollingCorr(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    volRev(spark, dir, nFiles).report(spark)

  /** Queries entry (oracle: same SQL as `ma_crossover`): the shared
    * daily (x, y) state. */
  def streamMaCrossover(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    volRev(spark, dir, nFiles).reportMaCrossover(spark)

  /** Queries entry (oracle: same SQL as `survival_km`). */
  def streamSurvival(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_ssurv_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new SurvivalState(_))(_.merge).report(spark)
}
