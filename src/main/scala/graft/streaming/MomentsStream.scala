package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming statistical moments: per event type, the additive
  * sufficient statistics `(n, Σx, Σx²)` maintained incrementally
  * across micro-batches — the streaming half of
  * [[graft.operators.Behavior.anomalyTransform]]'s two-pass z-score
  * screen, and the canonical "mergeable aggregation state" shape
  * (ClickHouse `AggregatingMergeTree` avgState/varState analog) for
  * a metrics feed.
  *
  * Exactness: values scale to integer CENTS, so Σx and Σx² are Long
  * sums — order-independent and replay-stable — and mean/stddev are
  * derived from the exact integers only in the final report, with an
  * expression shape the DuckDB oracle mirrors literally. A per-batch
  * float accumulation would drift; integer moments cannot.
  *
  * State is one |event types|-row delta per batch
  * ([[StreamUtil.AdditiveState]]) behind the `batchId ≤ version`
  * replay guard (a cumulative sum is not idempotent under micro-batch
  * replay); a read sums the deltas per type, so types appearing for
  * the first time mid-stream just materialize.
  *
  * Scale: per batch the stream collapses map-side to |types| moment
  * rows; the state read/write is metadata-scale. Σx² headroom: cents
  * ≤ 10⁵ squared is 10¹⁰ per row — Long overflows past ~9·10⁸ rows
  * per type; a 100 TB deployment promotes sumsq to DECIMAL(38,0)
  * (or shards the state by ingest partition) — at bench scale the
  * Long path is exact and 4× cheaper.
  */
final class MomentsState(stateDir: String) {
  // Loud-fail overflow invariant (round-5 advice): the scaladoc's
  // ~9·10⁸-rows-per-type Σx² ceiling was documented but unenforced —
  // past it the state would corrupt silently. A Long overflow of a
  // sum of positives shows up as a negative (or an n beyond the
  // documented ceiling). Each combined measure carries the whole
  // check, so it survives column pruning, and every read of the
  // state raises it — the compaction's read included.
  private val guarded: Column => Column = c =>
    when(sum(col("sumsq_c")) < 0 || sum(col("sum_c")) < 0 || sum(col("n")) > 900000000L,
      raise_error(concat(lit("MomentsState Long overflow for event_type="),
        col("event_type"), lit(" — promote sumsq_c to DECIMAL(38,0)"))))
      .otherwise(sum(c))

  private val state = new StreamUtil.AdditiveState(stateDir,
    "event_type STRING, n BIGINT, sum_c BIGINT, sumsq_c BIGINT",
    Seq("event_type"), Seq("n" -> guarded, "sum_c" -> guarded, "sumsq_c" -> guarded))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    val cents = round(col("value") * 100).cast("long")
    batch
      .select(col("event_type"), cents.as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_c"),
           sum(col("c") * col("c")).as("sumsq_c"))
  }

  /** Mean / sample stddev derived from the exact integer moments.
    * The expression shape (casts, operation order, /100 scaling)
    * matches the oracle literally so the doubles agree bit-for-bit;
    * degenerate n ≤ 1 groups report a null sd rather than a
    * divide-by-zero Infinity.
    */
  def report(spark: SparkSession): DataFrame =
    state.read(spark)
      .select(col("event_type"), col("n"),
        round((col("sum_c") / 100.0) / col("n"), 4).as("mean"),
        when(col("n") > 1,
          round(sqrt((col("sumsq_c") - col("sum_c").cast("double") * col("sum_c") / col("n"))
            / (col("n") - 1)) / 100.0, 4)).as("sd"))
      .orderBy(col("event_type"))

  /** SECOND face: the one-way ANOVA omnibus F over the same additive
    * per-type moments — the between/within decomposition is a
    * whole-state read, but (n, Σc, Σc²) is exactly its sufficient
    * statistic ([[graft.operators.Stats.anovaFromMoments]]). The
    * state stores sumsq_c as BIGINT; the rollup's DECIMAL(38,9)
    * terms widen it before any cross-type arithmetic. */
  def reportAnova(spark: SparkSession): DataFrame =
    graft.operators.Stats.anovaFromMoments(state.read(spark))
}

object MomentsStream {

  /** The per-type moments state behind both faces below, drained once per
    * input ([[StreamUtil.drained]]). */
  private def moments(spark: SparkSession, dir: String) =
    StreamUtil.drained(spark, "graft_moments_", dir)(
      _ => StreamSources.events(spark, dir), new MomentsState(_))(_.merge)

  /** Queries entry (oracle: same SQL as `anova_f_cents`): the shared
    * per-type moments state. */
  def streamAnova(spark: SparkSession, dir: String): DataFrame =
    moments(spark, dir).reportAnova(spark)

  /** Queries entry: the full feed replayed through the incremental
    * moments state, reported as per-type n/mean/sd (oracle: the same
    * formula over the whole corpus in one pass — additive state makes
    * batch boundaries invisible, no ordering staging needed).
    */
  def streamMoments(spark: SparkSession, dir: String): DataFrame =
    moments(spark, dir).report(spark)
}

/** Streaming incremental rollup — [[graft.operators.Olap
  * .incrementalRollup]]'s streaming twin, closing the
  * materialized-view-maintenance story across batch and stream: the
  * per-(day, event_type) daily rollup maintained by committing each
  * micro-batch's partial aggregate as a delta and summing the deltas
  * at read (additive Long metrics, [[MomentsState]]'s replay guard).
  * Late rows for any
  * old day fold in exactly like the batch operator's delta MERGE —
  * there is no watermark cut-off because the state keys on day, not
  * on open windows; a deployment bounds state by archiving days past
  * the lateness horizon to the serving store.
  */
final class RollupState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "day TIMESTAMP, event_type STRING, n BIGINT, cents BIGINT",
    Seq("day", "event_type"), StreamUtil.sums("n", "cents"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
  }

  def view(spark: SparkSession): DataFrame =
    state.read(spark).orderBy(col("day"), col("event_type"))

  /** SECOND face: the wide type × day-of-week pivot — dow is a pure
    * function of the rollup's day key, so the BI pivot is a read
    * over the same additive daily grid. */
  def pivotTypeDow(spark: SparkSession): DataFrame =
    graft.operators.Olap.pivotFromTypeDow(
      state.read(spark)
        .select(col("event_type"),
          (dayofweek(col("day")) - 1).cast("long").as("dow"), col("n"))
        .groupBy(col("event_type"), col("dow")).agg(sum(col("n")).as("n")))
}

object RollupStream {

  /** The daily rollup state behind both faces below, drained once per
    * input ([[StreamUtil.drained]]). */
  private def rollup(spark: SparkSession, dir: String) =
    StreamUtil.drained(spark, "graft_rollup_", dir)(
      _ => StreamSources.events(spark, dir), new RollupState(_))(_.merge)

  /** Queries entry: oracle = the same full recompute that gates
    * `incremental_rollup` (additivity makes batch boundaries
    * invisible). */
  def streamRollup(spark: SparkSession, dir: String): DataFrame =
    rollup(spark, dir).view(spark)

  /** Queries entry (oracle: same SQL as `pivot_type_dow`): the shared
    * daily rollup state. */
  def streamPivotTypeDow(spark: SparkSession, dir: String): DataFrame =
    rollup(spark, dir).pivotTypeDow(spark)
}

/** Streaming daily modal item —
  * [[graft.operators.Behavior.modeDailyItemTransform]]'s twin: the
  * (day, item, n) count table is the additive state (the mode itself
  * is NOT additive — a per-batch mode cannot be merged, which is
  * exactly why the state must be the sufficient counts, the
  * `uniqState`-style lesson this family keeps re-proving), maintained
  * with [[MomentsState]]'s `batchId ≤ version` replay guard; the mode
  * is derived at report time through
  * [[graft.operators.Behavior.modeFromDailyCounts]] — the identical
  * expression tree the batch operator runs, so stream equals batch
  * row-for-row regardless of how batches split or ties land.
  *
  * State is (days × items) rows — bounded by key cardinality, not
  * input volume; late rows fold into their (old) day like
  * [[RollupState]].
  */
final class DailyModeState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "day TIMESTAMP, item BIGINT, n BIGINT",
    Seq("day", "item"), StreamUtil.sums("n"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(date_trunc("day", col("ts")).as("day"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .groupBy(col("day"), col("item"))
      .agg(count(lit(1)).as("n"))
  }

  def mode(spark: SparkSession): DataFrame =
    graft.operators.Behavior.modeFromDailyCounts(state.read(spark))
}

/** Streaming corpus-drift state —
  * [[graft.operators.TextOps.sourceDriftTvTransform]]'s twin: the
  * (source, tok, n) unigram count table is the additive sufficient
  * state (a TV distance is NOT additive — per-batch TVs cannot merge,
  * same non-additive-metric lesson as [[DailyModeState]]), maintained
  * with the `batchId ≤ version` replay guard; the pairwise TV report
  * derives at read time through
  * [[graft.operators.TextOps.sourceDriftFromCounts]] — the identical
  * expression tree the batch operator runs, so stream equals batch
  * bit-for-bit regardless of how document batches split.
  *
  * State is (sources × vocab) rows — bounded by vocabulary, not
  * document volume, but a 100 TB web corpus's vocabulary is itself
  * data-scale, so the state write is hash-sharded on (source, tok).
  */
final class DriftState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "source STRING, tok STRING, n BIGINT",
    Seq("source", "tok"), StreamUtil.sums("n"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n"))
  }

  def drift(spark: SparkSession): DataFrame =
    graft.operators.TextOps.sourceDriftFromCounts(state.read(spark))
}

object DriftStream {

  /** Queries entry: oracle = the same SQL that gates
    * `source_drift_tv` (sufficient-count state + shared TV
    * derivation make batch boundaries invisible). */
  def streamSourceDrift(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_drift_", dir)(
      _ => StreamSources.documents(spark, dir), new DriftState(_))(_.merge).drift(spark)
}

/** Streaming changepoint state —
  * [[graft.operators.Behavior.changepointCusumTransform]]'s twin:
  * the (day, n) daily count table is the additive sufficient state
  * (a CUSUM argmax is NOT additive — every new batch can move the
  * changepoint anywhere in history, so per-batch changepoints cannot
  * merge), replay-guarded; the CUSUM report derives at read time
  * through [[graft.operators.Behavior.changepointFromDaily]] — the
  * identical expression tree the batch operator runs. State is
  * |days| rows; late rows fold into their (old) day.
  */
final class DailyCountState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "day TIMESTAMP, n BIGINT",
    Seq("day"), StreamUtil.sums("n"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(date_trunc("day", col("ts")).as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"))
  }

  def changepoint(spark: SparkSession): DataFrame =
    graft.operators.Behavior.changepointFromDaily(state.read(spark))
}

object ChangepointStream {

  /** Queries entry: oracle = the same SQL that gates
    * `changepoint_cusum` (sufficient-count state + shared CUSUM
    * derivation make batch boundaries invisible). */
  def streamChangepoint(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_cusum_", dir)(
      _ => StreamSources.events(spark, dir), new DailyCountState(_))(_.merge).changepoint(spark)
}

object DailyModeStream {

  /** Queries entry: oracle = the same SQL that gates
    * `mode_daily_item` (sufficient-count state + shared mode
    * derivation make batch boundaries invisible). */
  def streamModeDaily(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_mode_", dir)(
      _ => StreamSources.events(spark, dir), new DailyModeState(_))(_.merge).mode(spark)
}

/** Streaming EWMA state —
  * [[graft.operators.Behavior.ewmaDailyTransform]]'s twin: the
  * (event_type, day, cents) daily revenue table is the additive
  * sufficient state (an EWMA value itself is NOT mergeable across
  * out-of-order batches — a late row re-weights every later day —
  * but the daily cents grid is a plain Long sum), replay-guarded;
  * the dyadic convolution derives at read time through
  * [[graft.operators.Behavior.ewmaFromDaily]] — the identical
  * expression tree the batch operator runs, so batch boundaries and
  * late data are invisible in the report. State is
  * |types|×|days| rows.
  */
final class DailyTypeCentsState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "event_type STRING, day TIMESTAMP, cents BIGINT, n BIGINT",
    Seq("event_type", "day"), StreamUtil.sums("cents", "n"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n"))
  }

  def ewma(spark: SparkSession): DataFrame =
    graft.operators.Behavior.ewmaFromDaily(state.read(spark))

  /** The SAME daily-cents state serves Holt's level+trend smoother —
    * one state, two smoother faces. */
  def holt(spark: SparkSession): DataFrame =
    graft.operators.Timeseries.holtFromDaily(state.read(spark))

  /** Third face: the Grubbs daily-outlier screen over the same
    * additive sums. */
  def grubbs(spark: SparkSession): DataFrame =
    graft.operators.Stats.grubbsFromDaily(state.read(spark))

  /** Fifth face: the jackknife ratio-SE read — leave-day-out blocks
    * over the same (Σcents, n) grid. */
  def jackknifeRatio(spark: SparkSession): DataFrame =
    graft.operators.Stats.jackknifeRatioFromDaily(state.read(spark))

  /** Fourth face: the Page–Hinkley drift monitor — the (Σcents, n)
    * grid added round 9 carries the daily means the running-mean
    * recursion needs (the recursion itself cannot merge across
    * out-of-order batches; the grid can). */
  def pageHinkley(spark: SparkSession): DataFrame =
    graft.operators.Stats.pageHinkleyFromDaily(state.read(spark))
}

object EwmaStream {

  /** The daily-cents state behind the five faces below, drained once per
    * input ([[StreamUtil.drained]]). */
  private def dailyCents(spark: SparkSession, dir: String) =
    StreamUtil.drained(spark, "graft_ewma_", dir)(
      _ => StreamSources.events(spark, dir), new DailyTypeCentsState(_))(_.merge)

  /** Queries entry: oracle = the same SQL that gates `ewma_daily`
    * (sufficient-state daily cents + shared dyadic derivation make
    * batch boundaries invisible). */
  def streamEwma(spark: SparkSession, dir: String): DataFrame =
    dailyCents(spark, dir).ewma(spark)

  /** Queries entry (oracle: same SQL as `holt_linear_trend`). */
  def streamHolt(spark: SparkSession, dir: String): DataFrame =
    dailyCents(spark, dir).holt(spark)

  /** Queries entry (oracle: same SQL as `grubbs_daily`): the shared
    * daily-cents state. */
  def streamGrubbs(spark: SparkSession, dir: String): DataFrame =
    dailyCents(spark, dir).grubbs(spark)

  /** Queries entry (oracle: same SQL as `jackknife_ratio`): the shared
    * daily-cents state. */
  def streamJackknife(spark: SparkSession, dir: String): DataFrame =
    dailyCents(spark, dir).jackknifeRatio(spark)

  /** Queries entry (oracle: same SQL as `page_hinkley_daily`): the
    * shared daily-cents state. */
  def streamPageHinkley(spark: SparkSession, dir: String): DataFrame =
    dailyCents(spark, dir).pageHinkley(spark)
}

/** Streaming seasonality state —
  * [[graft.operators.Behavior.seasonalityProfileTransform]]'s twin:
  * the ≤ 168·|types| hour-of-week cell-count grid is the additive
  * sufficient state (shares/deviations are ratios over the WHOLE
  * grid, so per-batch profiles cannot merge), replay-guarded; the
  * report derives at read time through
  * [[graft.operators.Behavior.seasonalityFromCells]] — the identical
  * expression tree the batch operator runs.
  */
final class SeasonalityCellState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "event_type STRING, dow BIGINT, hour BIGINT, n BIGINT",
    Seq("event_type", "dow", "hour"), StreamUtil.sums("n"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(col("event_type"),
        expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
        hour(col("ts")).cast("long").as("hour"))
      .groupBy(col("event_type"), col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"))
  }

  def profile(spark: SparkSession): DataFrame =
    graft.operators.Behavior.seasonalityFromCells(state.read(spark))
}

/** Streaming box-plot state —
  * [[graft.operators.Behavior.boxplotStatsTransform]]'s twin: the
  * (event_type, cents, cnt) value-count table is the additive
  * sufficient state (a quantile is a rank over the WHOLE
  * distribution — per-batch quartiles cannot merge; the counting-sort
  * count grid can), replay-guarded, bounded by value cardinality, and
  * the quartile/fence report derives at read time through
  * [[graft.operators.Behavior.boxplotFromCounts]] — the identical
  * expression tree the batch operator runs.
  */
final class ValueCountState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "event_type STRING, cents BIGINT, cnt BIGINT",
    Seq("event_type", "cents"), StreamUtil.sums("cnt"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
  }

  def boxplot(spark: SparkSession): DataFrame =
    graft.operators.Behavior.boxplotFromCounts(state.read(spark))

  /** The SAME grid serves the winsorized/trimmed report — one state,
    * two robust-stat faces. */
  def winsorized(spark: SparkSession): DataFrame =
    graft.operators.Behavior.winsorizedFromCounts(state.read(spark))
}

object BoxplotStream {

  /** The value-count state behind both faces below, drained once per
    * input ([[StreamUtil.drained]]). */
  private def valueCounts(spark: SparkSession, dir: String) =
    StreamUtil.drained(spark, "graft_boxplot_", dir)(
      _ => StreamSources.events(spark, dir), new ValueCountState(_))(_.merge)

  /** Queries entry: oracle = the same SQL that gates `boxplot_stats`
    * (additive value counts + shared counting-sort quantile
    * derivation make batch boundaries invisible). */
  def streamBoxplot(spark: SparkSession, dir: String): DataFrame =
    valueCounts(spark, dir).boxplot(spark)

  /** Queries entry: oracle = the same SQL that gates
    * `winsorized_stats`, derived from the same additive grid. */
  def streamWinsorized(spark: SparkSession, dir: String): DataFrame =
    valueCounts(spark, dir).winsorized(spark)
}

/** Streaming percentile-band state — the per-day-keyed sibling of
  * [[ValueCountState]]: the (day, cents, cnt) grid is additive
  * state, and the daily p50/p90/p99 report derives at read time
  * through [[graft.operators.Behavior.percentileBandsFromCounts]].
  */
final class DailyValueCountState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "day TIMESTAMP, cents BIGINT, cnt BIGINT",
    Seq("day", "cents"), StreamUtil.sums("cnt"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(date_trunc("day", col("ts")).as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("day"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
  }

  def bands(spark: SparkSession): DataFrame =
    graft.operators.Behavior.percentileBandsFromCounts(state.read(spark))
}

object PercentileBandsStream {

  /** Queries entry: oracle = the same SQL that gates
    * `percentile_bands_daily`. */
  def streamPercentileBands(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_bands_", dir)(
      _ => StreamSources.events(spark, dir), new DailyValueCountState(_))(_.merge).bands(spark)
}

/** Streaming document-length-histogram state: a histogram is ALREADY
  * additive (bucket counts and token totals are plain sums), so the
  * state IS the report grid minus its derived bound columns —
  * the degenerate-but-real end of the state-merge family where
  * merge and report coincide. Derivation still routes through one
  * shared expression shape so batch/stream parity is by
  * construction.
  */
final class DoclenBucketState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "bucket BIGINT, n_docs BIGINT, total_words BIGINT",
    Seq("bucket"), StreamUtil.sums("n_docs", "total_words"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(size(split(col("text"), " ")).cast("long").as("nw"))
      .select(expr("CAST(floor(log2(nw + 1)) AS BIGINT)").as("bucket"), col("nw"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("total_words"))
  }

  def histogram(spark: SparkSession): DataFrame =
    state.read(spark)
      .select(col("bucket"),
        expr("CAST(pow(2, bucket) AS BIGINT) - 1").as("words_lo"),
        expr("CAST(pow(2, bucket + 1) AS BIGINT) - 2").as("words_hi"),
        col("n_docs"), col("total_words"))
      .orderBy(col("bucket"))
}

object DoclenStream {

  /** Queries entry: oracle = the same SQL that gates
    * `doclen_histogram`. */
  def streamDoclen(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_doclen_", dir)(
      _ => StreamSources.documents(spark, dir), new DoclenBucketState(_))(_.merge).histogram(spark)
}

/** Streaming Zipf-fit state — the additive (tok, cf) VOCABULARY is
  * the sufficient state (a regression over ranked logs is a global
  * fit — per-batch slopes cannot merge; token counts can), and the
  * fit derives through [[graft.operators.TextOps.zipfFromVocab]].
  * Vocab-scale state is exactly what any streaming corpus-stats /
  * tokenizer-training pipeline already keeps.
  */
final class VocabState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "tok STRING, cf BIGINT",
    Seq("tok"), StreamUtil.sums("cf"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cf"))
  }

  def zipf(spark: SparkSession): DataFrame =
    graft.operators.TextOps.zipfFromVocab(state.read(spark))

  /** The SAME (tok, cf) vocabulary state serves the coverage curve —
    * one vocab state, two read-time faces. */
  def coverage(spark: SparkSession): DataFrame =
    graft.operators.TextOps.coverageFromVocab(state.read(spark))
}

object ZipfStream {

  /** The vocabulary state behind both faces below, drained once per
    * input ([[StreamUtil.drained]]). */
  private def vocab(spark: SparkSession, dir: String) =
    StreamUtil.drained(spark, "graft_zipf_", dir)(
      _ => StreamSources.documents(spark, dir), new VocabState(_))(_.merge)

  /** Queries entry: oracle = the same SQL that gates `zipf_slope`. */
  def streamZipfSlope(spark: SparkSession, dir: String): DataFrame =
    vocab(spark, dir).zipf(spark)

  /** Queries entry (oracle: same SQL as `vocab_coverage_curve`). */
  def streamVocabCoverage(spark: SparkSession, dir: String): DataFrame =
    vocab(spark, dir).coverage(spark)
}

/** Streaming HHI state — the additive (event_type, item, cents)
  * revenue grid (a share² sum is a ratio over the whole
  * distribution; per-batch HHIs cannot merge, item cents can),
  * derived through [[graft.operators.Behavior.hhiFromItemCents]].
  */
final class ItemCentsState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "event_type STRING, item BIGINT, cents BIGINT",
    Seq("event_type", "item"), StreamUtil.sums("cents"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    // IDENTICAL extraction to the batch path — shared helper, not a
    // re-typed copy, so stream/batch parity is by construction even if
    // ANSI mode ever changes cast semantics.
    graft.operators.Behavior.itemCentsGrid(batch.toDF())
  }

  def hhi(spark: SparkSession): DataFrame =
    graft.operators.Behavior.hhiFromItemCents(state.read(spark))
}

object HhiStream {

  /** Queries entry: oracle = the same SQL that gates `revenue_hhi`. */
  def streamRevenueHhi(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_hhi_", dir)(
      _ => StreamSources.events(spark, dir), new ItemCentsState(_))(_.merge).hhi(spark)
}

object SeasonalityStream {

  /** Queries entry: oracle = the same SQL that gates
    * `seasonality_profile` (additive cell counts + shared
    * share/deviation derivation make batch boundaries invisible). */
  def streamSeasonality(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_season_", dir)(
      _ => StreamSources.events(spark, dir), new SeasonalityCellState(_))(_.merge).profile(spark)
}

/** Streaming Poisson-bootstrap state —
  * [[graft.operators.Sampling.bootstrapMeanCi]]'s twin: each row's
  * replicate weight is a pure function of (event_id, replicate), so
  * the per-replicate (n_eff, Σw·cents) partials are ADDITIVE across
  * micro-batches — the whole sampling distribution of the mean rides
  * in a 32-row grid state, updated with one map-side-combinable
  * aggregate per batch. This is the streaming shape of the
  * uncertainty pipes in Chamandy et al. 2012: the estimator's
  * resamples advance with the stream, no buffering, no replay.
  * Per-batch deltas behind the replay guard ([[ValueCountState]]).
  */
final class BootstrapState(stateDir: String, b: Int = 32) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "b BIGINT, n_eff BIGINT, sum_c BIGINT",
    Seq("b"), StreamUtil.sums("n_eff", "sum_c"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.operators.Sampling.bootstrapPartial(batch.toDF(), b)
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Sampling.bootstrapReport(state.read(spark))
}

object BootstrapStream {

  /** Queries entry (oracle: same SQL as `bootstrap_mean_ci`). */
  def streamBootstrap(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_sboot_", dir)(
      _ => StreamSources.events(spark, dir), new BootstrapState(_))(_.merge).report(spark)
}
