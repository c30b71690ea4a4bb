package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import StreamUtil.AdditiveState.Store

/** Streaming twins for the per-user-order family that [[graft
  * .operators.Behavior.transitionsTransform]] heads, plus the EXACT
  * distinct-users counterpart of [[HllStream]]'s approximate sketch.
  *
  * [[TransitionState]] is the interesting one: transition counting is
  * NOT purely additive — the pair that spans a micro-batch boundary
  * (user's last event in batch k, first event in batch k+1) exists in
  * no single batch — so the state carries two stores: the additive
  * `(prev, curr, n)` counts AND a per-user `(ts, event_id,
  * event_type)` frontier whose join against each new batch's
  * first-per-user rows reconstructs exactly the boundary pairs. Under
  * time-ordered replay the stream total therefore equals the batch
  * window count row-for-row (the stream_attribution argument; ties in
  * `ts` across a file boundary are the one caveat, and the staged
  * replay's range partitioning makes them impossible at µs
  * resolution).
  *
  * Both stores are one [[StreamUtil.AdditiveState]]: the counts sum,
  * and the frontier is latest-per-user, `max(struct(ts, event_id,
  * …))`. The boundary pairs are the one order-dependent step, and
  * they live in the batch's partial, which reads the committed
  * frontier; the shared version keeps a replayed batch from
  * stitching against its own frontier.
  */
final class TransitionState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    Store("pairs", "prev_type STRING, curr_type STRING, n BIGINT",
      Seq("prev_type", "curr_type"), StreamUtil.sums("n")),
    Store("last", "user_id BIGINT, last STRUCT<ts: TIMESTAMP, event_id: BIGINT, event_type: STRING>",
      Seq("user_id"), StreamUtil.maxes("last"))))

  private def priorPairs(spark: SparkSession): DataFrame = state.read(spark, "pairs")

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val b = batch.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
    val inBatch = b.filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("curr_type"))
    // the pair spanning the boundary: the committed frontier's type
    // before each batch user's first event
    val boundary = state.read(batch.sparkSession, "last")
      .join(b.filter(col("rn") === 1).select(col("user_id"), col("event_type")), Seq("user_id"))
      .select(col("last.event_type").as("prev_type"), col("event_type").as("curr_type"))
    Map(
      "pairs" -> inBatch.unionByName(boundary)
        .groupBy(col("prev_type"), col("curr_type")).agg(count(lit(1)).as("n")),
      "last" -> b.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("last")))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Behavior.transitionReport(priorPairs(spark))

  /** The SAME (prev, curr, n) pair state serves the stationary-
    * distribution fold — second face (a fixed point is a whole-
    * matrix read; the counts merge). */
  def reportMarkov(spark: SparkSession): DataFrame =
    graft.operators.Stats.markovFromCounts(
      priorPairs(spark).select(col("prev_type"), col("curr_type"), col("n")))

  /** THIRD face: expected steps to absorption — the value iteration
    * is a whole-matrix read, the pair counts merge. */
  def reportAbsorption(spark: SparkSession): DataFrame =
    graft.operators.Stats.absorptionFromCounts(
      priorPairs(spark).select(col("prev_type"), col("curr_type"), col("n")))

  /** FOURTH face: the full first-passage matrix — |types| value
    * iterations over the SAME additive pair counts. */
  def reportFirstPassage(spark: SparkSession): DataFrame = {
    val counts = priorPairs(spark)
      .select(col("prev_type"), col("curr_type"), col("n")).localCheckpoint()
    Seq("click", "error", "purchase", "signup", "view").map { t =>
      graft.operators.Stats.absorptionFromCounts(counts, t)
        .select(org.apache.spark.sql.functions.lit(t).as("target"),
          col("event_type"), col("e6"), col("expected_steps"))
    }.reduce(_ unionByName _).orderBy(col("target"), col("event_type"))
  }
}

/** Exact distinct users per day on an unbounded stream — the
  * ground-truth twin [[HllStream]]'s sketch is judged against when
  * the key space still fits: a distinct `(day, user_id)` rollup (set
  * union is idempotent, so replayed batches cannot double-count) plus
  * an additive per-day event tally. State is |days|·|active users|
  * rows — the honest cost of exactness; the sketch twin is the
  * constant-memory 100 TB default. */
final class DistinctDailyState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    Store("pairs", "day TIMESTAMP, user_id BIGINT", Seq("day", "user_id"), Nil),
    Store("counts", "day TIMESTAMP, n_events BIGINT", Seq("day"), StreamUtil.sums("n_events"))))

  private def priorPairs(spark: SparkSession): DataFrame = state.read(spark, "pairs")

  private def priorCounts(spark: SparkSession): DataFrame = state.read(spark, "counts")

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    val days = batch.select(date_trunc("day", col("ts")).as("day"), col("user_id"))
    Map("pairs" -> days.distinct(),
      "counts" -> days.groupBy(col("day")).agg(count(lit(1)).as("n_events")))
  }

  def report(spark: SparkSession): DataFrame =
    priorPairs(spark).groupBy(col("day")).agg(count(lit(1)).as("n_users"))
      .join(priorCounts(spark), Seq("day"))
      .select(col("day"), col("n_users"), col("n_events"))
      .orderBy(col("day"))

  /** The SAME distinct-(day,user) state serves the whole
    * activity-derived family: growth accounting and trailing
    * actives both derive from it through the batch operators' own
    * expression trees. */
  def reportLifecycle(spark: SparkSession): DataFrame =
    graft.operators.Behavior.lifecycleFromDays(
      priorPairs(spark).select(col("user_id"), col("day")))

  def reportDauWauMau(spark: SparkSession): DataFrame =
    graft.operators.Behavior.dauWauMauFromDays(
      priorPairs(spark).select(col("day"), col("user_id")))
}

/** Inter-event gap histogram on an unbounded stream — the FOURTH
  * cross-batch-pair family member (after transitions / TWA /
  * strict-funnel): the gap spanning a micro-batch boundary (user's
  * last event in batch k → first in k+1) exists in no single batch,
  * so the state carries the additive `(bucket, n_gaps)` histogram
  * PLUS the per-user `(ts, event_id)` frontier whose join against
  * each batch's first-per-user row reconstructs exactly the boundary
  * gap. In-batch gaps and the bucket expression go through the SAME
  * shared trees as the batch operator
  * ([[graft.operators.Behavior.gapBucketCounts]] /
  * `bucketizeGapUs`), so stream ≡ batch by construction under
  * time-ordered replay. */
final class IntereventState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    Store("buckets", "bucket BIGINT, n_gaps BIGINT", Seq("bucket"), StreamUtil.sums("n_gaps")),
    Store("last", "user_id BIGINT, last STRUCT<ts: TIMESTAMP, event_id: BIGINT>",
      Seq("user_id"), StreamUtil.maxes("last"))))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val b = batch.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w))
    val inBatch = graft.operators.Behavior.gapBucketCounts(b)
    val boundary = graft.operators.Behavior.bucketizeGapUs(
      state.read(batch.sparkSession, "last")
        .join(b.filter(col("rn") === 1).select(col("user_id"), col("ts")), Seq("user_id"))
        .select((unix_micros(col("ts")) - unix_micros(col("last.ts"))).as("gap_us")))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_gaps"))
    Map("buckets" -> inBatch.unionByName(boundary),
      "last" -> b.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"))).as("last")))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Behavior.intereventFromBuckets(state.read(spark, "buckets"))
}

/** Peak session concurrency on an unbounded stream — the SESSION
  * member of the cross-batch family: a 30-minute-gap session can
  * stay open across ANY number of micro-batch boundaries, so the
  * state is the append-only table of CLOSED `(s_ts, e_ts)` intervals
  * plus a per-user OPEN-session frontier `(o_sts, o_lts)`. Each
  * batch sessionizes through the batch operator's own
  * gaps-and-islands tree ([[graft.operators.Retention
  * .sessionIntervals]]); a user's first batch session merges into
  * the frontier when the boundary gap is within the session gap,
  * every non-final session closes, and the final one becomes the new
  * frontier. The report derives the per-day peak over closed ∪ open
  * through the shared `peakFromSessions` — stream ≡ batch by
  * construction under time-ordered replay. State is |closed
  * sessions| rows — the honest cost of exact session accounting (the
  * DistinctDailyState class); a watermark would bound it by closing
  * frontiers past the horizon.
  *
  * It stays on the rewrite layout, not an [[StreamUtil.AdditiveState]]:
  * `closed` is a MULTISET — two users' equal intervals are two
  * sessions — which no per-key combine keeps (a distinct key set
  * would merge them), and the open frontier is replaced, not
  * combined, when a session closes. */
final class PeakSessionState(stateDir: String, gapMinutes: Int = 30) {
  private val state = new StreamUtil.VersionedState(stateDir)
  private val gapUs = gapMinutes * 60L * 1000000L

  private def priorClosed(spark: SparkSession): DataFrame = state.prior(spark,
    "s_ts TIMESTAMP, e_ts TIMESTAMP", "closed")

  private def priorOpen(spark: SparkSession): DataFrame = state.prior(spark,
    "user_id BIGINT, o_sts TIMESTAMP, o_lts TIMESTAMP", "open")

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.commit(batchId) {
    val spark = batch.sparkSession
    val sess = graft.operators.Retention.sessionIntervals(batch, gapMinutes)
    val w = Window.partitionBy(col("user_id")).orderBy(col("s_ts"))
    val marked = sess
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .join(priorOpen(spark), Seq("user_id"), "left")
      .withColumn("merged", col("rn") === 1 && col("o_lts").isNotNull &&
        unix_micros(col("s_ts")) - unix_micros(col("o_lts")) <= gapUs)
      .withColumn("s_ts2", when(col("merged"), col("o_sts")).otherwise(col("s_ts")))
    // a frontier NOT continued by its user's first batch session closes
    val frontierClosed = marked.filter(col("rn") === 1 &&
        col("o_lts").isNotNull && !col("merged"))
      .select(col("o_sts").as("s_ts"), col("o_lts").as("e_ts"))
    val inBatchClosed = marked.filter(col("rn") < col("n"))
      .select(col("s_ts2").as("s_ts"), col("e_ts"))
    val closed = priorClosed(spark)
      .unionByName(frontierClosed).unionByName(inBatchClosed)
    // new frontier: each batch user's LAST session; untouched users keep theirs
    val openBatch = marked.filter(col("rn") === col("n"))
      .select(col("user_id"), col("s_ts2").as("o_sts"), col("e_ts").as("o_lts"))
    val openKept = priorOpen(spark)
      .join(sess.select(col("user_id")).distinct(), Seq("user_id"), "left_anti")
    val open = openKept.unionByName(openBatch)
    StreamUtil.inParallel(
      () => StreamUtil.writeSharded(closed, state.at(batchId, "closed"), Seq("s_ts")),
      () => StreamUtil.writeSharded(open, state.at(batchId, "open"), Seq("user_id")))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Retention.peakFromSessions(allSessions(spark))

  /** The SAME closed-∪-open session state serves the duration
    * histogram — one state, two session-shaped faces. */
  def reportDurations(spark: SparkSession): DataFrame =
    graft.operators.Retention.durationsFromSessions(allSessions(spark))

  private def allSessions(spark: SparkSession): DataFrame =
    priorClosed(spark).unionByName(
      priorOpen(spark).select(col("o_sts").as("s_ts"), col("o_lts").as("e_ts")))
}

/** Incremental item-transition EDGE SET — `scc_items`' twin: the
  * distinct directed (item → next item) graph maintained across
  * micro-batches. Unlike [[TransitionState]]'s counts, the state is
  * a SET (distinct union = idempotent, so replays and boundary
  * re-derivations cannot corrupt it), bounded by |items|². In-batch
  * hops come from the same (ts, event_id) window as the batch
  * operator; cross-batch hops are
  * stitched from the per-user frontier (last non-null-item event),
  * the [[TransitionState]] discipline at item grain. The report runs
  * [[graft.operators.Graph.sccFromEdges]], so the coloring/peeling
  * derivation is shared code. */
final class ItemEdgeState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    Store("edges", "a BIGINT, b BIGINT", Seq("a", "b"), Nil),
    Store("items", "item BIGINT", Seq("item"), Nil),
    Store("last", "user_id BIGINT, last STRUCT<ts: TIMESTAMP, event_id: BIGINT, item: BIGINT>",
      Seq("user_id"), StreamUtil.maxes("last"))))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // null-item events are transparent (the batch operator filters
    // them BEFORE its lead window), so filter first, then window
    val b = batch
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull)
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_item", lag(col("item"), 1).over(w))
    val inBatch = b.filter(col("prev_item").isNotNull)
      .select(col("prev_item").as("a"), col("item").as("b"))
    val boundary = state.read(batch.sparkSession, "last")
      .join(b.filter(col("rn") === 1).select(col("user_id"), col("item")), Seq("user_id"))
      .select(col("last.item").as("a"), col("item").as("b"))
    Map("edges" -> inBatch.unionByName(boundary).distinct(),
      "items" -> b.select(col("item")).distinct(),
      "last" -> b.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("item"))).as("last")))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Graph.sccFromEdges(spark,
      state.read(spark, "items"), state.read(spark, "edges"))
}

object TransitionStream {

  /** Queries entry (oracle: same SQL as `scc_items`): time-ordered
    * staged replay; the edge SET is batching-invariant (in-batch
    * window + frontier stitching reproduce every consecutive hop
    * exactly once; distinct union absorbs any overlap), so the
    * drained stream's SCC labeling equals the batch operator's. */
  def streamSccItems(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_sscc_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new ItemEdgeState(_))(_.merge)
      .report(spark)

  /** The (prev, curr, n) pair state behind stream_transitions,
    * stream_markov, stream_absorption and stream_first_passage: the
    * time-ordered replay, drained once per (input, nFiles)
    * ([[StreamUtil.drained]]). */
  private def transitions(spark: SparkSession, dir: String, nFiles: Int) =
    StreamUtil.drained(spark, "graft_trans_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new TransitionState(_))(_.merge)

  /** The per-(user, day) presence state behind stream_distinct_daily,
    * stream_user_lifecycle and stream_dau_wau_mau, drained like
    * [[transitions]]. */
  private def days(spark: SparkSession, dir: String, nFiles: Int) =
    StreamUtil.drained(spark, "graft_ddaily_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new DistinctDailyState(_))(_.merge)

  /** The session state behind stream_peak_concurrency and
    * stream_session_duration, drained like [[transitions]]. */
  private def sessions(spark: SparkSession, dir: String, nFiles: Int) =
    StreamUtil.drained(spark, "graft_speak_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new PeakSessionState(_))(_.merge)

  /** Queries entry (oracle: same SQL as `event_transitions`). */
  def streamTransitions(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    transitions(spark, dir, nFiles).report(spark)

  /** Queries entry (oracle: same SQL as `distinct_daily`). */
  def streamDistinctDaily(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    days(spark, dir, nFiles).report(spark)

  /** Queries entry (oracle: same SQL as `markov_stationary`): the
    * shared transition-pair state. */
  def streamMarkov(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    transitions(spark, dir, nFiles).reportMarkov(spark)

  /** Queries entry (oracle: same SQL as `absorption_steps`): the
    * shared transition-pair state. */
  def streamAbsorption(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    transitions(spark, dir, nFiles).reportAbsorption(spark)

  /** Queries entry (oracle: same SQL as `first_passage_matrix`): the
    * shared transition-pair state. */
  def streamFirstPassage(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    transitions(spark, dir, nFiles).reportFirstPassage(spark)

  /** Queries entry (oracle: same SQL as `interevent_histogram`). */
  def streamInterevent(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_sgap_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new IntereventState(_))(_.merge)
      .report(spark)

  /** Queries entry (oracle: same SQL as `peak_concurrency`). */
  def streamPeakConcurrency(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    sessions(spark, dir, nFiles).report(spark)

  /** Queries entry (oracle: same SQL as `session_duration`). */
  def streamSessionDuration(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    sessions(spark, dir, nFiles).reportDurations(spark)

  /** Queries entry (oracle: same SQL as `user_lifecycle`). */
  def streamUserLifecycle(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    days(spark, dir, nFiles).reportLifecycle(spark)

  /** Queries entry (oracle: same SQL as `dau_wau_mau`). */
  def streamDauWauMau(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    days(spark, dir, nFiles).reportDauWauMau(spark)
}
