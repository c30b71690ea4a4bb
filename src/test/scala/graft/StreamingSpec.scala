package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.{CorpusFilterStream, EngagementStream, KafkaConfig, TimeseriesStream}

/** Stream/batch parity: every streaming operator must produce exactly
  * the result of its batch twin after draining the same input — the
  * property that lets the driver's DuckDB oracles check the streaming
  * engine. */
class StreamingSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  // zero leaked persisted blocks / temp dirs after `sbt test`
  override def afterAll(): Unit = GraftCaches.clearAll()

  import TestSession._

  private def rows(name: String) =
    SparkEntry.queries(name)(spark, sf).collect().toSeq

  test("stream_hop_agg equals batch hop_window_agg") {
    assert(rows("stream_hop_agg") == rows("hop_window_agg"))
  }

  test("stream_enrich equals batch enrich_events") {
    assert(rows("stream_enrich") == rows("enrich_events"))
  }

  test("stream_cdc_compact (multi-batch MERGE) equals batch cdc_latest_by_key") {
    assert(rows("stream_cdc_compact") == rows("cdc_latest_by_key"))
  }

  test("stream_session_agg (flatMapGroupsWithState) equals batch session_window_agg") {
    assert(rows("stream_session_agg") == rows("session_window_agg"))
  }

  test("stream_leaderboard equals batch leaderboard_topn") {
    assert(rows("stream_leaderboard") == rows("leaderboard_topn"))
  }

  test("stream_interevent / stream_peak_concurrency equal their batch twins") {
    assert(rows("stream_interevent") == rows("interevent_histogram"))
    assert(rows("stream_peak_concurrency") == rows("peak_concurrency"))
  }

  test("stream_session_duration equals batch session_duration") {
    assert(rows("stream_session_duration") == rows("session_duration"))
  }

  test("PeakSessionState: a session spanning three micro-batches stays one session") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val work = GraftCaches.trackTempDir("graft_peak_spec_")
    val st = new streaming.PeakSessionState(s"$work/state")
    def b(rows: Seq[(Long, Long, Long)]) = // (event_id, user, minute offset)
      rows.map { case (e, u, m) =>
        (e, new java.sql.Timestamp(base + m * 60000L), u, "view", 0.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // user 1: events at 0, 20, 40 min — each batch boundary gap is 20
    // min < the 30-min session gap, so ONE session survives the cuts;
    // user 2 opens a second session in batch 2 only
    st.merge(b(Seq((1L, 1L, 0L))), 0L)
    st.merge(b(Seq((2L, 1L, 20L), (3L, 2L, 25L))), 1L)
    st.merge(b(Seq((4L, 1L, 40L))), 2L)
    val r = st.report(spark).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_sessions") == 2L, "exactly two sessions (u1 stitched, u2)")
    assert(r(0).getAs[Long]("peak_concurrent") == 2L, "u1 and u2 overlap at minute 25")
    // a 31-min silent batch gap must CLOSE the session instead
    st.merge(b(Seq((5L, 1L, 75L))), 3L) // 40 -> 75 = 35 min > gap
    val r2 = st.report(spark).collect()
    assert(r2(0).getAs[Long]("n_sessions") == 3L, "over-gap boundary starts a new session")
  }

  test("PeakSessionState: two users' identical closed intervals are two sessions") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val work = GraftCaches.trackTempDir("graft_peak_multi_")
    val st = new streaming.PeakSessionState(s"$work/state")
    def b(rows: Seq[(Long, Long, Long)]) = // (event_id, user, minute offset)
      rows.map { case (e, u, m) =>
        (e, new java.sql.Timestamp(base + m * 60000L), u, "view", 0.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // batch 0: users 1 and 2 each close a [0, 10] session (their next
    // event, at minute 50, is past the 30-min gap); user 3 leaves
    // [5, 15] open. Batch 1: user 4 closes a third [0, 10], and user
    // 3's event at minute 70 closes its frontier.
    st.merge(b(Seq((1L, 1L, 0L), (2L, 1L, 10L), (3L, 1L, 50L),
      (4L, 2L, 0L), (5L, 2L, 10L), (6L, 2L, 50L), (7L, 3L, 5L), (8L, 3L, 15L))), 0L)
    st.merge(b(Seq((9L, 4L, 0L), (10L, 4L, 10L), (11L, 4L, 60L), (12L, 3L, 70L))), 1L)
    // sessions: [0, 10] three times, [5, 15], and the open [50, 50]
    // twice, [60, 60] and [70, 70]
    val r = st.report(spark).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_sessions") == 8L)
    assert(r(0).getAs[Long]("peak_concurrent") == 4L, "three [0, 10] and [5, 15] overlap")
    val d = st.reportDurations(spark).collect()
      .map(x => x.getAs[Long]("bucket") -> x.getAs[Long]("n_sessions")).toMap
    // the four 600 s sessions land in bucket 9, the four one-event ones in bucket 0
    assert(d == Map(0L -> 4L, 9L -> 4L), d)
  }

  test("stream_router counts equal event_router; physical route partitions exist") {
    assert(rows("stream_router") == rows("event_router"))
    val out = EngagementStream.fanout(spark, sf).outDir
    val routes = new java.io.File(s"$out/routed").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(routes == Set("route=analytics", "route=billing", "route=crm", "route=ops"),
      s"got $routes")
  }

  test("fanout enriched sink holds every event exactly once") {
    val out = EngagementStream.fanout(spark, sf).outDir
    val enriched = spark.read.parquet(s"$out/enriched")
    val nEvents = graft.sources.Tables.events(spark, sf).count()
    assert(enriched.count() == nEvents)
    assert(enriched.select("event_id").distinct().count() == nEvents)
  }

  /** Summed progress `numInputRows` of the one streaming query `f`
    * runs: the rows its micro-batches read from their source. */
  private def streamInputRows(f: => Unit): Long = {
    val inputRows = new java.util.concurrent.atomic.AtomicLong()
    val terminated = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        inputRows.addAndGet(e.progress.numInputRows)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    spark.streams.addListener(listener)
    try {
      f
      // the bus delivers a query's progress events before its
      // termination, so after this every progress has been counted
      assert(terminated.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.streams.removeListener(listener)
    inputRows.get
  }

  test("fan-out reads each micro-batch from its source once") {
    val inputRows = streamInputRows(
      EngagementStream.runFanout(spark, sf, GraftCaches.trackTempDir("graft_fanout_spec_")))
    // three sinks read each batch; the source is scanned once per batch
    assert(inputRows == graft.sources.Tables.events(spark, sf).count())
  }

  test("corpus filter stream reads each micro-batch from its source once") {
    val inputRows = streamInputRows(
      CorpusFilterStream.streamCorpusFilter(spark, sf).collect())
    // signatures and verdicts read each batch; the source is scanned once per batch
    assert(inputRows == graft.sources.Tables.documents(spark, sf).count())
  }

  /** Streaming queries started while `f` runs, with its result (the
    * listener's `onQueryStarted` runs synchronously inside `start()`,
    * so the count is exact when `f` returns). */
  private def queriesStarted[A](f: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = n.incrementAndGet()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try { val a = f; (a, n.get) } finally spark.streams.removeListener(listener)
  }

  private def sortedRows(df: => org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("shared drain: two faces of one state start one streaming query and equal their batch twins") {
    GraftCaches.clearAll()
    val ((acf, fano), started) = queriesStarted(
      (sortedRows(TimeseriesStream.streamAcf(spark, sf)),
        sortedRows(TimeseriesStream.streamFano(spark, sf))))
    assert(started == 1, s"$started streaming queries for two faces of one drain")
    assert(acf == sortedRows(SparkEntry.queries("acf_daily")(spark, sf)))
    assert(fano == sortedRows(SparkEntry.queries("fano_factor_daily")(spark, sf)))
  }

  test("shared drain: after GraftCaches.clearAll the next face drains again") {
    val (_, first) = queriesStarted(sortedRows(TimeseriesStream.streamFano(spark, sf)))
    GraftCaches.clearAll()
    // a memo that outlived the clear would read the deleted state dir
    val (again, second) = queriesStarted(sortedRows(TimeseriesStream.streamFano(spark, sf)))
    assert(first <= 1 && second == 1, s"first=$first second=$second")
    assert(again == sortedRows(SparkEntry.queries("fano_factor_daily")(spark, sf)))
  }

  test("shared drain: the same face with a different nFiles drains its own state") {
    GraftCaches.clearAll()
    val (_, four) = queriesStarted(sortedRows(TimeseriesStream.streamFano(spark, sf)))
    val (two, other) = queriesStarted(
      sortedRows(TimeseriesStream.streamFano(spark, sf, nFiles = 2)))
    val (_, repeat) = queriesStarted(
      sortedRows(TimeseriesStream.streamChi2TypeDow(spark, sf, nFiles = 2)))
    assert((four, other, repeat) == ((1, 1, 0)))
    assert(two == sortedRows(SparkEntry.queries("fano_factor_daily")(spark, sf)))
  }

  test("stream_dedup drops a full replay across micro-batches") {
    val out = rows("stream_dedup")
    val events = graft.sources.Tables.events(spark, sf)
    assert(out.size == events.count())
    val ids = out.map(_.getLong(0))
    assert(ids.distinct.size == ids.size, "duplicate event_ids survived")
  }

  test("stream_interval_join equals the batch attribution join") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    val batch = c.join(p,
        col("user_id") === col("p_user")
          && col("purchase_ts") >= col("click_ts")
          && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stream = rows("stream_interval_join").map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stream == batch, s"stream=${stream.size} batch=${batch.size}")
  }

  test("stream_interval_join_left equals the batch left join under the watermark cut") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    // global watermark = min of the two sides' max event time − 1 h
    val wmMs = math.min(
      c.agg(max(col("click_ts"))).collect()(0).getTimestamp(0).getTime,
      p.agg(max(col("purchase_ts"))).collect()(0).getTimestamp(0).getTime) - 3600000L
    val batch = c.join(p,
        col("user_id") === col("p_user")
          && col("purchase_ts") >= col("click_ts")
          && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "leftOuter")
      .filter(col("purchase_id").isNotNull
        || col("click_ts") + expr("INTERVAL 30 MINUTES") < lit(new java.sql.Timestamp(wmMs)))
      .select(col("click_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    val stream = rows("stream_interval_join_left").map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(stream.exists(_._2.isEmpty), "corpus must produce null-padded (unmatched) clicks")
    assert(stream == batch, s"stream=${stream.size} batch=${batch.size}")
  }

  test("interval-join-left state is bounded by the watermark horizon") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    val (_, progress) = graft.streaming.StreamSources.runToMemoryWithProgress(
      EngagementStream.intervalJoinLeftPlan(spark, sf), OutputMode.Append())
    val st = progress.reverse.find(_.stateOperators.nonEmpty).get.stateOperators.head
    // eviction bound after the finalization batch: buffered clicks are
    // those whose 30-min match window is still open under the final
    // watermark; buffered purchases those at-or-after the watermark
    val ev = graft.sources.Tables.events(spark, sf)
    val wmMs = math.min(
      ev.filter(col("event_type") === "click").agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime,
      ev.filter(col("event_type") === "purchase").agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime) - 3600000L
    val openClicks = ev.filter(col("event_type") === "click")
      .filter(col("ts") + expr("INTERVAL 30 MINUTES") >= lit(new java.sql.Timestamp(wmMs))).count()
    val openPurchases = ev.filter(col("event_type") === "purchase")
      .filter(col("ts") >= lit(new java.sql.Timestamp(wmMs))).count()
    assert(st.numRowsTotal > 0, "replay must leave some in-horizon state")
    assert(st.numRowsTotal <= openClicks + openPurchases,
      s"join state ${st.numRowsTotal} exceeds the watermark horizon bound ${openClicks + openPurchases}")
  }

  test("append-mode window state holds exactly the open windows (hop + tumble)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamSources
    val wmMs = graft.sources.Tables.events(spark, sf)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime - 47 * 60 * 1000L
    // (batch twin rows, window length ms, streaming transform)
    val cases = Seq(
      ("hop_window_agg", 600000L,
        graft.operators.Engagement.hopAggTransform(
          StreamSources.events(spark, sf).withWatermark("ts", "47 minutes"))),
      ("tumble_window_agg", 3600000L,
        graft.operators.Engagement.tumbleAggTransform(
          StreamSources.events(spark, sf).withWatermark("ts", "47 minutes"))))
    cases.foreach { case (batchName, winMs, plan) =>
      val open = rows(batchName).count(_.getTimestamp(0).getTime + winMs > wmMs)
      val (_, progress) = StreamSources.runToMemoryWithProgress(plan, OutputMode.Append())
      val st = progress.reverse.find(_.stateOperators.nonEmpty).get.stateOperators.head
      // state must equal the open (window × event_type) groups — i.e.
      // bounded by the watermark delay + window length, NEVER by the
      // total number of rows replayed
      assert(st.numRowsTotal == open,
        s"$batchName append state ${st.numRowsTotal} != open-window groups $open")
    }
  }

  test("stream_cdc_with_deletes equals batch cdc_with_deletes") {
    assert(rows("stream_cdc_with_deletes") == rows("cdc_with_deletes"))
  }

  test("stream_dedup_incremental equals batch dedup_incremental") {
    assert(rows("stream_dedup_incremental") == rows("dedup_incremental"))
  }

  test("stream_funnel equals batch funnel_conversion") {
    assert(rows("stream_funnel") == rows("funnel_conversion"))
  }

  test("stream_attribution equals batch attribution_last_touch") {
    assert(rows("stream_attribution") == rows("attribution_last_touch"))
  }

  test("stream_sequence_count equals batch sequence_count") {
    assert(rows("stream_sequence_count") == rows("sequence_count"))
  }

  test("stream_funnel_strict equals batch funnel_strict_order") {
    assert(rows("stream_funnel_strict") == rows("funnel_strict_order"))
  }

  test("stream_rolling_retention equals batch rolling_retention") {
    assert(rows("stream_rolling_retention") == rows("rolling_retention"))
  }

  test("stream_label_centroids equals batch label_centroids") {
    assert(rows("stream_label_centroids") == rows("label_centroids"))
  }

  test("stream_pii_density equals batch pii_density") {
    assert(rows("stream_pii_density") == rows("pii_density"))
  }

  test("stream_decontaminate_semantic equals batch decontaminate_semantic") {
    assert(rows("stream_decontaminate_semantic") == rows("decontaminate_semantic"))
  }

  test("stream_scc_items equals batch scc_items") {
    assert(rows("stream_scc_items") == rows("scc_items"))
  }

  test("stream_corpus_filter equals batch corpus_filter") {
    // the strongest parity in the suite: incremental LSH pair
    // discovery + report-time representative election must reproduce
    // the batch self-join + components verdict row-for-row
    assert(rows("stream_corpus_filter") == rows("corpus_filter"))
  }

  test("sequence-count state: DFA resumes mid-pattern across a batch boundary, replay-guarded") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.DfaState
    import spark.implicits._
    def batch(rows: (Long, String, Long, String)*) =
      rows.toDF("user_id", "ts_s", "event_id", "event_type")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val work = GraftCaches.trackTempDir("graft_seq_state_")
    val st = new DfaState(s"$work/state",
      graft.operators.Sequences.seqDfaStep, 4, "n_sequences")
    // batch 0 ends mid-pattern: view, click
    st.merge(batch((1L, "2024-01-01 10:00:00", 1L, "view"),
                   (1L, "2024-01-01 11:00:00", 2L, "click")), 0)
    // batch 1 completes it and starts+completes a second one
    st.merge(batch((1L, "2024-01-01 12:00:00", 3L, "purchase"),
                   (1L, "2024-01-01 13:00:00", 4L, "view"),
                   (1L, "2024-01-01 14:00:00", 5L, "click"),
                   (1L, "2024-01-01 15:00:00", 6L, "purchase")), 1)
    // replayed batch id is a no-op
    st.merge(batch((1L, "2024-01-01 15:00:00", 6L, "purchase")), 1)
    val out = st.histogram(spark).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((2L, 1L)))
  }

  test("attribution state: cross-batch touch carry, lookback expiry, replay guard") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.AttributionState
    import spark.implicits._
    val state = new AttributionState(
      GraftCaches.trackTempDir("graft_attrspec_") + "/state", "INTERVAL 7 DAYS")
    def batch(rows: (Long, Long, String, String, Double)*) =
      rows.toSeq.toDF("user_id", "event_id", "event_type", "tss", "value")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    def acc = state.report(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq

    // batch 0: a click touch only — nothing attributed yet
    state.merge(batch((1L, 1L, "click", "2024-01-01 10:00:00", 0.0)), 0)
    assert(acc.isEmpty)
    // batch 1: purchase 1 day later — attributed to the CARRIED click
    state.merge(batch((1L, 2L, "purchase", "2024-01-02 10:00:00", 5.0)), 1)
    assert(acc == Seq(("click", 1L, 5.0)))
    // replaying batch 1 must be a no-op (crash-replay guard)
    state.merge(batch((1L, 2L, "purchase", "2024-01-02 10:00:00", 5.0)), 1)
    assert(acc == Seq(("click", 1L, 5.0)))
    // batch 2: purchase 8 days after the touch — lookback expired
    state.merge(batch((1L, 3L, "purchase", "2024-01-09 11:00:00", 2.5)), 2)
    assert(acc == Seq(("click", 1L, 5.0), ("none", 1L, 2.5)))
    // batch 3: same-batch view→purchase resolves within the batch
    state.merge(batch(
      (2L, 4L, "view", "2024-01-10 09:00:00", 0.0),
      (2L, 5L, "purchase", "2024-01-10 10:00:00", 1.25)), 3)
    assert(acc == Seq(("click", 1L, 5.0), ("none", 1L, 2.5), ("view", 1L, 1.25)))
  }

  test("stream_moments equals the one-pass corpus moments") {
    import org.apache.spark.sql.functions.{col, expr, round, sqrt, sum, count, lit, when}
    val got = rows("stream_moments")
    val cents = round(col("value") * 100).cast("long")
    val want = graft.sources.Tables.events(spark, TestSession.sf)
      .select(col("event_type"), cents.as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_c"),
           sum(col("c") * col("c")).as("sumsq_c"))
      .select(col("event_type"), col("n"),
        round((col("sum_c") / 100.0) / col("n"), 4).as("mean"),
        when(col("n") > 1,
          round(sqrt((col("sumsq_c") - col("sum_c").cast("double") * col("sum_c") / col("n"))
            / (col("n") - 1)) / 100.0, 4)).as("sd"))
      .orderBy(col("event_type"))
      .collect().toSeq
    assert(got == want)
  }

  test("stream_rollup equals the batch incremental_rollup merge") {
    assert(rows("stream_rollup") == rows("incremental_rollup"))
  }

  test("stream_mode_daily equals the batch mode_daily_item") {
    assert(rows("stream_mode_daily") == rows("mode_daily_item"))
  }

  test("stream_source_drift equals the batch source_drift_tv") {
    assert(rows("stream_source_drift") == rows("source_drift_tv"))
  }

  test("stream_changepoint equals the batch changepoint_cusum") {
    assert(rows("stream_changepoint") == rows("changepoint_cusum"))
  }

  test("stream_ewma equals the batch ewma_daily") {
    assert(rows("stream_ewma") == rows("ewma_daily"))
  }

  test("stream_seasonality equals the batch seasonality_profile") {
    assert(rows("stream_seasonality") == rows("seasonality_profile"))
  }

  test("stream_boxplot equals the batch boxplot_stats") {
    assert(rows("stream_boxplot") == rows("boxplot_stats"))
  }

  test("stream_percentile_bands equals the batch percentile_bands_daily") {
    assert(rows("stream_percentile_bands") == rows("percentile_bands_daily"))
  }

  test("stream_doclen equals the batch doclen_histogram") {
    assert(rows("stream_doclen") == rows("doclen_histogram"))
  }

  test("stream_zipf_slope equals the batch zipf_slope") {
    assert(rows("stream_zipf_slope") == rows("zipf_slope"))
  }

  test("stream_revenue_hhi equals the batch revenue_hhi") {
    assert(rows("stream_revenue_hhi") == rows("revenue_hhi"))
  }

  test("stream_decile_lift equals decile_lift (additive per-user score state)") {
    assert(rows("stream_decile_lift") == rows("decile_lift"))
  }

  test("stream_rfm_segments equals rfm_segments (additive per-user RFM state)") {
    assert(rows("stream_rfm_segments") == rows("rfm_segments"))
  }

  test("stream_user_revenue_percentile equals user_revenue_percentile (same RFM state, second face)") {
    assert(rows("stream_user_revenue_percentile") == rows("user_revenue_percentile"))
  }

  test("stream_engagement_gini equals engagement_gini (additive per-item count state)") {
    assert(rows("stream_engagement_gini") == rows("engagement_gini"))
  }

  test("user RFM state: recency maxes, frequency/monetary sum, replay guard holds") {
    import org.apache.spark.sql.functions.to_timestamp
    import graft.streaming.UserRfmState
    import spark.implicits._
    val state = new UserRfmState(GraftCaches.trackTempDir("graft_rfmspec_") + "/state")
    def batch(rows: (Long, String, Double)*) = rows.toSeq.toDF("user_id", "d", "value")
      .withColumn("ts", to_timestamp($"d")).drop("d")
    def segs = state.reportRfm(spark).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq

    // batch 0: user 1 spends twice early, user 2 once later — user 2
    // is more recent (r_q 1) but lighter (f_q/m_q 3); user 1 inverse
    state.merge(batch((1L, "2024-01-01", 5.0), (1L, "2024-01-02", 5.0),
      (2L, "2024-01-05", 3.0)), 0)
    assert(segs.toSet == Set((3, 1, 1, 1L), (1, 3, 3, 1L)))
    // batch 1: user 1 spends again LATEST — recency flips, a
    // per-batch (non-additive) state could never reproduce the
    // cross-batch max
    state.merge(batch((1L, "2024-01-09", 1.0)), 1)
    assert(segs.toSet == Set((1, 1, 1, 1L), (3, 3, 3, 1L)))
    // replay of batch 1 is a no-op
    state.merge(batch((1L, "2024-01-09", 1.0)), 1)
    assert(segs.toSet == Set((1, 1, 1, 1L), (3, 3, 3, 1L)))
    // second face: percentile over the same state — user 2 (3.00)
    // ranks below user 1 (11.00)
    val pct = state.reportRevenuePercentile(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pct == Seq((1L, 1100L, 2L), (2L, 300L, 1L)))
  }

  test("stream_heaps_law_fit equals heaps_law_fit (min/sum-merge rollup state)") {
    assert(rows("stream_heaps_law_fit") == rows("heaps_law_fit"))
  }

  test("heaps state: docs split across batches merge exactly, replay guard holds") {
    import graft.streaming.CorpusHeapsState
    import spark.implicits._
    val state = new CorpusHeapsState(GraftCaches.trackTempDir("graft_heapsspec_") + "/state")
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    // doc 1's tokens arrive SPLIT across batches (the sum-merge), and
    // batch 1 re-uses tokens a/d first seen in batch 0 / doc 1 (the
    // min-merge) — a per-batch state could reproduce neither
    state.merge(docs((1L, "a b a"), (2L, "b c")), 0)
    state.merge(docs((1L, "d"), (3L, "a d e")), 1)
    state.merge(docs((1L, "d"), (3L, "a d e")), 1) // replay is a no-op
    val expected = graft.operators.CorpusQa.heapsLawFitTransform(
      docs((1L, "a b a d"), (2L, "b c"), (3L, "a d e"))).collect().toSeq
    assert(state.report(spark).collect().toSeq == expected)
  }

  test("item engagement state: cross-batch counts move the Gini, replay guard holds") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.streaming.ItemEngagementState
    import spark.implicits._
    val state = new ItemEngagementState(GraftCaches.trackTempDir("graft_ginispec_") + "/state")
    def batch(items: Long*) = items.toSeq.toDF("k")
      .withColumn("props", concat(lit("{\"k\": "), col("k"), lit("}")))
      .drop("k")
    def gini = state.report(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    // batch 0: two equal items -> perfect equality, G = 0
    state.merge(batch(1L, 2L), 0)
    assert(gini == Seq((2L, 2L, 0.0)))
    // batch 1: item 2 gets 2 more -> counts (1,3), G = (2*7-3*4)/(2*4)
    state.merge(batch(2L, 2L), 1)
    assert(gini == Seq((2L, 4L, 0.25)))
    // replay of batch 1 is a no-op
    state.merge(batch(2L, 2L), 1)
    assert(gini == Seq((2L, 4L, 0.25)))
  }

  test("user score state: cross-batch score sums and converted maxes, replay guard holds") {
    import org.apache.spark.sql.functions.lit
    import graft.streaming.UserScoreState
    import spark.implicits._
    val state = new UserScoreState(GraftCaches.trackTempDir("graft_dliftspec_") + "/state")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("user_id", "event_type")
      .withColumn("value", lit(0.0))
    def deciles = state.report(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    // batch 0: user 1 browses twice, user 2 purchases — with 2 users
    // the rank cut puts user 1 (score 2) in decile 1, user 2 in 6
    state.merge(batch((1L, "view"), (1L, "click"), (2L, "purchase")), 0)
    assert(deciles == Seq((1L, 1L, 0L), (6L, 1L, 1L)))
    // batch 1: user 2 out-browses user 1 (3 views) AND user 1
    // converts — both the order and the converter flip, which a
    // per-batch (non-additive) state could never reproduce
    state.merge(batch((2L, "view"), (2L, "view"), (2L, "view"), (1L, "purchase")), 1)
    assert(deciles == Seq((1L, 1L, 1L), (6L, 1L, 1L)))
    // replay of batch 1 is a no-op
    state.merge(batch((2L, "view"), (2L, "view"), (2L, "view"), (1L, "purchase")), 1)
    assert(deciles == Seq((1L, 1L, 1L), (6L, 1L, 1L)))
  }

  test("item cents state: cross-batch revenue moves the HHI, replay guard holds") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.streaming.ItemCentsState
    import spark.implicits._
    val state = new ItemCentsState(GraftCaches.trackTempDir("graft_hhispec_") + "/state")
    def batch(rows: (Long, Double)*) = rows.toSeq.toDF("k", "value")
      .withColumn("event_type", lit("v"))
      .withColumn("props", concat(lit("{\"k\": "), col("k"), lit("}")))
      .drop("k")
    def hhi = state.hhi(spark).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

    // batch 0: two equal items -> HHI = 0.5
    state.merge(batch((1L, 1.0), (2L, 1.0)), 0)
    assert(hhi == Seq((2L, 200L, 0.5)))
    // batch 1: item 1 doubles -> cents 300/100 -> HHI = 0.625 (an
    // average of per-batch HHIs could never produce this)
    state.merge(batch((1L, 2.0)), 1)
    assert(hhi == Seq((2L, 400L, 0.625)))
    // replay of batch 1 is a no-op
    state.merge(batch((1L, 2.0)), 1)
    assert(hhi == Seq((2L, 400L, 0.625)))
  }

  test("daily value count state: a late batch moves the day's percentile, replay guard holds") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.DailyValueCountState
    import spark.implicits._
    val state = new DailyValueCountState(GraftCaches.trackTempDir("graft_bandspec_") + "/state")
    def batch(rows: (String, Double)*) = rows.toSeq.toDF("tss", "value")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    def p50 = state.bands(spark).collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1), r.getLong(2))).toSeq

    // batch 0: cents 1..3 on day 1 -> n=3, p50 k=2 -> 2
    state.merge(batch(("2024-01-01 01:00:00", 0.01), ("2024-01-01 02:00:00", 0.02),
      ("2024-01-01 03:00:00", 0.03)), 0)
    assert(p50 == Seq(("2024-01-01", 3L, 2L)))
    // batch 1: two LATE 100c rows into day 1 -> n=5, p50 k=3 -> 3
    state.merge(batch(("2024-01-01 04:00:00", 1.0), ("2024-01-01 05:00:00", 1.0)), 1)
    assert(p50 == Seq(("2024-01-01", 5L, 3L)))
    // replay of batch 1 is a no-op
    state.merge(batch(("2024-01-01 04:00:00", 1.0), ("2024-01-01 05:00:00", 1.0)), 1)
    assert(p50 == Seq(("2024-01-01", 5L, 3L)))
  }

  test("value count state: cross-batch counts move the quartiles, replay guard holds") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.streaming.ValueCountState
    import spark.implicits._
    val state = new ValueCountState(GraftCaches.trackTempDir("graft_boxspec_") + "/state")
    def batch(vals: Double*) = vals.toSeq.toDF("value")
      .withColumn("event_type", lit("v"))
    def quart = state.boxplot(spark).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(7))).toSeq

    // batch 0: cents 1..4 -> q1=1 (k=1), med=2 (k=2), q3=3 (k=3)
    state.merge(batch(0.01, 0.02, 0.03, 0.04), 0)
    assert(quart == Seq((4L, 1L, 2L, 3L, 0L)))
    // batch 1: four 100c spikes -> n=8, q1=2, med=4, q3=100; high
    // fence 2c > 500-6 -> none (q3 itself IS the spike level); a
    // merge of per-batch quartiles could never land these values
    state.merge(batch(1.0, 1.0, 1.0, 1.0), 1)
    assert(quart == Seq((8L, 2L, 4L, 100L, 0L)))
    // replay of batch 1 is a no-op
    state.merge(batch(1.0, 1.0, 1.0, 1.0), 1)
    assert(quart == Seq((8L, 2L, 4L, 100L, 0L)))
  }

  test("seasonality cell state: cross-batch counts move shares, replay guard holds") {
    import org.apache.spark.sql.functions.{col, to_timestamp, lit}
    import graft.streaming.SeasonalityCellState
    import spark.implicits._
    val state = new SeasonalityCellState(GraftCaches.trackTempDir("graft_seasonspec_") + "/state")
    def batch(rows: String*) =
      rows.toSeq.toDF("tss")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
        .withColumn("event_type", lit("v"))
    def shares = state.profile(spark).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq

    // batch 0: Monday 01h x1, Monday 02h x1 -> 5000 bp each
    state.merge(batch("2024-01-01 01:00:00", "2024-01-01 02:00:00"), 0)
    assert(shares == Seq((1L, 1L, 1L, 5000L), (1L, 2L, 1L, 5000L)))
    // batch 1: two more into Monday 01h -> 3/4 vs 1/4 (a per-batch
    // profile could only average 50/50 snapshots)
    state.merge(batch("2024-01-08 01:10:00", "2024-01-08 01:20:00"), 1)
    assert(shares == Seq((1L, 1L, 3L, 7500L), (1L, 2L, 1L, 2500L)))
    // replay of batch 1 is a no-op
    state.merge(batch("2024-01-08 01:10:00", "2024-01-08 01:20:00"), 1)
    assert(shares == Seq((1L, 1L, 3L, 7500L), (1L, 2L, 1L, 2500L)))
  }

  test("daily cents state: a late batch re-weights downstream EWMA, replay guard holds") {
    import org.apache.spark.sql.functions.{col, to_timestamp, lit}
    import graft.streaming.DailyTypeCentsState
    import spark.implicits._
    val state = new DailyTypeCentsState(GraftCaches.trackTempDir("graft_ewmaspec_") + "/state")
    def batch(rows: (String, Double)*) =
      rows.toSeq.toDF("tss", "value")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
        .withColumn("event_type", lit("v"))
    def ewma = state.ewma(spark).collect()
      .map(r => (r.getTimestamp(1).toString.take(10), r.getDouble(3))).toSeq

    // batch 0: day1 = 100c, day2 = 200c -> d2 = (200·2+100)/3
    state.merge(batch(("2024-01-01 01:00:00", 1.0), ("2024-01-02 01:00:00", 2.0)), 0)
    assert(ewma == Seq(("2024-01-01", 100.0),
      ("2024-01-02", BigDecimal(500.0 / 3).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // batch 1: LATE +100c into day 1 -> day 1 becomes 200c and day
    // 2's already-reported smoothed value MOVES to (200·2+200)/3 —
    // exactly why the EWMA itself cannot be the state
    state.merge(batch(("2024-01-01 02:00:00", 1.0)), 1)
    assert(ewma == Seq(("2024-01-01", 200.0), ("2024-01-02", 200.0)))
    // replay of batch 1 is a no-op
    state.merge(batch(("2024-01-01 02:00:00", 1.0)), 1)
    assert(ewma == Seq(("2024-01-01", 200.0), ("2024-01-02", 200.0)))
  }

  test("daily count state: a late batch MOVES the changepoint, replay guard holds") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.DailyCountState
    import spark.implicits._
    val state = new DailyCountState(GraftCaches.trackTempDir("graft_cusumspec_") + "/state")
    def batch(rows: (String, Int)*) =
      rows.toSeq.flatMap { case (d, k) => (1 to k).map(_ => d) }.toDF("tss")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    def cp = state.changepoint(spark).collect()
      .filter(_.getBoolean(3)).map(_.getTimestamp(0).toString.take(10)).toSeq

    // batch 0: 2/2/2/8 -> T=4, N=14, dev = 4S_t - 14t =
    // (-6, -12, -18, 0): shift lands at day 3
    state.merge(batch(("2024-01-01", 2), ("2024-01-02", 2),
      ("2024-01-03", 2), ("2024-01-04", 8)), 0)
    assert(cp == Seq("2024-01-03"))
    // batch 1: 6 LATE events for day 1 -> 8/2/2/8, N=20, dev =
    // 4S_t - 20t = (+12, 0, -12, 0): max|dev| TIES at days 1 and 3,
    // earliest wins — the changepoint MOVES into already-reported
    // history AND exercises the tie-break (a per-batch argmax could
    // do neither)
    state.merge(batch(("2024-01-01", 6)), 1)
    assert(cp == Seq("2024-01-01"))
    // replay of batch 1 is a no-op
    state.merge(batch(("2024-01-01", 6)), 1)
    assert(cp == Seq("2024-01-01"))
  }

  test("drift state: cross-batch counts move the TV distance, replay guard holds") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.DriftState
    import spark.implicits._
    val state = new DriftState(GraftCaches.trackTempDir("graft_driftspec_") + "/state")
    def batch(rows: (String, String)*) = rows.toSeq.toDF("source", "text")
    def tv = state.drift(spark).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq

    // batch 0: identical unigram distributions -> TV = 0
    state.merge(batch(("A", "x y"), ("B", "x y")), 0)
    assert(tv == Seq(("A", "B", 0.0)))
    // batch 1: B gains "z z" -> A={x:1,y:1}/2, B={x:1,y:1,z:2}/4;
    // num = |1*4-1*2| + |1*4-1*2| + |0*4-2*2| = 8; TV = 8/(2*2*4) = 0.5
    // (a per-batch TV could only ever average 0 and 1 — sufficient
    // counts land the exact cross-batch mixture)
    state.merge(batch(("B", "z z")), 1)
    assert(tv == Seq(("A", "B", 0.5)))
    // replay of batch 1 is a no-op
    state.merge(batch(("B", "z z")), 1)
    assert(tv == Seq(("A", "B", 0.5)))
  }

  test("daily mode state: cross-batch count accumulation flips the mode, replay guard holds") {
    import org.apache.spark.sql.functions.{col, concat, lit, to_timestamp}
    import graft.streaming.DailyModeState
    import spark.implicits._
    val state = new DailyModeState(GraftCaches.trackTempDir("graft_modespec_") + "/state")
    def batch(rows: (String, Long)*) =
      rows.toSeq.toDF("tss", "k")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
        .withColumn("props", concat(lit("{\"k\": "), col("k"), lit("}")))
    def mode = state.mode(spark).collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

    // batch 0: item 5 leads day 1 (2 vs 1)
    state.merge(batch(("2024-01-01 01:00:00", 5L), ("2024-01-01 02:00:00", 5L),
      ("2024-01-01 03:00:00", 9L)), 0)
    assert(mode == Seq(("2024-01-01 00:00:00.0", 5L, 2L, 6666L)))
    // batch 1: two more 9s arrive LATE for day 1 -> mode flips to 9
    // (a per-batch mode could never recover this; sufficient counts do)
    state.merge(batch(("2024-01-01 04:00:00", 9L), ("2024-01-01 05:00:00", 9L)), 1)
    assert(mode == Seq(("2024-01-01 00:00:00.0", 9L, 3L, 6000L)))
    // replay of batch 1 is a no-op
    state.merge(batch(("2024-01-01 04:00:00", 9L), ("2024-01-01 05:00:00", 9L)), 1)
    assert(mode == Seq(("2024-01-01 00:00:00.0", 9L, 3L, 6000L)))
    // equal counts tie-break to the smaller item id: add two 5s -> 4-3? no,
    // 5 now has 2, 9 has 3; one more 5 makes it 3-3 -> item 5 wins the tie
    state.merge(batch(("2024-01-01 06:00:00", 5L)), 2)
    assert(mode == Seq(("2024-01-01 00:00:00.0", 5L, 3L, 5000L)))
  }

  test("rollup state: late rows fold into old days, replay guard holds") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.RollupState
    import spark.implicits._
    val state = new RollupState(GraftCaches.trackTempDir("graft_rollspec_") + "/state")
    def batch(rows: (String, String, Double)*) =
      rows.toSeq.toDF("tss", "event_type", "value")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    def view = state.view(spark).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getLong(3))).toSeq

    state.merge(batch(("2024-01-01 10:00:00", "x", 1.50), ("2024-01-02 09:00:00", "x", 2.00)), 0)
    assert(view == Seq(
      ("2024-01-01 00:00:00.0", "x", 1L, 150L),
      ("2024-01-02 00:00:00.0", "x", 1L, 200L)))
    // batch 1 delivers a LATE row for day 1 — folds into the old day
    state.merge(batch(("2024-01-01 23:00:00", "x", 0.25)), 1)
    assert(view == Seq(
      ("2024-01-01 00:00:00.0", "x", 2L, 175L),
      ("2024-01-02 00:00:00.0", "x", 1L, 200L)))
    // replay of batch 1 must be a no-op
    state.merge(batch(("2024-01-01 23:00:00", "x", 0.25)), 1)
    assert(view.head._3 == 2L)
  }

  test("moments state: cross-batch additivity, replay guard, n=1 null sd") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.MomentsState
    import spark.implicits._
    val state = new MomentsState(GraftCaches.trackTempDir("graft_momspec_") + "/state")
    def batch(rows: (String, Double)*) =
      rows.toSeq.toDF("event_type", "value")
    def rep = state.report(spark).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), if (r.isNullAt(3)) null else r.getDouble(3))).toSeq

    // batch 0: x = {10, 12}, y = {5} (y has n=1 -> sd null)
    state.merge(batch(("x", 10.0), ("x", 12.0), ("y", 5.0)), 0)
    assert(rep == Seq(
      ("x", 2L, 11.0, 1.4142),             // sample sd of {10,12} = sqrt(2), 4dp
      ("y", 1L, 5.0, null)))
    // replay of batch 0 must be a no-op
    state.merge(batch(("x", 10.0), ("x", 12.0), ("y", 5.0)), 0)
    assert(rep.head._2 == 2L)
    // batch 1: x gains {14} -> {10,12,14}: mean 12, sample sd = 2
    state.merge(batch(("x", 14.0)), 1)
    assert(rep == Seq(
      ("x", 3L, 12.0, 2.0),
      ("y", 1L, 5.0, null)))
  }

  test("funnel state: same-batch chains resolve, replayed batch is skipped") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.FunnelState
    import spark.implicits._
    val state = new FunnelState(GraftCaches.trackTempDir("graft_funnelspec_") + "/state")
    def batch(rows: (Long, String, String)*) =
      rows.toSeq.toDF("user_id", "event_type", "tss")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    def counts = state.counts(spark).collect()(0)

    // view and click in the SAME batch: the click gates on the merged
    // first-view and must count
    state.merge(batch((1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:05:00"),
      (2L, "signup", "2024-01-01 10:06:00")), 0)
    assert((counts.getLong(0), counts.getLong(1), counts.getLong(2), counts.getLong(3)) == ((1L, 1L, 0L, 2L)))
    // replaying batch 0 must be a no-op (crash-replay guard)
    state.merge(batch((1L, "purchase", "2024-01-01 10:10:00")), 0)
    assert(counts.getLong(2) == 0L)
    // the purchase arriving in batch 1 completes the funnel
    state.merge(batch((1L, "purchase", "2024-01-01 10:10:00")), 1)
    assert((counts.getLong(2), counts.getLong(3)) == ((1L, 2L)))
  }

  test("cdc deletes: insert→update→delete lifecycle, replay guard, no tombstone resurrection") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.CdcCompact
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_cdcspec_")
    val cdc = new CdcCompact(s"$work/state")
    def batch(rows: (Long, Long, String, String, Double, String)*) =
      rows.toSeq.toDF("user_id", "event_id", "tss", "event_type", "value", "op")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    def liveIds = cdc.live(spark).orderBy(col("user_id"))
      .select(col("user_id"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // insert (two keys), then update key 1
    cdc.merge(batch((1L, 1L, "2024-01-01 10:00:00", "view", 1.0, "upsert"),
      (2L, 10L, "2024-01-01 10:00:00", "view", 2.0, "upsert")), 0)
    cdc.merge(batch((1L, 2L, "2024-01-01 11:00:00", "click", 5.0, "upsert")), 1)
    assert(liveIds == Seq((1L, 2L), (2L, 10L)))
    // delete key 1: gone from the live view, tombstone retained in state
    cdc.merge(batch((1L, 3L, "2024-01-01 12:00:00", "error", 0.0, "delete")), 2)
    assert(liveIds == Seq((2L, 10L)))
    assert(cdc.table(spark).count() == 2, "tombstone must stay in physical state")
    // a late OLDER upsert for the deleted key must not resurrect it
    cdc.merge(batch((1L, 4L, "2024-01-01 10:30:00", "view", 9.0, "upsert")), 3)
    assert(liveIds == Seq((2L, 10L)))
    // replayed batchId is skipped (exactly-once guard): key 2 unchanged
    cdc.merge(batch((2L, 99L, "2024-01-01 23:00:00", "view", 9.0, "upsert")), 3)
    assert(liveIds == Seq((2L, 10L)))
    // a genuinely NEWER upsert re-creates the key
    cdc.merge(batch((1L, 5L, "2024-01-01 13:00:00", "view", 7.0, "upsert")), 4)
    assert(liveIds == Seq((1L, 5L), (2L, 10L)))
  }

  test("cdc compaction of batches without an op column: live equals table") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.CdcCompact
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_cdcnoop_")
    val cdc = new CdcCompact(s"$work/state")
    def batch(rows: (Long, Long, String, String, Double)*) =
      rows.toSeq.toDF("user_id", "event_id", "tss", "event_type", "value")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    // an `error` row is no delete without a row-kind column
    cdc.merge(batch((1L, 1L, "2024-01-01 10:00:00", "view", 1.0),
      (2L, 10L, "2024-01-01 10:00:00", "view", 2.0)), 0)
    cdc.merge(batch((1L, 2L, "2024-01-01 11:00:00", "error", 0.0)), 1)
    def sorted(df: org.apache.spark.sql.DataFrame) = df.orderBy(col("user_id")).collect().toSeq
    assert(cdc.live(spark).columns.toSeq == cdc.table(spark).columns.toSeq)
    assert(sorted(cdc.live(spark)) == sorted(cdc.table(spark)))
    assert(sorted(cdc.live(spark)).map(r => r.getAs[Long]("event_id")) == Seq(2L, 10L))
  }

  test("cdc schema drift: ADD COLUMN mid-stream back-fills NULL, union schema, epoch replay guard") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.CdcCompact
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_cdcdriftspec_")
    val cdc = new CdcCompact(s"$work/state")
    def preBatch(rows: (Long, Long, String, String, Double)*) =
      rows.toSeq.toDF("user_id", "event_id", "tss", "event_type", "value")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    def postBatch(rows: (Long, Long, String, String, Double, String)*) =
      rows.toSeq.toDF("user_id", "event_id", "tss", "event_type", "value", "plan")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    def state = cdc.table(spark).orderBy(col("user_id"))
      .select(col("user_id"), col("event_id"), col("plan"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)))).toSeq

    // epoch 0 (pre-DDL deploy): two keys, 5-column schema
    cdc.merge(0)(preBatch((1L, 1L, "2024-01-01 10:00:00", "view", 1.0),
      (2L, 10L, "2024-01-01 10:00:00", "view", 2.0)), 0)
    assert(!cdc.table(spark).columns.contains("plan"))
    // epoch 1 (post-DDL deploy): wider schema; key 2 updated with a
    // plan, key 1 untouched — its pre-DDL row must read NULL plan
    cdc.merge(1)(postBatch((2L, 11L, "2024-01-01 12:00:00", "click", 3.0, "gold"),
      (3L, 20L, "2024-01-01 12:30:00", "view", 4.0, "free")), 0)
    // union schema = first deploy's order (the builder appends ts
    // last) + the drift column appended
    assert(cdc.table(spark).columns.toSeq ==
      Seq("user_id", "event_id", "event_type", "value", "ts", "plan"))
    assert(state == Seq((1L, 1L, None), (2L, 11L, Some("gold")), (3L, 20L, Some("free"))))
    // replaying an epoch-0 batch after epoch 1 committed is a no-op
    // (cross-deploy exactly-once): the narrow replay must not touch state
    cdc.merge(0)(preBatch((1L, 99L, "2024-01-01 23:00:00", "view", 9.0)), 0)
    assert(state == Seq((1L, 1L, None), (2L, 11L, Some("gold")), (3L, 20L, Some("free"))))
    // a later epoch-1 batch still merges; latest-per-key wins across
    // the drift boundary (pre-DDL row beaten by post-DDL update)
    cdc.merge(1)(postBatch((1L, 2L, "2024-01-01 13:00:00", "purchase", 5.0, "gold")), 1)
    assert(state == Seq((1L, 2L, Some("gold")), (2L, 11L, Some("gold")), (3L, 20L, Some("free"))))
  }

  test("cdc schema drift resumes across a restart: recovered version spans epochs") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.CdcCompact
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_cdcdriftres_")
    def preBatch(rows: (Long, Long, String, String, Double)*) =
      rows.toSeq.toDF("user_id", "event_id", "tss", "event_type", "value")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    def postBatch(rows: (Long, Long, String, String, Double, String)*) =
      rows.toSeq.toDF("user_id", "event_id", "tss", "event_type", "value", "plan")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    val first = new CdcCompact(s"$work/state")
    first.merge(0)(preBatch((1L, 1L, "2024-01-01 10:00:00", "view", 1.0)), 0)
    first.merge(1)(postBatch((2L, 5L, "2024-01-01 12:00:00", "view", 2.0, "gold")), 0)
    // crash: fresh instance on the same state dir recovers the
    // epoch-encoded version — BOTH prior deploys' batches replay as no-ops
    val resumed = new CdcCompact(s"$work/state")
    resumed.merge(0)(preBatch((1L, 99L, "2024-01-01 23:00:00", "view", 9.0)), 0)
    resumed.merge(1)(postBatch((2L, 99L, "2024-01-01 23:00:00", "view", 9.0, "late")), 0)
    val got = resumed.table(spark).orderBy(col("user_id"))
      .select(col("user_id"), col("event_id"), col("plan"))
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(got == Seq((1L, 1L, None), (2L, 5L, Some("gold"))))
    // the next genuinely-new batch applies
    resumed.merge(1)(postBatch((1L, 2L, "2024-01-01 13:00:00", "click", 3.0, "free")), 1)
    val got2 = resumed.table(spark).orderBy(col("user_id"))
      .select(col("user_id"), col("event_id"), col("plan"))
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(got2 == Seq((1L, 2L, Some("free")), (2L, 5L, Some("gold"))))
  }

  test("cdc compaction resumes from checkpoint across a restart, exactly once") {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{CdcCompact, StreamSources}
    val work = GraftCaches.trackTempDir("graft_resume_")
    // stage the events table as 4 files, but reveal them in two phases
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sf/events.parquet").repartition(4)
      .write.mode("overwrite").parquet(s"$work/staged")
    val parts = new java.io.File(s"$work/staged").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    assert(parts.length == 4)
    JFiles.createDirectories(Paths.get(s"$work/input"))
    def reveal(names: Seq[String]): Unit = names.foreach { n =>
      JFiles.copy(Paths.get(s"$work/staged/$n"), Paths.get(s"$work/input/$n"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def drain(cdc: CdcCompact): Unit = {
      val q = StreamSources.eventsFrom(spark, s"$work/input", maxFilesPerTrigger = 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) => cdc.merge(b, id))
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // phase 1: two files, then "crash" (query + operator instance die)
    reveal(parts.take(2))
    drain(new CdcCompact(s"$work/state"))
    // phase 2: restart — fresh operator instance recovers its version,
    // the checkpoint's file log skips the already-processed files
    reveal(parts.drop(2))
    val cdc2 = new CdcCompact(s"$work/state")
    drain(cdc2)
    val streamed = cdc2.table(spark)
      .orderBy(org.apache.spark.sql.functions.col("user_id")).collect().toSeq
    val batch = rows("cdc_latest_by_key")
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
  }

  test("stream_hop_append equals the watermark-closed subset of batch hop windows") {
    import org.apache.spark.sql.functions._
    val batch = rows("hop_window_agg")
    val maxTs = graft.sources.Tables.events(spark, sf)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val wmMs = maxTs.getTime - 47 * 60 * 1000L
    val closed = batch.filter(r => r.getTimestamp(0).getTime + 600000L <= wmMs)
    assert(closed.size < batch.size,
      "test corpus must leave some windows open, or the mode difference is invisible")
    assert(rows("stream_hop_append") == closed)
  }

  test("stream_hop_append drops late rows and evicts closed-window state") {
    import java.nio.file.{Files => JFiles, Paths}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamSources
    import spark.implicits._

    val work = GraftCaches.trackTempDir("graft_hop_append_")
    val base = 1577836800L // 2020-01-01 00:00 UTC
    def nanos(minute: Long): Long = (base + minute * 60) * 1000000000L
    def stage(sub: String, evs: Seq[(Long, Long)], modTime: Long): Unit = {
      val tmp = s"$work/$sub-tmp"
      evs.map { case (id, m) => (id, nanos(m), id, "play", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(s"$work/input/$sub.parquet")
      JFiles.createDirectories(dst.getParent)
      JFiles.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTime); ()
    }
    // batch 0: events at 10:00 and 12:00 -> watermark advances to
    //          12:00-47m = 11:13 for batch 1's EVICTION; Spark's
    //          two-watermark design (late-events filter runs one
    //          batch behind eviction) means a row is only dropped
    //          once the advance is TWO batches old
    // batch 1: 12:30 -> the 10:00 windows are evicted+emitted (n=1)
    // batch 2: the LATE 10:05 event (windows end <= 10:15 < 11:13,
    //          already emitted) must be dropped, not re-opened
    val now = System.currentTimeMillis()
    stage("f1", Seq((1L, 600L), (2L, 720L)), now - 90000)
    stage("f2", Seq((4L, 750L)), now - 60000)
    stage("f3", Seq((3L, 605L)), now - 30000)

    val (table, progress) = StreamSources.runToMemoryWithProgress(
      graft.operators.Engagement.hopAggTransform(
        StreamSources.eventsFrom(spark, s"$work/input", maxFilesPerTrigger = 1)
          .withWatermark("ts", "47 minutes")),
      OutputMode.Append())
    val got = table.orderBy(col("w_start")).collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(2)))
    // only the 10:00 event's two windows closed (<= 11:43), each n=1:
    // the late 10:05 row was dropped, so no n=2 and no [10:05,10:15)
    assert(got.toSeq == Seq((base + 595 * 60, 1L), (base + 600 * 60, 1L)), got.mkString(", "))
    val st = progress.reverse.find(_.stateOperators.nonEmpty).get.stateOperators.head
    assert(st.numRowsTotal == 4,
      s"state must hold only the 4 open windows, got ${st.numRowsTotal}")
    val dropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    assert(dropped >= 1, "the late row must be dropped by the watermark")
  }

  test("jdbc_cdc_poll (Derby changelog tail) equals batch cdc_with_deletes") {
    assert(rows("jdbc_cdc_poll") == rows("cdc_with_deletes"))
  }

  test("jdbc_cdc_poll resumes from the committed state across a restart") {
    import graft.streaming.{JdbcCdcPoll, JdbcSink}
    val db = "graft_cdctail_resume"
    val url = s"jdbc:derby:memory:$db;create=true"
    val work = GraftCaches.trackTempDir("graft_cdcresume_")
    try {
      val total = JdbcCdcPoll.stageChangelog(spark, sf, url)
      val chunk = math.max(1L, (total + 3) / 4)
      // Full tail in one process → the reference live view.
      val want = JdbcCdcPoll.pollInto(spark, url, s"$work/full", total, chunk)
        .live(spark).orderBy("user_id").collect().toSeq
      // "Crash" after two committed chunks; a NEW poller (fresh
      // instance, same state dir — the restart) must resume at chunk 2
      // and converge to the same live view without re-reading 0..1.
      val half = JdbcCdcPoll.pollInto(spark, url, s"$work/part", total, chunk,
        maxBatches = 2)
      assert(half.committedVersion == 1L)
      val resumed = JdbcCdcPoll.pollInto(spark, url, s"$work/part", total, chunk)
      assert(resumed.committedVersion > 1L)
      assert(resumed.live(spark).orderBy("user_id").collect().toSeq == want)
      // Re-polling a drained state is a no-op (nothing to tail).
      val again = JdbcCdcPoll.pollInto(spark, url, s"$work/part", total, chunk)
      assert(again.live(spark).orderBy("user_id").collect().toSeq == want)
    } finally JdbcSink.dropInMemoryDb(db)
  }

  test("stream_router_jdbc (Derby MERGE sink) equals event_router") {
    assert(rows("stream_router_jdbc") == rows("event_router"))
  }

  test("stream_router_http (loopback HTTP sink) equals event_router") {
    assert(rows("stream_router_http") == rows("event_router"))
  }

  test("http sink: rows cross a real socket, replayed POST is a no-op (delivery counts)") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.HttpSink
    import spark.implicits._
    val server = new HttpSink.CountingHttpServer()
    try {
      def routed(rows: (Long, String, Double)*) =
        rows.toSeq.toDF("event_id", "route", "value")
      // batch 0: two partitions → at least one POST each, 3 lines total
      val b0 = routed((1L, "billing", 1.0), (2L, "crm", 2.0), (3L, "ops", 3.0))
        .repartition(2)
      HttpSink.postRouted(b0, server.url)
      val postsAfterB0 = server.postCount.get()
      assert(postsAfterB0 >= 1, "delivery must cross the socket")
      assert(server.lineCount.get() == 3)
      assert(server.deliveredCount == 3)
      // CRASH-REPLAY: foreachBatch re-delivers batch 0 — the consumer
      // receives the POSTs again (at-least-once is real) but its
      // event_id dedup must keep the accepted set identical
      HttpSink.postRouted(b0, server.url)
      assert(server.postCount.get() > postsAfterB0, "replay must actually re-POST")
      assert(server.lineCount.get() == 6, "replayed lines arrive on the wire")
      assert(server.deliveredCount == 3, "accepted set must not double")
      assert(server.delivered.sortBy(_._1) ==
        Seq((1L, "billing", 1.0), (2L, "crm", 2.0), (3L, "ops", 3.0)))
    } finally server.stop()
  }

  test("jdbc upsert sink: replayed batch is a no-op, updates land keyed (crash-replay idempotence)") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.JdbcSink
    import spark.implicits._
    val db = "graft_jdbcspec"
    val url = s"jdbc:derby:memory:$db;create=true"
    try {
      def batch(rows: (Long, String, Double)*) =
        rows.toSeq.toDF("event_id", "event_type", "value")
      def target = graft.sources.Tables.dimJdbc(spark, url, "\"sink\"")
        .orderBy(col("event_id"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

      // batch 0 inserts two keys
      val b0 = batch((1L, "view", 1.0), (2L, "click", 2.0))
      JdbcSink.upsertBatch(b0, url, "sink", Seq("event_id"))
      assert(target == Seq((1L, "view", 1.0), (2L, "click", 2.0)))
      // CRASH-REPLAY: foreachBatch re-delivers batch 0 after a restart —
      // the keyed MERGE must leave the target bit-identical, not doubled
      JdbcSink.upsertBatch(b0, url, "sink", Seq("event_id"))
      assert(target == Seq((1L, "view", 1.0), (2L, "click", 2.0)))
      // batch 1: update key 2, insert key 3 — one MERGE does both
      JdbcSink.upsertBatch(batch((2L, "click", 9.5), (3L, "purchase", 4.0)),
        url, "sink", Seq("event_id"))
      assert(target == Seq((1L, "view", 1.0), (2L, "click", 9.5), (3L, "purchase", 4.0)))
    } finally JdbcSink.dropInMemoryDb(db)
  }

  /** Shared crash-resume harness for the versioned-state streaming
    * family (round-8 verdict task 5): stage events as 4 files, drain 2
    * through a checkpointed foreachBatch, "crash" (query + operator
    * instance die), reveal the rest, restart with a FRESH operator
    * instance on the same state/checkpoint dirs, drain, and hand back
    * the final report. Proves (a) the checkpoint's file log skips
    * already-processed files, (b) `StreamUtil.VersionedState`
    * recovery gives the new instance the last committed version as
    * its high-water mark, so replayed batch ids are no-ops — together:
    * exactly-once across a restart (for a restart between batches;
    * the crash-injection specs below cover a crash inside one). */
  private def resumeAcrossRestart(
      prefix: String, timeOrdered: Boolean,
      mkMerge: String => (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit)
      : String = {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{FunnelStream, StreamSources}
    val work = GraftCaches.trackTempDir(s"graft_resume_${prefix}_")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (timeOrdered)
      FunnelStream.stageTimeOrdered(spark, sf, s"$work/staged", 4)
    else
      spark.read.parquet(s"$sf/events.parquet").repartition(4)
        .write.mode("overwrite").parquet(s"$work/staged")
    val parts = new java.io.File(s"$work/staged").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    assert(parts.length == 4)
    JFiles.createDirectories(Paths.get(s"$work/input"))
    // FileStreamSource orders pending files by modification time, and
    // copy granularity can hand two reveals the SAME stamp — the tie
    // order is then arbitrary, so a time-ordered staging intermittently
    // arrives out of order and order-sensitive state (attribution's
    // carry-forward last-touch) miscredits. Stamp each file with its
    // staged rank so the source's order IS the staged order.
    val mtimeBase = System.currentTimeMillis() - 10 * 60 * 1000L
    def reveal(names: Seq[String]): Unit = names.foreach { n =>
      val tgt = Paths.get(s"$work/input/$n")
      JFiles.copy(Paths.get(s"$work/staged/$n"), tgt,
        StandardCopyOption.REPLACE_EXISTING)
      JFiles.setLastModifiedTime(tgt,
        java.nio.file.attribute.FileTime.fromMillis(
          mtimeBase + parts.indexOf(n) * 60000L))
    }
    def drain(merge: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit): Unit = {
      val q = StreamSources.eventsFrom(spark, s"$work/input", maxFilesPerTrigger = 1)
        .writeStream
        .foreachBatch(merge)
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    reveal(parts.take(2))
    drain(mkMerge(s"$work/state"))
    reveal(parts.drop(2))
    drain(mkMerge(s"$work/state")) // fresh instance: recovery is real
    s"$work/state"
  }

  test("attribution resumes from checkpoint across a restart, exactly once") {
    import graft.streaming.AttributionState
    val stateDir = resumeAcrossRestart("attr", timeOrdered = true,
      sd => new AttributionState(sd, "INTERVAL 7 DAYS").merge)
    val resumed = new AttributionState(stateDir, "INTERVAL 7 DAYS")
      .report(spark).collect().toSeq
    assert(resumed == rows("attribution_last_touch"))
  }

  test("funnel resumes from checkpoint across a restart, exactly once") {
    import graft.streaming.FunnelState
    val stateDir = resumeAcrossRestart("funnel", timeOrdered = true,
      sd => new FunnelState(sd).merge)
    val resumed = new FunnelState(stateDir).counts(spark).collect().toSeq
    assert(resumed == rows("funnel_conversion"))
  }

  test("rollup resumes from checkpoint across a restart, exactly once") {
    import graft.streaming.RollupState
    val stateDir = resumeAcrossRestart("rollup", timeOrdered = false,
      sd => new RollupState(sd).merge)
    val resumed = new RollupState(stateDir).view(spark).collect().toSeq
    assert(resumed == rows("incremental_rollup"))
  }

  test("boxplot state-merge family resumes from checkpoint across a restart, exactly once") {
    import graft.streaming.ValueCountState
    val stateDir = resumeAcrossRestart("boxplot", timeOrdered = false,
      sd => new ValueCountState(sd).merge)
    val resumed = new ValueCountState(stateDir).boxplot(spark).collect().toSeq
    assert(resumed == rows("boxplot_stats"))
  }

  test("exclusion funnel resumes from checkpoint across a restart, exactly once") {
    import graft.streaming.ExclusionFunnelState
    val stateDir = resumeAcrossRestart("fexcl", timeOrdered = true,
      sd => new ExclusionFunnelState(sd).merge)
    val resumed = new ExclusionFunnelState(stateDir).report(spark).collect().toSeq
    assert(resumed == rows("funnel_excluding"))
  }

  test("session affinity state resumes from checkpoint across a restart, exactly once") {
    import graft.streaming.SessionAffinityState
    val stateDir = resumeAcrossRestart("saff", timeOrdered = true,
      sd => new SessionAffinityState(sd).merge)
    val resumed = new SessionAffinityState(stateDir).report(spark).collect().toSeq
    assert(resumed == rows("session_type_affinity"))
  }

  test("transition state resumes from checkpoint across a restart, exactly once") {
    import graft.streaming.TransitionState
    val stateDir = resumeAcrossRestart("trans", timeOrdered = true,
      sd => new TransitionState(sd).merge)
    val resumed = new TransitionState(stateDir).report(spark).collect().toSeq
    assert(resumed == rows("event_transitions"))
  }

  test("graph presence state resumes from checkpoint across a restart, exactly once") {
    import graft.streaming.UserItemState
    val stateDir = resumeAcrossRestart("graph", timeOrdered = false,
      sd => new UserItemState(sd).merge)
    val resumed = new UserItemState(stateDir).reportPagerank(spark).collect().toSeq
    assert(resumed == rows("pagerank_items"))
  }

  test("hll distinct state: merge-invariant vs one-shot sketch, replay-guarded, within 5% of exact") {
    import org.apache.spark.sql.functions._
    import graft.streaming.HllDistinctState
    val events = graft.sources.Tables.events(spark, sf)
    val work = GraftCaches.trackTempDir("graft_hll_spec_")
    val st = new HllDistinctState(s"$work/state")
    (0L to 2L).foreach(i => st.merge(events.filter(col("event_id") % 3 === i), i))
    // replayed batch id is a no-op (exactly-once guard)
    st.merge(events.filter(col("event_id") % 3 === 0), 2L)
    val streamed = st.estimates(spark).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    // HLL union is associative+commutative -> EXACTLY the one-shot sketch
    val oneShot = events
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(round(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(14))))
        .cast("long").as("est_users"))
      .orderBy(col("day")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(streamed == oneShot)
    val exact = events
      .select(date_trunc("day", col("ts")).as("day"), col("user_id")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    streamed.foreach { case (day, est) =>
      val n = exact(day).toDouble
      assert(math.abs(est - n) / n <= 0.05, s"day=$day est=$est exact=$n")
    }
  }

  test("kafka source/sink config shape and upsert record encoding") {
    val src = KafkaConfig.sourceOptions("broker:9092", "engagement_events")
    assert(src("kafka.bootstrap.servers") == "broker:9092")
    assert(src("subscribe") == "engagement_events")
    assert(src("startingOffsets") == "earliest")
    assert(src("failOnDataLoss") == "false")
    val snk = KafkaConfig.sinkOptions("broker:9092", "out_topic", "/tmp/ckpt")
    assert(snk("topic") == "out_topic" && snk("checkpointLocation") == "/tmp/ckpt")

    val events = graft.sources.Tables.events(spark, sf)
    val recs = KafkaConfig.toUpsertRecords(events, Seq("event_id"))
    assert(recs.columns.toSeq == Seq("key", "value"))
    val first = recs.limit(1).collect()(0)
    assert(first.getString(0).startsWith("""{"event_id""""))
    assert(first.getString(1).contains(""""event_type""""))
    assert(recs.count() == events.count())
  }

  test("bootstrap state: additive replicates across batch splits, replay guard, resume") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.BootstrapState
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_bootspec_")
    def batch(rows: (Long, Double)*) = rows.toSeq.toDF("event_id", "value")
    def report(s: BootstrapState) = s.report(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = Seq((1L, 0.5), (2L, 0.7), (3L, 0.9), (4L, 1.1))
    // one-shot reference over the whole input
    val oneShot = operators.Sampling.bootstrapReport(
      operators.Sampling.bootstrapPartial(full.toDF("event_id", "value"), 32))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val state = new BootstrapState(s"$work/state")
    state.merge(batch(full.take(2): _*), 0)
    state.merge(batch(full.drop(2): _*), 1)
    assert(report(state) == oneShot, "split replay must equal the one-shot build")
    // replayed batch is a no-op
    state.merge(batch(full.take(2): _*), 0)
    assert(report(state) == oneShot)
    // crash: a fresh instance recovers the committed version
    val resumed = new BootstrapState(s"$work/state")
    resumed.merge(batch(full.take(2): _*), 1)
    assert(report(resumed) == oneShot)
  }

  test("cms state: sketch additivity across batches, replay guard, resume") {
    import graft.streaming.CmsState
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_cmsspec_")
    def batch(ids: Long*) = ids.zipWithIndex
      .map { case (k, i) => (i.toLong, s"""{"k": $k}""") }
      .toDF("event_id", "props")
    def top(s: CmsState) = s.topItems(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

    val state = new CmsState(s"$work/state")
    // 6×7 + 4×13 in two splits; total 10 → threshold est ≥ 0.05·... →
    // 200·est ≥ 10 admits everything with est ≥ 1, so both keys report
    state.merge(batch(7L, 7L, 7L, 13L, 13L), 0)
    state.merge(batch(7L, 7L, 7L, 13L, 13L), 1)
    assert(top(state) == Seq((7L, 6L), (13L, 4L)),
      "streamed sketch must equal the exact counts on a collision-free domain")
    // replay is a no-op
    state.merge(batch(7L, 7L, 7L, 13L, 13L), 1)
    assert(top(state) == Seq((7L, 6L), (13L, 4L)))
    // crash-resume: fresh instance, old batch skipped, new batch applies
    val resumed = new CmsState(s"$work/state")
    resumed.merge(batch(7L, 7L, 7L, 13L, 13L), 0)
    assert(top(resumed) == Seq((7L, 6L), (13L, 4L)))
    resumed.merge(batch(29L, 29L), 2)
    assert(top(resumed) == Seq((7L, 6L), (13L, 4L), (29L, 2L)))
  }

  test("stream_k_core equals batch k_core over the same presence-derived graph") {
    assert(rows("stream_k_core") == rows("k_core"))
  }

  test("stream_bpe_train equals batch bpe_train over the merged word-frequency dict") {
    assert(rows("stream_bpe_train") == rows("bpe_train"))
  }

  test("stream_bpe_fertility equals batch bpe_fertility_by_source") {
    assert(rows("stream_bpe_fertility") == rows("bpe_fertility_by_source"))
  }

  test("stream_betweenness equals batch betweenness_centrality") {
    assert(rows("stream_betweenness") == rows("betweenness_centrality"))
  }

  test("stream_hybrid_rrf_tombstone: retracted docs leave the index; equals batch over live corpus") {
    import org.apache.spark.sql.functions.col
    // Expected = the batch operator over a corpus with the retraction
    // slice physically removed (tombstone-compacted live corpus).
    val live = GraftCaches.trackTempDir("graft_hybtomb_live_")
    graft.sources.Tables.documents(spark, sf)
      .filter(!(col("doc_id") >= 3 && col("doc_id") % 7 === 3))
      .write.mode("overwrite").parquet(s"$live/documents.parquet")
    graft.sources.Tables.embeddings(spark, sf)
      .filter(!(col("vec_id") >= 3 && col("vec_id") % 7 === 3))
      .write.mode("overwrite").parquet(s"$live/embeddings.parquet")
    val expected = operators.VectorOps.hybridRrfTopK(spark, live).collect().toSeq
    val got = rows("stream_hybrid_rrf_tombstone")
    assert(got == expected)
    assert(!got.exists(r => r.getAs[Long]("doc_id") % 7 == 3))
  }

  test("hybrid tombstone state: crash between delta writes replays; re-merge is a no-op") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.streaming.HybridIndexState
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_hybtomb_crash_")
    def docs(rows: (Long, String, Seq[Float], String)*) =
      rows.toSeq.toDF("doc_id", "text", "embedding", "op")
        .select(col("doc_id"), col("text"),
          col("embedding").cast("array<float>").as("embedding"), col("op"))
    // queries: docs 0..1; corpus: 2..5, doc 4 retracted in batch 1
    val b0 = docs((0L, "alpha beta", Seq(1f, 0f), "u"), (1L, "beta gamma", Seq(0f, 1f), "u"),
      (2L, "alpha alpha", Seq(0.9f, 0.1f), "u"), (3L, "gamma gamma", Seq(0.1f, 0.9f), "u"))
    val b1 = docs((4L, "alpha beta beta", Seq(0.7f, 0.7f), "u"),
      (5L, "beta beta", Seq(0.5f, 0.5f), "u"))
      .unionByName(Seq(4L).toDF("doc_id")
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit(null).cast("array<float>").as("embedding"), lit("d").as("op")))
    // Clean run → the reference result.
    val clean = new HybridIndexState(s"$work/clean", nQueries = 2, retractions = true)
    clean.merge(b0, 0); clean.merge(b1, 1)
    val want = clean.report(spark).collect().toSeq
    assert(want.nonEmpty && !want.exists(_.getAs[Long]("doc_id") == 4L))
    // Crashed run: batch 0 commits; batch 1 dies after the FIRST
    // delta write (post) — emb and tomb never land.
    val s1 = new HybridIndexState(s"$work/crash", nQueries = 2, retractions = true)
    s1.merge(b0, 0)
    graft.operators.VectorOps.hybridPostings(
        b1.filter(col("op") === "u").select(col("doc_id"), col("text")))
      .repartition(col("doc_id"))
      .write.mode("overwrite").parquet(s"$work/crash/post/batch=1")
    // Restart: the min-over-stores guard sees the orphan post delta
    // as uncommitted (emb/tomb still at 0), so batch 1 REPLAYS into
    // the idempotent overwrite dirs instead of being skipped.
    val s2 = new HybridIndexState(s"$work/crash", nQueries = 2, retractions = true)
    s2.merge(b1, 1)
    assert(s2.report(spark).collect().toSeq == want)
    // Replay guard: a second delivery of batch 1 is a no-op.
    s2.merge(b1, 1)
    assert(s2.report(spark).collect().toSeq == want)
  }

  test("corpus filter tombstone: retracting a bridge doc SPLITS its component") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.streaming.CorpusFilterState
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_cftomb_")
    // 3-word shingles: doc 1 {abc,bcd}, doc 5 {bcd,cde}, doc 9
    // {abc,bcd,cde} — J(1,9)=J(5,9)=2/3 ≥ 0.5 but J(1,5)=1/3 < 0.5:
    // doc 9 is the ONLY bridge between 1 and 5.
    def docs(rows: (Long, String, String)*) =
      rows.toSeq.toDF("doc_id", "text", "op")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("s").as("source"), lit(0L).as("n_chars"), col("op"))
    val b0 = docs((1L, "a b c d", "u"), (5L, "b c d e", "u"))
    val b1 = docs((9L, "a b c d e", "u"))
    val del9 = docs((9L, "a b c d e", "d"))
    def kept(dir: String, batches: Seq[org.apache.spark.sql.DataFrame]): Map[Long, Boolean] = {
      val st = new CorpusFilterState(dir, threshold = 0.5, retractions = true)
      batches.zipWithIndex.foreach { case (b, i) => st.merge(b, i.toLong) }
      st.report(spark, minQuality = 0.0, langs = Seq("en", "und"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("dedup_kept")).toMap
    }
    // No retraction: one component {1,5,9}, min-id rep 1 survives.
    val clean = kept(s"$work/clean", Seq(b0, b1))
    assert(clean == Map(1L -> true, 5L -> false, 9L -> false), s"clean=$clean")
    // Retract the bridge: 9 leaves the verdicts AND the pair graph —
    // 1 and 5 fall into separate singleton components, both kept.
    val tomb = kept(s"$work/tomb", Seq(b0, b1, del9))
    assert(tomb == Map(1L -> true, 5L -> true), s"tomb=$tomb")
  }

  test("stream_corpus_filter_tombstone equals batch corpus_filter over the live corpus") {
    import org.apache.spark.sql.functions.col
    val live = GraftCaches.trackTempDir("graft_cftomb_live_")
    graft.sources.Tables.documents(spark, sf)
      .filter(!(col("doc_id") % 7 === 3))
      .write.mode("overwrite").parquet(s"$live/documents.parquet")
    val expected = operators.TextOps.corpusFilter(spark, live).collect().toSeq
    val got = rows("stream_corpus_filter_tombstone")
    assert(got == expected)
    assert(!got.exists(_.getAs[Long]("doc_id") % 7 == 3))
  }

  // --- delta-store compaction (round-12 verdict task 1) ---

  /** Batch dirs currently present in a delta store. */
  private def deltaDirs(store: String): Set[String] =
    Option(new java.io.File(store).list()).map(_.toSet).getOrElse(Set.empty)
      .filter(_.startsWith("batch="))

  test("compaction is report-identical and physically drops dead entries (all three tombstone states)") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.streaming.{CorpusFilterState, DsirGridState, HybridIndexState}
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_compact_")

    // hybrid: queries 0..1, corpus 2..5, retract 4
    def hdocs(rows: (Long, String, Seq[Float], String)*) =
      rows.toSeq.toDF("doc_id", "text", "embedding", "op")
        .select(col("doc_id"), col("text"),
          col("embedding").cast("array<float>").as("embedding"), col("op"))
    val hyb = new HybridIndexState(s"$work/hyb", nQueries = 2, retractions = true)
    hyb.merge(hdocs((0L, "alpha beta", Seq(1f, 0f), "u"), (1L, "beta gamma", Seq(0f, 1f), "u"),
      (2L, "alpha alpha", Seq(0.9f, 0.1f), "u"), (3L, "gamma gamma", Seq(0.1f, 0.9f), "u")), 0)
    hyb.merge(hdocs((4L, "alpha beta beta", Seq(0.7f, 0.7f), "u"),
      (5L, "beta beta", Seq(0.5f, 0.5f), "u"))
      .unionByName(hdocs((4L, "x", Seq(0f, 0f), "d")).withColumn("text", lit(null).cast("string"))
        .withColumn("embedding", lit(null).cast("array<float>"))), 1)
    val hybBefore = hyb.report(spark).collect().toSeq
    hyb.compact(spark)
    // identical report through a FRESH instance (recovered version)
    val hyb2 = new HybridIndexState(s"$work/hyb", nQueries = 2, retractions = true)
    assert(hyb2.report(spark).collect().toSeq == hybBefore)
    // physical drop: every store is ONE delta at the version boundary,
    // doc 4's postings/embedding are gone, tombstones truncated
    Seq("post", "emb", "tomb").foreach { s =>
      assert(deltaDirs(s"$work/hyb/$s") == Set("batch=1"), s"store $s")
    }
    assert(spark.read.parquet(s"$work/hyb/post")
      .filter(col("doc_id") === 4L).count() == 0)
    assert(spark.read.schema("doc_id BIGINT, batch BIGINT")
      .parquet(s"$work/hyb/tomb").count() == 0)
    // post-compaction ingest + retraction still serve correctly
    hyb2.merge(hdocs((6L, "beta beta beta", Seq(0.4f, 0.6f), "u")), 2)
    val after = hyb2.report(spark).collect().toSeq
    assert(after.exists(_.getAs[Long]("doc_id") == 6L))
    assert(!after.exists(_.getAs[Long]("doc_id") == 4L))

    // corpus filter: bridge graph 1—9—5 with 9 retracted, then compacted
    def cdocs(rows: (Long, String, String)*) =
      rows.toSeq.toDF("doc_id", "text", "op")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("s").as("source"), lit(0L).as("n_chars"), col("op"))
    val cf = new CorpusFilterState(s"$work/cf", threshold = 0.5, retractions = true)
    cf.merge(cdocs((1L, "a b c d", "u"), (5L, "b c d e", "u")), 0)
    cf.merge(cdocs((9L, "a b c d e", "u"), (9L, "a b c d e", "d")), 1)
    val cfBefore = cf.report(spark, 0.0, Seq("en", "und")).collect().toSeq
    // content check independent of the memoized label table: with the
    // bridge doc 9 retracted, 1 and 5 are separate singletons, both kept
    assert(cfBefore.map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("dedup_kept")).toMap
      == Map(1L -> true, 5L -> true))
    cf.compact(spark)
    val cf2 = new CorpusFilterState(s"$work/cf", threshold = 0.5, retractions = true)
    assert(cf2.report(spark, 0.0, Seq("en", "und")).collect().toSeq == cfBefore)
    cf2.storeNames.foreach { s =>
      assert(deltaDirs(s"$work/cf/$s") == Set("batch=1"), s"store $s")
    }
    // 9's bands/sets/meta and BOTH its pairs are physically gone
    assert(spark.read.parquet(s"$work/cf/bands").filter(col("doc_id") === 9L).count() == 0)
    assert(spark.read.schema("doc_a BIGINT, doc_b BIGINT, batch BIGINT")
      .parquet(s"$work/cf/pairs").count() == 0)

    // dsir: grid rows for the dead doc drop, tomb truncates
    val ds = new DsirGridState(s"$work/dsir", retractions = true)
    def ddocs(rows: (Long, String, String, String)*) =
      rows.toSeq.toDF("doc_id", "text", "lang", "op")
    ds.merge(ddocs((1L, "w x", "en", "u"), (2L, "x y", "fr", "u")), 0)
    ds.merge(ddocs((3L, "y z", "en", "u"), (2L, "x y", "fr", "d")), 1)
    val dsBefore = ds.report(spark).collect().toSeq
    ds.compact(spark)
    val ds2 = new DsirGridState(s"$work/dsir", retractions = true)
    assert(ds2.report(spark).collect().toSeq == dsBefore)
    assert(spark.read.parquet(s"$work/dsir/grid").filter(col("doc_id") === 2L).count() == 0)
    assert(deltaDirs(s"$work/dsir/tomb") == Set("batch=1"))

    // built without retractions, each index keeps no `tomb` store, and
    // its report equals the retraction face fed the same upserts and
    // no deletes
    def noTomb(dir: String) = assert(!new java.io.File(s"$dir/tomb").exists(), dir)
    val hUps = Seq(
      hdocs((0L, "alpha beta", Seq(1f, 0f), "u"), (1L, "beta gamma", Seq(0f, 1f), "u")),
      hdocs((2L, "alpha alpha", Seq(0.9f, 0.1f), "u"), (3L, "gamma gamma", Seq(0.1f, 0.9f), "u")))
    val hybPlain = new HybridIndexState(s"$work/hyb_plain", nQueries = 2)
    val hybUps = new HybridIndexState(s"$work/hyb_ups", nQueries = 2, retractions = true)
    hUps.zipWithIndex.foreach { case (b, i) =>
      hybPlain.merge(b.drop("op"), i.toLong); hybUps.merge(b, i.toLong) }
    noTomb(s"$work/hyb_plain")
    assert(hybPlain.report(spark).collect().toSeq == hybUps.report(spark).collect().toSeq)

    val cUps = Seq(cdocs((1L, "a b c d", "u"), (5L, "b c d e", "u")),
      cdocs((9L, "a b c d e", "u")))
    val cfPlain = new CorpusFilterState(s"$work/cf_plain", threshold = 0.5)
    val cfUps = new CorpusFilterState(s"$work/cf_ups", threshold = 0.5, retractions = true)
    cUps.zipWithIndex.foreach { case (b, i) =>
      cfPlain.merge(b.drop("op"), i.toLong); cfUps.merge(b, i.toLong) }
    noTomb(s"$work/cf_plain")
    assert(cfPlain.storeNames == Seq("bands", "sets", "pairs", "meta"))
    val cfPlainReport = cfPlain.report(spark, 0.0, Seq("en", "und")).collect().toSeq
    assert(cfPlainReport == cfUps.report(spark, 0.0, Seq("en", "und")).collect().toSeq)
    assert(cfPlainReport.map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("dedup_kept")).toMap
      == Map(1L -> true, 5L -> false, 9L -> false))

    val dUps = Seq(ddocs((1L, "w x", "en", "u"), (2L, "x y", "fr", "u")),
      ddocs((3L, "y z", "en", "u")))
    val dsPlain = new DsirGridState(s"$work/dsir_plain")
    val dsUps = new DsirGridState(s"$work/dsir_ups", retractions = true)
    dUps.zipWithIndex.foreach { case (b, i) =>
      dsPlain.merge(b.drop("op"), i.toLong); dsUps.merge(b, i.toLong) }
    noTomb(s"$work/dsir_plain")
    assert(dsPlain.report(spark).collect().toSeq == dsUps.report(spark).collect().toSeq)
  }

  test("compaction crash-safety: pre-marker crash discards staging; post-marker crash redoes install") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.streaming.{DsirGridState, StreamUtil}
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_compcrash_")
    def ddocs(rows: (Long, String, String, String)*) =
      rows.toSeq.toDF("doc_id", "text", "lang", "op")
    def freshState(dir: String): DsirGridState = {
      val st = new DsirGridState(dir, retractions = true)
      st.merge(ddocs((1L, "w x", "en", "u"), (2L, "x y", "fr", "u")), 0)
      st.merge(ddocs((3L, "y z", "en", "u"), (2L, "x y", "fr", "d")), 1)
      st
    }
    val want = freshState(s"$work/ref").report(spark).collect().toSeq

    // Crash AFTER the rewrite but BEFORE the marker: the staging dir
    // is discarded at the next construction, live state untouched,
    // and a re-issued compact() completes normally.
    val pre = freshState(s"$work/pre")
    StreamUtil.stageCompaction(s"$work/pre", 1L, pre.compactionStores(spark))
    assert(new java.io.File(s"$work/pre/_compact").exists())
    val pre2 = new DsirGridState(s"$work/pre", retractions = true) // "restart"
    assert(!new java.io.File(s"$work/pre/_compact").exists())
    assert(deltaDirs(s"$work/pre/grid") == Set("batch=0", "batch=1")) // untouched
    assert(pre2.report(spark).collect().toSeq == want)
    pre2.compact(spark)
    assert(pre2.report(spark).collect().toSeq == want)

    // Crash AFTER the marker but BEFORE the install: the next
    // construction REDOES the install idempotently.
    val post = freshState(s"$work/post")
    StreamUtil.stageCompaction(s"$work/post", 1L, post.compactionStores(spark))
    assert(new java.io.File(s"$work/post/_compact.COMMIT").createNewFile())
    val post2 = new DsirGridState(s"$work/post", retractions = true) // "restart"
    assert(!new java.io.File(s"$work/post/_compact").exists())
    assert(!new java.io.File(s"$work/post/_compact.COMMIT").exists())
    assert(deltaDirs(s"$work/post/grid") == Set("batch=1")) // installed
    assert(spark.read.parquet(s"$work/post/grid").filter(col("doc_id") === 2L).count() == 0)
    assert(post2.report(spark).collect().toSeq == want)
    // and ingest continues: batch ids above the boundary still merge
    post2.merge(ddocs((4L, "z z", "en", "u")), 2)
    assert(post2.report(spark).collect().exists(_.getAs[Long]("doc_id") == 4L))
  }

  test("stream_corpus_filter_compacted / stream_dsir_compacted / stream_hybrid_rrf_compacted equal their tombstone faces") {
    assert(rows("stream_corpus_filter_compacted") == rows("stream_corpus_filter_tombstone"))
    assert(rows("stream_dsir_compacted") == rows("stream_dsir_tombstone"))
    assert(rows("stream_hybrid_rrf_compacted") == rows("stream_hybrid_rrf_tombstone"))
  }

  test("stream_semantic_clusters_ivf equals batch semantic_clusters_ivf (same sized cells)") {
    assert(rows("stream_semantic_clusters_ivf") == rows("semantic_clusters_ivf"))
  }

  test("stream_dsir_tombstone equals batch dsir_importance over the live corpus") {
    import org.apache.spark.sql.functions.col
    val live = GraftCaches.trackTempDir("graft_dsirtomb_live_")
    graft.sources.Tables.documents(spark, sf)
      .filter(!(col("doc_id") % 7 === 3))
      .write.mode("overwrite").parquet(s"$live/documents.parquet")
    val expected = operators.CorpusQa.dsirImportance(spark, live).collect().toSeq
    val got = rows("stream_dsir_tombstone")
    assert(got == expected)
    assert(!got.exists(_.getAs[Long]("doc_id") % 7 == 3))
  }

  test("markov attribution state: journey truncation across batches, replay guard, resume") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.MarkovAttrState
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_mattrspec_")
    def batch(rows: (Long, Long, String, String)*) =
      rows.toSeq.toDF("user_id", "event_id", "tss", "event_type")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    def report(s: MarkovAttrState) = s.report(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    val state = new MarkovAttrState(s"$work/state")
    // batch 0: u1 view->click, u2 view
    state.merge(batch((1L, 1L, "2024-01-01 10:00:00", "view"),
      (1L, 2L, "2024-01-01 10:01:00", "click"),
      (2L, 3L, "2024-01-01 11:00:00", "view")), 0)
    // batch 1: u1 converts; u2 errors; a post-purchase u1 view must be cut
    state.merge(batch((1L, 4L, "2024-01-02 10:00:00", "purchase"),
      (1L, 5L, "2024-01-02 10:05:00", "view"),
      (2L, 6L, "2024-01-02 11:00:00", "error")), 1)
    // the hand-computed chain of the batch spec: p(START) = 1/2,
    // removing click or view kills conversion, error changes nothing
    val want = Seq(("click", 500000L, 0L), ("error", 500000L, 500000L),
      ("signup", 500000L, 500000L), ("view", 500000L, 0L))
    assert(report(state) == want)
    // replay of batch 1 is a no-op
    state.merge(batch((1L, 4L, "2024-01-02 10:00:00", "purchase")), 1)
    assert(report(state) == want)
    // crash-resume: fresh instance recovers the version; a post-
    // conversion u1 event in batch 2 is dropped (journey closed)
    val resumed = new MarkovAttrState(s"$work/state")
    resumed.merge(batch((1L, 7L, "2024-01-03 10:00:00", "view")), 2)
    assert(report(resumed) == want)
  }

  // --- crash injection: a state write killed at any instant ---

  /** A committed version dir's commit marker, as the helper writes it. */
  private def marked(dir: String): Boolean = new java.io.File(dir, "_COMMIT").exists()

  /** What a killed driver leaves in a version dir it had started:
    * only the output committer's `_temporary/` tree. */
  private def plantTemporaryOnly(dir: String): Unit = {
    val t = new java.io.File(s"$dir/_temporary/0/_temporary/attempt_0")
    assert(t.mkdirs())
    assert(new java.io.File(t, "part-00000.snappy.parquet").createNewFile())
  }

  /** Copies the version dir `from` to `to`, by default minus its
    * commit marker: a store write that had fully landed when the
    * driver died before committing it. */
  private def copyVersion(from: String, to: String, marker: Boolean = false): Unit = {
    import java.nio.file.{Files => JFiles, Paths}
    JFiles.createDirectories(Paths.get(to))
    new java.io.File(from).listFiles()
      .filter(f => marker || !f.getName.contains("_COMMIT"))
      .foreach(f => JFiles.copy(f.toPath, Paths.get(to, f.getName)))
  }

  test("versioned state helper: crashed writes in both layouts recover to the last commit and replay") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.StreamUtil
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_crash_helper_")
    val ddl = "k BIGINT, n BIGINT"
    def part(b: Long) = Seq((b, b + 1), (b + 10, 2 * b + 1)).toDF("k", "n")
    /** An accumulation in either layout: `a` holds each batch's rows;
      * the delta-append layout adds a second store, `b`, of their
      * doubled counts (the rewrite layout has one store). */
    final class Accum(dir: String, delta: Boolean) {
      val stores = if (delta) Seq("a", "b") else Seq("a")
      val st = new StreamUtil.VersionedState(dir, if (delta) stores else Nil)
      def at(b: Long, s: String): String = if (delta) st.at(b, s) else st.at(b)
      def prior(s: String) = if (delta) st.prior(spark, ddl, s) else st.prior(spark, ddl)
      def merge(b: Long): Unit = st.commit(b) {
        // a rewrite carries the prior version forward; a delta holds
        // only the batch's own rows
        def next(df: org.apache.spark.sql.DataFrame, s: String) =
          if (delta) df else prior(s).unionByName(df)
        next(part(b), "a").coalesce(1).write.parquet(at(b, "a"))
        if (delta) part(b).select(col("k"), (col("n") * 2).as("n"))
          .coalesce(1).write.parquet(at(b, "b"))
      }
      def report: Seq[(Long, Long)] =
        stores.flatMap(s => prior(s).orderBy("k").as[(Long, Long)].collect().toSeq)
    }
    for (delta <- Seq(false, true)) {
      val clean = new Accum(s"$work/clean_$delta", delta)
      (0L to 3L).foreach(clean.merge)
      val want = clean.report
      assert(want.size == 8 * clean.stores.size)
      val dir = s"$work/crash_$delta"
      val st = new Accum(dir, delta)
      st.merge(0); st.merge(1)
      // batch 2 dies mid-commit: the write of `a` lands, then the
      // body fails — the helper names the state dir and batch
      val err = intercept[java.io.IOException](st.st.commit(2) {
        part(2).coalesce(1).write.parquet(st.at(2, "a"))
        throw new IllegalStateException("executor lost")
      })
      assert(err.getMessage.contains(dir) && err.getMessage.contains("batch 2"), err.getMessage)
      assert(err.getCause.getMessage == "executor lost")
      assert(st.st.version == 1L)
      // and planted on top of it: a `_temporary`-only dir (delta: the
      // `b` store of the same batch; rewrite: the next version, `v3`)
      val planted = if (delta) st.at(2, "b") else st.at(3, "a")
      plantTemporaryOnly(planted)
      val restarted = new Accum(dir, delta)
      assert(restarted.st.version == 1L)
      (st.stores.map(st.at(2, _)) :+ planted).foreach(p => assert(!new java.io.File(p).exists()))
      (2L to 3L).foreach(restarted.merge)
      restarted.merge(1) // a replay at or below the commit is a no-op
      assert(restarted.report == want, s"delta=$delta")
      if (!delta) assert(new java.io.File(dir).list().sorted.toSeq == Seq("v3"))
    }
    // a store named on the rewrite layout is refused, not ignored
    intercept[IllegalArgumentException](new StreamUtil.VersionedState(s"$work/named").at(0, "a"))
    // a rewrite-layout `v<N>` holding data files but no marker
    val single = s"$work/single"
    def sum(st: StreamUtil.VersionedState, b: Long): Unit = st.commit(b) {
      st.prior(spark, ddl).unionByName(part(b))
        .groupBy("k").sum("n").toDF("k", "n").coalesce(1).write.parquet(st.at(b))
    }
    val ref = new StreamUtil.VersionedState(s"$work/single_ref")
    (0L to 2L).foreach(sum(ref, _))
    val s1 = new StreamUtil.VersionedState(single)
    sum(s1, 0)
    copyVersion(ref.at(2), s1.at(1)) // wrong rows, well-formed parquet
    val s2 = new StreamUtil.VersionedState(single)
    assert(s2.version == 0L)
    (1L to 2L).foreach(sum(s2, _))
    assert(s2.prior(spark, ddl).orderBy("k").collect().toSeq ==
      ref.prior(spark, ddl).orderBy("k").collect().toSeq)
  }

  test("crash injection: leaderboard state recovers a _temporary-only version and replays the batch") {
    import graft.streaming.EngagementStream.LeaderboardState
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_crash_lb_")
    val b0 = Seq((1L, 2.5), (2L, 1.0), (1L, 0.5)).toDF("user_id", "value")
    val b1 = Seq((2L, 4.0), (3L, 1.5)).toDF("user_id", "value")
    val clean = new LeaderboardState(s"$work/clean")
    clean.merge(b0, 0); clean.merge(b1, 1)
    val want = clean.topN(spark).collect().toSeq
    assert(want.size == 3)
    val lb = new LeaderboardState(s"$work/crash")
    lb.merge(b0, 0)
    // batch 1's delta write killed: delta/batch=1 holds only `_temporary/`
    plantTemporaryOnly(s"$work/crash/delta/batch=1")
    val restarted = new LeaderboardState(s"$work/crash")
    restarted.merge(b1, 1)
    assert(restarted.topN(spark).collect().toSeq == want)
    assert(marked(s"$work/crash/delta/batch=1") && marked(s"$work/crash/delta/batch=0"))
  }

  test("crash injection: CDC compaction with deletes drops an unmarked version and re-merges") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.CdcCompact
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_crash_cdc_")
    def batch(rows: (Long, Long, String, String, Double, String)*) =
      rows.toSeq.toDF("user_id", "event_id", "tss", "event_type", "value", "op")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    val b0 = batch((1L, 1L, "2024-01-01 10:00:00", "view", 1.0, "upsert"),
      (2L, 2L, "2024-01-01 10:01:00", "click", 2.0, "upsert"),
      (3L, 3L, "2024-01-01 10:02:00", "view", 3.0, "upsert"))
    val b1 = batch((2L, 4L, "2024-01-02 10:00:00", "error", 0.0, "delete"),
      (3L, 5L, "2024-01-02 10:01:00", "purchase", 9.0, "upsert"),
      (4L, 6L, "2024-01-02 10:02:00", "view", 1.0, "upsert"))
    def live(c: CdcCompact) = c.live(spark).orderBy("user_id").collect().toSeq
    val clean = new CdcCompact(s"$work/clean")
    clean.merge(b0, 0); clean.merge(b1, 1)
    val want = live(clean)
    assert(want.map(_.getAs[Long]("user_id")) == Seq(1L, 3L, 4L))
    val cdc = new CdcCompact(s"$work/crash")
    cdc.merge(b0, 0)
    // batch 1's v1 had its data files written — here the batch-0
    // table's, a well-formed but wrong version — and no marker
    copyVersion(s"$work/crash/v0", s"$work/crash/v1")
    val restarted = new CdcCompact(s"$work/crash")
    assert(restarted.committedVersion == 0L)
    restarted.merge(b1, 1)
    assert(restarted.committedVersion == 1L)
    assert(live(restarted) == want)
  }

  test("crash injection: corpus filter state replays a batch whose meta delta was half-written") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.streaming.CorpusFilterState
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_crash_cf_")
    def docs(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("s").as("source"), lit(0L).as("n_chars"))
    val b0 = docs((1L, "a b c d"), (2L, "p q r s"))
    val b1 = docs((5L, "b c d e"), (9L, "a b c d e"), (7L, "w x y z"))
    def report(st: CorpusFilterState) =
      st.report(spark, 0.0, Seq("en", "und")).orderBy("doc_id").collect().toSeq
    val clean = new CorpusFilterState(s"$work/clean", threshold = 0.5)
    clean.merge(b0, 0); clean.merge(b1, 1)
    val want = report(clean)
    assert(want.map(_.getAs[Long]("doc_id")) == Seq(1L, 2L, 5L, 7L, 9L))
    val st = new CorpusFilterState(s"$work/crash", threshold = 0.5)
    st.merge(b0, 0)
    // batch 1: bands, sets and pairs landed in full and the driver
    // died while marking them (only bands got its marker); meta/batch=1
    // was cut off after one doc's verdict
    Seq("bands", "sets", "pairs").foreach(s => copyVersion(
      s"$work/clean/$s/batch=1", s"$work/crash/$s/batch=1", marker = s == "bands"))
    spark.read.parquet(s"$work/clean/meta/batch=1").filter(col("doc_id") === 5L)
      .write.parquet(s"$work/crash/meta/batch=1")
    val restarted = new CorpusFilterState(s"$work/crash", threshold = 0.5)
    restarted.merge(b1, 1)
    assert(report(restarted) == want)
    Seq("bands", "sets", "pairs", "meta").foreach(s =>
      assert(marked(s"$work/crash/$s/batch=1"), s))
  }

  // --- additive state: per-batch deltas, folded past a bound ---

  /** A per-key sum and max over `(k, n, top)` batches. */
  private def additive(dir: String) = new graft.streaming.StreamUtil.AdditiveState(dir,
    "k BIGINT, n BIGINT, top BIGINT", Seq("k"),
    graft.streaming.StreamUtil.sums("n") :+
      ("top" -> (org.apache.spark.sql.functions.max(_: org.apache.spark.sql.Column))))

  private def additiveBatch(b: Long) = {
    import spark.implicits._
    Seq((b % 3, b + 1, b), (7L, 1L, -b)).toDF("k", "n", "top")
  }

  private def additiveRows(st: graft.streaming.StreamUtil.AdditiveState) =
    st.read(spark).orderBy("k").collect().toSeq

  test("additive state: a delta killed mid-write is discarded and its batch replays") {
    val work = GraftCaches.trackTempDir("graft_crash_add_")
    val clean = additive(s"$work/clean")
    (0L to 3L).foreach(b => clean.merge(b)(additiveBatch(b)))
    val want = additiveRows(clean)
    val st = additive(s"$work/crash")
    (0L to 1L).foreach(b => st.merge(b)(additiveBatch(b)))
    // batch 2's delta landed with batch 3's rows (well-formed, wrong)
    // and no marker; batch 3's holds only `_temporary/`
    copyVersion(s"$work/clean/delta/batch=3", s"$work/crash/delta/batch=2")
    plantTemporaryOnly(s"$work/crash/delta/batch=3")
    val restarted = additive(s"$work/crash")
    assert(restarted.version == 1L)
    assert(deltaDirs(s"$work/crash/delta") == Set("batch=0", "batch=1"))
    restarted.merge(1)(sys.error("a replayed batch's partial is never evaluated"))
    (2L to 3L).foreach(b => restarted.merge(b)(additiveBatch(b)))
    assert(additiveRows(restarted) == want)
    assert(deltaDirs(s"$work/crash/delta").forall(d => marked(s"$work/crash/delta/$d")))
  }

  test("additive state: a compaction killed before its commit marker leaves the live deltas") {
    import graft.streaming.StreamUtil
    val dir = GraftCaches.trackTempDir("graft_crash_addstage_") + "/state"
    val st = additive(dir)
    (0L to 3L).foreach(b => st.merge(b)(additiveBatch(b)))
    val want = additiveRows(st)
    StreamUtil.stageCompaction(dir, st.version, Seq(("delta", st.read(spark), Seq("k"))))
    assert(marked(s"$dir/_compact/delta/batch=3"))
    val restarted = additive(dir)
    assert(!new java.io.File(s"$dir/_compact").exists())
    assert(deltaDirs(s"$dir/delta") == (0 to 3).map(b => s"batch=$b").toSet)
    assert(additiveRows(restarted) == want)
  }

  test("additive state: a compaction killed after its commit marker is installed on restart") {
    import graft.streaming.StreamUtil
    val work = GraftCaches.trackTempDir("graft_crash_addinst_")
    val dir = s"$work/state"
    val st = additive(dir)
    (0L to 3L).foreach(b => st.merge(b)(additiveBatch(b)))
    val want = additiveRows(st)
    StreamUtil.stageCompaction(dir, st.version, Seq(("delta", st.read(spark), Seq("k"))))
    assert(new java.io.File(s"$dir/_compact.COMMIT").createNewFile())
    val restarted = additive(dir)
    assert(deltaDirs(s"$dir/delta") == Set("batch=3") && marked(s"$dir/delta/batch=3"))
    assert(!new java.io.File(s"$dir/_compact").exists())
    assert(!new java.io.File(s"$dir/_compact.COMMIT").exists())
    assert(restarted.version == 3L)
    assert(additiveRows(restarted) == want)
    // the installed delta carries on like any other
    val clean = additive(s"$work/clean")
    (0L to 4L).foreach(b => clean.merge(b)(additiveBatch(b)))
    restarted.merge(4)(additiveBatch(4))
    assert(additiveRows(restarted) == additiveRows(clean))
  }

  test("additive state: more than the bound's worth of deltas fold into one, read unchanged") {
    import org.apache.spark.sql.functions.{max, sum}
    import graft.streaming.StreamUtil
    val dir = GraftCaches.trackTempDir("graft_addfold_") + "/state"
    val n = StreamUtil.MaxAdditiveDeltas.toLong
    def want(upTo: Long) = (0L to upTo).map(additiveBatch).reduce(_ unionByName _)
      .groupBy("k").agg(sum("n").as("n"), max("top").as("top")).orderBy("k").collect().toSeq
    val st = additive(dir)
    (0L until n).foreach(b => st.merge(b)(additiveBatch(b)))
    assert(deltaDirs(s"$dir/delta").size == n, "at the bound nothing folds")
    st.merge(n)(additiveBatch(n))
    assert(deltaDirs(s"$dir/delta") == Set(s"batch=$n"))
    assert(additiveRows(st) == want(n))
    // a restarted state counts the folded delta as one
    val restarted = additive(dir)
    (n + 1 until 2 * n).foreach(b => restarted.merge(b)(additiveBatch(b)))
    assert(deltaDirs(s"$dir/delta").size == n)
    restarted.merge(2 * n)(additiveBatch(2 * n))
    assert(deltaDirs(s"$dir/delta") == Set(s"batch=${2 * n}"))
    assert(additiveRows(restarted) == want(2 * n))
  }

  test("moments state: a read whose sumsq_c overflows fails loudly") {
    import graft.streaming.{MomentsState, StreamUtil}
    import spark.implicits._
    // 2.3e7 is 2.3e9 cents, whose square (5.29e18) fits a Long: each
    // batch's sumsq_c does, the two batches' sum does not
    def batch(v: Double) = Seq(("x", v)).toDF("event_type", "value")
    def messages(t: Throwable) =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try for (mode <- Seq("false", "true")) {
      spark.conf.set("spark.sql.ansi.enabled", mode)
      val state = new MomentsState(GraftCaches.trackTempDir("graft_momovf_") + "/state")
      state.merge(batch(2.3e7), 0)
      state.merge(batch(2.3e7), 1)
      val msg = messages(intercept[Exception](state.report(spark).collect()))
      if (mode == "true") assert(msg.contains("ARITHMETIC_OVERFLOW"), msg)
      else {
        // the sum wraps silently; the state's own guard names the type
        assert(msg.contains("MomentsState Long overflow for event_type=x"), msg)
        // and the fold past the delta bound reads through the same guard
        (2L until StreamUtil.MaxAdditiveDeltas.toLong).foreach(b => state.merge(batch(1.0), b))
        val fold = messages(intercept[Exception](
          state.merge(batch(1.0), StreamUtil.MaxAdditiveDeltas.toLong)))
        assert(fold.contains("MomentsState Long overflow for event_type=x"), fold)
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  // --- multi-store additive state: one version over several stores ---

  /** Per-key sums and the distinct key set, two stores of one state. */
  private def twoStore(dir: String) = {
    import graft.streaming.StreamUtil
    new StreamUtil.AdditiveState(dir, Seq(
      StreamUtil.AdditiveState.Store("sums", "k BIGINT, n BIGINT", Seq("k"), StreamUtil.sums("n")),
      StreamUtil.AdditiveState.Store("keys", "k BIGINT", Seq("k"), Nil)))
  }

  private def twoStoreMerge(st: graft.streaming.StreamUtil.AdditiveState, b: Long): Unit =
    st.mergeStores(b) {
      val p = additiveBatch(b)
      Map("sums" -> p.select("k", "n"), "keys" -> p.select("k"))
    }

  private def twoStoreRows(st: graft.streaming.StreamUtil.AdditiveState) =
    Seq("sums", "keys").map(s => st.read(spark, s).orderBy("k").collect().toSeq)

  test("multi-store additive state: a batch landed in one store only is dropped in both and replays") {
    val work = GraftCaches.trackTempDir("graft_crash_multi_")
    val clean = twoStore(s"$work/clean")
    (0L to 3L).foreach(twoStoreMerge(clean, _))
    val want = twoStoreRows(clean)
    val st = twoStore(s"$work/crash")
    (0L to 1L).foreach(twoStoreMerge(st, _))
    // batch 2: `sums` landed with its marker, `keys` holds only `_temporary/`
    copyVersion(s"$work/clean/sums/batch=2", s"$work/crash/sums/batch=2", marker = true)
    plantTemporaryOnly(s"$work/crash/keys/batch=2")
    val restarted = twoStore(s"$work/crash")
    assert(restarted.version == 1L)
    Seq("sums", "keys").foreach(s =>
      assert(deltaDirs(s"$work/crash/$s") == Set("batch=0", "batch=1"), s))
    (2L to 3L).foreach(twoStoreMerge(restarted, _))
    assert(twoStoreRows(restarted) == want)
  }

  test("multi-store additive state: a frontier committed without its pairs replays against the prior frontier") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.TransitionState
    import spark.implicits._
    val work = GraftCaches.trackTempDir("graft_crash_trans_")
    def batch(rows: (Long, Long, String, String)*) =
      rows.toSeq.toDF("user_id", "event_id", "tss", "event_type")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    val batches = Seq(
      batch((1L, 1L, "2024-01-01 10:00:00", "view"), (2L, 2L, "2024-01-01 10:01:00", "click")),
      batch((1L, 3L, "2024-01-02 10:00:00", "click"), (2L, 4L, "2024-01-02 10:01:00", "purchase")),
      batch((1L, 5L, "2024-01-03 10:00:00", "purchase"), (1L, 6L, "2024-01-03 10:05:00", "view"),
        (2L, 7L, "2024-01-03 10:01:00", "view")))
    def report(s: TransitionState) = s.report(spark).collect().map(_.toString).sorted.toSeq
    val clean = new TransitionState(s"$work/clean")
    batches.zipWithIndex.foreach { case (b, i) => clean.merge(b, i.toLong) }
    val want = report(clean)
    val st = new TransitionState(s"$work/crash")
    batches.take(2).zipWithIndex.foreach { case (b, i) => st.merge(b, i.toLong) }
    // batch 2: the frontier's delta committed, the pairs' landed unmarked
    copyVersion(s"$work/clean/last/batch=2", s"$work/crash/last/batch=2", marker = true)
    copyVersion(s"$work/clean/pairs/batch=2", s"$work/crash/pairs/batch=2")
    val restarted = new TransitionState(s"$work/crash")
    Seq("last", "pairs").foreach(s =>
      assert(!new java.io.File(s"$work/crash/$s/batch=2").exists(), s))
    // the replay stitches batch 2 against batch 1's frontier, not its own
    restarted.merge(batches(2), 2L)
    assert(report(restarted) == want)
  }

  test("multi-store additive state: more than the bound's worth of batches fold every store, read unchanged") {
    import org.apache.spark.sql.functions.sum
    import graft.streaming.StreamUtil
    val dir = GraftCaches.trackTempDir("graft_multifold_") + "/state"
    val n = StreamUtil.MaxAdditiveDeltas.toLong
    def want(upTo: Long) = {
      val all = (0L to upTo).map(additiveBatch).reduce(_ unionByName _)
      Seq(all.groupBy("k").agg(sum("n").as("n")), all.select("k").distinct())
        .map(_.orderBy("k").collect().toSeq)
    }
    val st = twoStore(dir)
    (0L until n).foreach(twoStoreMerge(st, _))
    Seq("sums", "keys").foreach(s => assert(deltaDirs(s"$dir/$s").size == n, s))
    assert(twoStoreRows(st) == want(n - 1))
    twoStoreMerge(st, n)
    Seq("sums", "keys").foreach { s =>
      assert(deltaDirs(s"$dir/$s") == Set(s"batch=$n"), s)
      assert(marked(s"$dir/$s/batch=$n"), s)
    }
    assert(twoStoreRows(st) == want(n))
  }
}
