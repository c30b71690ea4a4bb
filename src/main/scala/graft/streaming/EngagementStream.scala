package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StructType}

import graft.operators.{Engagement, Router}
import graft.sources.Tables

/** The reference pipeline's streaming identity, on Structured
  * Streaming: `/root/reference/src/process.py:117-210` reads an
  * upsert-kafka changelog, enriches via a temporal lookup join,
  * aggregates HOP windows, and fans out to three sinks
  * (ClickHouse / Redis leaderboard / external HTTP) with per-sink
  * filtering (`process.py:43-115`).
  *
  * Spark-first re-expression: the SAME transform functions the batch
  * operators use ([[Engagement.hopAggTransform]],
  * [[Engagement.enrichTransform]]) run over `readStream` inputs —
  * stream/batch parity is by construction, and the correctness gate
  * checks the streaming results against the batch DuckDB oracles.
  * Event-time + watermark replaces the reference's processing time
  * (deterministic, replayable); `foreachBatch` materializes each
  * micro-batch once ([[FanoutSinks]]) and feeds all three sinks from
  * it, instead of running three independent streaming queries over
  * the same input.
  */
object EngagementStream {

  /** SURVEY §2 #9: HOP-window aggregation through the real streaming
    * engine (readStream → watermark → window → memory sink,
    * AvailableNow). Complete mode emits every window, matching the
    * batch oracle exactly. */
  def streamHopAgg(spark: SparkSession, dir: String): DataFrame =
    StreamSources.runToMemory(
      Engagement.hopAggTransform(
        StreamSources.events(spark, dir).withWatermark("ts", "1 hour")),
      OutputMode.Complete())
      .orderBy(col("w_start"), col("event_type"))

  /** SURVEY §2 #9a: TUMBLE-window aggregation through the real
    * streaming engine — same shared transform as the batch twin, so
    * parity is by construction; Complete mode emits every window
    * against the batch oracle. */
  def streamTumbleAgg(spark: SparkSession, dir: String): DataFrame =
    StreamSources.runToMemory(
      Engagement.tumbleAggTransform(
        StreamSources.events(spark, dir).withWatermark("ts", "1 hour")),
      OutputMode.Complete())
      .orderBy(col("w_start"), col("event_type"))

  /** TUMBLE aggregation over the JSON-LINES stream source — the same
    * shared transform as `stream_tumble_agg`, but the events arrive
    * through `readStream.json` (explicit schema, µs-pinned
    * timestampFormat): proves the engine's windowed state behaves
    * identically whatever wire format feeds it (oracle: same SQL as
    * `tumble_window_agg`). */
  def streamTumbleJsonl(spark: SparkSession, dir: String): DataFrame =
    StreamSources.runToMemory(
      Engagement.tumbleAggTransform(
        StreamSources.eventsJsonl(spark, dir).withWatermark("ts", "1 hour")),
      OutputMode.Complete())
      .orderBy(col("w_start"), col("event_type"))

  /** SURVEY §2 #6b: the bounded-heap top-k aggregate
    * ([[graft.functions.BoundedTopK]]) driven through the streaming
    * engine — the custom TypedImperativeAggregate's buffers
    * serialize through the state store across micro-batches exactly
    * like the built-in sketches, proving the operator is
    * streaming-safe, not batch-only. Complete mode re-emits the
    * final leaderboard; ranks are derived post-sink. */
  def streamTopkPerGroup(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    Engagement.topkExplode(
      StreamSources.runToMemory(
        Engagement.topkAggTransform(
          StreamSources.events(spark, dir).withWatermark("ts", "1 hour"), k),
        OutputMode.Complete()))

  /** SURVEY §2 #9b: the 100 TB mode for #9 — the same
    * [[Engagement.hopAggTransform]] in APPEND output with
    * watermark-closed windows. Complete mode (#9) re-emits every
    * window each trigger and never evicts state, which is what the
    * batch-oracle comparison needs but NOT what an unbounded feed can
    * run: state grows with all history. Append emits each window
    * exactly once — when the watermark (max event time − delay)
    * passes its end — and the state store drops it at that moment, so
    * state holds only the open windows regardless of stream age, and
    * rows later than the watermark are dropped instead of reopening
    * closed windows (eviction + late-drop are spec-asserted in
    * StreamingOperatorsSpec).
    *
    * Determinism for the oracle: a single-file AvailableNow replay is
    * one data micro-batch (nothing is ever late) plus a no-data
    * finalization batch, so the result is exactly the batch HOP rows
    * whose window end ≤ max(ts) − delay. The 47-minute delay is
    * deliberately NOT a multiple of the 5-minute slide, keeping the
    * watermark off the window grid so the ≤/< boundary cannot bite. */
  def streamHopAppend(spark: SparkSession, dir: String,
                      delay: String = "47 minutes"): DataFrame =
    StreamSources.runToMemory(
      Engagement.hopAggTransform(
        StreamSources.events(spark, dir).withWatermark("ts", delay)),
      OutputMode.Append())
      .orderBy(col("w_start"), col("event_type"))

  /** SURVEY §2 #9c: [[streamHopAppend]]'s tumbling twin — the shared
    * [[Engagement.tumbleAggTransform]] in Append mode with
    * watermark-closed hourly windows (same eviction/late-drop
    * semantics, proven by the hop specs; the 47-minute delay is off
    * the 1-hour grid for the same boundary-safety reason). */
  def streamTumbleAppend(spark: SparkSession, dir: String,
                         delay: String = "47 minutes"): DataFrame =
    StreamSources.runToMemory(
      Engagement.tumbleAggTransform(
        StreamSources.events(spark, dir).withWatermark("ts", delay)),
      OutputMode.Append())
      .orderBy(col("w_start"), col("event_type"))

  /** SURVEY §2 #10: dimension enrichment as a stream-static broadcast
    * join (the Spark analog of the reference's
    * `FOR SYSTEM_TIME AS OF` lookup join, process.py:163-183) —
    * per-row dimension lookup with zero shuffle of the stream. */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame =
    StreamSources.runToMemory(
      Engagement.enrichTransform(
        StreamSources.events(spark, dir), Tables.customer(spark, dir)),
      OutputMode.Append())
      .orderBy(col("event_id"))

  /** Stream-stream interval join (click→purchase attribution): each
    * purchase joins the same user's clicks from the preceding 30
    * minutes. The missing-operator class next to windowed aggs and
    * stateful dedup: BOTH sides are unbounded, so the engine buffers
    * each side in keyed state and the event-time range condition +
    * watermarks bound how long a click can wait for its purchase —
    * state is evicted once the watermark passes click_ts + 30 min.
    * That bound is exactly what makes a stream-stream join viable on
    * an unbounded 100 TB/day feed; without the range condition state
    * grows forever. Inner join ⇒ Append mode emits matches
    * immediately. */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = StreamSources.events(spark, dir)
    val clicks = base.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user")
        && col("purchase_ts") >= col("click_ts")
        && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))
    StreamSources.runToMemory(joined, OutputMode.Append())
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** LEFT OUTER stream-stream interval join — the attribution shape
    * Flink deployments actually run (reference process.py routes
    * un-converted engagement too): every click emits, matched
    * purchases immediately (inner semantics), and clicks with NO
    * purchase in the 30-minute window emit null-padded — but only
    * once the watermark passes `click_ts + 30 min`, because until
    * then a matching purchase could still arrive. That is the state
    * clock: the engine buffers a click exactly until its match
    * window is provably closed, then emits-and-evicts, so state
    * stays bounded by the interval + watermark delay on an unbounded
    * feed (asserted quantitatively in the streaming spec).
    *
    * Determinism for the oracle: the global watermark is
    * `min(max click_ts, max purchase_ts) − 1 h` (Spark's default
    * `multipleWatermarkPolicy = min` over the two inputs); after the
    * AvailableNow finalization batch the emitted rows are exactly
    * (all matched pairs) ∪ (unmatched clicks with
    * `click_ts + 30 min < watermark`). Unmatched clicks younger than
    * that stay in state and are NOT emitted — the oracle applies the
    * same cut. */
  def streamIntervalJoinLeft(spark: SparkSession, dir: String): DataFrame =
    StreamSources.runToMemory(intervalJoinLeftPlan(spark, dir), OutputMode.Append())
      .orderBy(col("click_id"), col("purchase_id"))

  /** The un-run streaming plan behind [[streamIntervalJoinLeft]] —
    * exposed so the state-eviction spec can drive it through
    * [[StreamSources.runToMemoryWithProgress]] and read the join's
    * state-store metrics. */
  private[graft] def intervalJoinLeftPlan(spark: SparkSession, dir: String): DataFrame = {
    val base = StreamSources.events(spark, dir)
    val clicks = base.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user")
        && col("purchase_ts") >= col("click_ts")
        && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "leftOuter")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Cumulative leaderboard state (the Redis ZINCRBY analog,
    * process.py:79-95): per micro-batch, the partial per-user scores
    * are committed as one delta ([[StreamUtil.AdditiveState]]) and
    * summed at read — the raw stream is never re-read, and a batch
    * neither reads nor rewrites the scoreboard. */
  final class LeaderboardState(stateDir: String) {
    private val state = new StreamUtil.AdditiveState(stateDir,
      "user_id BIGINT, raw_score DOUBLE, n_events BIGINT", Seq("user_id"),
      StreamUtil.sums("raw_score", "n_events"))

    def merge(batchEvents: DataFrame, batchId: Long): Unit = state.merge(batchId) {
      batchEvents.groupBy(col("user_id"))
        .agg(sum(col("value")).as("raw_score"), count("*").as("n_events"))
    }

    /** Top-N view over the current scoreboard — same shape as the
      * batch [[Engagement.leaderboardTopN]]. */
    def topN(spark: SparkSession, n: Int = 10): DataFrame =
      // rank-after-limit via the window-free array-rank projection
      // (see Engagement.rankTopN) — no global-window WARN.
      Engagement.rankTopN(
        state.read(spark)
          .orderBy(col("raw_score").desc, col("user_id"))
          .limit(n))
  }

  /** The three sinks of process.py's fan-out behind one `merge`:
    * each micro-batch is persisted ONCE and written to
    * (1) an enriched-events analytics store (ClickHouse analog),
    * (2) the cumulative leaderboard (Redis analog), and
    * (3) per-route partitions (the external/multi-destination
    * analog, via [[Router.writeRouted]]),
    * under `outDir`'s `enriched/`, `leaderboard/` and `routed/`. */
  final class FanoutSinks(customer: DataFrame, val outDir: String) {
    val leaderboard = new LeaderboardState(s"$outDir/leaderboard")

    def merge(batch: DataFrame, batchId: Long): Unit = {
      // three sinks read the batch: without the persist each one
      // re-scans the micro-batch from its source files
      batch.persist()
      try {
        Engagement.enrichTransform(batch, customer)
          .write.mode("append").parquet(s"$outDir/enriched")
        leaderboard.merge(batch, batchId)
        Router.writeRouted(batch, s"$outDir/routed", mode = "append")
      } finally batch.unpersist()
    }
  }

  /** End-to-end fan-out of the events stream into [[FanoutSinks]]
    * under `outDir`; returns the drained leaderboard. */
  def runFanout(spark: SparkSession, dir: String, outDir: String): LeaderboardState = {
    val sinks = new FanoutSinks(Tables.customer(spark, dir), outDir)
    StreamSources.runForeachBatch(StreamSources.events(spark, dir), sinks.merge)
    sinks.leaderboard
  }

  /** The fan-out of `dir`, drained once ([[StreamUtil.drained]]) and
    * shared by the routed-counts and leaderboard faces (and specs). */
  def fanout(spark: SparkSession, dir: String): FanoutSinks =
    StreamUtil.drained(spark, "graft_fanout_", dir)(
      _ => StreamSources.events(spark, dir), new FanoutSinks(Tables.customer(spark, dir), _))(
      _.merge)

  /** SURVEY §2 #7's streaming variant: multi-sink routing driven
    * through the real engine; returns per-route counts read back from
    * the physical routed partitions (same oracle as `event_router`). */
  def streamRouter(spark: SparkSession, dir: String): DataFrame =
    Router.routedCounts(spark, s"${fanout(spark, dir).outDir}/routed")

  /** Leaderboard after the full stream has been consumed — equal to
    * the batch top-N (same oracle as `leaderboard_topn`). */
  def streamLeaderboard(spark: SparkSession, dir: String): DataFrame =
    fanout(spark, dir).leaderboard.topN(spark)
}

private[graft] object StreamUtil {

  /** Committed drains, one per (session, recipe) — see [[drained]]. */
  private val drains = graft.GraftCaches.memo[(SparkSession, Seq[Any]), Any](_ => ())

  /** A streaming state drained ONCE per recipe and shared by its
    * report faces — the paper's fan-out (materialize once, feed every
    * sink) applied to the query registry: the faces are reads over one
    * committed state, so each face of a recipe reads the same drain
    * instead of replaying the same input into a private copy.
    *
    * The recipe is `prefix` (the temp-dir prefix; one per state kind
    * and recipe shape) plus every argument that changes the staged
    * input or the state: the input dir, file count, session gap,
    * thresholds. On a miss it creates a tracked temp dir `work`, stages
    * and opens the stream `input(work)`, builds `state(s"$work/state")`,
    * runs `merge` over every micro-batch to completion and keeps the
    * committed state. [[graft.GraftCaches.clearAll]] drops the memo
    * and deletes the dir together, so a face called after a clear
    * drains again (the bench clears between queries, so every bench
    * timing still pays a full drain). A drain that throws is not
    * kept. */
  def drained[S](spark: SparkSession, prefix: String, recipe: Any*)(
      input: String => DataFrame, state: String => S)(
      merge: S => (Dataset[Row], Long) => Unit): S =
    drains.getOrElseUpdate((spark, prefix +: recipe)) {
      val work = graft.GraftCaches.trackTempDir(prefix)
      val stream = input(work)
      val s = state(s"$work/state")
      StreamSources.runForeachBatch(stream, merge(s))
      s
    }.asInstanceOf[S]

  /** Run INDEPENDENT Spark actions concurrently from driver threads
    * (optimization guide §2.6 "overlap independent jobs"): a state
    * that writes several stores per batch used to submit each write
    * job sequentially, so every job's tail (last task + commit +
    * planning of the next) left the executor idle. The actions here
    * are only grouped when no ordering constraint exists between
    * them. Crash/replay semantics are unchanged: an exception in any
    * action propagates out of the [[VersionedState.commit]] body, so
    * the batch's commit markers are never created and recovery
    * discards whatever subset of stores had landed. Fresh threads per
    * call: Spark's job-local properties are InheritableThreadLocal,
    * so each action keeps the calling (micro-batch) thread's
    * description/pool. */
  def inParallel(actions: (() => Unit)*): Unit =
    if (actions.sizeIs <= 1) actions.foreach(_())
    else {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = actions.map(a => new Thread(() =>
        try a() catch { case t: Throwable => errs.add(t) }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      if (!errs.isEmpty) throw errs.peek()
    }

  /** Hadoop conf for state-dir I/O that runs OUTSIDE a foreachBatch
    * (version recovery at construction): the session's conf when one
    * is live — carrying its object-store credentials/settings — else
    * the default conf (core-site.xml). */
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** State dirs go through the Hadoop FileSystem API, so they work on
    * any supported store (HDFS, S3A, local), not just
    * `java.io.File`'s local view. */
  private def fs(dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(hadoopConf)

  /** The versioned-state writer for state whose row count grows with
    * a data-scale entity (users, sessions, items, vocabulary, CDC
    * keys): the write is hash-sharded on the state key, so a
    * 1000-executor deployment rewrites state through
    * |shuffle.partitions| tasks instead of one — at 1B users a
    * single-task rewrite is tens of GB through one core every
    * micro-batch (the round-8 verdict flagged 48 `coalesce(1)` state
    * writes as that bottleneck). The repartition keys equal the
    * merge's own grouping/join keys, so the exchange is satisfied by
    * the child's existing hash partitioning in the common case (no
    * extra shuffle), and AQE right-sizes the partition count when the
    * state is small. Readers are directory-scoped
    * (`spark.read.parquet(dir)`) and unchanged; report hashes are
    * file-layout-independent. */
  def writeSharded(df: DataFrame, path: String, keys: Seq[String]): Unit =
    df.repartition(keys.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** ONE just-written delta (a [[VersionedState.at]] path), read back
    * — the probe side of an incremental screen re-reads the parquet
    * it wrote moments ago instead of recomputing the (expensive)
    * expressions that produced it: the plan becomes a scan, the
    * kernel runs once per batch instead of once per join side. */
  def readDeltaAt(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(StructType.fromDDL(ddl)).parquet(path)

  /** The retractions of a corpus index on the delta-append layout —
    * the CDC tombstone discipline ([[CdcCompact]] 10a' semantics) as
    * one store, `tomb`, of retracted doc_ids. An index built WITH
    * RETRACTIONS (`enabled`) reads changelog batches whose rows carry
    * an `op` row-kind: 'u' rows are its upserts, 'd' rows append their
    * doc_id to `tomb`, and every serving read drops the tombstoned
    * docs. Built without, it adds no store, no write and no mask, and
    * its batches carry no `op`. Delete-wins: a tombstone removes its
    * doc whatever the arrival order, so the stores stay order-free. */
  final class Tombstones(enabled: Boolean) {
    /** The store it adds to the index's [[VersionedState]]. */
    val stores: Seq[String] = if (enabled) Seq("tomb") else Nil

    private def tomb(spark: SparkSession, state: VersionedState): DataFrame =
      state.prior(spark, "doc_id BIGINT", "tomb")

    /** A batch's upsert rows, `op` dropped. */
    def upserts(batch: DataFrame): DataFrame =
      if (enabled) batch.filter(col("op") === "u").drop("op") else batch

    /** The write of batch `batchId`'s tombstones — the distinct doc_ids
      * of its 'd' rows — as an [[inParallel]] action. */
    def write(state: VersionedState, batchId: Long, batch: DataFrame): Seq[() => Unit] =
      if (!enabled) Nil
      else Seq(() => writeSharded(batch.filter(col("op") === "d").select(col("doc_id")).distinct(),
        state.at(batchId, "tomb"), Seq("doc_id")))

    /** `rows` minus every row whose `keys` columns name a tombstoned
      * doc_id: one left-anti join per key column, so a pair-graph row
      * (`Seq("doc_a", "doc_b")`) goes when EITHER endpoint is dead.
      * The serving read of a retractable index, and so also what its
      * compaction writes. */
    def live(spark: SparkSession, state: VersionedState, rows: DataFrame,
             keys: Seq[String]): DataFrame =
      if (!enabled) rows
      else {
        val t = tomb(spark, state)
        keys.foldLeft(rows)((r, k) => r.join(t.select(col("doc_id").as(k)), Seq(k), "left_anti"))
      }

    /** The `tomb` store truncated to an empty delta, as a
      * [[VersionedState.compact]] store: compacting the serving reads
      * has applied every tombstone. */
    def truncated(spark: SparkSession, state: VersionedState): Seq[(String, DataFrame, Seq[String])] =
      if (!enabled) Nil else Seq(("tomb", tomb(spark, state).limit(0), Seq("doc_id")))
  }

  /** Converged min-label tables of the pair-graph states, one per
    * (session, state dir, version): the propagation core persists each
    * one, and the memo puts its release under
    * [[graft.GraftCaches.clearAll]]. */
  private[streaming] val labelsCache =
    graft.GraftCaches.memo[(SparkSession, String, Long), DataFrame](_.unpersist())

  /** Zero-byte file whose atomic create commits one store's write of
    * one version. `_`-prefixed, so Spark's readers skip it like
    * `_SUCCESS`. */
  private val CommitMarker = "_COMMIT"

  /** The streaming state protocol, written once: recovery, the
    * replayed-batch guard, the prior-state read, commit and pruning
    * for every state class. Two layouts:
    *
    *  - versioned rewrite (`deltaStores` empty): each batch rewrites
    *    the whole state as one store, `v<N>`, and the prior version is
    *    deleted once `v<N>` has committed — for states whose merge is
    *    not a commutative per-key combine of deltas: a DFA fold
    *    ([[DfaState]]) and last-write-wins with deletes
    *    ([[CdcCompact]], [[Scd2State]]);
    *  - delta-append (`deltaStores` = the store names): each batch
    *    appends only its own partial as `<dir>/<store>/batch=<N>`,
    *    and readers union every delta with
    *    `batch <= version`. Corpus-scale accumulations use this (the
    *    rewrite layout would re-write the whole index every batch,
    *    quadratic write volume over the stream's lifetime), and so
    *    does every per-key additive state, frontiers and multi-store
    *    states included, through [[AdditiveState]].
    *
    * COMMIT RULE: version N counts as committed only once [[commit]]
    * has atomically created its `_COMMIT` marker(s) — `v<N>/_COMMIT`,
    * or `<store>/batch=<N>/_COMMIT` in every store — which it does
    * after every store write of the batch has returned (the same
    * atomic create-if-absent step as compaction's `_compact.COMMIT`).
    * A driver killed at any instant, mid-job included, therefore
    * leaves either a committed version or dirs with no (or not all)
    * markers. Recovery, at construction only, first settles an
    * interrupted compaction, then adopts the highest version marked
    * in every store and deletes (and logs) every version dir above
    * it — and, in the rewrite layout, the superseded ones below it.
    * The replay of the lost batch then passes the `v <= version`
    * guard and rewrites it. Per batch the protocol costs one marker
    * create per store plus the prior-version delete; reads never
    * probe markers.
    *
    * Versions are caller-supplied ids — the batch id, or any id
    * increasing across the state's lifetime
    * ([[CdcCompact]]'s `(epoch << 40) | batchId`). */
  final class VersionedState(dir: String, deltaStores: Seq[String] = Nil) {
    private val delta = deltaStores.nonEmpty

    private def storeDir(store: String) = s"$dir/$store"

    /** Where version `v` of `store` is written (and read); the
      * rewrite layout has one unnamed store. */
    def at(v: Long, store: String = ""): String =
      if (delta) s"${storeDir(store)}/batch=$v"
      else {
        require(store.isEmpty, s"state $dir: the rewrite layout has no store $store")
        s"$dir/v$v"
      }

    private def markers(v: Long): Seq[org.apache.hadoop.fs.Path] =
      (if (delta) deltaStores.map(at(v, _)) else Seq(at(v)))
        .map(p => new org.apache.hadoop.fs.Path(p, CommitMarker))

    @volatile private var committed: Long = recover()

    /** The last committed version, -1 before the first commit. */
    def version: Long = committed

    private def recover(): Long = {
      val f = fs(dir)
      if (delta) {
        if (f.exists(compactMarker(dir))) installCompaction(dir, deltaStores)
        else f.delete(new org.apache.hadoop.fs.Path(compactStaging(dir)), true)
      }
      val (pattern, prefix) = if (delta) ("batch=\\d+", 6) else ("v\\d+", 1)
      val listed = (if (delta) deltaStores.map(storeDir) else Seq(dir)).map { s =>
        val p = new org.apache.hadoop.fs.Path(s)
        if (!f.exists(p)) Seq.empty[(Long, org.apache.hadoop.fs.Path)]
        else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
          .collect { case d if d.getName.matches(pattern) => d.getName.drop(prefix).toLong -> d }
          .sortBy(-_._1)
      }
      val v = listed.map(_.find { case (_, d) =>
        f.exists(new org.apache.hadoop.fs.Path(d, CommitMarker)) }.fold(-1L)(_._1)).min
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      listed.flatten.filter { case (n, _) => n > v || (!delta && n < v) }.foreach { case (n, d) =>
        log.warn(s"state $dir: recovery at committed version $v deletes " +
          s"${if (n > v) "uncommitted" else "superseded"} $d")
        f.delete(d, true)
      }
      v
    }

    /** The committed state of `store`: its `v<version>` dir, or the
      * union of its committed deltas; the empty frame of `ddl` before
      * the first commit. Delta reads take `ddl` as their EXPLICIT
      * schema (plus the `batch` partition column), not inferred: a
      * compacted store's truncated tombstone delta holds no parquet,
      * which schema inference cannot read — and on a store with
      * thousands of deltas the footer sampling is wasted listing work
      * anyway. */
    def prior(spark: SparkSession, ddl: String, store: String = ""): DataFrame =
      if (committed < 0) spark.createDataFrame(java.util.List.of[Row](), StructType.fromDDL(ddl))
      else if (!delta) spark.read.parquet(at(committed, store))
      else spark.read
        .schema(StructType.fromDDL(ddl).add("batch", LongType))
        .parquet(storeDir(store))
        .filter(col("batch") <= committed)
        .drop("batch")

    /** Commits version `v`: a replayed `v` at or below [[version]] is
      * skipped (the guard that makes a merge effectively-once);
      * otherwise `write` must write every store of `v` to its [[at]]
      * path, reading the prior state through [[prior]]. Once it has
      * returned the markers are created, the version advances and, in
      * the rewrite layout, the prior version is deleted. A failing
      * write is rethrown naming the state dir and version. */
    def commit(v: Long)(write: => Unit): Unit = if (v > committed) {
      try write catch {
        case scala.util.control.NonFatal(e) => throw new java.io.IOException(
          s"state write failed: state dir $dir, batch $v: ${e.getMessage}", e)
      }
      val f = fs(dir)
      markers(v).foreach(f.create(_, false).close())
      val prev = committed
      committed = v
      if (!delta && prev >= 0) f.delete(new org.apache.hadoop.fs.Path(at(prev)), true)
    }

    /** Tombstone compaction for the delta-append layout: rewrite each
      * store minus its tombstones as ONE delta at the committed
      * version and truncate the tombstone store — the compaction
      * every tombstone serving state documents ("until a compaction
      * rewrites the delta stores minus tombstones"): without it the
      * dead index entries accrue forever and every later batch probes
      * them for work that serving will mask anyway.
      *
      * `stores` = (name, masked-content, shard keys) per store; the
      * masked content MUST be exactly what the state's own report
      * already reads (a retractable index passes its serving reads,
      * [[Tombstones.live]]), so the report is identical before and
      * after by construction. Protocol, in the order the
      * crash-safety argument needs:
      *
      *  1. REWRITE: each store's masked union is written, with its
      *     commit marker, under `_compact/<name>/batch=<version>` —
      *     the live stores are only READ. A crash here leaves live
      *     state untouched; recovery discards the orphaned staging
      *     dir.
      *  2. COMMIT: one atomic marker-file create (`_compact.COMMIT`).
      *     This is the single instant the compacted state becomes the
      *     state of record.
      *  3. INSTALL: per store, delete the live dir and rename the
      *     staged dir into place; then drop the marker + staging
      *     root. Idempotent per store (a store whose staging dir is
      *     gone was installed before the crash), so recovery REPLAYS
      *     the install from the marker — an interrupted multi-store
      *     mutation must look either never-started or fully-redoable,
      *     never half-applied.
      *
      * Readers are unchanged: each compacted store is an ordinary
      * committed delta `batch=<version>` (the truncated tombstone
      * store's is empty), so the `batch <= version` read and version
      * recovery both see it. */
    def compact(stores: Seq[(String, DataFrame, Seq[String])]): Unit =
      if (committed >= 0) {
        stageCompaction(dir, committed, stores)
        fs(dir).create(compactMarker(dir), false).close()
        installCompaction(dir, stores.map(_._1))
      }
  }

  /** The store a single-store [[AdditiveState]] commits its deltas
    * to. */
  private val AdditiveStore = "delta"

  /** Committed deltas an [[AdditiveState]] keeps before it folds them
    * into one: a read unions at most this many, and the fold costs
    * about one whole-state rewrite per this many batches. */
  val MaxAdditiveDeltas = 8

  /** `sum` as the combiner of each named measure. */
  def sums(names: String*): Seq[(String, Column => Column)] =
    names.map(_ -> (sum(_: Column)))

  /** `min` as the combiner of each named measure. */
  def mins(names: String*): Seq[(String, Column => Column)] =
    names.map(_ -> (min(_: Column)))

  /** `max` as the combiner of each named measure — of a
    * `struct(ts, event_id, …)`, the latest row per key. */
  def maxes(names: String*): Seq[(String, Column => Column)] =
    names.map(_ -> (max(_: Column)))

  object AdditiveState {
    /** One store of an [[AdditiveState]]: its deltas go to
      * `<dir>/<name>/batch=<N>`, `ddl` is its schema, and a read
      * combines its deltas per `keys` with `measures`' combiners (no
      * measures: a distinct key set; no keys: one global row). */
    final case class Store(name: String, ddl: String, keys: Seq[String],
        measures: Seq[(String, Column => Column)]) {
      private[StreamUtil] val schema = StructType.fromDDL(ddl)
    }
  }

  /** Per-key additive state — a count, sum, min, max, set or sketch
    * per key, the leaderboard's `ZINCRBY` shape — on
    * [[VersionedState]]'s delta-append layout:
    *
    *  - [[merge]] commits only the batch's partial of each store, as
    *    `<dir>/<store>/batch=<N>` under the helper's replay guard: the
    *    stores' writes overlap ([[inParallel]]) and one marker per
    *    store commits them as ONE version, so a batch costs what the
    *    batch holds, not what the state holds;
    *  - [[read]] combines a store's committed deltas with one
    *    `groupBy(keys).agg(combiners)`;
    *  - once more than [[MaxAdditiveDeltas]] deltas have committed,
    *    [[merge]] folds every store into one delta through
    *    [[VersionedState.compact]] (staged, then committed by one
    *    marker, then installed), whose content is exactly [[read]]'s.
    *
    * MULTI-STORE RULE: all stores share one version. Recovery adopts
    * the highest batch marked in EVERY store, so a batch whose writes
    * landed in some stores only is dropped in all of them and replays
    * whole.
    *
    * A partial MAY read committed state — the boundary pairs a
    * per-user frontier stitches, a funnel stage's gate. [[read]] sees
    * only `batch <= version`, and the version advances only after
    * every store of the batch is written, so a batch's own deltas are
    * invisible to its partials. The shared version is what keeps this
    * correct: were the frontier a separate state, a crash between its
    * commit and the pairs' would replay the batch against its own
    * frontier. All of a state's order dependence therefore lives in
    * its partial; the combine is order-free.
    *
    * Each store is reconciled to its `ddl` by name (`Dataset.to`), and
    * [[read]] returns its columns in that order. Each combiner (`sum`,
    * `min`, `max` — of a struct, the latest-per-key frontier —
    * `hll_union_agg(_, lit(false))`, `graft_kll_merge(_, lit(k))`)
    * must be associative and commutative: a read combines whatever
    * deltas are committed, in any grouping. */
  final class AdditiveState(dir: String, stores: Seq[AdditiveState.Store]) {
    /** A single-store state, its deltas under `<dir>/delta`. */
    def this(dir: String, ddl: String, keys: Seq[String],
        measures: Seq[(String, Column => Column)]) =
      this(dir, Seq(AdditiveState.Store(AdditiveStore, ddl, keys, measures)))

    private val state = new VersionedState(dir, stores.map(_.name))

    /** Committed deltas per store (every store holds the same
      * batches), counted once after recovery and kept by [[merge]]. */
    private var deltas: Int = {
      val store = new org.apache.hadoop.fs.Path(s"$dir/${stores.head.name}")
      val f = fs(dir)
      if (!f.exists(store)) 0
      else f.listStatus(store).count(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
    }

    /** The last committed batch, -1 before the first commit. */
    def version: Long = state.version

    /** Commits `partial` as batch `batchId`'s delta of a single-store
      * state. */
    def merge(batchId: Long)(partial: => DataFrame): Unit =
      mergeStores(batchId)(Map(stores.head.name -> partial))

    /** Commits batch `batchId`: `partials` names one partial per
      * store. A replayed batch at or below [[version]] is skipped
      * without evaluating them. */
    def mergeStores(batchId: Long)(partials: => Map[String, DataFrame]): Unit =
      if (batchId > state.version) {
        val ps = partials
        require(ps.keySet == stores.map(_.name).toSet,
          s"state $dir: partials for ${ps.keySet}, stores ${stores.map(_.name)}")
        state.commit(batchId)(inParallel(stores.map { s =>
          () => ps(s.name).to(s.schema).write.parquet(state.at(batchId, s.name))
        }: _*))
        deltas += 1
        if (deltas > MaxAdditiveDeltas) {
          val spark = ps.head._2.sparkSession
          state.compact(stores.map(s => (s.name, read(spark, s.name), s.keys)))
          deltas = 1
        }
      }

    /** The state of `store` (by default a single-store state's only
      * one): every committed delta combined per key. */
    def read(spark: SparkSession, store: String = AdditiveStore): DataFrame = {
      val s = stores.find(_.name == store)
        .getOrElse(throw new IllegalArgumentException(s"state $dir has no store $store"))
      val all = state.prior(spark, s.ddl, s.name)
      val combined = s.measures.map { case (m, combine) => combine(col(m)).as(m) } match {
        case Seq() => all.distinct()
        case aggs => all.groupBy(s.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }
      combined.select(s.schema.fieldNames.toSeq.map(col): _*)
    }
  }

  // --- Tombstone compaction steps for delta-append stores (round 13) ---

  private def compactStaging(stateDir: String) = s"$stateDir/_compact"
  private def compactMarker(stateDir: String) =
    new org.apache.hadoop.fs.Path(s"$stateDir/_compact.COMMIT")

  private[graft] def stageCompaction(stateDir: String, version: Long,
      stores: Seq[(String, DataFrame, Seq[String])]): Unit = {
    val f = fs(stateDir)
    f.delete(new org.apache.hadoop.fs.Path(compactStaging(stateDir)), true)
    // All staged rewrites run concurrently (guide §2.6): each store's
    // masked read is an independent job over a DIFFERENT live store,
    // and everything here is pre-marker — a crash mid-stage leaves
    // live state untouched and recovery discards the staging dir, no
    // matter which subset of stores had finished writing.
    val staged = stores.map { case (name, _, _) =>
      s"${compactStaging(stateDir)}/$name/batch=$version" }
    inParallel(stores.zip(staged).map { case ((_, masked, keys), path) =>
      () => writeSharded(masked, path, keys)
    }: _*)
    staged.foreach(p => f.create(new org.apache.hadoop.fs.Path(p, CommitMarker), false).close())
  }

  private def installCompaction(stateDir: String, storeNames: Seq[String]): Unit = {
    val f = fs(stateDir)
    storeNames.foreach { n =>
      val stage = new org.apache.hadoop.fs.Path(s"${compactStaging(stateDir)}/$n")
      val live = new org.apache.hadoop.fs.Path(s"$stateDir/$n")
      if (f.exists(stage)) {
        f.delete(live, true)
        if (!f.rename(stage, live))
          throw new java.io.IOException(s"compaction install: rename $stage -> $live failed")
      }
    }
    f.delete(compactMarker(stateDir), false)
    f.delete(new org.apache.hadoop.fs.Path(compactStaging(stateDir)), true)
    ()
  }
}
