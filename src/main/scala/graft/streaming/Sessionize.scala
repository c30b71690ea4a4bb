package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Custom stateful sessionization via `flatMapGroupsWithState` —
  * event-time sessions with a 30-minute gap and event-time state
  * timeout.
  *
  * Spark's built-in `session_window` covers the aggregate case
  * (see [[graft.operators.Engagement.sessionWindowAgg]]); this
  * operator is the custom-state variant the reference's
  * DataStream-style jobs need when per-session logic doesn't fit an
  * aggregate (first/last event payloads, session-scoped dedup, ...).
  * Semantics match `session_window` exactly: a session extends while
  * consecutive events are < gap apart and ends at last event + gap —
  * the spec asserts output equality against the batch operator.
  *
  * State is one small [[Sessionize.Open]] summary per active user;
  * `GroupStateTimeout.EventTimeTimeout` closes sessions when the
  * watermark passes last-event + gap, so state size is bounded by
  * the number of users active within one gap — the 100 TB-stream
  * property that matters.
  */
object Sessionize {

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long, value: Double)
  case class Open(startUs: Long, lastUs: Long, n: Long, total: Double)
  case class Sess(user_id: Long, s_start: Timestamp, s_end: Timestamp,
                  n_events: Long, total: Double)

  private def toUs(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + (t.getNanos / 1000L)

  private def fromUs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos(Math.floorMod(us, 1000000L).toInt * 1000)
    t
  }

  private def round2(x: Double): Double =
    BigDecimal.valueOf(x).setScale(2, scala.math.BigDecimal.RoundingMode.HALF_UP).doubleValue

  private def emit(user: Long, o: Open, gapUs: Long): Sess =
    Sess(user, fromUs(o.startUs), fromUs(o.lastUs + gapUs), o.n, round2(o.total))

  private def fn(gapUs: Long)(
      user: Long, it: Iterator[Ev], state: GroupState[Open]): Iterator[Sess] = {
    if (state.hasTimedOut) {
      val o = state.get
      state.remove()
      Iterator.single(emit(user, o, gapUs))
    } else {
      val evs = it.toArray.sortInPlaceBy(e => (toUs(e.ts), e.event_id))
      val closed = Seq.newBuilder[Sess]
      var open = state.getOption
      evs.foreach { e =>
        val us = toUs(e.ts)
        open = open match {
          case Some(o) if us - o.lastUs < gapUs =>
            Some(Open(o.startUs, math.max(o.lastUs, us), o.n + 1, o.total + e.value))
          case Some(o) =>
            closed += emit(user, o, gapUs)
            Some(Open(us, us, 1L, e.value))
          case None =>
            Some(Open(us, us, 1L, e.value))
        }
      }
      open.foreach { o =>
        state.update(o)
        state.setTimeoutTimestamp(Math.floorDiv(o.lastUs + gapUs, 1000L))
      }
      closed.result().iterator
    }
  }

  /** The streaming sessionizer. `events` must carry
    * (user_id, ts, event_id, value). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30,
                 watermarkDelay: String = "0 seconds"): Dataset[Sess] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withWatermark("ts", watermarkDelay)
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn(gapUs))
  }

  /** Stage the events file plus two far-future sentinel files (with
    * strictly increasing mod-times) so the final watermark passes
    * every real session's timeout: batch 1 = data, batch 2 advances
    * the watermark past max(ts), batch 3 past sentinel 1. Without
    * the sentinels, sessions still open at end-of-input would stay
    * in state — the standard flush technique for replay tests of
    * event-time-timeout operators. */
  private[streaming] def stageWithSentinels(spark: SparkSession, dir: String,
                                            work: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s"$dir/events.parquet"
    val raw = spark.read.parquet(src)
    val maxTs = raw.agg(max(col("ts"))).first().get(0)
    val inputDir = Paths.get(work, "input")
    Files.createDirectories(inputDir)
    Files.copy(Paths.get(src), inputDir.resolve("000_events.parquet"))

    val schema = raw.schema
    // sentinel ts = max(ts) + 10 days, in whatever encoding the file
    // uses (int64 nanos, TIMESTAMP_NTZ, or UTC timestamp) so the
    // sentinel row round-trips through the same normalizeTs path
    val tenDaysNs = 10L * 86400L * 1000000000L
    val sentinelTs: Any = maxTs match {
      case n: java.lang.Long => n + tenDaysNs
      case t: java.time.LocalDateTime => t.plusDays(10)
      case t: java.sql.Timestamp =>
        new java.sql.Timestamp(t.getTime + 10L * 86400L * 1000L)
      case t: java.time.Instant => t.plus(java.time.Duration.ofDays(10))
      case other => throw new IllegalStateException(
        s"unexpected events.ts runtime type: ${other.getClass}")
    }
    val row = Row(-1L, sentinelTs, -1L, "sentinel", 0.0, "{}")
    val df = spark.createDataFrame(java.util.List.of(row), schema).coalesce(1)
    val stage = Paths.get(work, "stage")
    df.write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, inputDir.resolve("001_sentinel.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // the third batch only needs to EXIST to carry the watermark past
    // sentinel 1 (watermark lags one batch); a byte-identical copy of
    // the sentinel file works and saves a Spark write job
    Files.copy(inputDir.resolve("001_sentinel.parquet"),
      inputDir.resolve("002_sentinel.parquet"))
    StreamSources.stampInOrder(
      Seq("000_events.parquet", "001_sentinel.parquet", "002_sentinel.parquet").map(inputDir.resolve))
  }

  /** Queries entry: full-parity streaming sessionization (oracle:
    * same SQL as `session_window_agg`). Sentinel users (< 0) are the
    * flush mechanism, excluded from output. */
  def streamSessionAgg(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.GraftCaches.trackTempDir("graft_sess_")
    stageWithSentinels(spark, dir, work)
    val stream = StreamSources.eventsFrom(spark, s"$work/input", maxFilesPerTrigger = 1)
    StreamSources.runToMemory(sessionize(stream).toDF(), OutputMode.Append())
      .filter(col("user_id") >= 0)
      .orderBy(col("user_id"), col("s_start"))
  }
}
