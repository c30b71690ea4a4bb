package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming exact deduplication — the stateful-dedup operator class
  * (distinct from aggregation or custom state): an unbounded stream
  * of records deduplicated by key across micro-batches.
  *
  * This is the streaming face of the training-data pipeline's first
  * dedup pass ([[graft.operators.TextOps.dedupExact]]): at ingest
  * time, drop records already seen instead of paying a batch
  * re-shuffle later. Built on Spark's `dropDuplicatesWithinWatermark`
  * — first occurrence is emitted immediately; the key is held in
  * state only until the watermark passes its event time plus the
  * delay, so state is bounded by the key arrival rate × the
  * deduplication horizon (the 100 TB knob: a true global dedup keeps
  * unbounded state; a horizon turns it into a sliding guarantee).
  */
object StreamDedup {

  /** The transform itself: dedup by `event_id` within the watermark
    * horizon. */
  def dedupTransform(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** Queries entry: the events file replayed TWICE (two micro-batches
    * via maxFilesPerTrigger=1 over two copies) — the second pass is
    * 100% duplicates and must be dropped entirely by cross-batch
    * state, leaving exactly the batch `events` table (the oracle).
    * The horizon is set beyond the data's time span so the guarantee
    * is global for the replay. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.GraftCaches.trackTempDir("graft_dedup_")
    val inputDir = Paths.get(work, "input")
    Files.createDirectories(inputDir)
    val src = Paths.get(s"$dir/events.parquet")
    Files.copy(src, inputDir.resolve("000_events.parquet"))
    Files.copy(src, inputDir.resolve("001_events_replay.parquet"))
    StreamSources.stampInOrder(
      Seq("000_events.parquet", "001_events_replay.parquet").map(inputDir.resolve))

    val stream = StreamSources.eventsFrom(spark, inputDir.toString, maxFilesPerTrigger = 1)
    StreamSources.runToMemory(dedupTransform(stream, "3650 days"), OutputMode.Append())
      .orderBy(col("event_id"))
  }
}
