package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming upsert/changelog compaction — the Structured Streaming
  * analog of the reference's CDC relay
  * (`/root/reference/src/ingest.py:34-56`: postgres-cdc →
  * upsert-kafka keyed by id, where the topic IS the latest-per-key
  * table).
  *
  * Each micro-batch is MERGEd into a compacted parquet table inside
  * `foreachBatch`: union the previous compacted state with the new
  * batch, keep the latest row per key by (ts, event_id), write the
  * new version, drop the old one. The compacted table is
  * latest-per-key at every version boundary, and after the stream
  * drains it equals the batch
  * [[graft.operators.Engagement.cdcLatestByKey]] — which is exactly
  * what the correctness gate checks (same DuckDB oracle). It
  * compacts whatever columns the batch carries: callers project the
  * columns they want kept.
  *
  * DELETE semantics: the reference's changelog carries row-kinds —
  * postgres-cdc emits WAL deletes (`ingest.py:21-31`) and every
  * reference sink filters kinds (`process.py:45-46, 84-85, 98-99`).
  * Here a batch may carry an `op` column (`upsert` | `delete`).
  * Tombstones are RETAINED in the compacted state (with their
  * timestamp) so an out-of-order older upsert arriving in a later
  * micro-batch cannot resurrect a deleted key; [[live]] is the
  * read-side view with tombstoned keys dropped — the same
  * retain-then-filter design as log-compacted topics and LSM stores.
  *
  * ADDITIVE schema drift — the day-2 reality of any changelog
  * pipeline: a Postgres `ALTER TABLE ADD COLUMN` flows through
  * pgoutput/Debezium and from one batch to the next the changelog
  * rows carry a column the compacted state has never seen. The
  * reference's relay would redeploy its ingest with the new schema
  * and keep the same compacted topic; here the restart is a SECOND
  * stream (new reader, wider schema) continuing into the SAME state
  * directory. Alignment rule = Postgres ADD COLUMN semantics: rows
  * written before the DDL read NULL in the new column. On merge, the
  * column set is the UNION of state and batch schemas (state's order
  * first, new columns appended); either side back-fills its missing
  * columns with typed NULLs — an identity `select` when the schemas
  * agree. Dropping or retyping a column is NOT handled — a
  * destructive DDL is a pipeline redeploy with a state rebuild, not
  * something to guess at silently (same posture as Delta's
  * schema-enforcement-with-additive-evolution default).
  *
  * Replay guard across restarts: a restarted stream starts batchIds
  * back at 0, so the committed version is `(epoch << 40) | batchId` —
  * each deploy gets an epoch (0 for a single deploy, whose versions
  * are then its batch ids) and the guard keeps exactly-once within
  * AND across deploys (the crash-resume spec replays both). The
  * 40-bit stride bounds a deploy at 2⁴⁰ ≈ 10¹² micro-batches (a
  * 1-second trigger for 34,000 years) before epochs could overlap,
  * and 2²³ epochs (one per deploy) before the Long sign bit.
  *
  * Scale: state size is O(distinct keys), not O(stream length); the
  * merge shuffles only the compacted table + the new batch on the
  * key. At warehouse scale the same `merge` body targets a format
  * with real MERGE INTO (Delta/Iceberg) instead of
  * versioned-directory swaps, and tombstones age out after a
  * retention horizon.
  *
  * It is the one state left on the rewrite layout. Last-write-wins
  * with retained tombstones IS a per-key struct max, but an
  * [[StreamUtil.AdditiveState]] would cost two things: between folds
  * up to [[StreamUtil.MaxAdditiveDeltas]] deltas of superseded
  * upserts stay on disk where `engagement_stream` keeps one compacted
  * table; and the additive schema drift above needs the table's
  * inferred schema, which a store's fixed `ddl` cannot hold.
  */
final class CdcCompact(stateDir: String) {
  /** Recovered on construction so a restarted job (new instance, same
    * state dir + checkpoint) continues from the last committed
    * version instead of silently dropping prior state. */
  private val state = new StreamUtil.VersionedState(stateDir)

  /** The last fully-committed version — the recovery-derived
    * high-water mark [[JdbcCdcPoll]] resumes its tail from. */
  private[graft] def committedVersion: Long = state.version

  private def latestPerKey(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** foreachBatch body of a single deploy: [[merge]] in epoch 0. */
  def merge(batch: Dataset[Row], batchId: Long): Unit = merge(0L)(batch, batchId)

  /** Merges batch `batchId` of deploy `epoch` as version
    * `(epoch << 40) | batchId`. Exactly-once under replay: a version
    * at or below the committed one was fully merged before the crash,
    * so [[StreamUtil.VersionedState.commit]] skips it (re-merging
    * would also have Spark read and overwrite the same `v<N>` path in
    * one job, which fails); a batch whose write was cut off left no
    * commit marker, so recovery discarded it and it merges again. */
  def merge(epoch: Long)(batch: Dataset[Row], batchId: Long): Unit = {
    val v = (epoch << 40) | batchId
    state.commit(v) {
      val incoming = batch.toDF()
      val merged =
        if (state.version < 0) latestPerKey(incoming)
        else {
          val prior = table(batch.sparkSession)
          val fields = prior.schema.fields ++
            incoming.schema.fields.filterNot(f => prior.columns.contains(f.name))
          def align(df: DataFrame): DataFrame =
            df.select(fields.toSeq.map { f =>
              if (df.columns.contains(f.name)) col(f.name)
              else lit(null).cast(f.dataType).as(f.name)
            }: _*)
          latestPerKey(align(prior).unionByName(align(incoming)))
        }
      merged.write.mode("overwrite").parquet(state.at(v))
    }
  }

  /** The compacted table at the current version — latest row per key
    * INCLUDING tombstones (the physical state). Each `v<N>` is written
    * whole by one job, so its files share one schema. */
  def table(spark: SparkSession): DataFrame =
    spark.read.parquet(state.at(state.version))

  /** The live view: where the table has an `op` column, keys whose
    * latest row is a delete are dropped and `op` is hidden; otherwise
    * it is [[table]]. */
  def live(spark: SparkSession): DataFrame = {
    val t = table(spark)
    if (t.columns.contains("op")) t.filter(col("op") =!= "delete").drop("op") else t
  }
}

object CdcCompact {

  private val keep = Seq("user_id", "event_id", "ts", "event_type", "value").map(col)

  /** The events table staged as `nFiles` files and replayed one per
    * micro-batch ([[StreamSources.staged]]), projected to `cols`, into
    * a [[CdcCompact]] drained once per recipe. */
  private def drainedEvents(spark: SparkSession, dir: String, nFiles: Int,
                            prefix: String, cols: Column*): CdcCompact =
    StreamUtil.drained(spark, prefix, dir, nFiles)(work =>
      StreamSources.staged(graft.sources.Tables.events(spark, dir), nFiles, work)
        .select(cols: _*), new CdcCompact(_))(_.merge)

  /** Queries entry: run the compaction over a multi-batch replay of
    * the events table and return the final compacted table (oracle:
    * same SQL as `cdc_latest_by_key`). */
  def streamCdcCompact(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    drainedEvents(spark, dir, nFiles, "graft_cdc_", keep: _*)
      .table(spark).orderBy(col("user_id"))

  /** Queries entry: the same replay with changelog row-kinds (the
    * derived `op` of [[graft.operators.Engagement.opExpr]]) — keys
    * whose latest change is a delete vanish from the live view
    * (oracle: latest-per-key where the winner is an upsert). */
  def streamCdcWithDeletes(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    drainedEvents(spark, dir, nFiles, "graft_cdcdel_",
      keep :+ graft.operators.Engagement.opExpr(col("event_type")).as("op"): _*)
      .live(spark).orderBy(col("user_id"))

  /** Queries entry: CDC compaction across an additive schema-drift
    * boundary. The events log is split at min(ts)+15 days — the
    * moment the upstream `ALTER TABLE ADD COLUMN plan` lands — into
    * a pre-DDL deploy (5 columns, 2 files) and a post-DDL deploy
    * (6 columns, 2 files, `plan` derived deterministically from
    * event_id so DuckDB can reproduce it). Both deploys stream into
    * ONE [[CdcCompact]] state, epochs 0 and 1; the final compacted
    * table is latest-per-key where keys whose winner predates the DDL
    * read NULL plan (oracle: `cdc_latest_by_key` SQL extended with
    * the same CASE). */
  def streamCdcSchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.GraftCaches.trackTempDir("graft_cdcdrift_")
    val base = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val cutTs = base.agg((min(col("ts")) + expr("INTERVAL 15 DAYS")).as("t"))
      .head().getTimestamp(0)
    base.filter(col("ts") < lit(cutTs))
      .repartition(2).write.mode("overwrite").parquet(s"$work/pre")
    base.filter(col("ts") >= lit(cutTs))
      .withColumn("plan", concat(lit("plan_"), pmod(col("event_id"), lit(3L))))
      .repartition(2).write.mode("overwrite").parquet(s"$work/post")
    val cdc = new CdcCompact(s"$work/state")
    StreamSources.runForeachBatch(
      StreamSources.eventsFrom(spark, s"$work/pre", maxFilesPerTrigger = 1)
        .select(keep: _*),
      cdc.merge(0))
    StreamSources.runForeachBatch(
      StreamSources.eventsFrom(spark, s"$work/post", maxFilesPerTrigger = 1,
        extraCols = Seq("plan")).select(keep :+ col("plan"): _*),
      cdc.merge(1))
    cdc.table(spark).orderBy(col("user_id"))
  }

  /** Queries entry: streaming SCD2 maintenance — the type-2 member
    * of this CDC family (CdcCompact keeps only the live row; this
    * keeps the versioned history): each micro-batch is applied to
    * the stored dimension through
    * [[graft.operators.Engagement.scd2ApplyTransform]] — the SAME
    * incremental operator a nightly batch MERGE runs — under a
    * time-ordered replay. Repeated apply over ordered batches equals
    * the full-log rebuild (apply is associative on time-split
    * batches), so the oracle is `cdc_scd2`'s full-log SQL. */
  def streamScd2(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_scd2_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new Scd2State(_))(_.merge)
      .table(spark)
}

/** SCD2 dimension state: `merge` IS the batch incremental operator
  * ([[graft.operators.Engagement.scd2ApplyTransform]]) applied per
  * micro-batch — stream/batch parity by the strongest form of shared
  * code (the stream twin has NO derivation of its own).
  *
  * Two [[StreamUtil.AdditiveState]] stores: `closed`, the distinct
  * closed version rows, keyed `(user_id, version)`; and `open`, per
  * user the current row, `max(struct(version, …))`. The partial
  * applies the batch to the committed `open` rows of the batch's
  * users only — closing a version appends it to `closed`, and the new
  * current row supersedes the old by its higher version — so a batch
  * writes what it touched, not the whole history. */
final class Scd2State(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    StreamUtil.AdditiveState.Store("closed", "user_id BIGINT, version BIGINT, state STRING, " +
      "valid_from TIMESTAMP, valid_to TIMESTAMP, is_current BOOLEAN", Seq("user_id", "version"), Nil),
    StreamUtil.AdditiveState.Store("open",
      "user_id BIGINT, open STRUCT<version: BIGINT, state: STRING, valid_from: TIMESTAMP>",
      Seq("user_id"), StreamUtil.maxes("open"))))

  /** The current rows in the dimension's row shape. */
  private def open(spark: SparkSession): DataFrame = state.read(spark, "open")
    .select(col("user_id"), col("open.version").as("version"), col("open.state").as("state"),
      col("open.valid_from").as("valid_from"), lit(null).cast("timestamp").as("valid_to"),
      lit(true).as("is_current"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    val touched = open(batch.sparkSession)
      .join(batch.select(col("user_id")).distinct(), Seq("user_id"), "left_semi")
    val next = graft.operators.Engagement.scd2ApplyTransform(touched, batch.toDF())
    Map("closed" -> next.filter(!col("is_current")),
      "open" -> next.filter(col("is_current")).select(col("user_id"),
        struct(col("version"), col("state"), col("valid_from")).as("open")))
  }

  def table(spark: SparkSession): DataFrame =
    state.read(spark, "closed").unionByName(open(spark)).orderBy(col("user_id"), col("version"))
}
