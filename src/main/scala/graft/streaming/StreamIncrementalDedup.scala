package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling}
import graft.sources.Tables

/** Ingest-time dedup screening: a STREAM of new documents is checked
  * against the existing corpus as it arrives — the streaming face of
  * [[graft.operators.Dedup.dedupIncremental]], and what a crawl
  * pipeline actually runs (documents flow in; each micro-batch gets
  * exact + near-dup verdicts against the warehouse before landing).
  *
  * Per micro-batch, `foreachBatch` runs the SAME screening core as
  * the batch operator ([[Dedup.screenBatch]]) and appends the
  * verdicts to a parquet sink. No cross-batch state is needed —
  * verdicts are against the static corpus, so micro-batch boundaries
  * cannot change any answer and the drained stream equals the batch
  * result row-for-row (same DuckDB oracle). The corpus-side
  * signature table is memoized once and reused by every micro-batch:
  * index the warehouse once, screen each delivery.
  *
  * (Screening against corpus + ALL PRIOR batches would add a
  * foreachBatch MERGE of each batch's signatures into the index —
  * the [[CdcCompact]] pattern; the reference semantics replayed here
  * are corpus-only.)
  */
object StreamIncrementalDedup {

  /** Stage the batch slice (`hv >= 100-batchPct`) of documents as
    * `nFiles` parquet files so the file source delivers real
    * incremental micro-batches. */
  private def stageBatchDocs(spark: SparkSession, dir: String, out: String,
                             nFiles: Int, batchPct: Int, salt: String): Unit = {
    val hv = Sampling.splitHash(col("doc_id"), salt) % 100
    Tables.documents(spark, dir)
      .filter(hv >= 100 - batchPct)
      .select(col("doc_id"), col("text"))
      .repartition(nFiles)
      .write.mode("overwrite").parquet(out)
  }

  /** Queries entry: drain the staged document stream through the
    * screening core, then read back all verdicts (oracle: same SQL as
    * `dedup_incremental`). */
  def streamDedupIncremental(spark: SparkSession, dir: String, nFiles: Int = 4,
                             threshold: Double = 0.5, batchPct: Int = 20,
                             salt: String = "graft"): DataFrame = {
    val work = graft.GraftCaches.trackTempDir("graft_incdedup_")
    stageBatchDocs(spark, dir, s"$work/input", nFiles, batchPct, salt)

    StreamSources.runForeachBatch(
      // micro-batch = one staged file
      StreamSources.parquetStream(spark, s"$work/input", maxFilesPerTrigger = 1),
      (batch, batchId) =>
        // one partition dir per micro-batch, overwritten on replay —
        // a re-run batch replaces its own output instead of
        // append-duplicating it (idempotent without a commit log)
        Dedup.screenBatch(batch.sparkSession, dir, batch.toDF(), threshold, batchPct, salt = salt)
          .write.mode("overwrite").parquet(s"$work/out/batch_id=$batchId"))
    spark.read.parquet(s"$work/out").drop("batch_id").orderBy(col("doc_id"))
  }
}
