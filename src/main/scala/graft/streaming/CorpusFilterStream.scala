package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextOps}

/** The end-to-end corpus keep/drop gate as a STREAM — the daily-
  * ingest shape of [[graft.operators.TextOps.corpusFilter]] (the
  * composition every cleaning stage exists for): documents arrive in
  * micro-batches; language and quality verdicts are per-doc and
  * stateless, and the near-dup verdict is maintained INCREMENTALLY —
  * each batch is LSH-screened against the accumulated signature
  * index (batch × seen + batch × batch, never seen × seen), the
  * verified pair graph accrues, and the final report re-elects
  * cluster representatives over the full pair set and runs the SAME
  * keep/drop derivation as the batch operator
  * ([[graft.operators.TextOps.corpusFilterVerdict]] — parity by
  * shared code).
  *
  * Why representatives are elected at REPORT time, not per batch: a
  * later document can bridge two earlier components (5—9 and 1—9
  * edges arriving after 5 was already "kept"), so per-doc dedup
  * verdicts are not final until the pair graph stops growing — the
  * report is the election. The per-batch work (the expensive part:
  * signatures + index probe + Jaccard verify) IS incremental; the
  * election is pair-graph-sized, not corpus-sized.
  *
  * State (the DELTA-APPEND layout of [[StreamUtil.VersionedState]] —
  * these tables grow with the CORPUS, so the versioned-rewrite
  * layout the grid states use would re-write the whole index every
  * batch, quadratic write volume over the stream's lifetime; each
  * batch appends only its own partial):
  *  - `bands` (doc_id, band, band_hash): the LSH index, equi-join
  *    probed by each batch — 32 short rows per doc;
  *  - `sets`  (doc_id, sh): shingle sets for exact verification of
  *    the candidates the index surfaces;
  *  - `pairs` (doc_a, doc_b): the verified near-dup graph — each
  *    pair surfaces in exactly one batch (its later endpoint's), so
  *    deltas never duplicate;
  *  - `meta`  (doc_id, pred_lang, quality): the stateless verdicts.
  *
  * Scale: per batch the seen index is only equi-joined on
  * (band, band_hash) — queried, never self-joined; the union of
  * per-batch pair discoveries over an id-disjoint batching equals
  * the full self-join pair set (each pair surfaces when its later
  * endpoint arrives), so the drained stream equals the batch
  * operator row-for-row and shares its oracle.
  */
final class CorpusFilterState(stateDir: String, threshold: Double) {
  private val state = new StreamUtil.VersionedState(stateDir,
    Seq("bands", "sets", "pairs", "meta"))

  private def part(spark: SparkSession, name: String, ddl: String): DataFrame =
    state.prior(spark, ddl, name)

  private def bands(spark: SparkSession) =
    part(spark, "bands", "doc_id BIGINT, band INT, band_hash BIGINT")
  private def sets(spark: SparkSession) =
    part(spark, "sets", "doc_id BIGINT, sh ARRAY<STRING>")
  private def pairs(spark: SparkSession) =
    part(spark, "pairs", "doc_a BIGINT, doc_b BIGINT")
  private def meta(spark: SparkSession) =
    part(spark, "meta", "doc_id BIGINT, pred_lang STRING, quality DOUBLE")

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.commit(batchId) {
    // the signature kernel and the verdicts each read the batch:
    // without the persist each one re-scans it from its source file
    batch.persist()
    try {
      val spark = batch.sparkSession
      val docs = batch.toDF()
      // Write the batch's signature deltas FIRST, then probe from the
      // just-written parquet: the probe joins reference the batch bands
      // twice and the batch sets twice, so probing the in-flight plan
      // recomputed the minhash/shingle kernel per reference (the
      // sigTable materialization lesson). Prior-state reads still
      // filter batch <= version (pre-commit), so the new deltas stay
      // invisible to this batch's seen-side.
      val (batchBands, batchSets) = Dedup.batchSignatures(docs)
      // bands ∥ sets: independent jobs over the same rebalanced batch
      // scan (each evaluates its own kernel either way — overlapping
      // them trades idle job-tail time, not extra work; guide §2.6).
      StreamUtil.inParallel(
        () => StreamUtil.writeSharded(batchBands, state.at(batchId, "bands"), Seq("doc_id")),
        () => StreamUtil.writeSharded(batchSets, state.at(batchId, "sets"), Seq("doc_id")))
      val newPairs = Dedup.incrementalPairsFrom(
        StreamUtil.readDeltaAt(spark, state.at(batchId, "bands"),
          "doc_id BIGINT, band INT, band_hash BIGINT"),
        StreamUtil.readDeltaAt(spark, state.at(batchId, "sets"),
          "doc_id BIGINT, sh ARRAY<STRING>"),
        bands(spark), sets(spark), threshold)
      StreamUtil.writeSharded(newPairs, state.at(batchId, "pairs"), Seq("doc_a"))
      StreamUtil.writeSharded(TextOps.langQualityTransform(docs),
        state.at(batchId, "meta"), Seq("doc_id"))
    } finally batch.unpersist()
  }

  /** The election + keep/drop report over the drained state. The
    * converged label table is persisted by the propagation core;
    * registering it in [[CorpusFilterStream.labelsCache]] keyed by
    * (state, version) puts its release under GraftCaches.clearAll
    * like every other memoized table. */
  def report(spark: SparkSession, minQuality: Double, langs: Seq[String]): DataFrame = {
    val labels = CorpusFilterStream.labelsCache
      .getOrElseUpdate((spark, stateDir, state.version)) {
        Dedup.propagateMinLabels(spark,
          pairs(spark), maxIters = 20, who = "streamCorpusFilter")
      }
    val m = meta(spark)
    val dedup = m.select(col("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("lbl"), col("doc_id")) === col("doc_id")).as("dedup_kept"))
    TextOps.corpusFilterVerdict(
      m.select(col("doc_id"), col("pred_lang")),
      m.select(col("doc_id"), col("quality")),
      dedup, minQuality, langs)
  }
}

/** [[CorpusFilterState]] WITH RETRACTIONS — the CDC tombstone
  * discipline ([[CdcCompact]] 10a' semantics, the
  * [[HybridTombstoneState]] shape) applied to the ingest gate: 'u'
  * rows run the normal incremental screen; 'd' rows delta-append the
  * doc_id to a fifth, tombstone store. Serving masks the
  * verdict table (meta anti-join tomb) and the pair graph (BOTH
  * endpoints must be live) before the representative election.
  *
  * Why endpoint masking is EXACT: a verified near-dup pair depends
  * only on its two endpoint documents (signatures → candidates →
  * Jaccard verify — no third doc enters), so the live-endpoint
  * subset of the accrued pair graph IS the pair set the batch
  * operator computes over the tombstone-compacted corpus — including
  * re-election when the retracted doc was a component's min-id
  * representative, and component SPLITS when it was the only bridge
  * (5—9—1 with 9 retracted leaves 5 and 1 kept separately, exactly
  * as batch-over-live does).
  *
  * Scale note: dead docs' bands stay in the LSH index until
  * [[compact]] rewrites the delta stores minus tombstones — later
  * batches may surface (live, dead) candidates whose verified pairs
  * are then masked at report; wasted probe work bounded by the
  * retraction rate, correctness unaffected. */
final class CorpusFilterTombstoneState(stateDir: String, threshold: Double) {
  private val state = new StreamUtil.VersionedState(stateDir,
    CorpusFilterTombstoneState.storeNames)

  private def part(spark: SparkSession, name: String, ddl: String): DataFrame =
    state.prior(spark, ddl, name)

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.commit(batchId) {
    // persisted once, like [[CorpusFilterState.merge]]'s batch: the
    // upserts' kernel, the tombstones and the verdicts all read it
    batch.persist()
    try {
      val spark = batch.sparkSession
      val docs = batch.toDF()
      val ups = docs.filter(col("op") === "u").drop("op")
      // Same write-first/probe-from-parquet restructure as
      // [[CorpusFilterState.merge]].
      val (batchBands, batchSets) = Dedup.batchSignatures(ups)
      // Same §2.6 overlap as the append-only face: bands ∥ sets, then
      // pairs ∥ tomb (independent of each other), then meta.
      StreamUtil.inParallel(
        () => StreamUtil.writeSharded(batchBands, state.at(batchId, "bands"), Seq("doc_id")),
        () => StreamUtil.writeSharded(batchSets, state.at(batchId, "sets"), Seq("doc_id")))
      val newPairs = Dedup.incrementalPairsFrom(
        StreamUtil.readDeltaAt(spark, state.at(batchId, "bands"),
          "doc_id BIGINT, band INT, band_hash BIGINT"),
        StreamUtil.readDeltaAt(spark, state.at(batchId, "sets"),
          "doc_id BIGINT, sh ARRAY<STRING>"),
        part(spark, "bands", "doc_id BIGINT, band INT, band_hash BIGINT"),
        part(spark, "sets", "doc_id BIGINT, sh ARRAY<STRING>"), threshold)
      StreamUtil.inParallel(
        () => StreamUtil.writeSharded(newPairs, state.at(batchId, "pairs"), Seq("doc_a")),
        () => StreamUtil.writeSharded(
          docs.filter(col("op") === "d").select(col("doc_id")).distinct(),
          state.at(batchId, "tomb"), Seq("doc_id")))
      StreamUtil.writeSharded(TextOps.langQualityTransform(ups),
        state.at(batchId, "meta"), Seq("doc_id"))
    } finally batch.unpersist()
  }

  def report(spark: SparkSession, minQuality: Double, langs: Seq[String]): DataFrame = {
    val tomb = part(spark, "tomb", "doc_id BIGINT")
    val livePairs = part(spark, "pairs", "doc_a BIGINT, doc_b BIGINT")
      .join(tomb.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
      .join(tomb.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti")
    val labels = CorpusFilterStream.labelsCache
      .getOrElseUpdate((spark, stateDir, state.version)) {
        Dedup.propagateMinLabels(spark, livePairs,
          maxIters = 20, who = "streamCorpusFilterTombstone")
      }
    val m = part(spark, "meta", "doc_id BIGINT, pred_lang STRING, quality DOUBLE")
      .join(tomb, Seq("doc_id"), "left_anti")
    val dedup = m.select(col("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("lbl"), col("doc_id")) === col("doc_id")).as("dedup_kept"))
    TextOps.corpusFilterVerdict(
      m.select(col("doc_id"), col("pred_lang")),
      m.select(col("doc_id"), col("quality")),
      dedup, minQuality, langs)
  }

  /** Tombstone COMPACTION (the rewrite the scale note above and the
    * round-12 verdict promise): every store minus the tombstoned docs
    * becomes ONE delta at the current version boundary, the tombstone
    * store truncates to an empty delta, and the swap commits through
    * [[StreamUtil.VersionedState.compact]]'s marker protocol (crash before the
    * marker leaves live state untouched; after it, the next
    * construction redoes the install idempotently). The masks below
    * are exactly [[report]]'s own serving masks — bands/sets/meta
    * anti-joined on doc_id, the pair graph on BOTH endpoints — so the
    * report is identical before and after by construction, and later
    * batches stop probing dead bands / re-reading dead deltas.
    *
    * Retention contract (the log-compaction horizon): a truncated
    * tombstone can no longer veto a LATER re-upsert of the same
    * doc_id — delete-wins becomes delete-wins-within-horizon, the
    * same semantics as a compacted changelog topic's tombstone
    * retention. Compact at boundaries where retractions are known to
    * precede any re-ingest of the same key. */
  def compact(spark: SparkSession): Unit =
    state.compact(compactionStores(spark))

  private[graft] def compactionStores(
      spark: SparkSession): Seq[(String, DataFrame, Seq[String])] = {
    val tomb = part(spark, "tomb", "doc_id BIGINT")
    Seq(
      ("bands", part(spark, "bands", "doc_id BIGINT, band INT, band_hash BIGINT")
        .join(tomb, Seq("doc_id"), "left_anti"), Seq("doc_id")),
      ("sets", part(spark, "sets", "doc_id BIGINT, sh ARRAY<STRING>")
        .join(tomb, Seq("doc_id"), "left_anti"), Seq("doc_id")),
      ("pairs", part(spark, "pairs", "doc_a BIGINT, doc_b BIGINT")
        .join(tomb.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
        .join(tomb.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti"),
        Seq("doc_a")),
      ("meta", part(spark, "meta", "doc_id BIGINT, pred_lang STRING, quality DOUBLE")
        .join(tomb, Seq("doc_id"), "left_anti"), Seq("doc_id")),
      ("tomb", tomb.limit(0), Seq("doc_id")))
  }
}

object CorpusFilterTombstoneState {
  private[graft] val storeNames = Seq("bands", "sets", "pairs", "meta", "tomb")
}

object CorpusFilterStream {

  private[streaming] val labelsCache =
    graft.GraftCaches.memo[(SparkSession, String, Long), DataFrame](_.unpersist())

  /** Queries entry (oracle: same SQL as `corpus_filter`): the
    * documents corpus staged as `nFiles` files and replayed one per
    * micro-batch through the incremental gate. */
  def streamCorpusFilter(spark: SparkSession, dir: String, nFiles: Int = 4,
                         minQuality: Double = 0.5, threshold: Double = 0.5,
                         langs: Seq[String] = Seq("en")): DataFrame = {
    val work = graft.GraftCaches.trackTempDir("graft_scfilter_")
    val docs = graft.sources.Tables.documents(spark, dir)
    docs.repartition(StreamSources.stagingFiles(nFiles, docs.count()))
      .write.mode("overwrite").parquet(s"$work/input")
    val state = new CorpusFilterState(s"$work/state", threshold)
    StreamSources.runForeachBatch(
      StreamSources.parquetStream(spark, s"$work/input", maxFilesPerTrigger = 1),
      state.merge)
    state.report(spark, minQuality, langs)
  }

  /** Queries entry (oracle: the corpus_filter SQL over the
    * tombstone-compacted live corpus — a `documents` CTE shadowing
    * the table): upserts for every doc plus a delete op for each doc
    * with `doc_id % 7 == 3` (the retraction slice convention of
    * `stream_hybrid_rrf_tombstone`); delete-wins semantics keep the
    * staging order-free. */
  def streamCorpusFilterTombstone(spark: SparkSession, dir: String, nFiles: Int = 4,
                                  minQuality: Double = 0.5, threshold: Double = 0.5,
                                  langs: Seq[String] = Seq("en")): DataFrame = {
    val work = graft.GraftCaches.trackTempDir("graft_scftomb_")
    val docs = graft.sources.Tables.documents(spark, dir)
    docs.withColumn("op", lit("u"))
      .unionByName(docs.filter(col("doc_id") % 7 === 3)
        .withColumn("op", lit("d")))
      .repartition(StreamSources.stagingFiles(nFiles, docs.count()))
      .write.mode("overwrite").parquet(s"$work/input")
    val state = new CorpusFilterTombstoneState(s"$work/state", threshold)
    StreamSources.runForeachBatch(
      StreamSources.parquetStream(spark, s"$work/input", maxFilesPerTrigger = 1),
      state.merge)
    state.report(spark, minQuality, langs)
  }

  /** Queries entry (oracle: `stream_corpus_filter_tombstone`'s — the
    * corpus_filter SQL over the live corpus): the tombstone gate with
    * a MID-STREAM COMPACTION, proving compaction is an operator the
    * ingest actually runs, not an offline rebuild. Phases:
    *
    *  - A (2 batches): upserts for docs with `doc_id % 3 != 2`;
    *  - B (1 batch): deletes for the already-ingested half of the
    *    retraction slice (`doc_id ≡ 3 mod 14` and `% 3 != 2`);
    *  - [[CorpusFilterTombstoneState.compact]]: B's dead
    *    bands/sets/pairs/meta are physically dropped, tombstones
    *    truncated;
    *  - C (2 batches): upserts for the remaining docs (`% 3 == 2`) —
    *    post-compaction ingest probes the COMPACTED index (live pairs
    *    with phase-A docs still surface from their retained bands;
    *    pairs with compacted-away dead docs never form, exactly what
    *    batch-over-live computes);
    *  - D (1 batch): deletes for the rest of the `% 7 == 3` slice —
    *    fresh tombstones, masked at report.
    *
    * Deletes always FOLLOW their upserts and nothing re-upserts a
    * deleted key after the compaction — the one ordering the
    * truncated-tombstone horizon requires (compact()'s retention
    * note). */
  def streamCorpusFilterCompacted(spark: SparkSession, dir: String,
                                  minQuality: Double = 0.5, threshold: Double = 0.5,
                                  langs: Seq[String] = Seq("en")): DataFrame = {
    val work = graft.GraftCaches.trackTempDir("graft_scfcomp_")
    val docs = graft.sources.Tables.documents(spark, dir)
    val state = new CorpusFilterTombstoneState(s"$work/state", threshold)
    val earlyDel = col("doc_id") % 14 === 3 && col("doc_id") % 3 =!= 2
    // phase inputs are pure functions of the source corpus — stage
    // all four upfront, writes overlapped (StreamSources.stageAll);
    // only the drains are phase-ordered
    StreamSources.stageAll(
      (docs.filter(col("doc_id") % 3 =!= 2).withColumn("op", lit("u")), s"$work/a", 2),
      (docs.filter(earlyDel).withColumn("op", lit("d")), s"$work/b", 1),
      (docs.filter(col("doc_id") % 3 === 2).withColumn("op", lit("u")), s"$work/c", 2),
      (docs.filter(col("doc_id") % 7 === 3 && !earlyDel).withColumn("op", lit("d")),
        s"$work/d", 1))
    var off = StreamSources.drainStaged(spark, s"$work/a", 0L, state.merge)
    off = StreamSources.drainStaged(spark, s"$work/b", off, state.merge)
    state.compact(spark)
    off = StreamSources.drainStaged(spark, s"$work/c", off, state.merge)
    StreamSources.drainStaged(spark, s"$work/d", off, state.merge)
    state.report(spark, minQuality, langs)
  }
}
