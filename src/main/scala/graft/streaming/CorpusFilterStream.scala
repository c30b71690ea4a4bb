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
  *  - `meta`  (doc_id, pred_lang, quality): the stateless verdicts;
  *  - `tomb`  (doc_id), only `WITH RETRACTIONS` (`retractions`): the
  *    CDC tombstone discipline ([[CdcCompact]] 10a' semantics) applied
  *    to the ingest gate. Each batch row then carries an `op`
  *    row-kind: 'u' rows run the incremental screen above, 'd' rows
  *    delta-append their doc_id here.
  *
  * Scale: per batch the seen index is only equi-joined on
  * (band, band_hash) — queried, never self-joined; the union of
  * per-batch pair discoveries over an id-disjoint batching equals
  * the full self-join pair set (each pair surfaces when its later
  * endpoint arrives), so the drained stream equals the batch
  * operator row-for-row and shares its oracle.
  *
  * Retractions: every read the report serves goes through [[live]],
  * which drops the tombstoned docs from the verdict table and from
  * the pair graph (BOTH endpoints must be live) before the
  * representative election. Endpoint masking is EXACT: a verified
  * near-dup pair depends only on its two endpoint documents
  * (signatures → candidates → Jaccard verify — no third doc enters),
  * so the live-endpoint subset of the accrued pair graph IS the pair
  * set the batch operator computes over the tombstone-compacted
  * corpus — including re-election when the retracted doc was a
  * component's min-id representative, and component SPLITS when it
  * was the only bridge (5—9—1 with 9 retracted leaves 5 and 1 kept
  * separately, exactly as batch-over-live does). Dead docs' bands
  * stay in the LSH index until [[compact]]: later batches may surface
  * (live, dead) candidates whose verified pairs are then masked at
  * report; wasted probe work bounded by the retraction rate,
  * correctness unaffected.
  */
final class CorpusFilterState(stateDir: String, threshold: Double,
                              retractions: Boolean = false) {
  import CorpusFilterState.stores

  private val tombs = new StreamUtil.Tombstones(retractions)
  private[graft] val storeNames = stores.keys.toSeq ++ tombs.stores
  private val state = new StreamUtil.VersionedState(stateDir, storeNames)

  private def prior(spark: SparkSession, store: String): DataFrame =
    state.prior(spark, stores(store)._1, store)

  /** The serving read of `store`: its committed deltas minus the
    * tombstoned docs. */
  private def live(spark: SparkSession, store: String): DataFrame =
    tombs.live(spark, state, prior(spark, store), stores(store)._2)

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.commit(batchId) {
    // the signature kernel, the tombstones and the verdicts each read
    // the batch: without the persist each one re-scans it from its
    // source file
    batch.persist()
    try {
      val spark = batch.sparkSession
      val docs = batch.toDF()
      val ups = tombs.upserts(docs)
      // Write the batch's signature deltas FIRST, then probe from the
      // just-written parquet: the probe joins reference the batch bands
      // twice and the batch sets twice, so probing the in-flight plan
      // recomputed the minhash/shingle kernel per reference (the
      // sigTable materialization lesson). Prior-state reads still
      // filter batch <= version (pre-commit), so the new deltas stay
      // invisible to this batch's seen-side.
      val (batchBands, batchSets) = Dedup.batchSignatures(ups)
      // bands ∥ sets, then pairs ∥ tomb: independent jobs over the
      // same rebalanced batch scan (each evaluates its own kernel
      // either way — overlapping them trades idle job-tail time, not
      // extra work; guide §2.6).
      StreamUtil.inParallel(
        () => StreamUtil.writeSharded(batchBands, state.at(batchId, "bands"), Seq("doc_id")),
        () => StreamUtil.writeSharded(batchSets, state.at(batchId, "sets"), Seq("doc_id")))
      val newPairs = Dedup.incrementalPairsFrom(
        StreamUtil.readDeltaAt(spark, state.at(batchId, "bands"), stores("bands")._1),
        StreamUtil.readDeltaAt(spark, state.at(batchId, "sets"), stores("sets")._1),
        prior(spark, "bands"), prior(spark, "sets"), threshold)
      StreamUtil.inParallel(
        (() => StreamUtil.writeSharded(newPairs, state.at(batchId, "pairs"), Seq("doc_a"))) +:
          tombs.write(state, batchId, docs): _*)
      StreamUtil.writeSharded(TextOps.langQualityTransform(ups),
        state.at(batchId, "meta"), Seq("doc_id"))
    } finally batch.unpersist()
  }

  /** The election + keep/drop report over the drained state. The
    * converged label table is persisted by the propagation core;
    * registering it in [[StreamUtil.labelsCache]] keyed by
    * (state, version) puts its release under GraftCaches.clearAll
    * like every other memoized table. */
  def report(spark: SparkSession, minQuality: Double, langs: Seq[String]): DataFrame = {
    val labels = StreamUtil.labelsCache
      .getOrElseUpdate((spark, stateDir, state.version)) {
        Dedup.propagateMinLabels(spark,
          live(spark, "pairs"), maxIters = 20, who = "streamCorpusFilter")
      }
    val m = live(spark, "meta")
    val dedup = m.select(col("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("lbl"), col("doc_id")) === col("doc_id")).as("dedup_kept"))
    TextOps.corpusFilterVerdict(
      m.select(col("doc_id"), col("pred_lang")),
      m.select(col("doc_id"), col("quality")),
      dedup, minQuality, langs)
  }

  /** Tombstone COMPACTION: every store's [[live]] read — the report's
    * own serving read — becomes ONE delta at the current version
    * boundary, the tombstone store truncates to an empty delta, and
    * the swap commits through [[StreamUtil.VersionedState.compact]]'s
    * marker protocol (crash before the marker leaves live state
    * untouched; after it, the next construction redoes the install
    * idempotently). The report is identical before and after by
    * construction, and later batches stop probing dead bands /
    * re-reading dead deltas.
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
      spark: SparkSession): Seq[(String, DataFrame, Seq[String])] =
    stores.toSeq.map { case (n, (_, keys)) => (n, live(spark, n), keys.take(1)) } ++
      tombs.truncated(spark, state)
}

object CorpusFilterState {
  /** Each store's schema and the doc-id columns its [[CorpusFilterState.live]]
    * read masks (the first is its shard key). */
  private val stores = scala.collection.immutable.ListMap(
    "bands" -> ("doc_id BIGINT, band INT, band_hash BIGINT", Seq("doc_id")),
    "sets" -> ("doc_id BIGINT, sh ARRAY<STRING>", Seq("doc_id")),
    "pairs" -> ("doc_a BIGINT, doc_b BIGINT", Seq("doc_a", "doc_b")),
    "meta" -> ("doc_id BIGINT, pred_lang STRING, quality DOUBLE", Seq("doc_id")))
}

object CorpusFilterStream {

  /** Queries entry (oracle: same SQL as `corpus_filter`): the
    * documents corpus staged as `nFiles` files and replayed one per
    * micro-batch through the incremental gate. */
  def streamCorpusFilter(spark: SparkSession, dir: String, nFiles: Int = 4,
                         minQuality: Double = 0.5, threshold: Double = 0.5,
                         langs: Seq[String] = Seq("en")): DataFrame = {
    val work = graft.GraftCaches.trackTempDir("graft_scfilter_")
    val docs = graft.sources.Tables.documents(spark, dir)
    val state = new CorpusFilterState(s"$work/state", threshold)
    StreamSources.runForeachBatch(StreamSources.staged(docs,
      StreamSources.stagingFiles(nFiles, docs.count()), work), state.merge)
    state.report(spark, minQuality, langs)
  }

  /** Queries entry (oracle: the corpus_filter SQL over the
    * tombstone-compacted live corpus — a `documents` CTE shadowing
    * the table): the gate WITH RETRACTIONS over
    * [[StreamSources.docChangelog]] — upserts for every doc plus a
    * delete op for each doc with `doc_id % 7 == 3`; delete-wins
    * semantics keep the staging order-free. */
  def streamCorpusFilterTombstone(spark: SparkSession, dir: String, nFiles: Int = 4,
                                  minQuality: Double = 0.5, threshold: Double = 0.5,
                                  langs: Seq[String] = Seq("en")): DataFrame =
    StreamUtil.drained(spark, "graft_scftomb_", dir, nFiles, threshold)({ work =>
      val docs = graft.sources.Tables.documents(spark, dir)
      val (ups, dels) = StreamSources.docChangelog(docs)
      StreamSources.staged(ups.unionByName(dels),
        StreamSources.stagingFiles(nFiles, docs.count()), work)
    }, new CorpusFilterState(_, threshold, retractions = true))(_.merge)
      .report(spark, minQuality, langs)

  /** Queries entry (oracle: `stream_corpus_filter_tombstone`'s — the
    * corpus_filter SQL over the live corpus): the retraction gate
    * with a MID-STREAM COMPACTION ([[StreamSources.replayCompacted]]
    * over [[StreamSources.docChangelog]]), proving compaction is an
    * operator the ingest actually runs, not an offline rebuild.
    * Post-compaction ingest probes the COMPACTED index: live pairs
    * with phase-A docs still surface from their retained bands;
    * pairs with compacted-away dead docs never form, exactly what
    * batch-over-live computes. */
  def streamCorpusFilterCompacted(spark: SparkSession, dir: String,
                                  minQuality: Double = 0.5, threshold: Double = 0.5,
                                  langs: Seq[String] = Seq("en")): DataFrame = {
    val work = graft.GraftCaches.trackTempDir("graft_scfcomp_")
    val (ups, dels) = StreamSources.docChangelog(graft.sources.Tables.documents(spark, dir))
    val state = new CorpusFilterState(s"$work/state", threshold, retractions = true)
    StreamSources.replayCompacted(work, ups, dels, state.merge, () => state.compact(spark))
    state.report(spark, minQuality, langs)
  }
}
