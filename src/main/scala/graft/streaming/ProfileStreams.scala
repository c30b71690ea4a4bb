package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import StreamUtil.AdditiveState.Store

/** Additive-sufficient-state streaming twins for the profiling
  * family — the [[ValueCountState]] discipline applied to two more
  * state shapes:
  *
  *  - [[UserSpanState]]: per-user `(cohort, last_day)` span — min and
  *    max merge exactly, so rolling retention on an unbounded stream
  *    is |users| rows of state and the report is
  *    [[graft.operators.Retention.reportFromUsers]], the very
  *    derivation the batch operator runs (parity by shared code).
  *  - [[LabelCentroidState]]: the `(label, dim, n, Σq)` grid of
  *    [[graft.operators.VectorOps.labelDimSums]] — sums of sums merge
  *    exactly; the centroid report is the shared
  *    `centroidsFromSums`. The embedding stream is a staged parquet
  *    replay ([[StreamSources.parquetStream]]) — the corpus arrives
  *    in micro-batches exactly as an ingest pipeline would deliver
  *    it.
  *
  * Both are replay-guarded [[StreamUtil.AdditiveState]]s: each batch
  * commits its partial, and the read combines them.
  */
final class UserSpanState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "user_id BIGINT, cohort TIMESTAMP, last_day TIMESTAMP",
    Seq("user_id"), Seq("cohort" -> (min(_: Column)), "last_day" -> (max(_: Column))))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort"), max(col("day")).as("last_day"))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Retention.reportFromUsers(state.read(spark))

  /** SECOND face: the capture–recapture audience estimate — half
    * membership is integer logic on the same (cohort, last_day)
    * span, so the Chapman read shares the state untouched. */
  def reportCapture(spark: SparkSession): DataFrame =
    graft.operators.Retention.captureFromUsers(state.read(spark))
}

/** Additive (user, minute, n) burst grid for the streaming bot
  * screen — per-minute counts merge exactly, so the peak-minute and
  * events-per-active-minute flags are pure reads over the state via
  * the shared [[graft.operators.Behavior.botFromMinutes]] rollup.
  * State is one row per ACTIVE (user, minute) pair — bounded by the
  * event count, not the calendar (a production deployment ages
  * minutes past its review horizon out of the state; the flags only
  * ever need the recent window). */
final class UserMinuteCountState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "user_id BIGINT, minute TIMESTAMP, n BIGINT",
    Seq("user_id", "minute"), StreamUtil.sums("n"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(col("user_id"), date_trunc("minute", col("ts")).as("minute"))
      .groupBy(col("user_id"), col("minute")).agg(count(lit(1)).as("n"))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Behavior.botFromMinutes(state.read(spark))
}

/** Additive per-source readability sums for the streaming Flesch
  * face — (n_docs, n_sentences, n_words, n_syllables) are plain
  * integer sums of per-doc counts, so the state is |sources| rows
  * and the FRE report is the shared
  * [[graft.operators.TextOps.fleschFromSums]] read. */
final class FleschState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "source STRING, n_docs BIGINT, n_sentences BIGINT, n_words BIGINT, n_syllables BIGINT",
    Seq("source"), StreamUtil.sums("n_docs", "n_sentences", "n_words", "n_syllables"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.operators.TextOps.fleschDocCounts(batch.toDF())
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_sent")).as("n_sentences"),
        sum(col("n_words")).as("n_words"), sum(col("n_syll")).as("n_syllables"))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.TextOps.fleschFromSums(state.read(spark))
}

/** Additive (user_id, event_type, c) count grid for the streaming
  * engagement-diversity histogram — per-user entropies cannot merge
  * (one new event re-weights every term), the counts can; report via
  * the shared [[graft.operators.Behavior.entropyFromUserTypeCounts]]. */
final class UserTypeCountState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "user_id BIGINT, event_type STRING, c BIGINT",
    Seq("user_id", "event_type"), StreamUtil.sums("c"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Behavior.entropyFromUserTypeCounts(state.read(spark))
}

/** Per-user session-count frontier for the streaming sessions-per-
  * user histogram: (last_ts, k) — under [[FunnelStream]]'s
  * time-ordered-delivery contract a batch's first event either
  * continues the frontier session (gap ≤ timeout) or opens session
  * k+1, and batch-internal boundaries count with the ordinary lag
  * rule, so TWO columns of per-user state replace the whole event
  * history. An [[StreamUtil.AdditiveState]]: `k` sums, and `last_ts`
  * is a max — the batch's last event, which under that contract is
  * never earlier than the committed one. The histogram is a pure
  * read ([[graft.operators.Retention.sessionsHistFromK]]). */
final class SessionCountState(stateDir: String, gapMinutes: Int = 30) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "user_id BIGINT, last_ts TIMESTAMP, k BIGINT",
    Seq("user_id"), StreamUtil.maxes("last_ts") ++ StreamUtil.sums("k"))
  private val gapUs = gapMinutes * 60L * 1000000L

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    batch
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .join(state.read(batch.sparkSession), Seq("user_id"), "left")
      .select(col("user_id"), col("ts"),
        when(col("prev").isNotNull,
          when(unix_micros(col("ts")) - unix_micros(col("prev")) > gapUs, 1L).otherwise(0L))
        .otherwise(
          when(col("last_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("last_ts")) > gapUs, 1L).otherwise(0L))
        .as("new_s"))
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"), sum(col("new_s")).as("k"))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Retention.sessionsHistFromK(
      state.read(spark).select(col("user_id"), col("k")))
}

/** Session-affinity state: per-user STABLE session ids assigned
  * incrementally under time-ordered delivery — state is the distinct
  * (user_id, sid, event_type) presence set (idempotent union; a
  * batch that re-adds a continuing session's types is a no-op) plus
  * a (last_ts, cur_sid) frontier per user, two stores of one
  * [[StreamUtil.AdditiveState]]; the frontier combines by `max`,
  * since a batch's last event and session id never precede the
  * committed ones. A batch's first session either continues
  * `cur_sid` (gap ≤ timeout — its types union into the same sid) or
  * opens `cur_sid`+1; the affinity report is the batch rollup over
  * the presence rows
  * ([[graft.operators.Behavior.affinityFromPresence]]), so
  * stream ≡ batch by shared derivation. */
final class SessionAffinityState(stateDir: String, gapMinutes: Int = 30) {
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    Store("presence", "user_id BIGINT, sid BIGINT, event_type STRING",
      Seq("user_id", "sid", "event_type"), Nil),
    Store("frontier", "user_id BIGINT, last_ts TIMESTAMP, cur_sid BIGINT",
      Seq("user_id"), StreamUtil.maxes("last_ts", "cur_sid"))))
  private val gapUs = gapMinutes * 60L * 1000000L

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val labeled = batch
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("new_s",
        when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > gapUs, 1L)
          .when(lag(col("ts"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("seq",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val firstMin = labeled.filter(col("seq") === 1L)
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
    val offsets = firstMin.join(state.read(batch.sparkSession, "frontier"), Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("cur_sid").isNotNull &&
          unix_micros(col("first_ts")) - unix_micros(col("last_ts")) <= gapUs,
          col("cur_sid") - 1L)
        .otherwise(coalesce(col("cur_sid"), lit(0L))).as("offset"))
    val withSid = labeled.join(offsets, Seq("user_id"))
      .select(col("user_id"), (col("offset") + col("seq")).as("sid"),
        col("event_type"), col("ts"))
    Map("presence" -> withSid.select(col("user_id"), col("sid"), col("event_type")).distinct(),
      "frontier" -> withSid.groupBy(col("user_id"))
        .agg(max(col("ts")).as("last_ts"), max(col("sid")).as("cur_sid")))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Behavior.affinityFromPresence(
      state.read(spark, "presence").select(col("user_id"),
        col("sid").as("session_seq"), col("event_type")))
}

final class LabelCentroidState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "label BIGINT, dim BIGINT, n_vecs BIGINT, sum_q BIGINT",
    Seq("label", "dim"), StreamUtil.sums("n_vecs", "sum_q"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.operators.VectorOps.labelDimSums(batch)
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.VectorOps.centroidsFromSums(state.read(spark))
}

/** Dataset-card state over a DOCUMENTS stream: the per-(lang, source)
  * sufficient grid ([[graft.operators.CorpusQa.cardGrid]]) — sums
  * add, mins/maxs merge — and the one-row card derives at read time
  * through the shared `cardFromGrid`. Distinct lang/source counts are
  * grid-key counts, so they too are exact under any batch split. */
final class DatasetCardState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "lang STRING, source STRING, n_docs BIGINT, ws_tokens BIGINT, " +
    "bpe_tokens BIGINT, n_chars BIGINT, min_chars BIGINT, max_chars BIGINT",
    Seq("lang", "source"), StreamUtil.sums("n_docs", "ws_tokens", "bpe_tokens", "n_chars") ++
      Seq("min_chars" -> (min(_: Column)), "max_chars" -> (max(_: Column))))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.operators.CorpusQa.cardGrid(batch.toDF())
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.CorpusQa.cardFromGrid(state.read(spark))

  /** The SAME card grid serves Cramér's V — n_docs per (source,
    * lang) cell is one of its additive sums; second face. */
  def reportCramersV(spark: SparkSession): DataFrame =
    graft.operators.Stats.cramersFromObs(
      state.read(spark).select(col("source"), col("lang"), col("n_docs").as("n")))
}

/** Additive (source, len) document-length grid for the streaming KS
  * test — length counts add across micro-batches while the ECDF
  * comparison is a whole-grid read (per-batch D statistics cannot
  * merge: a batch's max-gap point may not be the corpus's), so the
  * state is the sufficient grid and [[graft.operators.Stats
  * .ksFromCounts]] derives the pairwise distances at read time. */
final class SourceLenState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "source STRING, len BIGINT, c BIGINT",
    Seq("source", "len"), StreamUtil.sums("c"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(col("source"), length(col("text")).cast("long").as("len"))
      .groupBy(col("source"), col("len")).agg(count(lit(1)).as("c"))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Stats.ksFromCounts(state.read(spark))

  /** The SAME length grid serves the Neyman sampling design — one
    * state, two design faces (drift test + allocation). */
  def reportNeyman(spark: SparkSession): DataFrame =
    graft.operators.Stats.neymanFromCounts(state.read(spark))

  /** Third face: Wasserstein-1 between the per-source length ECDFs —
    * the KS face's integral companion, same sufficient grid (a
    * per-batch W1 cannot merge: one new length shifts every later
    * cumulative gap, so the distance derives whole-grid at read). */
  def reportW1(spark: SparkSession): DataFrame =
    graft.operators.Stats.w1FromCounts(state.read(spark))
}

/** Additive (event_type, is_base, bucket) PSI grid —
  * [[graft.operators.Stats.psiGrid]] merged additively (period
  * membership is a pure function of each event's own timestamp
  * against the FIXED cutoff, bucket of its value), |types|×2×|buckets|
  * rows. Report = [[graft.operators.Stats.psiFromGrid]], the batch
  * derivation (smoothing and logs run at read time — a PSI computed
  * per batch would smooth against a per-batch support). On a real
  * platform `cutoff` is the monitoring baseline boundary, known
  * configuration — the [[UserPrePostState]] convention. */
final class PsiGridState(stateDir: String, cutoff: java.sql.Timestamp) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "event_type STRING, is_base BOOLEAN, bucket BIGINT, c BIGINT",
    Seq("event_type", "is_base", "bucket"), StreamUtil.sums("c"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.operators.Stats.psiGrid(batch.toDF(), cutoff)
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Stats.psiFromGrid(state.read(spark))
}

/** Additive (event_type, cents) value-support grid for the streaming
  * rank-sum test — counts merge across micro-batches while the
  * tie-averaged pooled ranks are a whole-support read, so the state
  * is the sufficient grid (cents-bounded, never |events|) and
  * [[graft.operators.Stats.mwFromCounts]] derives U/AUC at read
  * time. */
final class TypeCentsState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "event_type STRING, cents BIGINT, c BIGINT",
    Seq("event_type", "cents"), StreamUtil.sums("c"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("cents")).agg(count(lit(1)).as("c"))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Stats.mwFromCounts(state.read(spark))

  /** The SAME cents-support grid serves the Benford screen (digits
    * derive from the values; type rolls up) — second face. */
  def reportBenford(spark: SparkSession): DataFrame =
    graft.operators.Stats.benfordFromCents(
      state.read(spark).groupBy(col("cents")).agg(sum(col("c")).as("c")))

  /** Off-policy face: IPS/SNIPS counterfactual evaluation — per-type
    * sufficient stats are a rollup of the same cents-support grid. */
  def reportOffpolicy(spark: SparkSession): DataFrame =
    graft.operators.Experiments.offpolicyFromGrid(state.read(spark))

  /** Third face: the k-group Kruskal–Wallis omnibus — pooled ranks
    * are a whole-support read over the same additive grid. */
  def reportKruskal(spark: SparkSession): DataFrame =
    graft.operators.Stats.kwFromCounts(state.read(spark))

  /** Fourth face: the Brown–Forsythe variance-homogeneity screen —
    * per-type medians and z-moments read off the same grid. */
  def reportLevene(spark: SparkSession): DataFrame =
    graft.operators.Stats.leveneFromCounts(state.read(spark))
}

/** Per-user (score, converted) state for the streaming decile-lift
  * table (round-9 verdict task 7): both columns merge additively —
  * the non-purchase engagement score is a sum of per-batch sums, the
  * converted flag a max of maxes — so |users| rows of hash-sharded
  * state replace the event history, and the report is
  * [[graft.operators.Behavior.decileFromUsers]], the batch
  * operator's own distributed-rank derivation (parity by shared
  * code, including [[graft.operators.GlobalRank]]'s slice rank). */
final class UserScoreState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "user_id BIGINT, score BIGINT, converted BIGINT",
    Seq("user_id"), StreamUtil.sums("score") :+ ("converted" -> (max(_: Column))))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch.groupBy(col("user_id"))
      .agg(sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L)).as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Behavior.decileFromUsers(state.read(spark))
}

/** Per-user (last_ts, freq, cents) RFM state — every column merges
  * additively (recency a max of maxes, frequency a sum of per-batch
  * counts, monetary a sum of sums), hash-sharded at |users| rows;
  * TWO report faces over the same state: the quartile segmentation
  * ([[graft.operators.Behavior.rfmFromUsers]]) and the revenue
  * percentile table
  * ([[graft.operators.Behavior.revenuePercentileFromUsers]]), both
  * the batch operators' own derivations including the distributed
  * [[graft.operators.GlobalRank]] slice rank — stream ≡ batch by
  * shared code. */
final class UserRfmState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "user_id BIGINT, last_ts TIMESTAMP, freq BIGINT, cents BIGINT",
    Seq("user_id"), ("last_ts" -> (max(_: Column))) +: StreamUtil.sums("freq", "cents"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    // IDENTICAL extraction to the batch path (shared helper).
    graft.operators.Behavior.rfmPerUser(batch.toDF())
  }

  def reportRfm(spark: SparkSession): DataFrame =
    graft.operators.Behavior.rfmFromUsers(state.read(spark))

  def reportRevenuePercentile(spark: SparkSession): DataFrame =
    graft.operators.Behavior.revenuePercentileFromUsers(
      state.read(spark).select(col("user_id"), col("cents")))

  /** Third face: the Hill tail-index estimator — a bounded top-k
    * read over the same per-user monetary state. */
  def reportHill(spark: SparkSession): DataFrame =
    graft.operators.Stats.hillFromUsers(
      state.read(spark).select(col("user_id"), col("cents")))
}

/** Per-user (pre_cents, post_cents) CUPED state — both columns are
  * sums of per-batch sums (the event's period membership is a pure
  * function of its own timestamp against the FIXED `cutoff`, which is
  * what keeps the grid additive: a data-derived boundary would shift
  * as batches arrive), so the grid merges additively under any
  * batching/replay order; |users| rows, hash-sharded. On a real
  * platform `cutoff` is configuration — the experiment start date.
  * Report = [[graft.operators.Experiments.cupedFromUsers]], the batch
  * operator's own derivation (parity by shared code). */
final class UserPrePostState(stateDir: String, cutoff: java.sql.Timestamp) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "user_id BIGINT, pre_cents BIGINT, post_cents BIGINT",
    Seq("user_id"), StreamUtil.sums("pre_cents", "post_cents"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.operators.Experiments.userPrePost(batch.toDF(), cutoff)
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Experiments.cupedFromUsers(state.read(spark))

  /** Second face: the sample-ratio-mismatch gate over the same
    * per-user state (the state's key set IS the unit census). */
  def reportSrm(spark: SparkSession): DataFrame =
    graft.operators.Experiments.srmFromUsers(state.read(spark).select(col("user_id")))

  /** Third face: the post-stratified ATE — stratum ranks derive at
    * report time over the merged grid (a stratum frozen at ingest
    * would shift as later users land). */
  def reportStratifiedAte(spark: SparkSession): DataFrame =
    graft.operators.Experiments.stratifiedAteFromUsers(state.read(spark))
}

/** Per-(arm, day) moments grid — [[graft.operators.Experiments
  * .peekingGrid]] merged additively (counts, Σ, Σ² are sums of
  * per-batch sums); |arms|×|days| rows. Report = the batch peeking
  * derivation: cumulative prefix sums and every z derive at report
  * time. */
final class ArmDayState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "arm BIGINT, day TIMESTAMP, n BIGINT, s1 BIGINT, s2 DECIMAL(38,0)",
    Seq("arm", "day"), StreamUtil.sums("n", "s1", "s2"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.operators.Experiments.peekingGrid(batch.toDF())
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Experiments.peekingFromGrid(state.read(spark))
}

/** Per-arm value counting grid — [[graft.operators.Experiments
  * .armCentsGrid]] merged additively; value-cardinality rows. Report
  * = the batch QTE derivation over the merged grid. */
final class ArmCentsState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "arm BIGINT, cents BIGINT, cnt BIGINT",
    Seq("arm", "cents"), StreamUtil.sums("cnt"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.operators.Experiments.armCentsGrid(batch.toDF())
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Experiments.qteFromGrid(state.read(spark))
}

/** Split-conformal counting-grid state — per (event_type, is_train,
  * cents) counts (split membership is a pure function of event_id),
  * additive under any batching; value-cardinality rows. BOTH the
  * train-split center and the calibration residual order statistics
  * derive at report time through
  * [[graft.operators.Experiments.conformalFromGrid]] — residuals
  * depend on the FINAL center, so they must never be frozen into the
  * state (the classic streaming-conformal mistake this state shape
  * avoids by construction). */
final class ConformalGridState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "event_type STRING, is_train BOOLEAN, cents BIGINT, cnt BIGINT",
    Seq("event_type", "is_train", "cents"), StreamUtil.sums("cnt"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.operators.Experiments.conformalGrid(batch.toDF())
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Experiments.conformalFromGrid(state.read(spark))
}

/** Heaps'-law corpus state: TWO merged rollups — per-doc token
  * counts (doc_id, t), a sum of per-batch counts, and per-token
  * first-seen doc (tok, doc_id), a min of per-batch mins — both
  * exact under any batching/replay order; |docs| + |vocab| rows, two
  * stores of one [[StreamUtil.AdditiveState]]. Report =
  * [[graft.operators.CorpusQa.heapsFromRollups]], the batch
  * operator's own regression including the distributed range-
  * partitioned cumsum. */
final class CorpusHeapsState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    Store("perdoc", "doc_id BIGINT, t BIGINT",
      Seq("doc_id"), StreamUtil.sums("t")),
    Store("tokfirst", "tok STRING, doc_id BIGINT",
      Seq("tok"), StreamUtil.mins("doc_id"))))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    // IDENTICAL tokenization to the batch path (shared helper).
    val toks = graft.operators.CorpusQa.heapsTokens(batch.toDF())
    Map("perdoc" -> toks.groupBy(col("doc_id")).agg(count(lit(1)).as("t")),
      "tokfirst" -> toks.groupBy(col("tok")).agg(min(col("doc_id")).as("doc_id")))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.CorpusQa.heapsFromRollups(
      state.read(spark, "perdoc"), state.read(spark, "tokfirst"))
}

/** Per-item engagement count state (props.$.k), additive sums of
  * per-batch counts, hash-sharded at |items| rows; report = the
  * batch Gini derivation over the same distributed rank. */
final class ItemEngagementState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "item BIGINT, cnt BIGINT",
    Seq("item"), StreamUtil.sums("cnt"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    // IDENTICAL extraction to the batch path (shared helper).
    graft.operators.Behavior.itemEngagementCounts(batch.toDF())
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Behavior.giniFromCounts(state.read(spark))
}

object ProfileStreams {

  /** The per-user RFM state behind stream_rfm_segments,
    * stream_user_revenue_percentile and stream_hill: the raw event
    * stream (order-free additive state, no staging), drained once per
    * input ([[StreamUtil.drained]]). */
  private def rfm(spark: SparkSession, dir: String) =
    StreamUtil.drained(spark, "graft_srfm_", dir)(
      _ => StreamSources.events(spark, dir), new UserRfmState(_))(_.merge)

  /** The per-user CUPED (pre, post) state behind stream_ab_cuped,
    * stream_ab_srm and stream_stratified_ate, drained like [[rfm]];
    * the fixed pre/post cutoff derives from the batch table. */
  private def prePost(spark: SparkSession, dir: String) =
    StreamUtil.drained(spark, "graft_scuped_", dir)(
      _ => StreamSources.events(spark, dir), new UserPrePostState(_,
        graft.operators.Experiments.preCutoff(graft.sources.Tables.events(spark, dir))))(
      _.merge)

  /** The (event_type, cents) support grid behind stream_mann_whitney,
    * stream_benford, stream_kruskal, stream_levene and
    * stream_offpolicy, drained like [[rfm]]. */
  private def typeCents(spark: SparkSession, dir: String) =
    StreamUtil.drained(spark, "graft_smw_", dir)(
      _ => StreamSources.events(spark, dir), new TypeCentsState(_))(_.merge)

  /** The per-user span state behind stream_rolling_retention and
    * stream_capture_recapture, drained like [[rfm]]. */
  private def userSpan(spark: SparkSession, dir: String) =
    StreamUtil.drained(spark, "graft_uspan_", dir)(
      _ => StreamSources.events(spark, dir), new UserSpanState(_))(_.merge)

  /** The dataset-card grid behind stream_dataset_card and
    * stream_cramers_v: the documents corpus staged as `nFiles` files,
    * drained once per (input, nFiles). */
  private def card(spark: SparkSession, dir: String, nFiles: Int) =
    StreamUtil.drained(spark, "graft_scard_", dir, nFiles)(
      StreamSources.staged(graft.sources.Tables.documents(spark, dir), nFiles, _),
      new DatasetCardState(_))(_.merge)

  /** The (source, len) grid behind stream_ks_doclen, stream_neyman and
    * stream_wasserstein_doclen, drained like [[card]]. */
  private def sourceLen(spark: SparkSession, dir: String, nFiles: Int) =
    StreamUtil.drained(spark, "graft_sks_", dir, nFiles)(
      StreamSources.staged(graft.sources.Tables.documents(spark, dir), nFiles, _),
      new SourceLenState(_))(_.merge)

  /** Queries entry (oracle: same SQL as `dataset_card`): the
    * documents corpus staged as 4 files and replayed one per
    * micro-batch through the additive card grid. */
  def streamDatasetCard(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    card(spark, dir, nFiles).report(spark)

  /** Queries entry (oracle: same SQL as `decile_lift`) — order-free
    * additive per-user (score, converted) state, so the raw events
    * stream needs no staged time ordering. */
  def streamDecileLift(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_sdlift_", dir)(
      _ => StreamSources.events(spark, dir), new UserScoreState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `rfm_segments`) — order-free
    * additive per-user RFM state, so the raw events stream needs no
    * staged time ordering. */
  def streamRfmSegments(spark: SparkSession, dir: String): DataFrame =
    rfm(spark, dir).reportRfm(spark)

  /** Queries entry (oracle: same SQL as `user_revenue_percentile`):
    * the shared RFM state. */
  def streamUserRevenuePercentile(spark: SparkSession, dir: String): DataFrame =
    rfm(spark, dir).reportRevenuePercentile(spark)

  /** Queries entry (oracle: same SQL as `heaps_law_fit`): the
    * documents corpus staged as 4 files and replayed one per
    * micro-batch through the min/sum-merge heaps rollup state. */
  def streamHeapsLawFit(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_sheaps_", dir, nFiles)(
      StreamSources.staged(graft.sources.Tables.documents(spark, dir), nFiles, _),
      new CorpusHeapsState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `engagement_gini`) —
    * order-free additive per-item counts. */
  def streamEngagementGini(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_sgini_", dir)(
      _ => StreamSources.events(spark, dir), new ItemEngagementState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `ab_cuped`) — order-free
    * additive per-user (pre, post) sums. */
  def streamAbCuped(spark: SparkSession, dir: String): DataFrame =
    prePost(spark, dir).report(spark)

  /** Queries entry (oracle: same SQL as `ab_srm_check`): the shared
    * per-user CUPED state — its key set is the unit
    * census the SRM gate counts. */
  def streamAbSrm(spark: SparkSession, dir: String): DataFrame =
    prePost(spark, dir).reportSrm(spark)

  /** Queries entry (oracle: same SQL as `qte_deciles`) — order-free
    * additive per-arm value grid. */
  def streamQte(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_sqte_", dir)(
      _ => StreamSources.events(spark, dir), new ArmCentsState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `stratified_ate`): the shared
    * per-user CUPED state — strata re-rank at report. */
  def streamStratifiedAte(spark: SparkSession, dir: String): DataFrame =
    prePost(spark, dir).reportStratifiedAte(spark)

  /** Queries entry (oracle: same SQL as `ab_peeking_curve`) — order-
    * free additive per-(arm, day) moments; the cumulative prefix
    * sums and every daily z derive at report time. */
  def streamPeeking(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_speek_", dir)(
      _ => StreamSources.events(spark, dir), new ArmDayState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `conformal_interval`) —
    * order-free additive counting grid; center and residual ranks
    * both derive at report time. */
  def streamConformal(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_sconf_", dir)(
      _ => StreamSources.events(spark, dir), new ConformalGridState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `hill_tail_index`): the shared
    * per-user RFM state. */
  def streamHill(spark: SparkSession, dir: String): DataFrame =
    rfm(spark, dir).reportHill(spark)

  /** Queries entry (oracle: same SQL as `dsir_importance`): the
    * documents corpus staged as 4 files, the hashed-feature grid
    * delta-appended one micro-batch at a time, every weight derived
    * at report time against the FINAL bucket LMs. */
  def streamDsir(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_sdsir_", dir, nFiles)({ work =>
      val corpus = graft.sources.Tables.documents(spark, dir)
      StreamSources.staged(corpus, StreamSources.stagingFiles(nFiles, corpus.count()), work)
    }, new DsirGridState(_))(_.merge).report(spark)

  /** Queries entry (oracle: the dsir SQL over the live corpus): the
    * retraction face over [[StreamSources.docChangelog]] — upserts for
    * every doc plus a delete op for each `doc_id % 7 == 3`; the masked
    * grid re-derives bucket LMs and every weight over the live corpus
    * only. */
  def streamDsirTombstone(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_sdsirt_", dir, nFiles)({ work =>
      val docs = graft.sources.Tables.documents(spark, dir)
      val (ups, dels) = StreamSources.docChangelog(docs)
      StreamSources.staged(ups.unionByName(dels),
        StreamSources.stagingFiles(nFiles, docs.count()), work)
    }, new DsirGridState(_, retractions = true))(_.merge).report(spark)

  /** Queries entry (oracle: `stream_dsir_tombstone`'s — the dsir SQL
    * over the live corpus): the retraction face with a MID-STREAM
    * COMPACTION ([[StreamSources.replayCompacted]] over
    * [[StreamSources.docChangelog]]) on the grid state. */
  def streamDsirCompacted(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.GraftCaches.trackTempDir("graft_sdsirc_")
    val (ups, dels) = StreamSources.docChangelog(graft.sources.Tables.documents(spark, dir))
    val state = new DsirGridState(s"$work/state", retractions = true)
    StreamSources.replayCompacted(work, ups, dels, state.merge, () => state.compact(spark))
    state.report(spark)
  }

  /** Queries entry (rows-only like `bpe_train` itself; gated by the
    * stream≡batch and straight-Scala reference specs): the documents
    * corpus staged as 4 files through the additive word-frequency
    * dict; all merge rules learn at report time over the final dict. */
  def streamBpeTrain(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_sbpe_", dir, nFiles)(
      StreamSources.staged(graft.sources.Tables.documents(spark, dir), nFiles, _),
      new WordFreqState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `offpolicy_eval`): the shared
    * cents-support state. */
  def streamOffpolicy(spark: SparkSession, dir: String): DataFrame =
    typeCents(spark, dir).reportOffpolicy(spark)

  /** Queries entry (oracle: same SQL as `k_anonymity_check`) —
    * order-free additive QI×user grid. */
  def streamKAnonymity(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_skanon_", dir)(
      _ => StreamSources.events(spark, dir), new AnonymityGridState(_))(_.merge).report(spark)

  /** Queries entry (rows-only like `bpe_fertility_by_source`; gated
    * by the stream≡batch parity spec): staged corpus through the
    * additive (source, word) grid. */
  def streamBpeFertility(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_sbpef_", dir, nFiles)(
      StreamSources.staged(graft.sources.Tables.documents(spark, dir), nFiles, _),
      new SourceWordState(_))(_.merge).report(spark)

  /** The hybrid index's changelog: documents FULL-OUTER joined with
    * their embeddings as upserts (the batch operator consumes the two
    * tables independently, so the staging must not drop a doc that
    * lacks an embedding row or vice versa — an inner join here would
    * silently break stream≡batch≡oracle parity on any id asymmetry;
    * [[HybridIndexState.merge]] routes the two null-tolerant halves to
    * their own delta stores), and a delete for each corpus doc with
    * `doc_id % 7 == 3` (a deterministic retraction slice). The slice
    * spans the UNION of both tables' id spaces: the oracle masks
    * `NOT (b.vec_id % 7 = 3)` on the dense side unconditionally, so an
    * embedding row whose vec_id has no document row must be tombstoned
    * too — deriving deletes from documents alone would silently
    * diverge stream from oracle on such a corpus. */
  private def hybridChangelog(spark: SparkSession, dir: String,
                              nQueries: Int): (DataFrame, DataFrame) = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val embs = graft.sources.Tables.embeddings(spark, dir)
    val ups = docs.select(col("doc_id"), col("text"))
      .join(embs.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"), "full_outer")
    val dels = docs.select(col("doc_id"))
      .unionByName(embs.select(col("vec_id").as("doc_id")))
      .distinct()
      .filter(col("doc_id") >= nQueries && col("doc_id") % 7 === 3)
      .select(col("doc_id"),
        lit(null).cast("string").as("text"),
        lit(null).cast("array<float>").as("embedding"),
        lit("d").as("op"))
    (ups, dels)
  }

  /** Queries entry (oracle: same SQL as `hybrid_rrf_topk`): the
    * upserts of [[hybridChangelog]] staged as 4 files; the inverted
    * index and the vector store accrue per micro-batch and serving
    * re-derives everything from the final index. */
  def streamHybridRrf(spark: SparkSession, dir: String, nQueries: Int = 3,
                      nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_shyb_", dir, nQueries, nFiles)({ work =>
      val corpus = hybridChangelog(spark, dir, nQueries)._1
      StreamSources.staged(corpus, StreamSources.stagingFiles(nFiles, corpus.count()), work)
    }, new HybridIndexState(_, nQueries))(_.merge).report(spark)

  /** Queries entry (oracle: the hybrid fusion SQL over the tombstone-
    * compacted live corpus): the retraction face — the staged stream
    * carries all of [[hybridChangelog]]; the serving index masks
    * tombstoned docs, so the report equals the batch operator run on
    * the corpus WITHOUT them. Delete-wins semantics keep the staging
    * order-free (deletes land in their own trailing rows but would
    * compact identically in any order). */
  def streamHybridRrfTombstone(spark: SparkSession, dir: String, nQueries: Int = 3,
                               nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_shybt_", dir, nQueries, nFiles)({ work =>
      val (ups, dels) = hybridChangelog(spark, dir, nQueries)
      StreamSources.staged(ups.withColumn("op", lit("u")).unionByName(dels),
        StreamSources.stagingFiles(nFiles, ups.count() + dels.count()), work)
    }, new HybridIndexState(_, nQueries, retractions = true))(_.merge).report(spark)

  /** Queries entry (oracle: `stream_hybrid_rrf_tombstone`'s — the
    * fusion SQL over the live corpus): the serving index with a
    * MID-STREAM COMPACTION ([[StreamSources.replayCompacted]] over
    * [[hybridChangelog]]) on the post/emb stores; the query docs'
    * own rows may land in the late upserts — serving reads them at
    * report, arrival order is free. */
  def streamHybridRrfCompacted(spark: SparkSession, dir: String,
                               nQueries: Int = 3): DataFrame = {
    val work = graft.GraftCaches.trackTempDir("graft_shybc_")
    val (ups, dels) = hybridChangelog(spark, dir, nQueries)
    val state = new HybridIndexState(s"$work/state", nQueries, retractions = true)
    StreamSources.replayCompacted(work, ups.withColumn("op", lit("u")), dels,
      state.merge, () => state.compact(spark))
    state.report(spark)
  }

  /** Queries entry (rows-only like `semantic_clusters_ivf` itself;
    * gated by the stream≡batch parity spec): embeddings staged as
    * `nFiles` files and IVF-screened one micro-batch at a time
    * against the accumulated probe index; centroids and the sized
    * cell count are fixed configuration derived once from the corpus
    * (the offline-trained-model convention). */
  def streamSemanticIvf(spark: SparkSession, dir: String, threshold: Double = 0.3,
                        nProbe: Int = 2, seed: Long = 7L, nFiles: Int = 4): DataFrame = {
    lazy val n = graft.sources.Tables.embeddings(spark, dir).count()
    StreamUtil.drained(spark, "graft_ssiv_", dir, threshold, nProbe, seed, nFiles)(
      StreamSources.staged(graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")), StreamSources.stagingFiles(nFiles, n), _),
      new SemanticIvfState(_, graft.operators.VectorOps.trainIvfCentroids(
        spark, dir, math.max(8L, n / 512L).toInt, seed), threshold, nProbe))(_.merge)
      .report(spark)
  }

  /** Queries entry (oracle: same SQL as `mann_whitney_u`) — order-
    * free additive counts, so the raw events stream needs no staged
    * time ordering. */
  def streamMannWhitney(spark: SparkSession, dir: String): DataFrame =
    typeCents(spark, dir).report(spark)

  /** Queries entry (oracle: same SQL as `benford_first_digit`): the
    * shared cents-support state. */
  def streamBenford(spark: SparkSession, dir: String): DataFrame =
    typeCents(spark, dir).reportBenford(spark)

  /** Queries entry (oracle: same SQL as `kruskal_wallis`): the shared
    * cents-support state. */
  def streamKruskal(spark: SparkSession, dir: String): DataFrame =
    typeCents(spark, dir).reportKruskal(spark)

  /** Queries entry (oracle: same SQL as `levene_brown_forsythe`):
    * the shared cents-support state. */
  def streamLevene(spark: SparkSession, dir: String): DataFrame =
    typeCents(spark, dir).reportLevene(spark)

  /** Queries entry (oracle: same SQL as `cramers_v_source_lang`):
    * the shared card grid. */
  def streamCramersV(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    card(spark, dir, nFiles).reportCramersV(spark)

  /** Queries entry (oracle: same SQL as `bot_burst_screen`): the
    * additive (user, minute) burst grid drained from the unstaged
    * event stream (counts merge in any delivery order), reported
    * through the batch rollup. */
  def streamBotScreen(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_sbot_", dir)(
      _ => StreamSources.events(spark, dir), new UserMinuteCountState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `flesch_reading_ease`): the
    * document stream drained through the additive per-source
    * readability sums. */
  def streamFlesch(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_sfre_", dir, nFiles)(
      StreamSources.staged(graft.sources.Tables.documents(spark, dir), nFiles, _),
      new FleschState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `ks_doclen_sources`). */
  def streamKsDoclen(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    sourceLen(spark, dir, nFiles).report(spark)

  /** Queries entry (oracle: same SQL as `neyman_allocation`). */
  def streamNeyman(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    sourceLen(spark, dir, nFiles).reportNeyman(spark)

  /** Queries entry (oracle: same SQL as `wasserstein_doclen`): the
    * shared additive length grid. */
  def streamWassersteinDoclen(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    sourceLen(spark, dir, nFiles).reportW1(spark)

  /** Queries entry (oracle: same SQL as `psi_value_drift`) —
    * order-free additive PSI grid; the fixed baseline cutoff is
    * derived once from the batch table (configuration standing in
    * for the monitoring boundary, the stream_ab_cuped convention). */
  def streamPsiDrift(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_spsi_", dir)(
      _ => StreamSources.events(spark, dir), new PsiGridState(_,
        graft.operators.Experiments.preCutoff(graft.sources.Tables.events(spark, dir))))(
      _.merge).report(spark)

  /** Queries entry (oracle: same SQL as `rolling_retention`). */
  def streamRollingRetention(spark: SparkSession, dir: String): DataFrame =
    userSpan(spark, dir).report(spark)

  /** Queries entry (oracle: same SQL as `user_type_entropy`): the
    * event stream drained through the additive (user, type) count
    * grid — no staging needed. */
  def streamUserTypeEntropy(spark: SparkSession, dir: String): DataFrame =
    StreamUtil.drained(spark, "graft_suent_", dir)(
      _ => StreamSources.events(spark, dir), new UserTypeCountState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `sessions_per_user`): the
    * time-ordered replay drained through the per-user (last_ts, k)
    * session-count frontier. */
  def streamSessionsPerUser(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_sspu_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new SessionCountState(_))(_.merge)
      .report(spark)

  /** Queries entry (oracle: same SQL as `session_type_affinity`):
    * the time-ordered replay drained through the stable-session-id
    * presence state. */
  def streamSessionAffinity(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_saff_", dir, nFiles)(
      StreamSources.timeOrdered(spark, dir, nFiles, _), new SessionAffinityState(_))(_.merge)
      .report(spark)

  /** Queries entry (oracle: same SQL as `capture_recapture`): the
    * shared per-user span state. */
  def streamCaptureRecapture(spark: SparkSession, dir: String): DataFrame =
    userSpan(spark, dir).reportCapture(spark)

  /** Queries entry (oracle: same SQL as `label_centroids`): the
    * embedding corpus staged as 4 files and replayed one file per
    * micro-batch. */
  def streamLabelCentroids(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_lcent_", dir, nFiles)(
      StreamSources.staged(graft.sources.Tables.embeddings(spark, dir), nFiles, _),
      new LabelCentroidState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `pii_density`): the documents
    * corpus staged as 4 files and replayed one per micro-batch through
    * the additive per-source PII grid. */
  def streamPiiDensity(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_spii_", dir, nFiles)(
      StreamSources.staged(graft.sources.Tables.documents(spark, dir), nFiles, _),
      new PiiSourceState(_))(_.merge).report(spark)

  /** Queries entry (oracle: same SQL as `decontaminate_semantic`):
    * the corpus embeddings staged as 4 files and screened one
    * micro-batch at a time against the broadcast eval side — the
    * daily-ingest contamination gate. Verdicts are per-vector and
    * STATELESS given the eval set, so the state is append-only. */
  def streamDecontaminateSemantic(spark: SparkSession, dir: String,
                                  nEval: Int = 20, nFiles: Int = 4): DataFrame =
    StreamUtil.drained(spark, "graft_sdecon_", dir, nEval, nFiles)(
      StreamSources.staged(graft.operators.VectorOps.corpusSide(spark, dir, nEval), nFiles, _),
      new SemanticVerdictState(_, dir, nEval))(_.merge).report(spark)
}

/** Additive per-source PII grid —
  * [[graft.operators.TextOps.piiDensityCounts]]'s twin: every column
  * of the per-source partial (docs, pii_docs, per-class matches,
  * chars) is a sum, so the state merges exactly under any batching;
  * |sources| rows total. Report is the shared
  * [[graft.operators.TextOps.piiDensityFromCounts]] (parity by
  * shared code). Replay-guarded per-batch deltas
  * ([[StreamUtil.AdditiveState]]). */
final class PiiSourceState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "source STRING, docs BIGINT, pii_docs BIGINT, n_emails BIGINT, " +
    "n_phones BIGINT, n_ips BIGINT, n_chars BIGINT",
    Seq("source"), StreamUtil.sums("docs", "pii_docs", "n_emails", "n_phones", "n_ips", "n_chars"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.operators.TextOps.piiDensityCounts(batch.toDF())
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.TextOps.piiDensityFromCounts(state.read(spark))
}

/** Append-only semantic-decontamination verdict state —
  * [[graft.operators.VectorOps.decontaminateSemanticVerdicts]]'s
  * twin. Each corpus vector arrives in exactly one micro-batch and
  * its verdict depends only on the (broadcast) eval side, so each
  * batch APPENDS its own verdict delta (the delta-append layout of
  * [[StreamUtil.VersionedState]], one `verdicts` store — the verdict
  * table grows with the corpus; rewriting the accumulation per batch
  * would be quadratic write volume). */
final class SemanticVerdictState(stateDir: String, dir: String, nEval: Int) {
  private val state = new StreamUtil.VersionedState(stateDir, Seq("verdicts"))

  private def prior(spark: SparkSession): DataFrame = state.prior(spark,
    "vec_id BIGINT, nearest_eval_id BIGINT, max_cosine DOUBLE, is_kept BOOLEAN", "verdicts")

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.commit(batchId) {
    val spark = batch.sparkSession
    val verdicts = graft.operators.VectorOps.decontaminateSemanticVerdicts(
      graft.operators.VectorOps.evalSide(spark, dir, nEval), batch.toDF())
    StreamUtil.writeSharded(verdicts, state.at(batchId, "verdicts"), Seq("vec_id"))
  }

  def report(spark: SparkSession): DataFrame =
    prior(spark).orderBy(col("vec_id"))
}

/** DSIR doc-bucket grid state —
  * [[graft.operators.CorpusQa.dsirDocBuckets]] delta-appended per
  * micro-batch to the `grid` store: docs are immutable and batches
  * id-disjoint, so each batch's hashed-feature counts land once and
  * are never rewritten (the corpus-scale append discipline —
  * versioned rewrite would be quadratic write volume). CRUCIALLY both
  * bucket LMs and every doc weight derive at REPORT time through the
  * batch operator's own [[graft.operators.CorpusQa.dsirFromDocBuckets]]:
  * a weight frozen at ingest would be scored against a stale target
  * model (the same final-center argument as the conformal state).
  *
  * WITH RETRACTIONS (`retractions`) each batch row carries an `op`
  * row-kind: 'u' rows delta-append their counts, 'd' rows delta-append
  * the doc_id to a `tomb` store, and [[live]] masks the grid (doc_id
  * anti-join) BEFORE the bucket LMs and weights derive — a retracted
  * doc leaves both the output AND the target/proposal models (a
  * weight scored against LMs that still count dead docs would
  * silently bias the mixture). [[compact]] is
  * [[CorpusFilterState.compact]]'s protocol on the grid, with the same
  * delete-wins-within-horizon retention contract. */
final class DsirGridState(stateDir: String, retractions: Boolean = false) {
  private val tombs = new StreamUtil.Tombstones(retractions)
  private val state = new StreamUtil.VersionedState(stateDir, "grid" +: tombs.stores)

  /** The serving read of the grid: minus the tombstoned docs. */
  private def live(spark: SparkSession): DataFrame = tombs.live(spark, state,
    state.prior(spark, "doc_id BIGINT, lang STRING, bucket BIGINT, c BIGINT", "grid"), Seq("doc_id"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.commit(batchId) {
    val df = batch.toDF()
    // grid ∥ tomb (guide §2.6): independent jobs, so they overlap.
    StreamUtil.inParallel(
      (() => StreamUtil.writeSharded(graft.operators.CorpusQa.dsirDocBuckets(tombs.upserts(df)),
        state.at(batchId, "grid"), Seq("doc_id"))) +: tombs.write(state, batchId, df): _*)
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.CorpusQa.dsirFromDocBuckets(live(spark))

  def compact(spark: SparkSession): Unit =
    state.compact(compactionStores(spark))

  private[graft] def compactionStores(
      spark: SparkSession): Seq[(String, DataFrame, Seq[String])] =
    ("grid", live(spark), Seq("doc_id")) +: tombs.truncated(spark, state)
}

/** Streaming BPE-training state — the word-frequency dict
  * ([[graft.operators.TextOps.wordFreqTransform]]) merged additively
  * per batch (vocab-scale, the tokenizer-training state any subword
  * fit keeps); the k-round merge learning runs at REPORT time over
  * the final dict through the batch operator's own
  * [[graft.operators.TextOps.bpeTrainFromVocab]] — merge rules
  * depend on GLOBAL pair counts, so learning incrementally per batch
  * would lock in early-corpus rules (the stale-model argument, BPE
  * edition). */
final class WordFreqState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "word STRING, cnt BIGINT",
    Seq("word"), StreamUtil.sums("cnt"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.operators.TextOps.wordFreqTransform(batch.toDF())
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.TextOps.bpeTrainFromVocab(state.read(spark))
}

/** QI-cell × user grid — [[graft.operators.Experiments
  * .anonymityGrid]] merged additively (per-cell-per-user record
  * counts are sums of sums; the user dimension makes the distinct-
  * user read idempotent). Report = the batch k-anonymity derivation. */
final class AnonymityGridState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "event_type STRING, dow BIGINT, cents_bucket BIGINT, user_id BIGINT, c BIGINT",
    Seq("event_type", "dow", "cents_bucket", "user_id"), StreamUtil.sums("c"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    graft.operators.Experiments.anonymityGrid(batch.toDF())
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.Experiments.kAnonymityFromGrid(state.read(spark))
}

/** Per-(source, word) count grid — ONE additive state serving the
  * trained-tokenizer fertility face: the pooled training dict is the
  * over-sources sum of the same grid, so merges, segmentation, and
  * every per-source bill derive at report time through
  * [[graft.operators.TextOps.bpeFertilityFromGrid]]. */
final class SourceWordState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "source STRING, word STRING, c BIGINT",
    Seq("source", "word"), StreamUtil.sums("c"))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    batch.select(col("source"),
      explode(split(col("text"), " ")).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.TextOps.bpeFertilityFromGrid(state.read(spark))
}

/** Streaming hybrid-retrieval index — the serve-while-ingesting
  * shape: each micro-batch of documents delta-appends its inverted-
  * index postings ([[graft.operators.VectorOps.hybridPostings]] —
  * the index build does NOT know the queries) to the `post` store and
  * its embedding rows to `emb`; at report time queries, corpus stats,
  * df, and both rankings derive from the accrued index through the
  * batch operator's own fusion core
  * ([[graft.operators.VectorOps.hybridFromIndex]]). Both stores are
  * append-only because docs are immutable and batches id-disjoint
  * (the corpus-scale append discipline).
  *
  * WITH RETRACTIONS (`retractions`) — the CDC family's tombstone
  * discipline ([[CdcCompact]] 10a' semantics — reference
  * src/process.py:189's changelog-stream delete handling applied to a
  * serving index instead of a sink): each micro-batch row carries an
  * `op` column; 'u' rows delta-append their postings and embedding as
  * above, 'd' rows delta-append the doc_id to a third, `tomb` store.
  * Serving ([[live]]) masks both stores through a tombstone
  * anti-join, so a retracted doc LEAVES the serving index; the batch
  * oracle is the same fusion SQL over the tombstone-compacted live
  * corpus.
  *
  * Semantics are delete-wins (tombstone-forever): a tombstone
  * removes the doc no matter the arrival order, which keeps every
  * store order-free and idempotent — the same commutativity
  * discipline as the additive grids, and what makes crash-replay
  * safe without sequence numbers.
  *
  * Scale shape: the tombstone set is retraction-scale (≪ corpus);
  * the masks are equi-anti-joins against delta stores that are
  * already hash-sharded on the doc id. [[compact]] is the periodic
  * job ([[CorpusFilterState.compact]]'s protocol): it rewrites each
  * store as its serving read and truncates the tombstone store — the
  * serving read is unchanged either way, and later queries stop
  * scoring dead postings. */
final class HybridIndexState(stateDir: String, nQueries: Int, retractions: Boolean = false) {
  private val stores = scala.collection.immutable.ListMap(
    "post" -> ("doc_id BIGINT, dl BIGINT, term STRING, tf BIGINT", "doc_id"),
    "emb" -> ("vec_id BIGINT, embedding ARRAY<FLOAT>", "vec_id"))
  private val tombs = new StreamUtil.Tombstones(retractions)
  private val state = new StreamUtil.VersionedState(stateDir, stores.keys.toSeq ++ tombs.stores)

  /** The serving read of `store`: minus the tombstoned docs. */
  private def live(spark: SparkSession, store: String): DataFrame = {
    val (ddl, key) = stores(store)
    tombs.live(spark, state, state.prior(spark, ddl, store), Seq(key))
  }

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.commit(batchId) {
    val df = batch.toDF()
    val ups = tombs.upserts(df)
    // Null-tolerant halves: the staging full-outer-joins docs to
    // embeddings, so a doc with no embedding (null embedding) still
    // feeds the sparse index, and an embedding with no doc (null
    // text) still feeds the vector store — matching the batch
    // operator, which reads the two tables independently.
    // post ∥ emb ∥ tomb (guide §2.6): independent jobs, so they
    // overlap.
    StreamUtil.inParallel(Seq(
      () => StreamUtil.writeSharded(
        graft.operators.VectorOps.hybridPostings(
          ups.filter(col("text").isNotNull).select(col("doc_id"), col("text"))),
        state.at(batchId, "post"), Seq("doc_id")),
      () => StreamUtil.writeSharded(
        ups.filter(col("embedding").isNotNull)
          .select(col("doc_id").as("vec_id"), col("embedding")),
        state.at(batchId, "emb"), Seq("vec_id"))) ++ tombs.write(state, batchId, df): _*)
  }

  def report(spark: SparkSession): DataFrame =
    graft.operators.VectorOps.hybridFromIndex(live(spark, "post"), live(spark, "emb"), nQueries)

  def compact(spark: SparkSession): Unit =
    state.compact(compactionStores(spark))

  private[graft] def compactionStores(
      spark: SparkSession): Seq[(String, DataFrame, Seq[String])] =
    stores.toSeq.map { case (n, (_, key)) => (n, live(spark, n), Seq(key)) } ++
      tombs.truncated(spark, state)
}

/** Streaming semantic-dedup index — the serve-while-ingesting shape
  * of [[graft.operators.VectorOps.semanticClustersIvf]]: centroids
  * are FIXED configuration (a real platform trains them offline and
  * ships them with the job — the stream_ab_cuped cutoff convention),
  * each micro-batch delta-appends its probed rows and is IVF-screened
  * against the accumulated probe index (batch × seen + batch ×
  * batch, never seen × seen — [[graft.operators.VectorOps
  * .ivfPairsIncremental]], the corpus-filter incremental discipline
  * on the IVF index instead of the LSH index); verified pairs
  * accrue, and the report runs the SAME min-label component election
  * as the batch path. Under id-disjoint batching the accrued pair
  * set equals the batch pair set, so drained ≡ batch (the parity
  * spec's contract). */
final class SemanticIvfState(stateDir: String, cents: Array[Float],
                             threshold: Double, nProbe: Int) {
  private val state = new StreamUtil.VersionedState(stateDir, Seq("probe", "pairs"))

  private def probeDdl = "vec_id BIGINT, embedding ARRAY<FLOAT>, pcell INT"

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.commit(batchId) {
    val spark = batch.sparkSession
    // Write the probe delta FIRST, then screen from the just-written
    // parquet: the pair join references the batch probe twice (batch ×
    // (seen ∪ batch)), so probing the in-flight plan recomputed the
    // per-row centroid scan per reference.
    val batchProbe = graft.operators.VectorOps.ivfProbeRows(
      batch.toDF().select(col("vec_id"), col("embedding")), cents, nProbe)
    StreamUtil.writeSharded(batchProbe, state.at(batchId, "probe"), Seq("vec_id"))
    val seen = state.prior(spark, probeDdl, "probe")
    val newPairs = graft.operators.VectorOps.ivfPairsIncremental(
      StreamUtil.readDeltaAt(spark, state.at(batchId, "probe"), probeDdl),
      seen, threshold)
    StreamUtil.writeSharded(newPairs, state.at(batchId, "pairs"), Seq("vec_a"))
  }

  def report(spark: SparkSession): DataFrame = {
    // memo-registered so GraftCaches.clearAll releases the persisted
    // label table
    val labels = StreamUtil.labelsCache
      .getOrElseUpdate((spark, stateDir, state.version)) {
        graft.operators.Dedup.propagateMinLabels(spark,
          state.prior(spark, "vec_a BIGINT, vec_b BIGINT", "pairs")
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")),
          maxIters = 60, who = "streamSemanticIvf")
      }
    state.prior(spark, probeDdl, "probe")
      .select(col("vec_id")).distinct()
      .join(labels.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("lbl"), col("vec_id")).as("cluster_rep"))
      .withColumn("is_kept", col("cluster_rep") === col("vec_id"))
      .orderBy(col("vec_id"))
  }
}

/** Streaming Naive-Bayes training state —
  * [[graft.operators.CorpusQa.nbLangClassifierTransform]]'s twin:
  * the classifier's sufficient statistics are two ADDITIVE count
  * grids (per-(class, token) counts and per-class doc priors, two
  * stores of one [[StreamUtil.AdditiveState]]), so the model trains
  * incrementally with one map-side-combinable aggregate per batch;
  * the evaluation face re-reads the staged corpus and scores it
  * through the SAME `nbConfusionFromState` derivation the batch
  * operator runs. This is the online shape of every
  * retrain-as-data-arrives quality/language filter. */
final class NbLangState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir, Seq(
    Store("grid", "lang STRING, tok STRING, cnt BIGINT",
      Seq("lang", "tok"), StreamUtil.sums("cnt")),
    Store("priors", "lang STRING, n_docs BIGINT",
      Seq("lang"), StreamUtil.sums("n_docs"))))

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.mergeStores(batchId) {
    val (grid, priors) = graft.operators.CorpusQa.nbTrainCounts(batch.toDF())
    Map("grid" -> grid, "priors" -> priors)
  }

  /** Evaluation face: confusion matrix of the trained model over the
    * given corpus (the staged input the stream just drained). */
  def confusion(spark: SparkSession, docsPath: String): DataFrame =
    graft.operators.CorpusQa.nbConfusionFromState(
      state.read(spark, "grid"), state.read(spark, "priors"), spark.read.parquet(docsPath))
}

object NbLangStream {

  /** Queries entry (oracle: same SQL as `nb_lang_classifier`): the
    * documents corpus staged as 4 files, trained through the
    * additive NB state one micro-batch at a time, then evaluated on
    * the same staged corpus through the shared scoring derivation. */
  def streamNbLang(spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame = {
    val work = graft.GraftCaches.trackTempDir("graft_snb_")
    val state = new NbLangState(s"$work/state")
    StreamSources.runForeachBatch(
      StreamSources.staged(graft.sources.Tables.documents(spark, dir), nFiles, work), state.merge)
    state.confusion(spark, s"$work/input")
  }
}
