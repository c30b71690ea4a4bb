package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming faces for the graph-analytics family: the co-engagement
  * graph maintained INCREMENTALLY. The state is not the graph — it is
  * the distinct (user_id, item) PRESENCE set, which merges by set
  * union (idempotent: replays and duplicate deliveries are free) —
  * and the graph is a pure read: the per-user item cap, the pair
  * counts, the top-E edge cut, and the centrality iterations all
  * derive through the batch operators' own code
  * ([[graft.operators.Behavior.coEngagementFromItems]] →
  * [[graft.operators.Graph.pagerankTransform]]/`katzTransform`), so
  * stream/batch parity is by construction.
  *
  * Why presence and not edges: per-batch edge counts do NOT merge —
  * a user contributing items across two micro-batches creates pairs
  * that neither batch sees locally. The presence set is the minimal
  * state from which every cross-batch pair is recoverable, and it is
  * bounded by distinct (user, item) pairs — the same cardinality the
  * batch query's first aggregate materializes.
  *
  * Each batch commits its distinct pairs as one delta behind the
  * replay guard, and a read takes the distinct union
  * ([[StreamUtil.AdditiveState]] with no measures). */
final class UserItemState(stateDir: String) {
  private val state = new StreamUtil.AdditiveState(stateDir,
    "user_id BIGINT, item BIGINT",
    Seq("user_id", "item"), Nil)

  def merge(batch: Dataset[Row], batchId: Long): Unit = state.merge(batchId) {
    // NULL items kept: the batch twin's per-user item count includes
    // them (they only drop at the pair filter), and the ≤50 cap must
    // see the identical count
    batch
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .distinct()
  }

  private def edges(spark: SparkSession): DataFrame =
    graft.operators.Behavior
      .coEngagementFromItems(state.read(spark), maxItems = 50, minSupport = 1L)
      .orderBy(col("n_users").desc, col("item_a"), col("item_b"))
      .limit(800)
      .select(col("item_a"), col("item_b"))

  /** PageRank over the state-derived graph — the batch transform on
    * the read-time edge cut. */
  def reportPagerank(spark: SparkSession): DataFrame =
    graft.operators.Graph.pagerankTransform(edges(spark))

  /** SECOND face: Katz centrality over the same presence state. */
  def reportKatz(spark: SparkSession): DataFrame =
    graft.operators.Graph.katzTransform(edges(spark))

  /** THIRD face: degree assortativity over the same presence state —
    * the mixing-structure one-liner next to the centrality reads. */
  def reportAssortativity(spark: SparkSession): DataFrame =
    graft.operators.Graph.degreeAssortativityTransform(edges(spark))

  /** FOURTH face: k-core decomposition over the same presence state
    * (the h-index locality iteration is a pure read over the
    * state-derived edge cut, like the centrality faces). */
  def reportKCore(spark: SparkSession): DataFrame =
    graft.operators.Graph.kCoreTransform(edges(spark))

  /** FIFTH face: personalized PageRank over the same presence state
    * — the seed-local relevance read next to the global centralities. */
  def reportPpr(spark: SparkSession): DataFrame =
    graft.operators.Graph.pprTransform(edges(spark))

  /** SIXTH face: the derandomized random-walk corpus over the same
    * presence state — graph-embedding training data as a pure read. */
  def reportRandomWalks(spark: SparkSession): DataFrame =
    graft.operators.Graph.randomWalksTransform(edges(spark))

  /** SEVENTH face: sampled harmonic centrality over the same
    * presence state. */
  def reportHarmonic(spark: SparkSession): DataFrame =
    graft.operators.Graph.harmonicCentralityTransform(edges(spark))

  /** EIGHTH face: sampled betweenness over the same presence state. */
  def reportBetweenness(spark: SparkSession): DataFrame =
    graft.operators.Graph.betweennessTransform(edges(spark))
}

object GraphStream {

  /** The presence state behind all eight faces below: the event
    * stream drained once per input ([[StreamUtil.drained]]) — no
    * staging needed, set union merges in any delivery order. */
  private def presence(spark: SparkSession, dir: String) =
    StreamUtil.drained(spark, "graft_sgraph_", dir)(
      _ => StreamSources.events(spark, dir), new UserItemState(_))(_.merge)

  /** Queries entry (oracle: same SQL as `pagerank_items`). */
  def streamPagerank(spark: SparkSession, dir: String): DataFrame =
    presence(spark, dir).reportPagerank(spark)

  /** Queries entry (oracle: same SQL as `katz_centrality`). */
  def streamKatz(spark: SparkSession, dir: String): DataFrame =
    presence(spark, dir).reportKatz(spark)

  /** Queries entry (oracle: same SQL as `degree_assortativity`). */
  def streamAssortativity(spark: SparkSession, dir: String): DataFrame =
    presence(spark, dir).reportAssortativity(spark)

  /** Queries entry (rows-only, like `k_core` itself — the peel/round
    * count is data-dependent, not a fixed unrolled CTE; gated by the
    * stream≡batch parity spec + k_core's property spec). */
  def streamKCore(spark: SparkSession, dir: String): DataFrame =
    presence(spark, dir).reportKCore(spark)

  /** Queries entry (oracle: same SQL as `ppr_items`). */
  def streamPpr(spark: SparkSession, dir: String): DataFrame =
    presence(spark, dir).reportPpr(spark)

  /** Queries entry (oracle: same SQL as `random_walks`). */
  def streamRandomWalks(spark: SparkSession, dir: String): DataFrame =
    presence(spark, dir).reportRandomWalks(spark)

  /** Queries entry (oracle: same SQL as `harmonic_centrality`). */
  def streamHarmonic(spark: SparkSession, dir: String): DataFrame =
    presence(spark, dir).reportHarmonic(spark)

  /** Queries entry (rows-only like `betweenness_centrality` itself —
    * the depth-peeled backward recurrence has no fixed relational
    * unrolling; gated by the stream≡batch parity spec + the batch
    * operator's Brandes-reference spec). */
  def streamBetweenness(spark: SparkSession, dir: String): DataFrame =
    presence(spark, dir).reportBetweenness(spark)
}
