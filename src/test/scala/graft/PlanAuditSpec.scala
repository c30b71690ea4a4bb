package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** The whole-suite plan audit, promoted from a manual round-end
  * `graft.Explain` read to a gate (round-5 verdict task 3): every
  * `SparkEntry.queries` plan must be free of the two
  * quadratic-at-scale shapes —
  *
  *  - `CartesianProduct`: never acceptable in this library; every
  *    pairwise operator (jaccard, edit-distance, neardup, ANN…) is
  *    required to block/bucket/prefix-filter its self-join into an
  *    equi-join.
  *  - `BroadcastNestedLoopJoin`: acceptable ONLY when the build side
  *    is a one-row global aggregate (the "broadcast a stats row"
  *    pattern used by e.g. funnel/ngram_contamination), OR the query
  *    is on the explicit allowlist below with a documented bounded
  *    build side; a BNLJ whose build side can exceed one row
  *    re-introduces an O(n·m) loop.
  *
  * Plans are audited on `queryExecution.sparkPlan` — the physical
  * plan before AQE wrapping, so the audit sees the static join
  * strategy Catalyst picked, and `collectWithSubqueries` descends
  * into scalar-subquery plans as well.
  *
  * Calling each query function at sf0.001 also *executes* the
  * streaming entries' micro-batch replays (their functions run the
  * stream and return the batch result table) — the audit then checks
  * the batch plan those entries hand back, which is exactly the plan
  * a downstream consumer runs against the sink table. The calls are
  * made once per test JVM by [[QuerySweep]], shared with
  * BatchOperatorsSpec's row gate.
  */
class PlanAuditSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  override def afterAll(): Unit = GraftCaches.clearAll()


  /** Queries whose BNLJ build side is intentionally more than one
    * row but BOUNDED by construction — each bound is a parameter or
    * declared baseline, not data volume, so the broadcast stays a
    * few KB at any corpus scale. Kept explicit so a NEW query can
    * never introduce a nested-loop join silently. */
  private val boundedBnljAllowlist: Map[String, String] = Map(
    "ann_topk" -> "broadcasts the nQueries=10-row query side (exact brute-force baseline; corpus streams map-side)",
    "knn_classify" -> "broadcasts the 50-row labeled query side; corpus streams map-side",
    "hard_negatives" -> "broadcasts the 20-row labeled query side (the knn_classify shape); corpus streams map-side",
    "ann_pq_topk" -> "broadcasts the per-query ADC lookup tables — a plan-literal LocalTableScan, few KB",
    "edit_distance_pairs" -> "short-string bucket (len<11) all-pairs — measured-and-documented PassJoin leftover, bucket bounded by the length cut",
    "embedding_neardup" -> "DECLARED exact all-pairs baseline (cosine >= t over every pair); the scale paths are dedup_semantic / ann_*",
    "decontaminate_semantic" -> "broadcasts the nEval=20-row eval/benchmark side (the ann_topk shape); corpus streams map-side with partial aggregation",
    "hybrid_rrf_topk" -> "dense side broadcasts the nQueries=3-row query-vector side (the ann_topk shape); corpus streams map-side, sparse side is an inverted-index equi-join",
    "stream_hybrid_rrf" -> "same fusion core as hybrid_rrf_topk over the accrued index — the nQueries-row query-vector broadcast is the only BNLJ",
    "stream_hybrid_rrf_tombstone" -> "same fusion core over the tombstone-masked index — the nQueries-row query-vector broadcast is the only BNLJ",
    "stream_hybrid_rrf_compacted" -> "same fusion core over the compacted index — the nQueries-row query-vector broadcast is the only BNLJ",
    // semantic_clusters needs NO entry: its pair generation (the
    // embedding_neardup BNLJ, allowlisted above) executes eagerly
    // inside the memoized label construction; the returned plan joins
    // embeddings to the truncated label table and the audit sees no
    // BNLJ (the anti-rot check enforces exactly this).
    "metric_correlations" -> "zero-fill grid broadcasts the DISTINCT event-type list — bounded by metric-dimension cardinality (|types|), not data volume",
    "ab_welch_ttest" -> "pair triangle (type_a < type_b) broadcasts the |types|-row sufficient-stat table — bounded by event-type cardinality, not data volume",
    "source_drift_tv" -> "zero-fill grid broadcasts the DISTINCT source list — bounded by corpus-source cardinality, not data volume",
    "cross_source_dups" -> "zero-fill pair triangle (source_a < source_b) broadcasts the DISTINCT source list — bounded by corpus-source cardinality, not data volume",
    "stream_source_drift" -> "the same zero-fill source-list broadcast as source_drift_tv, derived over the stream's sufficient-count state",
    "chi2_type_dow" -> "zero-fill contingency grid crosses the |types|-row and 7-row marginal lists — bounded by type cardinality x weekdays, not data volume",
    "cramers_v_source_lang" -> "zero-fill contingency grid crosses the |sources|-row and |langs|-row marginal lists — bounded by label cardinalities, not data volume",
    "ks_doclen_sources" -> "union-support grid crosses the |sources| list with the DISTINCT length support (max-doc-length bounded) — grid scale, not data volume",
    "wasserstein_doclen" -> "the SAME union-support grid cross as ks_doclen_sources (W1 walks the identical support with gaps)",
    "stream_wasserstein_doclen" -> "wasserstein_doclen's support grid, derived over the (source, len) state",
    "mann_whitney_u" -> "pair fan-out broadcasts the |types|-row type list over the cents-bounded (type, cents) support grid — both factors cardinality-bounded, not data volume",
    // the streaming faces derive through the SAME shared trees as
    // their allowlisted batch twins, over grid-sized state reads —
    // identical bounded cross-grids, different query names
    "stream_chi2_type_dow" -> "chi2_type_dow's zero-fill contingency grid, derived over the (type, day) state",
    "stream_cramers_v" -> "cramers_v_source_lang's zero-fill grid, derived over the dataset-card state",
    "stream_ks_doclen" -> "ks_doclen_sources' union-support grid, derived over the (source, len) state",
    "stream_mann_whitney" -> "mann_whitney_u's pair fan-out, derived over the (type, cents) state",
  )

  /** One-row build sides are global aggregates (no grouping columns)
    * anywhere below the broadcast — e.g. Aggregate → Project →
    * BroadcastExchange. */
  private def isOneRowBuild(build: SparkPlan): Boolean =
    build.collectWithSubqueries {
      case agg: BaseAggregateExec if agg.groupingExpressions.isEmpty => agg
    }.nonEmpty

  /** Queries with an unpartitioned (single-partition) WindowExec whose
    * in-plan input is NOT an aggregate, but is bounded for a documented
    * reason anyway. The general rule (round-7 verdict task 2, promoted
    * from per-site comments): a global rank/cumsum window is fine ONLY
    * over planning-scale data — an aggregate over bounded keys (vocab,
    * day, item, user), never a fact-scale scan. At 100 TB the remaining
    * global-ordering needs swap in the RangePartitioner slice-locate
    * pattern (SURVEY §2 row 19). */
  private val unpartitionedWindowAllowlist: Map[String, String] = Map(
    // Empty. The VocabState faces (stream_zipf_slope,
    // stream_vocab_coverage) need no entry: their read combines the
    // state's deltas with a groupBy(tok), an aggregate BELOW the
    // window, which the rule recognizes as planning-scale.
  )

  /** Grouping-key names that mark an aggregate as DATA-scale: one
    * output row per user / doc / item / order / event — cardinalities
    * that grow with the corpus (|users| ~ 10⁹ at 100 TB), unlike the
    * planning-scale keys (day, tok, cents, duration, dow, grid cell,
    * slice id) an unpartitioned window may legitimately consume. An
    * unpartitioned WindowExec whose NEAREST aggregate below is keyed
    * on any of these funnels a data-scale table through ONE task —
    * the round-9 verdict's `weak` class — and must instead ride
    * [[graft.operators.GlobalRank.withGlobalOrder]]'s
    * range-partitioned slice rank. */
  private val dataScaleKeys: Set[String] = Set(
    "user_id", "doc_id", "item", "event_id", "session_id",
    "o_orderkey", "l_orderkey", "orderkey", "o_custkey", "c_custkey",
    "s_suppkey", "p_partkey", "ps_partkey", "ps_suppkey")

  test("every unpartitioned Window consumes a pre-aggregated, PLANNING-scale input") {
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    val sawAllowlisted = scala.collection.mutable.Set.empty[String]
    QuerySweep.entries.foreach { e =>
      val name = e.name
      e.plan.collectWithSubqueries {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          // Per-BRANCH bounding walk (round-10 advice: the old
          // pre-order headOption saw only the LEFTMOST bound, so a
          // window over `planning-agg JOIN data-scale-branch` passed
          // on the left branch alone). Each root-to-leaf path of the
          // window's input must cross a bounding node — an aggregate
          // (checked below for data-scale keys) or a SMALL global
          // limit. Broadcast-join build sides are skipped: the
          // planner attested them small, and the probe side is what
          // sets the join's output cardinality.
          import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
          import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec => BHJ, BroadcastNestedLoopJoinExec => BNLJ}
          def branchBounds(p: SparkPlan): Seq[Option[SparkPlan]] = p match {
            case n: BaseAggregateExec => Seq(Some(n))
            case n: GlobalLimitExec => Seq(Some(n))
            case n: TakeOrderedAndProjectExec => Seq(Some(n))
            case n: CollectLimitExec => Seq(Some(n))
            case j: BHJ =>
              branchBounds(j.buildSide match { case BuildLeft => j.right; case BuildRight => j.left })
            case j: BNLJ =>
              branchBounds(j.buildSide match { case BuildLeft => j.right; case BuildRight => j.left })
            case n if n.children.isEmpty => Seq(None)
            case n => n.children.flatMap(branchBounds)
          }
          val bounds = branchBounds(w.child)
          if (bounds.contains(None)) {
            if (unpartitionedWindowAllowlist.contains(name)) sawAllowlisted += name
            else offenders += s"$name: unpartitioned Window with an unbounded input branch\n${w.child.treeString.take(1500)}"
          }
          bounds.flatten.foreach {
            case agg: BaseAggregateExec =>
              val keys = agg.groupingExpressions.flatMap(_.collectLeaves()).collect {
                case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name.toLowerCase
              }.toSet ++ agg.groupingExpressions.map(_.name.toLowerCase)
              val hit = keys.intersect(dataScaleKeys)
              if (hit.nonEmpty)
                offenders += (s"$name: unpartitioned Window over a DATA-scale aggregate " +
                  s"(grouping keys $hit — one task swallows that entity's full cardinality " +
                  s"at 100 TB; use GlobalRank.withGlobalOrder)\n${agg.simpleString(5).take(800)}")
            case l: GlobalLimitExec if l.limit > 100000 =>
              offenders += s"$name: unpartitioned Window bounded only by a large limit (${l.limit})"
            case l: CollectLimitExec if l.limit > 100000 =>
              offenders += s"$name: unpartitioned Window bounded only by a large limit (${l.limit})"
            case l: TakeOrderedAndProjectExec if l.limit > 100000 =>
              offenders += s"$name: unpartitioned Window bounded only by a large top-N (${l.limit})"
            case _ => // a small global limit: parameter-bounded input
          }
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n\n"))
    val stale = unpartitionedWindowAllowlist.keySet -- sawAllowlisted
    assert(stale.isEmpty, s"unpartitioned-window allowlist entries no longer exercised (delete them): $stale")
  }

  test("no CartesianProduct and no wide BroadcastNestedLoopJoin in any query plan") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    val sawAllowlistedBnlj = scala.collection.mutable.Set.empty[String]
    QuerySweep.entries.foreach { e =>
      val name = e.name
      e.plan.collectWithSubqueries {
        case c: CartesianProductExec =>
          offenders += s"$name: CartesianProduct\n${c.simpleString(3)}"
        case b: BroadcastNestedLoopJoinExec =>
          val build = b.buildSide match {
            case BuildLeft  => b.left
            case BuildRight => b.right
          }
          if (boundedBnljAllowlist.contains(name)) sawAllowlistedBnlj += name
          else if (!isOneRowBuild(build))
            offenders += s"$name: BroadcastNestedLoopJoin with non-one-row build side\n${build.treeString.take(2000)}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n\n"))
    // the allowlist must not rot: an entry whose query no longer
    // plans a BNLJ should be deleted, not silently kept
    val stale = boundedBnljAllowlist.keySet -- sawAllowlistedBnlj
    assert(stale.isEmpty, s"allowlist entries with no BNLJ in their plan (delete them): $stale")
  }
}
