package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Behavior

/** Planted-scenario semantics for the behavioral-analytics family —
  * each transform is fed a hand-built events frame whose expected
  * output is computable by hand, covering the edges the corpus-level
  * DuckDB oracle exercises only statistically (lookback expiry,
  * carry-forward through intervening conversions, same-timestamp
  * ties, leakage-free frames). */
class BehaviorSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  import TestSession._
  override def afterAll(): Unit = GraftCaches.clearAll()
  import spark.implicits._

  private def ev(rows: Seq[(Long, String, Long, String, Double)]): DataFrame =
    rows.toDF("user_id", "ts_s", "event_id", "event_type", "value")
      .withColumn("ts", to_timestamp($"ts_s"))
      .drop("ts_s")

  test("attribution: credits last touch, expires lookback, carries through conversions, breaks ts ties by event_id") {
    val events = ev(Seq(
      // user 1: view -> click -> purchase -> purchase (click credited twice,
      // the second through an intervening purchase)
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "click", 0.0),
      (1L, "2024-01-01 12:00:00", 3L, "purchase", 10.0),
      (1L, "2024-01-01 13:00:00", 7L, "purchase", 1.0),
      // user 2: touch 7.5 days before the purchase -> outside lookback
      (2L, "2024-01-01 00:00:00", 4L, "view", 0.0),
      (2L, "2024-01-08 12:00:00", 5L, "purchase", 5.0),
      // user 3: no touch at all
      (3L, "2024-01-02 00:00:00", 6L, "purchase", 2.0),
      // user 4: view and click at the SAME ts -> higher event_id wins
      (4L, "2024-01-03 00:00:00", 8L, "view", 0.0),
      (4L, "2024-01-03 00:00:00", 9L, "click", 0.0),
      (4L, "2024-01-03 01:00:00", 10L, "purchase", 7.0)))
    val out = Behavior.attributionTransform(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq(("click", 3L, 18.0), ("none", 2L, 7.0)))
  }

  test("transitions: per-user ordered pairs with per-source probabilities") {
    val events = ev(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "click", 0.0),
      (1L, "2024-01-01 12:00:00", 3L, "view", 0.0),
      (2L, "2024-01-01 10:30:00", 4L, "view", 0.0),
      (2L, "2024-01-01 11:30:00", 5L, "click", 0.0)))
    val out = Behavior.transitionsTransform(events).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    // pairs: u1 view->click, click->view; u2 view->click
    assert(out == Seq(("click", "view", 1L, 1.0), ("view", "click", 2L, 1.0)))
  }

  test("decayed leaderboard: exact half-life arithmetic against the corpus max ts") {
    val events = ev(Seq(
      (1L, "2024-01-02 00:00:00", 1L, "view", 100.0), // at t_ref: weight 1
      (1L, "2024-01-01 00:00:00", 2L, "view", 100.0), // 1 half-life old: weight 1/2
      (2L, "2023-12-31 00:00:00", 3L, "view", 100.0))) // 2 half-lives: weight 1/4
    val out = Behavior.decayedTransform(events, topN = 10, halfLifeSec = 86400.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out == Seq((1L, 150.0), (2L, 25.0)))
  }

  test("lag features come strictly from past events (no leakage)") {
    val events = ev(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0),
      (1L, "2024-01-01 10:01:00", 2L, "view", 2.0),
      (1L, "2024-01-01 10:02:00", 3L, "view", 3.0)))
    val rows = Behavior.lagFeaturesTransform(events).collect()
    val r3 = rows.find(_.getLong(0) == 3L).get
    assert(r3.getDouble(3) == 2.0 && r3.getDouble(4) == 1.0) // lag1, lag2
    assert(r3.getDouble(5) == 60.0)                          // gap_seconds
    assert(r3.getDouble(6) == 1.5)                           // avg of PAST values only
    val r1 = rows.find(_.getLong(0) == 1L).get
    assert(r1.isNullAt(3) && r1.isNullAt(5) && r1.isNullAt(6))
  }

  test("co-engagement: pair counts with the heavy-user cap excluding power users") {
    def evp(rows: Seq[(Long, Long, Long)]): DataFrame =
      rows.toDF("user_id", "event_id", "k")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
        .withColumn("event_type", lit("view"))
        .withColumn("props", concat(lit("{\"k\": "), $"k", lit("}")))
    // users 1,2 share items {1,2}; user 3 has {1,3}; user 4 is a
    // power user touching 1..5 (cap 4) and must NOT inflate any pair
    val events = evp(Seq(
      (1L, 1L, 1L), (1L, 2L, 2L),
      (2L, 3L, 1L), (2L, 4L, 2L), (2L, 10L, 2L), // dupe item collapses
      (3L, 5L, 1L), (3L, 6L, 3L)) ++
      (1 to 5).map(i => (4L, 100L + i, i.toLong)))
    val out = graft.operators.Behavior.coEngagementTransform(events, maxItems = 4, minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 2L, 2L))) // only (1,2) reaches support 2; user 4 contributed nothing
  }

  test("diversified top-k: at most perUser rows per user, globally top-ranked") {
    val out = SparkEntry.queries("topk_diversified")(spark, TestSession.sf).collect()
    // per (type, user) cap
    out.groupBy(r => (r.getString(0), r.getLong(3))).foreach { case (key, rows) =>
      assert(rows.length <= 2, s"$key exceeded the per-user cap")
    }
    // ranks are 1..n per type and values non-increasing
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length))
      val vs = sorted.map(_.getDouble(4))
      assert(vs.zip(vs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("anomaly z-score flags a planted outlier and nothing else") {
    val base = (1 to 20).map(i => (1L, f"2024-01-01 10:${i}%02d:00", i.toLong, "x", 10.0))
    val events = ev(base :+ ((1L, "2024-01-01 11:00:00", 99L, "x", 1000.0)))
    val out = Behavior.anomalyTransform(events, nSigma = 2.5).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 21L && r.getLong(2) == 1L)
  }

  test("anomaly MAD: median and MAD survive a planted corruption that flags (50% breakdown)") {
    // values 1..21 dollars -> median 11.00, MAD 5.00; one corrupt 1000.0
    // reading joins the sample (n=22, lower-median k=11) WITHOUT moving
    // either statistic — the robustness a z-score lacks — and is the
    // only row with |x-med|*10 > 25*mad.
    val base = (1 to 21).map(i => (1L, f"2024-01-01 10:${i - 1}%02d:00", i.toLong, "x", i.toDouble))
    val events = ev(base :+ ((2L, "2024-01-01 11:00:00", 99L, "x", 1000.0)))
    val out = Behavior.anomalyMadTransform(events).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "x" && r.getLong(1) == 22L)
    assert(r.getDouble(2) == 11.0 && r.getDouble(3) == 5.0)
    assert(r.getLong(4) == 1L)
  }

  test("first-touch: earliest touch wins, strictly-before + lookback bounds, ties by event_id") {
    val events = ev(Seq(
      // user 1: view then click -> FIRST touch (view) credited, unlike last-touch
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "click", 0.0),
      (1L, "2024-01-01 12:00:00", 3L, "purchase", 10.0),
      // user 2: only touch is 7.5 days before the purchase -> outside window
      (2L, "2024-01-01 00:00:00", 4L, "view", 0.0),
      (2L, "2024-01-08 12:00:00", 5L, "purchase", 5.0),
      // user 3: touch at the SAME instant as the purchase -> excluded (strictly before)
      (3L, "2024-01-02 00:00:00", 6L, "view", 0.0),
      (3L, "2024-01-02 00:00:00", 7L, "purchase", 2.0),
      // user 4: two touches at the same earliest ts -> smaller event_id (click) wins
      (4L, "2024-01-03 00:00:00", 9L, "click", 0.0),
      (4L, "2024-01-03 00:00:00", 10L, "view", 0.0),
      (4L, "2024-01-03 01:00:00", 11L, "purchase", 7.0)))
    val out = Behavior.firstTouchTransform(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq(("click", 1L, 7.0), ("none", 2L, 7.0), ("view", 1L, 10.0)))
  }

  test("top paths: prefix capped at depth, deterministic in-path order, counted across users") {
    val events = ev(Seq(
      // users 1 and 2 share the prefix view>click>purchase
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 10:01:00", 2L, "click", 0.0),
      (1L, "2024-01-01 10:02:00", 3L, "purchase", 0.0),
      (2L, "2024-01-01 10:00:00", 4L, "view", 0.0),
      (2L, "2024-01-01 10:01:00", 5L, "click", 0.0),
      (2L, "2024-01-01 10:02:00", 6L, "purchase", 0.0),
      // user 3: four events but depth 3 keeps only the first three
      (3L, "2024-01-01 10:00:00", 7L, "error", 0.0),
      (3L, "2024-01-01 10:01:00", 8L, "error", 0.0),
      (3L, "2024-01-01 10:02:00", 9L, "view", 0.0),
      (3L, "2024-01-01 10:03:00", 10L, "purchase", 0.0)))
    val out = Behavior.topPathsTransform(events, depth = 3, topN = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("view>click>purchase", 2L), ("error>error>view", 1L)))
  }

  test("frequent sequences: first-occurrence order, subsequence (not prefix) semantics") {
    val events = ev(Seq(
      // user 1: view -> click -> view -> purchase; type timeline v<c<p
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 10:05:00", 2L, "click", 0.0),
      (1L, "2024-01-01 10:10:00", 3L, "view", 0.0),   // repeat: ignored (first occurrence rules)
      (1L, "2024-01-01 10:15:00", 4L, "purchase", 0.0),
      // user 2: view -> purchase (no click)
      (2L, "2024-01-02 09:00:00", 5L, "view", 0.0),
      (2L, "2024-01-02 09:30:00", 6L, "purchase", 0.0)))
    val out = Behavior.frequentSequencesTransform(events, topN = 100).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out("view") == 2L && out("purchase") == 2L && out("click") == 1L)
    assert(out("view>purchase") == 2L)       // subsequence skips the middle click for user 1
    assert(out("view>click>purchase") == 1L)
    assert(!out.contains("click>view"))      // click is AFTER view's first occurrence everywhere
  }

  test("association rules: exact integer confidence and lift on a planted basket") {
    import org.apache.spark.sql.functions.{col, format_string}
    // users 1..10: all have item 1; users 1..5 also item 2 => n_users=10,
    // n_1=10, n_2=5, n_12=5; conf(1->2)=0.5, conf(2->1)=1.0, lift=1.0
    val rows = (1 to 10).map(u => (u.toLong, 1L)) ++ (1 to 5).map(u => (u.toLong, 2L))
    val events = rows.toDF("user_id", "item")
      .select(col("user_id"), format_string("{\"k\": %d}", col("item")).as("props"))
    val out = Behavior.associationRulesTransform(events, maxItems = 50, minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (2L, 1L, 5L, 10000L, 10000L),   // conf 1.0 first
      (1L, 2L, 5L, 5000L, 10000L)))
  }

  test("key skew: shares, cumulative shares, and uniform-normalized ratio") {
    import org.apache.spark.sql.functions.{col, format_string}
    // items: 1 x5, 2 x3, 3 x1, 4 x1  (total 10, 4 keys)
    val items = Seq(1L, 1L, 1L, 1L, 1L, 2L, 2L, 2L, 3L, 4L)
    val events = items.zipWithIndex.toDF("item", "i")
      .select(format_string("{\"k\": %d}", col("item")).as("props"))
    val out = Behavior.keySkewTransform(events, topN = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    assert(out == Seq(
      (1L, 5L, 0.5, 0.5, 2.0),   // 5/10, cum 5/10, 5*4/10
      (2L, 3L, 0.3, 0.8, 1.2)))  // 3/10, cum 8/10, 3*4/10
  }

  test("rfm: rank quartiles are deterministic and partition the base, 1 = best") {
    // 8 users, one event each on distinct days with distinct values:
    // recency/frequency/monetary all resolve by the metric itself
    // (freq ties broken by user_id) and each quartile gets 2 users.
    val events = ev((1 to 8).map { i =>
      (i.toLong, f"2024-01-$i%02d 00:00:00", i.toLong, "view", i * 10.0)
    })
    val out = Behavior.rfmSegmentsTransform(events).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.map(_._4).sum == 8L)                    // every user in exactly one segment
    assert(out.forall(t => t._1 >= 1 && t._1 <= 4 && t._2 >= 1 && t._2 <= 4 && t._3 >= 1 && t._3 <= 4))
    // user 8 (latest, richest) lands in (r=1, f by user-id tiebreak, m=1);
    // monetary quartile 1 holds users 7+8 -> 70+80 = 150.0 total
    assert(out.filter(_._3 == 1).map(_._6).sum == 150.0)
    // recency quartile 4 holds users 1+2 -> 10+20 = 30.0
    assert(out.filter(_._1 == 4).map(_._6).sum == 30.0)
  }

  test("item similarity: jaccard from consistent capped user sets") {
    def evp(rows: Seq[(Long, Long, Long)]): DataFrame =
      rows.toDF("user_id", "event_id", "k")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
        .withColumn("event_type", lit("view"))
        .withColumn("props", concat(lit("{\"k\": "), $"k", lit("}")))
    // users 1,2,3 all touch item 1; users 1,2 touch item 2:
    // J(1,2) = |{1,2}| / |{1,2,3} u {1,2}| = 2/3
    val events = evp(Seq(
      (1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 1L),
      (1L, 4L, 2L), (2L, 5L, 2L)))
    val out = Behavior.itemSimilarityTransform(events, maxItems = 50, minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq((1L, 2L, 3L, 2L, 2L, 0.666667)))
  }

  test("item cf recommend: planted scores, owned items excluded, no-candidate users absent") {
    def evp(rows: Seq[(Long, Long, Long)]): DataFrame =
      rows.toDF("user_id", "event_id", "k")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
        .withColumn("event_type", lit("view"))
        .withColumn("props", concat(lit("{\"k\": "), $"k", lit("}")))
    // u1:{1,2} u2:{1,2} u3:{1,3} u4:{2,3}; minSupport 2 keeps only the
    // (1,2) pair: n_1 = 3, n_2 = 3, n_both = 2 -> bp = 20000/4 = 5000.
    // u3 owns 1 -> recommended 2 (score 5000); u4 owns 2 -> recommended
    // 1; u1/u2 own both ends of the only edge -> no rows at all.
    val events = evp(Seq(
      (1L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 1L), (2L, 4L, 2L),
      (3L, 5L, 1L), (3L, 6L, 3L), (4L, 7L, 2L), (4L, 8L, 3L)))
    val out = Behavior.itemCfRecommendTransform(events, maxItems = 50,
        minSupport = 2L, topNbr = 10, topRec = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set((3L, 2L, 5000L, 1L), (4L, 1L, 5000L, 1L)))
  }

  test("engagement gini: zero on uniform counts, exact on a planted skewed corpus") {
    def evk(rows: Seq[(Long, Long)]): DataFrame =
      rows.zipWithIndex.map { case ((u, k), i) => (u, i.toLong, k) }
        .toDF("user_id", "event_id", "k")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
        .withColumn("event_type", lit("view"))
        .withColumn("value", lit(1.0))
        .withColumn("props", concat(lit("{\"k\": "), $"k", lit("}")))
    // uniform: four items, one event each -> G = 0
    val uni = Behavior.engagementGiniTransform(
      evk(Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L)))).collect()(0)
    assert((uni.getLong(0), uni.getLong(1), uni.getDouble(2)) == ((4L, 4L, 0.0)))
    // skewed: counts (1,1,1,97) -> sorted ranks give
    // wsum = 1+2+3+4*97 = 394; G = (2*394 - 5*100)/(4*100) = 0.72
    val skew = Behavior.engagementGiniTransform(
      evk(Seq((1L, 1L), (1L, 2L), (1L, 3L)) ++ (1 to 97).map(i => (i.toLong, 4L)))).collect()(0)
    assert((skew.getLong(0), skew.getLong(1), skew.getDouble(2)) == ((4L, 100L, 0.72)))
  }

  test("changepoint cusum: planted level shift, zero-filled gap day is the peak") {
    // counts by day: d1=2, d2=2, d3 MISSING (zero-filled), d4=8, d5=8.
    // T=5, N=20; dev_t = 5*S_t - 20*t: -10, -20, -40, -20, 0 — the
    // ingestion-gap day carries the max |dev| and is the changepoint.
    def rows(day: Int, k: Int): Seq[(Long, String, Long, String, Double)] =
      (1 to k).map(i => (1L, f"2024-01-0$day 0$i:00:00", day * 100L + i, "e", 1.0))
    val events = ev(rows(1, 2) ++ rows(2, 2) ++ rows(4, 8) ++ rows(5, 8))
    val out = Behavior.changepointCusumTransform(events)
      .collect().map(r => (r.getTimestamp(0).toString.take(10),
        r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(out == Seq(
      ("2024-01-01", 2L, -10L, false), ("2024-01-02", 2L, -20L, false),
      ("2024-01-03", 0L, -40L, true), ("2024-01-04", 8L, -20L, false),
      ("2024-01-05", 8L, 0L, false)))
  }

  test("metric correlations: planted perfect correlation and anti-correlation, zero-filled grid") {
    // a and b move together (r = 1); a and c move oppositely (r = -1).
    // Day 3 has no 'c' row at all -> zero-fill puts c = 0 there, which
    // keeps the anti-correlation exact: a = (1,2,3), c = (3,2,0)? no -
    // use two days only for c so the fill makes c = (30,20,0) vs
    // a = (10,20,30): r(a,c) is NOT -1 then. Plant exact series
    // instead: a = (10,20,30), b = (20,40,60), c = (30,20,10).
    val events = ev(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "a", 10.0),
      (1L, "2024-01-02 00:00:00", 2L, "a", 20.0),
      (1L, "2024-01-03 00:00:00", 3L, "a", 30.0),
      (1L, "2024-01-01 00:00:00", 4L, "b", 20.0),
      (1L, "2024-01-02 00:00:00", 5L, "b", 40.0),
      (1L, "2024-01-03 00:00:00", 6L, "b", 60.0),
      (1L, "2024-01-01 00:00:00", 7L, "c", 30.0),
      (1L, "2024-01-02 00:00:00", 8L, "c", 20.0),
      (1L, "2024-01-03 00:00:00", 9L, "c", 10.0)))
    val out = Behavior.metricCorrelationsTransform(events).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    assert(out(("a", "b")) == 1.0 && out(("a", "c")) == -1.0 && out(("b", "c")) == -1.0)
  }

  test("metric correlations: missing day zero-fills (n identical for every pair)") {
    val events = ev(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "a", 10.0),
      (1L, "2024-01-02 00:00:00", 2L, "a", 20.0),
      (1L, "2024-01-01 00:00:00", 3L, "b", 5.0))) // b missing day 2 -> 0
    val rows = Behavior.metricCorrelationsTransform(events).collect()
    assert(rows.length == 1 && rows.head.getLong(2) == 2L)
    // a = (10,20), b = (5,0): r = -1 exactly
    assert(rows.head.getDouble(3) == -1.0)
  }

  test("lifecycle: new/retained/resurrected/churned with zero-activity day fill") {
    val events = ev(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),  // u1 new on d1
      (2L, "2024-01-01 11:00:00", 2L, "view", 0.0),  // u2 new on d1
      (1L, "2024-01-02 10:00:00", 3L, "view", 0.0),  // u1 retained d2; u2 churns at d2
      (1L, "2024-01-04 10:00:00", 4L, "view", 0.0),  // d3 empty; u1 resurrected d4
      (3L, "2024-01-04 11:00:00", 5L, "view", 0.0))) // u3 new on d4
    val out = Behavior.lifecycleTransform(events).collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(out == Seq(
      //  day        active new retained resurrected churned
      ("2024-01-01", 2L, 2L, 0L, 0L, 0L),
      ("2024-01-02", 1L, 0L, 1L, 0L, 1L),   // u2 gone
      ("2024-01-03", 0L, 0L, 0L, 0L, 1L),   // u1 gone (temporarily)
      ("2024-01-04", 2L, 1L, 0L, 1L, 0L)))  // u1 back, u3 new
  }

  test("interevent histogram: exact power-of-two buckets from µs arithmetic") {
    val events = ev(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 10:00:00", 2L, "view", 0.0),  // gap 0s  -> bucket 0 [0,0]
      (1L, "2024-01-01 10:00:03", 3L, "view", 0.0),  // gap 3s  -> bucket 2 [3,6]
      (1L, "2024-01-01 10:00:10", 4L, "view", 0.0),  // gap 7s  -> bucket 3 [7,14]
      (2L, "2024-01-01 10:00:00", 5L, "view", 0.0),
      (2L, "2024-01-01 10:00:07", 6L, "view", 0.0))) // gap 7s  -> bucket 3
    val out = Behavior.intereventHistogramTransform(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((0L, 0L, 0L, 1L), (2L, 3L, 6L, 1L), (3L, 7L, 14L, 2L)))
  }

  test("mode daily item: count wins, ties break to the smaller item id") {
    def evp(rows: Seq[(String, Long, Long)]): DataFrame =
      rows.zipWithIndex.map { case ((ts, _, k), i) => (1L + i, ts, i.toLong, k) }
        .toDF("user_id", "ts_s", "event_id", "k")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
        .withColumn("event_type", lit("view"))
        .withColumn("props", concat(lit("{\"k\": "), $"k", lit("}")))
    val events = evp(Seq(
      ("2024-01-01 01:00:00", 0L, 7L), ("2024-01-01 02:00:00", 0L, 7L),
      ("2024-01-01 03:00:00", 0L, 9L),                     // day 1: item 7 wins 2/3
      ("2024-01-02 01:00:00", 0L, 5L), ("2024-01-02 02:00:00", 0L, 3L))) // day 2: 1-1 tie -> item 3
    val out = Behavior.modeDailyItemTransform(events).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((7L, 2L, 6666L), (3L, 1L, 5000L)))
  }

  test("rank delta daily: calendar join survives a missing day, new items get null delta") {
    def evp(rows: Seq[(String, Long, Double)]): DataFrame =
      rows.zipWithIndex.map { case ((ts, k, v), i) => (1L + i, ts, i.toLong, k, v) }
        .toDF("user_id", "ts_s", "event_id", "k", "value")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
        .withColumn("event_type", lit("view"))
        .withColumn("props", concat(lit("{\"k\": "), $"k", lit("}")))
    val events = evp(Seq(
      // day 1: item 1 = 300c (rank1), item 2 = 100c (rank2)
      ("2024-01-01 01:00:00", 1L, 3.0), ("2024-01-01 02:00:00", 2L, 1.0),
      // day 2: item 2 overtakes (rank1, climbed +1), item 3 NEW (null delta)
      ("2024-01-02 01:00:00", 2L, 5.0), ("2024-01-02 02:00:00", 3L, 2.0),
      // day 4 after a fully EMPTY day 3: a LAG-based prev would wrongly
      // read day 2; the calendar join must yield null prev_rank
      ("2024-01-04 01:00:00", 2L, 1.0)))
    val out = Behavior.rankDeltaDailyTransform(events).collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1), r.getLong(2),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSeq
    assert(out == Seq(
      ("2024-01-01", 1L, 1L, None, None), ("2024-01-01", 2L, 2L, None, None),
      ("2024-01-02", 1L, 2L, Some(2L), Some(1L)), ("2024-01-02", 2L, 3L, None, None),
      ("2024-01-04", 1L, 2L, None, None)))
  }

  test("ewma daily: dyadic weights halve per day, zero-filled gap day dilutes the average") {
    val events = ev(Seq(
      (1L, "2024-01-01 01:00:00", 1L, "view", 1.0),   // day 1: 100c
      // day 2 empty -> zero-filled
      (1L, "2024-01-03 01:00:00", 2L, "view", 2.0)))  // day 3: 200c
    val out = Behavior.ewmaDailyTransform(events).collect()
      .map(r => (r.getTimestamp(1).toString.take(10), r.getLong(2), r.getDouble(3))).toSeq
    // d1: 100; d2: (0·2 + 100)/3; d3: (200·4 + 0·2 + 100)/7
    assert(out == Seq(
      ("2024-01-01", 100L, 100.0),
      ("2024-01-02", 0L, BigDecimal(100.0 / 3).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble),
      ("2024-01-03", 200L, BigDecimal(900.0 / 7).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("pareto users: integer 80% threshold, ceil-decile share") {
    val events = ev(Seq(
      (1L, "2024-01-01 01:00:00", 1L, "view", 0.50),
      (2L, "2024-01-01 02:00:00", 2L, "view", 0.30),
      (3L, "2024-01-01 03:00:00", 3L, "view", 0.20)))
    val r = Behavior.paretoUsersTransform(events).collect().head
    // cum 50,80,100 of 100: first rn with 5·cum >= 4·100 is rn=2;
    // decile = ceil(3/10) = 1 user -> share 50/100
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)) ==
      (3L, 100L, 2L, 0.5))
  }

  test("boxplot stats: ceil-k discrete quartiles, integer Tukey fences catch only the spike") {
    val events = ev(
      (1 to 8).map(i => (i.toLong, "2024-01-01 01:00:00", i.toLong, "view", i / 100.0)) :+
        (9L, "2024-01-01 02:00:00", 9L, "view", 1.00))
    val r = Behavior.boxplotStatsTransform(events).collect().head
    // cents 1..8,100 (n=9): q1 = 3rd = 3, med = 5th = 5, q3 = 7th = 7;
    // high fence 2c > 5·7 − 3·3 = 26 -> only 100; low fence empty
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6), r.getLong(7)) == (9L, 3L, 5L, 7L, 4L, 0L, 1L))
  }

  test("cdc scd2: no-op changes extend intervals, boundaries chain, latest stays open") {
    val events = ev(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "view", 0.0),   // same state -> same interval
      (1L, "2024-01-01 12:00:00", 3L, "click", 0.0),
      (1L, "2024-01-01 13:00:00", 4L, "view", 0.0),   // state REVISITED -> new version
      (2L, "2024-01-02 09:00:00", 5L, "purchase", 0.0)))
    val out = graft.operators.Engagement.cdcScd2Transform(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3).toString.take(19),
        if (r.isNullAt(4)) None else Some(r.getTimestamp(4).toString.take(19)),
        r.getBoolean(5))).toSeq
    assert(out == Seq(
      (1L, 1L, "view", "2024-01-01 10:00:00", Some("2024-01-01 12:00:00"), false),
      (1L, 2L, "click", "2024-01-01 12:00:00", Some("2024-01-01 13:00:00"), false),
      (1L, 3L, "view", "2024-01-01 13:00:00", None, true),
      (2L, 1L, "purchase", "2024-01-02 09:00:00", None, true)))
  }

  test("seasonality profile: epoch-day dow (0=Sunday), integer shares and uniform deviation") {
    val events = ev(Seq(
      (1L, "2024-01-01 01:10:00", 1L, "v", 0.0),  // Monday  -> dow 1
      (2L, "2024-01-01 01:20:00", 2L, "v", 0.0),
      (3L, "2024-01-01 01:30:00", 3L, "v", 0.0),
      (4L, "2024-01-07 01:00:00", 4L, "v", 0.0))) // Sunday  -> dow 0
    val out = Behavior.seasonalityProfileTransform(events).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // total 4: Sunday cell 1/4 -> 2500 bp, dev 168e4/4 - 1e4; Monday 3/4
    assert(out == Seq((0L, 1L, 1L, 2500L, 410000L), (1L, 1L, 3L, 7500L, 1250000L)))
  }

  test("percentile bands: ceil-k discrete percentiles from the daily count grid") {
    val events = ev((1 to 10).map(i =>
      (i.toLong, "2024-01-01 01:00:00", i.toLong, "view", i / 100.0)))
    val r = Behavior.percentileBandsDailyTransform(events).collect().head
    // cents 1..10: p50 -> k=5 -> 5; p90 -> k=9 -> 9; p99 -> k=10 -> 10
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == (10L, 5L, 9L, 10L))
  }

  test("type user overlap: consistent denominators from one distinct basis") {
    val events = ev(Seq(
      (1L, "2024-01-01 01:00:00", 1L, "a", 0.0),
      (2L, "2024-01-01 02:00:00", 2L, "a", 0.0),
      (2L, "2024-01-01 03:00:00", 3L, "a", 0.0),  // dup (a,2) collapses
      (2L, "2024-01-01 04:00:00", 4L, "b", 0.0),
      (3L, "2024-01-01 05:00:00", 5L, "b", 0.0)))
    val r = Behavior.typeUserOverlapTransform(events).collect().head
    // U_a={1,2}, U_b={2,3} -> both 1, jaccard 1/3
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getDouble(5)) == ("a", "b", 2L, 2L, 1L, 0.333333))
  }

  test("revenue hhi: exact share-squared sum on planted item cents") {
    def evp(rows: Seq[(Long, Double)]): org.apache.spark.sql.DataFrame =
      rows.zipWithIndex.map { case ((k, v), i) =>
        (1L + i, "2024-01-01 01:00:00", i.toLong, k, v) }
        .toDF("user_id", "ts_s", "event_id", "k", "value")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
        .withColumn("event_type", lit("view"))
        .withColumn("props", concat(lit("{\"k\": "), $"k", lit("}")))
    val r = Behavior.revenueHhiTransform(evp(Seq((1L, 3.0), (2L, 1.0)))).collect().head
    // cents 300,100 -> HHI = (300² + 100²)/400² = 0.625
    assert((r.getLong(1), r.getLong(2), r.getDouble(3)) == (2L, 400L, 0.625))
  }

  test("welch t-test: hand-computed t and df on planted two-sample cents") {
    val events = ev(Seq(
      (1L, "2024-01-01 01:00:00", 1L, "a", 1.0),  // a: 100, 200 cents
      (2L, "2024-01-01 02:00:00", 2L, "a", 2.0),
      (3L, "2024-01-01 03:00:00", 3L, "b", 1.0),  // b: 100, 100 cents
      (4L, "2024-01-01 04:00:00", 4L, "b", 1.0)))
    val r = Behavior.abWelchTtestTransform(events).collect().head
    // var_a = 5000, var_b = 0 -> t = 50/√2500 = 1, df = 2500²/2500² = 1
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getDouble(4), r.getDouble(5)) == ("a", "b", 2L, 2L, 1.0, 1.0))
  }

  private def attribRows(df: DataFrame): Seq[(String, Long, Double)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq

  test("linear attribution: equal split across in-window touches, lookback expiry, none bucket") {
    val events = ev(Seq(
      // user 1: 2 views + 1 click then purchase 9.0 -> view 6, click 3
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "view", 0.0),
      (1L, "2024-01-01 12:00:00", 3L, "click", 0.0),
      (1L, "2024-01-01 13:00:00", 4L, "purchase", 9.0),
      // user 2: only touch is 8 days old -> none
      (2L, "2024-01-01 00:00:00", 5L, "view", 0.0),
      (2L, "2024-01-09 00:00:00", 6L, "purchase", 5.0),
      // user 3: no touches at all -> none
      (3L, "2024-01-02 00:00:00", 7L, "purchase", 2.0)))
    assert(attribRows(operators.MultiTouch.linearTransform(events)) ==
      Seq(("click", 1L, 3.0), ("none", 2L, 7.0), ("view", 1L, 6.0)))
  }

  test("position attribution: U-shape 40/20/40, and the n=1 / n=2 degenerate splits") {
    val events = ev(Seq(
      // user 1: view,click,view,click then purchase 10 ->
      // first(view) .4 + middle view .1 = 5; last(click) .4 + middle click .1 = 5
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "click", 0.0),
      (1L, "2024-01-01 12:00:00", 3L, "view", 0.0),
      (1L, "2024-01-01 13:00:00", 4L, "click", 0.0),
      (1L, "2024-01-01 14:00:00", 5L, "purchase", 10.0),
      // user 2: single click -> 100% click
      (2L, "2024-01-01 10:00:00", 6L, "click", 0.0),
      (2L, "2024-01-01 11:00:00", 7L, "purchase", 4.0),
      // user 3: view then click -> 50/50
      (3L, "2024-01-01 10:00:00", 8L, "view", 0.0),
      (3L, "2024-01-01 11:00:00", 9L, "click", 0.0),
      (3L, "2024-01-01 12:00:00", 10L, "purchase", 6.0)))
    assert(attribRows(operators.MultiTouch.positionTransform(events)) ==
      Seq(("click", 3L, 12.0), ("view", 2L, 8.0)))
  }

  test("sequence count: non-overlapping v>c>p with interleaving allowed") {
    val events = ev(Seq(
      // user 1: two full sequences
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "click", 0.0),
      (1L, "2024-01-01 12:00:00", 3L, "purchase", 0.0),
      (1L, "2024-01-01 13:00:00", 4L, "view", 0.0),
      (1L, "2024-01-01 14:00:00", 5L, "click", 0.0),
      (1L, "2024-01-01 15:00:00", 6L, "purchase", 0.0),
      // user 2: an error interleaves but does not break the match
      (2L, "2024-01-01 10:00:00", 7L, "view", 0.0),
      (2L, "2024-01-01 11:00:00", 8L, "error", 0.0),
      (2L, "2024-01-01 12:00:00", 9L, "click", 0.0),
      (2L, "2024-01-01 13:00:00", 10L, "purchase", 0.0),
      // user 3: no view -> no sequence
      (3L, "2024-01-01 10:00:00", 11L, "click", 0.0),
      (3L, "2024-01-01 11:00:00", 12L, "purchase", 0.0)))
    val out = operators.Sequences.sequenceCountTransform(events).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((0L, 1L), (1L, 1L), (2L, 1L)))
  }

  test("strict-order funnel: interleaving breaks the attempt, a view restarts it") {
    val events = ev(Seq(
      // user 1: error between view and click kills the attempt -> depth 1
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "error", 0.0),
      (1L, "2024-01-01 12:00:00", 3L, "click", 0.0),
      (1L, "2024-01-01 13:00:00", 4L, "purchase", 0.0),
      // user 2: view,view,click,purchase -> second view restarts, depth 3
      (2L, "2024-01-01 10:00:00", 5L, "view", 0.0),
      (2L, "2024-01-01 11:00:00", 6L, "view", 0.0),
      (2L, "2024-01-01 12:00:00", 7L, "click", 0.0),
      (2L, "2024-01-01 13:00:00", 8L, "purchase", 0.0),
      // user 3: never views -> depth 0
      (3L, "2024-01-01 10:00:00", 9L, "purchase", 0.0)))
    val out = operators.Sequences.funnelStrictTransform(events).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((0L, 1L), (1L, 1L), (3L, 1L)))
  }

  test("any-order funnel: completion regardless of order, grouped by first stage, exact spans") {
    val events = ev(Seq(
      // user 1: click first, completes in 7200s
      (1L, "2024-01-01 10:00:00", 1L, "click", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "view", 0.0),
      (1L, "2024-01-01 12:00:00", 3L, "purchase", 0.0),
      // user 2: purchase first (reverse order), 3600s
      (2L, "2024-01-01 10:00:00", 4L, "purchase", 0.0),
      (2L, "2024-01-01 10:30:00", 5L, "click", 0.0),
      (2L, "2024-01-01 11:00:00", 6L, "view", 0.0),
      // user 3: never clicks -> not complete
      (3L, "2024-01-01 10:00:00", 7L, "view", 0.0),
      (3L, "2024-01-01 11:00:00", 8L, "purchase", 0.0)))
    val out = operators.Sequences.funnelAnyOrderTransform(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq(("click", 1L, 7200.0), ("purchase", 1L, 3600.0)))
  }

  test("interval coalesce: overlap merges, touching merges, gaps split") {
    import org.apache.spark.sql.functions.to_timestamp
    val li = Seq(
      // supplier 1: [0,5) ∪ [3,8) merge; [8,9) touches -> still one
      // island [0,9); [11,12) splits -> 2 islands, 10 covered days
      (1L, "1970-01-01 00:00:00", 5.0, 1L, 1),
      (1L, "1970-01-04 00:00:00", 5.0, 2L, 1),
      (1L, "1970-01-09 00:00:00", 1.0, 3L, 1),
      (1L, "1970-01-12 00:00:00", 1.0, 4L, 1),
      // supplier 2: a single interval
      (2L, "1970-01-01 00:00:00", 3.0, 5L, 1))
      .toDF("l_suppkey", "ship", "l_quantity", "l_orderkey", "l_linenumber")
      .withColumn("l_shipdate", to_timestamp($"ship")).drop("ship")
    val out = operators.Intervals.intervalCoalesceTransform(li).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 2L, 10L), (2L, 1L, 3L)))
  }

  test("temperature mix: sqrt weighting keeps small sources whole while tempering the head") {
    val dir = GraftCaches.trackTempDir("graft_mixt_")
    // srcA: 90 docs, srcB: 10 docs, budget 2/5 of 100 = 40.
    // wA=⌊√90e6⌋=9486, wB=⌊√10e6⌋=3162, w_tot=12648 →
    // target_A = 40·9486 div 12648 = 30, target_B = 40·3162 div 12648 = 10
    // → B's rate is 10/10 = 1 (kept WHOLE), A's is 30/90 = 1/3.
    val rows = (1L to 90L).map(i => (i, s"doc $i", "en", "srcA", 5L)) ++
      (91L to 100L).map(i => (i, s"doc $i", "en", "srcB", 5L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = operators.Sampling.corpusMixTemperature(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (a, b) = kept.partition(_._2 == "srcA")
    assert(b.length == 10, s"srcB kept ${b.length}/10 — α-sampling must keep the tail whole")
    assert(a.length < 60 && a.length > 10, s"srcA kept ${a.length}/90 — expected ~1/3")
  }

  test("nearest as-of: exact tie goes backward, forward-only and no-order users handled") {
    import org.apache.spark.sql.functions.to_timestamp
    val dir = GraftCaches.trackTempDir("graft_asof_")
    Seq(
      (1L, "2024-01-01 12:00:00", 1L, "view", 0.0, "{}"),  // tie: orders 1h both sides
      (2L, "2024-01-01 12:00:00", 2L, "view", 0.0, "{}"),  // only a later order -> f
      (3L, "2024-01-01 12:00:00", 3L, "view", 0.0, "{}"))  // no orders -> nulls
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq(
      (10L, 1L, "O", 5.0, "2024-01-01 11:00:00", "p"),
      (11L, 1L, "O", 6.0, "2024-01-01 13:00:00", "p"),
      (12L, 2L, "O", 7.0, "2024-01-02 09:00:00", "p"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "od_s", "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp($"od_s")).drop("od_s")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = operators.Engagement.asofJoinNearest(spark, dir).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) "-" else r.getString(4))).toSeq
    assert(out == Seq((1L, 10L, "b"), (2L, 12L, "f"), (3L, -1L, "-")))
  }

  test("rolling retention: day-N-or-later semantics per cohort") {
    val events = ev(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),   // cohort Jan 1
      (1L, "2024-01-09 10:00:00", 2L, "view", 0.0),   // back day 8: r1+r7, not r14
      (2L, "2024-01-01 12:00:00", 3L, "view", 0.0),   // never returns
      (3L, "2024-01-02 10:00:00", 4L, "view", 0.0),   // cohort Jan 2
      (3L, "2024-01-17 10:00:00", 5L, "view", 0.0)))  // back day 15: all three
    val out = operators.Retention.rollingRetentionTransform(events).collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(("2024-01-01", 2L, 1L, 1L, 0L), ("2024-01-02", 1L, 1L, 1L, 1L)))
  }

  test("peak concurrency: overlapping sessions stack, disjoint do not, closes beat opens on ties") {
    val events = ev(Seq(
      // day 1: u1 session 10:00-10:10, u2 session 10:05-10:15 -> peak 2
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 10:10:00", 2L, "view", 0.0),
      (2L, "2024-01-01 10:05:00", 3L, "view", 0.0),
      (2L, "2024-01-01 10:15:00", 4L, "view", 0.0),
      // u4 disjoint evening session -> n_sessions 3, peak stays 2
      (4L, "2024-01-01 20:00:00", 5L, "view", 0.0),
      // day 2: one single-event session
      (3L, "2024-01-02 09:00:00", 6L, "view", 0.0)))
    val out = operators.Retention.peakConcurrencyTransform(events).collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(("2024-01-01", 2L, 3L), ("2024-01-02", 1L, 1L)))
  }

  test("time-decay attribution: half-life halving sets the shares, expiry excluded") {
    val events = ev(Seq(
      // user 1: view 2 days before (w=.25), click 1 day before (w=.5)
      // -> shares 1/3, 2/3 of 9.0 -> view 3, click 6
      (1L, "2024-01-08 00:00:00", 1L, "view", 0.0),
      (1L, "2024-01-09 00:00:00", 2L, "click", 0.0),
      (1L, "2024-01-10 00:00:00", 3L, "purchase", 9.0),
      // user 2: touch 8 days old -> outside lookback -> none
      (2L, "2024-01-01 00:00:00", 4L, "click", 0.0),
      (2L, "2024-01-09 00:00:00", 5L, "purchase", 5.0)))
    assert(attribRows(operators.MultiTouch.timeDecayTransform(events)) ==
      Seq(("click", 1L, 6.0), ("none", 1L, 5.0), ("view", 1L, 3.0)))
  }

  test("funnel excluding: error strictly inside the journey excludes, outside does not") {
    val events = ev(Seq(
      // u1: view -> error -> purchase: converted but DIRTY
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "error", 0.0),
      (1L, "2024-01-01 12:00:00", 3L, "purchase", 1.0),
      // u2: view -> purchase -> error (after): clean
      (2L, "2024-01-01 10:00:00", 4L, "view", 0.0),
      (2L, "2024-01-01 11:00:00", 5L, "purchase", 1.0),
      (2L, "2024-01-01 12:00:00", 6L, "error", 0.0),
      // u3: view only: counted in users_view, not converted
      (3L, "2024-01-01 10:00:00", 7L, "view", 0.0),
      // u4: error BEFORE the view: clean
      (4L, "2024-01-01 09:00:00", 8L, "error", 0.0),
      (4L, "2024-01-01 10:00:00", 9L, "view", 0.0),
      (4L, "2024-01-01 11:00:00", 10L, "purchase", 1.0),
      // u5: purchase before the first view only: not a conversion
      (5L, "2024-01-01 09:00:00", 11L, "purchase", 1.0),
      (5L, "2024-01-01 10:00:00", 12L, "view", 0.0)))
    val r = operators.Engagement.funnelExcludingTransform(events).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("users_view") == 5L)
    assert(r(0).getAs[Long]("converted") == 3L)
    assert(r(0).getAs[Long]("clean_converted") == 2L)
    assert(r(0).getAs[Double]("clean_rate") == 0.666667)
  }

  test("user type entropy: uniform mix hits the log2 ceiling, one-trick users land in bucket 0") {
    val events = ev(Seq(
      // u1: 2+2 over two types -> H = 1.0 exactly -> bucket 4
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "view", 0.0),
      (1L, "2024-01-01 12:00:00", 3L, "click", 0.0),
      (1L, "2024-01-01 13:00:00", 4L, "click", 0.0),
      // u2: all views -> H = 0 -> bucket 0
      (2L, "2024-01-01 10:00:00", 5L, "view", 0.0),
      (2L, "2024-01-01 11:00:00", 6L, "view", 0.0),
      // u3: 3/1 split -> H = 2 - 0.75*log2(3) ~ 0.811 -> bucket 3
      (3L, "2024-01-01 10:00:00", 7L, "view", 0.0),
      (3L, "2024-01-01 11:00:00", 8L, "view", 0.0),
      (3L, "2024-01-01 12:00:00", 9L, "view", 0.0),
      (3L, "2024-01-01 13:00:00", 10L, "click", 0.0)))
    val r = operators.Behavior.userTypeEntropyTransform(events).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(0L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("bot burst screen: peak-minute and sustained-rate flags, organic users pass") {
    val events = ev(
      // u1: 12 events inside one minute -> peak 12 >= 10 -> flagged
      (0 until 12).map(i => (1L, f"2024-01-01 10:00:$i%02d", 100L + i, "view", 0.0)) ++
      // u2: 10 events in 10 distinct minutes -> peak 1, 1/min -> clean
      (0 until 10).map(i => (2L, f"2024-01-01 11:$i%02d:00", 200L + i, "view", 0.0)) ++
      // u3: 6 events in one minute -> peak 6 < 10 BUT 6 >= 5x1 active
      (0 until 6).map(i => (3L, f"2024-01-01 12:00:$i%02d", 300L + i, "view", 0.0)))
    val r = operators.Behavior.botBurstScreenTransform(events).collect()
    assert(r.map(_.getAs[Long]("user_id")).toSeq == Seq(1L, 3L, 2L))
    val byU = r.map(x => x.getAs[Long]("user_id") -> x).toMap
    assert(byU(1L).getAs[Long]("peak_minute_events") == 12L)
    assert(byU(1L).getAs[Boolean]("flagged"))
    assert(byU(3L).getAs[Boolean]("flagged"))
    assert(!byU(2L).getAs[Boolean]("flagged"))
    assert(byU(2L).getAs[Long]("active_minutes") == 10L)
  }

  test("decile_lift: a perfectly ranked converter gives decile-1 lift = N/C") {
    import spark.implicits._
    // 10 users, scores 10..1 by event count; only the top scorer
    // converts -> decile 1 holds the one converter, lift = 10
    val rows = (1L to 10L).flatMap { u =>
      (1L to (11L - u)).map(i => (u, "view")) ++
        (if (u == 1L) Seq((u, "purchase")) else Nil)
    }
    val events = rows.toDF("user_id", "event_type")
    val out = operators.Behavior.decileLiftTransform(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4))).toSeq
    assert(out.length == 10)
    assert(out.head == ((1L, 1L, 1L, 10.0)))
    assert(out.tail.forall(_._4 == 0.0))
  }
}
