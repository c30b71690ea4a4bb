package graft

import scala.util.Try

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Every [[SparkEntry.queries]] function called ONCE per test JVM, for
  * the gates that each need the whole registry (the row gate in
  * BatchOperatorsSpec, the two plan audits in PlanAuditSpec). The
  * ~140 streaming entries start 98 streaming queries (drains) inside
  * their calls — report faces of one state share one drain
  * (`StreamUtil.drained`) — so each extra pass over the registry
  * cost minutes of suite time.
  *
  * Only plain results are kept — the physical plan the audits read
  * (`queryExecution.sparkPlan`) and the row count — never the
  * DataFrame: each suite's `afterAll` runs `GraftCaches.clearAll`,
  * which unpersists memoized tables and deletes the temp dirs the
  * streaming entries' results read, so a kept DataFrame could not be
  * executed by a later suite. A query that throws keeps its failure,
  * and every gate that reads the entry rethrows it.
  */
object QuerySweep {
  final case class Entry(name: String, result: Try[(SparkPlan, Long)], seconds: Double) {
    def plan: SparkPlan = result.get._1
    def rows: Long = result.get._2
  }

  lazy val entries: Seq[Entry] = {
    import TestSession._
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      // called synchronously inside `start()`, so the count is exact
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = started.incrementAndGet()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val out = SparkEntry.queries.toSeq.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val r = Try {
        val df = fn(spark, sf)
        (df.queryExecution.sparkPlan, df.count())
      }
      Entry(name, r, (System.nanoTime() - t0) / 1e9)
    }
    spark.streams.removeListener(listener)
    println(f"query sweep: ${out.size} entries in ${out.map(_.seconds).sum}%.1f s, " +
      s"${started.get} streaming queries started; slowest 20:")
    out.sortBy(-_.seconds).take(20).foreach(e => println(f"  ${e.seconds}%8.2f s  ${e.name}"))
    out
  }
}
