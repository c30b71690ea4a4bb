package graft

import scala.util.Try

import org.apache.spark.sql.execution.SparkPlan

/** Every [[SparkEntry.queries]] function called ONCE per test JVM, for
  * the gates that each need the whole registry (the row gate in
  * BatchOperatorsSpec, the two plan audits in PlanAuditSpec). About
  * 150 entries run full streaming replays inside the call, so each
  * extra pass over the registry cost minutes of suite time.
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
    val out = SparkEntry.queries.toSeq.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val r = Try {
        val df = fn(spark, sf)
        (df.queryExecution.sparkPlan, df.count())
      }
      Entry(name, r, (System.nanoTime() - t0) / 1e9)
    }
    println(f"query sweep: ${out.size} entries in ${out.map(_.seconds).sum}%.1f s; slowest 20:")
    out.sortBy(-_.seconds).take(20).foreach(e => println(f"  ${e.seconds}%8.2f s  ${e.name}"))
    out
  }
}
