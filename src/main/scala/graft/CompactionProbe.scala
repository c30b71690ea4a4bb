package graft

/** Measurement harness for the delta-store compaction: the same
  * phased retraction ingest ([[graft.streaming.StreamSources
  * .replayCompacted]], the staging of [[graft.streaming
  * .CorpusFilterStream.streamCorpusFilterCompacted]] — upserts, early
  * retractions, more upserts, late retractions) run twice over
  * identical inputs, once compacting after the retraction phase and
  * once not. Prints ONE JSON line with per-phase drain wall times
  * (the four phases are staged upfront, outside the timings), the
  * state-store bytes after each phase, and the final report time —
  * the probe/read-volume numbers BASELINE.md's compaction entry
  * records. Not a queries entry: this is a harness, its output is a
  * measurement, not a result table.
  *
  * `runMain graft.CompactionProbe` (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS as for Bench).
  */
object CompactionProbe {

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val out = new StringBuilder
    Seq(false, true).foreach { doCompact =>
      val mode = if (doCompact) "compact" else "nocompact"
      val work = GraftCaches.trackTempDir(s"graft_cprobe_${mode}_")
      val (ups, dels) = streaming.StreamSources.docChangelog(sources.Tables.documents(spark, sfDir))
      val state = new streaming.CorpusFilterState(s"$work/state", 0.5, retractions = true)
      // (step, seconds, state bytes after it), in replay order
      val steps = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long)]
      streaming.StreamSources.replayCompacted(work, ups, dels, state.merge,
        () => if (doCompact) state.compact(spark),
        (name, run) => {
          val (_, sec) = timed(run())
          steps += ((name, sec, dirBytes(s"$work/state")))
        })
      val compacted = steps.find(_._1 == "compact").filter(_ => doCompact)
      val parts = steps.filter(_._1 != "compact").map { case (name, sec, bytes) =>
        compacted.filter(_ => name == "B_deletes") match {
          case Some((_, cSec, cBytes)) =>
            s""""$name":{"sec":$sec,"compact_sec":$cSec,"bytes_after_compact":$cBytes,"state_bytes":$cBytes}"""
          case None => s""""$name":{"sec":$sec,"state_bytes":$bytes}"""
        }
      }
      val (_, repSec) = timed {
        state.report(spark, 0.5, Seq("en")).write.format("noop").mode("overwrite").save()
      }
      out ++= s""""$mode":{${parts.mkString(",")},"report_sec":$repSec},"""
      GraftCaches.clearAll()
      spark.catalog.clearCache()
    }
    println(s"""{"metric":"compaction_probe","sf":"$sfDir",${out.dropRight(1)}}""")
    spark.stop()
  }
}
