package graftbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.{GraftCaches, GraftSession}
import graft.streaming.{CdcCompact, CorpusFilterStream, EngagementStream}

/** Runs one benchmark workload against graft's public entry points and
  * prints one `RESULT {...}` line with the raw timings the benchmark
  * turns into metrics. Every timed round writes its outputs under
  * `<work>/rounds/r<k>` for the benchmark's DuckDB checks.
  *
  * Arguments are `key=value`: workload (engagement_stream |
  * corpus_stream), input, warm, work, seconds, trace (0|1), cores.
  *
  * Untraced, the only listener is a StreamingQueryListener (micro-batch
  * latency is an end-to-end metric). Traced, a SparkListener and spans
  * around every entry call feed the per-layer metrics, and the spans
  * are written to `<work>/spans.json`.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val ops: Workload = workload match {
      case "engagement_stream" => EngagementStreamWorkload
      case "corpus_stream" => CorpusStreamWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // --- set-up: session build, then one warm-up round (JIT, codegen) ---
    val progress = new ProgressListener
    val jobs = new JobListener
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(progress)
    if (traced) spark.sparkContext.addSparkListener(jobs)
    val t1 = System.nanoTime()
    ops.round(spark, a("warm"), s"$work/warm", new Tracer)
    cleanUp(spark)
    val setup = ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    ListenerBusDrain(spark.sparkContext)
    progress.take()
    jobs.reset()

    // --- measured rounds: whole rounds until the time is used ---
    val tracer = new Tracer
    val rounds = mutable.ArrayBuffer.empty[RoundResult]
    val allProgress = mutable.ArrayBuffer.empty[(Int, StreamingQueryProgress)]
    val stateSizes = mutable.ArrayBuffer.empty[(Long, Long)]
    val newPairs = mutable.ArrayBuffer.empty[Long]
    val start = System.nanoTime()
    while (rounds.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      val r = rounds.size
      val out = s"$work/rounds/r$r"
      val rr = tracer("round") { ops.round(spark, a("input"), out, tracer) }
      ListenerBusDrain(spark.sparkContext)
      allProgress ++= progress.take().map(p => (r, p))
      stateSizes += dirStats(ops.stateDirs(out))
      newPairs += ops.pairsDir.map(d => parquetRows(spark, d)).getOrElse(0L)
      rounds += rr
      cleanUp(spark)
    }
    ListenerBusDrain(spark.sparkContext)

    val latencies = allProgress.map(_._2.durationMs.get("triggerExecution").toDouble / 1000.0).toSeq
    val layers =
      if (!traced) Map.empty[String, Double]
      else Layers.compute(ops, rounds.toSeq, allProgress.toSeq, jobs, tracer,
        setup, stateSizes.toSeq, newPairs.toSeq)
    if (traced) Json.writeFile(s"$work/spans.json", tracer.toJson)

    spark.stop()

    val result = Json.obj(
      "main_epoch_ms" -> Json.num(mainEpochMs.toDouble),
      "session_start_s" -> Json.num(setup._1),
      "warmup_s" -> Json.num(setup._2),
      "rounds" -> Json.arr(rounds.toSeq.map(_.toJson)),
      "latencies_s" -> Json.arr(latencies.map(Json.num)),
      "state_bytes" -> Json.arr(stateSizes.toSeq.map(s => Json.num(s._2.toDouble))),
      "vmhwm_kb" -> Json.num(vmHwmKb.toDouble),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
    println("RESULT " + result)
  }

  /** Between rounds, outside every timed span: release the program's
    * memoized tables and temp dirs, the catalog cache, and dead
    * shuffle state (reclaimed only when the JVM collects). */
  def cleanUp(spark: SparkSession): Unit = {
    GraftCaches.clearAll()
    spark.catalog.clearCache()
    System.gc()
  }

  /** (files, bytes) under the given directories, recursively. */
  def dirStats(dirs: Seq[File]): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) { files += 1; bytes += f.length() }
    dirs.foreach(walk)
    (files, bytes)
  }

  /** Row count of every parquet file under `dir`, from the footers —
    * no Spark job, so the traced counters stay those of the workload. */
  def parquetRows(spark: SparkSession, dir: File): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(dir).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def vmHwmKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  /** The program's temp dirs (java.io.tmpdir) whose names start with
    * `prefix` — where the streaming entry points keep their state. */
  def tempDirs(prefix: String): Seq[File] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
}

/** Collects one round: each operation runs in its own span, and an
  * operation that throws is recorded and the round goes on. */
final class Round(t: Tracer) {
  private val times = mutable.LinkedHashMap.empty[String, Double]
  private val errors = mutable.LinkedHashMap.empty[String, String]

  def op(name: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try t(name)(f)
    catch { case e: Throwable =>
      errors(name) = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)
    }
    times(name) = (System.nanoTime() - t0) / 1e9
  }

  def result: RoundResult = RoundResult(times.toMap, errors.toMap)
}

/** Wall time of each operation of one round, and the error of any
  * operation that threw. */
final case class RoundResult(ops: Map[String, Double], errors: Map[String, String]) {
  def toJson: String = Json.obj(
    "ops" -> Json.obj(ops.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
    "errors" -> Json.obj(errors.toSeq.map { case (k, v) => k -> Json.str(v) }: _*))
}

sealed trait Workload {
  /** One round of the workload's operations on `input`, outputs under `out`. */
  def round(spark: SparkSession, input: String, out: String, t: Tracer): RoundResult
  /** The program's state directories at the end of a round. */
  def stateDirs(out: String): Seq[File]
  /** The verified near-dup pair store, where the workload keeps one. */
  def pairsDir: Option[File] = None

  protected def parquetFiles(dir: String): Int =
    Option(new File(dir).listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))
}

/** The changelog backlog through CDC compaction, the three-sink fan-out
  * and the HOP append stream. */
object EngagementStreamWorkload extends Workload {
  def round(spark: SparkSession, input: String, out: String, t: Tracer): RoundResult = {
    val r = new Round(t)
    val nFiles = parquetFiles(s"$input/events.parquet")
    r.op("operators.cdc_drain_s") {
      CdcCompact.streamCdcWithDeletes(spark, input, nFiles).write.parquet(s"$out/cdc_live")
    }
    r.op("operators.fanout_s") {
      val lb = EngagementStream.runFanout(spark, input, s"$out/fanout")
      lb.topN(spark).write.parquet(s"$out/leaderboard_top")
    }
    r.op("operators.hop_append_s") {
      EngagementStream.streamHopAppend(spark, input).write.parquet(s"$out/hop_append")
    }
    r.result
  }

  def stateDirs(out: String): Seq[File] =
    Harness.tempDirs("graft_cdcdel_").map(d => new File(d, "state")) :+
      new File(s"$out/fanout/leaderboard")
}

/** The corpus keep/drop gate as a stream, then its report. */
object CorpusStreamWorkload extends Workload {
  def round(spark: SparkSession, input: String, out: String, t: Tracer): RoundResult = {
    val r = new Round(t)
    val nFiles = parquetFiles(s"$input/documents.parquet")
    r.op("operators.corpus_stream_s") {
      CorpusFilterStream.streamCorpusFilter(spark, input, nFiles).write.parquet(s"$out/report")
    }
    r.result
  }

  def stateDirs(out: String): Seq[File] =
    Harness.tempDirs("graft_scfilter_").map(d => new File(d, "state"))

  override def pairsDir: Option[File] =
    Harness.tempDirs("graft_scfilter_").map(d => new File(d, "state/pairs")).headOption
}

/** In-memory spans: name, start, end and parent, written at the end. */
final class Tracer {
  final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
    var end: Long = 0L
  }
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val runId = java.util.UUID.randomUUID().toString
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds of a span timestamp (to line spans up with
    * Spark's job and progress times). */
  def epochMs(nanos: Long): Double = epochMs0 + (nanos - nano0) / 1e6

  def apply[A](name: String)(f: => A): A = {
    val s = new Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime())
    spans += s
    stack = s.id :: stack
    try f finally { s.end = System.nanoTime(); stack = stack.tail }
  }

  def toJson: String = Json.arr(spans.toSeq.map(s => Json.obj(
    "run" -> Json.str(runId), "id" -> Json.num(s.id.toDouble), "name" -> Json.str(s.name),
    "parent" -> Json.num(s.parent.toDouble), "start_ms" -> Json.num(epochMs(s.start)),
    "end_ms" -> Json.num(epochMs(s.end)))))
}

/** Collects every micro-batch progress report. */
final class ProgressListener extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = q.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def take(): Seq[StreamingQueryProgress] = {
    val b = Seq.newBuilder[StreamingQueryProgress]
    var p = q.poll()
    while (p != null) { b += p; p = q.poll() }
    b.result()
  }
}

/** Job, stage and task counters, keyed by the micro-batch
  * (query id, batch id) each job ran for; `None` outside streams. */
final class JobListener extends SparkListener {
  type Key = Option[(String, Long)]
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var inBytes = 0L; var inRecords = 0L; var outBytes = 0L; var filesWritten = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  val perKey = mutable.Map.empty[Key, Agg]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageKey = mutable.Map.empty[Int, Key]

  private def keyOf(p: java.util.Properties): Key =
    Option(p).flatMap { props =>
      for {
        q <- Option(props.getProperty("sql.streaming.queryId"))
        b <- Option(props.getProperty("streaming.sql.batchId"))
      } yield (q, b.toLong)
    }

  def reset(): Unit = synchronized {
    perKey.clear(); jobIntervals.clear(); jobStartMs.clear(); stageKey.clear()
  }

  private def agg(k: Key): Agg = perKey.getOrElseUpdate(k, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    agg(k).jobs += 1
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(s => stageKey.getOrElseUpdate(s, k))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(stageKey.getOrElse(e.stageInfo.stageId, None)).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = agg(stageKey.getOrElse(e.stageId, None))
    a.tasks += 1
    if (m != null) {
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      if (m.outputMetrics.bytesWritten > 0) a.filesWritten += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
  }
}

/** Per-layer metrics of a traced run, per round unless named per batch. */
object Layers {
  val operatorSpans: Seq[String] =
    Seq("operators.cdc_drain_s", "operators.fanout_s", "operators.hop_append_s",
      "operators.corpus_stream_s")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def compute(w: Workload, rounds: Seq[RoundResult],
              progress: Seq[(Int, StreamingQueryProgress)], jobs: JobListener,
              tracer: Tracer, setup: (Double, Double),
              stateSizes: Seq[(Long, Long)], newPairs: Seq[Long]): Map[String, Double] =
    jobs.synchronized {
      val n = rounds.size.toDouble
      val m = mutable.LinkedHashMap.empty[String, Double]
      m("session.start_s") = setup._1
      m("session.warmup_s") = setup._2

      val aggs = jobs.perKey.values.toSeq
      def total(f: jobs.Agg => Long): Double = aggs.map(f).sum.toDouble
      m("sources.read_rows") = total(_.inRecords) / n
      m("sources.read_bytes") = total(_.inBytes) / n
      m("sources.stream_input_rows") = progress.map(_._2.numInputRows).sum / n
      m("exec.run_s") = total(_.runMs) / 1000.0 / n
      m("exec.cpu_s") = total(_.cpuNs) / 1e9 / n
      m("exec.gc_s") = total(_.gcMs) / 1000.0 / n
      m("operators.shuffle_read_bytes") = total(_.shuffleRead) / n
      m("operators.shuffle_write_bytes") = total(_.shuffleWrite) / n
      m("operators.spill_bytes") = total(_.spill) / n

      // micro-batch phases: per-batch medians of durationMs
      def phase(k: String): Double =
        median(progress.map(_._2.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)))
      m("engine.batches") = progress.size / n
      m("engine.trigger_ms") = phase("triggerExecution")
      m("sources.latest_offset_ms") = phase("latestOffset")
      m("engine.get_batch_ms") = phase("getBatch")
      m("engine.add_batch_ms") = phase("addBatch")
      m("engine.query_planning_ms") = phase("queryPlanning")
      m("engine.wal_commit_ms") = phase("walCommit")
      m("engine.commit_offsets_ms") = phase("commitOffsets")

      val batchAggs = jobs.perKey.toSeq.collect { case (Some(k), a) => k -> a }.toMap
      val nb = math.max(progress.size, 1).toDouble
      val streamAggs = batchAggs.values.toSeq
      m("engine.jobs_per_batch") = streamAggs.map(_.jobs).sum / nb
      m("engine.stages_per_batch") = streamAggs.map(_.stages).sum / nb
      m("engine.tasks_per_batch") = streamAggs.map(_.tasks).sum / nb
      m("state.bytes_written_per_batch") = streamAggs.map(_.outBytes).sum / nb
      m("state.files_written_per_batch") = streamAggs.map(_.filesWritten).sum / nb
      m("state.dir_files") = median(stateSizes.map(_._1.toDouble))

      // bytes read per batch in the first and last quarter of the
      // longest stream of each round (the CDC drain or the corpus drain)
      val quarters = progress.groupBy(_._1).values
        .map(_.map(_._2).groupBy(_.id).values.maxBy(_.size)).toSeq
        .filter(_.size >= 4).map { ps =>
          val bytes = ps.sortBy(_.batchId).map { p =>
            batchAggs.get((p.id.toString, p.batchId)).map(_.inBytes.toDouble).getOrElse(0.0)
          }
          val q = bytes.size / 4
          (bytes.take(q).sum / q, bytes.takeRight(q).sum / q)
        }
      m("state.read_bytes_first_quarter") = median(quarters.map(_._1))
      m("state.read_bytes_last_quarter") = median(quarters.map(_._2))

      // driver time inside the entry calls that no Spark job covered
      val opSpans = tracer.spans.filter(s => operatorSpans.contains(s.name))
      val intervals = jobs.jobIntervals.sortBy(_._1)
      val gap = opSpans.map { s =>
        val (lo, hi) = (tracer.epochMs(s.start), tracer.epochMs(s.end))
        var covered = 0.0
        var cur = lo
        intervals.foreach { case (js, je) =>
          val a = math.max(js.toDouble, cur)
          val b = math.min(je.toDouble, hi)
          if (b > a) { covered += b - a; cur = b }
        }
        (hi - lo) - covered
      }.sum
      m("engine.driver_gap_s") = gap / 1000.0 / n

      operatorSpans.foreach { name =>
        m(name) = median(rounds.flatMap(_.ops.get(name)))
      }
      // corpus stream split: drain (first trigger start to last
      // trigger end) and the report after it
      val (drain, report) = if (w != CorpusStreamWorkload) (0.0, 0.0) else {
        val perRound = rounds.indices.flatMap { r =>
          val ps = progress.filter(_._1 == r).map(_._2)
          val span = tracer.spans.filter(_.name == "operators.corpus_stream_s")
          if (ps.isEmpty || span.size <= r) None else {
            val starts = ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
            val ends = ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
              p.durationMs.get("triggerExecution").toDouble)
            Some(((ends.max - starts.min) / 1000.0,
              (tracer.epochMs(span(r).end) - ends.max) / 1000.0))
          }
        }
        (median(perRound.map(_._1)), median(perRound.map(_._2)))
      }
      m("operators.corpus_drain_s") = drain
      m("operators.corpus_report_s") = report
      m("operators.new_pairs") = median(newPairs.map(_.toDouble))
      m.toMap
    }
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def writeFile(path: String, s: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, s)
  }
}
