package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Engagement
import graft.sources.Tables

/** Physical CDC tail over JDBC — the last physical face of the
  * reference's ingest (`/root/reference/src/ingest.py:12-36`:
  * postgres-cdc decodes the WAL and relays row-kinded changes into an
  * upsert topic). No WAL decoder is reachable in-sandbox, so the tail
  * is the standard polling shape JDBC-source CDC falls back to (the
  * Kafka-Connect JDBC source's incrementing mode): the database keeps
  * an append-only CHANGELOG table whose monotone `version` column the
  * DATABASE assigns (a Derby `GENERATED ALWAYS AS IDENTITY` — the LSN
  * stand-in; the relay never invents its own ordering), and the tail
  * issues incremental predicate reads
  * `version > lastSeen AND version <= lastSeen + chunk`, feeding each
  * chunk as one micro-batch into the SAME [[CdcCompact]] MERGE the
  * streaming faces use — row-kind tombstones ([[CdcCompact]] 10a'
  * semantics) included, so a key whose latest change is a delete
  * vanishes from the live view.
  *
  * Resume without a side-channel: the poller's high-water mark
  * derives from the compacted state's own committed version
  * (`lastSeen = (batchId) × chunk`), so a restarted tail continues
  * exactly after the last committed chunk, and a crash mid-chunk
  * replays that chunk into the idempotent versioned MERGE
  * ([[CdcCompact.merge]]'s replay guard skips fully-committed
  * batches). The final table is chunk-assignment-free because
  * latest-per-key elects by (ts, event_id), never by arrival — the
  * same order-free discipline as the staged replays.
  *
  * 100 TB shape: each poll reads only the new version range —
  * predicate-pushed to the database and index-backed
  * (`changelog(version)`), splittable across executors via the JDBC
  * partitioning options [[Tables.dimJdbc]] exposes; state size is
  * O(distinct keys) through the shared MERGE. Derby (on Spark's
  * classpath) plays the external RDBMS exactly as in [[JdbcSink]] and
  * [[Tables.dimJdbc]]'s proven read/write paths. */
object JdbcCdcPoll {

  private def q(id: String): String = "\"" + id + "\""

  private def withConn[A](url: String)(f: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "op")

  /** Load the events changelog into Derby with a DB-assigned monotone
    * version: stage via the parallel Spark JDBC writer, then ONE
    * ordered INSERT..SELECT into the identity-versioned changelog, so
    * the version sequence follows (ts, event_id) — the WAL commit
    * order a real log ships. Returns the high version. */
  private[graft] def stageChangelog(spark: SparkSession, dir: String,
                                    url: String): Long = {
    Tables.events(spark, dir)
      .withColumn("op", Engagement.opExpr(col("event_type")))
      .select(cols.map(col): _*)
      .coalesce(4).write.format("jdbc")
      .option("url", url).option("dbtable", q("changelog_stage"))
      .option("batchsize", "10000").mode("overwrite").save()
    withConn(url) { conn =>
      val st = conn.createStatement()
      st.execute(
        s"""CREATE TABLE ${q("changelog")} (
           |  ${q("version")} BIGINT GENERATED ALWAYS AS IDENTITY,
           |  ${q("event_id")} BIGINT, ${q("ts")} TIMESTAMP,
           |  ${q("user_id")} BIGINT, ${q("event_type")} VARCHAR(32),
           |  ${q("value")} DOUBLE, ${q("op")} VARCHAR(8))""".stripMargin)
      st.execute(s"CREATE INDEX ${q("changelog_v_idx")} ON ${q("changelog")} (${q("version")})")
      val colList = cols.map(q).mkString(", ")
      st.execute(
        s"INSERT INTO ${q("changelog")} ($colList) " +
          s"SELECT $colList FROM ${q("changelog_stage")} " +
          s"ORDER BY ${q("ts")}, ${q("event_id")}")
      val rs = st.executeQuery(s"SELECT MAX(${q("version")}) FROM ${q("changelog")}")
      rs.next()
      val hi = rs.getLong(1)
      rs.close(); st.close()
      hi
    }
  }

  /** Tail the changelog from the state's committed high-water mark to
    * `total`, one `chunk`-sized version range per micro-batch.
    * `maxBatches` bounds one invocation (the crash/restart spec's
    * hook); the returned state is the compacted table either way. */
  private[graft] def pollInto(spark: SparkSession, url: String, stateDir: String,
                              total: Long, chunk: Long,
                              maxBatches: Int = Int.MaxValue): CdcCompact = {
    val cdc = new CdcCompact(stateDir)
    var batchId = cdc.committedVersion + 1
    var polled = 0
    while (batchId * chunk < total && polled < maxBatches) {
      val lo = batchId * chunk
      val hi = math.min(total, lo + chunk)
      val part = Tables.dimJdbc(spark, url,
        s"""(SELECT * FROM ${q("changelog")}
           | WHERE ${q("version")} > $lo AND ${q("version")} <= $hi) c""".stripMargin)
        .select(Seq("user_id", "event_id", "ts", "event_type", "value", "op").map(col): _*)
      cdc.merge(part, batchId)
      batchId += 1
      polled += 1
    }
    cdc
  }

  private val dbCtr = new AtomicInteger(0)

  /** SURVEY §2 #10m — queries entry (oracle: `cdc_with_deletes`'s
    * SQL): the events log staged as a Derby changelog, tailed in 4
    * incremental polls through the shared CdcCompact MERGE; returns
    * the live view (tombstoned keys dropped). The state is parquet,
    * so the in-memory database can be dropped before returning. */
  def jdbcCdcPoll(spark: SparkSession, dir: String, nChunks: Int = 4): DataFrame = {
    val db = s"graft_cdctail_${dbCtr.incrementAndGet()}"
    val url = s"jdbc:derby:memory:$db;create=true"
    val total = stageChangelog(spark, dir, url)
    val chunk = math.max(1L, (total + nChunks - 1) / nChunks)
    val work = graft.GraftCaches.trackTempDir("graft_cdcpoll_")
    val cdc = pollInto(spark, url, s"$work/state", total, chunk)
    // the compacted state is PARQUET — the returned plan reads only
    // it, never the database, so the in-memory db drops eagerly (no
    // user-scale driver collect needed, unlike streamRouterJdbc's
    // 4-row route table which lives in Derby itself)
    JdbcSink.dropInMemoryDb(db)
    cdc.live(spark).orderBy(col("user_id"))
  }
}
