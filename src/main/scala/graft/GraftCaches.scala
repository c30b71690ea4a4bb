package graft

import scala.collection.concurrent.TrieMap

/** Central registry for session-lifetime memoized state (persisted
  * DataFrames, drained streaming states and their temp dirs).
  *
  * Operators that feed both sides of a self-join materialize shared
  * tables (persist + eager count — see Dedup.sigTable's rationale)
  * and memoize them per (session, input) so downstream consumers
  * (clustering over the pair list) reuse the work; every streaming
  * state is drained once per (session, drain recipe) and shared by
  * its report faces ([[graft.streaming.StreamUtil.drained]]). That
  * is the right warehouse-scale design —
  * but the memoized blocks outlive the query that built them, which
  * contaminated the round-2 single-session bench (tail queries ran
  * 5-70x over their isolated times against a cache-full JVM).
  *
  * Every memo cache in the codebase is created through [[memo]] so
  * one [[clearAll]] call releases everything: the bench calls it
  * between queries, specs call it after suites. Temp directories
  * created for streaming replays register through [[trackTempDir]]
  * and are deleted on the same hook, together with the memo of the
  * drained states that live in them — so the first face called after
  * a clear drains again instead of reading a deleted dir.
  */
object GraftCaches {

  /** A memo cache with a per-entry cleanup invoked on [[clearAll]]
    * (unpersist for cached DataFrames, recursive delete for temp
    * dirs). */
  final class Memo[K, V] private[GraftCaches] (cleanup: V => Unit) {
    private val m = TrieMap.empty[K, V]
    def getOrElseUpdate(k: K)(v: => V): V = m.getOrElseUpdate(k, v)
    private[GraftCaches] def clear(): Unit = {
      m.values.foreach(v => try cleanup(v) catch { case _: Throwable => () })
      m.clear()
    }
  }

  private val registered =
    new java.util.concurrent.CopyOnWriteArrayList[() => Unit]()

  def memo[K, V](cleanup: V => Unit): Memo[K, V] = {
    val c = new Memo[K, V](cleanup)
    registered.add(() => c.clear())
    c
  }

  /** Streaming replay scratch space (staged inputs, versioned state
    * dirs, checkpoints): created per run, deleted wholesale on
    * [[clearAll]]. */
  def trackTempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir.toString)
    dir.toString
  }

  private val tempDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def deleteRecursively(path: String): Unit = {
    val root = new java.io.File(path)
    def loop(f: java.io.File): Unit = {
      val children = f.listFiles()
      if (children != null) children.foreach(loop)
      f.delete(); ()
    }
    if (root.exists()) loop(root)
  }

  /** Release every registered memoized DataFrame (unpersist), drop
    * all memo entries, and delete tracked temp dirs. Harness hook:
    * the bench calls this (plus `spark.catalog.clearCache()`) between
    * queries so each timing is measured against a clean JVM; specs
    * call it in afterAll so `sbt test` leaks no persisted blocks. */
  def clearAll(): Unit = {
    registered.forEach(f => f())
    tempDirs.forEach(d => try deleteRecursively(d) catch { case _: Throwable => () })
    tempDirs.clear()
  }
}
