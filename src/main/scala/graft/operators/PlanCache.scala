package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.atomic.AtomicLong

/** Memoized session-scoped materializations — persisted subplans,
  * bucketed-table layouts, partitioned rewrites — keyed by
  * (SparkSession, key) and guarded by a fixture signature.
  *
  * Lifecycle rules (each one is an observed failure mode, not theory):
  *  - the SESSION is part of the key: catalog tables and persisted RDDs
  *    die with their owning session, so an entry built under a stopped
  *    session must never be served to a new one (the sbt suite
  *    stops/creates sessions in one JVM);
  *  - a changed fixture signature REPLACES the entry and RELEASES the
  *    stale value (unpersist / drop table / delete dir) — without the
  *    release, superseded persisted DataFrames stay pinned for the JVM
  *    lifetime and a long-lived bench loop accumulates unbounded cache;
  *  - entries whose session has stopped are dropped eagerly on every
  *    access (their distributed state is already gone; only local
  *    resources — temp dirs — still need release);
  *  - the map is BOUNDED: past `maxEntries` the oldest entry is
  *    released and evicted, so a session that loops over many fixture
  *    dirs cannot grow the cache without limit.
  *
  * Hit/miss counters feed the bench's self-diagnosis (`BENCH_r{N}`'s
  * `artifact_cache_hit`): a timed pass that MISSES the cache is paying a
  * build cost the steady state would not, and the JSON should say so.
  */
final class PlanCache[V](val name: String, maxEntries: Int = 8)(
    release: (SparkSession, V) => Unit = (_: SparkSession, _: V) => (),
    releaseLocal: V => Unit = (_: V) => ()) {

  private final case class Entry(sig: Long, value: V)

  // LinkedHashMap for insertion-order eviction; all access synchronized
  // (builds are rare and expensive, contention is irrelevant)
  private val entries =
    scala.collection.mutable.LinkedHashMap.empty[(SparkSession, String), Entry]
  private val hitCount = new AtomicLong
  private val missCount = new AtomicLong
  // cumulative wall nanos spent INSIDE `build` on misses (round-14
  // verdict #1: run-wide hit/miss booleans could not say which bench
  // entry PAID for a shared artifact's rebuild — the bench snapshots
  // this per entry and emits {built, hit, build_sec} rows, so a
  // rebuilt artifact lands on the entry whose window built it)
  private val buildNanosCount = new AtomicLong
  // publishes that STORED a new entry (producer-rule ops: the bench's
  // per-entry rows mark the entry that published an artifact, whose
  // actual build cost runs inside that entry's own passes — persist()
  // is lazy, so put-side timing would read ~0 and mislead)
  private val putCount = new AtomicLong

  PlanCache.register(this)

  private def releaseQuietly(s: SparkSession, v: V): Unit =
    try release(s, v)
    catch { case e: Exception => System.err.println(s"[$name] release: $e") }

  private def releaseLocalQuietly(v: V): Unit =
    try releaseLocal(v)
    catch { case e: Exception => System.err.println(s"[$name] releaseLocal: $e") }

  /** The memoized value for (s, key) at fixture signature `sig`,
    * building (and registering) it on miss or signature change. */
  def get(s: SparkSession, key: String, sig: Long)(build: => V): V = synchronized {
    // stopped sessions: distributed state (persisted RDDs, catalog
    // tables) died with the session, but LOCAL resources — layout
    // temp dirs — did not; run the local-release phase now rather
    // than leaving orphaned dirs to the JVM shutdown hook (a
    // long-lived multi-session JVM looping over fixtures would
    // otherwise accumulate them unboundedly — round-3 ADVICE)
    entries.filterInPlace { case ((sess, _), e) =>
      val alive = !sess.sparkContext.isStopped
      if (!alive) releaseLocalQuietly(e.value)
      alive
    }
    entries.get((s, key)) match {
      case Some(e) if e.sig == sig =>
        hitCount.incrementAndGet()
        e.value
      case stale =>
        missCount.incrementAndGet()
        stale.foreach(e => releaseQuietly(s, e.value))
        entries.remove((s, key))
        while (entries.size >= maxEntries) {
          val (k, e) = entries.head
          releaseQuietly(k._1, e.value)
          entries.remove(k)
        }
        val t0 = System.nanoTime()
        val v = build
        buildNanosCount.addAndGet(System.nanoTime() - t0)
        // round-15 ADVICE: a producer-rule builder may itself publish
        // this same (key, sig) via put() while running (q39's builder
        // calls q39NeardupCapped, which puts its checkpointed output).
        // Keep the entry the build published instead of overwriting it
        // — overwriting orphaned the published checkpoint's blocks and
        // double-counted the materialization.
        entries.get((s, key)) match {
          case Some(e) if e.sig == sig => e.value
          case _ =>
            entries((s, key)) = Entry(sig, v)
            v
        }
    }
  }

  /** PUBLISH an artifact for (s, key): the producing query pushes its
    * result for downstream consumers. Counts as neither hit nor miss —
    * only `get` measures whether a consumer found the artifact.
    *
    * `v` is BY-NAME and a same-signature republish KEEPS the existing
    * entry without evaluating it: artifacts are deterministic functions
    * of the fixture signature, so the incoming value is the same plan —
    * and for persisted DataFrames release-then-replace is actively
    * destructive, because Spark's cache manager keys cached data by
    * sameResult plan: unpersisting the superseded entry would uncache
    * the identical-plan replacement too, leaving the "published"
    * artifact silently unpersisted after every producer re-run (the
    * bench's warm+timed passes republish 4× per entry). On a REAL
    * signature change the stale value is released BEFORE `v` is built,
    * so a new persist of an overlapping plan can never be swept away. */
  def put(s: SparkSession, key: String, sig: Long, v: => V): Unit = synchronized {
    entries.get((s, key)) match {
      case Some(e) if e.sig == sig => // deterministic artifact: keep it
      case _ =>
        entries.remove((s, key)).foreach(e => releaseQuietly(s, e.value))
        while (entries.size >= maxEntries) {
          val (k, e) = entries.head
          releaseQuietly(k._1, e.value)
          entries.remove(k)
        }
        entries((s, key)) = Entry(sig, v)
        putCount.incrementAndGet()
    }
  }

  def hits: Long = hitCount.get
  def misses: Long = missCount.get
  /** Cumulative seconds spent building entries on `get` misses. */
  def buildSec: Double = buildNanosCount.get / 1e9
  /** Publishes that stored a NEW entry (same-sig republish excluded). */
  def puts: Long = putCount.get
  def size: Int = synchronized(entries.size)

  /** Release and drop every entry (test hook). Mirrors `get`'s
    * eviction split: live sessions get the full release, stopped ones
    * the local-resource phase (their distributed state is gone, but
    * layout temp dirs are not — round-4 ADVICE: dropping them here
    * without releaseLocal leaked exactly the dirs the stopped-session
    * sweep in `get` was added to reclaim). */
  def clear(): Unit = synchronized {
    entries.foreach { case ((sess, _), e) =>
      if (!sess.sparkContext.isStopped) releaseQuietly(sess, e.value)
      else releaseLocalQuietly(e.value)
    }
    entries.clear()
  }
}

object PlanCache {

  /** Every live cache instance, registered at construction — the bench
    * snapshots ALL of them per entry (round-14 verdict #1), instead of
    * a hand-wired list that silently misses newly-added caches. Cache
    * instances are created once per `object` holding them (JVM-
    * lifetime), so the registry is append-only and tiny. */
  private val registry = scala.collection.mutable.ArrayBuffer.empty[PlanCache[_]]

  private[operators] def register(c: PlanCache[_]): Unit =
    registry.synchronized { registry += c }

  /** Snapshot of (hits, misses, cumulative build seconds, stored
    * publishes) for every registered cache, keyed by the cache's own
    * name. Names are unique across production code (spec-asserted). */
  def allStats: Map[String, (Long, Long, Double, Long)] =
    registry.synchronized {
      registry.map(c =>
        c.name -> ((c.hits, c.misses, c.buildSec, c.puts))).toMap
    }

  /** Registered cache names, in registration order (test hook: the
    * uniqueness guarantee `allStats` relies on). */
  def registeredNames: Seq[String] =
    registry.synchronized { registry.map(_.name).toSeq }

  /** A cache of persisted DataFrames: a superseded or evicted entry is
    * unpersisted. Value caches (counts, codebooks) keep the no-op
    * release default. */
  def persisted(name: String): PlanCache[DataFrame] =
    new PlanCache[DataFrame](name)((_, df) => df.unpersist())

  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpDirs.synchronized(tmpDirs.foreach(deleteRecursively))))
  }

  /** A temp directory registered for recursive deletion at JVM exit —
    * layout caches (bucketed tables, partitioned rewrites) write under
    * these, and nothing else ever cleaned them up. */
  def tempDir(prefix: String): String = {
    hookInstalled
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.synchronized(tmpDirs += p)
    p.toString
  }

  /** Recursive delete, used for both exit cleanup and eager release of
    * a superseded layout. */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
    } catch { case _: Exception => () }
}
