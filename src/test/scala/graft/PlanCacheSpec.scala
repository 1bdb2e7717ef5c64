package graft

import graft.operators.PlanCache
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle of the session-scoped materialization cache: signature
  * changes must RELEASE the stale value (unpersist/drop/delete), not
  * just replace the mapping; the map is bounded; stopped sessions are
  * never served. (Round-2 advice: the TrieMap caches pinned superseded
  * persisted DataFrames for the JVM lifetime and served catalog table
  * names across session restarts.) */
class PlanCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("plancache-test", cores = 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("hit on same signature, release + rebuild on a new signature") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val c = new PlanCache[String]("t1")((_, v) => released += v)
    var builds = 0
    def build(v: String): String = { builds += 1; v }

    assert(c.get(spark, "k", sig = 1L)(build("a")) == "a")
    assert(c.get(spark, "k", sig = 1L)(build("IGNORED")) == "a") // hit
    assert(builds == 1 && released.isEmpty)
    assert((c.hits, c.misses) == (1L, 1L))

    // regenerated fixture: new signature invalidates AND releases
    assert(c.get(spark, "k", sig = 2L)(build("b")) == "b")
    assert(builds == 2 && released.toSeq == Seq("a"))
  }

  test("a superseded persisted DataFrame is actually unpersisted") {
    val c = new PlanCache[org.apache.spark.sql.DataFrame]("t2")((_, df) => df.unpersist())
    // distinct plans per build: the cache manager keys persisted data
    // by logical plan, so an identical rebuild would re-register the
    // released plan and mask the unpersist
    def mk(n: Int) = spark.range(n).toDF("v").persist(StorageLevel.MEMORY_AND_DISK)
    val first = c.get(spark, "k", sig = 1L)(mk(10))
    first.count()
    assert(first.storageLevel != StorageLevel.NONE)
    c.get(spark, "k", sig = 2L)(mk(20)) // invalidate
    assert(first.storageLevel == StorageLevel.NONE,
      "stale persisted entry must be unpersisted on replacement")
  }

  test("bounded: past maxEntries the oldest entry is released") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val c = new PlanCache[String]("t3", maxEntries = 2)((_, v) => released += v)
    c.get(spark, "k1", 1L)("v1")
    c.get(spark, "k2", 1L)("v2")
    c.get(spark, "k3", 1L)("v3")
    assert(c.size == 2 && released.toSeq == Seq("v1"))
  }

  test("entries are keyed by session: a second session rebuilds") {
    val c = new PlanCache[String]("t4")((_, _) => ())
    var builds = 0
    c.get(spark, "k", 1L) { builds += 1; "a" }
    val other = spark.newSession()
    c.get(other, "k", 1L) { builds += 1; "b" }
    assert(builds == 2, "different sessions must not share entries")
  }

  test("regenerating a fixture (FsSig change) invalidates and releases") {
    val dir = PlanCache.tempDir("graft_fixture_spec_")
    val f = java.nio.file.Paths.get(dir, "t.parquet")
    spark.range(5).write.mode("overwrite").parquet(f.toString)
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val c = new PlanCache[String]("t5")((_, v) => released += v)
    def get(v: String) = c.get(spark, dir, graft.sources.FsSig.of(f.toString))(v)
    assert(get("first") == "first")
    assert(get("IGNORED") == "first") // same files -> hit
    // regenerate: new file lengths/mtimes -> new signature
    spark.range(500).write.mode("overwrite").parquet(f.toString)
    assert(get("second") == "second", "regenerated fixture must rebuild")
    assert(released.toSeq == Seq("first"), "stale entry must be released")
  }

  // This test stops the shared session and swaps in a fresh one (only
  // the spark-free temp-dir test runs after it). Round-3 ADVICE:
  // dropping a stopped session's entries skipped release entirely, so
  // disk-backed layouts lingered until JVM exit; the local-release
  // phase must run at eviction time.
  test("stopped-session eviction releases LOCAL resources (layout dirs) eagerly") {
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    val c = new PlanCache[String]("t6")(
      (_, _) => (),
      v => { deleted += v; PlanCache.deleteRecursively(java.nio.file.Paths.get(v)) })
    val dir = PlanCache.tempDir("graft_stopped_sess_")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "layout.bin"), "x")
    c.get(spark, "k", 1L)(dir)
    spark.stop()
    val fresh = GraftSession.builder("plancache-test-2", cores = 2).getOrCreate()
    spark = fresh // afterAll stops this one
    c.get(fresh, "other", 1L)("v2") // any access sweeps dead sessions
    assert(deleted.toSeq == Seq(dir),
      "local release must run when the stopped session's entry is dropped")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)),
      "the orphaned layout dir must be gone before JVM exit")
  }

  // Round-4 ADVICE: clear() dropped stopped-session entries without
  // the local-release phase, leaking exactly the layout dirs the
  // get() sweep above reclaims — both eviction paths must run the
  // same lifecycle. (Also stops and swaps the shared session.)
  test("clear() releases LOCAL resources of stopped-session entries") {
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    val c = new PlanCache[String]("t7")(
      (_, _) => (),
      v => { deleted += v; PlanCache.deleteRecursively(java.nio.file.Paths.get(v)) })
    val dir = PlanCache.tempDir("graft_clear_stopped_")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "layout.bin"), "x")
    c.get(spark, "k", 1L)(dir)
    spark.stop()
    spark = GraftSession.builder("plancache-test-3", cores = 2).getOrCreate()
    c.clear()
    assert(deleted.toSeq == Seq(dir),
      "clear() must run the local-release phase for stopped-session entries")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)),
      "the orphaned layout dir must be gone after clear()")
  }

  test("put() publishes for consumers, keeps same-sig artifacts, counts no hit/miss") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val c = new PlanCache[String]("t8")((_, v) => released += v)
    c.put(spark, "k", 1L, "v1")
    // same-sig republish (every bench warm+timed pass): the existing
    // artifact is KEPT and the incoming value never evaluated —
    // releasing it would uncache the identical-plan replacement too
    // (Spark's cache manager keys by sameResult plan), leaving the
    // published DataFrame silently unpersisted after each producer run
    c.put(spark, "k", 1L, fail("same-sig republish must not build"))
    assert(released.isEmpty, "same-sig republish must release nothing")
    assert(c.hits == 0 && c.misses == 0, "publishing is neither a hit nor a miss")
    assert(c.get(spark, "k", 1L)(fail("consumer must not rebuild")) == "v1")
    assert(c.hits == 1, "consumer get() after publish is a hit")
    // a REAL signature change replaces and releases the stale value
    c.put(spark, "k", 2L, "v2")
    assert(released.toSeq == Seq("v1"), "stale-sig published value must be released")
    assert(c.get(spark, "k", 2L)(fail("consumer must not rebuild")) == "v2")
  }

  test("temp dirs are tracked and recursively deletable") {
    val d = PlanCache.tempDir("graft_cache_spec_")
    val sub = java.nio.file.Paths.get(d, "x")
    java.nio.file.Files.createDirectories(sub)
    java.nio.file.Files.writeString(sub.resolve("f.txt"), "data")
    PlanCache.deleteRecursively(java.nio.file.Paths.get(d))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d)))
  }

  test("PlanCache: get() misses accumulate measured build seconds; " +
    "hits do not; the registry snapshot exposes all three counters") {
    val c = new graft.operators.PlanCache[String]("r15_test_cache")((_, _) => ())
    assert(c.buildSec == 0.0)
    c.get(spark, "k", 1L) { Thread.sleep(60); "v" }
    val afterBuild = c.buildSec
    assert(afterBuild >= 0.05, s"build sleep must be measured: $afterBuild")
    c.get(spark, "k", 1L) { fail("hit must not rebuild"); "x" }
    assert(c.buildSec == afterBuild, "a hit must not add build time")
    val snap = graft.operators.PlanCache.allStats
    assert(snap.contains("r15_test_cache"))
    val (h, m, b, p) = snap("r15_test_cache")
    assert(h == 1 && m == 1 && b == afterBuild && p == 0)
    // a stored publish counts; a same-sig republish does not
    c.put(spark, "k2", 5L, "v2")
    c.put(spark, "k2", 5L, "v2")
    assert(graft.operators.PlanCache.allStats("r15_test_cache")._4 == 1)
  }

  test("PlanCache registry: production cache names are unique (the " +
    "allStats keying contract)") {
    val names = graft.operators.PlanCache.registeredNames
      .filterNot(_.startsWith("r15_test"))
    assert(names.distinct.size == names.size,
      s"duplicate cache names would shadow in allStats: $names")
  }
}
