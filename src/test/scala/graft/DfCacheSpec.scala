package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.sources.DfCache

/** Pins the two round-17-verdict DfCache gaps closed in round 18:
  * scalar memos participate in the invalidation gate (#4 — a memo
  * bypassing invalidateDerived served a stale query-doc id after an
  * in-session source rewrite), and per-family growth is LRU-bounded
  * (#5 — every distinct probe batch minted a semantically-keyed
  * persist that lived for the session's lifetime) — for memos too,
  * since the default search memoizes one key list per query. Also
  * pins that one key builds once under concurrent first touches.
  */
class DfCacheSpec extends SparkTestBase {

  /** A real one-row parquet dataset under a fresh temp dir: entries
    * derive their sources from the plans they read, so a memo must
    * read a real file to register against it.
    */
  private def parquet(name: String): String = {
    val path = java.nio.file.Files.createTempDirectory("dfcspec").resolve(name).toString
    spark.range(1).write.parquet(path)
    path
  }

  test("memo computes once per (session, key)") {
    val n = new AtomicInteger(0)
    val up = parquet("a.parquet")
    def get() = DfCache.memo(spark, "dfcspec-m1:x")(spark.read.parquet(up)) { _ =>
      n.incrementAndGet(); 42L
    }
    assert(get() == 42L && get() == 42L && n.get() == 1)
  }

  test("invalidateDerived drops memos registered on the rewritten upstream") {
    val n = new AtomicInteger(0)
    val docs = parquet("docs.parquet")
    val other = parquet("other.parquet")
    def get() = DfCache.memo(spark, "dfcspec-m2:x")(spark.read.parquet(docs)) { _ =>
      n.incrementAndGet()
    }
    assert(get() == 1)
    // unrelated upstream: memo survives.
    DfCache.invalidateDerived(spark, Seq(other))
    assert(get() == 1)
    // the registered upstream was rewritten: memo recomputes.
    DfCache.invalidateDerived(spark, Seq(docs))
    assert(get() == 2)
  }

  test("a source read through a lineage cut or an artifact still drops the entry") {
    val docs = parquet("docs.parquet")
    val n = new AtomicInteger(0)
    def overCut() = DfCache.memo(spark, "dfcspec-cut:x")(
        DfCache.cut(spark.read.parquet(docs), DfCache.Cut.Eager)) { _ =>
      n.incrementAndGet()
    }
    assert(overCut() == 1)
    DfCache.invalidateDerived(spark, Seq(docs))
    assert(overCut() == 2, "a cut hid its pre-cut source")
    // an artifact built from docs: its version dir adds the gate's upstreams
    val root = java.nio.file.Files.createTempDirectory("dfcspec-art").resolve("a").toString
    def overArtifact() = DfCache.memo(spark, "dfcspec-art:x")(
        graft.sources.Artifacts.loadOrBuild(spark, root, Seq(docs), "dfcspec")(
          t => spark.read.parquet(docs).write.parquet(t))) { _ =>
      n.incrementAndGet()
    }
    assert(overArtifact() == 3 && overArtifact() == 3)
    DfCache.invalidateDerived(spark, Seq(docs))
    assert(overArtifact() == 4, "an artifact read hid its gate's upstream")
  }

  test("invalidate(key) drops a memo by name") {
    val n = new AtomicInteger(0)
    def get() = DfCache.memo(spark, "dfcspec-m3:x")(spark.range(1).toDF())(_ =>
      n.incrementAndGet())
    assert(get() == 1)
    DfCache.invalidate(spark, "dfcspec-m3:x")
    assert(get() == 2)
  }

  test("a key family holds at most familyCap entries, LRU evicted") {
    val builds = new AtomicInteger(0)
    def get(i: Int) = DfCache.getOrPersist(spark, s"dfcspec-lru:$i") {
      builds.incrementAndGet(); spark.range(1).toDF("v")
    }
    val cap = DfCache.familyCap
    (0 until cap).foreach(get)
    assert(builds.get() == cap)
    // touch key 0 so it is the MOST recent, then overflow by one:
    // the eviction victim must be key 1 (now the least recent),
    // never the just-touched key 0.
    get(0)
    assert(builds.get() == cap, "touching a resident key must not rebuild")
    get(cap)
    assert(builds.get() == cap + 1)
    get(0)
    assert(builds.get() == cap + 1, "recently-touched key was evicted")
    get(1)
    assert(builds.get() == cap + 2, "LRU key survived past the cap")
  }

  test("eviction is per family: growth in one family keeps others resident") {
    val builds = new AtomicInteger(0)
    def other() = DfCache.getOrPersist(spark, "dfcspec-other:k") {
      builds.incrementAndGet(); spark.range(1).toDF("v")
    }
    other()
    (0 until DfCache.familyCap + 5).foreach { i =>
      DfCache.getOrPersist(spark, s"dfcspec-lru2:$i")(spark.range(1).toDF("v"))
    }
    other()
    assert(builds.get() == 1, "unrelated family evicted by another's growth")
  }

  test("a memo family holds at most familyCap entries, LRU evicted") {
    val builds = new AtomicInteger(0)
    def get(i: Int) = DfCache.memo(spark, s"dfcspec-mlru:$i")(spark.range(1).toDF()) { _ =>
      builds.incrementAndGet(); i
    }
    val cap = DfCache.familyCap
    (0 to cap).foreach(get)
    assert(builds.get() == cap + 1)
    // the newest cap keys are resident: touching them builds nothing
    (cap to 1 by -1).foreach(i => assert(get(i) == i))
    assert(builds.get() == cap + 1, "a memo within the cap was rebuilt")
    // key 0, the least recent when key `cap` arrived, was evicted
    assert(get(0) == 0)
    assert(builds.get() == cap + 2, "the family kept more than familyCap memos")
  }

  test("concurrent first touches of one key build and persist it once") {
    val builds = new AtomicInteger(0)
    val key = s"dfcspec-race:${System.nanoTime()}"
    val start = new java.util.concurrent.CyclicBarrier(2)
    val frames = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()
    val threads = (0 until 2).map { _ =>
      new Thread(() => {
        start.await()
        frames.add(DfCache.getOrPersist(spark, key) {
          builds.incrementAndGet()
          // hold the build open so the other caller arrives mid-build
          Thread.sleep(500)
          spark.range(3).toDF("v")
        })
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(frames.size == 2, "a caller never returned")
    assert(builds.get() == 1, s"the build ran ${builds.get()} times")
    val it = frames.iterator
    assert(it.next() eq it.next(), "the callers got different frames")
    val none = org.apache.spark.storage.StorageLevel.NONE
    assert(frames.peek().storageLevel != none)
    DfCache.invalidate(spark, key)
    assert(frames.peek().storageLevel == none,
      "a CacheManager entry outlived the key")
  }
}
