package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.sources.Artifacts
import graft.streaming.{ConcurrentMaintenanceException, DeltaLog}

/** Round-15 verdict #1, the proof half: the durability drills — the
  * two-JVM artifact race, the SIGKILL crash drills, the maintenance
  * land/fold/serve cycle, and the lease battery — re-run against the
  * adversarial [[AdvFileSystem]] (`advfs://`), where every rename is a
  * non-atomic, silently-overwriting copy+delete and the ONLY honored
  * single-winner primitive is conditional create. The
  * [[graft.sources.Commit]] seam must keep them green on the cas
  * strategy; any residual dependence on `Rename.NONE` atomicity
  * corrupts visibly here. (The same scenarios on the POSIX rename
  * strategy live in `ArtifactRaceSpec` / `CrashDrillSpec` /
  * `MaintainSpec` / `LeaseSpec`, unchanged.)
  */
class ObjectStoreDrillSpec extends SparkTestBase {
  import spark.implicits._

  private val conf = spark.sparkContext.hadoopConfiguration
  private val rng = new scala.util.Random(
    sys.env.get("GRAFT_DRILL_SEED").map(_.toLong)
      .getOrElse(System.nanoTime()))

  /** (advfs path, underlying local path) for java.nio assertions. */
  private def advTmp(prefix: String): (String, String) = {
    val local = Files.createTempDirectory(prefix).toString
    (s"advfs://$local", local)
  }

  private def killInsideWindow(p: Process, marker: String,
      windowMs: Int): Long = {
    val deadline = System.currentTimeMillis() + 120000
    while (!Files.exists(Paths.get(marker))) {
      assert(System.currentTimeMillis() < deadline, "child never marked start")
      assert(p.isAlive, "child died before reaching the operation")
      Thread.sleep(10)
    }
    val delay = rng.nextInt(windowMs).toLong
    Thread.sleep(delay)
    p.destroyForcibly()
    p.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
    delay
  }

  test("TWO REAL JVMS race loadOrBuild on an object store: no torn version, consistent serves") {
    val (adv, local) = advTmp("graft-osd-race")
    val upstream = s"$local/upstream.parquet" // upstream on plain local FS
    val root = s"$adv/artifact"
    (1L to 500L).toDF("id").repartition(3).write.parquet(upstream)
    val expected = (1L to 500L).map(i => s"$i:${i * 2}").sorted
    val expectedHash =
      scala.util.hashing.MurmurHash3.orderedHash(expected).toHexString
    val outA = s"$local/a.out"; val outB = s"$local/b.out"
    val pA = JvmSpawn.spawn("graft.ArtifactRaceMain", root, upstream, outA)
    val pB = JvmSpawn.spawn("graft.ArtifactRaceMain", root, upstream, outB)
    val deadline = System.currentTimeMillis() + 120000
    while (!(Files.exists(Paths.get(s"$outA.ready")) &&
             Files.exists(Paths.get(s"$outB.ready")))) {
      assert(System.currentTimeMillis() < deadline, "racers never became ready")
      Thread.sleep(50)
    }
    Files.writeString(Paths.get(s"$local/go"), "go")
    assert(pA.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), "racer A hung")
    assert(pB.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), "racer B hung")
    assert(pA.exitValue() === 0, "racer A failed — see its temp log")
    assert(pB.exitValue() === 0, "racer B failed — see its temp log")
    for (out <- Seq(outA, outB)) {
      val Array(_, n, h, built) = Files.readString(Paths.get(out)).trim.split("\n")
      assert(n.toInt === 500, s"racer served wrong row count from $out")
      assert(h === expectedHash, s"racer served wrong content from $out")
      assert(built === "true", s"racer from $out never entered its build")
    }
    // FS invariants on the underlying store: every STAMPED version is
    // complete and correct; no temp-build strays. Unlike the rename
    // drill, the cas race may legitimately land two identical-fp
    // versions when both commits outrun the dedupe wait — bounded at
    // one per racer; readers resolve the highest stamped one.
    val children = Option(new java.io.File(s"$local/artifact").listFiles())
      .toSeq.flatten
    val strays = children.filter(_.getName.startsWith(".build-"))
    assert(strays.isEmpty, s"temp build dirs leaked: ${strays.map(_.getName)}")
    val stamped = children.filter(f => f.isDirectory &&
      f.getName.startsWith("v=") && new java.io.File(f, "_graft_fp").isFile)
    assert(stamped.nonEmpty && stamped.length <= 2,
      s"expected 1-2 stamped versions, got ${children.map(_.getName).sorted}")
    for (v <- stamped) {
      val rows = spark.read.parquet(s"advfs://$v")
        .select(col("id"), col("doubled")).collect()
        .map(r => s"${r.getLong(0)}:${r.getLong(1)}").sorted.toSeq
      assert(rows.length === 500, s"${v.getName} torn: ${rows.length} rows")
      assert(scala.util.hashing.MurmurHash3.orderedHash(rows).toHexString
        === expectedHash, s"${v.getName} content corrupted")
    }
  }

  test("SIGKILL mid-fold x2 on an object store: restart converges, lease recovers via TTL") {
    val (adv, local) = advTmp("graft-osd-fold")
    val dd = s"$adv/delta"
    var next = 0L
    val expected = scala.collection.mutable.ArrayBuffer.empty[Long]
    def landFresh(n: Int): Unit = (1 to n).foreach { _ =>
      val rows = (next * 10) until (next * 10 + 10)
      expected ++= rows
      rows.toDF("id").write.parquet(s"$dd/batch=$next")
      DeltaLog.commit(spark, dd, s"batch=$next")
      next += 1
    }
    landFresh(4)
    for (iter <- 1 to 2) {
      val marker = s"$local/fold-$iter.marker"
      val p = JvmSpawn.spawn("graft.CrashDrillMain", "fold", dd, marker)
      val delay = killInsideWindow(p, marker, windowMs = 2600)
      info(s"fold iter $iter: killed ${delay}ms after start")
      DeltaLog.ageLease(conf, dd, 20 * 60 * 1000)
      DeltaLog.compactLive(spark, dd)(_.distinct())
      val parts = DeltaLog.currentParts(spark, dd).get
      for (n <- parts) assert(Files.exists(Paths.get(s"$local/delta/$n")),
        s"manifest references missing part $n after crash iter $iter")
      val got = spark.read.parquet(
        DeltaLog.liveParts(spark, dd, prefix = ""): _*)
        .select("id").as[Long].collect().sorted.toSeq
      assert(got === expected.sorted.toSeq,
        s"row multiset diverged after crash iter $iter (delay ${delay}ms)")
      landFresh(1)
    }
  }

  test("SIGKILL mid-artifact-build on an object store: no torn STAMPED version visible") {
    val (adv, local) = advTmp("graft-osd-build")
    val upstream = s"$local/up.parquet"
    (1L to 200L).toDF("id").repartition(2).write.parquet(upstream)
    val root = s"$adv/artifact"
    val expect = (1L to 200L).map(i => i -> i * 2).toSet
    for (iter <- 1 to 2) {
      val marker = s"$local/build-$iter.marker"
      val p = JvmSpawn.spawn("graft.CrashDrillMain", "build", root, upstream, marker)
      val delay = killInsideWindow(p, marker, windowMs = 2600)
      info(s"build iter $iter: killed ${delay}ms after start")
      // cas invariant: a v= dir may exist unstamped mid-commit (the
      // claim landed, the stamp had not) — readers never resolve it;
      // every STAMPED version must be complete and correct.
      val vdirs = Option(new java.io.File(s"$local/artifact").listFiles())
        .toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("v=") &&
          new java.io.File(f, "_graft_fp").isFile)
      for (v <- vdirs) {
        val got = spark.read.parquet(s"advfs://$v")
          .select(col("id"), col("doubled")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toSet
        assert(got === expect, s"torn content in stamped ${v.getName}")
      }
      val served = Artifacts.loadOrBuild(spark, root, Seq(upstream),
        "drill-sem") { t =>
        spark.read.parquet(upstream).withColumn("doubled", col("id") * 2)
          .repartition(2).write.parquet(t)
      }.select(col("id"), col("doubled")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(served === expect, s"restart served wrong content iter $iter")
    }
  }

  test("maintenance cycle on an object store: land -> fold -> late batch -> cleanup") {
    val (adv, local) = advTmp("graft-osd-maint")
    val dd = s"$adv/delta"
    for (b <- 0 until 3) {
      ((b * 10L) until (b * 10L + 10L)).toDF("id").write.parquet(s"$dd/batch=$b")
      DeltaLog.commit(spark, dd, s"batch=$b")
    }
    def served(): Seq[Long] =
      spark.read.parquet(DeltaLog.liveParts(spark, dd, prefix = ""): _*)
        .select("id").as[Long].collect().sorted.toSeq
    val all3 = (0L until 30L).toSeq
    assert(served() === all3)
    assert(DeltaLog.compactLive(spark, dd)(_.distinct()) === 3)
    assert(served() === all3, "fold must be value-stable")
    // late batch lands and serves alongside the consolidation
    (30L until 40L).toDF("id").write.parquet(s"$dd/batch=3")
    DeltaLog.commit(spark, dd, "batch=3")
    assert(served() === (0L until 40L).toSeq)
    // second fold triggers the deferred cleanup of superseded parts
    assert(DeltaLog.compactLive(spark, dd)(_.distinct()) === 2)
    assert(served() === (0L until 40L).toSeq, "second fold value-stable")
    DeltaLog.compactLive(spark, dd)(_.distinct()) // cleanup-only pass
    val leftovers = Option(new java.io.File(s"$local/delta").listFiles())
      .toSeq.flatten.map(_.getName).filter(_.startsWith("batch="))
    assert(leftovers.isEmpty,
      s"superseded batch dirs survived deferred cleanup: $leftovers")
    assert(served() === (0L until 40L).toSeq)
  }

  test("lease battery on an object store: refuse, TTL takeover, single-winner waiters") {
    // held lease refuses a second maintainer
    val (adv1, _) = advTmp("graft-osd-lease1")
    val dd1 = s"$adv1/delta"
    DeltaLog.acquireLease(conf, dd1, owner = "maintainer-1")
    val e = intercept[ConcurrentMaintenanceException] {
      DeltaLog.acquireLease(conf, dd1, owner = "maintainer-2")
    }
    assert(e.getMessage.contains("maintainer-1"))
    DeltaLog.releaseLease(conf, dd1, owner = "maintainer-1")
    DeltaLog.acquireLease(conf, dd1, owner = "maintainer-2")
    DeltaLog.releaseLease(conf, dd1, owner = "maintainer-2")

    // a stale (crashed) holder is taken over; the crashed owner's
    // late release must NOT delete the successor's lease (the cas
    // release claims the incarnation tombstone and stands down)
    val (adv2, _) = advTmp("graft-osd-lease2")
    val dd2 = s"$adv2/delta"
    DeltaLog.acquireLease(conf, dd2, owner = "crashed")
    DeltaLog.ageLease(conf, dd2, 10000)
    DeltaLog.acquireLease(conf, dd2, ttlMs = 1000, owner = "successor")
    DeltaLog.releaseLease(conf, dd2, owner = "crashed")
    val e2 = intercept[ConcurrentMaintenanceException] {
      DeltaLog.acquireLease(conf, dd2, owner = "third")
    }
    assert(e2.getMessage.contains("successor"),
      "the successor's lease must survive the crashed owner's release")
    DeltaLog.releaseLease(conf, dd2, owner = "successor")

    // stale-lease takeover is single-winner under 8 concurrent waiters
    val ttl = 10000L
    for (round <- 1 to 3) {
      val (advN, _) = advTmp(s"graft-osd-lease-race$round")
      val ddN = s"$advN/delta"
      DeltaLog.acquireLease(conf, ddN, owner = "crashed")
      DeltaLog.ageLease(conf, ddN, 3 * ttl)
      val winners = new java.util.concurrent.atomic.AtomicInteger(0)
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 8).map { i =>
        val t = new Thread(() => {
          start.await()
          try {
            DeltaLog.acquireLease(conf, ddN, ttlMs = ttl, owner = s"waiter-$i-r$round")
            winners.incrementAndGet()
          } catch { case _: ConcurrentMaintenanceException => () }
        })
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join(30000))
      assert(winners.get === 1,
        s"round $round: expected exactly one takeover winner, got ${winners.get}")
    }
  }

  test("visibility-lag + negative-cache adversary: commits never lose parts, " +
      "serves converge, the two-JVM race stays single-winner-clean") {
    // (round-16 verdict #5) the extended adversary: LISTs are served
    // 150ms STALE (new objects hidden, deleted ones still shown) and
    // a HEAD 404 poisons its key for 150ms (the GET-before-PUT
    // read-after-write loss). The protocol answer under drill here:
    // version resolution probes FORWARD by key past the stale
    // listing, and publish advances past create conflicts without
    // re-probing — so a committer can never union against a hidden
    // manifest and drop a just-committed part.
    sys.props("graft.advfs.lag.ms") = "150"
    sys.props("graft.advfs.neg.ms") = "150"
    // the cas mover's settled-listing spacing must EXCEED the store's
    // staleness bound (Commit.scala scaladoc) — 200 > 150 here.
    sys.props("graft.commit.settle.ms") = "200"
    try {
      val (adv, _) = advTmp("graft-osd-vislag")
      val dd = s"$adv/delta"
      def served(): Seq[Long] =
        spark.read.parquet(DeltaLog.liveParts(spark, dd, prefix = ""): _*)
          .select("id").as[Long].collect().sorted.toSeq
      // DATA-file visibility is the documented residual: a part dir
      // committed < lag ago can expose a partial (or empty) file
      // listing to a scan — bounded staleness, converging within one
      // lag window. The MANIFEST layer must be exact immediately; the
      // SERVE must converge. `settle` waits out one lag window before
      // scans/folds, as a deployment on a legacy-consistency store
      // must (modern S3/GCS LIST is strong and needs none of this).
      def settle(): Unit = Thread.sleep(300)
      def servedConverges(expect: Seq[Long], what: String): Unit = {
        // inside the lag window a fresh part dir can list EMPTY —
        // Spark then can't even infer a schema; that's the same
        // bounded-staleness state as a short read, so retry it too.
        def attempt(): Option[Seq[Long]] = {
          // Spark's shared file-listing cache would pin the stale
          // listing FOREVER (infinite default TTL) — the deployment
          // answer is spark.sql.metadataCacheTTLSeconds; the drill
          // applies the same freshness through the bridge hook.
          org.apache.spark.sql.graftx.Bridge.invalidateFileListingCache(spark)
          try Some(served())
          catch { case e: org.apache.spark.sql.AnalysisException =>
            info(s"attempt failed: ${e.toString.take(300)}"); None }
        }
        val deadline = System.currentTimeMillis() + 10000
        var got = attempt()
        while (!got.contains(expect) && System.currentTimeMillis() < deadline) {
          Thread.sleep(100); got = attempt()
        }
        assert(got === Some(expect), what)
      }
      // land batches BACK TO BACK — each commit resolves the set the
      // previous one published milliseconds ago, i.e. inside the lag
      // window every time. Any LIST-trusting union loses a part here.
      for (b <- 0 until 6) {
        ((b * 10L) until (b * 10L + 10L)).toDF("id")
          .write.parquet(s"$dd/batch=$b")
        DeltaLog.commit(spark, dd, s"batch=$b")
      }
      // the manifest is the protocol's own ledger: exact IMMEDIATELY,
      // no convergence allowance (the forward probe at work).
      assert(DeltaLog.currentParts(spark, dd).get.sorted ===
        (0 until 6).map(b => s"batch=$b"),
        "a commit unioned against a stale manifest and dropped parts")
      servedConverges((0L until 60L).toSeq, "serve never converged")
      // fold under the adversary (after one settle window — the fold
      // reads data files through the store's listing), then land a
      // late batch immediately
      settle()
      assert(DeltaLog.compactLive(spark, dd)(_.distinct()) === 6)
      (60L until 70L).toDF("id").write.parquet(s"$dd/batch=6")
      DeltaLog.commit(spark, dd, s"batch=6")
      servedConverges((0L until 70L).toSeq, "late batch lost after fold")
      settle()
      assert(DeltaLog.compactLive(spark, dd)(_.distinct()) === 2)
      servedConverges((0L until 70L).toSeq, "second fold value-unstable")
    } finally {
      sys.props -= "graft.advfs.lag.ms"
      sys.props -= "graft.advfs.neg.ms"
      sys.props -= "graft.commit.settle.ms"
    }

    // the two-JVM artifact race with the adversary active in the
    // RACING processes (sysProps reach the children; this JVM's
    // assertions read strong-consistent). Same invariants as the
    // plain race: both serve correct content, <=2 stamped versions,
    // zero strays, every stamped version complete.
    val (adv2, local2) = advTmp("graft-osd-visrace")
    val upstream = s"$local2/upstream.parquet"
    val root = s"$adv2/artifact"
    (1L to 500L).toDF("id").repartition(3).write.parquet(upstream)
    val expected = (1L to 500L).map(i => s"$i:${i * 2}").sorted
    val expectedHash =
      scala.util.hashing.MurmurHash3.orderedHash(expected).toHexString
    val advProps = Map("graft.advfs.lag.ms" -> "150",
      "graft.advfs.neg.ms" -> "150",
      "graft.commit.settle.ms" -> "200")
    val outA = s"$local2/a.out"; val outB = s"$local2/b.out"
    val pA = JvmSpawn.spawn("graft.ArtifactRaceMain",
      Seq(root, upstream, outA),
      new java.io.File(s"$local2/a.log"), sysProps = advProps)
    val pB = JvmSpawn.spawn("graft.ArtifactRaceMain",
      Seq(root, upstream, outB),
      new java.io.File(s"$local2/b.log"), sysProps = advProps)
    val deadline = System.currentTimeMillis() + 120000
    while (!(Files.exists(Paths.get(s"$outA.ready")) &&
             Files.exists(Paths.get(s"$outB.ready")))) {
      assert(System.currentTimeMillis() < deadline, "racers never became ready")
      Thread.sleep(50)
    }
    Files.writeString(Paths.get(s"$local2/go"), "go")
    assert(pA.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), "racer A hung")
    assert(pB.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), "racer B hung")
    assert(pA.exitValue() === 0, s"racer A failed under lag (see $local2/a.log)")
    assert(pB.exitValue() === 0, s"racer B failed under lag (see $local2/b.log)")
    for (out <- Seq(outA, outB)) {
      val Array(_, n, h, built) = Files.readString(Paths.get(out)).trim.split("\n")
      assert(n.toInt === 500, s"racer served wrong row count from $out")
      assert(h === expectedHash, s"racer served wrong content from $out")
      assert(built === "true", s"racer from $out never entered its build")
    }
    val children = Option(new java.io.File(s"$local2/artifact").listFiles())
      .toSeq.flatten
    val strays = children.filter(_.getName.startsWith(".build-"))
    assert(strays.isEmpty, s"temp build dirs leaked under lag: ${strays.map(_.getName)}")
    val stamped = children.filter(f => f.isDirectory &&
      f.getName.startsWith("v=") && new java.io.File(f, "_graft_fp").isFile)
    assert(stamped.nonEmpty && stamped.length <= 2,
      s"expected 1-2 stamped versions under lag, got ${children.map(_.getName).sorted}")
    for (v <- stamped) {
      val rows = spark.read.parquet(s"advfs://$v")
        .select(col("id"), col("doubled")).collect()
        .map(r => s"${r.getLong(0)}:${r.getLong(1)}").sorted.toSeq
      assert(rows.length === 500, s"${v.getName} torn under lag: ${rows.length} rows")
      assert(scala.util.hashing.MurmurHash3.orderedHash(rows).toHexString
        === expectedHash, s"${v.getName} content corrupted under lag")
    }
  }

  test("a postings snapshot read under listing lag settles, never serves an empty frame") {
    // `IndexBuilder.readPostings`, the snapshot's read, supplies the
    // schema, so an empty listing no longer fails inference. On a
    // lagging store a version published moments ago lists EMPTY; the
    // read must wait that out, or fail loudly once its retries run
    // out, never return (and let a session cache) an empty index.
    val (adv, local) = advTmp("graft-osd-postings")
    val upstream = s"$local/up.parquet"
    Seq(("alpha", 1, 0, 0L), ("beta", 1, 1, 0L), ("alpha", 2, 0, 7L))
      .toDF("key", "table_id", "column_id", "row_id")
      .write.parquet(upstream)
    def load() = Artifacts.loadOrBuildWith(spark, s"$adv/snapshot",
      Seq(upstream), "drill-postings")(
      t => spark.read.parquet(upstream).write.parquet(t))(
      graft.sources.IndexBuilder.readPostings(spark, _))
    assert(load().count() === 3L, "published under a consistent listing")
    // a fresh reader of that version while its files are still
    // inside the lag window (version resolution probes by key, so the
    // version itself is found)
    def readLagged(lagMs: Long) = {
      sys.props("graft.advfs.lag.ms") = lagMs.toString
      org.apache.spark.sql.graftx.Bridge.invalidateFileListingCache(spark)
      try load() finally sys.props -= "graft.advfs.lag.ms"
    }
    // visible again within the read's retry budget (~2 s): it settles
    assert(readLagged(1500L).count() === 3L, "a lagging listing read as a short snapshot")
    // hidden past the budget: the read fails instead of answering empty
    intercept[Artifacts.Unsettled](readLagged(600000L))
  }

  test("a stray build older than the TTL on an object store is swept by the next publish") {
    val (adv, local) = advTmp("graft-osd-stray")
    val upstream = s"$local/up.parquet"
    (1L to 10L).toDF("id").write.parquet(upstream)
    val root = s"$adv/artifact"
    def publishOnce(): Unit =
      Artifacts.publish(spark, root, Seq(upstream), "drill-stray") { t =>
        spark.read.parquet(upstream).write.parquet(t)
      }
    publishOnce()
    // a crashed builder's leftovers: every file and dir inside the
    // stray, and the stray itself, last touched past the TTL
    val stray = new org.apache.hadoop.fs.Path(s"$root/.build-crashed")
    val fs = stray.getFileSystem(conf)
    val part = new org.apache.hadoop.fs.Path(stray, "_temporary/0/part-0")
    val out = fs.create(part, true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    val old = System.currentTimeMillis() - Artifacts.BuildStrayTtlMs - 60000L
    Seq(part, part.getParent, part.getParent.getParent, stray)
      .foreach(fs.setTimes(_, old, -1L))
    assert(Files.exists(Paths.get(s"$local/artifact/.build-crashed")))
    publishOnce()
    assert(!Files.exists(Paths.get(s"$local/artifact/.build-crashed")),
      "a stray past the TTL survived the publish on an object store")
  }

  test("heartbeat on an object store keeps a long hold from being stolen as stale") {
    val (adv, local) = advTmp("graft-osd-beat")
    val dd = s"$adv/delta"
    DeltaLog.withMaintenanceLease(spark, dd, ttlMs = 3000) {
      Thread.sleep(4500)
      // the maintainer-domain signal: the beat sidecar carries a
      // fresh holder-clock stamp (written via overwrite PUT here)
      val beat = Paths.get(s"$local/delta/_manifest/_lease.beat")
      assert(Files.exists(beat), "heartbeat never wrote the beat sidecar")
      val beatAge = System.currentTimeMillis() -
        DeltaLog.leaseTs(Files.readString(beat)).getOrElse(0L)
      assert(beatAge < 3000, s"beat stamp stale (${beatAge}ms)")
      intercept[ConcurrentMaintenanceException] {
        DeltaLog.acquireLease(conf, dd, ttlMs = 3000, owner = "successor")
      }
    }
    DeltaLog.acquireLease(conf, dd, owner = "after")
    DeltaLog.releaseLease(conf, dd, owner = "after")
  }
}
