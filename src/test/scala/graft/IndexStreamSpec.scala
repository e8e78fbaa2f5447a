package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.JoinSearch
import graft.sources.{Corpus, IndexBuilder}
import graft.streaming.IndexStream

/** Incremental index maintenance end to end: new corpus rows arrive
  * over two micro-batches (with a checkpointed restart between them),
  * land as key-clustered parquet deltas, and the merged index serves
  * the same searches the batch build would.
  */
object IndexStreamSpec {
  final case class CRow(c_name: String, c_mktsegment: String, c_custkey: Long)
}

class IndexStreamSpec extends SparkTestBase {
  import spark.implicits._
  import IndexStreamSpec.CRow

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streamed rows become exact postings deltas; restart resumes offsets") {
    implicit val sqlCtx = spark.sqlContext
    val (delta, ckpt) = (tmp("graft-delta"), tmp("graft-ckpt"))
    val in = MemoryStream[CRow]
    val customer = Corpus.byName("customer")

    // AvailableNow snapshots the available offsets at START — data
    // must be added before the query launches (matching a real
    // incremental run over files/Kafka that arrived since last time).
    in.addData(CRow("Zzyzx  Quarry", "nebula", 9000001L),
      CRow(null, "nebula", 9000002L))
    val q1 = IndexStream.maintain(
      IndexStream.postings(in.toDF(), customer), delta, ckpt)
    q1.processAllAvailable(); q1.stop()

    in.addData(CRow("Zzyzx Quarry", "AUTOMOBILE", 9000003L))
    val q2 = IndexStream.maintain(
      IndexStream.postings(in.toDF(), customer), delta, ckpt)
    q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(s"$delta/batch=*")
      .as[(String, Int, Int, Long)].collect().toSet
    // null name drops its posting row; cleaning collapses whitespace
    // and lowercases — identical to the batch builder's semantics.
    val expected = Set(
      ("zzyzx quarry", 1, 1, 9000001L), ("nebula", 1, 2, 9000001L),
      ("nebula", 1, 2, 9000002L),
      ("zzyzx quarry", 1, 1, 9000003L), ("automobile", 1, 2, 9000003L))
    assert(got == expected)
    // restart did not replay batch 0 into a new directory (the
    // _manifest dir is the DeltaLog's, not a data part):
    val dirs = new java.io.File(delta).list().filter(_.startsWith("batch=")).toSet
    assert(dirs == Set("batch=0", "batch=1"), s"delta dirs: $dirs")
  }

  test("stray non-batch entries in the delta dir degrade to the base, not an error") {
    val delta = tmp("graft-delta-stray")
    // a leftover _temporary from a failed foreachBatch write: the dir
    // is non-empty but holds no batch=* data
    assert(new java.io.File(delta, "_temporary").mkdirs())
    val base = IndexBuilder.loadOrSnapshot(spark, sf0001)
    val merged = IndexStream.loadWithDeltas(spark, sf0001, delta)
    assert(merged.count() == base.count())
  }

  test("merged base+delta index serves searches over rows the base never saw") {
    implicit val sqlCtx = spark.sqlContext
    val (delta, ckpt) = (tmp("graft-delta2"), tmp("graft-ckpt2"))
    val in = MemoryStream[CRow]
    in.addData(
      CRow("Customer#999900001", "NEBULA", 999900001L),
      CRow("Customer#999900002", "NEBULA", 999900002L))
    val q = IndexStream.maintain(
      IndexStream.postings(in.toDF(), Corpus.byName("customer")), delta, ckpt)
    q.processAllAvailable(); q.stop()

    val merged = IndexStream.loadWithDeltas(spark, sf0001, delta)
    val base = IndexBuilder.loadOrSnapshot(spark, sf0001)
    assert(merged.count() == base.count() + 4)

    // a 2-attribute query over the streamed-only rows: only the
    // customer table (id 1) can satisfy the conjunction.
    val query = Seq(("Customer#999900001", "NEBULA"), ("Customer#999900002", "NEBULA"))
      .toDF("c_name", "c_mktsegment")
    val hits = JoinSearch.searchTables(merged, query, Seq("c_name", "c_mktsegment"))
      .as[(Int, Long)].collect().toSeq
    assert(hits == Seq((1, 4L)), s"got $hits")
    // and the base alone knows nothing of them:
    val cold = JoinSearch.searchTables(base, query, Seq("c_name", "c_mktsegment"))
      .as[(Int, Long)].collect().toSeq
    assert(cold.isEmpty)

    // compaction folds base+deltas into one snapshot with no loss.
    val target = tmp("graft-compacted") + "/snap"
    IndexStream.compact(spark, sf0001, delta, target)
    val compacted = spark.read.parquet(target)
    assert(compacted.count() == merged.count())
    val hot = JoinSearch.searchTables(compacted, query, Seq("c_name", "c_mktsegment"))
      .as[(Int, Long)].collect().toSeq
    assert(hot == Seq((1, 4L)))
  }

  test("in-dir delta consolidation: searches, key stats and sketch unchanged through the fold") {
    implicit val sqlCtx = spark.sqlContext
    val (delta, ckpt) = (tmp("graft-delta-indir"), tmp("graft-ckpt-indir"))
    val in = MemoryStream[CRow]
    in.addData(CRow("Inplace Alpha", "NEBULA", 999940001L))
    val q1 = IndexStream.maintain(
      IndexStream.postings(in.toDF(), Corpus.byName("customer")), delta, ckpt)
    q1.processAllAvailable(); q1.stop()
    in.addData(CRow("Inplace Alpha", "NEBULA", 999940002L))
    val q2 = IndexStream.maintain(
      IndexStream.postings(in.toDF(), Corpus.byName("customer")), delta, ckpt)
    q2.processAllAvailable(); q2.stop()

    val before = IndexStream.loadWithDeltas(spark, sf0001, delta)
      .collect().map(_.toString).sorted.toSeq
    val statsBefore = IndexStream.keyStatsWithDeltas(spark, sf0001, delta)
      .collect().map(_.toString).toSet
    val sketchBefore = IndexStream.tableSketchWithDeltas(spark, sf0001, delta)
      .collect().map(_.toString).toSet

    // fold the two micro-batches into one key-clustered consolidation
    // (the DeltaLog.compactLive protocol — base snapshot untouched).
    assert(IndexStream.compactDeltasInPlace(spark, delta) === 2)
    assert(IndexStream.loadWithDeltas(spark, sf0001, delta)
      .collect().map(_.toString).sorted.toSeq === before)
    assert(IndexStream.keyStatsWithDeltas(spark, sf0001, delta)
      .collect().map(_.toString).toSet === statsBefore)
    assert(IndexStream.tableSketchWithDeltas(spark, sf0001, delta)
      .collect().map(_.toString).toSet === sketchBefore)
    // deferred cleanup on the next invocation; serving unchanged.
    assert(IndexStream.compactDeltasInPlace(spark, delta) === 0)
    val parts = new java.io.File(delta).list()
      .filter(n => n.startsWith("batch=") || n.startsWith("compacted=")).toSet
    assert(parts === Set("compacted=1"), s"parts: $parts")
    assert(IndexStream.loadWithDeltas(spark, sf0001, delta)
      .collect().map(_.toString).sorted.toSeq === before)
    // the conjunction over the folded live index still finds the
    // delta-only rows (score 2 rows x 2 cols on the customer table).
    val query = Seq(("Inplace Alpha", "NEBULA"), ("Inplace Alpha", "NEBULA"))
      .toDF("c_name", "c_mktsegment").distinct()
    val hits = JoinSearch.searchTables(
        IndexStream.loadWithDeltas(spark, sf0001, delta),
        query, Seq("c_name", "c_mktsegment"))
      .as[(Int, Long)].collect().toSeq
    assert(hits == Seq((1, 4L)), s"got $hits")
  }

  test("merged table sketch equals recomputed; stale base sketch wrongly prunes delta vocabulary") {
    implicit val sqlCtx = spark.sqlContext
    val (delta, ckpt) = (tmp("graft-delta4"), tmp("graft-ckpt4"))
    val cols = Seq("c_name", "c_mktsegment")
    // BOTH query keys arrive only via the delta: the base sketch has
    // never seen this vocabulary, so its coverage check must (wrongly,
    // if served live) drop the customer table.
    val in = MemoryStream[CRow]
    in.addData(
      CRow("Xylophone Quartz", "METEORITE", 999920001L),
      CRow("Xylophone Quartz", "METEORITE", 999920002L))
    val q = IndexStream.maintain(
      IndexStream.postings(in.toDF(), Corpus.byName("customer")), delta, ckpt)
    q.processAllAvailable(); q.stop()

    // (1) bucket-set union == sketch recomputed over the served index
    // (union-of-sketches IS sketch-of-union).
    val merged = IndexStream.tableSketchWithDeltas(spark, sf0001, delta)
      .as[(Int, Int, Seq[Int])].collect().toSet
    val recomputed = JoinSearch.tableKeySketch(
        IndexStream.loadWithDeltas(spark, sf0001, delta))
      .as[(Int, Int, Seq[Int])].collect().toSet
    assert(merged == recomputed && merged.nonEmpty)

    // (2) the failure mode and the fix: a query over the delta-only
    // vocabulary. The stale base-only sketch drops table 1 — one-
    // sidedness is LOST on stale sketches, this would silently return
    // no results — while the merged sketch keeps it.
    val query = Seq(("Xylophone Quartz", "METEORITE")).toDF(cols: _*)
    val m = JoinSearch.mappings(JoinSearch.prepareInput(query, cols), cols)
    val stale = JoinSearch.prunedTableIds(
      IndexBuilder.loadOrBuildTableSketch(spark, sf0001), m, cols.size)
    val live = JoinSearch.prunedTableIds(
      IndexStream.tableSketchWithDeltas(spark, sf0001, delta), m, cols.size)
    assert(!stale.contains(1), s"stale sketch unexpectedly kept table 1: $stale")
    assert(live.contains(1), s"live sketch lost table 1: $live")
    // and the conjunction over the live index really needs table 1.
    val hits = JoinSearch.searchTables(
        IndexStream.loadWithDeltas(spark, sf0001, delta), query, cols)
      .as[(Int, Long)].collect().toSeq
    // 2 matched corpus rows x 2 columns -> column scores (2, 2).
    assert(hits == Seq((1, 4L)), s"got $hits")
  }

  test("partitioned compaction: live index graduates to file-skipping pruned search") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    implicit val sqlCtx = spark.sqlContext
    val (delta, ckpt) = (tmp("graft-delta5"), tmp("graft-ckpt5"))
    val cols = Seq("c_name", "c_mktsegment")
    val in = MemoryStream[CRow]
    in.addData(
      CRow("Quixotic Banyan", "STARDUST", 999930001L),
      CRow("Quixotic Banyan", "STARDUST", 999930002L))
    val q = IndexStream.maintain(
      IndexStream.postings(in.toDF(), Corpus.byName("customer")), delta, ckpt)
    q.processAllAvailable(); q.stop()

    // fold base+deltas straight into the lake layout...
    val target = tmp("graft-compacted-part") + "/bytable"
    IndexStream.compactPartitioned(spark, sf0001, delta, target)
    val lake = spark.read.parquet(target)
    assert(lake.count() ==
      IndexStream.loadWithDeltas(spark, sf0001, delta).count())

    // ...and run the partition-pruned search over it, routed by the
    // LIVE sketch (the delta carries the query's vocabulary, so the
    // stale base sketch would wrongly drop table 1 — the live one
    // must route to it and the scan must still skip other tables'
    // files).
    val query = Seq(("Quixotic Banyan", "STARDUST")).toDF(cols: _*)
    val narrow = JoinSearch.Narrow.Sketch(
      IndexStream.tableSketchWithDeltas(spark, sf0001, delta))
    val res = JoinSearch.searchTables(lake, query, cols, narrow = narrow)
    // the bytable scan runs in the search's `colscores:` fill, whose
    // cached frame is detached from the search's plan: audit the fill
    // plan (the PrunedSearchSpec convention).
    def bytableScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("bytable")) => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        bytableScans(a.inputPlan)
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        bytableScans(s.relation.cachedPlan)
      case other => other.children.flatMap(bytableScans)
    }
    val scan = bytableScans(JoinSearch.columnScoresFill(lake, query, cols, narrow)
      .queryExecution.sparkPlan).head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "table_id")))
    assert(scan.selectedPartitions.totalNumberOfFiles <
      scan.relation.location.inputFiles.length,
      "no files skipped on the compacted lake")
    // 2 matched corpus rows x 2 columns -> score 4 on the customer table.
    assert(res.as[(Int, Long)].collect().toSeq == Seq((1, 4L)))
  }

  test("merged key stats equal recomputed; delta-hot keys hit the df cap") {
    implicit val sqlCtx = spark.sqlContext
    val (delta, ckpt) = (tmp("graft-delta3"), tmp("graft-ckpt3"))
    // a key that exists in the base BELOW the cap and goes hot purely
    // via ingest — the exact case base-only stats get wrong.
    val baseKey = IndexBuilder.loadOrBuildKeyStats(spark, sf0001)
      .where(col("kdf") <= 3).orderBy(col("key")).limit(1)
      .as[(String, Long)].collect().head
    val in = MemoryStream[CRow]
    in.addData((1 to 12).map(i =>
      CRow(baseKey._1, s"SEG$i", 999910000L + i)): _*)
    val q = IndexStream.maintain(
      IndexStream.postings(in.toDF(), Corpus.byName("customer")), delta, ckpt)
    q.processAllAvailable(); q.stop()

    // (1) incremental merge == recompute over the served index.
    val merged = IndexStream.keyStatsWithDeltas(spark, sf0001, delta)
      .as[(String, Long)].collect().toSet
    val recomputed = IndexStream.loadWithDeltas(spark, sf0001, delta)
      .groupBy("key").agg(count(lit(1)).as("kdf"))
      .as[(String, Long)].collect().toSet
    assert(merged == recomputed)
    val liveDf = merged.collect { case (k, n) if k == baseKey._1 => n }
    assert(liveDf == Set(baseKey._2 + 12), s"merged df $liveDf")

    // (2) the guard, cap 10: stale base-only stats still see df <= 3
    // and sail the now-hot key through; the merged stats cap it.
    val live = IndexStream.loadWithDeltas(spark, sf0001, delta)
    val probeMaps = Seq((baseKey._1, "m")).toDF("key", "map_key")
    val probeStale = JoinSearch.probeCapped(live, probeMaps, 10L,
        IndexBuilder.loadOrBuildKeyStats(spark, sf0001))
      .select("key").distinct().as[String].collect().toSet
    val probeLive = JoinSearch.probeCapped(live, probeMaps, 10L,
        IndexStream.keyStatsWithDeltas(spark, sf0001, delta))
      .select("key").distinct().as[String].collect().toSet
    assert(probeStale == Set(baseKey._1), s"got $probeStale")
    assert(probeLive.isEmpty, s"got $probeLive")
  }
}
