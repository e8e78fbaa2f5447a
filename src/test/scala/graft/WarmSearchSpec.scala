package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.operators.JoinSearch
import graft.sources.{Corpus, IndexBuilder}
import graft.streaming.{DeltaLog, IndexStream}

/** The anchored searches' warm and live budgets and their freshness.
  * A repeated (index, query) pair is served from the `colscores:`
  * persist: the warm search is the top-columns/table-score tail over
  * one cached partition, ONE Spark job, for every narrowing and tail,
  * and a batch is its members' tails. A committed delta
  * changes the live index's identity, so the same query recomputes
  * and sees the new rows; the answers equal the windowed cross-check
  * strategy, which never reads `colscores:`. That recompute has a
  * pinned job count and leaves exactly one new resident RDD per
  * landed batch; loading the live index itself runs no job.
  */
class WarmSearchSpec extends SparkTestBase {
  import spark.implicits._

  /** The Spark jobs started by `action` (each named by its stages'
    * call sites), counted by a listener under a job group of its own.
    * A collect returns only after its jobs' start events are posted,
    * and the bus delivers in order, so a marker job's start arriving
    * means every earlier event has.
    */
  private def jobsOf(action: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"warm-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.add(e.stageInfos.map(_.name).mkString(" + "))
          case `marker` => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "warm search", interruptOnCancel = false)
      try action finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      jobs.toArray(Array.empty[String]).toSeq
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[(Int, Long)] =
    df.as[(Int, Long)].collect().toSeq

  private val cols = Queries.customerCols
  private val planted = Seq(("Customer#999960001", "NEBULA"),
    ("Customer#999960002", "NEBULA"))

  private def plantedQuery: DataFrame =
    spark.read.parquet(s"$sf0001/customer.parquet")
      .where("c_custkey % 15 = 1").select(cols.head, cols.tail: _*)
      .unionByName(planted.toDF(cols: _*))

  /** Lands the planted rows, under fresh custkeys, as committed delta
    * batch `id`.
    */
  private def landPlanted(delta: String, id: Int): Unit = {
    val base = 999960001L + 10L * id
    IndexBuilder.writeSnapshotAs(
      IndexStream.postings(planted.zipWithIndex.map { case ((n, s), i) =>
        (n, s, base + i) }.toDF("c_name", "c_mktsegment", "c_custkey"),
        Corpus.byName("customer")),
      s"$delta/batch=$id")
    DeltaLog.commit(spark, delta, s"batch=$id")
  }

  private def residentRdds(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  // resolved once, on first use: a parquet read infers its schema
  // with a job of its own
  private lazy val idx = IndexBuilder.cached(spark, sf0001)
  private lazy val customerQuery = Queries.customerQuery(spark, sf0001)
  private lazy val partIdx = IndexBuilder.loadOrSnapshotPartitioned(spark, sf0001)
  private lazy val partSketch = IndexBuilder.loadOrBuildTableSketch(spark, sf0001)

  private def narrowed(narrow: => JoinSearch.Narrow): () => DataFrame =
    () => JoinSearch.searchTables(idx, customerQuery, cols, narrow = narrow)

  private lazy val members = Seq(
    ("customer", customerQuery, cols),
    ("orders", Queries.ordersQuery(spark, sf0001), Queries.ordersCols),
    ("part", Queries.partQuery(spark, sf0001), Queries.partCols))

  /** Every form served from `colscores:` entries, with its warm job
    * budget. A sketch narrowing's table list is memoized per verdict,
    * so its warm search is the tail alone (it was 2 jobs while the
    * list was collected on every call); a batch is its members'
    * tails, unioned and sorted in the same job. The registered search
    * re-reads its query table on every call; the read's schema is
    * memoized, so it adds no inference job (it was 2 jobs).
    */
  private val warmForms: Seq[(String, Int, () => DataFrame)] = Seq(
    ("search", 1, narrowed(JoinSearch.Narrow.All)),
    ("registered search", 1,
      () => SparkEntry.queries("search_customer_tables")(spark, sf0001)),
    ("df-capped search", 1, narrowed(JoinSearch.Narrow.DfCap(10000L))),
    ("fraction-capped search", 1,
      narrowed(JoinSearch.Narrow.DfCapFraction(JoinSearch.DefaultCapFractionBp))),
    ("seq-parity search", 1,
      () => JoinSearch.searchTablesSeqParity(idx, customerQuery, cols)),
    ("column search", 1, () => JoinSearch.searchColumns(idx, customerQuery, cols)),
    ("sketch-pruned search", 1,
      narrowed(JoinSearch.Narrow.Sketch(JoinSearch.tableKeySketchCached(idx)))),
    ("partition-pruned search", 1, () => JoinSearch.searchTables(partIdx,
      customerQuery, cols, narrow = JoinSearch.Narrow.Sketch(partSketch))),
    ("batch search", 1, () => JoinSearch.searchTablesBatch(idx, members)),
    ("partition-pruned batch search", 1, () => JoinSearch.searchTablesBatch(partIdx,
      members, narrow = JoinSearch.Narrow.Sketch(partSketch))))

  for ((form, budget, search) <- warmForms)
    test(s"a repeated $form on the same index and query runs exactly " +
        (if (budget == 1) "one Spark job" else s"$budget Spark jobs")) {
      def answer = search().collect().toSeq
      val first = answer
      assert(first.nonEmpty)
      var again = Seq.empty[org.apache.spark.sql.Row]
      val jobs = jobsOf { again = answer }
      assert(jobs.size == budget, s"warm $form ran ${jobs.size} Spark jobs: $jobs")
      assert(again == first)
      if (form == "search")
        assert(first == JoinSearch.searchTablesWindowed(idx, customerQuery, cols)
          .collect().toSeq)
    }

  test("a batch fills its members' entries: a member's single search after it runs one Spark job") {
    // a literal no other search carries gives the member a maps hash,
    // and so a `colscores:` entry, of its own: cold until the batch
    val query = customerQuery.where(s"c_name <> 'batch-member-${System.nanoTime()}'")
    val batch = Seq(("fresh", query, cols),
      ("part", Queries.partQuery(spark, sf0001), Queries.partCols))
    var fromBatch = Seq.empty[(String, Int, Long)]
    val fill = jobsOf {
      fromBatch = JoinSearch.searchTablesBatch(idx, batch)
        .as[(String, Int, Long)].collect().toSeq
    }
    assert(fill.size > 1, s"the batch found the fresh member warm: $fill")
    var single = Seq.empty[(Int, Long)]
    val jobs = jobsOf { single = rows(JoinSearch.searchTables(idx, query, cols)) }
    assert(jobs.size == 1, s"a member's search after its batch ran ${jobs.size} Spark jobs: $jobs")
    assert(single.nonEmpty &&
      single == fromBatch.collect { case ("fresh", t, s) => (t, s) })
  }

  test("the cross-checks, the stage queries and the conjunction persist nothing") {
    // the frames they share with the serving search are resident first:
    // the index, the query's `qmaps:` entry, and the `idxstats:` entry
    // the supplied-statistic conjunction reads
    JoinSearch.searchTables(idx, customerQuery, cols).collect()
    JoinSearch.indexKeyStats(idx).count()
    val m = JoinSearch.mappings(JoinSearch.prepareInput(customerQuery, cols), cols)
    val probed = JoinSearch.probe(idx, m)
    val stages = Seq("w1_cooccurrence_reduce", "j1_mapkey_join",
      "w2_multiattr_matches", "a1_column_scores", "w3_top_columns")
    val verifications: Seq[(String, () => DataFrame)] = Seq(
      ("windowed", () => JoinSearch.searchTablesWindowed(idx, customerQuery, cols)),
      ("row-wise", () => JoinSearch.searchTablesRowWise(idx, customerQuery, cols)),
      ("cell-wise", () => JoinSearch.searchTablesCellWise(idx, customerQuery, cols)),
      ("conjunction", () => JoinSearch.conjunctionAnchored(probed, m, cols.size)),
      ("conjunction over index stats", () => JoinSearch.conjunctionAnchored(probed, m,
        cols.size, Some(JoinSearch.indexKeyStats(idx))))) ++
      stages.map(q => (q, () => SparkEntry.queries(q)(spark, sf0001)))
    val resident = residentRdds()
    for ((name, df) <- verifications) {
      assert(df().collect().nonEmpty, s"$name is empty")
      val added = residentRdds() -- resident
      assert(added.isEmpty, s"$name left ${added.size} new resident RDDs")
    }
  }

  test("loading the live index runs no Spark job") {
    val delta = Files.createTempDirectory("graft-load-delta").toString
    landPlanted(delta, 0)
    // the first load may build and publish the base snapshot
    IndexStream.loadWithDeltas(spark, sf0001, delta)
    var live: DataFrame = null
    val jobs = jobsOf { live = IndexStream.loadWithDeltas(spark, sf0001, delta) }
    assert(jobs.isEmpty, s"loadWithDeltas ran ${jobs.size} Spark jobs: $jobs")
    assert(live.where("row_id >= 999960001").count() == 4L)
  }

  test("a committed delta makes the same query recompute and include its rows") {
    val delta = Files.createTempDirectory("graft-warm-delta").toString
    val query = plantedQuery
    def live = IndexStream.loadWithDeltas(spark, sf0001, delta)

    val before = rows(JoinSearch.searchTables(live, query, cols))
    assert(rows(JoinSearch.searchTables(live, query, cols)) == before)
    assert(before == rows(JoinSearch.searchTablesWindowed(live, query, cols)))

    landPlanted(delta, 0)

    val after = rows(JoinSearch.searchTables(live, query, cols))
    // two planted rows x two attributes on the customer table (id 1)
    val expected = before.toMap + (1 -> (before.toMap.getOrElse(1, 0L) + 4L))
    assert(after.toMap == expected, s"before $before, after $after")
    assert(after == rows(JoinSearch.searchTablesWindowed(live, query, cols)))
  }

  test("a live search after a commit runs a pinned job count and adds one resident RDD") {
    val delta = Files.createTempDirectory("graft-live-delta").toString
    val query = plantedQuery
    def live = IndexStream.loadWithDeltas(spark, sf0001, delta)
    // the query's own fills (`qmaps:`, `qkeys:`) happen once, here
    val before = rows(JoinSearch.searchTables(live, query, cols))

    landPlanted(delta, 0)
    // resolved outside the count, which pins the search alone (the
    // load's own budget, zero jobs, is pinned above)
    val index = live
    var first = Seq.empty[(Int, Long)]
    val jobs = jobsOf { first = rows(JoinSearch.searchTables(index, query, cols)) }
    assert(jobs.size == 8, s"a live search ran ${jobs.size} Spark jobs: $jobs")
    assert(first.toMap == before.toMap + (1 -> (before.toMap.getOrElse(1, 0L) + 4L)))
    assert(first == rows(JoinSearch.searchTablesWindowed(live, query, cols)))

    // the next batch's search adds its `colscores:` entry and nothing else
    landPlanted(delta, 1)
    val resident = residentRdds()
    val second = rows(JoinSearch.searchTables(live, query, cols))
    val added = residentRdds() -- resident
    assert(added.size == 1, s"a live search left ${added.size} new resident RDDs")
    assert(second.toMap == first.toMap + (1 -> (first.toMap.getOrElse(1, 0L) + 4L)))

    // a warm repeat is served from the detached entry: no file scan,
    // not even inside the cached relation's plan
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def fileScans(p: SparkPlan): Int = p match {
      case _: FileSourceScanExec => 1
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.inputPlan)
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        fileScans(c.relation.cachedPlan)
      case other => other.children.map(fileScans).sum
    }
    val warm = JoinSearch.searchTables(live, query, cols)
    assert(fileScans(warm.queryExecution.executedPlan) == 0,
      s"the warm live plan scans files:\n${warm.queryExecution.executedPlan}")
    assert(rows(warm) == second)
  }
}
