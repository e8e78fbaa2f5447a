package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.operators.JoinSearch
import graft.sources.{Corpus, IndexBuilder}
import graft.streaming.{DeltaLog, IndexStream}

/** The default search's warm and live budgets and its freshness. A
  * repeated (index, query) pair is served from the `colscores:`
  * persist: the warm search is the top-columns/table-score tail over
  * one cached partition, ONE Spark job. A committed delta changes the
  * live index's identity, so the same query recomputes and sees the
  * new rows; the answers equal the windowed cross-check strategy,
  * which never reads `colscores:`. That recompute has a pinned job
  * count and leaves exactly one new resident RDD per landed batch.
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

  test("a repeated search on the same index and query runs exactly one Spark job") {
    val idx = IndexBuilder.cached(spark, sf0001)
    // read once: a parquet read infers its schema with a job of its own
    val query = Queries.customerQuery(spark, sf0001)
    def search = JoinSearch.searchTables(idx, query, Queries.customerCols)
    val first = rows(search)
    assert(first.nonEmpty)
    var again = Seq.empty[(Int, Long)]
    val jobs = jobsOf { again = rows(search) }
    assert(jobs.size == 1, s"warm search ran ${jobs.size} Spark jobs: $jobs")
    assert(again == first)
    assert(first == rows(
      JoinSearch.searchTablesWindowed(idx, query, Queries.customerCols)))
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
    // resolved outside the count: reading the new delta file set runs
    // its own schema jobs
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
