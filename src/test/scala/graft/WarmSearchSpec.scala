package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.operators.JoinSearch
import graft.sources.{Corpus, IndexBuilder}
import graft.streaming.{DeltaLog, IndexStream}

/** The default search's warm budget and its freshness. A repeated
  * (index, query) pair is served from the `colscores:` persist: the
  * warm search is the top-columns/table-score tail over one cached
  * partition, ONE Spark job. A committed delta changes the live
  * index's identity, so the same query recomputes and sees the new
  * rows; the answers equal the windowed cross-check strategy, which
  * never reads `colscores:`.
  */
class WarmSearchSpec extends SparkTestBase {
  import spark.implicits._

  /** Spark jobs started by `action`, counted by a listener under a
    * job group of its own. A collect returns only after its jobs'
    * start events are posted, and the bus delivers in order, so a
    * marker job's start arriving means every earlier event has.
    */
  private def jobsOf(action: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"warm-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
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
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[(Int, Long)] =
    df.as[(Int, Long)].collect().toSeq

  test("a repeated search on the same index and query runs exactly one Spark job") {
    val idx = IndexBuilder.cached(spark, sf0001)
    // read once: a parquet read infers its schema with a job of its own
    val query = Queries.customerQuery(spark, sf0001)
    def search = JoinSearch.searchTables(idx, query, Queries.customerCols)
    val first = rows(search)
    assert(first.nonEmpty)
    var again = Seq.empty[(Int, Long)]
    val jobs = jobsOf { again = rows(search) }
    assert(jobs == 1, s"warm search ran $jobs Spark jobs")
    assert(again == first)
    assert(first == rows(
      JoinSearch.searchTablesWindowed(idx, query, Queries.customerCols)))
  }

  test("a committed delta makes the same query recompute and include its rows") {
    val delta = Files.createTempDirectory("graft-warm-delta").toString
    val cols = Queries.customerCols
    val planted = Seq(("Customer#999960001", "NEBULA"),
      ("Customer#999960002", "NEBULA"))
    val query = spark.read.parquet(s"$sf0001/customer.parquet")
      .where("c_custkey % 15 = 1").select(cols.head, cols.tail: _*)
      .unionByName(planted.toDF(cols: _*))
    def live = IndexStream.loadWithDeltas(spark, sf0001, delta)

    val before = rows(JoinSearch.searchTables(live, query, cols))
    assert(rows(JoinSearch.searchTables(live, query, cols)) == before)
    assert(before == rows(JoinSearch.searchTablesWindowed(live, query, cols)))

    // land the planted rows as one committed delta batch
    IndexBuilder.writeSnapshotAs(
      IndexStream.postings(planted.zipWithIndex.map { case ((n, s), i) =>
        (n, s, 999960001L + i) }.toDF("c_name", "c_mktsegment", "c_custkey"),
        Corpus.byName("customer")),
      s"$delta/batch=0")
    DeltaLog.commit(spark, delta, "batch=0")

    val after = rows(JoinSearch.searchTables(live, query, cols))
    // two planted rows x two attributes on the customer table (id 1)
    val expected = before.toMap + (1 -> (before.toMap.getOrElse(1, 0L) + 4L))
    assert(after.toMap == expected, s"before $before, after $after")
    assert(after == rows(JoinSearch.searchTablesWindowed(live, query, cols)))
  }
}
