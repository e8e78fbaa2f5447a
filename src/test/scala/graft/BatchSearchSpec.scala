package graft

import graft.operators.JoinSearch
import graft.sources.IndexBuilder

/** The batched multi-query search is the union of its members' single
  * searches, so it must return exactly what the one-at-a-time searches
  * return, per query, under every narrowing. Its warm job budget, and
  * the member entries it warms, are pinned in `WarmSearchSpec`.
  */
class BatchSearchSpec extends SparkTestBase {
  import spark.implicits._

  private def queryTriples(dir: String) = Seq(
    ("customer", Queries.customerQuery(spark, dir), Queries.customerCols),
    ("orders", Queries.ordersQuery(spark, dir), Queries.ordersCols),
    ("part", Queries.partQuery(spark, dir), Queries.partCols))

  test("batch search equals the one-at-a-time searches per query") {
    val idx = IndexBuilder.cached(spark, sf0001)
    val got = JoinSearch.searchTablesBatch(idx, queryTriples(sf0001))
      .as[(String, Int, Long)].collect().toSeq
    val expected = queryTriples(sf0001).flatMap { case (qid, q, cols) =>
      JoinSearch.searchTables(idx, q, cols)
        .as[(Int, Long)].collect().toSeq.map { case (t, s) => (qid, t, s) }
    }.sortBy { case (qid, t, s) => (qid, -s, t) }
    assert(got == expected)
    assert(got.map(_._1).distinct.sorted == Seq("customer", "orders", "part"))
  }

  test("a member's conjunction floor counts only its own keys") {
    // member a's only row cleans to the one key x twice: no corpus row
    // holds two distinct keys of a, so a matches nothing. A probe
    // shared with b puts b's y into table 1's row, which would lift
    // that row over a two-key floor and score (a, 1, 2).
    val idx = Seq(("x", 1, 1, 1L), ("y", 1, 2, 1L), ("z", 2, 1, 5L), ("y", 2, 2, 5L))
      .toDF("key", "table_id", "column_id", "row_id")
    val cols = Seq("qa", "qb")
    val members = Seq(
      ("a", Seq(("x", "x")).toDF(cols: _*), cols),
      ("b", Seq(("y", "z")).toDF(cols: _*), cols))
    val got = JoinSearch.searchTablesBatch(idx, members)
      .as[(String, Int, Long)].collect().toSeq
    assert(got == Seq(("b", 2, 2L)), s"got $got")
    members.foreach { case (qid, q, cs) =>
      assert(got.filter(_._1 == qid).map(r => (r._2, r._3)) ==
        JoinSearch.searchTablesWindowed(idx, q, cs).as[(Int, Long)].collect().toSeq,
        s"member $qid diverged from windowed")
    }
  }

  test("a Sketch-narrowed batch on the partitioned snapshot equals the plain batch") {
    val got = JoinSearch.searchTablesBatch(
        IndexBuilder.loadOrSnapshotPartitioned(spark, sf0001), queryTriples(sf0001),
        narrow = JoinSearch.Narrow.Sketch(IndexBuilder.loadOrBuildTableSketch(spark, sf0001)))
      .as[(String, Int, Long)].collect().toSeq
    val base = JoinSearch.searchTablesBatch(
        IndexBuilder.cached(spark, sf0001), queryTriples(sf0001))
      .as[(String, Int, Long)].collect().toSeq
    assert(got.nonEmpty && got == base)
  }
}
