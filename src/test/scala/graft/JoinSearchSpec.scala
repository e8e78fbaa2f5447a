package graft

import org.apache.spark.sql.functions._

import graft.operators.JoinSearch
import graft.sources.IndexBuilder

/** Golden micro-corpus reproducing the reference's worked example
  * (`Par_Search.py:217-302` comments; FIXTURES.md §1.2), adjusted
  * where the reference's comments contradict its code — the code
  * dedups (table,row,key) before the co-occurrence count
  * (`Par_Search.py:247`), so a row whose only hits are the same key
  * in two columns (table 127 below) must NOT match.
  */
class JoinSearchSpec extends SparkTestBase {
  import spark.implicits._

  val pirates = "pirates caribbean world''s end"

  // (key, table_id, column_id, row_id)
  lazy val index = Seq(
    ("james cameron", 123, 1, 3L), ("avatar", 123, 2, 3L),
    ("gore verbinski", 123, 1, 4L),
    (pirates, 124, 2, 4L),
    ("james cameron", 125, 1, 3L), ("avatar", 125, 2, 3L),
    ("gore verbinski", 125, 1, 4L), (pirates, 125, 2, 4L),
    ("avatar", 127, 1, 3L), ("avatar", 127, 2, 3L),
    ("james cameron", 128, 2, 3L), ("avatar", 128, 1, 3L),
    ("avatar", 128, 3, 3L))
    .toDF("key", "table_id", "column_id", "row_id")

  lazy val query = Seq(
    ("James Cameron", "Avatar"),
    ("Gore Verbinski", "Pirates of the Caribbean: At World's End"))
    .toDF("director_name", "movie_title")

  val cols = Seq("director_name", "movie_title")

  test("table scores match the worked example (code semantics)") {
    val got = JoinSearch.searchTables(index, query, cols)
      .as[(Int, Long)].collect().toSeq
    // 125: rows 3 (jc+avatar) and 4 (gv+pirates) -> 4 match rows
    // 123: row 3 -> 2; 128: row 3 (dedup avatar to col 1) -> 2
    // 124: single-attribute only -> reduced away; 127: same-key two
    // columns dedups to one posting -> fails the co-occurrence count.
    assert(got == Seq((125, 4L), (123, 2L), (128, 2L)))
  }

  test("column scores match") {
    val got = JoinSearch.searchColumns(index, query, cols)
      .as[(Int, Int, Long)].collect().toSet
    assert(got == Set((125, 1, 2L), (125, 2, 2L), (123, 1, 1L),
      (123, 2, 1L), (128, 1, 1L), (128, 2, 1L)))
  }

  test("groupBy strategy variant produces identical scores") {
    val a = JoinSearch.searchTables(index, query, cols)
      .as[(Int, Long)].collect().toSeq
    val b = JoinSearch.searchTablesViaGroupBy(index, query, cols)
      .as[(Int, Long)].collect().toSeq
    assert(a == b)
  }

  test("row-wise and cell-wise strategies produce identical scores") {
    val a = JoinSearch.searchTables(index, query, cols)
      .as[(Int, Long)].collect().toSeq
    val r = JoinSearch.searchTablesRowWise(index, query, cols)
      .as[(Int, Long)].collect().toSeq
    val c = JoinSearch.searchTablesCellWise(index, query, cols)
      .as[(Int, Long)].collect().toSeq
    assert(a == r, "row-wise diverged")
    assert(a == c, "cell-wise diverged")
  }

  test("windowed strategy produces identical scores to the anchored default") {
    val a = JoinSearch.searchTables(index, query, cols)
      .as[(Int, Long)].collect().toSeq
    val w = JoinSearch.searchTablesWindowed(index, query, cols)
      .as[(Int, Long)].collect().toSeq
    assert(a == w)
  }

  test("anchored conjunction emits the exact windowed match-row multiset") {
    val m = JoinSearch.mappings(JoinSearch.prepareInput(query, cols), cols)
    val probed = JoinSearch.probe(index, m)
    val anchored = JoinSearch.conjunctionAnchored(probed, m, cols.size)
      .as[(String, Int, Int, Long, String)].collect().toSeq
    val windowed = JoinSearch.matches(
      JoinSearch.joinMapped(JoinSearch.reduce(probed, cols.size), m), cols.size)
      .select("key", "table_id", "column_id", "row_id", "map_key")
      .as[(String, Int, Int, Long, String)].collect().toSeq
    assert(anchored.groupBy(identity).view.mapValues(_.size).toMap ==
      windowed.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("duplicate-key query row: both strategies agree (multiplicity semantics)") {
    // one query row whose two attributes clean to the SAME key: its
    // map_key requires 'avatar' twice; a row with a single deduped
    // 'avatar' posting still fails W1's >= 2 DISTINCT keys, while a
    // row with avatar + another matched key satisfies the group count
    // via the duplicated entry.
    val dupQuery = Seq(("Avatar", "Avatar"), ("James Cameron", "Avatar"))
      .toDF("director_name", "movie_title")
    val a = JoinSearch.searchTables(index, dupQuery, cols)
      .as[(Int, Long)].collect().toSeq
    val w = JoinSearch.searchTablesWindowed(index, dupQuery, cols)
      .as[(Int, Long)].collect().toSeq
    assert(a == w)
    assert(a.nonEmpty)
  }

  test("df-capped search: generous cap is a no-op, tight cap rejects hot keys") {
    val uncapped = JoinSearch.searchTables(index, query, cols)
      .as[(Int, Long)].collect().toSeq
    def capped(maxDf: Long) = JoinSearch.searchTables(index, query, cols,
      narrow = JoinSearch.Narrow.DfCap(maxDf))
    val noop = capped(1000000L)
      .as[(Int, Long)].collect().toSeq
    assert(noop == uncapped)
    // 'avatar' has df 5 in the golden index; capping at 4 removes it,
    // so only the gore-verbinski/pirates query row can still match
    val tight = capped(4L)
      .as[(Int, Long)].collect().toSeq
    assert(tight == Seq((125, 2L)), s"got $tight")
  }

  test("seq-parity mode: A3 top-2 score diverges from par top-N at N=3") {
    val cols3 = Seq("a", "b", "c")
    val q3 = Seq(("Ka", "Kb", "Kc")).toDF("a", "b", "c")
    val idx3 = (1L to 3L).flatMap(r =>
      Seq(("ka", 1, 1, r), ("kb", 1, 2, r), ("kc", 1, 3, r)))
      .toDF("key", "table_id", "column_id", "row_id")
    val par = JoinSearch.searchTables(idx3, q3, cols3)
      .as[(Int, Long)].collect().toSeq
    val sq = JoinSearch.searchTablesSeqParity(idx3, q3, cols3)
      .as[(Int, Long)].collect().toSeq
    assert(par == Seq((1, 9L)), s"par top-3 sum: $par")
    assert(sq == Seq((1, 6L)), s"seq top-2 sum: $sq")
    // at N=2 the modes coincide by construction
    val a = JoinSearch.searchTables(index, query, cols)
      .as[(Int, Long)].collect().toSeq
    val sp = JoinSearch.searchTablesSeqParity(index, query, cols)
      .as[(Int, Long)].collect().toSeq
    assert(sp == a)
  }

  test("capped probe never shuffles postings by key (hot-key guard plan shape)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val m = JoinSearch.mappings(JoinSearch.prepareInput(query, cols), cols)
    val plan0 = JoinSearch.probeCapped(index, m, 4L).queryExecution.sparkPlan
    assert(plan0.collect { case w: WindowExec => w }.isEmpty,
      s"per-key window re-creates the straggler the cap guards against:\n$plan0")
    // exchange audit on the NON-ADAPTIVE executedPlan — sparkPlan
    // predates EnsureRequirements, so exchanges do not exist in it
    // and an absence assertion there is vacuous (round-8 fix); AQE
    // hides stages behind leaves. The postings themselves must never
    // move: every shuffle must sit INSIDE a broadcast subtree (the
    // query/stats sides may aggregate before broadcasting).
    def nonBroadcastShuffles(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: BroadcastExchangeExec => Seq.empty
      case s: ShuffleExchangeExec => s +: s.children.flatMap(nonBroadcastShuffles)
      case other => other.children.flatMap(nonBroadcastShuffles)
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = JoinSearch.probeCapped(index, m, 4L).queryExecution.executedPlan
      assert(nonBroadcastShuffles(plan).isEmpty,
        s"capped probe shuffles the postings:\n$plan")
      assert(plan.toString.contains("InMemoryTableScan"),
        s"expected the session-cached key stats under the guard:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("above-threshold degradation: shuffled form completes broadcast-free with identical results") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1") // every auto-broadcast forbidden
    try {
      val base = JoinSearch.searchTables(index, query, cols)
        .as[(Int, Long)].collect().toSeq
      val sdf = JoinSearch.searchTablesShuffled(index, query, cols)
      val got = sdf.as[(Int, Long)].collect().toSeq
      assert(got == base, s"shuffled degradation diverged: $got vs $base")
      // sparkPlan, not executedPlan: AQE wraps stages into leaf nodes
      // collect can't descend (and runtime SMJ->BHJ conversion also
      // respects the disabled threshold).
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
      val bad = sdf.queryExecution.sparkPlan.collect {
        case b: BroadcastHashJoinExec => b
        case n: BroadcastNestedLoopJoinExec => n
      }
      assert(bad.isEmpty,
        s"hint-free form still plans broadcasts under a disabled threshold:\n${sdf.queryExecution.sparkPlan}")
    } finally spark.conf.set(key, prev)
  }

  test("auto dispatch routes by query size against the broadcast threshold") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    def joinsIn(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
        1 + p.children.map(joinsIn).sum
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        joinsIn(a.inputPlan)
      case other => other.children.map(joinsIn).sum
    }
    def broadcastJoins(df: org.apache.spark.sql.DataFrame): Int =
      joinsIn(df.queryExecution.sparkPlan)
    // under the default threshold the tiny query takes the hinted
    // route. The decision is asserted directly: the hinted plan's
    // broadcasts ran inside its `colscores:` fill, which the cached
    // frame no longer carries as a plan.
    assert(JoinSearch.fitsBroadcast(query, cols),
      "small query did not route to the hinted form")
    val base = JoinSearch.searchTablesAuto(index, query, cols)
      .as[(Int, Long)].collect().toSeq
    assert(base == JoinSearch.searchTables(index, query, cols)
      .as[(Int, Long)].collect().toSeq)

    // with broadcasting disabled (the stand-in for an over-threshold
    // query: the gate compares against the SAME conf), the dispatch
    // must take the degradation form — zero broadcast joins, same
    // rows. This is the trap the gate closes: the old default would
    // still force a broadcast here.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "0")
    try {
      assert(!JoinSearch.fitsBroadcast(query, cols))
      val degraded = JoinSearch.searchTablesAuto(index, query, cols)
      assert(broadcastJoins(degraded) == 0,
        s"dispatch still forces broadcasts with the threshold off:\n${degraded.queryExecution.sparkPlan}")
      assert(degraded.as[(Int, Long)].collect().toSeq == base)
    } finally spark.conf.set(key, prev)
  }

  test("prepareInput limit knob caps the raw rows deterministically") {
    val q = Seq(("b", "1"), ("a", "1"), ("c", "1"), ("a", "2"))
      .toDF("x", "y")
    // sorted raw order: (a,1),(a,2),(b,1),(c,1) -> limit 2 keeps the a's
    val got = JoinSearch.prepareInput(q, Seq("x", "y"), Some(2))
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "1"), ("a", "2")))
    // no limit passes through unchanged
    assert(JoinSearch.prepareInput(q, Seq("x", "y"), None).count() == 4L)
  }

  test("stage W1 removes single-attribute and same-key-two-column rows") {
    val m = JoinSearch.mappings(JoinSearch.prepareInput(query, cols), cols)
    val red = JoinSearch.reduce(JoinSearch.probe(index, m), 2)
    val tables = red.select("table_id").distinct().as[Int].collect().toSet
    assert(tables == Set(123, 125, 128))
  }

  test("duplicate-cell query row (quirk) requires two distinct corpus keys") {
    // query row with both cells equal: mappings contains (x, "x x")
    // twice; a corpus row holding 'x x'-key once in one column must
    // not match (W1 dedup kills it), matching reference CODE.
    val q = Seq(("BUILDING", "BUILDING")).toDF("a", "b")
    val idx = Seq(("building", 1, 1, 1L), ("building", 1, 2, 1L))
      .toDF("key", "table_id", "column_id", "row_id")
    val got = JoinSearch.searchTables(idx, q, Seq("a", "b")).count()
    assert(got == 0L)
  }

  test("degenerate inputs return empty results, not errors") {
    val emptyQ = Seq.empty[(String, String)].toDF("director_name", "movie_title")
    assert(JoinSearch.searchTables(index, emptyQ, cols).count() == 0L)
    val nullQ = Seq((null: String, null: String)).toDF("director_name", "movie_title")
    assert(JoinSearch.searchTables(index, nullQ, cols).count() == 0L)
    val emptyIdx = Seq.empty[(String, Int, Int, Long)]
      .toDF("key", "table_id", "column_id", "row_id")
    assert(JoinSearch.searchTables(emptyIdx, query, cols).count() == 0L)
    assert(JoinSearch.searchTables(emptyIdx, query, cols,
      narrow = JoinSearch.Narrow.DfCap(10L)).count() == 0L)
    assert(JoinSearch.searchTablesShuffled(emptyIdx, query, cols).count() == 0L)
    assert(JoinSearch.searchTablesSeqParity(index, emptyQ, cols).count() == 0L)
  }

  test("end-to-end on real sf0.001: customer query ranks customer first") {
    val idx = IndexBuilder.build(spark, sf0001)
    val got = JoinSearch.searchTables(idx,
      Queries.customerQuery(spark, sf0001), Queries.customerCols)
      .as[(Int, Long)].collect()
    assert(got.nonEmpty)
    assert(got.head._1 == 1, s"customer (table 1) should rank first: ${got.toSeq}")
    // each sampled customer row matches itself: score = 2 * #rows (10)
    assert(got.head._2 == 20L, s"got ${got.toSeq}")
  }

  test("negative query (keys exist, never co-occur) returns empty") {
    val idx = IndexBuilder.build(spark, sf0001)
    val got = JoinSearch.searchTables(idx,
      Queries.negativeQuery(spark, sf0001), Queries.negativeCols)
    assert(got.count() == 0L)
  }
}
