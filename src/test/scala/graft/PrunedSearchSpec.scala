package graft

import org.apache.spark.sql.functions._

import graft.operators.JoinSearch
import graft.sources.IndexBuilder

/** The table-pruning pre-filter: results must be EXACTLY
  * [[JoinSearch.searchTables]]'s (the prune is conservative by
  * construction), and on a corpus where most tables share only part
  * of the query's vocabulary the posting-level pipeline must see a
  * fraction of the postings the unpruned probe feeds it.
  */
class PrunedSearchSpec extends SparkTestBase {
  import spark.implicits._

  val cols = Seq("a", "b")

  // 50 one-column tables all containing the query key "common" but
  // never "rare" (coverage prune), one two-row table whose columns
  // both hit but never in one conjunction (kept by the sketch, scored
  // zero by the pipeline — the sketch is a TABLE-level filter), and
  // table 125 with the genuine conjunction.
  lazy val wideIndex = {
    val noise = (1 to 50).map(t => ("common", t, 1, 1L))
    val sameColPair = Seq(("common", 200, 1, 1L), ("rare", 200, 1, 2L))
    val hit = Seq(("common", 125, 1, 3L), ("rare", 125, 2, 3L))
    (noise ++ sameColPair ++ hit).toDF("key", "table_id", "column_id", "row_id")
  }
  lazy val wideQuery = Seq(("common", "rare")).toDF("a", "b")

  test("pruned search equals unpruned on the wide fixture") {
    val base = JoinSearch.searchTables(wideIndex, wideQuery, cols)
      .as[(Int, Long)].collect().toSeq
    val pruned = JoinSearch.searchTables(wideIndex, wideQuery, cols,
        narrow = JoinSearch.Narrow.Sketch(JoinSearch.tableKeySketchCached(wideIndex)))
      .as[(Int, Long)].collect().toSeq
    assert(base == Seq((125, 2L)))
    assert(pruned == base)
  }

  test("sketch prunes tables that cannot conjoin, before the posting level") {
    val m = JoinSearch.mappings(
      JoinSearch.prepareInput(wideQuery, cols), cols)
    val allowed = JoinSearch.prunedTables(
        JoinSearch.tableKeySketch(wideIndex), m, cols.size)
      .as[Int].collect().toSeq
    // coverage kills the 50 "common"-only tables; breadth (>= 2
    // hitting columns) kills table 200 even though both keys appear.
    assert(allowed == Seq(125), s"got $allowed")
    val plainPostings = JoinSearch.probe(wideIndex, m).count()
    val prunedPostings = JoinSearch.probe(wideIndex, m)
      .join(broadcast(allowed.toDF("table_id")), Seq("table_id"), "left_semi")
      .count()
    assert(plainPostings == 54L, s"got $plainPostings") // 50 noise + 2 (t200) + 2 (t125)
    assert(prunedPostings == 2L, s"got $prunedPostings")
  }

  test("pruned search hash-equals unpruned on every sf0.001 search family") {
    val idx = IndexBuilder.cached(spark, sf0001)
    val families = Seq(
      (Queries.customerQuery(spark, sf0001), Queries.customerCols),
      (Queries.ordersQuery(spark, sf0001), Queries.ordersCols),
      (Queries.partQuery(spark, sf0001), Queries.partCols),
      (Queries.negativeQuery(spark, sf0001), Queries.negativeCols))
    families.foreach { case (q, qcols) =>
      val base = JoinSearch.searchTables(idx, q, qcols)
        .as[(Int, Long)].collect().toSeq
      val pruned = JoinSearch.searchTables(idx, q, qcols,
          narrow = JoinSearch.Narrow.Sketch(JoinSearch.tableKeySketchCached(idx)))
        .as[(Int, Long)].collect().toSeq
      assert(pruned == base, s"pruned diverged on $qcols: $pruned vs $base")
    }
  }

  test("pruned probe keeps the postings exchange-free (plan shape)") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    // the Sketch narrowing's probe is the postings below the fill's
    // first posting-side exchange, the (table_id, row_id) key-set
    // aggregation: no shuffle may sit under it outside a broadcast
    // subtree (the sketch/query sides are tiny and may aggregate);
    // the posting lineage itself never moves before the conjunction —
    // same claim the capped probe makes. Audited on the NON-ADAPTIVE
    // executedPlan: sparkPlan predates EnsureRequirements so
    // exchanges do not exist in it (an absence check there is
    // vacuous — round-8 fix), and AQE hides stages behind leaves.
    def nonBroadcastShuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case _: BroadcastExchangeExec => Seq.empty
      case s: ShuffleExchangeExec =>
        s +: s.children.flatMap(nonBroadcastShuffles)
      case other => other.children.flatMap(nonBroadcastShuffles)
    }
    def byTableRow(s: ShuffleExchangeExec): Boolean = s.outputPartitioning match {
      case h: HashPartitioning =>
        h.references.map(_.name).toSet == Set("table_id", "row_id")
      case _ => false
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val fill = JoinSearch.columnScoresFill(wideIndex, wideQuery, cols,
        JoinSearch.Narrow.Sketch(JoinSearch.tableKeySketch(wideIndex)))
      val plan = fill.queryExecution.executedPlan
      val keySets = nonBroadcastShuffles(plan).filter(byTableRow)
      assert(keySets.nonEmpty, s"no (table_id, row_id) exchange in the fill:\n$plan")
      val bad = keySets.flatMap(_.children.flatMap(nonBroadcastShuffles))
      assert(bad.isEmpty, s"pruned probe shuffles the postings:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("partition-pruned search skips pruned tables' FILES (PartitionFilters)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val part = IndexBuilder.loadOrSnapshotPartitioned(spark, sf0001)
    val sketch = IndexBuilder.loadOrBuildTableSketch(spark, sf0001)
    val q = Queries.customerQuery(spark, sf0001)
    val res = JoinSearch.searchTables(part, q, Queries.customerCols,
      narrow = JoinSearch.Narrow.Sketch(sketch))

    // identical ranked output to the unpruned default.
    val base = JoinSearch.searchTables(
        IndexBuilder.cached(spark, sf0001), q, Queries.customerCols)
      .as[(Int, Long)].collect().toSeq
    assert(res.as[(Int, Long)].collect().toSeq == base && base.nonEmpty)

    // the sketch genuinely prunes on this corpus (else the file-skip
    // assertions below would hold vacuously).
    val m = JoinSearch.mappings(
      JoinSearch.prepareInput(q, Queries.customerCols), Queries.customerCols)
    val allowed = JoinSearch.prunedTableIds(sketch, m, Queries.customerCols.size)
    val totalTables = part.select("table_id").distinct().count()
    assert(allowed.nonEmpty && allowed.size < totalTables,
      s"fixture does not prune: $allowed of $totalTables tables")

    // every scan of the partitioned snapshot carries the table set as
    // a PARTITION filter (zero data-filter fallback) and lists only
    // the allowed partitions' files into the plan. The scan runs in
    // the search's `colscores:` fill, whose cached frame is detached
    // from the search's plan, so the audit reads the fill plan itself
    // (still descending through AQE wrappers and cached relations).
    def bytableScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("-bytable")) => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        bytableScans(a.inputPlan)
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        bytableScans(s.relation.cachedPlan)
      case other => other.children.flatMap(bytableScans)
    }
    val scans = bytableScans(JoinSearch.columnScoresFill(part, q,
      Queries.customerCols, JoinSearch.Narrow.Sketch(sketch)).queryExecution.sparkPlan)
    assert(scans.nonEmpty, "no scan of the partitioned snapshot found")
    scans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "table_id")),
        s"table_id predicate missing from PartitionFilters:\n$f")
      assert(!f.dataFilters.exists(_.references.exists(_.name == "table_id")),
        s"table_id fell through to data filters (prune not physical):\n$f")
      val listing = f.selectedPartitions
      assert(listing.partitionCount == allowed.size,
        s"scan lists ${listing.partitionCount} partitions, sketch allows ${allowed.size}")
      val totalFiles = f.relation.location.inputFiles.length
      assert(listing.totalNumberOfFiles < totalFiles,
        s"no files skipped: ${listing.totalNumberOfFiles} of $totalFiles read")
    }
  }

  test("partition-pruned search survives an all-pruned verdict (empty isin)") {
    // a query whose keys exist nowhere: the sketch prunes EVERY
    // table, the partition predicate becomes an empty IN — the scan
    // must plan to zero partitions and the search must return empty,
    // not throw.
    val part = IndexBuilder.loadOrSnapshotPartitioned(spark, sf0001)
    val sketch = IndexBuilder.loadOrBuildTableSketch(spark, sf0001)
    val hopeless = Seq(("zzzzqqqqxxxx", "wwwwyyyyvvvv")).toDF("a", "b")
    val res = JoinSearch.searchTables(part, hopeless, Seq("a", "b"),
      narrow = JoinSearch.Narrow.Sketch(sketch))
    assert(res.count() == 0L)
  }

  test("sketch artifact roundtrips beside the snapshot") {
    val art = IndexBuilder.loadOrBuildTableSketch(spark, sf0001)
      .select(col("table_id"), col("column_id"), col("bits"))
      .as[(Int, Int, Seq[Int])].collect().toSet
    val live = JoinSearch.tableKeySketch(IndexBuilder.cached(spark, sf0001))
      .as[(Int, Int, Seq[Int])].collect().toSet
    assert(art == live)
    assert(art.nonEmpty)
    // bounded: every column sketch fits the bit width
    assert(art.forall(_._3.size <= JoinSearch.SketchBits))
  }
}
