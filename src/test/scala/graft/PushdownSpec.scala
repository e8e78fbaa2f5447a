package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Asserts the plan properties the 100 TB posture depends on: range
  * predicates reach the parquet scan as PushedFilters and the scan
  * schema is pruned to the referenced columns.
  */
class PushdownSpec extends SparkTestBase {

  // sparkPlan, not executedPlan: AQE wraps the executed plan in an
  // AdaptiveSparkPlanExec whose children aren't visible to collect.
  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }

  test("q6 range filters push down to the lineitem scan; schema prunes") {
    val df = SparkEntry.queries("q6_forecast_revenue")(spark, sf0001)
    val scan = scans(df).head
    val pushed = scan.metadata.getOrElse("PushedFilters", "[]")
    assert(pushed.contains("GreaterThanOrEqual(l_discount") &&
      pushed.contains("LessThan(l_quantity"), s"PushedFilters: $pushed")
    // only the three referenced columns are read
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols == Set("l_quantity", "l_extendedprice", "l_discount"),
      s"ReadSchema: $readCols")
  }

  test("query-table scans prune to the selected columns") {
    val df = Queries.customerQuery(spark, sf0001)
      .select("c_name", "c_mktsegment")
    val scan = scans(df).head
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols == Set("c_custkey", "c_name", "c_mktsegment"),
      s"ReadSchema: $readCols")
  }

  // a private snapshot copy, built once per suite: the shared
  // snapshot may already be session-cached by another suite, in which
  // case CacheManager swaps the scan for an InMemoryRelation and
  // there is no file scan to assert pushdown on (cold-scan behavior
  // is the claim). Sources the existing disk snapshot — no corpus
  // rebuild.
  private lazy val privateSnapshot: String =
    graft.sources.IndexBuilder.writeSnapshotAs(
      graft.sources.IndexBuilder.loadOrSnapshot(spark, sf0001),
      java.nio.file.Files.createTempDirectory("graft-pushdown").toString + "/snap")

  test("leading-literal LIKE probe pushes StartsWith to the snapshot scan") {
    val df = graft.operators.JoinSearch.probeLike(
      spark.read.parquet(privateSnapshot), "customer 0000001%")
    val scan = scans(df).head
    val pushed = scan.metadata.getOrElse("PushedFilters", "[]")
    assert(pushed.contains("StringStartsWith(key"), s"PushedFilters: $pushed")
  }

  test("partitioned lake layout prunes partitions at the scan") {
    // hive-style partitioned write + equality predicate on the
    // partition column: the predicate must land in PartitionFilters
    // (directory-level pruning — unmatched partitions are never
    // listed, the 100 TB lake-layout contract), not as a row filter.
    val base = java.nio.file.Files.createTempDirectory("graft-part").toString + "/events"
    spark.read.parquet(s"$sf0001/events.parquet")
      .write.partitionBy("event_type").mode("overwrite").parquet(base)
    val df = spark.read.parquet(base)
      .where(col("event_type") === "click").select("event_id")
    val scan = scans(df).head
    val pf = scan.metadata.getOrElse("PartitionFilters", "[]")
    assert(pf.contains("event_type"), s"PartitionFilters: $pf")
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(!pushed.contains("event_type"),
      s"partition predicate leaked into data filters: $pushed")
    // and the pruned read still returns exactly the partition's rows
    val expected = spark.read.parquet(s"$sf0001/events.parquet")
      .where(col("event_type") === "click").count()
    assert(df.count() == expected && expected > 0)
  }

  test("anchored search joins are all broadcast — the index side never shuffles for a join") {
    val idx = graft.sources.IndexBuilder.build(spark, sf0001)
    // the joins run in the search's `colscores:` fill, whose cached
    // frame is detached from this plan: check the fill plan itself
    val df = graft.operators.JoinSearch.columnScoresFill(
      idx, Queries.customerQuery(spark, sf0001), Queries.customerCols)
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("SortMergeJoin"), "unexpected SortMergeJoin in:\n" + plan)
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast joins in:\n" + plan)
  }

  test("range-band join is a broadcast nested loop — the events side never shuffles for it") {
    val df = SparkEntry.queries("events_value_banded")(spark, sf0001)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "expected BroadcastNestedLoopJoin in:\n" + plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "unexpected shuffle/cartesian join in:\n" + plan)
  }

  // At 100 TB, COUNT/MIN/MAX catalog probes over a table must serve
  // from parquet FOOTER statistics, not a data scan — the DSv2
  // aggregate pushdown path. v1 parquet (the engine's default) has
  // no such path, so the claim is pinned through a v2 session scope.
  test("count/min/max serve from parquet footers under aggregate pushdown") {
    val table = s"$sf0001/lineitem.parquet"
    def profile(): org.apache.spark.sql.DataFrame =
      spark.read.parquet(table).agg(
        count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
    val plain = profile().head()
    val (v1Old, aggOld) = (
      spark.conf.get("spark.sql.sources.useV1SourceList"),
      spark.conf.get("spark.sql.parquet.aggregatePushdown"))
    try {
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      val df = profile()
      val plan = df.queryExecution.sparkPlan.toString
      assert(plan.contains("PushedAggregation: [COUNT(*)"),
        s"aggregates not pushed to the scan:\n$plan")
      assert(plan.contains("MIN(l_quantity)") && plan.contains("MAX(l_quantity)"),
        s"min/max not pushed:\n$plan")
      // footer-served numbers equal the data-scan numbers.
      assert(df.head() === plain)
    } finally {
      spark.conf.set("spark.sql.sources.useV1SourceList", v1Old)
      spark.conf.set("spark.sql.parquet.aggregatePushdown", aggOld)
    }
  }
}
