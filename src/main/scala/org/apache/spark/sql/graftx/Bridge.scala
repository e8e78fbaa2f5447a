package org.apache.spark.sql.graftx

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** The one `private[sql]` doorway a Catalyst extension needs: turning
  * a custom [[LogicalPlan]] back into a user-facing DataFrame.
  * `Dataset.ofRows` is `private[sql]`, so this object lives under
  * `org.apache.spark.sql` — the established pattern for open-source
  * Spark extensions that add whole operators (same access trick the
  * big table-format and geospatial extensions use). Everything else
  * in graft.plans uses only public extension points
  * (`SparkSessionExtensions.injectPlannerStrategy`).
  */
object Bridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df` as a scan of its executed RDD, detached from its lineage —
    * what `localCheckpoint` does, minus the RDD checkpoint: a frame
    * persisted through this keeps its cached data, while plans built
    * over it carry a leaf RDD scan instead of the whole fill plan
    * (scans, filters, literal lists), so planning and rendering a
    * warm consumer no longer re-walk the fill. Under adaptive
    * execution `toRdd` runs the plan's shuffle and broadcast stages
    * here, eagerly; the final stage runs when the RDD is first read.
    * An adaptive plan reports no output partitioning, so neither does
    * the detached frame: repartition or coalesce after detaching.
    */
  def detach(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, false))
  }

  /** Drop the session's shared file-listing cache. On an
    * eventually-consistent store a scan can cache a stale (empty or
    * partial) directory listing — and the cache's default TTL is
    * infinite, so the staleness never heals within the session. A
    * deployment sets `spark.sql.metadataCacheTTLSeconds` (static
    * conf); this hook gives tests and long-lived serving loops the
    * same freshness without a session rebuild.
    */
  def invalidateFileListingCache(spark: SparkSession): Unit =
    org.apache.spark.sql.execution.datasources.FileStatusCache
      .getOrCreate(spark).invalidateAll()
}
