package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.{Corpus, IndexBuilder}

/** Incremental maintenance of the inverted index with Structured
  * Streaming: newly arriving corpus rows become postings continuously,
  * appended as durable key-clustered parquet deltas beside the base
  * snapshot, so searches always run against a fresh index without
  * ever re-scanning the historical corpus.
  *
  * This is the streaming half of the reference's offline tokenize
  * step (the corpus was pre-tokenized once into Vertica,
  * `handlers.py:15`, `Par_Search.py:186-191` — any new corpus row
  * required a full re-run). Spark-first re-expression:
  *
  *   readStream (file / Kafka source of new rows)
  *     -> [[IndexBuilder.unpivotRows]] (same catalog, same colIds)
  *     -> [[IndexBuilder.postingsFromRaw]] (same clean/filter)
  *     -> foreachBatch: [[IndexBuilder.writeSnapshotAs]] into
  *        `deltaDir/batch=<id>` (same key-clustered layout)
  *
  * Scale posture:
  *  - the transform is stateless (no watermark, no aggregation
  *    state) — postings derive row-locally, so the stream shards
  *    trivially across executors at any rate;
  *  - exactly-once lands on the idempotent per-batch overwrite: a
  *    replayed micro-batch rewrites `batch=<id>` in place (the
  *    standard foreachBatch idempotence pattern), and the checkpoint
  *    pins the offset->batchId mapping;
  *  - each delta is written through the snapshot's own physical form
  *    (hash-clustered by key), so probe locality holds for deltas
  *    exactly as for the base; a periodic compaction folding deltas
  *    into the base is [[IndexBuilder.writeSnapshotAs]] over
  *    [[loadWithDeltas]] — the same one call.
  */
object IndexStream {

  /** Streaming rows of one catalog table -> streaming postings. */
  def postings(rows: DataFrame, table: Corpus.Table): DataFrame =
    IndexBuilder.postingsFromRaw(IndexBuilder.unpivotRows(rows, table))

  /** Streaming postings in the raw wire format
    * `(raw, table_id, column_id, row_id)` — for sources that already
    * unpivot (e.g. a CDC feed of cell changes).
    */
  def postingsFromRaw(raw: DataFrame): DataFrame =
    IndexBuilder.postingsFromRaw(raw)

  /** Start the maintenance query: every micro-batch of derived
    * postings lands as `deltaDir/batch=<id>`, key-clustered parquet,
    * idempotently overwritten on replay.
    */
  def maintain(postings: DataFrame, deltaDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    postings.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        IndexBuilder.writeSnapshotAs(batch.toDF(), s"$deltaDir/batch=$batchId")
        // manifest-commit AFTER the part lands ([[DeltaLog]]): readers
        // resolve the manifest, so a crash mid-write leaves the part
        // invisible until the checkpoint replays it.
        DeltaLog.commit(batch.sparkSession, deltaDir, s"batch=$batchId")
        ()
      }
      .start()

  /** Fold base + accumulated deltas into one fresh key-clustered
    * snapshot at `targetPath` (a NEW path — never the base being
    * read: parquet sources cannot be overwritten mid-scan). The
    * caller swaps the compacted snapshot in and clears the delta dir
    * once the write commits; until then readers keep serving
    * base+deltas — a zero-downtime compaction.
    */
  def compact(spark: SparkSession, dir: String, deltaDir: String,
      targetPath: String): String =
    IndexBuilder.writeSnapshotAs(loadWithDeltas(spark, dir, deltaDir), targetPath)

  /** [[compact]] into the LAKE layout: base + deltas folded into a
    * `table_id`-partitioned, key-clustered snapshot — the target the
    * partition-pruned search reads, so a live index graduates to
    * file-skipping pruning at the next compaction without a separate
    * conversion pass. Same zero-downtime contract as [[compact]].
    */
  def compactPartitioned(spark: SparkSession, dir: String, deltaDir: String,
      targetPath: String): String =
    IndexBuilder.writePartitionedSnapshotAs(
      loadWithDeltas(spark, dir, deltaDir), targetPath)

  /** The live index: base snapshot plus all accumulated deltas.
    * Missing/empty delta dir degrades to the base snapshot alone —
    * and "empty" means no `batch=*` entries specifically: a stray
    * non-batch entry (e.g. a `_temporary` left by a failed
    * foreachBatch write) must not turn the glob into a read error
    * (round-5 ADVICE).
    */
  def loadWithDeltas(spark: SparkSession, dir: String, deltaDir: String): DataFrame = {
    val base = IndexBuilder.loadOrSnapshot(spark, dir)
    val batches = deltaBatches(spark, deltaDir)
    if (batches.nonEmpty)
      base.unionByName(IndexBuilder.readPostings(spark, batches: _*))
    else base
  }

  /** The committed delta part directories under `deltaDir` — both
    * `batch=<id>` micro-batches and `compacted=<id>` in-dir
    * consolidations ([[compactDeltasInPlace]]), so every family's
    * serving view is compaction-aware by default. Empty when the dir
    * is missing or holds only stray entries. Shared with every other
    * base+deltas serving path (the positional index reuses it — one
    * definition of "committed delta" across artifacts). Resolution
    * is the [[DeltaLog]] manifest when one exists — one file read, a
    * consistent snapshot — with the `_SUCCESS`-gated listing as the
    * legacy-layout fallback (an uncommitted partial dir is invisible
    * on BOTH paths, round-10 verdict #3).
    */
  private[graft] def deltaBatches(spark: SparkSession, deltaDir: String,
      prefix: String = ""): Seq[String] =
    DeltaLog.liveParts(spark, deltaDir, prefix)

  /** IN-DIR delta consolidation for the postings family
    * ([[graft.streaming.DeltaLog.compactLive]] with the snapshot's
    * own key clustering): months of micro-batches fold into one
    * `compacted=<id>` part WITHOUT touching the base snapshot —
    * the lighter maintenance between full [[compact]] rebuilds
    * (which additionally fold the base and need the caller's
    * swap-and-clear). Serving picks the consolidation up through
    * [[deltaBatches]]' default all-parts view.
    */
  def compactDeltasInPlace(spark: SparkSession, deltaDir: String): Int =
    DeltaLog.compactLive(spark, deltaDir) {
      _.repartition(org.apache.spark.sql.functions.col("key"))
    }

  /** Key stats of the LIVE index — the base snapshot's durable
    * key-stats artifact incrementally merged with per-key counts of
    * the accumulated deltas. Row-for-row equal to recomputing
    * `groupBy(key).count` over [[loadWithDeltas]] (IndexStreamSpec
    * proves it), WITHOUT re-scanning the base: the merge pass touches
    * only the vocabulary-sized artifact plus the deltas, so serving
    * can refresh it per batch. This is what the df-cap
    * ([[graft.operators.JoinSearch.probeCapped]]) must consume when
    * the served index includes deltas — base-only stats undercount
    * any key that went hot via ingest, exactly the key the guard
    * exists for.
    */
  def keyStatsWithDeltas(spark: SparkSession, dir: String,
      deltaDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = IndexBuilder.loadOrBuildKeyStats(spark, dir)
    val batches = deltaBatches(spark, deltaDir)
    if (batches.isEmpty) base
    else base.unionByName(
        IndexBuilder.readPostings(spark, batches: _*)
          .groupBy("key").agg(count(lit(1)).as("kdf")))
      .groupBy("key").agg(sum("kdf").cast("long").as("kdf"))
  }

  /** Table sketch of the LIVE index — the base snapshot's durable
    * sketch artifact merged with a sketch of the accumulated deltas
    * (bucket-set union per (table, column); sketch buckets are a pure
    * per-posting function, so union-of-sketches IS
    * sketch-of-union — `IndexStreamSpec` proves row equality with
    * recomputing over [[loadWithDeltas]]). Same serving obligation as
    * [[keyStatsWithDeltas]], but for CORRECTNESS, not just cost: the
    * prune keeps a table only if the sketch covers some query row's
    * keys, and key-bucket membership is one-sided only when the
    * sketch describes every posting the index serves. A stale
    * base-only sketch is blind to vocabulary that arrived via deltas
    * and WRONGLY DROPS a now-viable table — silently missing results
    * (the spec pins the failure and the fix). Anything calling
    * [[graft.operators.JoinSearch.prunedTables]] (or the
    * partition-pruned search routing) over a base+deltas index must
    * consume THIS sketch.
    */
  def tableSketchWithDeltas(spark: SparkSession, dir: String,
      deltaDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = IndexBuilder.loadOrBuildTableSketch(spark, dir)
    val batches = deltaBatches(spark, deltaDir)
    if (batches.isEmpty) base
    else base.unionByName(
        graft.operators.JoinSearch.tableKeySketch(
          IndexBuilder.readPostings(spark, batches: _*)))
      .select(col("table_id"), col("column_id"), explode(col("bits")).as("bit"))
      .groupBy("table_id", "column_id")
      .agg(sort_array(collect_set("bit")).as("bits"))
  }
}
