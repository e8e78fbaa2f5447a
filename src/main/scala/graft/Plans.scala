package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, JoinSearch, TextAnalysis}
import graft.sources.IndexBuilder

/** Plan-audit dump (not part of the library surface): writes
  * `PLANS.md` — the FORMATTED physical plans of the flagship queries
  * against `SPARK_GRAFT_SF_DIR` — so the shuffle/broadcast/pushdown
  * claims in the operators' scaladoc are inspectable as the actual
  * plans Catalyst produced, not prose. The golden exchange-count
  * spec (`PlanGoldenSpec`) pins these shapes in CI; this artifact is
  * the human-readable companion. AQE is disabled for the dump (the
  * `PlanGoldenSpec` convention) so requirement-driven exchanges are
  * explicit rather than folded into runtime stages.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val out = args.headOption.getOrElse("PLANS.md")
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val idx = IndexBuilder.cached(spark, sfDir)
    val custQ = Queries.customerQuery(spark, sfDir)

    def fmt(df: DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)

    val sections: Seq[(String, String, DataFrame)] = Seq(
      ("searchTables (anchored conjunction)",
        "One posting lineage; probe and stats arrive by broadcast; the " +
          "ranked output is a TakeOrdered, never a global sort " +
          "materialization.",
        JoinSearch.searchTables(idx, custQ, Queries.customerCols)),
      ("searchTables with Narrow.Sketch (file-skipping lake scan)",
        "The column-score fill over the partitioned snapshot: the " +
          "sketch verdict is a literal table_id IN (...) predicate — " +
          "look for PartitionFilters on the partitioned scan; pruned " +
          "tables' files are never listed into the plan.",
        JoinSearch.columnScoresFill(
          IndexBuilder.loadOrSnapshotPartitioned(spark, sfDir), custQ,
          Queries.customerCols, JoinSearch.Narrow.Sketch(
            IndexBuilder.loadOrBuildTableSketch(spark, sfDir)))),
      ("heavyHitters (certified sketch-then-verify)",
        "The FIRST corpus-sized exchange is bucket-keyed (<= B partial " +
          "rows per task); the only term-keyed aggregation sees " +
          "hot-bucket terms — the vocabulary tail never shuffles.",
        TextAnalysis.heavyHitters(spark, sfDir)),
      ("bm25TopK (probe-before-aggregate retrieval)",
        "Postings are filtered to the probe's terms BEFORE any " +
          "aggregation, so cost tracks matched postings, not the corpus.",
        TextAnalysis.bm25TopK(spark, sfDir)),
      ("keptCorpus (hint-free anti-join apply)",
        "No broadcast hint on the drop list — corpus-proportional at " +
          "web dup rates; AQE may still broadcast a small list at " +
          "runtime, which is the safe direction.",
        Dedup.keptCorpus(spark, sfDir)),
      ("q6_forecast_revenue (pushdown witness)",
        "PushedFilters + pruned ReadSchema on the parquet scan: the " +
          "range predicates and the 2-column projection reach the " +
          "reader.",
        SparkEntry.queries("q6_forecast_revenue")(spark, sfDir)),
      ("phraseTopKIndexed (live positional index, round 9)",
        "Served from the DURABLE positional index's live view: the " +
          "phrase terms are a pushed In(term) predicate on the " +
          "term-clustered scan — no tokenize lineage anywhere in the " +
          "plan; accumulated streaming deltas union in under the same " +
          "pushed predicate.",
        TextAnalysis.phraseTopKIndexed(spark, sfDir)),
      ("bm25ScoresBatchIndexed (artifact-served text tower, round 9)",
        "N probes' BM25 scores touching ONLY durable artifacts: tf " +
          "from the positional index (one pushed In over the union " +
          "term set), dl from the doc-length companion — the corpus " +
          "text is never re-tokenized at query time.",
        TextAnalysis.bm25ScoresBatchIndexed(spark, sfDir, Seq(0L, 50L, 100L))),
      ("winnowFingerprints (row-local selection, round 11; spread round 12)",
        "The MOSS selection is pure row-local array arithmetic: " +
          "scan -> narrow-side spread -> project -> outer generate " +
          "-> project -> output sort. The spread (one input-bounded " +
          "repartition on doc_id, the stats convention) is the only " +
          "exchange besides the sort — without it the O(m·w) md5 " +
          "arithmetic runs at the scan's split count, one core for a " +
          "one-file corpus. explode_outer is deliberate — " +
          "InferFiltersFromGenerate skips outer generates, so no " +
          "inferred filter ever copies the heavy selection expression " +
          "below the guard (the round-10 crash AND its O(m²·w) " +
          "re-evaluation pathology).",
        TextAnalysis.winnowFingerprints(spark, sfDir)),
      ("winnowScreen (artifact-served crawl screening, round 11)",
        "The corpus side is ONE parquet scan of the durable winnow " +
          "sketch — no fingerprinting subplan anywhere on it; the " +
          "crawl slice fingerprints row-locally, dedupes, and joins " +
          "fp-keyed (hint-free: the small side broadcasts by stats, " +
          "a corpus-sized side would degrade to shuffle).",
        TextAnalysis.winnowScreen(spark, sfDir)),
      ("boilerplateRemovedIndexed (artifact-served line dedup, round 11)",
        "The template side is ONE filtered scan of the durable " +
          "(line, n_docs) artifact (minDocs is a query-time filter, " +
          "not a build parameter) feeding the hint-free drop-list " +
          "join's broadcast; the corpus scan that remains is the " +
          "rebuild itself — line positions carried as posexplode " +
          "output, no window, one doc-keyed aggregation.",
        TextAnalysis.boilerplateRemovedIndexed(spark, sfDir)),
      ("urlDedup (crawl-frontier canonical identity, round 12)",
        "Every canonicalization step (fragment/scheme/www/port strip, " +
          "slash collapse, tracking-param filter + param sort) is a " +
          "codegen'd row-local regexp/array function — one scan, one " +
          "projection, one url_norm-keyed aggregation with map-side " +
          "partials, the output sort. No generator, no join.",
        graft.operators.Dedup.urlDedup(spark, sfDir)))

    val body = sections.map { case (title, note, df) =>
      s"## $title\n\n$note\n\n```\n${fmt(df).trim}\n```\n"
    }.mkString("\n")

    val header =
      s"""# PLANS — formatted physical plans of the flagship queries
         |
         |Generated by `runMain graft.Plans` against `$sfDir`
         |(AQE off, so every requirement-driven exchange is explicit;
         |`PlanGoldenSpec` pins the exchange counts in CI). Regenerate
         |after any planner-visible change.
         |""".stripMargin

    Files.writeString(Paths.get(out), header + "\n" + body)
    println(s"wrote $out")
    spark.stop()
  }
}
