package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame

import graft.operators.JoinSearch
import graft.sources.IndexBuilder

/** The artifact staleness gate, exercised at the FS level. Round 8
  * moved the gate from `_SUCCESS` mtime comparison to a CONTENT
  * fingerprint of the upstream's file listing
  * ([[graft.sources.Artifacts]]): a rewrite landing within the same
  * coarse mtime tick as the artifact must still invalidate it — the
  * round-7 ADVICE failure the mtime gate could not see. Rebuilds are
  * observed through part-file names (every Spark overwrite emits
  * fresh random `part-<uuid>` names), which is mtime-blind by
  * construction: no sleeps, no clock assumptions.
  * Runs against an isolated copy of the corpus so the shared sf0.001
  * snapshot other suites read stays untouched.
  */
class ArtifactStalenessSpec extends SparkTestBase {

  private def isolatedCorpus(): String = {
    val dir = Files.createTempDirectory("graft-stale-corpus")
    Files.list(Paths.get(sf0001)).forEach { p =>
      Files.copy(p, dir.resolve(p.getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING)
    }
    dir.toString
  }

  private def partNames(path: String): Set[String] =
    SparkTestBase.partNames(path)

  test("companion artifacts rebuild when the snapshot is rewritten") {
    val dir = isolatedCorpus()
    // first touch builds snapshot + both companions.
    IndexBuilder.loadOrBuildKeyStats(spark, dir).count()
    IndexBuilder.loadOrBuildTableSketch(spark, dir).count()
    val statsPath = IndexBuilder.keyStatsPath(dir)
    val sketchPath = IndexBuilder.tableSketchPath(dir)
    val stats0 = partNames(statsPath)
    val sketch0 = partNames(sketchPath)
    assert(stats0.nonEmpty && sketch0.nonEmpty)

    // re-snapshot at the same path (what a compaction looks like to
    // the gate): new part-<uuid> names change the snapshot's content
    // fingerprint even when its mtime tick does not move — both
    // companions must rebuild.
    IndexBuilder.writeSnapshot(spark, dir)
    IndexBuilder.loadOrBuildKeyStats(spark, dir).count()
    IndexBuilder.loadOrBuildTableSketch(spark, dir).count()
    val stats1 = partNames(statsPath)
    val sketch1 = partNames(sketchPath)
    assert(stats1 != stats0, "key stats not rebuilt after re-snapshot")
    assert(sketch1 != sketch0, "sketch not rebuilt after re-snapshot")

    // and the rebuilt artifact still equals the live computation.
    val art = IndexBuilder.loadOrBuildTableSketch(spark, dir)
      .collect().toSet
    val live = JoinSearch.tableKeySketch(
      IndexBuilder.loadOrSnapshot(spark, dir)).collect().toSet
    assert(art == live)

    // fresh artifacts over an unchanged snapshot are served as-is
    // (no gratuitous rebuild): part names unchanged on a third touch.
    IndexBuilder.loadOrBuildKeyStats(spark, dir).count()
    IndexBuilder.loadOrBuildTableSketch(spark, dir).count()
    assert(partNames(statsPath) == stats1 && partNames(sketchPath) == sketch1,
      "artifacts rebuilt although fresh")
  }

  test("every round-9 documents-derived artifact rebuilds on source rewrite, serves as-is when fresh") {
    import graft.operators.{Bpe, Dedup, TextAnalysis}
    val dir = isolatedCorpus()
    // one touch per artifact builds it; record the part names.
    def touchAll(): Unit = {
      TextAnalysis.loadOrBuildPositionalIndex(spark, dir).count()
      TextAnalysis.loadOrBuildDocLengths(spark, dir).count()
      TextAnalysis.loadOrBuildQualityWeights(spark, dir).count()
      Dedup.clusters(spark, dir).count()
      Bpe.loadOrTrainProd(spark, dir)._1.count()
    }
    val paths = Seq(
      TextAnalysis.positionalIndexPath(dir),
      TextAnalysis.docLengthsPath(dir),
      TextAnalysis.qualityWeightsPath(dir),
      Dedup.docClustersPath(dir),
      Bpe.mergesPath(dir, Bpe.ProdMerges),
      Bpe.segmentsPath(dir))
    touchAll()
    val names0 = paths.map(partNames)
    assert(names0.forall(_.nonEmpty), s"missing artifacts: ${paths.zip(names0)}")

    // fresh over an unchanged source: served as-is, no rebuild.
    touchAll()
    assert(paths.map(partNames) == names0,
      "artifacts rebuilt although the documents source is unchanged")

    // re-crawl (identical rows, fresh part names): all must rebuild.
    val src = s"$dir/documents.parquet"
    spark.read.parquet(src).localCheckpoint(true)
      .write.mode("overwrite").parquet(src)
    touchAll()
    assert(paths.map(partNames) != names0,
      "artifacts not rebuilt after the documents source was rewritten")
  }

  test("doc-signature artifact rebuilds when the documents source is rewritten") {
    import graft.operators.Dedup
    val dir = isolatedCorpus()
    // first touch builds; artifact equals the live band computation.
    val art0 = Dedup.loadOrBuildSignatures(spark, dir)
      .collect().map(_.toString).toSet
    val live = Dedup.bands(spark, dir).collect().map(_.toString).toSet
    assert(art0 == live && art0.nonEmpty)
    val sigPath = Dedup.signaturePath(dir)
    val names0 = partNames(sigPath)
    assert(names0.nonEmpty)

    // re-crawl: the documents source is rewritten in place (identical
    // rows — localCheckpoint materializes before the overwrite). The
    // fingerprint sees the new part names regardless of mtime ticks;
    // the artifact must rebuild.
    val src = s"$dir/documents.parquet"
    spark.read.parquet(src).localCheckpoint(true)
      .write.mode("overwrite").parquet(src)
    Dedup.loadOrBuildSignatures(spark, dir).count()
    val names1 = partNames(sigPath)
    assert(names1 != names0,
      "signatures not rebuilt after the source was rewritten")

    // fresh artifact over an unchanged source: served as-is.
    Dedup.loadOrBuildSignatures(spark, dir).count()
    assert(partNames(sigPath) == names1, "signatures rebuilt although fresh")
  }

  test("a warm index cache cannot poison rebuilt snapshot companions") {
    import org.apache.spark.sql.functions.col
    val dir = isolatedCorpus()
    // warm the session index cache AND the sketch artifact.
    IndexBuilder.cached(spark, dir).count()
    IndexBuilder.loadOrBuildTableSketch(spark, dir).count()
    // compaction-style swap: the snapshot rewritten at the same path
    // with half the tables dropped — values change, not just part
    // names (round-9 review: the first cut of the invalidation gate
    // keyed on source-file basenames and missed the snapshot-derived
    // `index:` family entirely; each entry's sources are now derived
    // from its own plan, through the snapshot gate's record of its
    // upstreams).
    val pruned = IndexBuilder.cached(spark, dir)
      .where(col("table_id") % 2 === 0).localCheckpoint(true)
    IndexBuilder.publishSnapshot(spark, dir, pruned)
    // the rebuilt sketch must describe the swapped snapshot only — a
    // rebuild fed by the warm cache would re-emit odd table_ids under
    // the fresh fingerprint, and a stale sketch wrongly PRUNES tables
    // (silently missing search results, the worst failure class).
    val ids = IndexBuilder.loadOrBuildTableSketch(spark, dir)
      .select("table_id").distinct().collect()
      .map(_.getAs[Number]("table_id").intValue).toSet
    assert(ids.nonEmpty && ids.forall(_ % 2 == 0),
      s"rebuilt sketch reflects the pre-swap snapshot: $ids")
  }

  /** Warms `search` on an isolated corpus, rewrites `customer.parquet`
    * in the session so every odd customer's segment becomes
    * `AUTOMOBILE` (a value none of the query rows had, so the query's
    * key list changes), runs the snapshot gate, and asks again: the
    * answer must equal the cache-free shuffled search over the rebuilt
    * snapshot. A memo of the query's old key list that survived the
    * gate would probe for the old keys only and drop every odd row.
    */
  private def answersAfterQueryTableRewrite(
      search: (String, DataFrame) => DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val dir = isolatedCorpus()
    def query = Queries.customerQuery(spark, dir)
    def answer = search(dir, query).collect().toSeq
    val warm = answer
    assert(warm.nonEmpty && answer == warm)
    val src = s"$dir/customer.parquet"
    spark.read.parquet(src)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 2 === 1, lit("AUTOMOBILE")).otherwise(col("c_mktsegment")))
      .localCheckpoint(true)
      .write.mode("overwrite").parquet(src)
    val rebuilt = IndexBuilder.loadOrSnapshot(spark, dir)
    val expected = JoinSearch.searchTablesShuffled(rebuilt, query, Queries.customerCols)
      .collect().toSeq
    assert(answer == expected, "a search served a cache entry derived from the superseded table")
  }

  test("a search after an in-session rewrite of its query table answers from the new table") {
    answersAfterQueryTableRewrite { (dir, query) =>
      JoinSearch.searchTables(IndexBuilder.cached(spark, dir), query, Queries.customerCols)
    }
  }

  test("a sketch-pruned search on the by-table snapshot answers from the rewritten query table") {
    answersAfterQueryTableRewrite { (dir, query) =>
      JoinSearch.searchTables(IndexBuilder.loadOrSnapshotPartitioned(spark, dir), query,
        Queries.customerCols,
        narrow = JoinSearch.Narrow.Sketch(IndexBuilder.cachedTableSketch(spark, dir)))
    }
  }

  test("companion entries cached before the session runs the snapshot gate drop on a corpus rewrite") {
    import org.apache.spark.sql.functions.{col, concat, count, lit, when}
    val dir = isolatedCorpus()
    // the companions are fresh on disk before the session below first
    // touches them, so its first gate runs are the companions' own:
    // the snapshot gate has recorded nothing in it yet.
    IndexBuilder.loadOrBuildKeyStats(spark, dir).count()
    IndexBuilder.loadOrBuildTableSketch(spark, dir).count()
    val s = spark.newSession()
    val stats0 = IndexBuilder.cachedKeyStats(s, dir).collect().toSet
    IndexBuilder.cachedTableSketch(s, dir).count()
    // rewrite: every odd customer gets a name none of the old rows had.
    val src = s"$dir/customer.parquet"
    s.read.parquet(src)
      .withColumn("c_name",
        when(col("c_custkey") % 2 === 1, concat(lit("renamed-"), col("c_name")))
          .otherwise(col("c_name")))
      .localCheckpoint(true)
      .write.mode("overwrite").parquet(src)
    val rebuilt = IndexBuilder.loadOrSnapshot(s, dir)
    val stats = rebuilt.groupBy("key").agg(count(lit(1)).as("kdf")).collect().toSet
    assert(stats != stats0, "the rewrite did not move the key stats")
    assert(IndexBuilder.cachedKeyStats(s, dir).collect().toSet == stats,
      "the session served key stats of the superseded snapshot")
    assert(IndexBuilder.cachedTableSketch(s, dir).collect().toSet ==
      JoinSearch.tableKeySketch(rebuilt).collect().toSet,
      "the session served a sketch of the superseded snapshot")
  }

  test("a warm session cache cannot poison a rebuilt documents artifact") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val dir = isolatedCorpus()
    // warm the session shingle/band lineage AND the artifact from
    // the full corpus.
    Dedup.bands(spark, dir).count()
    Dedup.loadOrBuildSignatures(spark, dir).count()
    // re-crawl to HALF the documents — values change, not just part
    // names (localCheckpoint materializes before the overwrite).
    val src = s"$dir/documents.parquet"
    val kept = spark.read.parquet(src)
      .where(col("doc_id") % 2 === 0).localCheckpoint(true)
    kept.write.mode("overwrite").parquet(src)
    // the rebuilt signatures must describe the NEW corpus only: a
    // rebuild fed by the warm session cache would re-emit odd
    // doc_ids under the fresh fingerprint — permanently, for every
    // later session (the gate's invalidateDerived prevents it; the
    // embeddings-side twin lives in AnnArtifactSpec).
    val sigIds = Dedup.loadOrBuildSignatures(spark, dir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(sigIds.nonEmpty && sigIds.forall(_ % 2 == 0),
      "rebuilt signatures reference dropped documents")
  }

  test("a same-name SAME-LENGTH in-place rewrite of an upstream file still invalidates") {
    // Round-13 verdict #6: the fingerprint was a name+length listing,
    // so a NON-Spark writer rewriting a file in place with identical
    // name and byte count (an out-of-band tool regenerating an input)
    // served stale artifacts forever. The listing entry now carries
    // mtime, which any real rewrite moves. Upstream here is a raw
    // text file — exactly the external-drop shape Spark's own
    // UUID-part-named writes never produce.
    import graft.sources.Artifacts
    val base = Files.createTempDirectory("graft-inplace").toString
    val up = Paths.get(base, "drop.txt")
    Files.writeString(up, "AAAA\nBBBB\n")
    val root = s"$base/artifact"
    def load() = Artifacts.loadOrBuild(spark, root, Seq(up.toString), "sem") { t =>
      spark.read.textFile(up.toString).toDF("line")
        .write.mode("overwrite").parquet(t)
    }
    val first = load().collect().map(_.getString(0)).toSet
    assert(first === Set("AAAA", "BBBB"))
    // in-place rewrite: same name, same 10-byte length, new content;
    // pin the mtime explicitly ahead so the test never depends on FS
    // timestamp granularity (a real tool's rewrite moves it too).
    Files.writeString(up, "AAAA\nCCCC\n")
    Files.setLastModifiedTime(up,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000))
    assert(Files.size(up) === 10)
    val second = load().collect().map(_.getString(0)).toSet
    assert(second === Set("AAAA", "CCCC"),
      "same-length in-place rewrite served a STALE artifact")
  }
}
