package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Tokenize
import graft.sources.DfCache

/** Document deduplication family over the `documents` table: exact
  * (hash groups), MinHash-LSH banded near-dup, n-gram Jaccard with a
  * document-frequency cap, and SimHash (64-bit) with 16-bit-banded
  * pair generation.
  *
  * Every stage is oracle-expressible: hashes are md5 (identical hex
  * in Spark and DuckDB), MinHash minimizes the md5 hex string
  * lexicographically (ASCII order is engine-independent), and all
  * scores are exact integers (basis points via floor).
  *
  * Scale posture (100 TB):
  *  - no all-pairs crossJoin anywhere — candidates come from LSH band
  *    buckets (MinHash), df-capped shared shingles (Jaccard), or
  *    16-bit signature bands (SimHash), each a distributed equi-join;
  *  - shingling/hashing is one scan + one explode, combined map-side,
  *    and the shingle/signature sets are persisted once per session
  *    and shared by every consumer (candidate generation AND
  *    verification) — the round-2 bench showed the unpersisted
  *    lineage re-executing ~7x per query;
  *  - the df cap bounds the quadratic blowup of degenerate hot
  *    shingles (stopword-only 3-grams etc.);
  *  - verification joins run per candidate pair, proportional to
  *    |candidates|, not |docs|².
  */
object Dedup {

  /** Semantics key for the durable signature/cluster artifacts
    * (round-13 gate): any bytecode change to the dedup operators or
    * the tokenizer (shingles derive from cleaned text)
    * auto-invalidates — a changed band count, seed rule, or keeper
    * policy can never serve a stale artifact under an unchanged
    * documents fingerprint.
    */
  private lazy val semKey: String = graft.sources.Artifacts
    .classFingerprint(Dedup.getClass, Tokenize.getClass)

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Docs spread across the session's full parallelism. The shingle /
    * token-hash lineages are explode-then-hash pipelines whose heavy
    * work (md5 per shingle x seed) runs BEFORE any aggregation
    * exchange — at the parquet scan's split count. A small corpus
    * file scans as one split and serializes all of it on one core.
    * Repartitioning the narrow side (one row per doc, pre-explode)
    * costs one pass over the compressed text — bounded by input size
    * at any scale — and buys full-width hashing. At 100 TB the scan
    * already has thousands of splits and the exchange is a cheap
    * rebalance; locally it is the difference between 1 and 32 cores
    * doing the hashing.
    */
  private def docsSpread(spark: SparkSession, dir: String): DataFrame =
    spread(spark, docs(spark, dir))

  private def spread(spark: SparkSession, docsDf: DataFrame): DataFrame =
    docsDf.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))

  /** Exact dedup: one group per distinct text hash; keeper = min id.
    * (Picking a keeper per group IS the dedup decision — `copies > 1`
    * marks rows to drop.)
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("copies"))
      .orderBy("text_hash")

  /** Normalized exact dedup — the C4-style "fuzzy exact" rung between
    * raw-hash dedup and MinHash: hash the CLEANED text (lowercase,
    * punctuation stripped, whitespace collapsed — the engine's one
    * [[Tokenize.clean]] definition), so re-encodings, case changes,
    * and spacing edits of the same content collapse to one group
    * that byte-exact hashing misses. Same output contract as
    * [[exact]]; still one hash-group aggregation with map-side
    * partials.
    */
  def exactNormalized(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(Tokenize.clean(col("text")).cast("binary")).as("norm_hash"))
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("copies"))
      .orderBy("norm_hash")

  /** Distinct word 3-gram shingles per document: `(doc_id, s)`.
    * Spark array indexing is 0-based (`w[i]`), so `sequence(1,
    * size-2)` starts shingles at word 0 — mirrored 1-based in the
    * DuckDB oracle. Persisted once per (session, corpus): consumed by
    * MinHash, the Jaccard candidate join, and the verification stage.
    */
  def shingles(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrPersist(spark, s"doc_shingles:$dir")(
      shinglesOf(docsSpread(spark, dir)))

  /** Shingle lineage over ANY documents frame — the seam that lets
    * the incremental path shingle ONLY the delta instead of filtering
    * a whole-corpus lineage after the fact (round-7 ADVICE: with a
    * cold cache that re-shingled the entire historical corpus per
    * batch).
    */
  private def shinglesOf(docsDf: DataFrame): DataFrame =
    // SET semantics per document identity: array_distinct dedups
    // within one row exchange-free, and the final dropDuplicates
    // dedups ACROSS rows sharing a doc_id — a re-crawled duplicate
    // id (two rows, near-same text) must contribute its shingle
    // UNION once, not a multiset that double-counts intersections
    // and emits (x,x) self-pairs (found by the round-13
    // degenerate-lake HASH gate; Broder resemblance is defined on
    // sets). On a duplicate-free corpus the dropDuplicates is a
    // values-identity map-side-combined exchange, paid once per
    // session at the persisted lineage's materialization.
    docsDf
      .select(col("doc_id"), split(Tokenize.clean(col("text")), " ").as("w"))
      .select(col("doc_id"), explode(array_distinct(
        when(size(col("w")) >= 3,
          expr("transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"))
          .otherwise(array().cast("array<string>")))).as("s"))
      .dropDuplicates("doc_id", "s")

  /** All `numSeeds` MinHash minima in ONE aggregation: a wide row
    * `(doc_id, mh0..mhN-1)` via conditional min aggregates. The
    * earlier formulation crossJoined shingles with the seed range and
    * shuffled numSeeds x |shingles| rows on (doc_id, seed); this
    * shuffles the shingle set once with map-side partial mins — an
    * 8x shuffle-volume cut at the default seed count.
    */
  private def minhashWide(spark: SparkSession, dir: String, numSeeds: Int): DataFrame =
    minhashWideOf(shingles(spark, dir), numSeeds)

  private def minhashWideOf(sh: DataFrame, numSeeds: Int): DataFrame = {
    val mins = (0 until numSeeds).map(i =>
      min(md5(concat(lit(s"$i|"), col("s")).cast("binary"))).as(s"mh$i"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Per-seed MinHash `(doc_id, seed, mh)`: lexicographic min of
    * `md5(seed|shingle)` hex, unpivoted from [[minhashWide]].
    */
  def minhash(spark: SparkSession, dir: String, numSeeds: Int = 8): DataFrame = {
    val pairs = (0 until numSeeds)
      .map(i => s"$i, mh$i").mkString(", ")
    minhashWide(spark, dir, numSeeds)
      .selectExpr("doc_id", s"stack($numSeeds, $pairs) as (seed, mh)")
  }

  /** LSH bands of 2 minhashes each -> `(doc_id, band_id, bh)`.
    * Band hashes derive row-wise from the wide minhash row (band b
    * pairs seeds 2b and 2b+1), so banding adds NO shuffle beyond the
    * one minhash aggregation. Persisted: the candidate step
    * self-joins both sides of this.
    */
  def bands(spark: SparkSession, dir: String, numSeeds: Int = 8): DataFrame =
    DfCache.getOrPersist(spark, s"doc_bands:$dir:$numSeeds")(
      bandsOf(docsSpread(spark, dir), numSeeds))

  /** Band lineage over ANY documents frame (see [[shinglesOf]]):
    * shingle -> minhash -> band, touching only the rows handed in.
    * Band values are a pure per-document function of the text, so a
    * delta's live-derived bands and the durable artifact's are
    * interchangeable.
    */
  def bandsOf(docsDf: DataFrame, numSeeds: Int = 8): DataFrame =
    bandsOfShingles(shinglesOf(docsDf), numSeeds)

  /** Band lineage from an ALREADY-SHINGLED frame `(doc_id, s)` — the
    * seam [[clustersCollapsed]] uses to band only the exact-group
    * representatives' shingles instead of re-shingling a frame the
    * caller has (and persisted) anyway.
    */
  private def bandsOfShingles(sh: DataFrame, numSeeds: Int = 8): DataFrame = {
    val bandStructs = (0 until numSeeds / 2).map(b =>
      struct(lit(b).as("band_id"),
        md5(concat(col(s"mh${2 * b}"), lit("|"), col(s"mh${2 * b + 1}"))
          .cast("binary")).as("bh")))
    minhashWideOf(sh, numSeeds)
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bd"))
      .select(col("doc_id"), col("bd.band_id").cast("int").as("band_id"), col("bd.bh"))
  }

  /** Default exact-Jaccard verification threshold in basis points
    * (0.50), shared by [[minhashLsh]], [[ngramJaccard]],
    * [[incremental]], and [[clustersCollapsed]] — the collapse's
    * result-identity contract with the labelprop cross-check depends
    * on all lineages verifying at the SAME threshold, so it lives in
    * one named constant instead of four literals (round-15 ADVICE).
    */
  private[graft] val MinJacBp = 5000

  /** Exact Jaccard verification of candidate pairs `(doc_x, doc_y)`:
    * intersection/union over full shingle sets, keep jac >= minJacBp.
    */
  private def verifyJaccard(spark: SparkSession, dir: String,
      cand: DataFrame, minJacBp: Int): DataFrame = {
    val sh = shingles(spark, dir)
    // persisted: joined twice per verification (nx and ny) and used
    // by both the MinHash-LSH and n-gram Jaccard queries.
    val sizes = DfCache.getOrPersist(spark, s"doc_shingle_sizes:$dir") {
      sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    }
    jaccardFromInter(
      pairIntersections(spark, sh, cand), sizes, minJacBp)
  }

  /** Per-candidate-pair shingle intersection counts, session-persisted
    * (round-18 second pass): the double shingle join + aggregation is
    * the one corpus-scale pass in every near-dup verifier, and the
    * Jaccard and CONTAINMENT queries run it over the IDENTICAL
    * candidate frame per invocation (symmetric candidates, different
    * verification denominators — the denominators join onto this
    * frame, they don't change it). Bounded by |candidate pairs|.
    */
  private def pairIntersections(spark: SparkSession,
      sh: DataFrame, cand: DataFrame): DataFrame = {
    val inter = interOf(sh, cand)
    DfCache.getOrPersist(spark, s"paircounts:${inter.semanticHash()}")(inter)
  }

  private def interOf(sh: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("doc_x"), col("s")), Seq("doc_x"))
      .join(sh.select(col("doc_id").as("doc_y"), col("s")), Seq("doc_y", "s"))
      .groupBy("doc_x", "doc_y").agg(count(lit(1)).as("inter_n"))

  /** [[verifyJaccard]] over an explicit shingle frame + per-doc size
    * frame — the seam that lets [[clustersCollapsed]] verify against
    * the representatives-only lineage (the corpus-wide one would
    * shuffle every clone's shingles just to verify pairs that only
    * ever reference representatives). NO persist here: the seam's
    * callers hand in per-batch/representative frames, not
    * session-stable lineages.
    */
  private def verifyJaccardOver(sh: DataFrame, sizes: DataFrame,
      cand: DataFrame, minJacBp: Int): DataFrame =
    jaccardFromInter(interOf(sh, cand), sizes, minJacBp)

  private def jaccardFromInter(inter: DataFrame, sizes: DataFrame,
      minJacBp: Int): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("doc_x"), col("n").as("nx")), Seq("doc_x"))
      .join(sizes.select(col("doc_id").as("doc_y"), col("n").as("ny")), Seq("doc_y"))
      .withColumn("union_n", col("nx") + col("ny") - col("inter_n"))
      .where(lit(10000.0) * col("inter_n") / col("union_n") >= minJacBp)
      .select(col("doc_x"), col("doc_y"), col("inter_n"), col("union_n"),
        floor(lit(10000.0) * col("inter_n") / col("union_n")).cast("long").as("jac_bp"))
      .orderBy("doc_x", "doc_y")

  /** MinHash-LSH near-dup pairs: band-bucket candidates + exact
    * Jaccard verify (>= 50%).
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    cachedMinhashPairs(spark, dir).orderBy("doc_x", "doc_y")

  /** The verified pair frame behind [[minhashLsh]], session-persisted
    * (round-18, the [[rareSharedCandidates]] precedent): the band
    * self-join + exact-Jaccard verification is shared VERBATIM by two
    * registered views — the pair listing (`dedup_minhash_lsh`) and
    * the label-propagation clustering (`dedup_clusters_labelprop`,
    * which consumed the whole pipeline as its edge input per
    * invocation) — plus any in-session incremental consumers. The
    * frame is bounded by |verified near-dups|, orders of magnitude
    * smaller than the corpus. Consumers re-apply their own ordering
    * (a cache read has no order guarantee).
    */
  private def cachedMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrPersist(spark, s"minhash_pairs:$dir") {
      val b = bands(spark, dir)
      val cand = b.select(col("doc_id").as("doc_x"), col("band_id"), col("bh"))
        .join(b.select(col("doc_id").as("doc_y"), col("band_id"), col("bh")),
          Seq("band_id", "bh"))
        .where(col("doc_x") < col("doc_y"))
        .select("doc_x", "doc_y").distinct()
      verifyJaccard(spark, dir, cand, MinJacBp)
    }

  /** n-gram Jaccard near-dup pairs WITHOUT MinHash: candidates share
    * >= 3 rare shingles (document frequency <= maxDf), then exact
    * Jaccard verify. The df cap bounds hot-shingle quadratic blowup.
    */
  def ngramJaccard(spark: SparkSession, dir: String,
      maxDf: Int = 100, minShared: Int = 3): DataFrame =
    verifyJaccard(spark, dir, rareSharedCandidates(spark, dir, maxDf, minShared), MinJacBp)

  /** Candidate pairs sharing >= `minShared` rare shingles (document
    * frequency <= `maxDf`) in ONE shuffle: group postings by shingle
    * and expand within-group doc pairs directly, with a bounded
    * buffer — a group is abandoned the moment it exceeds maxDf
    * (memory stays O(maxDf) per group even for stopword shingles
    * with corpus-sized posting lists; a collect_list formulation
    * would materialize those before any size filter could drop
    * them). The equivalent rare-join-rare formulation shuffles the
    * capped shingle set TWICE (both join inputs); this shuffles the
    * posting set once and joins nothing. Shared by the Jaccard and
    * containment verifiers — candidate generation is symmetric; only
    * the verification denominator differs.
    */
  private def rareSharedCandidates(spark: SparkSession, dir: String,
      maxDf: Int, minShared: Int): DataFrame =
    // session-persisted (round-17): candidate generation is shared
    // verbatim by TWO registered near-dup views (`ngramJaccard` and
    // `containment` — symmetric candidates, different verification
    // denominators), and the flatMapGroups pair expansion is the
    // single most expensive leg of both; the persisted pair frame is
    // bounded by the df cap (<= maxDf^2/2 pairs per rare shingle).
    DfCache.getOrPersist(spark, s"rare_cands:$dir:$maxDf:$minShared")(
      rareSharedCandidatesUncached(spark, dir, maxDf, minShared))

  private def rareSharedCandidatesUncached(spark: SparkSession, dir: String,
      maxDf: Int, minShared: Int): DataFrame = {
    import spark.implicits._
    shingles(spark, dir)
      .select(col("s"), col("doc_id")).as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val buf = new scala.collection.mutable.ArrayBuffer[Long](16)
        var overflow = false
        while (it.hasNext && !overflow) {
          buf += it.next()._2
          if (buf.size > maxDf) overflow = true
        }
        if (overflow || buf.size < 2) Iterator.empty
        else buf.indices.iterator.flatMap { i =>
          (i + 1 until buf.size).iterator.map { j =>
            (math.min(buf(i), buf(j)), math.max(buf(i), buf(j)))
          }
        }
      }
      .toDF("doc_x", "doc_y")
      .groupBy("doc_x", "doc_y").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
      .select("doc_x", "doc_y")
  }

  /** Asymmetric CONTAINMENT near-dup pairs: `inter / min(|X|, |Y|)`
    * instead of Jaccard's `inter / union`. Catches the doc-in-doc
    * class — a short document quoted or concatenated inside a long
    * one (partial scrapes, aggregator pages, quoted posts), where the
    * long side's size inflates the union and symmetric Jaccard stays
    * under any useful threshold no matter how completely the short
    * doc is contained. The standard complement to Jaccard in crawl
    * dedup (containment sketches go back to Broder's AltaVista work).
    *
    * Same single-shuffle rare-shingle candidates as [[ngramJaccard]]
    * (candidate generation is symmetric — containment only changes
    * the verification denominator), same persisted shingle lineage
    * and size table, so running both near-dup views pays the corpus
    * scan once. Threshold 80% of the SMALLER doc's shingles shared.
    *
    * Scale: identical posture to [[ngramJaccard]] — the df cap
    * bounds pair expansion, verification cost tracks |candidates|,
    * never |corpus|^2.
    */
  def containment(spark: SparkSession, dir: String,
      maxDf: Int = 100, minShared: Int = 3, minContBp: Int = 8000): DataFrame = {
    val cand = rareSharedCandidates(spark, dir, maxDf, minShared)
    val sh = shingles(spark, dir)
    val sizes = DfCache.getOrPersist(spark, s"doc_shingle_sizes:$dir") {
      sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    }
    // the intersection counts are the SAME persisted frame the
    // Jaccard verifier reads (identical sh/cand lineage — round-18
    // second pass): only the denominator differs below.
    pairIntersections(spark, sh, cand)
      .join(sizes.select(col("doc_id").as("doc_x"), col("n").as("nx")), Seq("doc_x"))
      .join(sizes.select(col("doc_id").as("doc_y"), col("n").as("ny")), Seq("doc_y"))
      .withColumn("min_n", least(col("nx"), col("ny")))
      .where(lit(10000.0) * col("inter_n") / col("min_n") >= minContBp)
      .select(col("doc_x"), col("doc_y"), col("inter_n"), col("min_n"),
        floor(lit(10000.0) * col("inter_n") / col("min_n")).cast("long").as("cont_bp"))
      .orderBy("doc_x", "doc_y")
  }

  /** Embedding-cosine near-dup pairs: the document-level face of
    * [[Similarity.lshPairs]] — sign-LSH banded candidates over the
    * embeddings table, exact quantized-cosine verification, then an
    * inner join back to `documents` on `doc_id = vec_id` (documents
    * without an embedding — the 5000-vs-2000 tail at sf0.1 — cannot
    * participate, by construction). Adds `same_lang` so the output
    * reads as a dedup decision over documents, not vectors.
    */
  def embeddingCosine(spark: SparkSession, dir: String,
      minCosBp: Int = 3000): DataFrame = {
    val pairs = Similarity.lshPairs(spark, dir, minCosBp)
    val d = docs(spark, dir).select(col("doc_id"), col("lang"))
    pairs
      .join(d.select(col("doc_id").as("doc_x"), col("lang").as("lang_x")),
        pairs("vec_x") === col("doc_x"))
      .join(d.select(col("doc_id").as("doc_y"), col("lang").as("lang_y")),
        pairs("vec_y") === col("doc_y"))
      .select(col("doc_x"), col("doc_y"), col("cos_bp"),
        when(col("lang_x") === col("lang_y"), 1L).otherwise(0L).as("same_lang"))
      .orderBy("doc_x", "doc_y")
  }

  /** The durable doc-signature artifact's location, beside the index
    * snapshot's companions (shares the snapshot fingerprint, so a
    * tokenizer/stopword change invalidates signatures too — shingles
    * derive from the same cleaning chain). The seed count is part of
    * the path: signatures at different band widths are different
    * artifacts, never silently substituted.
    */
  def signaturePath(dir: String, numSeeds: Int = 8): String =
    graft.sources.IndexBuilder.snapshotPath(dir) + s"-docsig$numSeeds"

  /** Durable form of [[bands]]: the per-document MinHash band
    * signatures persisted once per corpus — the artifact an
    * incremental-dedup deployment reads instead of re-shingling the
    * historical corpus on every arriving batch ([[bands]]' DfCache
    * only spans a session). Thin: (numSeeds/2) rows × ~50 bytes per
    * document, ~0.2 % of a web corpus's text volume. Staleness gates
    * on the documents source's CONTENT LISTING
    * ([[graft.sources.Artifacts]] — signatures derive from the
    * corpus, not the index snapshot), so a re-crawled corpus landing
    * within the same mtime tick still invalidates (round-7 ADVICE:
    * the old `artifact mtime >= source mtime` gate served stale
    * signatures silently on coarse-mtime filesystems).
    */
  def loadOrBuildSignatures(spark: SparkSession, dir: String,
      numSeeds: Int = 8): DataFrame =
    graft.sources.Artifacts.loadOrBuild(spark, signaturePath(dir, numSeeds),
      Seq(s"$dir/documents.parquet"), semKey) { t =>
      bands(spark, dir, numSeeds).write.mode("overwrite")
        .parquet(t)
    }

  /** Incremental near-dup dedup — the production crawl shape: a
    * BATCH of newly-arrived documents (the delta) checked against
    * the existing corpus (the base) plus earlier arrivals in the
    * same batch, WITHOUT re-pairing the base against itself. Per
    * delta doc: whether it near-dups anything it must defer to
    * (any base doc, or a smaller-id delta doc — the same min-id
    * keeper rule as [[clustersFromPairs]]), how many of its dups
    * are in the base, and its strongest verified Jaccard.
    *
    * The delta is the registered stand-in split `doc_id % deltaMod
    * = 0` (the [[graft.operators.CorpusPrep.decontaminate]]
    * convention). The base side reads the DURABLE signature artifact
    * ([[loadOrBuildSignatures]]); the delta side shingles and
    * minhashes ONLY the delta-filtered documents frame ([[bandsOf]]
    * over a filtered scan — round-7 ADVICE: the earlier form filtered
    * the whole-corpus band lineage, so a cold cache re-shingled the
    * entire historical corpus per batch). Band values are
    * deterministic, so artifact-vs-live provenance cannot change
    * results (the oracle recomputes everything from scratch and still
    * hash-matches).
    *
    * Scale posture (100 TB base, bounded delta): candidates come
    * from the band equi-join of a DELTA-sized side against the
    * banded base — never base × base; verification is O(candidates)
    * shingle joins; every delta doc emits a row (left join), so a
    * clean batch is an explicit all-zeros frame, not an absence.
    * Complements [[graft.streaming.DedupStream.dedupNearSignature]]
    * (row-local, signature-identical only) with the full banded
    * recall at batch boundaries.
    */
  def incrementalNearDups(spark: SparkSession, dir: String,
      deltaMod: Int = 11): DataFrame = {
    // delta bands derive from a delta-FILTERED scan (never the whole
    // corpus), session-cached: the band set feeds both candidate-join
    // sides below.
    val deltaBands = DfCache.getOrPersist(spark, s"doc_bands_delta:$dir:$deltaMod")(
      bandsOf(spread(spark,
        docs(spark, dir).where(col("doc_id") % deltaMod === 0))))
    val baseBands = loadOrBuildSignatures(spark, dir)
      .where(col("doc_id") % deltaMod =!= 0)
    val other = baseBands.unionByName(deltaBands)
      .select(col("doc_id").as("doc_x"), col("band_id"), col("bh"))
    val dNew = deltaBands
      .select(col("doc_id").as("doc_y"), col("band_id"), col("bh"))
    val cand = dNew.join(other, Seq("band_id", "bh"))
      .where(col("doc_x") =!= col("doc_y"))
      .where((col("doc_x") % deltaMod =!= 0) || (col("doc_x") < col("doc_y")))
      .select("doc_x", "doc_y").distinct()
    val flags = verifyJaccard(spark, dir, cand, MinJacBp)
      .groupBy(col("doc_y").as("doc_id"))
      .agg(count(lit(1)).as("dups"),
        sum(when(col("doc_x") % deltaMod =!= 0, 1L).otherwise(0L)).as("base_dups"),
        max("jac_bp").as("best_jac"))
    docs(spark, dir).where(col("doc_id") % deltaMod === 0).select("doc_id")
      .join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dups").isNotNull, 1L).otherwise(0L).as("is_dup"),
        coalesce(col("dups"), lit(0L)).as("n_dups"),
        coalesce(col("base_dups"), lit(0L)).as("n_base_dups"),
        coalesce(col("best_jac"), lit(0L)).as("max_jac_bp"))
      .orderBy("doc_id")
  }

  /** Duplicate-cluster resolution: connected components over verified
    * near-dup pairs — the step that turns pairwise similarity into a
    * dedup DECISION (one keeper per cluster, everything else
    * droppable). Transitivity matters: A~B and B~C put A,C in one
    * cluster even when A,C were never a candidate pair.
    *
    * Label propagation to the minimum reachable doc_id: every member
    * starts as its own label; each round takes the min of its own and
    * its neighbors' labels; fixpoint = components. Rounds are
    * tiny-data joins (the pair graph is O(|near-dups|), orders of
    * magnitude smaller than the corpus); a round with zero
    * changed labels IS the fixpoint proof — an exact per-row test,
    * unlike the earlier label-sum statistic, which a 64-bit wrap
    * could alias to a false fixpoint for doc_id domains near
    * Long.MaxValue (round-5 ADVICE). Iterations are bounded by graph
    * diameter — the standard distributed-CC formulation (at extreme
    * diameters the same loop takes the large-star/small-star
    * contraction form).
    *
    * Driver-overhead posture: each round issues ONE blocking job.
    * The new labels carry their previous value alongside, the
    * localCheckpoint is LAZY, and the changed-row count is the
    * action that materializes it — the convergence check rides the
    * materialization instead of scheduling a second job (round-5
    * VERDICT #2: the eager-checkpoint + separate-sum form spent
    * ~2× fixed per-round overhead on a ~25-pair graph). Lineage
    * stays O(1) and blocks are reference-tracked (no CacheManager
    * pinning).
    *
    * Output: (doc_id, cluster_id, n_members, is_keeper) for every doc
    * in a non-singleton cluster; keeper = the cluster's min doc_id.
    */
  def clustersFromPairs(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.DataFrame
    val spark = pairs.sparkSession
    val edges = DfCache.cut(pairs.select(col("doc_x").as("s"), col("doc_y").as("d"))
      .unionByName(pairs.select(col("doc_y").as("s"), col("doc_x").as("d"))), DfCache.Cut.Eager)
    // init = min over the CLOSED neighborhood (round-18): the old
    // own-id init spent its first loop round computing exactly this
    // aggregation — folding that propagation step into the init costs
    // the same one exchange the old distinct did and, on the
    // clique/star graphs near-dup clusters actually form, converges
    // one full round earlier. Same fixpoint by the standard argument:
    // labels only decrease, are bounded below by the component
    // minimum m (every label is a member id), and lbl(m) = m from the
    // start, so the zero-change round still proves component-min
    // labels. Every vertex appears as a destination (edges are
    // symmetric), so the groupBy covers the whole vertex set.
    var labels: DataFrame = DfCache.cut(edges
      .groupBy(col("d"))
      .agg(least(min(col("s")), col("d")).as("lbl"))
      .select(col("d").as("v"), col("lbl")), DfCache.Cut.Eager)
    var converged = false
    while (!converged) {
      // own-label rows tag `prev`; neighbor contributions leave it
      // null. Every vertex appears in `labels` exactly once, so
      // min(prev) ignoring nulls recovers the previous label.
      val next = DfCache.cut(edges.join(labels.withColumnRenamed("v", "d"), Seq("d"))
        .select(col("s").as("v"), col("lbl"),
          lit(null).cast("long").as("prev"))
        .unionByName(labels.select(col("v"), col("lbl"),
          col("lbl").as("prev")))
        .groupBy("v").agg(min("lbl").as("lbl"), min("prev").as("prev")), DfCache.Cut.Lazy)
      converged = next.where(col("lbl") < col("prev")).count() == 0L
      labels = next.select("v", "lbl")
    }
    formatClusters(labels)
  }

  /** Shared output shape of both CC algorithms: `(doc_id, cluster_id,
    * n_members, is_keeper)` from per-vertex `(v, lbl)` labels, keeper
    * = the cluster's min doc_id (both algorithms label with the
    * component minimum, so the two defaults cannot disagree on the
    * keeper rule).
    */
  private def formatClusters(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, Seq("lbl"))
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id"),
        col("n_members"),
        when(col("v") === col("lbl"), 1L).otherwise(0L).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** Star-contraction connected components — the scale-default CC
    * (round-7 verdict #1 "what's wrong"): alternating
    * large-star/small-star contraction (the published MapReduce CC
    * formulation — Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) converges in O(log n) rounds on ANY graph
    * shape, where label propagation ([[clustersFromPairs]]) is
    * O(diameter) — a chain of pairwise near-dups (versioned/templated
    * pages, the common adversarial shape) costs label-prop O(n) full
    * edge shuffles but this loop only O(log n)
    * (`DedupClustersSpec` pins the round count on a 64-node path).
    *
    *  - large-star: every node connects its LARGER neighbors to the
    *    minimum of its closed neighborhood — long chains fold toward
    *    local minima in halving strides;
    *  - small-star: every node connects its SMALLER neighbors (and
    *    itself) to that minimum — consolidating partial stars;
    *  - both emit canonical `u < v` edges, so the working set is a
    *    deduped undirected edge list whose size never exceeds the
    *    input's (contraction, not expansion — safe at any |pairs|);
    *  - fixpoint = the edge set survives a full round unchanged,
    *    which is exactly "all components are min-rooted stars"; the
    *    root IS the component minimum, so labels (and keeper choice)
    *    are bit-identical to label propagation's.
    *
    * Per-round cost is three tiny-graph jobs (the pair graph is
    * O(|near-dups|), orders of magnitude smaller than the corpus) on
    * lazily-checkpointed O(1) lineage, the [[clustersFromPairs]]
    * driver posture.
    *
    * Returns (per-vertex labels `(v, lbl)`, rounds taken).
    */
  def starComponents(pairs: DataFrame): (DataFrame, Int) = {
    var edges = DfCache.cut(pairs
      .select(least(col("doc_x"), col("doc_y")).as("u"),
        greatest(col("doc_x"), col("doc_y")).as("v"))
      .where(col("u") =!= col("v")).distinct(), DfCache.Cut.Eager)
    var edgeCount = edges.count()
    var rounds = 0
    var converged = edgeCount == 0L
    while (!converged) {
      rounds += 1
      // large-star: orient each undirected edge both ways so every
      // node sees its full neighborhood; m = min(closed neighborhood).
      val sym = edges.select(col("u").as("a"), col("v").as("b"))
        .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
      val mins = sym.groupBy("a").agg(min("b").as("mb"))
        .select(col("a"), least(col("mb"), col("a")).as("m"))
      // (m <= a < b, so (m, b) is already canonical.)
      val large = sym.where(col("b") > col("a"))
        .join(mins, Seq("a"))
        .where(col("m") =!= col("b"))
        .select(col("m").as("u"), col("b").as("v"))
        .distinct()
      // small-star: per node v, route its smaller neighbors (and v
      // itself) to their minimum. (m <= u < v throughout.)
      val smins = large.groupBy("v").agg(min("u").as("m"))
      val small = DfCache.cut(large.join(smins, Seq("v"))
        .where(col("m") =!= col("u"))
        .select(col("m").as("u"), col("u").as("v"))
        .unionByName(smins.select(col("m").as("u"), col("v")))
        .where(col("u") =!= col("v"))
        .distinct(), DfCache.Cut.Lazy)
      // fixpoint: the canonical edge set survived the round unchanged
      // (count equality + one-sided difference = set equality). The
      // count is the action materializing the lazy checkpoint.
      val smallCount = small.count()
      converged = smallCount == edgeCount &&
        small.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = small
      edgeCount = smallCount
    }
    // converged edges form min-rooted stars: u = root (= component
    // minimum), v = leaf; roots label themselves.
    val labels = edges.select(col("v"), col("u").as("lbl"))
      .unionByName(edges.select(col("u").as("v"), col("u").as("lbl")).distinct())
    (labels, rounds)
  }

  /** [[starComponents]] with the [[clustersFromPairs]] output shape —
    * the default cluster resolution.
    */
  def clustersFromPairsStar(pairs: DataFrame): DataFrame =
    formatClusters(starComponents(pairs)._1)

  /** The duplicate-cluster decision table's durable location, beside
    * the signature artifact.
    */
  def docClustersPath(dir: String): String =
    graft.sources.IndexBuilder.snapshotPath(dir) + "-docclusters"

  /** Cluster resolution over the MinHash-LSH verified pairs. Default
    * = star contraction (O(log n) rounds on any graph shape); the
    * label-propagation twin ([[clustersLabelProp]]) stays registered
    * as the cross-check (`dedup_clusters_labelprop`, same oracle) —
    * and it stays LIVE-computed, so the shared oracle also proves
    * the artifact's content every round.
    *
    * DURABLE (round 9): the decision table is a deterministic
    * function of the documents source (deterministic banding,
    * verification, and contraction — the oracle hash has pinned that
    * since round 5), and FIVE registered consumers (clusters,
    * histogram, keep-best, both kept-corpus views) re-ran the
    * shingle→band→verify→contract lineage per call. It now persists
    * once per corpus under the content-fingerprint gate — the
    * drop-list/keeper decisions a production dedup pays once per
    * crawl, exactly like the signatures they derive from.
    *
    * BUILDER (round 15): [[clustersCollapsed]] — exact-collapse first,
    * LSH over representatives only, so the build stays linear in the
    * corpus even at clone-regime duplication where the uncollapsed
    * pair graph is quadratic (the ×1000 scale decade's enabling
    * change). Result-identical to the previous
    * star-over-[[minhashLsh]] build; `dedup_clusters_labelprop` keeps
    * the UNCOLLAPSED live pipeline registered against the same
    * oracle, so collapse exactness is re-proven on every surface.
    */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Artifacts.loadOrBuild(spark, docClustersPath(dir),
      Seq(s"$dir/documents.parquet"), semKey) { t =>
      clustersCollapsed(spark, dir)
        .write.mode("overwrite").parquet(t)
    }.orderBy("doc_id")

  /** The label-propagation twin of [[clusters]] — O(diameter) rounds,
    * fine on replica-clique graphs, kept as the registered
    * cross-check of the star-contraction default.
    */
  def clustersLabelProp(spark: SparkSession, dir: String): DataFrame =
    clustersFromPairs(minhashLsh(spark, dir).select("doc_x", "doc_y"))

  /** Exact-collapse MinHash-LSH clustering — [[clusters]]' builder
    * since round 15, result-identical to star/label-prop CC over the
    * uncollapsed [[minhashLsh]] pairs (`dedup_clusters_labelprop`
    * hash-shares the oracle, so the identity is re-proven on every
    * correctness surface) but linear where verbatim duplication made
    * the pair graph quadratic.
    *
    * Why: LSH candidate generation expands each band bucket's clone
    * group of size g into g(g-1)/2 pairs. At web-crawl duplication —
    * or the ×N replicated scale lakes, where EVERY base document has
    * N exact clones — pairs grow as N² while the corpus grows as N
    * (the ×100 trend row measured 27.31 M verified pairs from a
    * 500 k-doc corpus; ×1000 would be ~2.5 G pairs). Production
    * pipelines collapse exact duplicates BEFORE near-dup detection;
    * this is that, kept provably exact.
    *
    * Shape: (1) one map-side-combinable aggregation keys every doc_id
    * by the md5 of its SORTED SET of per-row text hashes — equal keys
    * ⟹ equal shingle UNIONS (the degenerate lake's multi-row doc_ids
    * contribute their rows' shingle union, `shinglesOf`'s
    * dropDuplicates contract, so the collapse key must hash the text
    * SET, not a single text); (2) the full shingle→minhash→band→
    * verify pipeline runs over one REPRESENTATIVE (min doc_id) per
    * group — clones are never shingled, never banded, never paired;
    * (3) star-contraction CC labels the representative pair graph;
    * (4) groups expand back: every member adopts its representative's
    * component, and groups of ≥2 members whose shingle set is
    * NONEMPTY form cliques even without external edges.
    *
    * Exactness argument (pinned adversarially by
    * `DedupCollapseSpec`, and by the shared oracle on every surface):
    * bands and Jaccard are pure functions of the shingle SET, and all
    * members of a group share one set, so (a) a cross-group member
    * pair is an LSH candidate iff the representative pair is, and
    * verifies at exactly the representative pair's Jaccard — baseline
    * cross-group edges are complete-bipartite iff the rep edge
    * exists; (b) within a group with ≥1 shingle, members share
    * identical bands and Jaccard 1 ≥ any threshold — a baseline
    * clique; (c) a group with ZERO shingles (texts under 3 words)
    * produces no minhash rows, hence no bands, hence NO baseline
    * pairs — exact-equal short docs must NOT cluster, which is why
    * the clique rule requires a nonempty set; (d) component minima
    * coincide: each member's id ≥ its representative's (rep = group
    * min), so the min doc_id of an expanded component IS the min
    * representative id the contraction labeled it with. Baseline
    * vertices (docs in ≥1 pair) = members of ≥2-member shingled
    * groups ∪ members of groups whose rep has a verified edge — the
    * expansion's exact inclusion rule.
    *
    * Cost: the collapse aggregation streams each doc's text hash once
    * (partial-aggregated, one ~32-byte state per doc per map
    * partition); everything downstream is sized by DISTINCT content,
    * independent of duplication factor.
    */
  def clustersCollapsed(spark: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(spark, dir)
    // (doc_id, gh): gh = hash of the doc's set of row-text hashes.
    // collect_set drops null texts — a null row adds no shingles, so
    // {null, "A"} and {"A"} correctly share a key; all-null docs
    // share md5("") and are excluded below by the empty-shingle rule.
    val groups = DfCache.getOrPersist(spark, s"doc_exact_groups:$dir") {
      d.groupBy("doc_id")
        .agg(md5(concat_ws("|",
          sort_array(collect_set(md5(col("text").cast("binary")))))
          .cast("binary")).as("gh"))
    }
    val reps = groups.groupBy("gh")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("g_n"))
    val membership = groups.join(reps, Seq("gh"))
      .select(col("doc_id"), col("rep_id"), col("g_n"))
    val repDocs = d.join(reps.select(col("rep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    // representatives-only shingle lineage: consumed by banding, both
    // verification joins, the size frame, and the nonempty-set rule.
    val repSh = DfCache.getOrPersist(spark, s"doc_shingles_reps:$dir")(shinglesOf(repDocs))
    val repSizes = repSh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val b = DfCache.getOrPersist(spark, s"doc_bands_reps:$dir")(bandsOfShingles(repSh))
    val cand = b.select(col("doc_id").as("doc_x"), col("band_id"), col("bh"))
      .join(b.select(col("doc_id").as("doc_y"), col("band_id"), col("bh")),
        Seq("band_id", "bh"))
      .where(col("doc_x") < col("doc_y"))
      .select("doc_x", "doc_y").distinct()
    val repPairs = verifyJaccardOver(repSh, repSizes, cand, MinJacBp)
      .select("doc_x", "doc_y")
    val repLabels = starComponents(repPairs)._1
      .select(col("v").as("rep_id"), col("lbl"))
    val shingled = repSh.select(col("doc_id").as("rep_id")).distinct()
      .withColumn("has_sh", lit(true))
    val verts = membership
      .join(repLabels, Seq("rep_id"), "left")
      .join(shingled, Seq("rep_id"), "left")
      .where(col("lbl").isNotNull ||
        (col("g_n") >= 2 && col("has_sh") === true))
      .select(col("doc_id").as("v"),
        coalesce(col("lbl"), col("rep_id")).as("lbl"))
    formatClusters(verts)
  }

  /** The near-dup drop list: every non-keeper cluster member's
    * doc_id — THE definition of "dropped by dedup", shared by
    * [[keptCorpus]] and the training-corpus composition so the
    * keeper rule lives in exactly one place.
    */
  def dropList(spark: SparkSession, dir: String): DataFrame =
    clusters(spark, dir).where(col("is_keeper") === 0L).select("doc_id")

  /** The deduplicated corpus view — [[clusters]]' decision APPLIED:
    * every document except non-keeper cluster members (keepers and
    * singletons survive) — the materialization a training run
    * actually reads, produced without ever clustering the corpus
    * itself.
    *
    * The anti-join carries NO broadcast hint on purpose: the drop
    * list is O(|near-dups|), which is tiny at fixture dup-rates but
    * corpus-PROPORTIONAL at web-crawl dup-rates (30-50% near-dup),
    * where a forced broadcast is a driver/executor OOM rather than a
    * slow plan. AQE broadcasts small sides at runtime anyway, so the
    * hint only removed the safe degradation path — `DedupShuffledSpec`
    * proves the plan completes hash-equal with
    * `autoBroadcastJoinThreshold=0` (the shuffled form a 100 TB run
    * would take).
    */
  def keptCorpus(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .join(dropList(spark, dir), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
      .orderBy("doc_id")

  /** Quality-aware keeper selection: per cluster, keep the LONGEST
    * member (most-complete replica) instead of [[clusters]]' min-id
    * convention — the keep rule production pipelines actually run
    * (a truncated mirror of a page should lose to the full copy).
    * The policy is a per-cluster argmax over `(n_chars, -doc_id)`,
    * computed as ONE map-side-combinable `max_by` aggregation —
    * never a window: a window must co-locate and sort every
    * cluster's members, while `max_by` carries O(1) state per
    * cluster through partial aggregation, the same reasoning as
    * [[Cdc]]'s latest-change compaction. Clustering and keep policy
    * stay decoupled: this consumes [[clusters]]' output relation, so
    * swapping the policy (min-id / longest / best-quality-score)
    * never touches the CC iteration.
    */
  def keepBest(clusterLabels: DataFrame, docsDf: DataFrame): DataFrame =
    clusterLabels
      .join(docsDf.select(col("doc_id"), col("n_chars").cast("long").as("n_chars")),
        Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
          .as("keeper_doc_id"),
        max(col("n_chars")).as("keeper_chars"))
      .orderBy("cluster_id")

  /** The registered longest-member keeper query over the MinHash-LSH
    * clusters (multi-member clusters only — singletons have no
    * choice to make and [[clusters]] only labels paired docs).
    */
  def keepBestQuery(spark: SparkSession, dir: String): DataFrame =
    keepBest(clusters(spark, dir).select("doc_id", "cluster_id"),
      docs(spark, dir))

  /** [[keptCorpus]] under the [[keepBest]] policy — the longest-member
    * keep rule APPLIED, so the policy is load-bearing, not a report:
    * every cluster member except the per-cluster argmax is dropped.
    * On the fixture corpus roughly half the clusters pick a
    * different keeper than min-id, so this view observably diverges
    * from [[keptCorpus]] (the hash compare sees the policy). Same
    * scale shape as [[keptCorpus]]: the drop list derives from the
    * cluster relation (O(|near-dups|)), the apply is the hint-free
    * anti-join.
    */
  def keptCorpusBest(spark: SparkSession, dir: String): DataFrame = {
    val members = clusters(spark, dir).select("doc_id", "cluster_id")
    val keepers = keepBest(members, docs(spark, dir))
      .select("cluster_id", "keeper_doc_id")
    val drop = members.join(keepers, Seq("cluster_id"))
      .where(col("doc_id") =!= col("keeper_doc_id"))
      .select("doc_id")
    docs(spark, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Distinct word unigrams with two 32-bit token hashes (md5 hex
    * chars 1-8 and 9-16 as integers — portable to DuckDB via strpos
    * arithmetic). Two positive 32-bit halves sidestep signed-64
    * overflow in both engines.
    */
  private def tokenHashes(spark: SparkSession, dir: String): DataFrame =
    docsSpread(spark, dir)
      .select(col("doc_id"), Tokenize.clean(col("text")).as("cleaned"))
      .where(col("cleaned") =!= "")
      // per-ROW distinct via array_distinct (exchange-free), then a
      // cross-row dropDuplicates so a re-crawled duplicate doc_id
      // contributes its token SET union once (the shinglesOf
      // contract; degenerate-lake hash gate, round 13). Feeds the
      // session-persisted simhash lineage, so the exchange is paid
      // once.
      .select(col("doc_id"), explode(array_distinct(split(col("cleaned"), " "))).as("t"))
      .dropDuplicates("doc_id", "t")
      .select(col("doc_id"),
        expr("cast(conv(substr(md5(cast(t as binary)), 1, 8), 16, 10) as bigint)").as("h_lo"),
        expr("cast(conv(substr(md5(cast(t as binary)), 9, 8), 16, 10) as bigint)").as("h_hi"))

  /** 64-bit SimHash per document, materialized as two positive 32-bit
    * halves `(sim_lo, sim_hi)`: bit b set iff sum over distinct tokens
    * of (+1 if token-hash bit b else -1) >= 0. Persisted once per
    * (session, corpus): [[simhash]] and both sides of
    * [[simhashPairs]]' band self-join consume it.
    */
  def simhashHalves(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrPersist(spark, s"doc_simhash:$dir") {
      val sums =
        (0 until 32).map(b =>
          sum(when(shiftright(col("h_lo"), b) % 2 === 1, 1).otherwise(-1)).as(s"lo$b")) ++
        (0 until 32).map(b =>
          sum(when(shiftright(col("h_hi"), b) % 2 === 1, 1).otherwise(-1)).as(s"hi$b"))
      val bits = tokenHashes(spark, dir).groupBy("doc_id").agg(sums.head, sums.tail: _*)
      val lo = (0 until 32).map(b =>
        when(col(s"lo$b") >= 0, 1L << b).otherwise(0L)).reduce(_ + _)
      val hi = (0 until 32).map(b =>
        when(col(s"hi$b") >= 0, 1L << b).otherwise(0L)).reduce(_ + _)
      bits.select(col("doc_id"),
        lo.cast("long").as("sim_lo"), hi.cast("long").as("sim_hi"))
    }

  /** Per-document 64-bit SimHash signature (both halves), ordered. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashHalves(spark, dir).orderBy("doc_id")

  /** SimHash near-dup pairs: candidates share at least one of the 4
    * disjoint 16-bit signature bands, verified by exact hamming <= 3.
    *
    * Pigeonhole recall argument: 4 disjoint bands cover all 64 bits,
    * so any pair at hamming distance <= 3 has its differing bits in
    * at most 3 bands — at least one band is bit-identical, and the
    * band equi-join emits the pair. Bucket count per band is 2^16
    * (vs 2^8 for the round-2 byte bands), so expected bucket
    * population — and the quadratic within-bucket pair count — drops
    * 256x at the same corpus size; band width is the knob that keeps
    * bucket occupancy bounded as the corpus grows.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sim = simhashHalves(spark, dir)
    val bandIx = broadcast(
      spark.range(0, 4).select(col("id").cast("int").as("band_ix")))
    val bands = sim.crossJoin(bandIx)
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"), col("band_ix"),
        expr("""CASE WHEN band_ix < 2 THEN shiftright(sim_lo, band_ix * 16) % 65536
                     ELSE shiftright(sim_hi, (band_ix - 2) * 16) % 65536 END""").as("band_v"))
    // the band self-join + cross-band dedup session-persists
    // (round-18 second pass, the bounded-pool arrangement): it is the
    // one non-trivial pass here — the signatures themselves are
    // already persisted — and its output is bounded by band-collision
    // pairs. The hamming verification and ordering stay
    // per-invocation.
    val cand = DfCache.getOrPersist(spark, s"simhash_cands:$dir")(
      bands.select(col("doc_id").as("doc_x"), col("sim_lo").as("lo_x"),
          col("sim_hi").as("hi_x"), col("band_ix"), col("band_v"))
        .join(bands.select(col("doc_id").as("doc_y"), col("sim_lo").as("lo_y"),
          col("sim_hi").as("hi_y"), col("band_ix"), col("band_v")),
          Seq("band_ix", "band_v"))
        .where(col("doc_x") < col("doc_y"))
        .select("doc_x", "doc_y", "lo_x", "hi_x", "lo_y", "hi_y").distinct())
    cand
      .withColumn("hamming",
        expr("bit_count(lo_x ^ lo_y) + bit_count(hi_x ^ hi_y)").cast("long"))
      .where(col("hamming") <= 3)
      .select("doc_x", "doc_y", "hamming")
      .orderBy("doc_x", "doc_y")
  }

  /** Duplicate-SPAN coverage: for every document, how much of it is
    * covered by word `n`-grams that occur more than once ANYWHERE in
    * the corpus (other documents or elsewhere in the same one) — the
    * sub-document granularity of suffix-array span dedup ("any
    * duplicated span of >= N tokens", Lee et al., *Deduplicating
    * Training Data Makes Language Models Better*, ACL 2022),
    * re-expressed at fixed n as pure relational algebra: whole-doc
    * dedup above misses boilerplate (headers, licenses, templates)
    * pasted into otherwise-unique pages, and this measures exactly
    * that mass.
    *
    * Per doc: token count, span count, duplicated-span count, the
    * number of token positions covered by at least one duplicated
    * span (exact interval union: spans are fixed-length-`n` sorted
    * intervals, so each contributes `least(n, start - prev_start)` —
    * a per-doc window, no pairwise overlap join), and coverage in
    * basis points. Every doc emits a row (0s when clean of dups) so
    * the frame is stable on a clean corpus.
    *
    * Scale posture (100 TB): spans derive per row (transform over the
    * token array — no self-join) and the lineage is persisted once,
    * shared by the frequency count and the position join; the dup
    * decision is ONE gram-keyed aggregation; the join back is a
    * gram equi-join, deliberately hint-free (the dup-gram set is
    * corpus-proportional at boilerplate-heavy crawls — the drop-list
    * rule); the interval union is a doc-partitioned window, never a
    * pairwise overlap product. Everything is linear in corpus
    * tokens; all outputs exact integers.
    */
  /** The REMOVAL step that makes [[spanCoverage]] actionable: per
    * doc, the cleaned text with every token covered by a
    * corpus-duplicated n-gram span cut out — the "deduplicate the
    * substring, not the document" output of suffix-array span dedup
    * (Lee et al., ACL 2022), at fixed n. Shares the persisted span
    * lineage with [[spanCoverage]] (same cache key), so measuring
    * and removing cost ONE shingle pass together.
    *
    * Shape: dup-gram decision is the same single gram aggregation;
    * covered positions explode n rows per duplicated span (linear in
    * duplicated mass, bounded by n·tokens); the kept-token set is a
    * hint-free anti-join on (doc_id, pos) — both sides
    * corpus-proportional, the drop-list rule again; text rebuilds
    * with one per-doc sort over kept tokens (state bounded by doc
    * length, the floor for emitting text at all). By construction
    * `n_tokens - n_kept` equals [[spanCoverage]]'s exact interval
    * union `covered_tokens` — `DedupSpanSpec` pins the two queries
    * to each other on top of both oracles.
    */
  def spanRemoved(spark: SparkSession, dir: String, n: Int = 4): DataFrame = {
    val base = spanBase(spark, dir)
    val spans = docSpans(spark, dir, n, base)
    val dup = spans.groupBy("gram")
      .agg(count(lit(1)).as("cnt")).where(col("cnt") >= 2).select("gram")
    val covered = spans.join(dup, Seq("gram"))
      .select(col("doc_id"),
        explode(expr(s"sequence(start, start + ${n - 1})")).as("pos"))
      .distinct()
    // outer generate (the Bpe.tokenIdsOfSegments rationale): `t`
    // aliases split(clean(text)), and a non-outer posexplode lets the
    // inferred size(t) > 0 filter substitute that expression below
    // the projection — cleaning every document twice on this path.
    // The n_tokens guard already excludes empty arrays, so the null
    // row an outer generate would emit never occurs; dropped
    // explicitly anyway.
    val toks = base.where(col("n_tokens") > 0)
      .select(col("doc_id"), posexplode_outer(col("t")).as(Seq("p0", "tok")))
      .where(col("tok").isNotNull)
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("tok"))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, tok))), c -> c.tok)"),
          " ").as("cleaned"))
    base.select("doc_id", "n_tokens")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
      .orderBy("doc_id")
  }

  /** The tokenized per-doc frame shared by the span family:
    * `(doc_id, t: array<string>, n_tokens)`.
    */
  private def spanBase(spark: SparkSession, dir: String): DataFrame =
    docsSpread(spark, dir)
      .select(col("doc_id"), split(Tokenize.clean(col("text")), " ").as("t"))
      .withColumn("n_tokens",
        when(expr("size(t) = 0 OR t[0] = ''"), 0L)
          .otherwise(expr("cast(size(t) as bigint)")))

  /** Per-doc fixed-`n` token spans `(doc_id, start, gram)`, persisted
    * once per (session, corpus, n) and shared by [[spanCoverage]] and
    * [[spanRemoved]] — measuring and removing pay ONE shingle pass.
    */
  private def docSpans(spark: SparkSession, dir: String, n: Int,
      base: DataFrame): DataFrame = {
    // guard-free total form (the TextAnalysis.winnowOf pattern):
    // windowedSql yields array() below n tokens, so the explode
    // emits nothing for short docs — no `.where`, no duplicated
    // clean lineage in a pushed-down filter.
    val parts = (0 until n).map(j => s"try_element_at(t, i + $j)").mkString(", ")
    DfCache.getOrPersist(spark, s"doc_spans:$n:$dir") {
      base
        .select(col("doc_id"), explode(expr(
          graft.functions.Tokenize.windowedSql("t", n,
            s"i -> struct(cast(i as bigint) as start, concat_ws(' ', $parts) as gram)")))
          .as("sp"))
        .select(col("doc_id"), col("sp.start").as("start"), col("sp.gram").as("gram"))
    }
  }

  def spanCoverage(spark: SparkSession, dir: String, n: Int = 4): DataFrame = {
    val base = spanBase(spark, dir)
    val spans = docSpans(spark, dir, n, base)
    val dup = spans.groupBy("gram")
      .agg(count(lit(1)).as("cnt")).where(col("cnt") >= 2).select("gram")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("start")
    val cov = spans.join(dup, Seq("gram"))
      .withColumn("inc", coalesce(
        least(lit(n.toLong), col("start") - lag(col("start"), 1).over(w)),
        lit(n.toLong)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum("inc").cast("long").as("covered_tokens"))
    base.select(col("doc_id"), col("n_tokens"),
        greatest(col("n_tokens") - (n - 1), lit(0L)).as("n_spans"))
      .join(cov, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_spans", "covered_tokens"))
      .withColumn("coverage_bp",
        expr("cast((covered_tokens * 10000) div greatest(n_tokens, 1) as bigint)"))
      .orderBy("doc_id")
  }

  /** Cross-source overlap matrix — the contamination report between
    * corpus SOURCES (which crawls/dumps duplicate each other, and by
    * how much): for every source pair, the exact shared distinct
    * 3-gram shingle count with Jaccard and both directional
    * containments in basis points. Directional containment is the
    * actionable number — a mirror site shows containment ≈ 10000
    * into its original while Jaccard can stay low if the original
    * is much larger.
    *
    * Scale posture: the corpus-sized shingle lineage (persisted,
    * shared with MinHash/Jaccard/spans) collapses to DISTINCT
    * (source, shingle) — one aggregation with map-side partials,
    * output bounded by |sources| x |vocabulary|, document count
    * gone. The shingle-keyed self-join then fans out at most
    * C(|sources present|, 2) pairs PER SHINGLE — bounded by the
    * source-list size squared, independent of corpus size — and
    * reduces immediately to the |sources|^2-row matrix. The totals
    * frame is |sources| rows, broadcast. No all-pairs document
    * product anywhere.
    */
  /** SemDeDup: semantic deduplication scoped to trained k-means
    * cells (Abbas et al. — cluster the embeddings, compare only
    * within a cluster, drop members too close to a smaller-id
    * cell-mate). The decision view over every embedded document:
    * `(doc_id, cell_id, is_dup, n_dups, max_cos_bp)` where `n_dups`
    * counts smaller-id SAME-CELL neighbors with quantized cosine ≥
    * `minCosBp` — keeper-by-min-id, the engine's one dedup contract
    * ([[exact]], [[incrementalNearDups]]) applied to semantic space.
    *
    * vs [[embeddingCosine]] (sign-LSH buckets): LSH candidates are
    * recall-tuned bucket collisions; SemDeDup's are exhaustive
    * WITHIN a routed cell and empty across cells — comparisons total
    * Σ|cell|² ≈ n²/k with k scaling with the corpus, and the
    * decision inherits the codebook's semantic partition (the same
    * cells `sim_cluster_balance` samples against).
    */
  def semanticCells(spark: SparkSession, dir: String,
      minCosBp: Int = 3000): DataFrame = {
    // corpus-SCALED codebook (k ~ sqrt(n), `Similarity.numCentsFor`):
    // the n²/k comparison bound is the operator's reason to exist,
    // so its k grows with the corpus instead of staying at the
    // pinned demo 8 (round-8 verdict #2). The oracle derives the
    // same k from count(*).
    val k = Similarity.autoCents(spark, dir)
    val flags = Similarity.cellNearPairs(spark, dir, minCosBp, k)
      .groupBy(col("vec_y").as("doc_id"))
      .agg(count(lit(1)).as("n_dups"),
        max(col("cos_bp")).as("max_cos_bp"))
    Similarity.ivfCells(spark, dir, k)
      .select(col("vec_id").as("doc_id"), col("cell_id"))
      .join(flags, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dups", "max_cos_bp"))
      .select(col("doc_id"), col("cell_id"),
        when(col("n_dups") > 0, 1L).otherwise(0L).as("is_dup"),
        col("n_dups").cast("long").as("n_dups"),
        col("max_cos_bp").cast("long").as("max_cos_bp"))
      .orderBy("doc_id")
  }

  /** Cluster-size distribution — the one-page dedup report a corpus
    * release quotes (how much duplication, in what shape): per
    * distinct cluster size, how many clusters and how many documents
    * dedup would drop (`size - 1` per cluster). Derived from the
    * keeper rows of [[clusters]] (exactly one per cluster), so it
    * shares the star-contraction lineage and costs one extra tiny
    * aggregation over the |clusters|-row frame.
    */
  def clusterHistogram(spark: SparkSession, dir: String): DataFrame =
    clusters(spark, dir)
      .where(col("is_keeper") === 1L)
      .groupBy("n_members")
      .agg(count(lit(1)).as("n_clusters"),
        (sum(col("n_members")) - count(lit(1))).cast("long").as("n_dropped"))
      .orderBy("n_members")

  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the distinct feeds THREE consumers (the sizes
    // aggregation and both self-join sides); exchange reuse covers
    // the identical join sides but not the sizes plan, so without
    // the persist the corpus-scale shingle distinct runs twice per
    // query (round-8 self-review finding). Bounded by
    // |sources| x |shingle vocabulary|.
    val srcSh = DfCache.getOrPersist(spark, s"src_shingles:$dir")(
      shingles(spark, dir)
        .join(docs(spark, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("s")).distinct())
    val sizes = srcSh.groupBy("source").agg(count(lit(1)).as("n"))
    // the pair rollup session-persists (round-18 second pass): the
    // shingle-keyed self-join of the persisted distinct is the one
    // corpus-scale pass left in this query and re-ran per invocation;
    // its OUTPUT is bounded by |sources|² rows — the bounded-pool
    // arrangement ([[graft.operators.Similarity]]'s ADC pools). The
    // final ratio projection and ordering stay per-invocation.
    val pairs0 = srcSh.select(col("source").as("source_a"), col("s"))
      .join(srcSh.select(col("source").as("source_b"), col("s")), Seq("s"))
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
    DfCache.getOrPersist(spark, s"srcpairs:${pairs0.semanticHash()}")(pairs0)
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        col("n_a"), col("n_b"), col("n_shared"),
        expr("cast((10000 * n_shared) div (n_a + n_b - n_shared) as bigint)")
          .as("jaccard_bp"),
        expr("cast((10000 * n_shared) div n_a as bigint)").as("contain_a_bp"),
        expr("cast((10000 * n_shared) div n_b as bigint)").as("contain_b_bp"))
      .orderBy("source_a", "source_b")
  }

  // ---------------------------------------------------------------
  // URL-normalized dedup — the crawl-pipeline rung ABOVE content
  // dedup: the same page is re-crawled under scheme-case / www /
  // default-port / tracking-parameter / parameter-order / fragment /
  // trailing-slash variants of one URL, so crawl frontiers and
  // re-crawl schedulers key on a CANONICAL url, not the raw string.
  // The sibling of [[exactNormalized]] (which canonicalizes content;
  // this canonicalizes identity).
  // ---------------------------------------------------------------

  /** Deterministic planted URL view (the boilerplate/pagedOf fixture
    * convention: the synthetic corpus carries no url column, so
    * crawl-shaped URL noise is planted deterministically on top) —
    * every noise axis the normalizer must collapse appears on a
    * doc_id residue: scheme case, `WWW.` prefix, the `:443` default
    * port, a trailing slash, a tracking parameter before OR after
    * the real one, and a fragment. Docs sharing (source,
    * doc_id % 50) are the SAME logical page under different raw
    * URLs. Docs with a null source have a null url and are absent
    * from both outputs (contract; concat is null-propagating in the
    * engine, and the oracle filters the same rows explicitly because
    * DuckDB's concat skips nulls).
    */
  private[graft] def urlsOf(documents: DataFrame): DataFrame = {
    val page = (col("doc_id") % 50).cast("string")
    documents.select(col("doc_id"), concat(
      when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
      when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit(".example.com"),
      when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
      lit("/articles/"), page,
      when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
      lit("?"),
      when(col("doc_id") % 3 === 0, concat(lit("utm_source=feed&id="), page))
        .when(col("doc_id") % 3 === 1, concat(lit("id="), page, lit("&utm_campaign=x")))
        .otherwise(concat(lit("id="), page)),
      when(col("doc_id") % 7 === 0, lit("#section2")).otherwise(lit("")))
      .as("url"))
  }

  /** Canonical URL per row: `(doc_id, url, url_norm)`. Normalization
    * rules (each a published crawl-canonicalization step):
    * fragment dropped; scheme dropped (identity is host+path+query);
    * host lowercased, `www.` and default ports `:80`/`:443`
    * stripped; duplicate slashes collapsed and trailing slashes
    * dropped from the path (which stays case-SENSITIVE — paths are);
    * tracking parameters (`utm_*`, `fbclid`, `gclid`, `ref`) and
    * empty fragments dropped from the query, and the surviving
    * parameters SORTED so parameter order never splits an identity.
    *
    * The scheme (and a protocol-relative `//`) is OPTIONAL in the
    * host extraction, so the canonicalizer is IDEMPOTENT over its own
    * scheme-less output — a frontier that re-normalizes stored
    * canonical keys must hit a fixed point, not re-split identities
    * (round-12 ADVICE: the anchored `^[a-zA-Z]+://` made every
    * scheme-less URL — including this function's own output —
    * normalize to `''`, silently MERGING all of them into one
    * identity group). A URL with no extractable host (none at all,
    * or nothing left after `www.`/default-port stripping) has no
    * crawl identity and is DROPPED, never merged.
    *
    * Scale posture: every step is a codegen'd row-local
    * regexp/array function — one scan, one projection, no generator,
    * no shuffle before the consumer's aggregation. The 100 TB cost
    * is the scan.
    */
  def urlNormalizedOf(urls: DataFrame): DataFrame = {
    val nf = regexp_replace(col("url"), "#.*$", "")
    // the scheme is STRIPPED first (anchored replace), not matched
    // optionally inside the host extraction: an optional
    // `(?:scheme://)?` group BACKTRACKS on an empty-host URL
    // (`https://`, `https://?x=1`) and captures `https:` as the
    // host; and it must only fire together with its `//`, else a
    // scheme-less `host:port/x` parses `host:` as a scheme and the
    // port becomes the host — both breaking the idempotence the
    // optional scheme exists to guarantee.
    val stripped = regexp_replace(nf, "^(?:[a-zA-Z]+:)?//", "")
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(stripped, "^([^/?#]+)", 1)),
      "^www\\.", ""), ":(443|80)$", "")
    val pathq = regexp_extract(stripped, "^[^/?#]+(.*)$", 1)
    val path = regexp_replace(regexp_replace(
      regexp_extract(pathq, "^([^?]*)", 1), "/{2,}", "/"), "/+$", "")
    val qs = array_join(array_sort(filter(
      split(regexp_extract(pathq, "\\?(.*)$", 1), "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid|ref)="))), "&")
    urls
      .where(col("url").isNotNull && host =!= "")
      .select(col("doc_id"), col("url"),
        concat(host, path,
          when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
          .as("url_norm"))
    // NO presentation sort here: the dedup/report consumers aggregate
    // this frame, and a baked-in orderBy would survive analysis only
    // to be optimizer-eliminated — a plan shape held up by a rule,
    // not by construction (round-12 review). The demo adds its own.
  }

  /** Registered mapping demo: raw planted URL -> canonical form. */
  def urlNormalize(spark: SparkSession, dir: String): DataFrame =
    urlNormalizedOf(urlsOf(docs(spark, dir))).orderBy("doc_id")

  /** Registered dedup demo: one group per canonical URL — keeper =
    * min doc_id, copies, and how many RAW url spellings the group
    * collapsed (`n_raw_forms` > 1 is exactly the noise the
    * canonicalization exists to absorb). One row-local projection +
    * one url_norm-keyed aggregation with map-side partials.
    */
  def urlDedup(spark: SparkSession, dir: String): DataFrame =
    urlNormalizedOf(urlsOf(docs(spark, dir)))
      .groupBy("url_norm")
      .agg(min("doc_id").as("keeper_doc_id"),
        count(lit(1)).as("copies"),
        countDistinct("url").as("n_raw_forms"))
      .orderBy("url_norm")

  /** Per-DOMAIN crawl-curation report — the table a crawl-ops loop
    * reads to decide what to re-crawl, cap, or drop: for each
    * canonical domain (the host component of the canonical URL),
    * document count, distinct canonical URLs, the URL-dedup rate in
    * basis points (`copies beyond the canonical set / docs` — the
    * re-crawl waste), the Gopher quality-pass rate, and exact mean
    * whitespace tokens in cents (the [[TextAnalysis.stats]] integer
    * convention). Composes the three towers a curation decision
    * needs — identity ([[urlNormalizedOf]]), quality
    * ([[TextAnalysis.qualityFlags]]), and volume
    * ([[TextAnalysis.stats]]) — as doc_id equi-joins over
    * session-persisted / thin lineages.
    *
    * Scale posture: the URL side is a row-local projection; stats and
    * flags are the persisted per-doc frames every text query shares;
    * the joins are doc_id-keyed equi-joins feeding ONE domain-keyed
    * aggregation with map-side partials (domains ≪ docs). No window,
    * no generator.
    */
  def urlDomainReport(spark: SparkSession, dir: String): DataFrame = {
    val ids = urlNormalizedOf(urlsOf(docs(spark, dir)))
      .select(col("doc_id"), col("url_norm"),
        regexp_extract(col("url_norm"), "^([^/]+)", 1).as("domain"))
    val flags = TextAnalysis.qualityFlags(spark, dir)
      .select(col("doc_id"), col("quality_pass"))
    val toks = TextAnalysis.stats(spark, dir)
      .select(col("doc_id"), col("n_ws_tokens"))
    ids.join(flags, Seq("doc_id")).join(toks, Seq("doc_id"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("url_norm").as("n_canonical"),
        expr("cast((10000 * (count(1) - count(distinct url_norm))) div count(1) as bigint)")
          .as("dup_bp"),
        expr("cast((10000 * sum(quality_pass)) div count(1) as bigint)")
          .as("quality_pass_bp"),
        expr("cast((100 * sum(n_ws_tokens)) div count(1) as bigint)")
          .as("mean_tokens_c"))
      .orderBy("domain")
  }
}
