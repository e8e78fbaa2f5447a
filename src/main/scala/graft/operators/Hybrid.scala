package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid lexical + vector retrieval with reciprocal-rank fusion
  * (LLM-pipeline extension): the modern two-tower retrieval shape —
  * a BM25 candidate list and an embedding-cosine candidate list for
  * the SAME query document, fused by RRF
  * (`score = Σ_lists floor(S / (K + rank))`) so neither scorer's
  * scale has to be calibrated against the other's. The query is the
  * MINIMUM-doc_id document ([[queryDocId]] — the same selection rule
  * as the BM25 query source, so a re-keyed corpus moves both towers
  * together), query-by-example on both towers: its leading cleaned
  * tokens are the lexical query ([[TextAnalysis.bm25TopK]]'s
  * convention) and its embedding (`vec_id = queryDocId`; the corpus
  * keys embeddings by `vec_id = doc_id`) is the vector query. The
  * query document itself is excluded from both candidate lists — a
  * retrieval engine must not return the query as its own answer.
  *
  * Exactness: ranks are integers by construction (each tower's
  * deterministic `(score desc, id asc)` tie-break), and the RRF
  * contribution `RrfScale div (RrfK + rank)` is exact integer
  * division in both engines — the fused score never touches a
  * float, so the oracle hash compare is bit-exact.
  *
  * Scale posture (100 TB): both towers are ALREADY bounded
  * pipelines — BM25 narrows the corpus to query-term postings with
  * a broadcast semi-join before its one aggregation, and the cosine
  * tower is the bounded [[TopK]] aggregator (O(k) state per
  * partition, single broadcast probe). The fusion itself joins two
  * ≤`kCand`-row frames — driver-invisible, exchange-trivial — so
  * hybrid costs exactly the sum of its towers plus O(k). No new
  * corpus scan, no new corpus-sized shuffle. The k-row windows in
  * the fusion rank over ≤`kCand + 1` rows (NOT the corpus; the
  * corpus-side top-k already happened inside each tower).
  */
object Hybrid {

  /** RRF contribution numerator (integer basis: `1e6 div (K+r)`). */
  val RrfScale = 1000000L

  /** The standard RRF smoothing constant (Cormack et al., k=60). */
  val RrfK = 60L

  /** RRF fusion of two ranked lists. Inputs: `(doc_id, rank_text)`
    * and `(doc_id, rank_vec)` (ranks 1-based, each list deduped on
    * doc_id). Output: `(doc_id, rank, rrf_score, rank_text,
    * rank_vec)` — fused rank over `(rrf_score desc, doc_id asc)`,
    * absent-list ranks reported as 0.
    */
  def rrfFuse(text: DataFrame, vec: DataFrame, k: Int): DataFrame = {
    // NOT a delegation to [[rrfFuseBatch]] with a constant probe_id:
    // that was tried (round-8 self-review) and the golden guard
    // caught it adding two exchanges — the constant-keyed
    // partitionBy windows hash-shuffle where the global window's
    // single exchange suffices. The fusion contract staying in sync
    // with the batch form is instead pinned behaviorally by
    // HybridSpec ("batch fusion serves each probe exactly its
    // single-probe answer").
    // `div` (not float division + floor): exact bigint in both
    // engines; a null rank (doc absent from that list) propagates
    // through the arithmetic and coalesces to a 0 contribution.
    def contrib(c: String): Column =
      coalesce(expr(s"$RrfScale div ($RrfK + $c)"), lit(0L))
    val fused = text.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score", contrib("rank_text") + contrib("rank_vec"))
    val w = Window.orderBy(col("rrf_score").desc, col("doc_id").asc)
    fused
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("rrf_score"),
        coalesce(col("rank_text"), lit(0L)).as("rank_text"),
        coalesce(col("rank_vec"), lit(0L)).as("rank_vec"))
      .orderBy("rank")
  }

  /** The BM25 tower: top-`kCand` candidates for document 0's
    * leading-token query, document 0 itself excluded. Fetches
    * `kCand + 1` from the underlying ranking so the exclusion can
    * never shorten the candidate list below `kCand` available
    * matches, then re-ranks — the surviving ranks are the 1..kCand
    * positions among non-self documents.
    */
  def bm25Ranked(spark: SparkSession, dir: String,
      kCand: Int, qTerms: Int): DataFrame =
    bm25RankedAs(spark, dir, queryDocId(spark, dir), kCand, qTerms)

  private def bm25RankedAs(spark: SparkSession, dir: String, qid: Long,
      kCand: Int, qTerms: Int): DataFrame = {
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    // artifact-served ([[TextAnalysis.bm25TopKIndexed]] — round 9):
    // the single fusion's text tower reads the durable positional
    // index + live doc lengths, like the batched tower.
    hybridPool(TextAnalysis.bm25TopKIndexed(spark, dir, kCand + 1, qTerms)
      .where(col("doc_id") =!= qid)
      .withColumn("rank_text", row_number().over(w).cast("long"))
      .where(col("rank_text") <= kCand)
      .select(col("doc_id"), col("rank_text")))
  }

  /** Session persist for a BOUNDED tower candidate pool (round-18
    * second pass — the [[Similarity]] ADC/exact-pool arrangement
    * applied to the fusion's towers): each ranked tower list is
    * ≤ kCand rows per probe, yet its derivation re-scans the
    * positional-index / quantized-embedding artifacts per fused query
    * — and the BM25 tower is consumed VERBATIM by both registered
    * single fusions (`search_hybrid_rrf` and `search_hybrid_rrf_ivf`
    * share qid/kCand/qTerms). Semantically keyed like every shared
    * lineage; the fusion itself stays per-invocation. The
    * request-serving seam ([[rrfTopKRequests]]) deliberately does NOT
    * pool: its probe frames are external per-batch inputs, not
    * session-stable lineages.
    */
  private def hybridPool(df: DataFrame): DataFrame =
    graft.sources.DfCache.getOrPersist(df.sparkSession, s"hybridpool:${df.semanticHash()}")(df)

  /** The single-fusion query document's id — the SAME selection rule
    * as the BM25 query source (`bm25Core`: the minimum doc_id), so
    * the towers' self-exclusion and vector probe stay aligned with
    * the actual query document on a RE-KEYED corpus instead of a
    * hardcoded literal 0, which would let the query retrieve itself
    * through the text tower while the vector tower went silently
    * empty (round-8 self-review finding). Metadata-sized driver
    * aggregate served by parquet footer stats — the
    * [[graft.operators.JoinSearch.prunedTableIds]] altitude.
    * Computed ONCE per query build and passed to both towers
    * (round-8 ADVICE: the per-tower call fired the same driver job
    * two or three times per fused query).
    */
  // session-memoized (round-17 optimization): all three registered
  // hybrid queries fire this footer-stats driver job per invocation;
  // the id is a pure function of the documents dataset, so one
  // lookup per (session, corpus) suffices. Memoized through
  // [[graft.sources.DfCache.memo]] over the documents read, which the
  // memo derives as its source: a private map here bypassed the
  // artifact gate's invalidateDerived, so an in-session rewrite of
  // documents.parquet served a stale query-doc id (round-17 verdict #4).
  private def queryDocId(spark: SparkSession, dir: String): Long =
    graft.sources.DfCache.memo(spark, s"hybrid-qid:$dir")(
        spark.read.parquet(s"$dir/documents.parquet")) { docs =>
      val r = docs.agg(min(col("doc_id"))).head()
      // EMPTY corpus: there is no query document — use a sentinel id
      // no corpus row carries, so both towers run their normal
      // (empty) plans and the fusion is an empty frame with the
      // right schema. The raw getLong was a ROW_VALUE_IS_NULL crash
      // on day-one/empty deployments (found by DegenerateLakeSpec).
      if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
    }

  /** The vector tower: bounded cosine top-`kCand` for the single
    * probe = the query document's embedding; the TopK aggregator
    * already excludes the probe itself.
    */
  def cosineRanked(spark: SparkSession, dir: String, kCand: Int): DataFrame =
    cosineRankedAs(spark, dir, queryDocId(spark, dir), kCand)

  private def cosineRankedAs(spark: SparkSession, dir: String, qid: Long,
      kCand: Int): DataFrame =
    // LIVE corpus, matching the live text tower (bm25TopKIndexed
    // reads positional deltas): one fused query, one freshness level
    // — a streamed doc must be visible to BOTH towers or neither
    // (round-9 review). Degrades to the base path with no deltas.
    hybridPool(
      Similarity.cosineTopKAggWhereLive(spark, dir, kCand, col("vec_id") === qid)
        .select(col("vec_id").as("doc_id"), col("rank").as("rank_vec")))

  /** `search_hybrid_rrf`: the registered hybrid query — RRF fusion
    * of the two towers, top `k`.
    */
  def rrfTopK(spark: SparkSession, dir: String,
      k: Int = 20, kCand: Int = 50, qTerms: Int = 8): DataFrame = {
    val qid = queryDocId(spark, dir)
    rrfFuse(bm25RankedAs(spark, dir, qid, kCand, qTerms),
      cosineRankedAs(spark, dir, qid, kCand), k)
  }

  /** The vector tower's scale path: candidates from the probe's IVF
    * routed cell instead of the full corpus
    * ([[Similarity.ivfTopKAggFor]]).
    */
  def cosineRankedIvf(spark: SparkSession, dir: String, kCand: Int): DataFrame =
    cosineRankedIvfAs(spark, dir, queryDocId(spark, dir), kCand)

  private def cosineRankedIvfAs(spark: SparkSession, dir: String, qid: Long,
      kCand: Int): DataFrame =
    // corpus-SCALED codebook (k ~ sqrt(n)): the fusion's 100 TB
    // vector tower routes against the scaled durable book, so a
    // probe's cell holds ~sqrt(n) candidates, not n/8. LIVE view for
    // the same one-freshness reason as [[cosineRankedAs]].
    hybridPool(
      Similarity.ivfTopKAggForLive(spark, dir, qid, kCand,
          Similarity.autoCents(spark, dir))
        .select(col("vec_id").as("doc_id"), col("rank").as("rank_vec")))

  /** `search_hybrid_rrf_ivf`: the hybrid query with the IVF vector
    * tower — what the fusion runs at 100 TB, where brute-force
    * cosine over the corpus per query is off the table. The BM25
    * tower is unchanged (it is already probe-pruned); only the
    * vector candidate generator swaps, exactly the
    * `sim_cosine_topk` / `sim_ivf_probe` relationship lifted to the
    * fused query. Recall loss relative to [[rrfTopK]] is the IVF
    * cell-routing loss, measured by `sim_ivf_recall`.
    */
  def rrfTopKIvf(spark: SparkSession, dir: String,
      k: Int = 20, kCand: Int = 50, qTerms: Int = 8): DataFrame = {
    val qid = queryDocId(spark, dir)
    rrfFuse(bm25RankedAs(spark, dir, qid, kCand, qTerms),
      cosineRankedIvfAs(spark, dir, qid, kCand), k)
  }

  /** The default probe set for the batched fusion: documents 0, 50,
    * 100 (the vector tower's `probeMod = 50` convention restricted
    * to three probes).
    */
  val BatchProbes: Seq[Long] = Seq(0L, 50L, 100L)

  /** Batched BM25 tower: per-probe ranked candidates from ONE shared
    * pass over the DURABLE positional index
    * ([[TextAnalysis.bm25ScoresBatchIndexed]] — union term set
    * pushed as one `In` predicate, doc lengths from the durable
    * companion, no per-session corpus re-tokenization; round-9
    * verdict #5), each probe's self excluded before ranking. The
    * per-probe window ranks only query-term-matched docs, never the
    * corpus. Identical rows to the derived
    * [[TextAnalysis.bm25ScoresBatch]] lineage (HybridSpec +
    * unchanged oracle hash).
    */
  def bm25RankedBatch(spark: SparkSession, dir: String,
      probeIds: Seq[Long], kCand: Int, qTerms: Int): DataFrame = {
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    hybridPool(TextAnalysis.bm25ScoresBatchIndexed(spark, dir, probeIds, qTerms)
      .where(col("doc_id") =!= col("probe_id"))
      .withColumn("rank_text", row_number().over(w).cast("long"))
      .where(col("rank_text") <= kCand)
      .select(col("probe_id"), col("doc_id"), col("rank_text")))
  }

  /** Batched vector tower: the bounded TopK aggregator with the
    * whole probe set broadcast at once (its native multi-probe
    * shape — [[Similarity.cosineTopKAggWhere]]).
    */
  def cosineRankedBatch(spark: SparkSession, dir: String,
      probeIds: Seq[Long], kCand: Int): DataFrame =
    // LIVE view — the batched fusion's freshness matches its live
    // text tower, like the single-probe form ([[cosineRankedAs]]).
    hybridPool(Similarity.cosineTopKAggWhereLive(spark, dir, kCand,
      col("vec_id").isin(probeIds: _*))
      .select(col("qid").as("probe_id"), col("vec_id").as("doc_id"),
        col("rank").as("rank_vec")))

  /** [[rrfFuse]] keyed by (probe_id, doc_id): per-probe fusion and
    * ranking in one frame.
    */
  def rrfFuseBatch(text: DataFrame, vec: DataFrame, k: Int): DataFrame = {
    // `div` (not float division + floor): exact bigint in both
    // engines; a null rank (doc absent from that list) propagates
    // through the arithmetic and coalesces to a 0 contribution.
    def contrib(c: String): Column =
      coalesce(expr(s"$RrfScale div ($RrfK + $c)"), lit(0L))
    val fused = text.join(vec, Seq("probe_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", contrib("rank_text") + contrib("rank_vec"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    fused
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("doc_id"), col("rrf_score"),
        coalesce(col("rank_text"), lit(0L)).as("rank_text"),
        coalesce(col("rank_vec"), lit(0L)).as("rank_vec"))
      .orderBy("probe_id", "rank")
  }

  /** `search_hybrid_batch`: N hybrid queries answered in one shared
    * corpus pass per tower. Per-probe results are EXACTLY the single-probe
    * fusion's (HybridSpec pins probe 0 row-for-row against
    * [[rrfTopK]]); the saving is the shared tokenize/tf/df lineage
    * and the one probe-set broadcast.
    */
  def rrfTopKBatch(spark: SparkSession, dir: String,
      k: Int = 20, kCand: Int = 50, qTerms: Int = 8,
      probeIds: Seq[Long] = BatchProbes): DataFrame =
    rrfFuseBatch(bm25RankedBatch(spark, dir, probeIds, kCand, qTerms),
      cosineRankedBatch(spark, dir, probeIds, kCand), k)

  /** Hybrid retrieval for EXTERNAL requests `(req_id, qtext,
    * embedding)` — no query-by-example, no self-exclusion (requests
    * live outside the corpus): the text tower derives its term frame
    * from the request text through the engine's one cleaning chain,
    * the vector tower quantizes the request embedding with the
    * corpus transform ([[Similarity.cosineTopKAggProbes]]), and the
    * fusion is the shared batched RRF. This is the form a serving
    * endpoint actually receives — the registered query-by-example
    * forms are its oracle-checkable twins.
    */
  def rrfTopKRequests(spark: SparkSession, dir: String,
      requests: DataFrame, k: Int = 20, kCand: Int = 50,
      qTerms: Int = 8): DataFrame = {
    import graft.functions.Tokenize
    val qf = requests
      .select(col("req_id").cast("long").as("probe_id"),
        explode(slice(split(Tokenize.clean(col("qtext")), " "), 1, qTerms))
          .as("term"))
      .where(col("term") =!= "").distinct()
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    // artifact-served (round 9): the endpoint's text tower reads the
    // durable positional index + live doc lengths — a serving
    // process never re-tokenizes the corpus per request batch.
    val text = TextAnalysis.bm25ScoresForTermsIndexed(spark, dir, qf)
      .withColumn("rank_text", row_number().over(w).cast("long"))
      .where(col("rank_text") <= kCand)
      .select(col("probe_id"), col("doc_id"), col("rank_text"))
    // LIVE vector tower to match the live text tower above: one
    // endpoint must not serve two freshness levels (a document whose
    // text is phrase-visible through the positional deltas but whose
    // embedding is invisible would skew every fusion it appears in).
    val vec = Similarity.cosineTopKAggProbesLive(spark, dir,
        requests.select(col("req_id").cast("long").as("qid"), col("embedding")),
        kCand)
      .select(col("qid").as("probe_id"), col("vec_id").as("doc_id"),
        col("rank").as("rank_vec"))
    rrfFuseBatch(text, vec, k)
  }
}
