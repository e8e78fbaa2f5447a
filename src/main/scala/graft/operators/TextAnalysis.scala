package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Tokenize
import graft.sources.DfCache

/** Text-analysis family over the `documents` table (LLM-pipeline
  * extension — SURVEY §7.2 step 7): per-document statistics, token
  * counting (whitespace + a BPE-ish regex), Gopher-style quality
  * flags, a function-word language-ID heuristic, per-(lang, source)
  * corpus profiles, top terms per language, and k-gram min-sampling
  * document fingerprints.
  *
  * Numeric posture: every emitted value is an exact integer (counts,
  * or basis points via `floor(10000 * a / b)` on exact integer a, b)
  * — no float comparisons anywhere, so DuckDB oracle parity is exact.
  *
  * Scale posture (100 TB): every query is one documents scan ->
  * per-row codegen'd expressions -> at most one aggregation shuffle
  * keyed on (lang) / (lang, source) / (doc_id); no UDFs, no driver
  * materialization, no joins except fingerprints' reuse of the
  * persisted shingle set shared with the dedup family.
  */
object TextAnalysis {

  /** Semantics key for every documents-derived durable artifact this
    * object builds (round-13 gate, replacing the manual FormatVersion
    * convention): any bytecode change to the text operators or the
    * tokenizer auto-invalidates — a changed window rule, stopword,
    * or quality predicate can never serve a stale artifact under an
    * unchanged documents fingerprint.
    */
  private lazy val semKey: String = graft.sources.Artifacts
    .classFingerprint(TextAnalysis.getClass, Tokenize.getClass)

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** The engine's canonical English function-word list
    * ([[Tokenize.Stopwords]]) rendered as an array literal — the
    * profile used by both the stopword stats and the language-ID
    * heuristic.
    */
  private val swArray: String =
    Tokenize.Stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")

  /** Count of raw whitespace tokens that are English function words. */
  private val swHits: Column =
    expr(s"size(filter(split(lower(text), ' '), w -> array_contains($swArray, w)))")

  /** BPE-ish regex tokenization: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token (the shape of a
    * byte-pair pre-tokenizer's coarsest split).
    */
  private val reTokens: Column =
    expr("size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")

  private def bp(num: Column, den: Column): Column =
    floor(lit(10000L) * num / greatest(den, lit(1L))).cast("long")

  /** Per-document statistics: char length, whitespace / regex / clean
    * token counts, alpha and digit char counts, function-word hits
    * and their ratio in basis points. Persisted per (session,
    * corpus): four registered queries consume it (and sourceProfile
    * three times within one plan) — without the persist each re-ran
    * the scan + two cleaning passes.
    */
  def stats(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrPersist(spark, s"doc_stats:$dir")(statsUncached(spark, dir))

  private def statsUncached(spark: SparkSession, dir: String): DataFrame =
    // spread the narrow doc rows first: the stats projection is five
    // regex/clean passes per document computed BEFORE any exchange —
    // at the scan's split count, which for one small file is a single
    // core (same rationale as the dedup pipelines' spread; at scale
    // the scan is already thousands of splits and this is a cheap
    // rebalance bounded by input size).
    docs(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        reTokens.cast("long").as("n_re_tokens"),
        when(Tokenize.clean(col("text")) === "", 0L)
          .otherwise(size(split(Tokenize.clean(col("text")), " ")))
          .cast("long").as("n_clean_tokens"),
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long").as("n_alpha"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("n_digit"),
        swHits.cast("long").as("sw_hits"))
      .withColumn("sw_bp", bp(col("sw_hits"), col("n_ws_tokens")))

  /** Gopher-style quality flags (published web-corpus filter rules),
    * integer-only: document length in range, mean word length in
    * [3, 10] chars (compared via cross-multiplication — no division),
    * and at least 2 function-word hits. `quality_pass` is their
    * conjunction.
    */
  def qualityFlags(spark: SparkSession, dir: String,
      minTokens: Int = 30, maxTokens: Int = 100000): DataFrame = {
    val s = stats(spark, dir)
    val flagLen = (col("n_ws_tokens") >= minTokens) && (col("n_ws_tokens") <= maxTokens)
    // 3 <= n_alpha / n_ws_tokens <= 10, exactly, in integers
    val flagAvgLen = (col("n_alpha") >= lit(3L) * col("n_ws_tokens")) &&
      (col("n_alpha") <= lit(10L) * col("n_ws_tokens"))
    val flagSw = col("sw_hits") >= 2
    s.select(col("doc_id"),
        when(flagLen, 1L).otherwise(0L).as("flag_len"),
        when(flagAvgLen, 1L).otherwise(0L).as("flag_avg_word_len"),
        when(flagSw, 1L).otherwise(0L).as("flag_stopwords"),
        when(flagLen && flagAvgLen && flagSw, 1L).otherwise(0L).as("quality_pass"))
      .orderBy("doc_id")
  }

  /** Model-based quality scoring — the classifier-distillation rung
    * published web-corpus pipelines run ABOVE the hand-written
    * heuristics (CCNet's LM filter, GPT-3's WebText-similarity
    * logistic regression, fasttext quality classifiers): train a
    * per-TERM scorer on weak labels — here [[qualityFlags]]'
    * verdicts, the standard practice of distilling cheap rules into
    * a smoother model — then score every document by its terms.
    * Everything is exact integers (the engine's oracle discipline):
    *
    *  - per term, `df_pos`/`df_neg` = distinct passing/failing
    *    documents containing it (one distinct-explode + one
    *    vocabulary-sized aggregation);
    *  - the term weight is the Laplace-smoothed P(pass | term) in
    *    basis points, `w = (10000·(df_pos+1)) div (df_pos+df_neg+2)`
    *    — the monotone surrogate of the log-odds (the BM25 idf
    *    rationalization: thresholding needs monotone, not log);
    *  - a document's score is the exact mean weight over its term
    *    OCCURRENCES, `score_bp = Σw div n`; `model_pass` compares
    *    against the CORPUS PRIOR (`prior_bp`, the same smoothed
    *    P(pass) with no term evidence) — "this document's vocabulary
    *    is more pass-like than average" — because an absolute
    *    midpoint is meaningless under a skewed base rate: at a 70 %
    *    pass rate every term weight clears 5000 and the model stops
    *    discriminating (measured at sf0.01 before this rule).
    *
    * Output keeps both verdicts (and the prior) side by side —
    * `(doc_id, n_terms, score_bp, prior_bp, model_pass,
    * heuristic_pass)` — so model/heuristic agreement is auditable
    * row by row. On THIS synthetic corpus the disagreements are all
    * model-only passes, and correctly so: the fixture's quality
    * signal lives entirely in document LENGTH (every doc draws from
    * one shared 31-word vocabulary), so a short document of ordinary
    * vocabulary fails the length heuristic while the model truthfully
    * reports its vocabulary is unremarkable — the langId
    * separability honesty note, applied to distillation: the
    * operator transfers vocabulary signal, and the measurement shows
    * this corpus has none to transfer. On a real crawl (boilerplate,
    * lorem-ipsum, SEO spam vocabularies) the same arithmetic
    * separates classes by construction.
    *
    * Scale posture: one corpus explode for training stats
    * (vocabulary-keyed aggregation, map-side partials), one for
    * application with the vocabulary-sized weight table broadcast
    * back — two linear passes, no corpus-keyed join wider than
    * (doc, term).
    */
  /** The trained weight table's durable location (the prior rides
    * along as the reserved empty-string term — cleaned terms are
    * never empty, so the key is free; one artifact, one read).
    */
  def qualityWeightsPath(dir: String): String =
    graft.sources.IndexBuilder.snapshotPath(dir) + "-qweights"

  /** The DURABLE trained quality scorer: `(term, w)` plus the prior
    * under the reserved `""` key, fingerprint-gated on the documents
    * source — train once per crawl, apply forever (batch and at the
    * ingest door, [[graft.streaming.TextStream.scoreQuality]]).
    */
  def loadOrBuildQualityWeights(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Artifacts.loadOrBuild(spark, qualityWeightsPath(dir),
      Seq(s"$dir/documents.parquet"), semKey) { t =>
      // per-IDENTITY training rows: label = min over the id's crawl
      // rows, term set = distinct union — a duplicate doc_id must
      // count once in every df (round-13 degenerate hash gate)
      val labels = qualityFlags(spark, dir)
        .groupBy("doc_id").agg(min(col("quality_pass")).as("quality_pass"))
      val dterms = docs(spark, dir)
        .select(col("doc_id"),
          explode(array_distinct(split(Tokenize.clean(col("text")), " "))).as("term"))
        .where(col("term") =!= "")
        .dropDuplicates("doc_id", "term")
      val weights = dterms.join(labels, Seq("doc_id"))
        .groupBy("term")
        .agg(sum(col("quality_pass")).as("df_pos"),
          sum(lit(1L) - col("quality_pass")).as("df_neg"))
        .select(col("term"),
          expr("(10000 * (df_pos + 1)) div (df_pos + df_neg + 2)").as("w"))
      val prior = labels.agg(
        expr("(10000 * (sum(quality_pass) + 1)) div (count(1) + 2)").as("w"))
        .select(lit("").as("term"), col("w"))
      weights.unionByName(prior)
        .write.mode("overwrite").parquet(t)
    }

  /** Score an arbitrary documents frame under a TRAINED weight table
    * (the [[loadOrBuildQualityWeights]] schema) — the apply half,
    * shared by the registered batch query and the streaming door.
    * Terms outside the trained vocabulary contribute nothing (the
    * inner join drops them — a frozen classifier has no opinion on
    * unseen words); a document with no trained term scores the
    * prior's complement of evidence: 0 with model_pass 0.
    */
  def qualityScoreOf(documents: DataFrame, weightTable: DataFrame): DataFrame = {
    val weights = weightTable.where(col("term") =!= "")
    val prior = weightTable.where(col("term") === "")
      .select(col("w").as("prior_bp"))
    // the reserved ""-term prior row is load-bearing: the crossJoin
    // below multiplies by its cardinality, so a malformed weight
    // table (hand-built, or a legacy artifact without the prior)
    // would silently empty — or duplicate — every document's score.
    // Fail loudly instead (round-10 ADVICE). One count() on a
    // metadata-sized frame, paid once per apply call.
    require(prior.count() == 1L,
      "weight table must carry exactly one reserved ''-term prior row")
    val occ = documents
      .select(col("doc_id"),
        explode(split(Tokenize.clean(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
    val scored = occ.join(broadcast(weights), Seq("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("w").as("sw"))
      .withColumn("score_bp", expr("sw div n_terms"))
    // ONE row per document identity: a re-crawled duplicate doc_id
    // scores once over the union of its rows' occurrences — without
    // the distinct, each input row re-emits the per-id aggregate
    // (round-13 degenerate hash gate)
    documents.select("doc_id").distinct()
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(prior))
      .select(col("doc_id"),
        coalesce(col("n_terms"), lit(0L)).cast("long").as("n_terms"),
        coalesce(col("score_bp"), lit(0L)).cast("long").as("score_bp"),
        col("prior_bp").cast("long").as("prior_bp"),
        when(coalesce(col("score_bp"), lit(0L)) >= col("prior_bp"), 1L)
          .otherwise(0L).as("model_pass"))
  }

  def qualityModel(spark: SparkSession, dir: String): DataFrame =
    qualityScoreOf(docs(spark, dir),
      loadOrBuildQualityWeights(spark, dir))
      // heuristic label per IDENTITY: min = every crawl row of the id
      // must pass (conservative fold; one row per doc_id keeps the
      // equi-join blowup-free on duplicate ids)
      .join(qualityFlags(spark, dir)
          .groupBy("doc_id")
          .agg(min(col("quality_pass")).as("heuristic_pass")),
        Seq("doc_id"))
      .orderBy("doc_id")

  /** Function-word language-ID heuristic: predict `en` when the
    * function-word ratio clears `minSwBp` basis points, else `und`.
    * (The 1-gram degenerate of character-n-gram profile scoring; the
    * synthetic corpus draws every lang label from one shared English
    * vocabulary, so agreement with the label measures the data's
    * separability, not the operator — `is_match` is emitted to make
    * that auditable.)
    */
  def langId(spark: SparkSession, dir: String, minSwBp: Int = 400): DataFrame =
    stats(spark, dir)
      .join(docs(spark, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("sw_bp"),
        when(col("sw_bp") >= minSwBp, "en").otherwise("und").as("predicted"),
        col("lang"),
        when((when(col("sw_bp") >= minSwBp, "en").otherwise("und")) === col("lang"), 1L)
          .otherwise(0L).as("is_match"))
      .orderBy("doc_id")

  /** Per-(lang, source) corpus profile: doc count, token/char sums,
    * quality-pass count, mean tokens per doc in integer basis
    * (floor(sum * 100 / n) = centi-tokens).
    */
  def sourceProfile(spark: SparkSession, dir: String): DataFrame = {
    val s = stats(spark, dir).join(
      qualityFlags(spark, dir).select("doc_id", "quality_pass"), Seq("doc_id"))
      .join(docs(spark, dir).select("doc_id", "lang", "source"), Seq("doc_id"))
    s.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_ws_tokens").cast("long").as("sum_tokens"),
        sum("n_chars").cast("long").as("sum_chars"),
        sum("quality_pass").cast("long").as("n_quality"),
        expr("cast((sum(n_ws_tokens) * 100) div count(1) as bigint)").as("mean_tokens_c"))
      .orderBy("lang", "source")
  }

  /** Top `k` cleaned terms per language by document frequency
    * (distinct docs containing the term), deterministic
    * (df desc, term asc) tie-break. One explode + one (lang, term)
    * aggregation shuffle; the per-lang top-k window ranks only the
    * aggregated term counts, not the raw postings.
    */
  def topTerms(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    // per-doc distinct via array_distinct: identical rows to a global
    // post-explode .distinct() (doc_id is in the key), no shuffle.
    val terms = docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(split(Tokenize.clean(col("text")), " "))).as("term"))
      .where(col("term") =!= "")
      // df = distinct DOCUMENTS containing the term: a re-crawled
      // duplicate doc_id counts once (round-13 degenerate hash gate)
      .dropDuplicates("doc_id", "lang", "term")
    val dfCounts = terms.groupBy("lang", "term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("lang").orderBy(col("df").desc, col("term").asc)
    dfCounts.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("lang"), col("rank").cast("long").as("rank"), col("term"), col("df"))
      .orderBy("lang", "rank")
  }

  /** TF-IDF-style top-`k` characteristic terms per document, in
    * exact integer arithmetic (oracle parity needs no floats, and a
    * libm `ln` would not be bit-identical across engines anyway):
    * `score = tf * ((N * 1000) div df)` — term frequency times a
    * milli-scaled inverse document frequency. Monotone in tf/df the
    * same way tf*ln(N/df) is for ranking within a document.
    *
    * Shuffle audit: one (doc, term) tf aggregation, one term df
    * aggregation over the (already aggregated) tf rows, broadcast of
    * the df side back onto tf, one per-doc ranking window — the df
    * table is |vocabulary|-sized (bounded, zipfian), never
    * |corpus|-sized, so the broadcast holds at scale; N arrives as a
    * broadcast 1-row aggregate, not a collected constant.
    */
  /** Per-(doc, term) occurrence counts over the cleaned token stream,
    * session-persisted (round-18): the plain-count twin of the
    * durable positional index, at the [[graft.sources.IndexBuilder
    * .cached]] altitude (the engine already session-persists the
    * full inverted index; this is the documents-table analog, one
    * row per distinct (doc, term)). Consumed by BOTH derived ranking
    * queries — [[tfidfTop]]'s tf feeds its plan twice (the df
    * aggregation and the scored probe re-ran the scan + tokenize +
    * aggregation per branch, per invocation) and [[bm25TopK]]'s
    * query-term tf is exactly this frame semi-joined to the query's
    * terms (count-then-filter = filter-then-count on an equi-key).
    */
  private def termCounts(spark: SparkSession, dir: String): DataFrame =
    DfCache.getOrPersist(spark, s"doc_tf:$dir") {
      // doc_id-clustered (round-18, the IndexBuilder.cached (t,r)
      // arrangement applied to the documents analog): the spread
      // repartition doubles as the aggregation's exchange —
      // hash(doc_id) satisfies the (doc_id, term) clustering — and
      // the persisted relation REPORTS hash(doc_id), so every
      // doc-grain consumer ([[tfidfTop]]'s ranking window) reuses it
      // exchange-free. Also spreads the tokenize passes across cores
      // before any aggregation (the statsUncached rationale).
      docs(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          explode(split(Tokenize.clean(col("text")), " ")).as("term"))
        .where(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    }

  def tfidfTop(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tf = termCounts(spark, dir)
    // the vocabulary df table is a query-independent corpus statistic
    // (round-18): without its own persist each invocation re-ran the
    // full-vocabulary aggregation over tf before broadcasting the
    // same |vocabulary|-sized frame. Same altitude as [[termCounts]].
    val dfc = DfCache.getOrPersist(spark, s"doc_df:$dir") {
      termCounts(spark, dir).groupBy("term").agg(count(lit(1)).as("df"))
    }
    val total = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(dfc), Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("score", col("tf") * expr("(n_docs * 1000) div df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** BM25 ranked retrieval (Okapi k1=1.2, b=0.75) of the top `k`
    * documents for a query, in EXACT bigint arithmetic — the engine's
    * standard posture (a libm `ln` is not bit-identical across
    * engines, and float summation is order-dependent under a shuffle,
    * so both are rationalized away):
    *
    *  - idf is the log-free rational inside BM25's log,
    *    `(N - df + 0.5) / (df + 0.5)`, scaled by 2 to
    *    `(2N - 2df + 1) / (2df + 1)` — exactly monotone in df the way
    *    the log form is (log is monotone), which is all ranking uses;
    *  - the tf saturation `tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`
    *    multiplies through by `10·avgdl` into integers:
    *    `22·tf·avgdl / (10·tf·avgdl + 3·avgdl + 9·dl)` with
    *    `avgdl = Ltot div N` floored once (deterministic in both
    *    engines);
    *  - each per-term score is floored to basis points BEFORE the
    *    per-doc sum, so the sum is an exact bigint in any order.
    *
    * The query is the first `qTerms` cleaned tokens of the minimum-
    * doc_id document (query-by-example — deterministic and
    * oracle-expressible; any term list plugs into the same core). `N`,
    * `Ltot` count documents with ≥1 cleaned token, the frame the tf
    * explode can ever see.
    *
    * Shuffle audit: tf is keyed (doc, term) AFTER a broadcast
    * semi-filter to query terms (the probe prunes ~the whole corpus
    * before the aggregation); df reduces the tf frame (query-term-
    * sized); dl reuses the persisted [[stats]]; totals arrive as a
    * broadcast 1-row aggregate; final ranking is a global
    * top-k sort-limit on the query-term-matched docs only (TakeOrdered,
    * not a full sort).
    */
  def bm25TopK(spark: SparkSession, dir: String,
      k: Int = 20, qTerms: Int = 8): DataFrame = {
    // corpus path: tf = the session-persisted [[termCounts]] frame
    // narrowed to the query's terms (round-18) — identical rows to
    // the filter-then-aggregate derivation (count-then-filter =
    // filter-then-count on an equi-key), without re-tokenizing the
    // corpus per invocation (twice: the df aggregation branch re-ran
    // the whole toks lineage). The fixture seam [[bm25TopKOf]] keeps
    // the filter-first inline derivation — the right shape when
    // nothing is persisted.
    // the query-by-example term frame (≤ qTerms rows) re-scanned the
    // corpus for its minimum-doc_id row per invocation; persisted per
    // (session, corpus, qTerms) it costs one limit-1 scan per session
    // (round-18).
    val qterms = DfCache.getOrPersist(spark, s"bm25_qterms:$dir:$qTerms")(
      bm25QueryTerms(docs(spark, dir), qTerms))
    val tf = termCounts(spark, dir).join(broadcast(qterms), Seq("term"))
      .select("doc_id", "term", "tf")
    bm25Rank(tf, identityDocLengths(spark, dir), k)
  }

  /** THE BM25 document-length contract (round-14, verdict #7 —
    * unifying what round 13 documented as an artifact-vs-live
    * divergence): document length is keyed by document IDENTITY —
    * `sum(n_clean_tokens) GROUP BY doc_id` — on EVERY scoring path,
    * because an index merges a re-crawled duplicate id's postings
    * into one document (the [[loadOrBuildDocLengths]] artifact is
    * `groupBy(doc_id)` over the positional postings by construction,
    * and tf is `groupBy(doc_id, term)` on BOTH the derived and
    * indexed paths — an identity-level tf scored against a per-ROW
    * dl was the live path's inconsistency, visible only on corpora
    * with duplicate ids). One row per identity with >= 1 cleaned
    * token, exactly the frame the artifact serves; identical to the
    * per-row form on duplicate-free corpora.
    */
  private def identityDocLengths(spark: SparkSession, dir: String): DataFrame =
    // query-independent corpus statistic consumed by every live BM25
    // scoring path ([[bm25TopK]], [[bm25ScoresForTerms]]) — persisted
    // per (session, corpus) the identity aggregation over the stats
    // frame runs once, not per invocation (round-18).
    DfCache.getOrPersist(spark, s"doc_dl:$dir") {
      stats(spark, dir).groupBy("doc_id")
        .agg(sum("n_clean_tokens").cast("long").as("dl"))
        .where(col("dl") > 0)
    }

  /** [[bm25TopK]] over an arbitrary documents frame (fixture seam —
    * computes doc lengths inline instead of the persisted stats;
    * same identity-keyed contract as [[identityDocLengths]]).
    */
  def bm25TopKOf(documents: DataFrame, k: Int = 20, qTerms: Int = 8): DataFrame =
    bm25Core(documents,
      documents.select(col("doc_id"),
          when(Tokenize.clean(col("text")) === "", 0L)
            .otherwise(size(split(Tokenize.clean(col("text")), " ")))
            .cast("long").as("row_dl"))
        .groupBy("doc_id").agg(sum("row_dl").cast("long").as("dl"))
        .where(col("dl") > 0),
      k, qTerms)

  /** The exact-bigint BM25 per-(doc, term) contribution (k1 = 1.2,
    * b = 0.75 held as integer ratios; rationale at [[bm25TopK]]).
    * ONE definition shared by every scoring path — derived and
    * indexed, single/batch/request — so a tuning of the formula can
    * never silently fork the "identical scores to the derived form"
    * guarantee the oracles and the derived↔indexed twins depend on
    * (round-9 review: the string existed in five places).
    */
  private val Bm25ScoreSql =
    "cast((10000 * (2 * n_docs - 2 * df + 1) * (22 * tf * avgdl)) div " +
      "((2 * df + 1) * (10 * tf * avgdl + 3 * avgdl + 9 * dl)) as bigint)"

  /** The query-by-example term frame: the first `qTerms` cleaned
    * tokens of the minimum-doc_id document.
    */
  private def bm25QueryTerms(documents: DataFrame, qTerms: Int): DataFrame =
    documents.orderBy("doc_id").limit(1)
      .select(explode(slice(split(Tokenize.clean(col("text")), " "), 1, qTerms))
        .as("term"))
      .where(col("term") =!= "").distinct()

  private def bm25Core(documents: DataFrame, dl: DataFrame,
      k: Int, qTerms: Int): DataFrame = {
    val toks = documents
      .select(col("doc_id"),
        explode(split(Tokenize.clean(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
    val qterms = bm25QueryTerms(documents, qTerms)
    val tf = toks.join(broadcast(qterms), Seq("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    bm25Rank(tf, dl, k)
  }

  /** The scoring tail shared by the derived paths: df over the
    * query-term tf rows, totals from the dl frame, exact-bigint BM25
    * per-term scores summed per doc, global top-k.
    */
  private def bm25Rank(tf: DataFrame, dl: DataFrame, k: Int): DataFrame = {
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("l_tot"))
      .withColumn("avgdl", expr("l_tot div n_docs"))
    tf.join(broadcast(dfc), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("score_t", expr(Bm25ScoreSql))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("score_t").as("score"))
      .select(col("doc_id"), col("n_terms"), col("score").cast("long").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Positional postings `(doc_id, pos, term)` — the index-schema
    * extension phrase/proximity retrieval needs (the bag-of-words
    * postings BM25 consumes carry no order). One scan, one
    * posexplode; pos is the 1-based cleaned-token position. At 100 TB
    * this triples posting width but keeps the build one pass, and the
    * snapshot layout/clustering story is unchanged (key-clustered,
    * pos rides along as payload).
    */
  def positionalPostings(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        posexplode(split(Tokenize.clean(col("text")), " ")).as(Seq("p0", "term")))
      .where(col("term") =!= "")
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("term"))

  /** Exact-phrase retrieval over positional postings, rarest-term
    * anchored — the anchored-conjunction idea ([[JoinSearch
    * .conjunctionAnchored]]) applied to phrases:
    *
    *  - the phrase (query-by-example, [[bm25TopK]]'s convention: the
    *    first `n` cleaned tokens of the minimum-doc_id document)
    *    probes the postings with a broadcast semi-join, so the
    *    corpus-sized lineage narrows to phrase-term postings before
    *    anything shuffles;
    *  - each candidate document's matched (pos -> term) entries
    *    aggregate ONCE on doc_id — the only corpus-side shuffle;
    *  - candidate start positions come from the RAREST phrase term's
    *    postings (fewest candidates — a phrase containing 'the'
    *    must not enumerate every 'the' in the corpus when its rare
    *    term has 3 occurrences), chosen by posting count with a
    *    deterministic (df, offset) tie-break;
    *  - adjacency verifies row-locally: start s matches iff the
    *    doc's position map holds phrase term j at s + j for every j.
    *
    * Output: `(doc_id, n_hits)` for docs containing the phrase at
    * least once, ranked (hits desc, doc_id asc), top `k`.
    */
  def phraseTopKOf(documents: DataFrame, n: Int = 3, k: Int = 20): DataFrame = {
    val phrase = phraseOf(documents, n)
    val probed = positionalPostings(documents).join(
      broadcast(phrase.select(col("pterm").as("term")).distinct()),
      Seq("term"), "left_semi")
    phraseCore(probed, phrase, k)
  }

  /** The query-by-example phrase with 0-based offsets `(j, pterm)`:
    * the first `n` cleaned tokens of the minimum-doc_id document.
    */
  private def phraseOf(documents: DataFrame, n: Int): DataFrame =
    documents.orderBy("doc_id").limit(1)
      .select(posexplode(slice(split(Tokenize.clean(col("text")), " "), 1, n))
        .as(Seq("j", "pterm")))
      .where(col("pterm") =!= "")

  /** The phrase pipeline below the probe, shared by the derived and
    * indexed entry points: `probed` must hold exactly the phrase
    * terms' positional postings.
    */
  private def phraseCore(probed: DataFrame, phrase: DataFrame,
      k: Int): DataFrame = {
    // phrase-term posting counts -> the anchor (rarest, then lowest
    // offset). Phrase-sized frames throughout; one aggregated row.
    // LEFT join + tdf 0 for phrase terms with NO postings: the
    // absent term must stay in the verification array (dropping it
    // would over-match the remaining terms) and, with the smallest
    // possible df, it becomes the anchor — zero candidate starts,
    // correctly empty output, at zero cost.
    val pdf = probed.groupBy("term").agg(count(lit(1)).as("tdf"))
    val anchorRow = phrase
      .join(broadcast(pdf), col("pterm") === col("term"), "left")
      .withColumn("tdf", coalesce(col("tdf"), lit(0L)))
      .agg(
        expr("transform(array_sort(collect_list(struct(j, pterm))), s -> s.pterm)")
          .as("parr"),
        expr("min_by(struct(pterm, j), struct(tdf, j))").as("a"))
      .select(col("parr"), col("a.pterm").as("anchor_term"),
        col("a.j").cast("long").as("anchor_j"))
    // per candidate doc: position map + entry list, ONE shuffle.
    val docMaps = probed
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("pos"), col("term"))))
        .as("pmap"),
        collect_list(struct(col("pos"), col("term"))).as("plist"))
    val hits = docMaps
      .select(col("doc_id"), col("pmap"), explode(col("plist")).as("pt"))
      .crossJoin(broadcast(anchorRow))
      .where(col("pt.term") === col("anchor_term"))
      .withColumn("start", col("pt.pos") - col("anchor_j"))
      .where(col("start") >= 1)
      .where(expr("forall(sequence(0, size(parr) - 1), j -> " +
        "coalesce(try_element_at(pmap, start + j), '') = " +
        "element_at(parr, cast(j + 1 as int)))"))
    hits.groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy(col("n_hits").desc, col("doc_id").asc)
      .limit(k)
  }

  /** [[phraseTopKOf]] over the corpus `documents` table. */
  def phraseTopK(spark: SparkSession, dir: String,
      n: Int = 3, k: Int = 20): DataFrame =
    phraseTopKOf(docs(spark, dir), n, k)

  /** The positional index's durable location, beside the search
    * snapshot (shares its semantic fingerprint).
    */
  def positionalIndexPath(dir: String): String =
    graft.sources.IndexBuilder.snapshotPath(dir) + "-positional"

  /** The DURABLE positional index: [[positionalPostings]] written
    * once, term-clustered, content-fingerprint-gated on the documents
    * source ([[graft.sources.Artifacts]]). At 100 TB re-tokenizing
    * the corpus per phrase query is the dominant cost the derived
    * path pays; this artifact pays it once per crawl and serves every
    * query after — and term clustering co-locates each term's
    * postings so a literal term probe touches few row groups.
    */
  def loadOrBuildPositionalIndex(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Artifacts.loadOrBuild(spark, positionalIndexPath(dir),
      Seq(s"$dir/documents.parquet"), semKey) { t =>
      positionalPostings(docs(spark, dir))
        .repartition(col("term"))
        .write.mode("overwrite").parquet(t)
    }

  /** The conventional delta location beside the durable positional
    * index — where [[graft.streaming.TextStream.maintainPositional]]
    * lands per-batch term-clustered positional postings of newly
    * arrived documents.
    */
  def positionalDeltaDir(dir: String): String =
    positionalIndexPath(dir) + "-deltas"

  /** The LIVE positional index: the durable artifact plus all
    * accumulated streaming deltas — the [[graft.streaming
    * .IndexStream.loadWithDeltas]] arrangement for phrase retrieval.
    * This is what phrase/proximity serving MUST read over a live
    * corpus (round-8 verdict #3): postings are per-document-local,
    * so base ∪ deltas IS the index of the grown corpus — but the
    * one-sidedness is a CORRECTNESS obligation, not a cost one: a
    * phrase whose only occurrences arrived via deltas is invisible
    * to the stale base until the batch lands, and the fingerprint
    * gate cannot see rows that never touched the documents source
    * (`PositionalDeltaSpec` pins the failure and the fix). Missing/
    * empty delta dir degrades to the base artifact alone — the
    * registered indexed queries serve through THIS view, so a
    * deployment that starts streaming gets fresh phrase results
    * without re-registering anything.
    */
  def positionalIndexWithDeltas(spark: SparkSession, dir: String,
      deltaDir: String): DataFrame = {
    val base = loadOrBuildPositionalIndex(spark, dir)
    val batches = graft.streaming.IndexStream.deltaBatches(spark, deltaDir)
    if (batches.nonEmpty) base.unionByName(spark.read.parquet(batches: _*))
    else base
  }

  /** Fold base + accumulated deltas into one fresh term-clustered
    * positional index at `targetPath` (a NEW path — the
    * [[graft.streaming.IndexStream.compact]] zero-downtime contract:
    * readers keep serving base+deltas until the caller swaps the
    * compacted index in and clears the delta dir).
    *
    * Delta-dir invariant: the delta dir covers exactly the documents
    * NOT YET in the documents source. Compact (and clear the deltas)
    * when the corpus parquet lands those documents — the content
    * fingerprint then rebuilds the positional index and the
    * doc-length companion together, so nothing is double-counted and
    * nothing goes dark: clearing deltas BEFORE the corpus lands them
    * would lose their postings and lengths; landing the corpus
    * without clearing would serve each document's postings twice.
    */
  def compactPositionalIndex(spark: SparkSession, dir: String,
      deltaDir: String, targetPath: String): String = {
    positionalIndexWithDeltas(spark, dir, deltaDir)
      .repartition(col("term"))
      .write.mode("overwrite").parquet(targetPath)
    targetPath
  }

  /** IN-DIR positional-delta consolidation (round-10 — the
    * [[graft.streaming.DeltaLog.compactLive]] protocol with the
    * index's own term clustering): folds accumulated `batch=<id>`
    * parts into one `compacted=<id>` part WITHOUT touching the base
    * artifact or the documents source — the lighter maintenance
    * between full [[compactPositionalIndex]] rebuilds, bounding the
    * per-query part count for a long-running ingest exactly as the
    * vector family's compactor does. Postings are append-only rows
    * (no dedupe key needed — the manifest's atomic swap means no
    * window can double-list a part), and term clustering in the
    * consolidation preserves the literal-pushdown probe's row-group
    * locality. Serving picks the consolidation up through the
    * all-parts live view ([[positionalIndexWithDeltas]] /
    * [[docLengthsWithDeltas]]).
    */
  def compactPositionalDeltas(spark: SparkSession, dir: String,
      deltaDir: String = null): Int =
    graft.streaming.DeltaLog.compactLive(spark,
      Option(deltaDir).getOrElse(positionalDeltaDir(dir))) {
      _.repartition(col("term"))
    }

  /** [[phraseTopK]] served from the durable index with a LITERAL
    * pushdown probe: the phrase's terms (metadata-sized — at most
    * `n` strings, the [[JoinSearch.prunedTableIds]] altitude) become
    * an `In(term, ...)` predicate that reaches the parquet scan
    * (PushedFilters — spec-asserted; the filter pushes into BOTH
    * union sides when deltas exist), so the probe reads the phrase
    * terms' row groups instead of scanning the corpus. Row-identical
    * to [[phraseTopK]] (shared oracle + cross-check spec). Serves
    * the LIVE view ([[positionalIndexWithDeltas]]) — with no deltas
    * accumulated it degrades to the base artifact alone.
    */
  def phraseTopKIndexed(spark: SparkSession, dir: String,
      n: Int = 3, k: Int = 20, deltaDir: String = null): DataFrame = {
    val dd = Option(deltaDir).getOrElse(positionalDeltaDir(dir))
    val phrase = phraseOf(docs(spark, dir), n)
    val terms = phrase.select("pterm").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val probed = positionalIndexWithDeltas(spark, dir, dd)
      .where(col("term").isin(terms: _*))
    phraseCore(probed, phrase, k)
  }

  /** Batched multi-phrase retrieval: N phrase requests answered in
    * ONE pass over the positional index. The union of every request's
    * terms drives a single literal-pushdown probe, the per-doc
    * position map aggregates ONCE (the only corpus-side shuffle,
    * shared by every request — extra terms in a doc's map cannot
    * corrupt another request's verification, which checks exact
    * values at exact offsets), and each request anchors on its own
    * rarest term. A request containing a term with NO postings
    * anchors on it and returns empty, exactly like the single form.
    *
    * `phrases` are CLEANED token lists (the caller tokenizes with
    * [[graft.functions.Tokenize]] — the streaming service does);
    * output `(req_id, doc_id, n_hits)` ranked per request, top `k`
    * each.
    */
  def phraseTopKBatch(spark: SparkSession, dir: String,
      phrases: Seq[(String, Seq[String])], k: Int = 20): DataFrame = {
    import spark.implicits._
    require(phrases.nonEmpty, "phrase batch needs at least one request")
    require(phrases.map(_._1).distinct.size == phrases.size,
      s"duplicate req_ids: ${phrases.map(_._1).mkString(", ")}")
    val allTerms = phrases.flatMap(_._2).distinct.sorted
    // the batched service reads the LIVE view too — a serving
    // endpoint is exactly the consumer fresh deltas must reach.
    val probed = positionalIndexWithDeltas(spark, dir,
        positionalDeltaDir(dir))
      .where(col("term").isin(allTerms: _*))
    val phrase = phrases
      .flatMap { case (id, ts) => ts.zipWithIndex.map { case (t, j) => (id, j, t) } }
      .toDF("req_id", "j", "pterm")
    val pdf = probed.groupBy("term").agg(count(lit(1)).as("tdf"))
    val anchors = phrase
      .join(broadcast(pdf), col("pterm") === col("term"), "left")
      .withColumn("tdf", coalesce(col("tdf"), lit(0L)))
      .groupBy("req_id")
      .agg(
        expr("transform(array_sort(collect_list(struct(j, pterm))), s -> s.pterm)")
          .as("parr"),
        expr("min_by(struct(pterm, j), struct(tdf, j))").as("a"))
      .select(col("req_id"), col("parr"), col("a.pterm").as("anchor_term"),
        col("a.j").cast("long").as("anchor_j"))
    val docMaps = probed
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("pos"), col("term"))))
        .as("pmap"),
        collect_list(struct(col("pos"), col("term"))).as("plist"))
    val hits = docMaps
      .select(col("doc_id"), col("pmap"), explode(col("plist")).as("pt"))
      .join(broadcast(anchors), col("pt.term") === col("anchor_term"))
      .withColumn("start", col("pt.pos") - col("anchor_j"))
      .where(col("start") >= 1)
      .where(expr("forall(sequence(0, size(parr) - 1), j -> " +
        "coalesce(try_element_at(pmap, start + j), '') = " +
        "element_at(parr, cast(j + 1 as int)))"))
      .groupBy("req_id", "doc_id").agg(count(lit(1)).as("n_hits"))
    val w = Window.partitionBy("req_id")
      .orderBy(col("n_hits").desc, col("doc_id").asc)
    hits.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k).drop("rn")
      .orderBy(col("req_id"), col("n_hits").desc, col("doc_id").asc)
  }

  /** Proximity (NEAR) retrieval — the relaxation between bag-of-words
    * BM25 and the exact phrase: documents where both query terms
    * occur within `window` token positions, ranked by closeness.
    * Query-by-example: the first two DISTINCT cleaned tokens of the
    * minimum-doc_id document.
    *
    * Same physical shape as [[phraseTopKOf]]: broadcast term probe
    * narrows the positional postings to the two terms' occurrences,
    * ONE doc-keyed aggregation collects each side's sorted position
    * list, and the distance work is row-local array arithmetic
    * (O(n0·n1) per doc over PROBED occurrences only — bounded by the
    * document, never the corpus). Output `(doc_id, min_dist,
    * n_within)` ranked (closest first, then densest, then doc_id),
    * top `k`.
    */
  def proximityTopKOf(documents: DataFrame, window: Int = 5,
      k: Int = 20): DataFrame = {
    val pair = pairOf(documents)
    val probed = positionalPostings(documents).join(
      broadcast(pair.select(explode(array(col("t0"), col("t1"))).as("term"))),
      Seq("term"), "left_semi")
    proximityCore(probed, pair, window, k)
  }

  /** The query-by-example term pair `(t0, t1)`: the first two
    * DISTINCT cleaned tokens of the minimum-doc_id document (one row,
    * or zero when that document has fewer than two).
    */
  private def pairOf(documents: DataFrame): DataFrame =
    documents.orderBy("doc_id").limit(1)
      .select(slice(array_distinct(
        filter(split(Tokenize.clean(col("text")), " "), _ =!= "")), 1, 2).as("ts"))
      .where(size(col("ts")) === 2)
      .select(element_at(col("ts"), 1).as("t0"),
        element_at(col("ts"), 2).as("t1"))

  /** The proximity pipeline below the probe, shared by the derived
    * and indexed entry points.
    */
  private def proximityCore(probed: DataFrame, pair: DataFrame,
      window: Int, k: Int): DataFrame = {
    probed.crossJoin(broadcast(pair))
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(when(col("term") === col("t0"), col("pos"))))
          .as("pa"),
        sort_array(collect_list(when(col("term") === col("t1"), col("pos"))))
          .as("pb"))
      .where(size(col("pa")) > 0 && size(col("pb")) > 0)
      .withColumn("dists",
        expr("flatten(transform(pa, a -> transform(pb, b -> abs(a - b))))"))
      .select(col("doc_id"),
        expr("array_min(dists)").cast("long").as("min_dist"),
        expr(s"size(filter(dists, d -> d <= $window))").cast("long").as("n_within"))
      .where(col("min_dist") <= window)
      .orderBy(col("min_dist").asc, col("n_within").desc, col("doc_id").asc)
      .limit(k)
  }

  /** [[proximityTopKOf]] over the corpus `documents` table. */
  def proximityTopK(spark: SparkSession, dir: String,
      window: Int = 5, k: Int = 20): DataFrame =
    proximityTopKOf(docs(spark, dir), window, k)

  /** [[proximityTopK]] served from the durable positional index with
    * the literal pushdown probe ([[phraseTopKIndexed]]'s contract:
    * the two terms are metadata-sized, so the collect is routing, not
    * data movement). Row-identical to the derived form.
    */
  def proximityTopKIndexed(spark: SparkSession, dir: String,
      window: Int = 5, k: Int = 20, deltaDir: String = null): DataFrame = {
    val dd = Option(deltaDir).getOrElse(positionalDeltaDir(dir))
    val pair = pairOf(docs(spark, dir))
    val terms = pair
      .select(explode(array(col("t0"), col("t1"))).as("term")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val probed = positionalIndexWithDeltas(spark, dir, dd)
      .where(col("term").isin(terms: _*))
    proximityCore(probed, pair, window, k)
  }

  /** Email pattern for PII scrubbing — explicit ASCII classes only,
    * so Java and RE2 compile the identical automaton (the
    * html-extract cross-engine discipline; `\w`/`\d` flavors and
    * word boundaries are avoided on purpose).
    */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"

  /** IPv4 pattern — same explicit-class discipline. */
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII scrubbing — the redaction rung every published web-corpus
    * pipeline runs before training (emails and IP addresses to
    * placeholder tokens, the CCNet/RefinedWeb rule at regex tier).
    * Row-local codegen'd regexp work, no UDF, no shuffle; emails
    * redact FIRST so an address's host part can never half-match the
    * IP rule afterwards. Spark's regexp_replace is global by
    * default; the DuckDB oracle passes the 'g' flag — one of the two
    * engine-default divergences this operator must pin (the other is
    * the regex flavor, handled by the explicit classes above).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, lit(EmailRe), lit("<EMAIL>")),
      lit(Ipv4Re), lit("<IP>"))

  /** Registered demonstration over deterministically PLANTED PII
    * (the `text_html_extract` convention — the synthetic corpus
    * carries no organic emails/IPs): every mod-3=0 document gains a
    * doc-id-derived email, every mod-3=1 an IP, mod-3=2 stays
    * clean. Output: per-doc match counts, redacted-text hash and
    * length — the oracle re-runs the identical patterns in RE2.
    */
  def redactPiiOf(documents: DataFrame): DataFrame = {
    val planted = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now")))
        .when(col("doc_id") % 3 === 1,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0.99 logged")))
        .otherwise(lit("")))
    documents
      .select(col("doc_id"), planted.as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(Ipv4Re), lit(0)))
          .cast("long").as("n_ips"),
        redactPii(col("t")).as("red"))
      .select(col("doc_id"), col("n_emails"), col("n_ips"),
        md5(col("red").cast("binary")).as("redacted_md5"),
        length(col("red")).cast("long").as("n_chars_redacted"))
      .orderBy("doc_id")
  }

  /** [[redactPiiOf]] over the corpus `documents` table. */
  def redactPiiDemo(spark: SparkSession, dir: String): DataFrame =
    redactPiiOf(docs(spark, dir))

  /** Gopher-style repetition signals (the published web-corpus
    * repetition filters: fraction of the document made of its most
    * frequent n-gram, and of all duplicated n-grams) over cleaned
    * whitespace tokens, n in {2, 3}, exact-integer basis points.
    * A high `top_bp` marks boilerplate (one phrase dominating); a
    * high `dup_bp` marks template/spam text — both standard
    * pre-training drop rules. Output: one row per (doc, n) with
    * total/top/duplicated gram occurrence counts and their bp
    * fractions; docs with fewer than n tokens have no n-grams and
    * emit no row for that n, as in the oracle.
    *
    * Scale posture: grams derive per row (transform over the token
    * array — no self-join, no window over positions), then ONE
    * (doc, n, gram) aggregation shuffle with map-side partials and a
    * second tiny (doc, n) rollup; memory per group is O(1). The
    * gram domain never materializes globally — corpus-wide gram
    * stats are [[topTerms]]' shape, deliberately not this one.
    */
  def repetitionOf(documents: DataFrame): DataFrame = {
    // guard-free total form (the winnowOf/shinglesOf pattern): the
    // CASE-guarded gramsSql yields array() below k tokens, so the
    // explode emits nothing for short docs — a `.where` would only
    // duplicate split(clean(text)) into a pushed-down filter.
    val base = documents
      .select(col("doc_id"), split(Tokenize.clean(col("text")), " ").as("t"))
    def grams(k: Int) = base
      .select(col("doc_id"), lit(k.toLong).as("n"),
        explode(expr(Tokenize.gramsSql("t", k))).as("gram"))
    grams(2).unionByName(grams(3))
      .groupBy("doc_id", "n", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id", "n")
      .agg(sum("cnt").cast("long").as("n_grams"),
        max("cnt").cast("long").as("top_cnt"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L))
          .cast("long").as("dup_occ"))
      .select(col("doc_id"), col("n"), col("n_grams"), col("top_cnt"), col("dup_occ"),
        expr("cast((top_cnt * 10000) div greatest(n_grams, 1) as bigint)").as("top_bp"),
        expr("cast((dup_occ * 10000) div greatest(n_grams, 1) as bigint)").as("dup_bp"))
      .orderBy("doc_id", "n")
  }

  /** [[repetitionOf]] over the corpus `documents` table. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOf(docs(spark, dir))

  /** Corpus-bigram familiarity score per document — the exact-integer
    * analog of the CCNet/Gopher LM-perplexity quality filter: a
    * document whose word bigrams are RARE in the corpus-wide bigram
    * distribution is "surprising" (out-of-distribution, gibberish, or
    * genuinely novel); one whose bigrams are all corpus-common is
    * templated/boilerplate. The real filter scores with a pre-trained
    * KenLM; the engine-portable core is identical — per-token corpus
    * statistics joined back onto the token stream — and a trained LM
    * table plugs into the same join. Score: `mean_freq_c =
    * floor(100 * sum(tf * corpus_freq) / n_bigrams)` — the
    * tf-weighted mean corpus frequency of the document's bigrams in
    * centi-units (floats would make the sum shuffle-order-dependent).
    *
    * Shuffle audit: one (doc, gram) tf aggregation, one gram-keyed
    * frequency aggregation OVER the tf rows (per-doc-distinct, not
    * per-occurrence), one shuffle join of tf against the frequency
    * table, one doc-keyed rollup. The bigram vocabulary is zipfian
    * but a constant factor larger than the unigram one, so unlike
    * [[tfidfTop]]'s df table it is deliberately NOT broadcast — the
    * join shuffles both sides keyed on the gram, and AQE's skew
    * split handles the stopword-pair hot keys.
    */
  def bigramSurprise(spark: SparkSession, dir: String): DataFrame = {
    // tf session-persisted (round-18): the frame feeds BOTH sides of
    // the frequency join below — without the persist the corpus
    // bigram expansion + aggregation ran twice per invocation (the
    // freq subtree re-derived it; the gram-keyed exchange is not
    // reusable across the extra aggregation). Same altitude as the
    // [[termCounts]] / session-index persists: one (doc, gram)
    // count row per distinct pair, MEMORY_AND_DISK.
    val tf = DfCache.getOrPersist(spark, s"doc_bigram_tf:$dir") {
      // doc_id-clustered like [[termCounts]] (round-18): hash(doc_id)
      // is the aggregation's exchange AND the reported partitioning,
      // so the per-doc rollup below aggregates in place.
      docs(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), split(Tokenize.clean(col("text")), " ").as("t"))
        // guard-free total form — see winnowOf.
        .select(col("doc_id"),
          explode(expr(Tokenize.gramsSql("t", 2))).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
    }
    // the corpus gram-frequency table is the bigram analog of
    // [[tfidfTop]]'s vocabulary df persist (round-18): query-
    // independent, bigram-vocabulary-sized, re-aggregated per
    // invocation without it.
    val freq = DfCache.getOrPersist(spark, s"doc_bigram_freq:$dir")(
      tf.groupBy("g").agg(sum(col("tf")).as("freq")))
    tf.join(freq, Seq("g"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).cast("long").as("n_bigrams"),
        sum(col("tf") * col("freq")).cast("long").as("sum_freq"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("cast((100 * sum_freq) div n_bigrams as bigint)").as("mean_freq_c"))
      .orderBy("doc_id")
  }

  /** k-gram min-sampling fingerprint: the 4 lexicographically
    * smallest `md5(shingle)` hashes per document, joined with `|`.
    * The bag-level analog of winnowing's rolling-hash minimum — near
    * -identical documents share most shingle hashes, so their
    * fingerprints collide with high probability. Reuses the shingle
    * set persisted by the dedup family ([[Dedup.shingles]]); docs
    * with fewer than 3 words have no shingles and are absent, as in
    * the oracle.
    */
  def fingerprints(spark: SparkSession, dir: String, k: Int = 4): DataFrame =
    Dedup.shingles(spark, dir)
      .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))
      .groupBy("doc_id")
      .agg(concat_ws("|", slice(sort_array(collect_list(col("h"))), 1, k)).as("fp"))
      .orderBy("doc_id")

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm) — the standard document-overlap sketch between
    * whole-doc hashing and all-grams storage: per document, hash
    * every `k`-token gram, slide a `w`-gram window, and select each
    * window's MINIMUM hash (rightmost on ties — the paper's rule, so
    * selections repeat across overlapping windows and density stays
    * ~2/(w+1)). Guarantee: any shared token run of length ≥ w+k-1
    * yields a shared selected fingerprint — the bounded-density
    * complement to [[graft.operators.CorpusPrep.decontaminate]]'s
    * all-grams join (store ~2/(w+1) of the grams, keep a detection
    * floor). Everything is ROW-LOCAL array arithmetic over the doc's
    * own gram list (O(m·w²) per doc with bounded w — no shuffle, no
    * cross-row state), the shape that fingerprints 100 TB; gram
    * hashes are md5 hex strings so the min/tie rules are plain
    * lexicographic string order in both engines. Docs with fewer
    * than w grams contribute none (contract; the paper's density
    * argument needs a full window). Output: one row per selected
    * `(doc_id, pos, fp)`, pos = 1-based gram start.
    */
  def winnowFingerprints(spark: SparkSession, dir: String,
      k: Int = 4, w: Int = 5): DataFrame =
    winnowOf(docs(spark, dir), k, w).orderBy("doc_id", "pos")

  private[graft] def winnowOf(documents: DataFrame, k: Int, w: Int): DataFrame =
    documents
      // the stats spread ([[statsUncached]]): the O(m·w) md5/gram
      // arithmetic below is computed BEFORE any exchange, i.e. at the
      // scan's split count — one small parquet file means ONE core
      // does the whole corpus's hashing (round-11 verdict: the
      // slowest warm query for exactly this reason). The spread is
      // input-bounded (narrow doc rows) and deliberate; at 100 TB the
      // scan is already thousands of splits and this is a cheap
      // rebalance.
      .repartition(documents.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"),
        split(Tokenize.clean(col("text")), " ").as("t"))
      // NO guard filter, deliberately (the shinglesOf pattern): the
      // CASE-guarded total expressions below yield array() for every
      // short/empty/null cleaning, so a `.where` here would be
      // semantically redundant — and worse than redundant: predicate
      // pushdown substitutes the aliased split(clean(text)) into the
      // filter below this projection, cleaning every document TWICE
      // (measured ~2x on the clean stage corpus-wide).
      // TOTAL expressions — required, not defensive: the round-10
      // version guarded with a `.where` instead, and a non-outer
      // `explode(sel)` let Catalyst's InferFiltersFromGenerate copy
      // the ENTIRE inlined `sel` expression into a Filter below that
      // guard, where codegen subexpression elimination evaluated it
      // EAGERLY on rows the guard would have dropped (reproduced at
      // sf0.1: one 7-token doc -> 4 grams < w=5 -> sequence(1, 0)
      // flips DESCENDING -> element_at(g, 5) on a 4-element array ->
      // ANSI crash). [[Tokenize.windowedSql]] CASE-guards each
      // window so short inputs yield array() on ANY row — see the
      // totality convention on that helper.
      .withColumn("g", expr(Tokenize.windowedSql("t", k,
        s"i -> md5(cast(concat_ws(' ', slice(t, i, $k)) as binary))")))
      .withColumn("sel", expr(
        s"array_distinct(${Tokenize.windowedSql("g", w,
          s"j -> array_max(filter(sequence(j, j + $w - 1), " +
            s"i -> try_element_at(g, i) = array_min(slice(g, j, $w))))")})"))
      // explode_OUTER, deliberately: InferFiltersFromGenerate only
      // fires on non-outer generates, so no `size(sel) > 0` filter is
      // ever inferred — which matters twice over. (1) Crash class:
      // the inferred filter's pushdown is what copied `sel` below the
      // guard in round 10. (2) COST class: that pushdown substitutes
      // the full `sel` expression (whose window lambdas reference `g`
      // per element) into the filter, where every element access
      // re-evaluates the whole gram-hash array — O(m²·w) md5 calls
      // per row instead of O(m); measured as minutes-vs-subsecond at
      // sf0.1. With outer explode, `g` and `sel` stay attribute
      // references computed once per row, and the empty-sel rows the
      // inferred filter would have dropped surface as one null `pos`
      // row each, dropped by the cheap attribute filter below.
      .select(col("doc_id"), explode_outer(col("sel")).as("pos"), col("g"))
      .where(col("pos").isNotNull)
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        expr("try_element_at(g, cast(pos as int))").as("fp"))

  /** Cross-document overlap through the winnow sketch: pairs of
    * documents sharing at least `minShared` distinct selected
    * fingerprint HASHES, with the shared count — the
    * contamination/plagiarism surface the sketch exists for. The
    * pair generation is fingerprint-keyed (the LSH-banding shape:
    * join only within equal-fp buckets, never all pairs), so cost
    * follows shared-fingerprint mass; the synthetic corpus's planted
    * re-crawl duplicates surface with near-total overlap while
    * unrelated word-salad pairs share nothing. SERVED from the
    * durable sketch ([[loadOrBuildWinnowSketch]] — overlap IS a
    * sketch application): per query the corpus is never
    * re-fingerprinted, the artifact is distinct `(doc_id, fp)` by
    * construction (no dedupe shuffle), and the self-join's two sides
    * read one scan.
    */
  def winnowOverlap(spark: SparkSession, dir: String,
      k: Int = 4, w: Int = 5, minShared: Int = 3): DataFrame = {
    val fp = loadOrBuildWinnowSketch(spark, dir, k, w)
    val a = fp.select(col("doc_id").as("doc_a"), col("fp"))
    val b = fp.select(col("doc_id").as("doc_b"), col("fp"))
    a.join(b, Seq("fp"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** The winnow sketch's durable location, beside the search snapshot
    * (shares its semantic fingerprint); `k`/`w` are part of the path —
    * sketches at different parameters are different artifacts.
    */
  def winnowSketchPath(dir: String, k: Int = 4, w: Int = 5): String =
    graft.sources.IndexBuilder.snapshotPath(dir) + s"-winnow-$k-$w"

  /** The DURABLE winnow sketch: each corpus document's distinct
    * selected fingerprint hashes `(doc_id, fp)`, written once under
    * the content-fingerprint gate ([[graft.sources.Artifacts]]).
    * This is the artifact that makes contamination screening
    * incremental: at 100 TB, re-fingerprinting the corpus per crawl
    * batch is the dominant cost — the sketch pays it once per crawl
    * cycle and is ~2/(w+1) of the corpus' grams by the winnowing
    * density bound, so every later screen touches sketch-mass, never
    * corpus text.
    */
  def loadOrBuildWinnowSketch(spark: SparkSession, dir: String,
      k: Int = 4, w: Int = 5): DataFrame =
    graft.sources.Artifacts.loadOrBuild(spark, winnowSketchPath(dir, k, w),
      Seq(s"$dir/documents.parquet"), semKey) { t =>
      winnowOf(docs(spark, dir), k, w)
        .select("doc_id", "fp").distinct()
        .write.mode("overwrite").parquet(t)
    }

  /** Incremental crawl screening against an EXISTING corpus sketch:
    * fingerprint only `newDocs` (row-local winnow arithmetic over the
    * arriving batch), then one fp-keyed equi-join against
    * `corpusFps` — pairs sharing >= `minShared` distinct selected
    * hashes, the (new doc, corpus doc) contamination surface. The
    * join is deliberately HINT-FREE (the dedup drop-list
    * convention): a small crawl batch broadcasts naturally under
    * plan-time stats/AQE, a pathological corpus-sized one degrades
    * to a shuffled join, never an OOM. Self-pairs are excluded so a
    * corpus-resident probe slice screens cleanly (the registered
    * demo); real crawls carry fresh doc_ids and the guard is inert.
    */
  def winnowScreenOf(newDocs: DataFrame, corpusFps: DataFrame,
      k: Int = 4, w: Int = 5, minShared: Int = 3): DataFrame =
    winnowOf(newDocs, k, w)
      .select(col("doc_id").as("new_doc_id"), col("fp")).distinct()
      .join(corpusFps.select(col("doc_id").as("corpus_doc_id"), col("fp")),
        Seq("fp"))
      .where(col("corpus_doc_id") =!= col("new_doc_id"))
      .groupBy("new_doc_id", "corpus_doc_id")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("new_doc_id", "corpus_doc_id")

  /** The registered, oracle-gated screening demo: documents with
    * `doc_id % crawlMod = crawlRem` play the arriving crawl, screened
    * against the whole-corpus durable sketch — the artifact-served
    * read path itself sits under the DuckDB hash gate (the
    * `idx_live_key_stats` convention). The planted re-crawl
    * duplicates in the synthetic corpus surface as near-total-overlap
    * pairs; word-salad slices share nothing.
    */
  def winnowScreen(spark: SparkSession, dir: String,
      k: Int = 4, w: Int = 5, minShared: Int = 3,
      crawlMod: Int = 20, crawlRem: Int = 7): DataFrame =
    winnowScreenOf(
      docs(spark, dir).where(col("doc_id") % crawlMod === crawlRem),
      loadOrBuildWinnowSketch(spark, dir, k, w), k, w, minShared)

  /** Unicode NFC normalization rung — the canonicalization a crawl
    * runs BEFORE any hash-keyed stage: `é` and `e`+U+0301 are
    * byte-different but canonically equal, so un-normalized text
    * silently defeats exact dedup, content fingerprints, shingle
    * hashes, and CDC content comparison. One codegen'd static call
    * per row ([[graft.functions.NfcFns]], the [[Tokenize.clean]]
    * pattern — no UDF); the corpus text is ASCII, so the registered
    * form PLANTS decomposed sequences (combining acute/ring/tilde
    * plus one pre-composed char for idempotence) on every row and
    * the oracle re-derives with DuckDB's `nfc_normalize` — the md5
    * hash compare pins both engines to one UAX#15 NFC. Row-local at
    * any scale.
    */
  def nfcNormalize(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        concat(substring(col("text"), 1, 40),
          // DECOMPOSED plants: e+U+0301, A+U+030A, n+U+0303, plus a
          // pre-composed U+00E9 (NFC must compose the first three
          // and leave the fourth alone).
          lit(" cafe\u0301 A\u030A n\u0303 \u00e9")).as("raw"))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("n_raw"),
        graft.functions.Tokenize.nfc(col("raw")).as("nfc"))
      .select(col("doc_id"), col("n_raw"),
        length(col("nfc")).cast("long").as("n_nfc"),
        md5(col("nfc").cast("binary")).as("nfc_hash"))
      .orderBy("doc_id")

  /** HTML -> text extraction, the C4/CCNet-style tag-strip rung of a
    * crawl pipeline, as pure column expressions (row-local, codegen,
    * no parser dependency). Documented approximation — this is the
    * regex tier, not a DOM: (1) drop `<head>`, `<script>`, `<style>`
    * BLOCKS wholesale (content and all; lazy match, no backreference
    * — RE2-safe for the oracle), (2) strip remaining tags to spaces,
    * (3) decode the five-entity subset (`&amp;` LAST so `&amp;lt;`
    * decodes to the literal `&lt;`, not `<`), (4) collapse
    * whitespace via the EXPLICIT class `[ \t\n\f\r]` — Java's `\s`
    * includes `\x0B` (vertical tab) while the oracle's RE2 `\s` does
    * not, so a shared literal class is the only way both engines run
    * one whitespace definition (round-7 ADVICE). Nested same-tag
    * blocks and exotic entities are out of contract.
    */
  def htmlToText(html: Column): Column = {
    val blocks = Seq("head", "script", "style").foldLeft(html)((c, t) =>
      regexp_replace(c, s"(?is)<$t[^>]*>.*?</$t>", " "))
    val noTags = regexp_replace(blocks, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, v)) => regexp_replace(c, e, v) }
    trim(regexp_replace(decoded, "[ \\t\\n\\f\\r]+", " "))
  }

  /** The page `<title>` text (entity-decoded, trimmed); empty when
    * absent.
    */
  def htmlTitle(html: Column): Column = {
    val raw = regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1)
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(raw.cast("string")) { case (c, (e, v)) => regexp_replace(c, e, v) }
    trim(regexp_replace(decoded, "[ \\t\\n\\f\\r]+", " "))
  }

  /** Registered demonstration over a deterministically-constructed
    * page per document (title with an entity, a style block, a
    * script block containing a bare `<` — the traps the rules must
    * survive; the corpus has no HTML of its own). `matches_source`
    * proves the round-trip: body extraction must return the original
    * text exactly. The oracle builds the identical page and runs the
    * identical rules in RE2, so this query pins the cross-engine
    * regex semantics — the actual risk of a regex-tier extractor.
    */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>doc &amp; "), col("doc_id").cast("string"),
      lit("</title><style>.c{color:red}</style></head><body>"),
      lit("<script>var x = 1 < 2;</script><p>"), col("text"),
      lit("</p></body></html>"))
    docs(spark, dir)
      .select(col("doc_id"), col("text"), html.as("html"))
      .select(col("doc_id"),
        htmlTitle(col("html")).as("title"),
        htmlToText(col("html")).as("extracted"),
        col("text"))
      .select(col("doc_id"), col("title"),
        md5(col("extracted").cast("binary")).as("extracted_md5"),
        length(col("extracted")).cast("long").as("n_chars_extracted"),
        when(col("extracted") === col("text"), 1L).otherwise(0L).as("matches_source"))
      .orderBy("doc_id")
  }

  /** Batched BM25: per-(probe, doc) scores for N query-by-example
    * probe documents in ONE postings pass. The corpus-side work
    * (tokenize, explode, tf aggregation) happens once against the
    * UNION of all probes' terms; per-term df and per-doc dl are
    * probe-independent, so they too are shared; only the final
    * per-(probe, doc) scoring join fans out by probe — and it fans
    * out over query-term-matched postings, not the corpus. Formula,
    * cleaning chain, and integer basis identical to [[bm25TopK]]
    * (a probe's scores here ARE its single-probe scores —
    * HybridSpec pins it).
    */
  def bm25ScoresBatch(spark: SparkSession, dir: String,
      probeIds: Seq[Long], qTerms: Int = 8): DataFrame =
    bm25ScoresForTerms(spark, dir,
      docs(spark, dir).where(col("doc_id").isin(probeIds: _*))
        .select(col("doc_id").as("probe_id"),
          explode(slice(split(Tokenize.clean(col("text")), " "), 1, qTerms)).as("term"))
        .where(col("term") =!= "").distinct())

  /** The batched-BM25 core over an ARBITRARY `(probe_id, term)`
    * query frame — the external-request seam
    * ([[graft.streaming.HybridStream]]): request text cleaned by the
    * engine's one chain becomes a term frame, and the scoring
    * lineage is shared with the query-by-example form above. Terms
    * absent from the corpus simply match nothing (the tf semi-join
    * drops them) — an all-OOV request scores no documents rather
    * than erroring.
    */
  def bm25ScoresForTerms(spark: SparkSession, dir: String,
      qf: DataFrame): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"),
        explode(split(Tokenize.clean(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
    val tf = toks.join(broadcast(qf.select("term").distinct()), Seq("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = identityDocLengths(spark, dir) // ONE dl contract everywhere
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("l_tot"))
      .withColumn("avgdl", expr("l_tot div n_docs"))
    tf.join(broadcast(qf), Seq("term"))
      .join(broadcast(dfc), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("score_t", expr(Bm25ScoreSql))
      .groupBy("probe_id", "doc_id")
      .agg(sum("score_t").cast("long").as("score"))
  }

  /** The durable doc-length artifact's location, beside the
    * positional index (same fingerprint contract).
    */
  def docLengthsPath(dir: String): String =
    graft.sources.IndexBuilder.snapshotPath(dir) + "-doclen"

  /** Durable per-document cleaned-token lengths `(doc_id, dl)` — the
    * BM25 normalizer as a build-time companion instead of a
    * per-session [[stats]] recompute. One row per document with ≥1
    * cleaned token (exactly the frame BM25's `dl > 0` filter keeps),
    * derived from the same positional-postings lineage as the index
    * itself, so the two artifacts cannot disagree about what a token
    * is. Content-fingerprint-gated on the documents source.
    */
  def loadOrBuildDocLengths(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Artifacts.loadOrBuild(spark, docLengthsPath(dir),
      Seq(s"$dir/documents.parquet"), semKey) { t =>
      positionalPostings(docs(spark, dir))
        .groupBy("doc_id").agg(count(lit(1)).cast("long").as("dl"))
        .write.mode("overwrite").parquet(t)
    }

  /** Doc lengths of the LIVE corpus: the durable artifact plus
    * per-document counts of the accumulated positional deltas — the
    * [[graft.streaming.IndexStream.keyStatsWithDeltas]] merge
    * discipline for the BM25 normalizer. A document lives in exactly
    * one delta batch (append-only corpus), so the union IS the grown
    * corpus's length table; without this, delta documents are
    * phrase-visible but BM25-invisible until the next artifact
    * rebuild (the freshness gap `PositionalDeltaSpec` pins).
    */
  def docLengthsWithDeltas(spark: SparkSession, dir: String,
      deltaDir: String): DataFrame = {
    val base = loadOrBuildDocLengths(spark, dir)
    val batches = graft.streaming.IndexStream.deltaBatches(spark, deltaDir)
    if (batches.isEmpty) base
    else base.unionByName(
      spark.read.parquet(batches: _*)
        .groupBy("doc_id").agg(count(lit(1)).cast("long").as("dl")))
  }

  /** [[bm25TopK]] served from DURABLE artifacts — the single-query
    * form of [[bm25ScoresBatchIndexed]]: query terms pushed as an
    * `In(term, ...)` predicate into the positional index's live
    * view, doc lengths from the live length table. Row-identical to
    * the derived form (same cleaning chain on both sides of the
    * artifacts), so it carries `text_bm25_topk`'s oracle unchanged.
    */
  def bm25TopKIndexed(spark: SparkSession, dir: String,
      k: Int = 20, qTerms: Int = 8): DataFrame = {
    val qterms = docs(spark, dir).orderBy("doc_id").limit(1)
      .select(explode(slice(split(Tokenize.clean(col("text")), " "), 1, qTerms))
        .as("term"))
      .where(col("term") =!= "").distinct()
    val terms = qterms.collect().map(_.getString(0)).toSeq.sorted
    val (tf, dfc, dl, totals) = bm25IndexedInputs(spark, dir, terms)
    tf.join(broadcast(dfc), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("score_t", expr(Bm25ScoreSql))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("score_t").cast("long").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Shared inputs for indexed BM25 scoring of a pushed term set:
    * live-view tf per (doc, term), per-term df, live doc lengths,
    * and the 1-row corpus totals — ONE lineage for the three indexed
    * forms (single/batch/request), so the artifact plumbing cannot
    * fork between them (round-9 review).
    */
  private def bm25IndexedInputs(spark: SparkSession, dir: String,
      terms: Seq[String]): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val dd = positionalDeltaDir(dir)
    val probed = positionalIndexWithDeltas(spark, dir, dd)
      .where(col("term").isin(terms: _*))
      .select("doc_id", "term")
    val tf = probed.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = docLengthsWithDeltas(spark, dir, dd)
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("l_tot"))
      .withColumn("avgdl", expr("l_tot div n_docs"))
    (tf, dfc, dl, totals)
  }

  /** [[bm25ScoresBatch]] served from DURABLE artifacts — the
    * fully-artifact-served text tower (round-9 verdict #5): term
    * frequencies come from the positional index's live view with the
    * union of all probes' terms pushed as ONE `In(term, ...)`
    * predicate into the scan (no corpus re-tokenization per
    * session), document lengths from the [[loadOrBuildDocLengths]]
    * companion, df and totals derived from those two (query-term-
    * sized and 1-row respectively). Identical scores to the derived
    * form — the artifacts carry the same cleaning chain — so the
    * fused queries' oracle stays unchanged (hash-green through this
    * path).
    *
    * Delta documents stay fully scoreable: tf comes through the live
    * index view and dl through [[docLengthsWithDeltas]], so a doc
    * that arrived via streaming deltas ranks exactly as it will
    * after compaction (`PositionalDeltaSpec` pins it) — no
    * freshness gap between the phrase path and the BM25 path.
    */
  def bm25ScoresBatchIndexed(spark: SparkSession, dir: String,
      probeIds: Seq[Long], qTerms: Int = 8): DataFrame =
    // pure delegation: the batch form IS the request form with a
    // query-by-example term frame — the same relationship the
    // derived pair has ([[bm25ScoresBatch]] → [[bm25ScoresForTerms]]).
    bm25ScoresForTermsIndexed(spark, dir,
      docs(spark, dir).where(col("doc_id").isin(probeIds: _*))
        .select(col("doc_id").as("probe_id"),
          explode(slice(split(Tokenize.clean(col("text")), " "), 1, qTerms))
            .as("term"))
        .where(col("term") =!= "").distinct())

  /** [[bm25ScoresForTerms]] served from DURABLE artifacts — the
    * external-request seam through the positional index: the request
    * batch's term set collects to literals (request-batch-sized —
    * a serving endpoint's query terms, the metadata altitude) and
    * pushes as one `In` predicate into the live index view; dl and
    * totals from the live doc-length table. Same scoring lineage as
    * the derived form; OOV request terms match nothing (the pushed
    * probe returns no postings for them), identically to the derived
    * semi-join behavior.
    */
  def bm25ScoresForTermsIndexed(spark: SparkSession, dir: String,
      qf: DataFrame): DataFrame = {
    // the term set as literals: metadata-sized (≤ probes × qTerms
    // strings — the phraseTopKIndexed routing altitude), the price
    // of a pushed predicate.
    val terms = qf.select("term").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val (tf, dfc, dl, totals) = bm25IndexedInputs(spark, dir, terms)
    tf.join(broadcast(qf), Seq("term"))
      .join(broadcast(dfc), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("score_t", expr(Bm25ScoreSql))
      .groupBy("probe_id", "doc_id")
      .agg(sum("score_t").cast("long").as("score"))
  }

  /** Adaptive per-source quality cutoffs — the data-dependent
    * refinement of [[qualityFlags]]' fixed thresholds: each source
    * keeps the documents at or above its own token-count median
    * (fixed global thresholds over- or under-filter sources whose
    * length distributions differ — the CCNet insight of filtering
    * per-domain against the domain's own distribution).
    *
    * The median is EXACT and integer, computed as a histogram median
    * — the aggregation-shaped form that scales where a per-group
    * sort does not:
    *  1. `groupBy(source, n_ws_tokens).count` collapses the corpus
    *     to per-source value histograms (map-side partials; output
    *     is bounded by |sources| × |distinct lengths|, independent
    *     of document count);
    *  2. the cumulative window runs over HISTOGRAM rows only (the
    *     `text_token_median_by_lang` window, by contrast, sorts
    *     every corpus row inside each group — fine as the
    *     cross-check, wrong at 100 TB);
    *  3. the cutoff is `percentile_disc(0.5)`: the smallest value v
    *     whose cumulative count reaches `(n + 1) div 2` — pure
    *     integer arithmetic, no interpolation, bit-identical in both
    *     engines.
    * The |sources|-row cutoff frame broadcasts back onto the
    * persisted [[stats]] for the kept rollup — no corpus-wide sort,
    * no second scan.
    *
    * Output per source: `(source, n_docs, median_tokens, n_kept,
    * kept_tokens)`, kept = `n_ws_tokens >= median_tokens`.
    */
  def adaptiveQuality(spark: SparkSession, dir: String): DataFrame =
    adaptiveQualityOf(
      stats(spark, dir).select(col("doc_id"), col("n_ws_tokens"))
        .join(docs(spark, dir).select(col("doc_id"), col("source")), Seq("doc_id")))

  /** [[adaptiveQuality]] over an arbitrary `(doc_id, n_ws_tokens,
    * source)` frame — the fixture seam (even- and odd-sized groups
    * hit different `(n + 1) div 2` branches; the synthetic corpus
    * only exhibits odd ones).
    */
  def adaptiveQualityOf(base: DataFrame): DataFrame = {
    // ONE corpus pass (round-18): the old form computed cutoffs from
    // the histogram, then joined them back onto `base` and aggregated
    // CORPUS rows — re-running the base lineage (stats ⋈ docs) a
    // second time for numbers the histogram already determines:
    // n_docs = Σc, n_kept = Σ_{v≥median} c, kept_tokens =
    // Σ_{v≥median} v·c. Now the rollup aggregates HISTOGRAM rows
    // (bounded by |sources| × |distinct lengths|), the median as a
    // per-source window min over the same cumulative frame the
    // cutoffs used — value-identical to cutoffsFromHistogram by
    // construction (same `(n + 1) div 2` target over the same
    // cumulative sums; `AdaptiveQualitySpec` ties both forms).
    val wCum = Window.partitionBy("source").orderBy(col("n_ws_tokens").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSrc = Window.partitionBy("source")
    sourceTokenHistogramOf(base)
      // a NULL source never matched the cutoff equi-join the rollup
      // replaced (null = null is never true in a join condition), so
      // the contract has no null-source row; groupBy alone would
      // KEEP the null group (degenerate-lake regression, round 18).
      .where(col("source").isNotNull)
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tot", sum(col("c")).over(wSrc))
      .withColumn("med", min(when(col("cum") >= expr("(tot + 1) div 2"),
        col("n_ws_tokens"))).over(wSrc))
      .groupBy("source")
      .agg(max(col("tot")).cast("long").as("n_docs"),
        max(col("med")).as("median_tokens"),
        sum(when(col("n_ws_tokens") >= col("med"), col("c")).otherwise(0L))
          .cast("long").as("n_kept"),
        sum(when(col("n_ws_tokens") >= col("med"), col("n_ws_tokens") * col("c"))
          .otherwise(0L)).cast("long").as("kept_tokens"))
      .orderBy("source")
  }

  /** Per-source token-count histogram `(source, n_ws_tokens, c)` —
    * the ADDITIVE state behind [[adaptiveQuality]]: two histograms
    * merge by summing counts per (source, value), so a base
    * histogram plus a delta histogram IS the histogram of the union
    * ([[graft.streaming.TextStream]] builds the live-cutoff path on
    * exactly this identity).
    */
  def sourceTokenHistogramOf(base: DataFrame): DataFrame =
    base.groupBy("source", "n_ws_tokens")
      .agg(count(lit(1)).as("c"))

  /** Cutoffs `(source, median_tokens)` from a (possibly merged,
    * possibly pre-summed) histogram: smallest value whose cumulative
    * count reaches `(n + 1) div 2`. Accepts duplicate (source,
    * value) rows — they are re-summed first, which is what makes
    * base-artifact + delta merging a plain union.
    */
  def cutoffsFromHistogram(hist: DataFrame): DataFrame = {
    val wCum = Window.partitionBy("source").orderBy(col("n_ws_tokens").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("source")
    hist
      .groupBy("source", "n_ws_tokens").agg(sum(col("c")).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tot", sum(col("c")).over(wTot))
      .where(col("cum") >= expr("(tot + 1) div 2"))
      .groupBy("source")
      .agg(min(col("n_ws_tokens")).as("median_tokens"))
  }

  /** The median machinery generalized to an arbitrary percentile
    * PAIR: `percentile_disc(p)` = smallest value whose cumulative
    * count reaches `ceil(p * n)` — in integer basis points,
    * `(pBp * n + 9999) div 10000` (for pBp = 5000 this is exactly
    * [[cutoffsFromHistogram]]'s `(n + 1) div 2`). Both bounds come
    * out of ONE pass over the cumulative histogram via conditional
    * mins. Output: `(source, lo_tokens, hi_tokens)`.
    */
  def percentileBoundsFromHistogram(hist: DataFrame,
      loBp: Int, hiBp: Int): DataFrame = {
    require(0 < loBp && loBp <= hiBp && hiBp <= 10000,
      s"need 0 < loBp <= hiBp <= 10000, got $loBp, $hiBp")
    val wCum = Window.partitionBy("source").orderBy(col("n_ws_tokens").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("source")
    hist
      .groupBy("source", "n_ws_tokens").agg(sum(col("c")).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tot", sum(col("c")).over(wTot))
      .groupBy("source")
      .agg(
        min(when(col("cum") >= expr(s"($loBp * tot + 9999) div 10000"),
          col("n_ws_tokens"))).as("lo_tokens"),
        min(when(col("cum") >= expr(s"($hiBp * tot + 9999) div 10000"),
          col("n_ws_tokens"))).as("hi_tokens"))
  }

  /** Per-source length-tail trimming — the outlier rung of the
    * adaptive filter family: drop each source's shortest and longest
    * tails (below its own P10 / above its own P90 token count), the
    * standard defense against boilerplate stubs and concatenation
    * monsters whose thresholds cannot be global for the same reason
    * [[adaptiveQuality]]'s cannot. Same scale shape: histogram
    * percentiles (windows over value histograms, never corpus rows),
    * |sources|-row bounds broadcast back for the rollup.
    *
    * Output per source: `(source, n_docs, lo_tokens, hi_tokens,
    * n_kept, kept_tokens)`, kept = `lo <= n_ws_tokens <= hi`.
    */
  def lengthTrim(spark: SparkSession, dir: String,
      loBp: Int = 1000, hiBp: Int = 9000): DataFrame = {
    require(0 < loBp && loBp <= hiBp && hiBp <= 10000,
      s"need 0 < loBp <= hiBp <= 10000, got $loBp, $hiBp")
    val base = stats(spark, dir).select(col("doc_id"), col("n_ws_tokens"))
      .join(docs(spark, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
    // ONE corpus pass — the [[adaptiveQualityOf]] round-18 rewrite
    // applied to the percentile PAIR: bounds and rollup both derive
    // from the cumulative histogram (the old form joined the bounds
    // back onto `base`, re-running its lineage to aggregate corpus
    // rows the histogram already counts). Bound arithmetic is
    // [[percentileBoundsFromHistogram]]'s, verbatim (LengthTrimSpec
    // ties the two).
    val wCum = Window.partitionBy("source").orderBy(col("n_ws_tokens").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSrc = Window.partitionBy("source")
    val kept = col("n_ws_tokens") >= col("lo") && col("n_ws_tokens") <= col("hi")
    sourceTokenHistogramOf(base)
      // null-source drop: the bounds equi-join contract — see
      // [[adaptiveQualityOf]] (degenerate-lake regression, round 18).
      .where(col("source").isNotNull)
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tot", sum(col("c")).over(wSrc))
      .withColumn("lo", min(when(
        col("cum") >= expr(s"($loBp * tot + 9999) div 10000"),
        col("n_ws_tokens"))).over(wSrc))
      .withColumn("hi", min(when(
        col("cum") >= expr(s"($hiBp * tot + 9999) div 10000"),
        col("n_ws_tokens"))).over(wSrc))
      .groupBy("source")
      .agg(max(col("tot")).cast("long").as("n_docs"),
        max(col("lo")).as("lo_tokens"),
        max(col("hi")).as("hi_tokens"),
        sum(when(kept, col("c")).otherwise(0L)).cast("long").as("n_kept"),
        sum(when(kept, col("n_ws_tokens") * col("c")).otherwise(0L))
          .cast("long").as("kept_tokens"))
      .orderBy("source")
  }

  /** The cleaned non-empty token stream — shared corpus pass of the
    * vocabulary-mass operators below.
    */
  private def tokenStream(spark: SparkSession, dir: String): DataFrame =
    tokenStreamOf(docs(spark, dir))

  /** [[tokenStream]] over any documents frame (the `*Of` seam the
    * streaming sketch maintenance shares with the batch build).
    */
  def tokenStreamOf(docsDf: DataFrame): DataFrame =
    docsDf
      .select(explode(split(Tokenize.clean(col("text")), " ")).as("term"))
      .where(col("term") =!= "")

  /** Vocabulary coverage curve — the tokenizer-sizing question
    * ("how many vocabulary entries cover X% of token mass?") as one
    * query. Per requested basis-point level: the smallest
    * frequency-ranked vocabulary prefix whose cumulative count
    * reaches that share of total token mass, in exact integer
    * arithmetic (`cum * 10000 >= pct_bp * total`).
    *
    * Shuffle audit (round-15 verdict #3 — the counts-of-counts form):
    * ONE corpus-sized term aggregation (map-side partials) produces
    * the |vocabulary|-row count table; that table is then COLLAPSED
    * to a frequency HISTOGRAM (one row per distinct count value — the
    * zipfian tail's trillions of count-1 typo/id terms become a
    * single row) and the cumulative window runs over HISTOGRAM rows
    * only: |distinct counts| <= sqrt(2N) arithmetically (distinct
    * positive integers summing to N), thousands in practice — the
    * `text_quality_adaptive` pattern, "the form whose windows never
    * see corpus rows" and now never see vocabulary rows either. The
    * prior form's `Window.orderBy` over the full vocabulary moved the
    * whole term table to one partition — correct, but one executor
    * sorts the web-scale tail. Within an equal-count block the old
    * per-term ranking is recovered arithmetically: the threshold
    * term's in-block position is `ceil(stillNeeded / cnt)` in exact
    * integer arithmetic (`div`, no doubles — pct_bp*total exceeds
    * double's 53-bit mantissa at ~1e12 tokens), which is
    * value-identical to the old min(rank)/min_by(cum) because every
    * term in a block contributes exactly `cnt`. The levels table is
    * 3 literal rows, broadcast; the oracle is unchanged.
    */
  def vocabCoverage(spark: SparkSession, dir: String,
      pctsBp: Seq[Int] = Seq(5000, 9000, 9900)): DataFrame = {
    import spark.implicits._
    val counts = tokenStream(spark, dir)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    // counts-of-counts: one row per distinct frequency value.
    val hist = counts.groupBy("cnt").agg(count(lit(1)).as("terms"))
    val ord = Window.orderBy(col("cnt").desc)
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blocks = hist.select(
      col("cnt"), col("terms"),
      (sum(col("terms")).over(cum) - col("terms")).as("terms_before"),
      (sum(col("cnt") * col("terms")).over(cum)
        - col("cnt") * col("terms")).as("tokens_before"),
      sum(col("cnt") * col("terms")).over(cum).as("tokens_through"))
    val tot = counts.agg(
      sum(col("cnt")).as("total"), count(lit(1)).as("vocab_total"))
    val levels = pctsBp.map(_.toLong).toDF("pct_bp")
    val target = col("pct_bp") * col("total")
    blocks
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(levels))
      // the level's threshold rank falls inside exactly one block:
      // the first whose cumulative mass reaches the target.
      .where(col("tokens_through") * 10000 >= target &&
        col("tokens_before") * 10000 < target)
      // in-block position of the threshold term (1-based): smallest j
      // with (tokens_before + j*cnt)*10000 >= pct_bp*total, i.e.
      // ceil((pct_bp*total - tokens_before*10000) / (cnt*10000)).
      .withColumn("j", expr(
        "(pct_bp * total - tokens_before * 10000 + cnt * 10000 - 1)" +
          " div (cnt * 10000)"))
      .select(col("pct_bp"),
        (col("terms_before") + col("j")).as("vocab_size"),
        (col("tokens_before") + col("j") * col("cnt")).as("covered_tokens"),
        col("total").as("total_tokens"),
        col("vocab_total"))
      .orderBy("pct_bp")
  }

  /** Exact top-k heavy-hitter terms WITHOUT a vocabulary-keyed
    * aggregation over the tail — the sketch-then-verify pattern that
    * matters at 100 TB, where the vocabulary's cold tail (typos,
    * ids, hashes — trillions of distinct strings) dwarfs the head
    * and is exactly what a naive `groupBy(term)` shuffles.
    *
    * Pass 1 aggregates the token stream by `crc32(term) % buckets` —
    * the exchange carries at most `buckets` partial rows per task,
    * never a term row. Buckets whose total reaches
    * `theta = 2 * ceil(N / buckets)` are "hot"; only terms hashing
    * into hot buckets enter pass 2's term-keyed recount (a broadcast
    * semi-join of the bucket list against the stream — the stream
    * itself never shuffles).
    *
    * The result carries its own exactness CERTIFICATE: a term outside
    * the candidate set lives in a bucket with total `< theta`, so its
    * count is `< theta`; when the k-th candidate count `m >= theta`,
    * no missed term can displace any of the top k — `certified = 1`
    * PROVES the sketch result equals the exact top-k. The oracle
    * computes the exact top-k directly (no bucketing) plus the same
    * certificate arithmetic, so hash equality checks both the result
    * and the proof; a corpus that defeated the sketch would surface
    * as `certified = 0` + hash mismatch, never as a silent wrong
    * answer. `HeavyHitterSpec` pins the degenerate-buckets failure
    * mode and sketch-vs-exact equality.
    */
  def heavyHitters(spark: SparkSession, dir: String,
      k: Int = 20, buckets: Int = 4096): DataFrame = {
    val d = docs(spark, dir)
    heavyHittersFromSketch(d, bucketTotalsOf(d, buckets), k, buckets)
  }

  /** Pass 1 of [[heavyHitters]] as a standalone product: per-bucket
    * token totals — a B-row ADDITIVE summary of a documents frame
    * (sum of two frames' totals IS the union's totals), which is what
    * makes it maintainable over streaming arrivals without base
    * rescans ([[graft.streaming.TextStream.heavyHittersWithDeltas]]).
    */
  def bucketTotalsOf(docsDf: DataFrame, buckets: Int = 4096): DataFrame =
    tokenStreamOf(docsDf)
      .withColumn("b", pmod(crc32(col("term")), lit(buckets.toLong)))
      .groupBy("b").agg(count(lit(1)).as("bt"))

  /** Pass 2 of [[heavyHitters]] against an externally-supplied bucket
    * sketch (re-aggregated to one row per bucket). The certificate's
    * proof REQUIRES the sketch to describe the same corpus the
    * recount scans: a stale base-only sketch served against a
    * base+delta corpus loses the one-sided guarantee — a term whose
    * mass arrived via deltas can hide in a bucket the stale sketch
    * calls cold while the top-k still certifies (the spec pins this
    * silently-wrong-with-certificate outcome), which is exactly why
    * the streaming path merges delta partials before serving.
    */
  def heavyHittersFromSketch(docsDf: DataFrame, bucketTotals: DataFrame,
      k: Int = 20, buckets: Int = 4096): DataFrame = {
    val theta = bucketTotals.agg(
      (expr(s"(sum(bt) + ${buckets - 1}) div $buckets") * 2L).as("theta"))
    val hot = bucketTotals.crossJoin(broadcast(theta))
      .where(col("bt") >= col("theta")).select("b")
    val toks = tokenStreamOf(docsDf)
      .withColumn("b", pmod(crc32(col("term")), lit(buckets.toLong)))
    val counts = toks.join(broadcast(hot), Seq("b"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val topk = counts
      .orderBy(col("cnt").desc, col("term").asc).limit(k)
    // the certificate needs BOTH conditions: min(topk) >= theta rules
    // out a hidden heavier term, and n_top == k rules out a candidate
    // SHORTFALL — with fewer than k candidates, ranks beyond the
    // shortfall legitimately belong to sub-theta non-candidates the
    // sketch cannot see, so a min-only check would certify a
    // silently truncated result (round-8 self-review finding).
    val minTop = topk.agg(
      min(col("cnt")).as("min_cnt"), count(lit(1)).as("n_top"))
    topk
      .crossJoin(broadcast(theta))
      .crossJoin(broadcast(minTop))
      .select(
        row_number().over(Window.orderBy(col("cnt").desc, col("term").asc))
          .cast("long").as("rank"),
        col("term"), col("cnt"), col("theta"),
        when(col("n_top") === k && col("min_cnt") >= col("theta"), 1L)
          .otherwise(0L).as("certified"))
      .orderBy("rank")
  }

  // ---------------------------------------------------------------
  // Cross-document repeated-line (boilerplate) removal — the CCNet /
  // RefinedWeb line-dedup rung: navigation bars, cookie banners and
  // per-site footers repeat verbatim across a site's pages, so any
  // line shared by >= minDocs documents is template, not content.
  // ---------------------------------------------------------------

  /** Deterministic multi-line "page" view of the corpus (the
    * html_extract / redact_pii fixture convention: the synthetic
    * documents carry no newlines, so the template structure a web
    * crawl would have is planted on top of them — a universal nav
    * line, two per-source template lines, the document body, and a
    * per-document footer). Docs with null text or source have a null
    * page and are absent from both outputs (contract; `concat` is
    * null-propagating in both engines).
    */
  private[graft] def pagedOf(documents: DataFrame): DataFrame =
    documents
      // NO narrow-side spread here, deliberately — measured and
      // dropped (round 12, the C2 precedent): unlike [[winnowOf]]'s
      // O(m·w) md5 selection, the page view's per-doc line work
      // (split + array_distinct) is too cheap to amortize a
      // corpus-width exchange of the page strings — the spread cost
      // the line-set query ~3x warm at sf0.1 (0.25 -> 0.70 s,
      // min-of-3) while its 10x ratio was already flat without it.
      .select(col("doc_id"), concat(
      lit("home | about | contact\n"),
      lit("subscribe to the "), col("source"), lit(" newsletter\n"),
      col("text"), lit("\n"),
      lit("copyright "), col("source"), lit("\n"),
      lit("ref "), col("doc_id").cast("string")).as("page"))

  /** The boilerplate line set: non-empty lines appearing in at least
    * `minDocs` DISTINCT documents, with their document counts.
    *
    * Scale posture: the in-document distinct is ROW-LOCAL
    * (`array_distinct` over the doc's own line array — no
    * (doc, line) dedupe shuffle), so the whole query is one
    * documents scan -> one line-keyed aggregation shuffle with
    * map-side partials. The generate is OUTER (the
    * InferFiltersFromGenerate convention — see [[winnowOf]]): no
    * inferred `size(..) > 0` filter ever copies the page expression
    * below the projection.
    */
  def boilerplateLinesOf(pages: DataFrame, minDocs: Int): DataFrame =
    lineCountsOf(pages)
      .where(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("line").asc)

  /** Per-line distinct-document counts over a page frame — the one
    * aggregation the whole family shares (threshold query, durable
    * artifact build, streaming per-batch partial). ADDITIVE: counts
    * from disjoint doc sets sum, so partials merge by re-summing.
    */
  private[graft] def lineCountsOf(pages: DataFrame): DataFrame =
    pages
      .select(col("doc_id"),
        explode_outer(array_distinct(split(col("page"), "\n"))).as("line"))
      .where(col("line") =!= "")
      // n_docs counts DOCUMENTS, so a re-crawled duplicate doc_id
      // contributes each line once (round-13 degenerate hash gate)
      .dropDuplicates("doc_id", "line")
      .groupBy("line")
      .agg(count(lit(1)).cast("long").as("n_docs"))

  /** Per-document boilerplate removal: drop every line in the
    * [[boilerplateLinesOf]] set, keep the rest in original order,
    * and emit `(doc_id, n_lines, n_dropped, clean_md5)` where
    * `clean_md5` hashes the surviving lines re-joined with `\n`
    * (null when nothing survives — the all-template page).
    *
    * Scale posture: line positions come from one OUTER posexplode
    * (original order is carried as data, never a window); the
    * boilerplate set is joined HINT-FREE (the dedup drop-list
    * convention — it is bounded by distinct-lines/minDocs, so
    * plan-time stats/AQE broadcast it naturally, and a pathological
    * template-heavy corpus degrades to a shuffled join, never an
    * OOM); the per-doc rebuild is one doc-keyed aggregation whose
    * state is the doc's own surviving lines.
    */
  def boilerplateRemovedOf(pages: DataFrame, minDocs: Int): DataFrame =
    removedAgainst(pages, boilerplateLinesOf(pages, minDocs))

  /** Removal against an EXPLICIT template set (shared by the derived
    * and the artifact-served routes — `boiler` needs only a `line`
    * column).
    */
  private def removedAgainst(pages: DataFrame, boiler: DataFrame): DataFrame = {
    val lines = pages
      .select(col("doc_id"),
        posexplode_outer(split(col("page"), "\n")).as(Seq("ln", "line")))
      .where(col("line") =!= "")
    lines.join(boiler.select(col("line"), lit(1L).as("is_bp")), Seq("line"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum(when(col("is_bp").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_dropped"),
        // collect_list skips the when()'s nulls -> kept lines only;
        // sort_array orders by (ln, line): position first (original
        // order), line VALUE breaking position ties — the only tie
        // source is a re-crawled duplicate doc_id contributing two
        // pages whose positions collide (round-13 degenerate gate;
        // the oracle's string_agg mirrors both keys).
        sort_array(collect_list(when(col("is_bp").isNull,
          struct(col("ln"), col("line"))))).as("ks"))
      .select(col("doc_id"), col("n_lines"), col("n_dropped"),
        when(size(col("ks")) > 0,
          md5(array_join(transform(col("ks"), x => x.getField("line")), "\n")
            .cast("binary"))).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Registered demo: boilerplate line set over the planted page
    * view of the corpus.
    */
  def boilerplateLines(spark: SparkSession, dir: String,
      minDocs: Int = 10): DataFrame =
    boilerplateLinesOf(pagedOf(docs(spark, dir)), minDocs)

  /** Registered demo: per-document boilerplate removal over the
    * planted page view.
    */
  def boilerplateRemoved(spark: SparkSession, dir: String,
      minDocs: Int = 10): DataFrame =
    boilerplateRemovedOf(pagedOf(docs(spark, dir)), minDocs)

  /** Line-level quality signals (the published per-line web-corpus
    * rules, complementing [[qualityFlags]]' document-level ones): per
    * document over the non-empty page lines — the C4 terminal-
    * punctuation rule (lines not ending in `.`/`!`/`?` are likely
    * template/navigation), the short-line fraction (< 4 whitespace
    * tokens), and the within-document duplicated-line fraction.
    * Exact integer basis points on a `greatest(n_lines, 1)` floor
    * (the [[stats]] convention). Docs with a null page are absent
    * (contract, as the whole page-view family).
    *
    * Scale posture: NO generator and NO shuffle — every signal is a
    * higher-order function over the doc's own line array (filter /
    * array_distinct / size), one scan -> one codegen'd projection ->
    * the output sort. The 100 TB cost is the scan.
    */
  def lineQualityOf(pages: DataFrame): DataFrame = {
    val ls = filter(split(col("page"), "\n"), l => l =!= "")
    pages
      .where(col("page").isNotNull)
      .select(col("doc_id"), ls.as("ls"))
      .select(col("doc_id"),
        size(col("ls")).cast("long").as("n_lines"),
        size(filter(col("ls"), l => l.rlike("[.!?]$")))
          .cast("long").as("punct_end"),
        size(filter(col("ls"), l => size(split(l, " ")) < 4))
          .cast("long").as("short_lines"),
        (size(col("ls")) - size(array_distinct(col("ls"))))
          .cast("long").as("dup_lines"))
      .select(col("doc_id"), col("n_lines"),
        expr("cast((10000 * punct_end) div greatest(n_lines, 1L) as bigint)")
          .as("punct_end_bp"),
        expr("cast((10000 * short_lines) div greatest(n_lines, 1L) as bigint)")
          .as("short_bp"),
        expr("cast((10000 * dup_lines) div greatest(n_lines, 1L) as bigint)")
          .as("dup_bp"))
      .orderBy("doc_id")
  }

  /** Registered demo: line-level quality over the planted page view. */
  def lineQuality(spark: SparkSession, dir: String): DataFrame =
    lineQualityOf(pagedOf(docs(spark, dir)))

  /** The durable line-count artifact's location (the snapshot-side
    * convention). Deliberately minDocs-FREE: the artifact stores the
    * FULL `(line, n_docs)` counts, so one build serves every
    * threshold — minDocs is a query-time filter, not a build
    * parameter (the positional-index convention: index once, query
    * many ways).
    */
  def lineCountsPath(dir: String): String =
    graft.sources.IndexBuilder.snapshotPath(dir) + "-linecounts"

  /** Durable per-line document counts over the planted page view,
    * content-fingerprint-gated on the documents source
    * ([[graft.sources.Artifacts]]) — the aggregation a 100 TB
    * deployment pays once per corpus instead of once per cleaning
    * run.
    */
  def loadOrBuildLineCounts(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Artifacts.loadOrBuild(spark, lineCountsPath(dir),
      Seq(s"$dir/documents.parquet"), semKey) { t =>
      lineCountsOf(pagedOf(docs(spark, dir)))
        .write.mode("overwrite").parquet(t)
    }

  /** Artifact-served removal twin (the `bm25TopKIndexed` convention):
    * the template set comes from the durable line-count artifact
    * filtered at query time — no per-run corpus-wide line
    * aggregation; the corpus scan that remains is the rebuild itself,
    * which removal inherently owns. SAME oracle as
    * [[boilerplateRemoved]]: hash equality through the gate proves
    * the artifact carries the identical line accounting.
    */
  def boilerplateRemovedIndexed(spark: SparkSession, dir: String,
      minDocs: Int = 10): DataFrame =
    removedAgainst(pagedOf(docs(spark, dir)),
      loadOrBuildLineCounts(spark, dir).where(col("n_docs") >= minDocs))

  /** The durable-artifact location of the base corpus's bucket
    * sketch (the [[graft.operators.Dedup.signaturePath]] convention:
    * beside the index snapshot, fingerprint-keyed).
    */
  def bucketSketchPath(dir: String, buckets: Int = 4096): String =
    graft.sources.IndexBuilder.snapshotPath(dir) + s"-hhsketch$buckets"

  /** Durable form of [[bucketTotalsOf]] over the base corpus: B rows
    * persisted once, content-fingerprint-gated on the documents
    * source ([[graft.sources.Artifacts]]) — the summary a streaming
    * deployment merges delta partials INTO instead of re-reading the
    * 100 TB base per refresh.
    */
  def loadOrBuildBucketSketch(spark: SparkSession, dir: String,
      buckets: Int = 4096): DataFrame =
    graft.sources.Artifacts.loadOrBuild(spark, bucketSketchPath(dir, buckets),
      Seq(s"$dir/documents.parquet"), semKey) { t =>
      bucketTotalsOf(docs(spark, dir), buckets).write.mode("overwrite")
        .parquet(t)
    }
}
