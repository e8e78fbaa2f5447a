package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Tokenize

/** Multi-attribute join search: given a query table with N chosen
  * columns, find every corpus table whose rows join the query table on
  * all N attributes simultaneously, ranked by joinability score.
  *
  * Relational formulation of the reference's Par-Search col-wise
  * pipeline (`Par_Search.py:205-332`), generalized from the
  * hard-coded 2 columns (`Par_Search.py:215`) to any N, with the
  * stages exposed for testing and for the per-stage oracle queries:
  *
  *   prepareInput (P1-P5+F1) -> mappings (F2+G1) -> probe (J5, one
  *   distributed probe replacing per-column IN-list SQL) ->
  *   reduce (P6+W1) -> joinMapped (J1) -> matches (W2) ->
  *   columnScores (A1) -> topColumns (W3) -> tableScores (A2+O2/O3)
  *
  * Deliberate, documented divergences from the reference (SURVEY §7.4):
  *  - dedup-by-(table,row,key) keeps min(column_id), not an arbitrary
  *    posting (`Par_Search.py:247` is nondeterministic);
  *  - windows carry no orderBy on a partition-constant column — the
  *    reference's RANGE-frame accident (`Par_Search.py:245,281`) is
  *    re-expressed as plain whole-partition counts;
  *  - ranking/limits always carry total-order tie-breakers.
  *
  * The serving searches share one anchored path: [[searchTables]]
  * takes a [[Narrow]] (the whole index, the hot-key guard with an
  * absolute or corpus-fraction cap, or the sketch pre-filter), and it,
  * [[searchTablesSeqParity]] and [[searchColumns]] are tails over one
  * session-cached column-score frame per (narrowed index, query), the
  * `colscores:` family. [[searchTablesBatch]] is the union of its
  * members' [[searchTables]] answers, so a batch member reads and
  * fills its single search's entry. The other `searchTables*` forms
  * are the cross-check strategies the property spec compares against.
  * Every path derives its matches from one unpersisted definition:
  * the per-row key sets ([[rowKeysOf]]), floored and exploded by
  * [[reduce]] for the staged forms and anchor-verified by
  * [[conjunctionAnchored]] for the `colscores:` fill; only
  * `colscores:` and the query-side `qmaps:` persist.
  *
  * Scale posture: the query table is tiny next to the index, so
  * mappings are broadcast (J1 never shuffles the postings side twice);
  * the probe is a semi-join (map-side with broadcast); the two
  * co-occurrence counts shuffle on (table_id, row_id) once — the
  * second window reuses the first's clustering (map_key is a
  * function of the join, not a new shuffle key).
  */
object JoinSearch {

  /** P1-P5: project, distinct, drop nulls, NBSP-strip — then F1 clean
    * and dedup AGAIN post-clean. (`Par_Search.py:151-166`; NBSP uses
    * seq's substring semantics, `Seq_Search.py:124`, per SURVEY §2.2
    * P5.) The reference dedups raw rows only; distinct raws cleaning
    * to the same row would then double-count scores — we adopt
    * one-cleaned-query-row = one-match semantics (round-2 ADVICE),
    * mirrored in the oracle's `qclean` DISTINCT.
    */
  def prepareInput(query: DataFrame, cols: Seq[String]): DataFrame = {
    // ONE distinct, post-clean (round-17 optimization): the raw-side
    // dropDuplicates the reference mirrors is subsumed by the
    // post-clean one \u2014 distinct(clean(distinct(x))) = distinct(clean(x))
    // \u2014 so it only added a second exchange of the query table (and at
    // the shuffled-strategy's huge-query posture, a second shuffle of
    // raw-width rows; cleaning is row-local and cheaper than the
    // exchange it saved). Result set is unchanged; the oracle's
    // `qclean` DISTINCT pins it.
    val projected = query.select(cols.map(col): _*).na.drop()
    projected.select(cols.map(c =>
      Tokenize.clean(regexp_replace(col(c), "\u00A0", "")).as(c)): _*)
      .dropDuplicates()
  }

  /** P2 row-limit knob layered on [[prepareInput]]: the reference
    * caps the query table at its first `lines` rows
    * (`Par_Search.py:151-153` slices the CSV head). A distributed
    * head is frame-dependent, so the deterministic re-expression
    * takes the first `n` rows under the total order of the selected
    * columns (nulls first, Spark's asc default — mirrored NULLS
    * FIRST in the oracle).
    */
  def prepareInput(query: DataFrame, cols: Seq[String], limit: Option[Int]): DataFrame = {
    val capped = limit.fold(query)(n =>
      query.select(cols.map(col): _*).orderBy(cols.map(col): _*).limit(n))
    prepareInput(capped, cols)
  }

  /** Delimiter for assembling map_key from cleaned values. The
    * reference uses a space (`Par_Search.py:213`), but cleaned values
    * contain spaces, so query rows ('a','b c') and ('a b','c') would
    * collapse to one map_key and merge their conjunction groups — a
    * latent cross-row false match for the N-generalized engine
    * (round-2 ADVICE). U+0001 cannot appear in cleaned output
    * (charset is `[a-z0-9' ]`); mirrored in the oracle via `chr(1)`.
    */
  val MapKeyDelim = "\u0001"

  /** F2+G1: cleaned query rows -> long-format `(key, map_key)` where
    * map_key identifies the originating query row
    * (`Par_Search.py:213-215`, generalized to N columns).
    */
  def mappings(cleanInput: DataFrame, cols: Seq[String]): DataFrame = {
    val withKey = cleanInput.withColumn(
      "map_key", concat_ws(MapKeyDelim, cols.map(col): _*))
    val stackArgs = cols.map(c => s"`$c`, map_key").mkString(", ")
    withKey.selectExpr(s"stack(${cols.size}, $stackArgs) as (key, map_key)")
  }

  /** J5: one distributed semi-join replaces the reference's per-column
    * `WHERE tokenized IN (...)` literal-list SQL round-trips
    * (`handlers.py:62-71`, `Par_Search.py:196-200`). The staged and
    * cross-check strategies probe this way.
    * [[searchTables]] instead filters on the query's distinct key list
    * — the reference's IN list, once for all columns: the same
    * postings, but the key set is a plan literal rather than a
    * broadcast the plan must first compute and ship, a job and a
    * stage round that a live index (whose identity moves with every
    * landed batch) paid on every search.
    */
  def probe(index: DataFrame, maps: DataFrame): DataFrame =
    index.join(broadcast(maps.select("key").distinct()), Seq("key"), "left_semi")

  /** `mappings(prepareInput(query, cols))`, session-persisted
    * (round-18): every search consumes its maps frame in several plan
    * branches (the probe's key distinct, the anchor aggregation, the
    * stats semi-join), each of which re-executed the query-side scan
    * + clean + distinct lineage — and the registered queries re-derive
    * the SAME few query tables across ~30 search invocations per
    * session. In [[searchTables]] those branches sit inside its cached
    * `colscores:` fill, so a warm
    * [[searchTables]] reads the maps frame only for its semantic
    * hash, half of the `colscores:` key; a `colscores:` miss reads
    * its key list once per maps hash ([[queryKeys]]). The frame is
    * query-table-sized (tiny by the small-query contract of every
    * hinted strategy — the no-assumptions [[searchTablesShuffled]]
    * path deliberately stays unpersisted, a one-shot huge query
    * should not be materialized to executor storage), keyed by its
    * own semantic hash like the other shared lineages.
    */
  private def preparedMappings(query: DataFrame, cols: Seq[String]): DataFrame =
    preparedMappingsHashed(query, cols)._1

  /** [[preparedMappings]] with the maps plan's semantic hash, which
    * [[searchTables]] reuses as half of its `colscores:` key.
    */
  private def preparedMappingsHashed(query: DataFrame,
      cols: Seq[String]): (DataFrame, Int) = {
    val m = mappings(prepareInput(query, cols), cols)
    val h = m.semanticHash()
    (graft.sources.DfCache.getOrPersist(query.sparkSession, s"qmaps:$h")(m), h)
  }

  /** The distinct keys of a [[preparedMappingsHashed]] frame, collected
    * to the driver once per maps hash and session-memoized (`qkeys:`):
    * [[searchTables]]' literal probe list. The maps frame is
    * query-sized by the same small-query contract that lets the other
    * hinted strategies broadcast it, so the list is what their
    * broadcasts collect anyway; sorted, so one query keeps one plan.
    */
  private def queryKeys(maps: DataFrame, mapsHash: Int): Seq[String] =
    graft.sources.DfCache.memo(maps.sparkSession, s"qkeys:$mapsHash")(maps) {
      _.select("key").collect().flatMap(r => Option(r.getString(0)))
        .distinct.sorted.toSeq
    }

  /** S4 generalized: pattern probe. The reference routes every probe
    * through a `LIKE` template (`handlers.py:73-83`) but never
    * injects wildcards, so S4 pins the equality case; this is the
    * real-wildcard form (`%`/`_`) a user exploring an index reaches
    * for. A leading-literal pattern stays a scan-pushable
    * StartsWith filter; equality patterns degrade to [[probe]].
    */
  def probeLike(index: DataFrame, pattern: String): DataFrame =
    index.where(col("key").like(pattern))

  /** Hot-key guard (100 TB posture): drop probed postings whose key
    * exceeds `maxDf` occurrences in the corpus. Degenerate
    * low-cardinality query values (a status flag 'f', a one-letter
    * token) carry O(corpus) postings each — at scale one such key
    * turns the probe output into a near-full index scan and its
    * (table,row) shuffle into the job's straggler.
    *
    * The guard must never itself shuffle those postings: a per-key
    * window count over the probe output would re-cluster exactly the
    * degenerate key's O(corpus) posting list onto one reducer to
    * count it before dropping it — re-creating the straggler it
    * exists to prevent (round-5 VERDICT #1). Instead the df comes
    * from [[indexKeyStats]], whose groupBy partial-aggregates
    * map-side (a hot key ships one row per map partition, not its
    * postings) and is session-cached as a build artifact. The stats
    * narrow to the query's keys FIRST (broadcast semi-join — the
    * stats table is vocabulary-sized at scale and must never itself
    * be the broadcast side), then the surviving key set broadcasts
    * to the index: the capped probe IS the probe, over fewer keys,
    * with zero index-side shuffle. Conjunction semantics make the
    * effect all-or-nothing per query row: a row whose key set loses
    * one member can never reach colCount, so capping rejects
    * degenerate queries rather than silently re-ranking them
    * ([[graft.JoinSearchSpec]] pins both sides and the plan shape).
    */
  def probeCapped(index: DataFrame, maps: DataFrame, maxDf: Long): DataFrame =
    probeCapped(index, maps, maxDf, indexKeyStats(index))

  /** [[probeCapped]] with the df statistic supplied — the serving
    * seam: a deployment hands in the durable artifact
    * ([[graft.sources.IndexBuilder.loadOrBuildKeyStats]]) or, when
    * the index serves live deltas, the MERGED stats
    * ([[graft.streaming.IndexStream.keyStatsWithDeltas]]). The stats
    * must describe the same postings `index` serves: stale base-only
    * stats let a key that went hot via ingest sail through the guard
    * (round-6 verdict, "what's missing" #2 — `IndexStreamSpec` pins
    * the failure and the fix).
    */
  def probeCapped(index: DataFrame, maps: DataFrame, maxDf: Long,
      stats: DataFrame): DataFrame = {
    val allowed = stats
      .join(broadcast(maps.select("key").distinct()), Seq("key"), "left_semi")
      .where(col("kdf") <= maxDf)
      .select("key")
    index.join(broadcast(allowed), Seq("key"), "left_semi")
  }

  /** Default hot-key cap as a CORPUS FRACTION, in basis points: a key
    * is degenerate when it carries more than 5 % of ALL postings
    * (round-14 verdict #4: a fixed absolute cap is scale-relative by
    * nature — 10000 is a guard at sf0.01 and a no-op at 100 TB; the
    * fraction is scale-invariant because per-key df and total
    * postings grow together). 5 % sits far above any healthy join
    * key's share and well below the reference corpus's degenerate
    * single-char status codes (~19 % each, measured at sf0.01).
    */
  val DefaultCapFractionBp: Long = 500L

  /** [[probeCapped]] with the threshold derived from the corpus
    * instead of supplied: cap = `fracBp`/10000 of total postings,
    * where the total is one aggregate over the same key-stats table
    * the guard already broadcasts — integer arithmetic
    * (`kdf * 10000 <= total * fracBp`), no collect, no extra index
    * scan; the one-row total joins in as a broadcast literal.
    */
  def probeCappedFraction(index: DataFrame, maps: DataFrame,
      fracBp: Long, stats: DataFrame): DataFrame = {
    val total = stats.agg(sum(col("kdf")).cast("long").as("total_postings"))
    val allowed = stats
      .join(broadcast(maps.select("key").distinct()), Seq("key"), "left_semi")
      .crossJoin(broadcast(total))
      .where(col("kdf") * lit(10000L) <= col("total_postings") * lit(fracBp))
      .select("key")
    index.join(broadcast(allowed), Seq("key"), "left_semi")
  }

  /** The conjunction's corpus-side aggregation, the one definition of
    * the per-(table,row) matched-key set: each probed row's postings
    * collected in ONE (t,r)-keyed aggregation — one exchange, where a
    * (t,r,key) min before a (t,r) collect would shuffle the probe
    * output twice — and deduped row-locally to one (key, min
    * column_id) entry per key, `kcs`. `sort_array` orders by (key
    * asc, column_id asc), so the first entry of each key run carries
    * that key's min column, and the index-guarded filter keeps exactly
    * those. Groups are bounded by the corpus table's column count (x
    * duplicate-id multiplicity), so the collected list is never larger
    * than the row's own postings. `kmap` (key -> min column) is built
    * once per corpus row, not per anchor candidate: a hot-anchor query
    * fans each row out to many map_keys. [[reduce]] does not read it
    * and the optimizer prunes it there. Unpersisted: every
    * reader ([[searchTables]]' `colscores:` fill, the cross-check
    * strategies, the stage queries) aggregates the key sets inside its
    * own plan.
    */
  private[graft] def rowKeysOf(postings: DataFrame): DataFrame =
    postings
      .groupBy("table_id", "row_id")
      .agg(sort_array(collect_list(struct(col("key"), col("column_id"))))
        .as("kraw"))
      .select(col("table_id"), col("row_id"),
        expr("filter(kraw, (x, i) -> i = 0 OR kraw[i-1].key != x.key)")
          .as("kcs"))
      .withColumn("kmap", map_from_entries(col("kcs")))

  /** P6+W1: one posting per (table,row,key), then keep only corpus
    * rows hit by >= colCount distinct query keys
    * (`Par_Search.py:244-250`): the [[rowKeysOf]] key sets, floored on
    * their size and exploded back to postings — one exchange, the
    * identical row set to the reference's dedup + whole-partition
    * count window. That window's cross-check survives in
    * [[searchTablesRowWise]]'s post-join floor and [[matches]]' W2
    * window.
    */
  def reduce(postings: DataFrame, colCount: Int): DataFrame =
    rowKeysOf(postings)
      .where(size(col("kcs")) >= colCount)
      .select(col("table_id"), col("row_id"), explode(col("kcs")).as("kc"))
      .select(col("kc.key").as("key"), col("table_id"),
        col("kc.column_id").as("column_id"), col("row_id"))

  /** J1: attach each surviving posting to every query row (map_key)
    * containing its key (`Par_Search.py:265`). Mappings derive from
    * the small query table -> broadcast hash join.
    */
  def joinMapped(reduced: DataFrame, maps: DataFrame): DataFrame =
    reduced.join(broadcast(maps), Seq("key"))

  /** W2: the multi-attribute conjunction — keep (table,row,map_key)
    * groups where all colCount attributes matched
    * (`Par_Search.py:280-285`).
    */
  def matches(mapped: DataFrame, colCount: Int): DataFrame = {
    val w = Window.partitionBy("table_id", "row_id", "map_key")
    mapped
      .withColumn("cnt", count(lit(1)).over(w))
      .where(col("cnt") >= colCount)
      .drop("cnt")
  }

  /** Per-key posting counts over an index, session-cached
    * (`idxstats:`): the hot-key guard's statistic ([[Narrow.DfCap]],
    * [[Narrow.DfCapFraction]]), which needs every key's df, not only
    * the probed ones. Session-cached rather than a per-query pass, so
    * the stats scan amortizes over every query in the session; on a
    * cluster this table is written beside
    * the snapshot (vocabulary-sized, thin) exactly like an ANALYZE
    * artifact ([[graft.sources.IndexBuilder.loadOrBuildKeyStats]]).
    * [[conjunctionAnchored]] accepts it as its anchor statistic;
    * [[searchTables]]' fill does not read it: it counts its probe
    * output instead ([[probeKeyStats]]), which for every query key is
    * the same number and, over a live index that changes identity per
    * landed batch, avoids a whole-index aggregation and an
    * `idxstats:` entry per batch.
    */
  def indexKeyStats(index: DataFrame): DataFrame = {
    import graft.sources.DfCache
    DfCache.getOrPersist(index.sparkSession, s"idxstats:${index.semanticHash()}")(
      index.groupBy("key").agg(count(lit(1)).as("kdf")))
  }

  /** Per-key posting counts over a probe output: for every probed key
    * its corpus df, since the probe keeps all of a key's postings.
    */
  private def probeKeyStats(postings: DataFrame): DataFrame =
    postings.groupBy("key").agg(count(lit(1)).as("kdf"))

  /** The query-side anchor/req derivation of the anchored conjunction:
    * per query row, in ONE aggregation (round-17 —
    * previously a distinct + per-map_key window + separate req
    * groupBy + join, three query-side exchanges and five stages for
    * the same tiny frame), its full entry list (multiplicity kept)
    * and the rarest postings-bearing key as the join anchor. The
    * struct min over (kdf, key) IS the old window's
    * orderBy(kdf asc, key asc) rn=1 — struct ordering is
    * field-lexicographic — and `min` skips the null kdf of keys
    * without postings (the left join keeps them so `req` stays
    * complete; a map_key with NO postings-bearing key gets a null
    * anchor and drops, exactly the old inner join's behavior).
    * Query-side: tiny, broadcast by every consumer. Unpersisted, over
    * a statistic covering at most the query's keys (`queryKeyDf`,
    * broadcast here), built inside whatever plan
    * [[conjunctionAnchored]] is part of.
    */
  private def anchorsPlan(maps: DataFrame, queryKeyDf: DataFrame): DataFrame =
    maps
      .join(broadcast(queryKeyDf), Seq("key"), "left_outer")
      .groupBy("map_key")
      .agg(collect_list(col("key")).as("req"),
        min(when(col("kdf").isNotNull,
          struct(col("kdf"), col("key")))).as("a"))
      .where(col("a").isNotNull)
      .select(col("map_key"), col("a.key").as("anchor_key"), col("req"))

  /** Anchored conjunction — the multi-attribute match (W1+J1+W2) as a
    * prefix-filtered set-containment join, the 100 TB physical shape,
    * and the one conjunction every anchored path builds
    * ([[searchTables]]' `colscores:` fill included). Unpersisted: it
    * is [[rowKeysOf]] + [[anchorsPlan]], planned into its caller.
    *
    * The windowed form joins EVERY surviving posting to EVERY query
    * row containing its key and then counts per (row, map_key) group:
    * its intermediate is Σ_key df(key)·rows(key) — 4.2M rows for the
    * 3-attribute part search at sf0.1 (60k postings), and
    * Ω(corpus · query-rows-per-key) in general, because a
    * low-selectivity attribute (a brand, a status flag) multiplies
    * the whole corpus posting list by its query fan-out before
    * anything narrows. This is the prefix-filter alternative (the
    * public SSJoin/PPJoin technique re-expressed relationally): each
    * query row joins the corpus through its RAREST key only, then the
    * remaining attributes verify by map containment against the row's
    * matched-key set. The blowup term becomes Σ_mapkey df(anchor) —
    * proportional to the most selective attribute, not the least.
    *
    * The anchor statistic is the per-key posting count of `postings`
    * ([[probeKeyStats]]: the probe keeps every posting of a matching
    * key, so it IS the corpus df and needs no second index pass), or,
    * when `stats` is supplied (normally [[indexKeyStats]] or the
    * durable [[graft.sources.IndexBuilder.loadOrBuildKeyStats]]),
    * those stats narrowed to the query's keys FIRST by a broadcast
    * semi-join — the stats table is vocabulary-sized at scale and must
    * never itself be the broadcast side. Anchor choice cannot change
    * results — a conjunction row contains EVERY key of its map_key,
    * any anchor included — so any posting-count statistic is correct.
    *
    * Output is row-identical (multiset) to
    * `matches(joinMapped(reduce(postings, n), maps), n)`:
    *  - a (row, map_key) group survives the windowed count iff every
    *    maps entry of map_key (WITH multiplicity — duplicate cleaned
    *    values in one query row count twice) finds its key among the
    *    row's distinct matched keys, and the row carries >= n distinct
    *    matched keys (W1); both re-checked here literally;
    *  - the recover step explodes the verified map_key's entry list,
    *    restoring per-entry multiplicity and min-column attribution.
    *
    * Shuffle audit: ONE corpus lineage — the per-row key set — and
    * broadcasts everywhere else. Candidates derive from the key set
    * itself (explode + broadcast anchor join), so anchoring adds no
    * second pass over the postings and no row-side verify join at
    * all. The windowed form's two full-width window exchanges over
    * the joined blowup are gone.
    */
  def conjunctionAnchored(postings: DataFrame, maps: DataFrame, colCount: Int,
      stats: Option[DataFrame] = None): DataFrame = {
    val queryKeyDf = stats.fold(probeKeyStats(postings))(
      _.join(broadcast(maps.select("key").distinct()), Seq("key"), "left_semi"))
    rowKeysOf(postings)
      .select(col("table_id"), col("row_id"), col("kcs"), col("kmap"),
        explode(col("kcs")).as("kc"))
      .join(broadcast(anchorsPlan(maps, queryKeyDf)), col("kc.key") === col("anchor_key"))
      .where(size(col("kcs")) >= colCount &&
        expr("forall(req, k -> map_contains_key(kmap, k))"))
      .select(col("table_id"), col("row_id"), col("map_key"), col("kmap"),
        explode(col("req")).as("key"))
      .select(col("key"), col("table_id"),
        expr("try_element_at(kmap, key)").cast("int").as("column_id"),
        col("row_id"), col("map_key"))
  }

  /** A1: per-column join score (`Par_Search.py:312-316`). */
  def columnScores(m: DataFrame): DataFrame =
    m.groupBy("table_id", "column_id").agg(count(lit(1)).as("join_score"))

  /** W3: top-colCount columns per table, deterministic tie-break
    * (`Par_Search.py:318-322`).
    */
  def topColumns(colScores: DataFrame, colCount: Int): DataFrame = {
    val w = Window.partitionBy("table_id")
      .orderBy(col("join_score").desc, col("column_id").asc)
    colScores
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= colCount)
      .drop("rn")
  }

  /** A2: table score = sum of its top-colCount column scores
    * (`Par_Search.py:324-327`).
    */
  def tableScores(topCols: DataFrame): DataFrame =
    topCols.groupBy("table_id")
      .agg(sum("join_score").cast("long").as("join_score"))

  /** Which part of the index a search reads: the postings its
    * [[searchTables]] fill probes. Every case keeps each posting of a
    * table and key it admits, so the anchored conjunction over the
    * narrowed index is the conjunction over the whole index restricted
    * to what the narrowing admits.
    */
  sealed trait Narrow

  object Narrow {

    /** The whole index. */
    case object All extends Narrow

    /** Hot-key guard with an absolute cap: [[probeCapped]] over the
      * index's own [[indexKeyStats]], which for a live index counts
      * the base and every landed delta.
      */
    final case class DfCap(maxDf: Long) extends Narrow

    /** Hot-key guard with a corpus-fraction cap:
      * [[probeCappedFraction]] over [[indexKeyStats]];
      * [[DefaultCapFractionBp]] is the form a deployment should reach
      * for, since an absolute cap is scale-relative.
      */
    final case class DfCapFraction(fracBp: Long) extends Narrow

    /** Sketch pre-filter: the index restricted to `table_id IN`
      * [[prunedTableIds]], the tables the sketch cannot rule out
      * ([[prunedTables]] is conservative, so answers equal the
      * unnarrowed search's). On the `table_id`-partitioned snapshot
      * ([[graft.sources.IndexBuilder.loadOrSnapshotPartitioned]]) the
      * literal list becomes the scan's PartitionFilters and pruned
      * tables' files are never listed into the plan; on the merged
      * index it is a plain filter. `sketch` must describe the postings
      * the index serves ([[graft.streaming.IndexStream
      * .tableSketchWithDeltas]] for a live index): a stale sketch
      * drops tables that now match.
      */
    final case class Sketch(sketch: DataFrame) extends Narrow
  }

  private def narrowed(index: DataFrame, maps: DataFrame, colCount: Int,
      narrow: Narrow): DataFrame = narrow match {
    case Narrow.All => index
    case Narrow.DfCap(maxDf) => probeCapped(index, maps, maxDf)
    case Narrow.DfCapFraction(fracBp) =>
      probeCappedFraction(index, maps, fracBp, indexKeyStats(index))
    case Narrow.Sketch(sketch) =>
      index.where(col("table_id").isin(prunedTableIds(sketch, maps, colCount): _*))
  }

  /** End-to-end: ranked table scores (O2/O3, `Par_Search.py:324-330`).
    * Default physical strategy is [[conjunctionAnchored]]; the staged
    * windowed pipeline remains available as [[searchTablesWindowed]]
    * and via the per-stage operators. `narrow` restricts the index
    * first: the hot-key guard or the sketch pre-filter ([[Narrow]]).
    *
    * Persist boundary: the column scores `(table_id, column_id,
    * join_score)` — one row per matched corpus column — are the
    * session persist, keyed `colscores:<narrowed index hash>:<maps
    * hash>` (the narrowed plan carries the narrowing's own inputs and
    * the maps plan encodes the column count, so the pair fixes the
    * answer), and the ONLY entry a fill adds. [[searchTablesSeqParity]]
    * and [[searchColumns]] read the same entry. The persisted frame is
    * detached from its lineage ([[org.apache.spark.sql.graftx.Bridge
    * .detach]]): a warm search neither builds, hashes nor re-renders
    * the fill plan — it is the cached maps lookup plus the
    * topColumns/tableScores/limit tail over the ONE cached partition,
    * a single exchange-free job, for every narrowing: a
    * [[Narrow.Sketch]] search's table list is session-memoized
    * ([[prunedTableIds]]).
    *
    * The fill, on a miss: the probe is one filter on the query's
    * distinct key list (see [[probe]]), collected once per maps hash
    * and memoized ([[queryKeys]]), and the column scores of its
    * [[conjunctionAnchored]] — self-contained, so the anchor statistic
    * is the per-key posting count of that probe output, equal to
    * [[indexKeyStats]] for every query key. Over a
    * narrowed index the counts are the narrowed ones; that only moves
    * which key joins first, since every conjunction row contains every
    * key of its query row. The column-score aggregation's map-side
    * partial aggregation stays parallel and only the merge of the
    * per-(table, column) counts, bounded by the number of matched
    * columns, runs in one task. The
    * detach runs the fill's shuffle stages inside this call; the
    * final stage runs with the caller's first action. A live index
    * ([[graft.streaming.IndexStream.loadWithDeltas]]) reads a new
    * file set after every commit, so its hash — and the key — moves
    * with it, and each landed batch costs one `colscores:` entry.
    */
  def searchTables(index: DataFrame, query: DataFrame, cols: Seq[String],
      maxTables: Int = 20, narrow: Narrow = Narrow.All): DataFrame =
    ranked(columnScoresCached(index, query, cols, narrow), cols.size, maxTables)

  /** The ranking tail every table search ends in: each table's top
    * `topN` column scores summed (W3+A2), ranked by score with the
    * table id as the total-order tie-breaker, first `maxTables` kept
    * (O2/O3).
    */
  private def ranked(colScores: DataFrame, topN: Int, maxTables: Int): DataFrame =
    tableScores(topColumns(colScores, topN))
      .orderBy(col("join_score").desc, col("table_id").asc)
      .limit(maxTables)

  /** The `colscores:` entry of (narrowed index, query): see
    * [[searchTables]].
    */
  private def columnScoresCached(index: DataFrame, query: DataFrame,
      cols: Seq[String], narrow: Narrow): DataFrame = {
    val (m, mapsHash) = preparedMappingsHashed(query, cols)
    val idx = narrowed(index, m, cols.size, narrow)
    fillPlans.value(() => columnScoresFill(idx, m, mapsHash, cols.size))
    graft.sources.DfCache.getOrPersist(index.sparkSession,
      s"colscores:${idx.semanticHash()}:$mapsHash") {
      // coalesce after the detach: a detached frame reports no output
      // partitioning, and the warm tail needs the one partition known
      graft.sources.DfCache.cut(columnScoresFill(idx, m, mapsHash, cols.size),
        graft.sources.DfCache.Cut.Detach).coalesce(1)
    }
  }

  /** Handed, on every [[columnScoresCached]] call, hit or miss, a
    * builder of the fill plan behind the entry, so a plan audit over
    * a search sees what the detach hides (`GenerateAuditSpec`). A
    * no-op unless an audit binds it.
    */
  private[graft] val fillPlans =
    new scala.util.DynamicVariable[(() => DataFrame) => Unit](_ => ())

  /** The plan [[searchTables]] fills `colscores:` from, before the
    * detach hides it — for the plan specs.
    */
  private[graft] def columnScoresFill(index: DataFrame, query: DataFrame,
      cols: Seq[String], narrow: Narrow = Narrow.All): DataFrame = {
    val (m, mapsHash) = preparedMappingsHashed(query, cols)
    columnScoresFill(narrowed(index, m, cols.size, narrow), m, mapsHash, cols.size)
  }

  private def columnScoresFill(index: DataFrame, maps: DataFrame,
      mapsHash: Int, colCount: Int): DataFrame = {
    val probed = index.where(col("key").isin(queryKeys(maps, mapsHash): _*))
    columnScores(conjunctionAnchored(probed, maps, colCount))
  }

  /** Batched multi-query search: N query tables, each answered by
    * its own [[searchTables]] under the batch's `maxTables` and
    * `narrow`, tagged with its query_id. The reference's CLI runs one
    * query per invocation (`main.py:6-22`); a batch is the union of
    * those runs, so a member's rows equal its single search by
    * construction — its conjunction floor counts only its own keys,
    * and a [[Narrow.Sketch]] verdict is its own — and every member
    * reads and fills the `colscores:` entry its single search would:
    * a warm batch is the members' tails, and a batch warms each
    * member for a later single search. On a miss the members fill,
    * and probe the index, one after another; there is no shared
    * probe across members.
    *
    * Output: `(query_id, table_id, join_score)` — per-query
    * top-`maxTables`, ordered (query_id, score desc, table_id).
    */
  def searchTablesBatch(index: DataFrame,
      queries: Seq[(String, DataFrame, Seq[String])],
      maxTables: Int = 20, narrow: Narrow = Narrow.All): DataFrame = {
    require(queries.nonEmpty, "searchTablesBatch needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      s"duplicate query_ids: ${queries.map(_._1).mkString(", ")}")
    queries.map { case (qid, q, cols) =>
      searchTables(index, q, cols, maxTables, narrow)
        .select(lit(qid).as("query_id"), col("table_id"), col("join_score"))
    }.reduce(_ unionByName _)
      .orderBy(col("query_id"), col("join_score").desc, col("table_id"))
  }

  /** Seq-parity mode (A3+O4 contract): the reference's sequential
    * engine ranks tables by the sum of their TOP-2 column scores
    * regardless of how many attributes the query carries
    * (`Object.py:76-80` — `Counter.most_common(2)` — while par sums
    * top-N, `Par_Search.py:318-327`), and keeps the top 30 tables
    * (`Seq_Search.py:10` `MAX_OBJECTS`, `:258-270` bounded
    * `bisect.insort`). Match semantics are unchanged — all N
    * attributes must still conjoin — only the SCORE truncates at two
    * columns, so for N > 2 this genuinely diverges from
    * [[searchTables]] (A2∘W3) and the divergence is what the parity
    * oracle pins. For N = 2 the two modes coincide by construction.
    * The column scores are [[searchTables]]' `colscores:` entry.
    */
  def searchTablesSeqParity(index: DataFrame, query: DataFrame,
      cols: Seq[String], maxTables: Int = 30): DataFrame =
    ranked(columnScoresCached(index, query, cols, Narrow.All), 2, maxTables)

  /** The original staged windowed pipeline end-to-end (W1 window ->
    * broadcast J1 -> W2 window) — result-identical to [[searchTables]],
    * kept as a first-class registered cross-check of the anchored
    * strategy and as the form whose stages the per-stage queries pin.
    */
  def searchTablesWindowed(index: DataFrame, query: DataFrame, cols: Seq[String],
      maxTables: Int = 20): DataFrame = {
    val m = preparedMappings(query, cols)
    ranked(columnScores(matches(joinMapped(reduce(probe(index, m), cols.size), m), cols.size)),
      cols.size, maxTables)
  }

  /** Size-gated dispatch between the hinted default and the
    * degradation form (round-7 "what's wrong" #3: nothing routed
    * between them automatically — a 10 GB query table handed to
    * [[searchTables]] was still a forced broadcast, a driver OOM
    * rather than a slow plan). The gate is Catalyst's own broadcast
    * economics: route to the hinted plan only when the optimized
    * query plan's size estimate fits `autoBroadcastJoinThreshold`
    * (scaled by the per-row blowup of [[mappings]] — each query row
    * becomes `cols.size` key rows plus the map_key payload);
    * otherwise take [[searchTablesShuffled]], where every join
    * strategy is Catalyst/AQE's choice and a huge query degrades to
    * shuffled hash joins that complete. A disabled threshold
    * (<= 0) always degrades. Results are identical on both routes
    * (`strategy_shuffled` shares the oracle); only the physical plan
    * moves.
    */
  def searchTablesAuto(index: DataFrame, query: DataFrame, cols: Seq[String],
      maxTables: Int = 20): DataFrame =
    if (fitsBroadcast(query, cols)) searchTables(index, query, cols, maxTables)
    else searchTablesShuffled(index, query, cols, maxTables)

  /** [[searchTablesAuto]]'s routing gate: the query's mapped size
    * estimate fits the session's `autoBroadcastJoinThreshold`.
    */
  private[graft] def fitsBroadcast(query: DataFrame, cols: Seq[String]): Boolean = {
    val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      query.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    val queryBytes = query.queryExecution.optimizedPlan.stats.sizeInBytes
    threshold > 0 && queryBytes * (cols.size + 1) <= threshold
  }

  /** Shuffle-degradation form: the windowed pipeline with NO
    * broadcast hints. Every other strategy here force-broadcasts the
    * query-derived sides — correct while the query table is small,
    * which the reference does not guarantee (`lines=0` means "search
    * with the whole file", `Par_Search.py:151-153`): above
    * `autoBroadcastJoinThreshold` a forced broadcast is a driver
    * OOM, not a slow plan. This form leaves every join strategy to
    * Catalyst/AQE — small query tables still broadcast (threshold
    * permitting), huge ones degrade to shuffled hash joins and the
    * job completes. Result-identical to [[searchTables]];
    * [[graft.JoinSearchSpec]] pins equality AND the no-broadcast
    * plan under a disabled threshold.
    */
  def searchTablesShuffled(index: DataFrame, query: DataFrame,
      cols: Seq[String], maxTables: Int = 20): DataFrame = {
    // NO maps persist here, deliberately: this is the huge-query
    // degradation route — materializing a one-shot giant query table
    // to executor storage is the thing this form exists to avoid.
    val m = mappings(prepareInput(query, cols), cols)
    val probed = index.join(m.select("key").distinct(), Seq("key"), "left_semi")
    val mapped = reduce(probed, cols.size).join(m, Seq("key"))
    ranked(columnScores(matches(mapped, cols.size)), cols.size, maxTables)
  }

  /** End-to-end: ranked column scores (`Par_Search.py:329`), from
    * [[searchTables]]' `colscores:` entry.
    */
  def searchColumns(index: DataFrame, query: DataFrame, cols: Seq[String],
      maxTables: Int = 20): DataFrame =
    topColumns(columnScoresCached(index, query, cols, Narrow.All), cols.size)
      .orderBy(col("join_score").desc, col("table_id").asc, col("column_id").asc)
      .limit(2 * maxTables)

  /** Row-wise strategy (the reference's per-query-row traversal,
    * `Seq_Search.py:143-166`, re-expressed relationally): no W1
    * pre-filter — the conjunction narrows after the join instead of
    * before it, trading early pruning for one fewer pre-join window.
    *
    * W2's per-(row, map_key) entry count subsumes W1's >= N
    * DISTINCT-matched-keys floor only for distinct-keyed query rows:
    * a duplicate-key query row (two attributes cleaning to the same
    * value) reaches cnt = N through repeated maps entries of ONE key,
    * which W1 would have rejected. The floor therefore still applies,
    * computed post-join as the per-(table,row) distinct-key count
    * over the mapped postings — the same set dedup carries, since
    * every probed key is a maps key by construction. (Divergence
    * found by the cross-strategy randomized property spec.)
    */
  def searchTablesRowWise(index: DataFrame, query: DataFrame,
      cols: Seq[String], maxTables: Int = 20): DataFrame = {
    val m = preparedMappings(query, cols)
    // per-(table,row,key) min-column dedup == the key sets exploded
    // with no count floor (colCount = 1).
    // The W1 floor (>= N DISTINCT matched keys per row, counted over
    // ALL the row's postings including ones whose own map_key group
    // fails the conjunction) is `size(kcs)` — the key-set frame
    // already holds each row's deduped key set, so carrying it
    // through the explode replaces the post-join collect_set window
    // (a corpus-side exchange + sort over the mapped fan-out) with a
    // row-local projection. Same value per (table, row) by
    // construction: the mapped postings' distinct keys ARE the kcs
    // entries (every probed key is a maps key).
    val dedup = rowKeysOf(probe(index, m))
      .select(col("table_id"), col("row_id"),
        size(col("kcs")).as("dk"), explode(col("kcs")).as("kc"))
      .select(col("kc.key").as("key"), col("table_id"),
        col("kc.column_id").as("column_id"), col("row_id"), col("dk"))
    val mapped = joinMapped(dedup, m)
    val conj = matches(mapped, cols.size)
      .where(col("dk") >= cols.size)
      .drop("dk")
    ranked(columnScores(conj), cols.size, maxTables)
  }

  /** Cell-wise strategy (the reference's per-cell probes,
    * `Seq_Search.py:150-156`, where every query cell issues its own
    * lookup): the probe becomes a union of per-column broadcast
    * semi-joins, deduplicated back to the posting set — the same set
    * [[probe]]'s single semi-join produces, but scanning the index
    * once per query column. Downstream stages are shared. Identical
    * results to [[searchTables]]; registered as a cross-check.
    * (At scale the single-probe col-wise form wins — N-1 fewer index
    * scans — which is exactly the comparison the reference draws
    * between its seq and par engines.)
    */
  def searchTablesCellWise(index: DataFrame, query: DataFrame,
      cols: Seq[String], maxTables: Int = 20): DataFrame = {
    val prep = prepareInput(query, cols)
    val m = mappings(prep, cols)
    val probed = cols.map(c =>
        index.join(broadcast(prep.select(col(c).as("key")).distinct()),
          Seq("key"), "left_semi"))
      .reduce(_ unionByName _)
      .distinct()
    ranked(columnScores(matches(joinMapped(reduce(probed, cols.size), m), cols.size)),
      cols.size, maxTables)
  }

  /** Alternate physical strategy: the W1/W2 whole-partition window
    * counts re-expressed as groupBy().count() + broadcast-able join —
    * identical results, different plan (SURVEY §4 "rewrite with
    * unordered windows or groupBy+join"). Serves as a built-in
    * cross-check of the window formulation.
    *
    * The count-filter + join shape consumes each subtree twice (the
    * dedup feeds both the row counts and the kept join; ditto mapped)
    * — without a persist the probe chain executed up to 4x and this
    * query regressed to the #4 bench line in round 2. The mapped
    * subtree persists MEMORY_AND_DISK (`gbv-mapped:`), so the dedup's
    * two reads both happen inside its one fill. It is registered in
    * [[graft.sources.DfCache]] under the plan's semanticHash: a bare
    * per-call `.persist()` pins blocks in the SQL CacheManager forever
    * (it holds a strong reference — the ContextCleaner never reaps
    * them), so every invocation leaked a cached plan for the life of
    * the session. Semantic keying dedups repeat invocations to one
    * cached copy.
    */
  def searchTablesViaGroupBy(index: DataFrame, query: DataFrame,
      cols: Seq[String], maxTables: Int = 20): DataFrame = {
    import graft.sources.DfCache
    val colCount = cols.size
    val m = preparedMappings(query, cols)
    // the (t,r,key) min-column dedup, unpersisted: both consumers
    // below read it inside the one `gbv-mapped:` fill.
    val dedup = reduce(probe(index, m), 1)
    val rowCounts = dedup.groupBy("table_id", "row_id")
      .agg(count(lit(1)).as("cnt")).where(col("cnt") >= colCount)
    val kept = dedup.join(rowCounts.select("table_id", "row_id"),
      Seq("table_id", "row_id"))
    val mapped0 = kept.join(broadcast(m), Seq("key"))
    val mapped = DfCache.getOrPersist(index.sparkSession,
      s"gbv-mapped:${mapped0.semanticHash()}")(mapped0)
    val grpCounts = mapped.groupBy("table_id", "row_id", "map_key")
      .agg(count(lit(1)).as("cnt")).where(col("cnt") >= colCount)
    val matched = mapped.join(
      grpCounts.select("table_id", "row_id", "map_key"),
      Seq("table_id", "row_id", "map_key"))
    ranked(columnScores(matched), colCount, maxTables)
  }

  // ---- table-pruning pre-filter (the 100 TB search accelerator) ----

  /** Bit width of the per-(table,column) key sketch. 4096 single-hash
    * buckets ≈ a k=1 Bloom filter: ≤ 16 KiB per column even for a
    * column with millions of distinct keys, and the false-positive
    * rate (fill/4096) only ever KEEPS a table — never drops one.
    */
  val SketchBits = 4096

  /** The per-(table,column) distinct-key sketch: each column's
    * distinct cleaned keys hashed into [[SketchBits]] buckets,
    * collected to a sorted bucket array. A build-time artifact
    * (beside the key-stats table — [[graft.sources.IndexBuilder
    * .loadOrBuildTableSketch]] persists it with the snapshot): ONE
    * aggregation pass over the postings, map-side partials, group
    * memory bounded by the bit width. Its size is
    * #(table,column) × ≤4096 ints — independent of corpus volume,
    * which is what makes it checkable against a query in
    * milliseconds while the posting index is 100 TB.
    */
  def tableKeySketch(index: DataFrame): DataFrame =
    index.select(col("table_id"), col("column_id"),
        pmod(hash(col("key")), lit(SketchBits)).as("bit"))
      .groupBy("table_id", "column_id")
      .agg(sort_array(collect_set("bit")).as("bits"))

  /** Session-cached [[tableKeySketch]], keyed by index identity like
    * [[indexKeyStats]].
    */
  def tableKeySketchCached(index: DataFrame): DataFrame = {
    import graft.sources.DfCache
    DfCache.getOrPersist(index.sparkSession,
      s"idxsketch:${index.semanticHash()}")(tableKeySketch(index))
  }

  /** The set of corpus tables that could possibly produce a
    * conjunction row, from the sketch alone — the pre-filter that
    * stops a search from paying posting-level work for the 99 % of a
    * data lake's tables that share no vocabulary with the query.
    *
    * A table survives iff BOTH necessary conditions hold:
    *  - breadth: ≥ colCount of its columns sketch-hit at least one
    *    query key. A matching corpus row carries ≥ colCount distinct
    *    matched keys (W1), and distinct keys in one row live in
    *    distinct columns (a cell cleans to exactly one key), so a
    *    table with fewer hitting columns cannot host one;
    *  - coverage: for SOME query row, every one of its distinct keys
    *    sketch-hits the table (union of its column sketches). A
    *    conjunction row contains every key of its map_key, so a
    *    table provably missing one key of every query row matches
    *    nothing.
    * Sketch hits are one-sided (hash-bucket membership has false
    * positives, never false negatives), so both checks only ever
    * over-keep: a [[Narrow.Sketch]] search is exactly the unnarrowed
    * [[searchTables]] on the survivors. Both sides of every join here
    * are sketch/query-sized — nothing touches the postings.
    */
  def prunedTables(sketch: DataFrame, maps: DataFrame, colCount: Int): DataFrame = {
    val keyBit = pmod(hash(col("key")), lit(SketchBits))
    // all the query's distinct keys' bits (breadth side).
    val qbits = maps.select("key").distinct()
      .agg(collect_set(keyBit).as("qbits"))
    // per query row: its distinct keys' bits (coverage).
    val reqs = maps.select("key", "map_key").distinct()
      .groupBy("map_key").agg(collect_set(keyBit).as("rbits"))
    // breadth: how many of the table's columns hit any query bit.
    val colsHit = sketch.crossJoin(broadcast(qbits))
      .withColumn("col_hit",
        expr("exists(bits, b -> array_contains(qbits, b))"))
      .groupBy("table_id")
      .agg(sum(when(col("col_hit"), 1).otherwise(0)).as("cols_hit"))
    // the table's full bit union is query-INDEPENDENT: session-
    // persisted per sketch (round-17), so a pruned search does not
    // re-run this flatten+distinct over the whole sketch; it is a pure
    // function of the sketch frame, metadata-sized.
    val tableBits = graft.sources.DfCache.getOrPersist(
      sketch.sparkSession, s"tablebits:${sketch.semanticHash()}")(
      sketch.groupBy("table_id")
        .agg(array_distinct(flatten(collect_list("bits"))).as("tbits")))
    val verdict = colsHit
      .where(col("cols_hit") >= colCount)
      .join(broadcast(tableBits), Seq("table_id"))
      .crossJoin(broadcast(reqs))
      .where(expr("forall(rbits, b -> array_contains(tbits, b))"))
      .select("table_id").distinct()
    // session-persisted verdict (round-18): the routing evaluation is
    // metadata-sized but STAGE-heavy — the qbits/reqs distinct +
    // aggregation pairs, the colsHit sketch pass and the broadcast
    // joins are ~a dozen sequential tiny stages, which every pruned
    // search re-ran per invocation. The verdict is a pure function of
    // (sketch, query) — exactly what its semantic hash keys — and is
    // bounded by the lake's table count.
    graft.sources.DfCache.getOrPersist(sketch.sparkSession,
      s"prunedverdict:${verdict.semanticHash()}")(verdict)
  }

  /** The sketch's allowed-table set as literal table ids — the
    * routing step of a [[Narrow.Sketch]] search, exposed for the
    * plan/metrics specs. The `.collect()` here is deliberate and is
    * NOT a data collect: the sketch verdict is metadata-sized
    * (bounded by the lake's table count, like the catalog listing
    * itself), and static partition pruning requires plan-time
    * literals — this is the same altitude as a query planner reading
    * partition metadata. The list is session-memoized (`prunedids:`)
    * under the verdict's semantic hash, the key of the verdict's own
    * persist, so a warm [[Narrow.Sketch]] search runs no routing job
    * and the memo is exactly as fresh as the verdict. Every id is
    * boxed through `Number` so int and long sketches both route.
    */
  def prunedTableIds(sketch: DataFrame, maps: DataFrame, colCount: Int): Seq[Int] = {
    val verdict = prunedTables(sketch, maps, colCount)
    graft.sources.DfCache.memo(sketch.sparkSession,
        s"prunedids:${verdict.semanticHash()}")(verdict) {
      _.collect().map(_.getAs[Number]("table_id").intValue).toSeq.sorted
    }
  }
}
