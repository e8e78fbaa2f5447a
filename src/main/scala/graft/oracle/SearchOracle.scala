package graft.oracle

import graft.functions.Tokenize
import graft.sources.Corpus

/** Generates the DuckDB oracle SQL for the index builder and every
  * stage of the join-search pipeline. The SQL mirrors, stage for
  * stage, what [[graft.sources.IndexBuilder]] and
  * [[graft.operators.JoinSearch]] compute — same cleaning chain
  * ([[Tokenize.cleanSql]]), same row-id expressions ([[Corpus]]),
  * same deterministic tie-breakers — so the driver's hash compare is
  * exact.
  */
object SearchOracle {

  /** CTE list for the inverted index: `raw_idx` (unpivot) and `idx`
    * (cleaned, non-empty). Mirrors [[graft.sources.IndexBuilder.build]].
    */
  def indexCtes: String = {
    val branches = Corpus.tables.flatMap { t =>
      t.textCols.zipWithIndex.map { case (c, i) =>
        s"""SELECT cast("$c" as varchar) AS raw, ${t.id} AS table_id, ${i + 1} AS column_id, cast(${t.rowIdExpr} as bigint) AS row_id FROM ${t.name}"""
      }
    }
    indexCtesOver(branches.mkString("\n    UNION ALL "))
  }

  /** Index CTEs over an ARBITRARY `raw_idx` body (any SQL yielding
    * `(raw, table_id, column_id, row_id)`) — the seam that lets a
    * DERIVED corpus (e.g. the denormalized wide view behind the
    * nonempty N=5 search) share the exact cleaning/posting semantics
    * of the catalog index.
    */
  def indexCtesOver(rawIdxSql: String): String =
    s"""raw_idx AS (
    ${rawIdxSql}
  ),
  idx AS (
    SELECT ${Tokenize.cleanSql("raw")} AS key, table_id, column_id, row_id
    FROM raw_idx WHERE raw IS NOT NULL
  ),
  idxf AS (SELECT * FROM idx WHERE key <> '')"""

  /** A search query table: `fromSql` must yield the raw (uncleaned)
    * columns `cols`.
    */
  final case class QuerySpec(fromSql: String, cols: Seq[String])

  /** Stage CTEs mirroring [[graft.operators.JoinSearch]]:
    * qraw -> qdedup (P1-P4) -> qclean (P5+F1) -> maps (F2+G1) ->
    * postings (J5) -> reduced (P6) -> kept (W1) -> mapped (J1) ->
    * matches (W2) -> col_scores (A1) -> top_cols (W3) -> tbl_scores (A2).
    */
  def searchCtes(q: QuerySpec): String = searchCtes(q, None)

  /** As [[searchCtes]], optionally inserting the hot-key df cap
    * between the probe and the reduction (mirrors
    * `JoinSearch.probeCapped`).
    */
  def searchCtes(q: QuerySpec, maxDf: Option[Long]): String =
    searchCtesCapPred(q, maxDf.map(cap => s"kdf <= $cap"))

  /** Cap generalized to a predicate over `kdf` (the per-key df) so
    * the fraction form can reference the corpus total (mirrors
    * `JoinSearch.probeCappedFraction`: integer arithmetic, df over
    * the whole index — which equals the window count here because
    * every posting of a probed key survives the probe).
    */
  private def searchCtesCapPred(q: QuerySpec, capPred: Option[String]): String = {
    val n = q.cols.size
    val colList = q.cols.map(c => s""""$c"""").mkString(", ")
    val notNull = q.cols.map(c => s""""$c" IS NOT NULL""").mkString(" AND ")
    val cleaned = q.cols.map { c =>
      s"""${Tokenize.cleanSql(s"""replace("$c", chr(160), '')""")} AS "$c""""
    }.mkString(",\n      ")
    // map_key delimiter = chr(1), mirroring JoinSearch.MapKeyDelim.
    val mapKey = q.cols.map(c => s""""$c"""").mkString(" || chr(1) || ")
    val mapBranches = q.cols.map { c =>
      s"""SELECT "$c" AS key, $mapKey AS map_key FROM qclean"""
    }.mkString("\n    UNION ALL ")
    s"""qraw AS (${q.fromSql}),
  qdedup AS (SELECT DISTINCT $colList FROM qraw WHERE $notNull),
  qclean AS (
    SELECT DISTINCT $cleaned
    FROM qdedup
  ),
  maps AS (
    $mapBranches
  ),
  postings_raw AS (
    SELECT i.key, i.table_id, i.column_id, i.row_id FROM idxf i
    WHERE i.key IN (SELECT key FROM maps)
  ),
  postings AS (${capPred.fold("SELECT * FROM postings_raw")(pred =>
    s"""SELECT key, table_id, column_id, row_id FROM (
      SELECT p.*, count(*) OVER (PARTITION BY key) AS kdf FROM postings_raw p
    ) WHERE $pred""")}
  ),
  reduced AS (
    SELECT key, table_id, min(column_id) AS column_id, row_id
    FROM postings GROUP BY key, table_id, row_id
  ),
  kept AS (
    SELECT key, table_id, column_id, row_id FROM (
      SELECT r.*, count(*) OVER (PARTITION BY table_id, row_id) AS cnt
      FROM reduced r
    ) WHERE cnt >= $n
  ),
  mapped AS (
    SELECT k.key, k.table_id, k.column_id, k.row_id, m.map_key
    FROM kept k JOIN maps m USING (key)
  ),
  matches AS (
    SELECT key, table_id, column_id, row_id, map_key FROM (
      SELECT md.*, count(*) OVER (PARTITION BY table_id, row_id, map_key) AS cnt
      FROM mapped md
    ) WHERE cnt >= $n
  ),
  col_scores AS (
    SELECT table_id, column_id, count(*) AS join_score
    FROM matches GROUP BY table_id, column_id
  ),
  top_cols AS (
    SELECT table_id, column_id, join_score FROM (
      SELECT cs.*, row_number() OVER (
        PARTITION BY table_id ORDER BY join_score DESC, column_id ASC) AS rn
      FROM col_scores cs
    ) WHERE rn <= $n
  ),
  tbl_scores AS (
    SELECT table_id, cast(sum(join_score) AS bigint) AS join_score
    FROM top_cols GROUP BY table_id
  )"""
  }

  /** Full oracle statement selecting one stage, totally ordered. */
  def stage(q: QuerySpec, finalSelect: String): String =
    stageOver(indexCtes, q, finalSelect)

  /** [[stage]] over a caller-supplied index CTE block
    * ([[indexCtesOver]]) — derived-corpus searches.
    */
  def stageOver(idxCtes: String, q: QuerySpec, finalSelect: String): String =
    s"WITH ${idxCtes},\n  ${searchCtes(q)}\n$finalSelect"

  /** Oracle for the end-to-end table-score search. */
  def tableScores(q: QuerySpec, maxTables: Int = 20): String =
    stage(q,
      s"SELECT table_id, join_score FROM tbl_scores ORDER BY join_score DESC, table_id ASC LIMIT $maxTables")

  /** [[tableScores]] over a derived index ([[indexCtesOver]]). */
  def tableScoresOver(idxCtes: String, q: QuerySpec, maxTables: Int = 20): String =
    stageOver(idxCtes, q,
      s"SELECT table_id, join_score FROM tbl_scores ORDER BY join_score DESC, table_id ASC LIMIT $maxTables")

  /** Oracle for the df-capped table-score search. */
  def tableScoresCapped(q: QuerySpec, maxDf: Long, maxTables: Int = 20): String =
    s"WITH ${indexCtes},\n  ${searchCtes(q, Some(maxDf))}\n" +
      s"SELECT table_id, join_score FROM tbl_scores ORDER BY join_score DESC, table_id ASC LIMIT $maxTables"

  /** Oracle for the FRACTION-capped search: same rule as
    * `JoinSearch.probeCappedFraction` — a key survives iff
    * `10000 * df <= fracBp * total_postings`, the total taken over
    * the whole index (`idxf`).
    */
  def tableScoresCappedFraction(q: QuerySpec, fracBp: Long,
      maxTables: Int = 20): String =
    s"WITH ${indexCtes},\n  ${searchCtesCapPred(q,
      Some(s"10000 * kdf <= $fracBp * (SELECT count(*) FROM idxf)"))}\n" +
      s"SELECT table_id, join_score FROM tbl_scores ORDER BY join_score DESC, table_id ASC LIMIT $maxTables"

  /** Oracle for the seq-parity search: A3 score — sum of the top-2
    * column scores regardless of attribute count (`Object.py:76-80`)
    * — and seq's top-30 table bound (`Seq_Search.py:10`).
    */
  def tableScoresSeqParity(q: QuerySpec, maxTables: Int = 30): String =
    tableScoresSeqParityOver(indexCtes, q, maxTables)

  /** [[tableScoresSeqParity]] over a derived index
    * ([[indexCtesOver]]) — the A3 top-2 arithmetic at N>3 is only
    * NONEMPTY over a corpus row carrying >3 text cells, which the
    * catalog corpus structurally lacks.
    */
  def tableScoresSeqParityOver(idxCtes: String, q: QuerySpec,
      maxTables: Int = 30): String =
    stageOver(idxCtes, q,
      s"""SELECT table_id, join_score FROM (
  SELECT table_id, cast(sum(join_score) AS bigint) AS join_score FROM (
    SELECT cs.*, row_number() OVER (
      PARTITION BY table_id ORDER BY join_score DESC, column_id ASC) AS rn
    FROM col_scores cs
  ) WHERE rn <= 2 GROUP BY table_id
)
ORDER BY join_score DESC, table_id ASC LIMIT $maxTables""")

  /** Oracle for the end-to-end column-score search. */
  def columnScores(q: QuerySpec, maxTables: Int = 20): String =
    stage(q,
      s"SELECT table_id, column_id, join_score FROM top_cols ORDER BY join_score DESC, table_id ASC, column_id ASC LIMIT ${2 * maxTables}")

  /** Oracle over just the index CTEs (no search stages). */
  def indexOnly(finalSelect: String): String =
    s"WITH ${indexCtes}\n$finalSelect"

  /** Oracle for [[graft.operators.JoinSearch.searchTablesBatch]]: the
    * UNION of the per-query end-to-end statements, each tagged with
    * its query_id — the one-at-a-time formulation, which the engine's
    * batch (a union of its members' single searches) also is.
    */
  def tableScoresBatch(qs: Seq[(String, QuerySpec)], maxTables: Int = 20): String = {
    val branches = qs.zipWithIndex.map { case ((qid, q), i) =>
      s"""SELECT '${qid.replace("'", "''")}' AS query_id, table_id, join_score
  FROM (${tableScores(q, maxTables)}) AS b$i"""
    }
    branches.mkString("SELECT query_id, table_id, join_score FROM (\n",
      "\n  UNION ALL\n",
      "\n) AS u ORDER BY query_id, join_score DESC, table_id")
  }
}
