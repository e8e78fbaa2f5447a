package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The end-to-end col-wise search as ONE `spark.sql` statement over
  * temp views — the engine's SQL surface. The reference's only query
  * interface was generated SQL strings (f-string IN-list templates,
  * `handlers.py:62-83`, SURVEY F3/F4, originally dismissed as
  * n/a-design); this is that surface done properly: a single
  * declarative statement Catalyst plans exactly like the DataFrame
  * pipeline (same windows, same broadcasts under AQE), over the same
  * session-cached index. Users who live in SQL can run the whole
  * engine without touching the DataFrame API.
  *
  * The statement mirrors the windowed pipeline stage for stage (the
  * same CTE chain the DuckDB oracle runs), so the registered query
  * shares the standard table-scores oracle verbatim.
  *
  * Cost note (round-5 VERDICT #7): the statement originally inlined
  * the ~96-regex clean chain ([[Tokenize.cleanSqlSpark]]) at every
  * `maps` CTE reference, and nearly all its runtime was ANALYSIS
  * time re-planning that chain per branch. The cleaning stage is now
  * registered as its own temp view computed through the engine's
  * codegen'd clean ([[graft.operators.JoinSearch.prepareInput]]) —
  * the SQL text references the view, the chain is planned zero
  * times, and the statement's SQL is pure pipeline. The full
  * in-dialect chain stays exercised by [[graft.SqlDialectSpec]].
  *
  * View hygiene (round-5 ADVICE): view names are per-call unique and
  * dropped as soon as `spark.sql` has analyzed the statement — fixed
  * session-global names made two concurrent calls in one session
  * silently resolve against each other's index/query tables.
  */
object SqlSearch {

  /** Ranked table scores via `spark.sql`. `index` must be the built
    * postings DataFrame (it is registered as a temp view).
    */
  def searchTablesSql(spark: SparkSession, index: DataFrame, query: DataFrame,
      cols: Seq[String], maxTables: Int = 20): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val idxView = s"graft_sql_index_$tag"
    val qcleanView = s"graft_sql_qclean_$tag"
    index.createOrReplaceTempView(idxView)
    // the cleaned query table behind the view session-persists
    // (round-18 second pass — the qmaps arrangement): the SQL
    // statement references the view in four CTE branches, each of
    // which re-ran the scan + clean + distinct lineage per
    // invocation. Same small-query contract as preparedMappings.
    val qclean0 = graft.operators.JoinSearch.prepareInput(query, cols)
    graft.sources.DfCache.getOrPersist(spark, s"qclean:${qclean0.semanticHash()}")(qclean0)
      .createOrReplaceTempView(qcleanView)
    try searchSql(spark, idxView, qcleanView, cols, maxTables)
    finally {
      // spark.sql analyzes eagerly, so the returned DataFrame holds
      // the resolved plan and the views can drop immediately.
      spark.catalog.dropTempView(idxView)
      spark.catalog.dropTempView(qcleanView)
    }
  }

  private def searchSql(spark: SparkSession, idxView: String,
      qcleanView: String, cols: Seq[String], maxTables: Int): DataFrame = {
    val n = cols.size
    val mapKey = cols.map(c => s"`$c`").mkString(" || chr(1) || ")
    val mapBranches = cols.map { c =>
      s"""SELECT `$c` AS key, $mapKey AS map_key FROM $qcleanView"""
    }.mkString("\n    UNION ALL ")
    spark.sql(s"""WITH maps AS (
    $mapBranches
  ),
  postings AS (
    SELECT i.key, i.table_id, i.column_id, i.row_id FROM $idxView i
    WHERE i.key IN (SELECT key FROM maps)
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
  )
SELECT table_id, join_score FROM tbl_scores
ORDER BY join_score DESC, table_id ASC LIMIT $maxTables""")
  }
}
