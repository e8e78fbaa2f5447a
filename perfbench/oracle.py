"""Answer checks in DuckDB, outside the timed window.

The SQL is the engine's own oracle, `graft.oracle.SearchOracle`: the
harness renders `tableScoresOver` for every query table it ran, with the
index CTE pointing at `bench_idxf`, the table `SearchOracle.indexOnly`
materialises.  That table is built once per (corpus, oracle SQL) and kept
in a DuckDB file beside the build, so a run only pays for its queries.
Answers compare as `table_id:join_score` rows in rank order.
"""

import hashlib
import os

import duckdb

TABLES = ["customer", "documents", "events", "lineitem", "nation", "orders",
          "part", "region", "supplier"]


def index_db(cache_dir, corpus_dir, corpus_fp, index_sql, threads):
    """The DuckDB file holding `bench_idxf` for this corpus and SQL."""
    key = hashlib.sha256(f"{corpus_fp}\n{index_sql}".encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"oracle-{key}.duckdb")
    if os.path.exists(path):
        return path
    tmp = path + ".tmp"
    if os.path.exists(tmp):
        os.remove(tmp)
    con = duckdb.connect(tmp)
    try:
        con.execute(f"SET threads = {int(threads)}")
        con.execute(f"SET temp_directory = '{spill_dir(cache_dir)}'")
        for t in TABLES:
            src = f"{corpus_dir}/{t}.parquet".replace("'", "''")
            con.execute(f"CREATE TEMP VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        con.execute(f"CREATE TABLE bench_idxf AS {index_sql}")
    finally:
        con.close()
    os.replace(tmp, path)
    return path


def spill_dir(cache_dir):
    return os.path.join(cache_dir, "duckdb-tmp").replace("'", "''")


class Oracle:
    def __init__(self, db_path, threads):
        self.con = duckdb.connect(db_path, read_only=True)
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute(f"SET temp_directory = '{spill_dir(os.path.dirname(db_path))}'")

    def answer(self, sql):
        rows = self.con.execute(sql).fetchall()
        return ";".join(f"{int(t)}:{int(s)}" for t, s in rows)

    def close(self):
        self.con.close()


def add_planted(answer, table_id, extra, limit=20):
    """`answer` with `extra` added to `table_id`'s score, re-ranked."""
    scores = {}
    for item in filter(None, answer.split(";")):
        t, s = item.split(":")
        scores[int(t)] = int(s)
    scores[table_id] = scores.get(table_id, 0) + extra
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:limit]
    return ";".join(f"{t}:{s}" for t, s in ranked)
