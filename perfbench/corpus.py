"""Seeded inputs for the join-search benchmark.

Everything the engine reads is made here, from a seed, as parquet:

* the corpus: a TPC-H-shaped star schema plus `events` and `documents`,
  holding every column the engine's corpus catalog indexes (text columns
  and the primary keys its row ids derive from).  Scale 0.1 matches the
  row counts and value vocabularies of the engine's sf0.1 test corpus;
* query tables: about 1,000 rows sampled from one corpus table, a tenth
  of them with one attribute replaced so they no longer join;
* ingest batches: fresh corpus rows, some of them planted so that a fixed
  query's expected score grows by a known amount.

numpy's PCG64 generator makes the values, so the same seed gives the same
bytes on every machine.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_STATUS = ["F", "O", "P"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DOC_WORDS = ("a agg batch big column customer data dup fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()

# Query-table kinds: (corpus table, attributes).  `search_hot` cycles
# through one table of each HOT_KINDS entry.
KINDS = {
    "customer": ("customer", ["c_name", "c_mktsegment"]),
    "orders": ("orders", ["o_orderstatus", "o_orderpriority"]),
    "part": ("part", ["p_name", "p_brand", "p_type"]),
}
HOT_KINDS = ["customer", "orders", "part"]

CORPUS_SEED = 20240601
GENERATOR_VERSION = "1"


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _write(path, columns):
    pq.write_table(pa.table(columns), path)


def corpus_tables(scale, seed=CORPUS_SEED):
    """The corpus as {table: {column: array}}; `scale` 0.1 ~ sf0.1."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * scale))
    n_ord = max(10, int(1_500_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_evt = max(10, int(1_000_000 * scale))
    n_doc = max(10, int(50_000 * scale))
    t = {}
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck,
        "c_name": np.array([f"Customer#{k:09d}" for k in ck], dtype=object),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}
    words = np.asarray(DOC_WORDS, dtype=object)
    lens = rng.integers(8, 100, n_doc)
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": np.array([" ".join(words[rng.integers(0, len(words), k)])
                          for k in lens], dtype=object),
        "lang": _pick(rng, LANGS, n_doc),
        "source": np.array([f"src{i}" for i in rng.integers(0, 20, n_doc)],
                           dtype=object)}
    t["events"] = {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "props": np.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, n_evt)],
                          dtype=object)}
    ok = np.arange(n_ord, dtype=np.int64)
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    t["lineitem"] = {
        "l_orderkey": l_ok,
        "l_linenumber": l_ln,
        "l_returnflag": _pick(rng, RETURN_FLAGS, len(l_ok)),
        "l_linestatus": _pick(rng, LINE_STATUS, len(l_ok))}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object)}
    t["orders"] = {
        "o_orderkey": ok,
        "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)}
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array([f"{a} {b}" for a, b in zip(
            _pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))],
            dtype=object),
        "p_brand": np.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                            dtype=object),
        "p_type": _pick(rng, PART_TYPES, n_part)}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.asarray(REGIONS, dtype=object)}
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk,
        "s_name": np.array([f"Supplier#{k:09d}" for k in sk], dtype=object)}
    return t


def write_corpus(out_dir, scale):
    """Write the corpus under `out_dir` once; a finished dir is reused."""
    done = os.path.join(out_dir, "_GENERATED")
    stamp = f"{GENERATOR_VERSION} {scale} {CORPUS_SEED}"
    if os.path.exists(done) and open(done).read() == stamp:
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in corpus_tables(scale).items():
        _write(os.path.join(out_dir, f"{name}.parquet"), cols)
    with open(done, "w") as f:
        f.write(stamp)
    return out_dir


def read_columns(corpus_dir, table, cols):
    return pq.read_table(os.path.join(corpus_dir, f"{table}.parquet"),
                         columns=cols).to_pydict()


class QueryMaker:
    """Seeded query tables sampled from the corpus."""

    def __init__(self, corpus_dir, seed, rows=1000):
        self.rng = np.random.default_rng(seed)
        self.rows = rows
        self.src = {k: read_columns(corpus_dir, t, cols)
                    for k, (t, cols) in KINDS.items()}

    def make(self, kind):
        """One query table of `kind`: rows sampled from its corpus table,
        a tenth with one attribute swapped for another row's value."""
        cols = KINDS[kind][1]
        src = self.src[kind]
        n_src = len(src[cols[0]])
        rows = min(self.rows, n_src)
        idx = self.rng.integers(0, n_src, rows)
        out = {c: np.asarray(src[c], dtype=object)[idx] for c in cols}
        swap = self.rng.random(rows) < 0.1
        which = self.rng.integers(0, len(cols), rows)
        other = self.rng.integers(0, n_src, rows)
        for j, c in enumerate(cols):
            m = swap & (which == j)
            out[c][m] = np.asarray(src[c], dtype=object)[other[m]]
        return out


def write_query(path, table):
    _write(path, {c: pa.array(list(v), pa.string()) for c, v in table.items()})


PLANT_SEGMENT = "zqplantseg"


def ingest_batches(corpus_dir, seed, n_batches, rows, planted_max=8):
    """Seeded customer micro-batches.  Each batch holds `rows` new rows with
    fresh keys; `p` of them (1..planted_max) are planted: their name is one
    of the ingest query's planted names and their segment PLANT_SEGMENT,
    values absent from the corpus.  Every planted row matches exactly one
    planted query row on both attributes, so each adds 2 to the customer
    table's join score (one match per attribute column).  The rest carry
    fresh names and real segments and match no query row."""
    rng = np.random.default_rng(seed + 1)
    base = len(read_columns(corpus_dir, "customer", ["c_custkey"])["c_custkey"])
    key0 = 10 ** (len(str(base)) + 1)
    planted_names = [f"zqplant{seed}n{j}" for j in range(planted_max)]
    out = []
    for b in range(n_batches):
        keys = key0 + b * rows + np.arange(rows, dtype=np.int64)
        names = np.array([f"Customer#{k:012d}" for k in keys], dtype=object)
        segs = _pick(rng, SEGMENTS, rows)
        p = int(rng.integers(1, planted_max + 1))
        at = rng.choice(rows, p, replace=False)
        names[at] = np.asarray(planted_names, dtype=object)[
            rng.integers(0, planted_max, p)]
        segs[at] = PLANT_SEGMENT
        out.append(({"c_custkey": keys, "c_name": names, "c_mktsegment": segs}, p))
    return planted_names, out


def write_batch(path, cols):
    _write(path, {"c_custkey": pa.array(cols["c_custkey"], pa.int64()),
                  "c_name": pa.array(list(cols["c_name"]), pa.string()),
                  "c_mktsegment": pa.array(list(cols["c_mktsegment"]), pa.string())})
