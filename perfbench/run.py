"""Join-search benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload search_hot --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client thread, one `local[nproc / 2]` session):

* search_hot    -- `JoinSearch.searchTables` over `IndexBuilder.cached`,
                   cycling through 3 seeded query tables; after warm-up
                   every request is served from the session cache.
* ingest_search -- land a seeded micro-batch of customer rows
                   (`IndexStream.postings`, `IndexBuilder.writeSnapshotAs`,
                   `DeltaLog.commit`, in-place compaction every few batches),
                   then search the live index, which must include the batch.

The script builds the engine from source (build.py), makes the corpus and
the seeded inputs (corpus.py), runs the harness (src/JoinBench.scala) in a
fresh JVM inside an emptied working directory, checks every answer against
the engine's DuckDB oracle (oracle.py), and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`.  `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer ones.  A line before it
(`{"run": ...}`) stamps the seed, nproc, load average, JVM flags, corpus
fingerprint and the supporting figures.  The exit code is 1 on any wrong or
failed operation, 2 when the build or the run itself fails.

Everything is written under `.bench_build/perfbench` at the repository
root.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import build
import corpus
import oracle

WORKLOADS = ("search_hot", "ingest_search")
DEADLINE_S = 170

# Inputs of one run; the harness (src/JoinBench.scala) holds the settings
# of the loop itself.  A change to any of them changes what is measured.
SCALE = 0.01
HEAP = "3g"
INGEST_BATCHES = 120
INGEST_ROWS = 200
INGEST_QUERY_ROWS = 200
# C1 only: with C2 the JIT was still compiling after 70 requests and each
# JVM settled at its own level (ten-run spread of CPU per search 0.15-0.24);
# C1 settles within the first warm-up cycle.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def task_threads():
    """Spark task threads: half the CPUs, leaving the rest to the driver
    thread, the JIT compilers and GC.  On a 4-CPU host with shared CPUs,
    `local[4]` ran hot searches at a 1.92 s median at 17 % steal against
    0.63-0.80 s unshared; `local[2]` ran at 0.79 s at 15 % steal against
    0.64-0.78 s unshared."""
    return max(1, nproc() // 2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fingerprint(corpus_dir):
    h = hashlib.sha256()
    for t in oracle.TABLES:
        with open(os.path.join(corpus_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat where present."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v[:8])
    except OSError:
        return 0, 0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Latency at the highest percentile with at least 10 samples beyond
    it, and that percentile."""
    s = sorted(xs)
    if len(s) < 11:
        return (s[-1] if s else 0.0), 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def make_inputs(args, work, corpus_dir):
    """Seeded query tables and batches, listed for the harness."""
    qdir = os.path.join(work, "queries")
    os.makedirs(qdir)
    maker = corpus.QueryMaker(corpus_dir, args.seed)
    queries, batches = [], []

    def add_query(table):
        path = os.path.join(qdir, f"q{len(queries)}.parquet")
        corpus.write_query(path, table)
        queries.append((path, list(table)))

    if args.workload == "search_hot":
        for kind in corpus.HOT_KINDS:
            add_query(maker.make(kind))
    else:
        bdir = os.path.join(work, "batches")
        os.makedirs(bdir)
        planted_names, made = corpus.ingest_batches(
            corpus_dir, args.seed, INGEST_BATCHES, INGEST_ROWS)
        for b, (cols, planted) in enumerate(made):
            path = os.path.join(bdir, f"b{b}.parquet")
            corpus.write_batch(path, cols)
            batches.append((path, planted))
        maker.rows = INGEST_QUERY_ROWS
        q = maker.make("customer")
        q["c_name"] = list(q["c_name"]) + planted_names
        q["c_mktsegment"] = list(q["c_mktsegment"]) + [corpus.PLANT_SEGMENT] * len(planted_names)
        add_query(q)
    qfile = os.path.join(work, "queries.tsv")
    with open(qfile, "w") as f:
        f.writelines(f"{p}\t{','.join(c)}\n" for p, c in queries)
    bfile = os.path.join(work, "batches.tsv")
    with open(bfile, "w") as f:
        f.writelines(f"{p}\t{n}\n" for p, n in batches)
    return qfile, bfile


def run_jvm(args, work, corpus_dir, cp, qfile, bfile, cores, deadline):
    conf = {
        "workload": args.workload, "corpus": corpus_dir,
        "index_dir": os.path.join(work, "index"),
        "delta_dir": os.path.join(work, "deltas"),
        "out": os.path.join(work, "facts.json"),
        "cores": cores, "seconds": args.seconds, "trace": args.trace,
        "queries": qfile, "batches": bfile}
    cfile = os.path.join(work, "bench.properties")
    with open(cfile, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in conf.items())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *JIT_FLAGS,
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    env = dict(os.environ, GRAFT_INDEX_DIR=conf["index_dir"],
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    os.makedirs(env["SPARK_LOCAL_DIRS"])
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(["java"] + flags + ["-cp", cp, "perfbench.JoinBench", cfile],
                            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        fail(f"harness passed the {DEADLINE_S} s deadline; log: {log.name}")
    finally:
        log.close()
    if code != 0:
        with open(log.name) as f:
            fail(f"harness exited {code}:\n{f.read()[-3000:]}")
    with open(conf["out"]) as f:
        return json.load(f), flags


def check(facts, corpus_dir, corpus_fp, cores):
    """Grade every operation; returns (attempted, failed, per-op verdicts)."""
    ops = facts["ops"]
    db = oracle.index_db(build.BUILD, corpus_dir, corpus_fp, facts["oracle_index_sql"], cores)
    orc = oracle.Oracle(db, cores)
    expected = {}
    verdict = {}
    try:
        planted = 0
        for o in ops:
            if o["kind"] == "ingest":
                if o["ok"]:
                    planted += o["planted"]
                verdict[o["req"]] = o["ok"]
                continue
            qi = str(o["q"])
            if qi not in expected:
                expected[qi] = orc.answer(facts["oracle"][qi])
            want = expected[qi]
            if "batch" in o:  # ingest_search: base answer plus planted rows
                want = oracle.add_planted(want, 1, 2 * planted)
            verdict[o["req"]] = bool(o["ok"]) and o["rows"] == want
    finally:
        orc.close()
    failed = sum(1 for v in verdict.values() if not v)
    return len(ops), failed, verdict


def summarize(facts, verdict, cores, trace):
    ops = facts["ops"]
    ex = facts["extra"]
    timed = [o for o in ops if o["phase"] == "timed"]
    searches = [o for o in timed if o["kind"] == "search"]
    lat = [(o["t1"] - o["t0"]) / 1e9 for o in searches]
    w = ex["window_timed"]
    wall = (w["t1"] - w["t0"]) / 1e9
    tail_s, tail_pct = tail(lat)
    passes = facts["setup_passes"]
    fixed, end = facts["footprint_measured"], facts["footprint_end"]
    pass_s = [p["build_s"] + p["cache_fill_s"] + p["keystats_s"] for p in passes]
    mb = 1 << 20
    # A step is one search, with the ingest of its batch on ingest_search.
    landing = {o["batch"]: o for o in timed if o["kind"] == "ingest"}
    steps = [[o] + ([landing[o["batch"]]] if o.get("batch") in landing else [])
             for o in searches]

    def per_step(key, unit):
        return median([sum(o[key] for o in st) / unit for st in steps])

    def mean_per_step(key, unit):
        return sum(o[key] for o in timed) / unit / len(steps)

    e2e = {
        "setup_s": (median(pass_s), "s"),
        "alloc_mb": (mean_per_step("alloc_bytes", mb), "MB"),
        "driver_alloc_mb": (mean_per_step("client_alloc_bytes", mb), "MB"),
        "index_mb": (fixed["index_bytes"] / mb, "MB"),
        "cache_mb": ((fixed["cache_mem_bytes"] + fixed["cache_disk_bytes"]) / mb, "MB"),
    }
    ingests = [o for o in timed if o["kind"] == "ingest"]
    fresh = [(o["t1"] - o["arrive"]) / 1e9 for o in searches if "arrive" in o]
    errors = sum(1 for v in verdict.values() if not v)
    info = {
        "samples": len(lat), "latency_p50_s": median(lat), "latency_tail_s": tail_s,
        "cpu_s": per_step("cpu_ns", 1e9), "driver_cpu_s": per_step("client_cpu_ns", 1e9),
        "tail_percentile": round(tail_pct, 2), "throughput_rps": len(searches) / wall,
        "ingest_p50_s": median([(o["t1"] - o["t0"]) / 1e9 for o in ingests]),
        "freshness_p50_s": median(fresh),
        "error_rate": errors / max(1, len(verdict)),
        "jvm.gc_s_per_req": w["gc_ms"] / 1e3 / max(1, w["steps"]),
        "cache.disk_mb": end["cache_disk_bytes"] / mb,
        "end.index_mb": end["index_bytes"] / mb,
        "end.cache_mb": (end["cache_mem_bytes"] + end["cache_disk_bytes"]) / mb,
        "jvm.calibration_s": ex["calibration_s"],
        "setup.session_s": facts["session_ready_s"],
        "setup.pass_s": pass_s,
        "setup.warmup_s": ex["warmup_s"],
        "setup.warmup_ops": ex["warmup_ops"],
        "setup.warmup_chunk_means_s": ex["warmup_chunk_means"],
    }
    if not trace:
        return e2e, info
    return per_layer(facts, ex, passes, cores, info, median(lat)), info


def per_layer(facts, ex, passes, cores, info, untraced_p50):
    mb = 1 << 20
    ops = facts["ops"]
    traced = [o for o in ops if o["phase"] == "traced"]
    tsearch = [o for o in traced if o["kind"] == "search"]
    reqs = {o["req"] for o in tsearch}
    spans = facts["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def dur(s):
        return (s["t1"] - s["t0"]) / 1e9

    traced_reqs = {o["req"] for o in traced}

    def span_median(name):
        return median([dur(s) for s in spans if s["name"] == name and s["req"] in traced_reqs])

    req_spans = [s for s in spans if s["name"] == "request" and s["req"] in reqs]
    self_times = [dur(s) - sum(dur(k) for k in kids.get(s["id"], [])) for s in req_spans]
    sched = [facts["sched"].get(f"r{r}") for r in sorted(reqs)]
    sched = [s for s in sched if s]
    n = max(1, len(reqs))
    tw = ex["window_traced"]
    twall = (tw["t1"] - tw["t0"]) / 1e9
    tslog = [(f, e) for r, f, e in facts["storage_log"] if r in reqs]
    rows = {o["req"]: len(o["rows"].split(";")) if o.get("rows") else 0 for o in tsearch}
    ppr = [p / max(1, rows.get(r, 0)) for r, p in ex.get("postings", [])]
    written = sum(ex.get("ingest_bytes", []))
    rewritten = sum(ex.get("compact_bytes", []))
    end = facts["footprint_end"]
    traced_p50 = median([(o["t1"] - o["t0"]) / 1e9 for o in tsearch])

    def pm(key):
        return [p[key] for p in passes]

    m = {
        "sched.jobs_per_req": (sum(s["jobs"] for s in sched) / n, "count"),
        "sched.stages_per_req": (sum(s["stages"] for s in sched) / n, "count"),
        "sched.tasks_per_req": (sum(s["tasks"] for s in sched) / n, "count"),
        "sched.task_time_share": (sum(s["run_ms"] for s in sched) / 1e3 / max(1e-9, twall * cores),
                                  "ratio"),
        "sched.shuffle_mb_per_req": (sum(s["shuffle_bytes"] for s in sched) / mb / n, "MB"),
        "sched.spill_mb_per_req": (sum(s["spill_bytes"] for s in sched) / mb / n, "MB"),
        "search.plan_s": (span_median("search.plan"), "s"),
        "search.import_s": (span_median("search.import"), "s"),
        "search.probe_s": (span_median("search.probe"), "s"),
        "search.conjunction_s": (span_median("search.conjunction"), "s"),
        "search.score_s": (span_median("search.score"), "s"),
        "search.postings_per_result": (median(ppr), "count"),
        "cache.fills_per_req": (sum(f for f, _ in tslog) / n, "count"),
        "cache.evictions_per_req": (sum(e for _, e in tslog) / n, "count"),
        "cache.hit_ratio": (sum(1 for f, _ in tslog if f == 0) / n, "ratio"),
        "cache.mem_mb": (end["cache_mem_bytes"] / mb, "MB"),
        "cache.disk_mb": (end["cache_disk_bytes"] / mb, "MB"),
        "index.build_s": (median(pm("build_s")), "s"),
        "index.cache_fill_s": (median(pm("cache_fill_s")), "s"),
        "index.keystats_s": (median(pm("keystats_s")), "s"),
        "index.bytes_per_corpus_byte": (facts["index_bytes_after_setup"] / facts["corpus_bytes"],
                                        "ratio"),
        "ingest.write_s": (span_median("ingest.write"), "s"),
        "ingest.commit_s": (span_median("ingest.commit"), "s"),
        "ingest.compact_s": (median(ex.get("compact_s", [])), "s"),
        "ingest.compact_mb_rewritten": (rewritten / mb / max(1, len(ex.get("compact_bytes", []))),
                                        "MB"),
        "ingest.write_amp": ((written + rewritten) / written if written else 0.0, "ratio"),
        "ingest.live_load_s": (span_median("ingest.live_load"), "s"),
        "ingest.live_parts": (median(ex.get("live_parts", [])), "count"),
        "ingest.ingest_p50_s": (info["ingest_p50_s"], "s"),
        "ingest.freshness_p50_s": (info["freshness_p50_s"], "s"),
        "client.latency_p50_s": (untraced_p50, "s"),
        "client.throughput_rps": (info["throughput_rps"], "1/s"),
        "client.cpu_s": (info["cpu_s"], "s"),
        "client.driver_cpu_s": (info["driver_cpu_s"], "s"),
        "ops.error_rate": (info["error_rate"], "ratio"),
        "jvm.gc_s_per_req": (info["jvm.gc_s_per_req"], "s"),
        "trace.request_self_s": (median(self_times), "s"),
        "trace.overhead_s": (traced_p50 - untraced_p50, "s"),
    }
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="generated corpus size; 0.01 has the sf0.01 shape")
    ap.add_argument("--corpus", help="use this corpus directory instead of generating one")
    args = ap.parse_args(argv)
    cores = task_threads()
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    load0 = os.getloadavg()
    try:
        cp, build_stamp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        fail(f"build failed: {e}")
    if args.corpus:
        corpus_dir = os.path.abspath(args.corpus)
    else:
        corpus_dir = corpus.write_corpus(
            os.path.join(build.BUILD, f"corpus-{args.scale:g}"), args.scale)
    # First run of a checkout pays the build; later runs get the full deadline.
    deadline = max(deadline, time.time() + DEADLINE_S - 10)
    work = os.path.join(build.BUILD, f"run-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_inputs = time.time()
    qfile, bfile = make_inputs(args, work, corpus_dir)
    t_jvm = time.time()
    steal0 = cpu_times()
    facts, flags = run_jvm(args, work, corpus_dir, cp, qfile, bfile, cores, deadline)
    steal1 = cpu_times()
    t_check = time.time()
    corpus_fp = fingerprint(corpus_dir)
    attempted, failed, verdict = check(facts, corpus_dir, corpus_fp, nproc())
    phases = {"build_s": t_inputs - t_start, "inputs_s": t_jvm - t_inputs,
              "jvm_s": t_check - t_jvm, "check_s": time.time() - t_check}
    metrics, info = summarize(facts, verdict, cores, args.trace)
    with open(os.path.join(work, "spans.jsonl"), "w") as f:
        f.writelines(json.dumps(s) + "\n" for s in facts["spans"])
    run = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "nproc": nproc(), "task_threads": cores,
           "loadavg_start": load0, "loadavg_end": os.getloadavg(),
           "jvm_flags": [f for f in flags if not f.endswith("ALL-UNNAMED")
                         and f != "--add-opens"],
           "corpus": corpus_dir if args.corpus else f"generated scale {args.scale:g}",
           "corpus_fingerprint": corpus_fp, "build": build_stamp[:16],
           "cpu_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
           "wall_s": round(time.time() - t_start, 2), "phases_s": phases, **info}
    print(json.dumps({"run": run}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
