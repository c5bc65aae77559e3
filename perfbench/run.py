#!/usr/bin/env python3
"""Benchmark of graft's upload, bulk-sync and query paths.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program (first run
only, see build.py), generates the workload's inputs from the seed,
runs the JVM harness (perfbench/src) as one closed-loop client against
`GraftSession.local(4)`, checks the outputs, prints a summary and, as
the last line, one JSON object: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. It exits non-zero when an output
is wrong. Workloads, metrics and the choices behind them are in
perfbench/README.md.
"""
import argparse
import csv
import glob
import gzip
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing in the checkout but .bench_build
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["xlsx_upload", "bulk_sync", "query_mix"]
CPUS = min(4, os.cpu_count() or 4)
JVM_TIMEOUT_S = 165
# the op kind of the known defect: its ops may fail (and are counted);
# an op of any other kind that fails makes the run incorrect
KNOWN_DEFECT = "csv_jdbc"

# query_mix: the registry queries it runs, and the generated tables each
# one reads (their row counts count toward rows_per_s)
QUERIES = {
    "q_sql_q1": ["lineitem"],
    "q_dedup_minhash": ["documents"],
    "q_jaccard_neighbors": ["lineitem", "orders"],
}

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"),
              ("ops_per_s", "1/s"), ("rows_per_s", "1/s"),
              ("ok_share", "share"), ("retained_heap_mb", "MB")]
PER_LAYER = [
    ("session.start_s", "s"),
    ("ingest.xlsx_parse_s", "s"), ("ingest.xlsx_cells_per_s", "1/s"),
    ("ingest.csv_open_s", "s"),
    ("model.to_df_s", "s"),
    ("sources.infer_s", "s"),
    ("sync.decide_truncate", "count"), ("sync.decide_dropcreate", "count"),
    ("sync.local_write_s", "s"), ("sync.jdbc_write_s", "s"),
    ("sync.stage_write_s", "s"), ("sync.bytes_written", "B"),
    ("sync.staged_files", "count"), ("sync.out_bytes_per_in_byte", "B/B"),
    ("spark.jobs_per_op", "count"), ("spark.stages", "count"),
    ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "B"), ("spark.shuffle_read_bytes", "B"),
    ("spark.spill_bytes", "B"), ("spark.driver_gap_s", "s"),
    ("queries.analysis_ms", "ms"), ("queries.optimization_ms", "ms"),
    ("queries.planning_ms", "ms"), ("queries.plan_nodes", "count"),
] + [(f"queries.{q}_s", "s") for q in QUERIES] + [
    ("jvm.peak_heap_mb", "MB"), ("trace.overhead_share", "share"),
]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---- inputs ------------------------------------------------------------------

def make_inputs(workload, seed, d):
    if workload == "xlsx_upload":
        return gen.gen_xlsx_upload(seed, d)
    if workload == "bulk_sync":
        return gen.gen_bulk_sync(seed, d)
    table_rows = gen.gen_query_tables(seed, d)
    names = list(QUERIES)
    order = names[:]
    random.Random(f"{seed}:query-order").shuffle(order)
    return {"ops": [("query", q, d) for q in order],
            "cycle": len(order), "min_cycles": 3, "warm_cycles": 1, "catalog": [],
            "rows": {q: sum(table_rows[t] for t in QUERIES[q]) for q in names},
            "tables": sorted(table_rows)}


def input_size(path):
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return os.path.getsize(path)


def write_manifest(path, spec, work, seconds, trace):
    lines = [("cpus", CPUS), ("seconds", seconds), ("trace", trace),
             ("cycle", spec["cycle"]),
             ("min_cycles", spec["min_cycles"]),
             ("warm_cycles", spec["warm_cycles"]), ("work", work),
             ("derby", "jdbc:derby:memory:perfbench;create=true"),
             ("derby_warm", "jdbc:derby:memory:perfbench_warm;create=true")]
    lines += [("op",) + tuple(o) for o in spec["ops"]]
    lines += [("catalog", d, t, ",".join(c)) for d, t, c in spec["catalog"]]
    with open(path, "w") as fh:
        for ln in lines:
            fh.write("\t".join(str(x) for x in ln) + "\n")


def run_jvm(cp, manifest, work, jsa):
    # Class-data sharing: the first run in a checkout archives the
    # classes its JVM loaded from the jars, later runs map them instead
    # of loading and verifying them again. This is part of the build; it
    # shortens every cold set-up (see README.md).
    share = ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa)
             else [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
    # a fixed-size heap, so heap resizing does not vary between runs
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Xss8m"] + share + [
           "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dderby.stream.error.file={work}/derby.log"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Harness", manifest]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness did not finish within {JVM_TIMEOUT_S} s")
        except BaseException:  # interrupted or terminated: take the JVM down too
            p.kill()
            p.wait()
            raise
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        fail(f"harness exited with {rc}:\n{tail}")
    if os.path.exists(jsa + ".tmp"):
        os.replace(jsa + ".tmp", jsa)


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


# ---- correctness -------------------------------------------------------------

def read_csv_files(files, delim=",", header=True):
    rows = []
    for f in files:
        opener = gzip.open if f.endswith(".gz") else open
        with opener(f, "rt", newline="") as fh:
            r = list(csv.reader(fh, delimiter=delim))
        rows += r[1:] if header else r
    return rows


def parts(d, suffix):
    return sorted(glob.glob(os.path.join(d, f"part-*{suffix}")))


def check_outcomes(spec, ops, warm):
    """Every op, warm-up ones included, must succeed, except those of
    the known defect; every other op type of the cycle needs a success
    to read back. Returns problems."""
    problems = [f"{where} {o['kind']} {os.path.basename(o['arg'])} failed: "
                f"{o['error']}: {o['message']}"
                for where, group in (("warm-up op", warm), ("timed op", ops))
                for o in group if not o["ok"] and o["kind"] != KNOWN_DEFECT]
    done = {o["kind"] for o in ops if o["ok"]}
    problems += [f"no {kind} op succeeded" for kind in
                 sorted({k for k, *_ in spec["ops"]} - done - {KNOWN_DEFECT})]
    return problems


def check_ingest(workload, seed, spec, ops, recs, work):
    """Reports, counts and decisions of every successful op, and a
    cell-for-cell read-back of the last table each op type loaded.
    Returns problems."""
    problems = []
    out_local = os.path.join(work, "timed", "local")
    n = len(ops)
    if workload == "xlsx_upload":
        expected = gen.expect_xlsx_upload(seed, spec, out_local, n)
    else:
        expected = expect_bulk(spec, out_local, n)
    for op, (actions, rep, rows) in zip(ops, expected):
        if not op["ok"]:
            continue
        if (op["actions"], op["report"], op["rows"]) != (actions, rep, rows):
            problems.append(f"op {op['idx']} ({op['kind']}): got "
                            f"{op['actions']} {op['rows']} {op['report']!r}, "
                            f"want {actions} {rows} {rep!r}")
    jdbc = {r["table"]: r for r in recs if r["rec"] == "jdbc_table"}
    last = {}
    for k, op in enumerate(ops):
        if op["ok"]:
            last[op["kind"]] = k
    for kind, k in sorted(last.items()):
        for table, cols, want, ordered in expected_tables(workload, seed, spec, k, ops[k]):
            if kind.endswith("jdbc"):
                r = jdbc.get(f"x_excel.{table}")
                if r is None:
                    problems.append(f"{kind}: x_excel.{table} not in Derby")
                    continue
                got_cols = r["columns"]
                # a blank cell may load as '' (the reference) or NULL
                got = [["" if v is None else v for v in row] for row in json.loads(r["rows"])]
            else:
                d = (os.path.join(work, "timed", "stage", "x_excel", table)
                     if kind in ("csv_redshift", "csv_snowflake")
                     else os.path.join(out_local, table))
                if kind == "xlsx_local":
                    got = read_csv_files([d + ".csv"])
                    with open(d + ".csv", newline="") as fh:
                        got_cols = next(csv.reader(fh))
                elif kind in ("csv_redshift", "csv_snowflake"):
                    got, got_cols = read_csv_files(parts(d, ".csv.gz"), header=False), None
                else:
                    files = parts(d, ".csv.gz" if kind == "csv_dir" else ".csv")
                    got = read_csv_files(files)
                    with (gzip.open if kind == "csv_dir" else open)(files[0], "rt", newline="") as fh:
                        got_cols = next(csv.reader(fh))
            if got_cols is not None and [c.lower() for c in got_cols] != [c.lower() for c in cols]:
                problems.append(f"{kind} {table}: columns {got_cols} != {cols}")
            if not ordered:
                got, want = sorted(map(tuple, got)), sorted(map(tuple, want))
            else:
                got, want = list(map(tuple, got)), list(map(tuple, want))
            if got != want:
                diff = next((f"{a} != {b}" for a, b in zip(got, want) if a != b),
                            f"{len(got)} rows != {len(want)} rows")
                problems.append(f"{kind} {table}: read-back differs: {diff}")
    return problems


def expect_bulk(spec, out_local, n):
    catalog = {(d, t): c for d, t, c in spec["catalog"]}
    out = []
    for k in range(n):
        kind, path = spec["ops"][k % len(spec["ops"])]
        table = gen.sqlify(os.path.splitext(os.path.basename(path))[0])
        header, rows = bulk_source(kind, path, header_only=True)
        dest = "jdbc" if kind == "csv_jdbc" else "bulk"
        existing = catalog.get((dest, table), [] if dest == "jdbc" else None)
        a = gen.decide(existing, header)
        target = (os.path.join(out_local, table)
                  if kind in ("csv_dir", "xlsxdir_dir") else f"x_excel.{table}")
        out.append(([a or "Created"], gen.report(a, target, rows), rows))
        catalog[(dest, table)] = gen.header_names(header)
    return out


def bulk_source(kind, path, header_only=False):
    """(raw header, data rows or their count) of a bulk op's input."""
    if kind == "xlsxdir_dir":
        header = [h for h, _ in gen.COLUMNS[:8]]
        if header_only:
            return header, gen.BULK_BOOKS * gen.BULK_BOOK_ROWS
        return header, None
    with open(path, newline="") as fh:
        sample = fh.readline()
    delim = max(",;|\t", key=sample.count)
    with open(path, newline="") as fh:
        r = list(csv.reader(fh, delimiter=delim))
    return r[0], (len(r) - 1 if header_only else r[1:])


def expected_tables(workload, seed, spec, k, op):
    """(table, columns, rows, ordered) the op at index k loaded."""
    if workload == "xlsx_upload":
        b, j = spec["order"][k % len(spec["order"])]
        sheets, _ = gen.upload_workbook(seed, b, j)
        for name, rows, _ in sheets:
            m = gen.matrix(rows)
            yield (gen.sqlify(name), gen.header_names(m[0]), m[1:],
                   op["kind"] == "xlsx_local")
        return
    path = op["arg"]
    table = gen.sqlify(os.path.splitext(os.path.basename(path))[0])
    if op["kind"] == "xlsxdir_dir":
        rows = []
        for f in sorted(os.listdir(path)):
            i = int(f[5:8])
            rng = gen.random.Random(f"{seed}:ledger-2024:{i}")
            rows += gen.matrix(gen.sheet_rows(rng, gen.COLUMNS[:8], gen.BULK_BOOK_ROWS))[1:]
        yield table, gen.header_names([h for h, _ in gen.COLUMNS[:8]]), rows, False
        return
    header, rows = bulk_source(op["kind"], path)
    yield table, gen.header_names(header), rows, False


def canon(rows, cols):
    """The repo's oracle-compare canonical form (tools/check_oracle.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("\x1f".join(repr(r[i]) if isinstance(r[i], float) else str(r[i])
                             for i in order) for r in rows)
    return hashlib.md5("\x1e".join(out).encode()).hexdigest()


def check_queries(recs, work, data, tables):
    import duckdb
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    problems = []
    for r in recs:
        if r["rec"] != "oracle":
            continue
        q = r["query"]
        files = glob.glob(os.path.join(work, "verify", q, "*.parquet"))
        if not r["sql"] or not files:
            problems.append(f"{q}: no oracle or no output")
            continue
        s = con.sql(f"SELECT * FROM read_parquet({files!r})")
        o = con.sql(r["sql"])
        srows, orows = s.fetchall(), o.fetchall()
        if not srows:
            problems.append(f"{q}: empty result")
        elif sorted(s.columns) != sorted(o.columns) or \
                canon(srows, s.columns) != canon(orows, o.columns):
            problems.append(f"{q}: {len(srows)} rows differ from the DuckDB oracle "
                            f"({len(orows)} rows)")
    return problems


# ---- metrics -----------------------------------------------------------------

def pct(values, q):
    """Linear-interpolated percentile; a failed op is +inf."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo) if v[hi] != math.inf else math.inf


def beyond(n, q):
    """Samples above the q-th percentile of n."""
    return n - 1 - math.floor(q * (n - 1))


def input_bytes(op):
    return 0 if op["kind"] == "query" else input_size(op["arg"])


def self_times(spans):
    """{(op, name): self seconds}, {(op, name): count}."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["t1"] - s["t0"]
    st, cnt = {}, {}
    for s in spans:
        key = (s["op"], s["name"])
        st[key] = st.get(key, 0) + s["t1"] - s["t0"] - child.get(s["id"], 0)
        cnt[key] = cnt.get(key, 0) + s["count"]
    return st, cnt


def union_ms(intervals):
    total, end = 0, -math.inf
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def cycles(ops, cycle):
    """Whole cycles of the timed phase: {cycle index: its ops}."""
    out = {}
    for o in ops:
        out.setdefault(o["idx"] // cycle, []).append(o)
    return out


def source_rows(o, spec):
    """Rows a successful op loaded; for a query, the rows of the
    generated tables it reads."""
    return spec["rows"][o["arg"]] if o["kind"] == "query" else o["rows"]


def latency(o):
    return o["t1"] - o["t0"] if o["ok"] else math.inf


def end_to_end(ops, run, setup, spec):
    p50 = pct([latency(o) for o in ops], 0.5)
    ok = [o for o in ops if o["ok"]]
    # the timed phase is whole cycles, so the op mix is the same in every run
    wall = ops[-1]["t1"] - ops[0]["t0"]
    return {
        "setup_s": setup["setup_s"],
        # a failed op costs the whole timed phase, should the median land on one
        "op_p50_s": wall if p50 == math.inf else p50,
        "ops_per_s": len(ok) / wall,
        "rows_per_s": sum(source_rows(o, spec) for o in ok) / wall,
        "ok_share": sum(1 for o in ops if o["ok"]) / len(ops),
        "retained_heap_mb": run["retained_heap_mb"],
    }


def per_layer(ops, run, setup, spans, events, cycle):
    traced = [o for o in ops if o["traced"]]
    idx = {o["idx"] for o in traced}
    st, cnt = self_times([s for s in spans if s["op"] in idx])
    n = len(traced)

    def layer(name):
        return sum(v for (o, nm), v in st.items() if nm == name) / n

    parse_s = sum(v for (o, nm), v in st.items() if nm == "ingest.xlsx_parse")
    cells = sum(v for (o, nm), v in cnt.items() if nm == "ingest.xlsx_parse")
    actions = [a for o in ops if o["ok"] for a in o["actions"]]
    ok = [o for o in ops if o["ok"]]
    in_b = sum(input_bytes(o) for o in ok)
    m = {
        "session.start_s": setup["session_s"],
        "ingest.xlsx_parse_s": layer("ingest.xlsx_parse"),
        "ingest.xlsx_cells_per_s": cells / parse_s if parse_s else 0.0,
        "ingest.csv_open_s": layer("ingest.csv_open"),
        "model.to_df_s": layer("model.to_df"),
        "sources.infer_s": layer("sources.infer"),
        "sync.decide_truncate": actions.count("Truncate"),
        "sync.decide_dropcreate": actions.count("DropCreate"),
        "sync.local_write_s": layer("sync.local_write"),
        "sync.jdbc_write_s": layer("sync.jdbc_write"),
        "sync.stage_write_s": layer("sync.stage_write"),
        "sync.bytes_written": sum(o["out_bytes"] for o in ok) / max(len(ok), 1),
        "sync.staged_files": sum(o["files"] for o in ok) / max(len(ok), 1),
        "sync.out_bytes_per_in_byte":
            sum(o["out_bytes"] for o in ok) / in_b if in_b else 0.0,
        "jvm.peak_heap_mb": run["peak_heap_mb"],
    }
    # Spark and Catalyst counters, attributed to the traced op whose
    # wall interval holds the event
    win = sorted((o["ms0"], o["ms1"], o["idx"]) for o in traced)

    def owner(t):
        for a, b, i in win:
            if a <= t <= b:
                return i
        return None
    per = {i: {"jobs": 0, "stages": 0, "cpu": 0, "gc": 0, "sw": 0, "sr": 0,
               "spill": 0, "an": 0, "opt": 0, "plan": 0, "nodes": 0, "jobiv": []}
           for i in idx}
    starts = {}
    for e in events:
        i = owner(e["t"])
        if e["ev"] == "job_start":
            starts[e["job"]] = e["t"]
        if i is None:
            continue
        p = per[i]
        if e["ev"] == "job_end":
            p["jobs"] += 1
            p["jobiv"].append((starts.get(e["job"], e["t"]), e["t"]))
        elif e["ev"] == "stage":
            p["stages"] += 1
        elif e["ev"] == "task":
            p["cpu"] += e["cpu_ns"] / 1e9
            p["gc"] += e["gc_ms"] / 1e3
            p["sw"] += e["shuffle_w"]
            p["sr"] += e["shuffle_r"]
            p["spill"] += e["spill"]
        elif e["ev"] == "query":
            p["an"] += e["analysis_ms"]
            p["opt"] += e["optimization_ms"]
            p["plan"] += e["planning_ms"]
            p["nodes"] += e["plan_nodes"]
    gaps = []
    for o in traced:
        iv = [(max(a, o["ms0"]), min(b, o["ms1"])) for a, b in per[o["idx"]]["jobiv"]]
        gaps.append(max(0.0, (o["ms1"] - o["ms0"] - union_ms(iv)) / 1e3))

    def mean(key):
        return sum(p[key] for p in per.values()) / n
    m.update({
        "spark.jobs_per_op": mean("jobs"), "spark.stages": mean("stages"),
        "spark.task_cpu_s": mean("cpu"), "spark.gc_s": mean("gc"),
        "spark.shuffle_write_bytes": mean("sw"),
        "spark.shuffle_read_bytes": mean("sr"),
        "spark.spill_bytes": mean("spill"),
        "spark.driver_gap_s": sum(gaps) / n,
        "queries.analysis_ms": mean("an"), "queries.optimization_ms": mean("opt"),
        "queries.planning_ms": mean("plan"), "queries.plan_nodes": mean("nodes"),
    })
    for q in QUERIES:
        lat = [o["t1"] - o["t0"] for o in ops if o["ok"] and o["arg"] == q]
        m[f"queries.{q}_s"] = statistics.median(lat) if lat else 0.0
    # tracing overhead: each position of the cycle ran both traced and
    # bare; compare their mean latencies position by position
    pos = {}
    for o in ops:
        if o["ok"]:
            pos.setdefault((o["idx"] % cycle, o["traced"]), []).append(o["t1"] - o["t0"])
    both = [p for p in range(cycle) if (p, True) in pos and (p, False) in pos]
    m["trace.overhead_share"] = (
        sum(statistics.mean(pos[(p, True)]) for p in both) /
        sum(statistics.mean(pos[(p, False)]) for p in both) - 1)
    return m


# ---- main --------------------------------------------------------------------

def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM is stopped and the run's
    # files are removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    cp = build.build(root)
    work = os.path.join(build.build_dir(root), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "in")
    os.makedirs(data)
    try:
        g0 = time.time()
        spec = make_inputs(a.workload, a.seed, data)
        gen_s = time.time() - g0
        manifest = os.path.join(work, "manifest.tsv")
        write_manifest(manifest, spec, work, a.seconds, a.trace)
        run_jvm(cp, manifest, work, build.archive(root))
        recs = read_jsonl(os.path.join(work, "ops.jsonl"))
        ops = [r for r in recs if r["rec"] == "op"]
        warm = [r for r in recs if r["rec"] == "warm"]
        run = next(r for r in recs if r["rec"] == "run")
        setup = next(r for r in recs if r["rec"] == "setup")
        problems = check_outcomes(spec, ops, warm)
        if a.workload == "query_mix":
            problems += check_queries(recs, work, data, spec["tables"])
        else:
            problems += check_ingest(a.workload, a.seed, spec, ops, recs, work)
        e2e = end_to_end(ops, run, setup, spec)
        layers = (per_layer(ops, run, setup, read_jsonl(os.path.join(work, "spans.jsonl")),
                            read_jsonl(os.path.join(work, "events.jsonl")), spec["cycle"])
                  if a.trace else None)
        summary(a, ops, run, setup, e2e, layers, problems, gen_s, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = layers if a.trace else e2e
    names = PER_LAYER if a.trace else END_TO_END
    print(json.dumps({
        "correct": not problems, "attempted": len(ops),
        "failed": sum(1 for o in ops if not o["ok"]),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in names}}))
    sys.exit(1 if problems else 0)


def summary(a, ops, run, setup, e2e, layers, problems, gen_s, spec):
    n = len(ops)
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: {n} ops in "
          f"{run['timed_s']:.2f} s timed; inputs generated in {gen_s:.2f} s "
          f"(outside set-up and timing)")
    print(f"  process CPU in the timed phase: {run['cpu_s']:.2f} s")
    print(f"  set-up (cold JVM, {spec['warm_cycles']} warm-up cycles): "
          f"{setup['setup_s']:.2f} s, of it session start {setup['session_s']:.2f} s")
    walls = [c[-1]["t1"] - c[0]["t0"] for c in cycles(ops, spec["cycle"]).values()]
    print(f"  {len(walls)} cycles of {spec['cycle']} ops, taking " +
          ", ".join(f"{w:.2f} s" for w in walls))
    pos = {}
    for o in ops:
        pos.setdefault(o["idx"] % spec["cycle"], []).append(o)
    print("  median latency by cycle position: " + ", ".join(
        f"{os.path.basename(g[0]['arg'])} {pct([latency(o) for o in g], 0.5):.3f} s"
        for _, g in sorted(pos.items())))
    units = dict(END_TO_END)
    lat = [latency(o) for o in ops]
    for k, v in e2e.items():
        note = f"  [{n} samples, {beyond(n, 0.5)} beyond it]" if k == "op_p50_s" else ""
        print(f"  {k:<24} {v:>14.6g} {units[k]}{note}")
    # the highest percentile with ten samples beyond it (summary only: it
    # is +inf wherever failed ops reach it)
    q = next((q for q in (0.9, 0.8, 0.75) if beyond(n, q) >= 10), None)
    if q:
        print(f"  {f'op_p{round(q * 100)}_s':<24} {pct(lat, q):>14.6g} s  "
              f"[{n} samples, {beyond(n, q)} beyond it]")
    else:
        print(f"  no percentile above p50 has ten samples beyond it ({n} samples)")
    failed = [o for o in ops if not o["ok"]]
    print(f"  {'fail_share':<24} {len(failed) / n:>14.6g} share  [{len(failed)} of {n}]")
    for kd in sorted({o["kind"] for o in ops}):
        ko = [o for o in ops if o["kind"] == kd]
        errs = sorted({o["error"] for o in ko if not o["ok"]})
        kl = [o["t1"] - o["t0"] for o in ko if o["ok"]]
        med = f"p50 {statistics.median(kl):.3f} s [{len(kl)} samples]" if kl else "no successes"
        print(f"    {kd:<22} {len(ko):>4} ops, {len(ko) - len(kl)} failed "
              f"(fail share {(len(ko) - len(kl)) / len(ko):.3g}), {med}"
              + (f"  errors: {', '.join(errs)}" if errs else ""))
    ok = [o for o in ops if o["ok"]]
    in_b = sum(input_bytes(o) for o in ok)
    if in_b:
        print(f"  {'out_bytes_per_in_byte':<24} "
              f"{sum(o['out_bytes'] for o in ok) / in_b:>14.6g} B/B")
    if layers:
        units = dict(PER_LAYER)
        for k, v in layers.items():
            print(f"  {k:<30} {v:>14.6g} {units[k]}")
    for p in problems:
        print(f"  INCORRECT: {p}")


if __name__ == "__main__":
    main()
