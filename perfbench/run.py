#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <analytics|session>
                           --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the benchmark with sbt
(perfbench/build.sbt) and generates the input tables; later runs reuse both
until a source file changes. Each run starts one JVM with Spark local[N]
(N = min(4, nproc - 1)) and a fixed heap, sets up three times, runs a
checked warm-up pass and then times round(seconds / pass length) whole
passes, the pass length being a per-workload constant (13 s for analytics,
8 s for session), so the work measured depends on --seconds only. The last
line of standard output is

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1)
listed in BENCHMARK.json. Before it, a "# context" line records the seed,
nproc, N, heap, per-op load and whether the box was busy, and a "# report"
line names the full report (every op, per-layer self times), which
compare.py diffs.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# what BENCHMARK.json cannot hold: the analytics query list, and the
# end-to-end metric each per-layer metric should move
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
# query families, from the per-layer metrics queries.<family>_s
FAMILIES = [m["name"][len("queries."):-len("_s")] for m in BENCH["per_layer"]
            if m["name"].startswith("queries.")]
HEAP = "2g"
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when SparkSession is created outside
# spark-submit (as the root build's javaOptions do).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the JVM classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the engine's sources (build.sbt, src/main/scala) are not in this checkout")
    stamp, cp_file = source_stamp(), os.path.join(STATE, "classpath.json")
    if os.path.exists(cp_file):
        saved = json.load(open(cp_file))
        if saved["stamp"] == stamp:
            return saved["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("sbt build failed")
    os.makedirs(STATE, exist_ok=True)
    json.dump({"stamp": stamp, "classpath": lines[-1]}, open(cp_file, "w"))
    return lines[-1]


# ---------------------------------------------------------------- inputs

def dataset():
    sys.path.insert(0, HERE)
    import datagen
    d = os.path.join(STATE, "data", f"sf{datagen.SCALE}")
    datagen.generate(d)
    return d


def analytics_copies(src):
    """Three copies of the tables: setup_s repeats the table loading, and the
    engine caches loaded tables per directory."""
    base = os.path.join(STATE, "data", "analytics")
    stamp = open(os.path.join(src, "_GENERATED")).read()
    for i in (1, 2, 3):
        d = os.path.join(base, f"copy{i}")
        s = os.path.join(d, "_GENERATED")
        if not (os.path.exists(s) and open(s).read() == stamp):
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(src, d)
    return base


def canon(rows, cols):
    """Column-name-sorted, row-sorted exact form, as tools/check.py compares."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


def oracle_check(data_dir, out_dir):
    """Compares each query's saved warm-up result with its DuckDB oracle.
    Returns ({query: ok}, note). Oracle answers are keyed by the data's
    fingerprint and the oracle SQL. oracle_digests.json ships the answers
    for the generated tables (some oracles take minutes in DuckDB); answers
    it lacks are computed here and kept in .state/oracle_cache.json, which
    is also how to refresh the shipped file."""
    try:
        import duckdb
    except ImportError:
        return {}, "duckdb is not installed: oracle checks skipped"
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    cache_file = os.path.join(STATE, "oracle_cache.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    shipped = json.load(open(os.path.join(HERE, "oracle_digests.json")))
    fingerprint = open(os.path.join(data_dir, "_FINGERPRINT")).read()
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    def digest(rel):
        return hashlib.sha256(repr(canon(rel.fetchall(), [c.lower() for c in rel.columns]))
                              .encode()).hexdigest()
    verdict = {}
    for q, sql in sorted(oracle.items()):
        res = os.path.join(out_dir, "results", q)
        if not os.path.isdir(res):
            continue  # the warm-up op failed and is already counted
        key = hashlib.sha256(f"{fingerprint}\n{sql}".encode()).hexdigest()
        if key not in shipped and key not in cache:
            cache[key] = digest(con.sql(sql))
        want = shipped.get(key, cache.get(key))
        verdict[q] = digest(con.sql(f"SELECT * FROM read_parquet('{res}/*.parquet')")) == want
    json.dump(cache, open(cache_file, "w"), indent=0, sort_keys=True)
    return verdict, None


# ---------------------------------------------------------------- run

def run_jvm(classpath, args, log_path, deadline):
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(STATE, 'warehouse')}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main"] + args)
    with open(log_path, "w") as log:
        # a loopback driver address spares Spark a host-name lookup at start-up
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
        proc = subprocess.Popen(cmd, cwd=STATE, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the run did not finish in time; log: {log_path}")
    if rc != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"the benchmark JVM exited with {rc}")


def _betai(a, b, x):
    """Regularized incomplete beta I_x(a, b), by its continued fraction."""
    if x <= 0.0 or x >= 1.0:
        return max(0.0, min(1.0, x))
    if x > (a + 1) / (a + b + 2):
        return 1.0 - _betai(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) +
                     a * math.log(x) + b * math.log(1.0 - x)) / a
    c, d, f = 1.0, 0.0, 1.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > 1e-300 else 1e-300)
        c = 1.0 + num / (c if abs(c) > 1e-300 else 1e-300)
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            break
    return front * (f - 1.0)


def hd_quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a beta-weighted mean of all
    order statistics, far less jumpy than one order statistic when there are
    few values."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else None
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [_betai(a, b, i / n) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [start, end] intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def self_times(op, spans):
    """Splits an op's wall time into layer self times: time inside a Spark
    job is 'spark.job'; otherwise the innermost open span's layer; otherwise
    'driver.other'."""
    t = op["trace"]
    lo, hi = t["start_ms"], t["start_ms"] + op["ms"]
    jobs = [tuple(j) for j in t["job_spans"]]
    cuts = sorted({lo, hi} | {x for s in spans for x in s[2:4] if lo < x < hi} |
                  {x for j in jobs for x in j if lo < x < hi})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        m = (a + b) / 2
        if any(s <= m <= e for s, e in jobs):
            layer = "spark.job"
        else:
            open_spans = [s for s in spans if s[2] <= m <= s[3]]
            # the innermost open span: the latest start, then the earliest end
            layer = max(open_spans, key=lambda s: (s[2], -s[3]))[1] if open_spans else "driver.other"
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def kind_medians(ops):
    """Median latency (ms) of each op kind."""
    by = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(o["ms"])
    return [statistics.median(v) for v in by.values()]


def end_to_end(rep, good):
    """The latency percentiles are taken over op kinds, each kind counted
    once at its median latency (every run has the same kinds, so runs
    compare like with like), as Harrell-Davis estimates."""
    kinds = kind_medians(good)
    reads = kind_medians([o for o in good if o["cls"] == "read"])
    return {
        "setup_s": statistics.median(rep["setup_s"]),
        "ops_per_s": len(good) / rep["timed_s"],
        "latency_p50_ms": hd_quantile(kinds, 0.5),
        "latency_p90_ms": hd_quantile(kinds, 0.9),
        "read_p50_ms": hd_quantile(reads, 0.5),
        "read_p95_ms": hd_quantile(reads, 0.95),
    }


def per_layer(rep, good, ops):
    spans = {}
    for s in rep.get("spans", []):
        spans.setdefault(s[0], []).append(s)
    tr = [o["trace"] for o in good]
    n = max(len(good), 1)

    def span_ms(layer, kinds=None):
        return [s[3] - s[2] for o in good if kinds is None or o["kind"] in kinds
                for s in spans.get(o["id"], []) if s[1] == layer]

    def jobs_in(layer):
        out = []
        for o in good:
            for s in spans.get(o["id"], []):
                if s[1] == layer:
                    out.append(sum(1 for j in o["trace"]["job_spans"] if s[2] <= j[0] <= s[3]))
        return out

    def driver_ms(o):
        t = o["trace"]
        return o["ms"] - union_ms([tuple(j) for j in t["job_spans"]], t["start_ms"], t["start_ms"] + o["ms"])

    def by_kind(kind):
        return [o for o in good if o["kind"] == kind]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    m = {
        "sql.parse_ms": med(span_ms("sql.parse")),
        "sql.build_ms": med(span_ms("sql.build")),
        "sql.build_jobs": mean(jobs_in("sql.build")),
        "exec.action_ms": med(span_ms("exec.action")),
        "catalyst.analysis_ms": sum(t["analysis_ms"] for t in tr) / n,
        "catalyst.optimization_ms": sum(t["optimization_ms"] for t in tr) / n,
        "catalyst.planning_ms": sum(t["planning_ms"] for t in tr) / n,
        "catalog.plan_nodes": max((t.get("plan_nodes", 0) for t in tr), default=0),
        "catalog.compact_ms": med(span_ms("catalog.compact")),
    }
    routed = [t["routed"] for t in tr if "routed" in t]
    m["matview.routed_ratio"] = mean(1.0 if r else 0.0 for r in routed)
    cov, unc = by_kind("insert_covered"), by_kind("insert")
    m["matview.maintain_ms"] = (med([o["ms"] for o in cov]) - med([o["ms"] for o in unc])) \
        if cov and unc else 0.0
    m["matview.refresh_failures"] = rep["probes"].get("refresh_failures", 0)
    for name in ["kv.put", "kv.get", "kv.query", "doc.save", "doc.get", "cypher.merge", "cypher.match"]:
        m[f"{name}_ms"] = med(span_ms(name))
    for algo in ["bfs", "sssp", "kcore", "ktruss", "cc"]:
        calls = by_kind(algo)
        m[f"graph.{algo}.jobs"] = mean(o["trace"]["jobs"] for o in calls)
        m[f"graph.{algo}.driver_ms"] = mean(driver_ms(o) for o in calls)
        m[f"{algo}_s"] = med([o["ms"] / 1000 for o in calls])
    m["graph.leaked_rdds"] = mean(t["leaked_rdds"] for t in tr if "leaked_rdds" in t)
    m["storage.peak_mb"] = max((t.get("storage_mb", 0.0) for t in tr), default=0.0)
    m["spark.jobs_per_op"] = sum(t["jobs"] for t in tr) / n
    m["spark.stages_per_op"] = sum(t["stages"] for t in tr) / n
    m["spark.tasks_per_op"] = sum(t["tasks"] for t in tr) / n
    m["driver.self_ms"] = mean(driver_ms(o) for o in good)
    run_ms, cpu_ms = sum(t["task_run_ms"] for t in tr), sum(t["task_cpu_ms"] for t in tr)
    m["exec.task_run_ms"] = run_ms / n
    m["exec.task_cpu_ms"] = cpu_ms / n
    m["exec.cpu_ratio"] = cpu_ms / run_ms if run_ms else 0.0
    m["exec.slot_util"] = run_ms / (rep["cores"] * sum(o["ms"] for o in good)) if good else 0.0
    mb = 1048576.0
    m["exec.shuffle_read_mb"] = sum(t["shuffle_read_b"] for t in tr) / n / mb
    m["exec.shuffle_write_mb"] = sum(t["shuffle_write_b"] for t in tr) / n / mb
    m["exec.spill_mb"] = sum(t["spill_b"] for t in tr) / n / mb
    m["exec.peak_mem_mb"] = max((t["peak_mem_b"] for t in tr), default=0) / mb
    m["exec.gc_ms"] = sum(t["task_gc_ms"] for t in tr) / n
    m["jvm.gc_ms"] = sum(t["jvm_gc_ms"] for t in tr) / n
    m["jvm.retained_heap_mb"] = rep["retained_heap_mb"]
    m["plan.exchanges"] = sum(t["exchanges"] for t in tr) / n
    m["plan.unpartitioned_windows"] = sum(t["unpartitioned_windows"] for t in tr) / n
    m["codegen.compiles"] = sum(t["codegen_compiles"] for t in tr) / n
    m["codegen.compile_ms"] = sum(t["codegen_ms"] for t in tr) / n
    queries = set(CONFIG["analytics_queries"])
    for fam in FAMILIES:
        per_q = {}
        for o in good:
            if o["kind"] in queries and o["kind"].startswith(fam + "_"):
                per_q.setdefault(o["kind"], []).append(o["ms"] / 1000)
        m[f"queries.{fam}_s"] = sum(statistics.median(v) for v in per_q.values())
    writes = [o["ms"] for o in good if o["cls"] == "write"]
    m["write_p50_ms"] = hd_quantile(writes, 0.5) or 0.0
    m["write_p95_ms"] = hd_quantile(writes, 0.95) or 0.0
    m["error_rate"] = sum(1 for o in ops if not o["ok"]) / max(len(ops), 1)
    m["host.load_1m"] = med([o["load"] for o in good])
    m["trace.overhead_ratio"] = rep["trace_overhead_ms"] / max(sum(o["ms"] for o in good), 1e-9)
    return m


COUNTS = ["jobs", "stages", "tasks", "exchanges", "unpartitioned_windows", "plan_nodes", "leaked_rdds"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(w["name"] for w in BENCH["workloads"]) + ["selftest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.time() + JVM_TIMEOUT_S
    classpath = build()
    deadline = max(deadline, time.time() + JVM_TIMEOUT_S)  # a first build has its own budget
    data = dataset()
    out = os.path.join(STATE, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--data", data]
    if a.workload == "analytics":
        args[-1] = analytics_copies(data)
        args += ["--queries", ",".join(CONFIG["analytics_queries"])]
    run_jvm(classpath, args, os.path.join(out, "jvm.log"), deadline)
    rep = json.load(open(os.path.join(out, "report.json")))
    ops = rep["ops"]
    notes = []
    if a.workload == "analytics":
        verdict, note = oracle_check(os.path.join(args[args.index("--data") + 1], "copy3"), out)
        if note:
            notes.append(note)
        for o in ops:
            if o["ok"] and verdict.get(o["key"]) is False:
                o["ok"], o["err"] = False, "differs from the DuckDB oracle"
    failed = [o for o in ops if not o["ok"]]
    good = [o for o in ops if o["ok"] and o["phase"] == "timed"]
    loads = [o["load"] for o in ops]
    context = {
        "workload": a.workload, "seed": a.seed, "nproc": rep["nproc"], "cores": rep["cores"],
        "heap_mb": rep["heap_max_mb"], "load_1m_median": statistics.median(loads) if loads else None,
        "load_1m_max": max(loads, default=None), "notes": notes,
        "contaminated": bool(loads) and max(loads) > rep["nproc"],
    }
    wanted = BENCH["end_to_end"] if a.trace == 0 else BENCH["per_layer"]
    values = end_to_end(rep, good) if a.trace == 0 else per_layer(rep, good, ops)
    metrics = {m["name"]: {"value": values[m["name"]] if values[m["name"]] is not None else 0.0,
                           "unit": m["unit"]}
               for m in wanted}
    summary = {"context": context, "metrics": metrics,
               "failed_ops": [{k: o[k] for k in ("id", "kind", "key", "err")} for o in failed]}
    if a.trace == 1:
        layers = {}
        for o in good:
            for k, v in self_times(o, [s for s in rep["spans"] if s[0] == o["id"]]).items():
                layers[k] = layers.get(k, 0.0) + v
        summary["layer_self_ms_per_op"] = {k: v / max(len(good), 1) for k, v in sorted(layers.items())}
        # per-op counts: compare.py checks which repeat exactly between two
        # runs of one seed
        summary["op_counts"] = {str(o["id"]): {k: o["trace"][k] for k in COUNTS if k in o["trace"]}
                                for o in ops if "trace" in o}
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    for o in failed:
        print(f"# failed op {o['id']} {o['kind']} ({o['key']}): {o['err']}", file=sys.stderr)
    print("# context " + json.dumps(context, sort_keys=True))
    print("# report " + os.path.relpath(os.path.join(out, "summary.json"), os.getcwd()))
    print(json.dumps({"correct": not failed and bool(good), "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
