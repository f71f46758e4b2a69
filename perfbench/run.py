#!/usr/bin/env python3
"""graft benchmark runner.

Builds the program and the harness under perfbench/src from source
(scalac from the Spark jars that build.sbt names), runs one workload in
a fresh JVM, checks its results, and prints one JSON line:

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Builds, logs and the run's scratch lakes live under .perfbench/ at the
checkout root; the scratch lakes are removed when the run ends.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170

# Each workload and the scale of the TESTDATA.md corpus it reads (None:
# it makes all its data from the seed).
WORKLOADS = {"cdc_upsert": None, "query_serve": "0.01"}
TINY_SCALE = "0.001"

END_TO_END = {
    "setup_s": "s", "live_mem_mb": "MB", "ok_ratio": "ratio", "cycle_s": "s",
    "throughput_per_s": "1/s", "op_ms_p50": "ms", "op_ms_tail": "ms", "read_ms_p50": "ms",
}
PER_LAYER = {
    "sinks.commit.jobs": "count", "sinks.commit.driver_ms": "ms", "sinks.commit.write_bytes": "bytes",
    "sinks.compact.count": "count", "sinks.compact.ms": "ms", "sinks.compact.jobs": "count",
    "sinks.compact.write_bytes": "bytes", "sinks.manifest.ms": "ms",
    "sinks.point_read.ms": "ms", "sinks.point_read.jobs": "count", "sinks.point_read.driver_ms": "ms",
    "sinks.point_read.read_bytes": "bytes", "sinks.point_read.files_kept_ratio": "ratio",
    "sinks.range_read.ms": "ms", "sinks.range_read.jobs": "count", "sinks.range_read.driver_ms": "ms",
    "sinks.range_read.read_bytes": "bytes", "sinks.range_read.files_kept_ratio": "ratio",
    "sinks.deltas_at_read": "count", "cdc.unwrap.ms_per_krow": "ms/krow",
    "plans.plan_ms": "ms", "query.jobs": "count", "query.stages": "count", "query.tasks": "count",
    "query.shuffle_bytes": "bytes", "query.spill_bytes": "bytes", "query.olap.ms": "ms",
    "query.dedup.ms": "ms", "query.text.ms": "ms", "query.ann.ms": "ms",
    "spark.busy_ratio": "ratio", "spark.gc_ms": "ms", "spark.jobs_per_op": "count",
    "trace.overhead_ratio": "ratio",
}
# The fewest timed ops a run makes: one compaction cycle of commits, and
# two passes over the 21 queries.
MIN_OPS = {"cdc_upsert": 31, "query_serve": 42}
# The timed op of each workload, and the reads that follow it.
MAIN_OP = {"cdc_upsert": "commit", "query_serve": "query"}
READ_OPS = {"cdc_upsert": ("point",), "query_serve": ("query",)}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    """The Spark jar directory the sbt build compiles against."""
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit(f"{ROOT} holds no build.sbt: run from a graft checkout")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def corpus(scale):
    """The test corpus directory TESTDATA.md lists for `scale`."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        for line in f:
            cells = [c.strip().strip("`") for c in line.split("|")]
            if len(cells) > 2 and cells[1] == scale:
                return cells[2].rstrip("/")
    raise SystemExit(f"TESTDATA.md lists no corpus at scale {scale}")


def scala_sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile the program and the harness unless the sources are unchanged
    since the last build; returns the classpath entries."""
    jars = spark_jars()
    main_src = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = scala_sources(os.path.join(HERE, "src"))
    if not main_src:
        raise SystemExit("no program sources under src/main/scala")
    h = hashlib.sha256()
    for p in main_src + bench_src:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()
    out = os.path.join(STATE, "build")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return [os.path.join(out, "bench"), os.path.join(out, "main")]
    global _build_tmp
    tmp = _build_tmp = os.path.join(STATE, f"build-tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    for name, srcs, cp in (("main", main_src, f"{jars}/*"),
                           ("bench", bench_src, f"{tmp}/main:{jars}/*")):
        dest = os.path.join(tmp, name)
        os.makedirs(dest)
        argfile = os.path.join(tmp, f"{name}.args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                            "-nowarn", "-d", dest, "-classpath", cp, "@" + argfile],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840,
                           preexec_fn=_die_with_parent)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit(f"scalac failed on {name}:\n{r.stdout[-4000:]}")
    with open(os.path.join(tmp, "stamp"), "w") as f:
        f.write(key)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _build_tmp = None
    log(f"built in {time.time() - t0:.1f} s")
    return [os.path.join(out, "bench"), os.path.join(out, "main")]


# ---------------------------------------------------------------- run

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

_child = None
_work = None
_build_tmp = None


def _cleanup():
    if _child is not None and _child.poll() is None:
        _child.terminate()
        try:
            _child.wait(timeout=15)
        except subprocess.TimeoutExpired:
            _child.kill()
            _child.wait()
    for d in (_work, _build_tmp):
        if d:
            shutil.rmtree(d, ignore_errors=True)


def _die_with_parent():
    """Have the kernel kill the JVM if this runner dies, even by SIGKILL."""
    import ctypes
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def _on_signal(signum, _frame):
    _cleanup()
    sys.exit(128 + signum)


def sweep_stale():
    """Remove scratch dirs of earlier runs whose process is gone (a kill -9)."""
    if not os.path.isdir(STATE):
        return
    for d in os.listdir(STATE):
        m = re.fullmatch(r"(?:run|build-tmp)-(\d+)", d)
        if m and int(m.group(1)) != os.getpid():
            try:
                os.kill(int(m.group(1)), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(STATE, d), ignore_errors=True)
            except PermissionError:
                pass


def run_jvm(cp, workload, seed, seconds, trace, tiny=False, corrupt=False):
    """Run one workload in a fresh JVM; returns (raw result, work dir)."""
    global _child, _work
    jars = spark_jars()
    _work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(_work, ignore_errors=True)
    os.makedirs(os.path.join(_work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    out = os.path.join(_work, "result.json")
    scale = TINY_SCALE if tiny else WORKLOADS[workload]
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-cp", ":".join(cp + [f"{jars}/*"])]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            # a fixed heap size, so G1 sizes its generations alike in every run
            f"-Djava.io.tmpdir={_work}/tmp", "-Xms1536m", "-Xmx1536m",
            "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--sf", corpus(scale) if scale else "-",
            "--work", _work, "--out", out, "--cpus", str(cpus),
            "--tiny", "1" if tiny else "0", "--corrupt", "1" if corrupt else "0"]
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}
    logf = os.path.join(STATE, f"{workload}.log")
    with open(logf, "w") as lf:
        _child = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=_work,
                                  preexec_fn=_die_with_parent)
        try:
            rc = _child.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _cleanup()
            raise SystemExit(f"{workload} exceeded {RUN_TIMEOUT_S} s; log in {logf}")
    _child = None
    if rc != 0 or not os.path.exists(out):
        with open(logf) as f:
            tail = [l for l in f.read().splitlines() if "WARN" not in l and "INFO" not in l][-30:]
        raise SystemExit(f"{workload} failed (exit {rc}); log in {logf}:\n" + "\n".join(tail))
    spans = os.path.join(_work, "result.spans.json")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(STATE, f"{workload}.spans.json"))
    with open(out) as f:
        return json.load(f), _work


# ---------------------------------------------------------------- oracle

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def duck(sf, work):
    import duckdb
    con = duckdb.connect()
    con.sql(f"SET temp_directory='{work}/duckdb'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    ts = {r[0]: r[1] for r in con.sql("DESCRIBE events").fetchall()}.get("ts")
    if ts == "BIGINT":
        # Spark reads the corpus's TIMESTAMP(NANOS) as epoch nanos; the
        # program converts with integer division, and so does the oracle
        con.sql(f"""CREATE OR REPLACE VIEW events AS
                    SELECT event_id, make_timestamp(ts // 1000) AS ts,
                           user_id, event_type, value, props
                    FROM '{sf}/events.parquet'""")
    return con


def same_result(a, b):
    """Column names, row count and every cell equal, rows sorted by all columns."""
    ac, bc = sorted(a.columns), sorted(b.columns)
    if ac != bc:
        return f"columns {ac} vs {bc}"
    a = a[ac].sort_values(ac).reset_index(drop=True)
    b = b[bc].sort_values(bc).reset_index(drop=True)
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in ac:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            same = x == y or (x is None and y is None)
            if not same and isinstance(x, float) and isinstance(y, float):
                same = math.isnan(x) and math.isnan(y)
            if not same:
                return f"col={c} row={i}: spark={x!r} oracle={y!r}"
    return None


def check_queries(raw, work, sf, corrupt):
    """Compare each distinct query result with the query's DuckDB oracle;
    returns the ids of the results that disagree."""
    with open(os.path.join(work, "results", "oracle_sql.json")) as f:
        oracle = json.load(f)
    t0 = time.time()
    con = duck(sf, work)
    bad, expected = set(), {}
    results = sorted(raw["info"]["results"], key=lambda r: r["id"])
    dropped = False
    for r in results:
        name, rid = r["name"], r["id"]
        got = con.sql(f"SELECT * FROM '{work}/results/r{rid}/*.parquet'").df()
        if corrupt and not dropped and len(got) > 1:
            got, dropped = got.iloc[1:], True   # self-test: one row removed
        if name not in oracle:
            log(f"FAIL {name}: no oracle SQL")
            bad.add(rid)
            continue
        if name not in expected:
            expected[name] = con.sql(oracle[name]).df()
        why = same_result(got, expected[name])
        if why:
            log(f"FAIL {name} result {rid}: {why}")
            bad.add(rid)
    con.close()
    log(f"oracle check of {len(results)} results: {time.time() - t0:.1f} s")
    return bad


# ---------------------------------------------------------------- metrics

def tail(w, xs):
    """The tail latency and its percentile. A run times at least
    MIN_OPS[w] ops; at that count the tail is the 11th-largest sample,
    the highest order statistic with ten samples beyond it. A run that
    fits in more ops (a faster machine or program) reports the same
    percentile, so the metric does not move to a higher percentile as
    the program gets faster. The median below 11 samples."""
    s = sorted(xs)
    if len(s) < 11:
        return statistics.median(s), 50.0
    m = MIN_OPS[w]
    k = min(len(s) - 10, math.ceil(len(s) * (m - 10) / m))
    return s[k - 1], 100.0 * k / len(s)


def samples(ops, kinds):
    """Latencies of the ok ops of `kinds`; of all of them if every one failed
    (the run then reports correct=false, but still prints its timings)."""
    mine = [o for o in ops if o["kind"] in kinds]
    return [o["ms"] for o in mine if o["ok"]] or [o["ms"] for o in mine]


def end_to_end(w, raw, ops):
    ok = [o for o in ops if o["ok"]]
    main = samples(ops, (MAIN_OP[w],))
    reads = samples(ops, READ_OPS[w])
    if w == "query_serve":
        passes = {}
        for o in ops:
            passes.setdefault(o["pass"], []).append(o)
        clean = [p for p in passes.values() if all(o["ok"] for o in p)] or list(passes.values())
        cycle = statistics.median(sum(o["ms"] for o in p) for p in clean) / 1000
        rate = len(main) / (sum(main) / 1000)
    else:
        timed = [o for o in ops if o["kind"] != "final_read"]
        cycles = raw["info"].get("compactions") or 1
        cycle = sum(o["ms"] for o in timed) / 1000 / cycles
        rows = sum(o["rows"] for o in ok if o["kind"] == MAIN_OP[w])
        rate = rows / (sum(main) / 1000)
    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)
    t, pct = tail(w, main)
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "live_mem_mb": raw["live_mem_mb"],
        "ok_ratio": 1 - failed / attempted,
        "cycle_s": cycle,
        "throughput_per_s": rate,
        "op_ms_p50": statistics.median(main),
        "op_ms_tail": t,
        "read_ms_p50": statistics.median(reads),
    }, {"op_samples": len(main), "tail_percentile": round(pct, 2), "read_samples": len(reads)}


def per_layer(w, raw, ops):
    layers = dict(raw["layers"])
    # tracing overhead: traced over bare ops of the same kind (and, for
    # queries, the same query), compacting commits left out
    groups = {}
    for o in ops:
        if o["ok"] and o["kind"] == MAIN_OP[w] and not o.get("compacted"):
            groups.setdefault(o.get("name", ""), ([], []))[0 if o["traced"] else 1].append(o["ms"])
    ratios = [statistics.median(t) / statistics.median(b) for t, b in groups.values() if t and b]
    layers["trace.overhead_ratio"] = statistics.median(ratios) if ratios else 1.0
    for kind, name in (("point", "sinks.point_read.ms"), ("range", "sinks.range_read.ms")):
        xs = [o["ms"] for o in ops if o["ok"] and o["traced"] and o["kind"] == kind]
        if xs:
            layers[name] = statistics.median(xs)
    return {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}


def run_once(workload, seed, seconds, trace, tiny=False, corrupt=False):
    cp = build()
    raw, work = run_jvm(cp, workload, seed, seconds, trace, tiny, corrupt)
    ops = raw["ops"]
    if workload == "query_serve":
        bad = check_queries(raw, work, corpus(TINY_SCALE if tiny else WORKLOADS[workload]), corrupt)
        for o in ops:
            if o["result"] in bad or o["result"] < 0:
                o["ok"] = False
    e2e, samples = end_to_end(workload, raw, ops)
    if trace:
        metrics = per_layer(workload, raw, ops)
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    failed = sum(not o["ok"] for o in ops)
    stamp = {"workload": workload, "seed": seed, "trace": bool(trace), **samples,
             "machine": raw["machine"], "setup_runs_s": raw["setup_s"], "info": {
                 k: v for k, v in raw["info"].items() if k != "results"}}
    print(json.dumps(stamp))
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}


# ---------------------------------------------------------------- self-test

def self_test():
    """Tiny runs on the smallest corpus: every metric BENCHMARK.json names is
    emitted with its unit, and each correctness check catches a corrupted
    result."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            r = run_once(w, 7, 3, trace, tiny=True)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metrics {got} != BENCHMARK.json {want[trace]}")
            if not r["correct"] or r["failed"]:
                problems.append(f"{w} trace={trace}: clean run reported failures: {r}")
        r = run_once(w, 7, 3, 0, tiny=True, corrupt=True)
        if r["correct"] or not r["failed"]:
            problems.append(f"{w}: corrupted result not caught: {r}")
        log(f"self-test {w}: done")
    for p in problems:
        log("SELF-TEST FAIL " + p)
    print(json.dumps({"self_test": "fail" if problems else "ok", "problems": len(problems)}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    os.makedirs(STATE, exist_ok=True)
    sweep_stale()
    try:
        if a.self_test:
            return self_test()
        if not a.workload:
            ap.error("--workload is required")
        print(json.dumps(run_once(a.workload, a.seed, a.seconds, a.trace)))
        return 0
    finally:
        _cleanup()


if __name__ == "__main__":
    sys.exit(main())
