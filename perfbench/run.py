#!/usr/bin/env python3
"""Pipeline benchmark: one command, run from the root of a checkout.

    python3 perfbench/run.py --workload dedup --seed 1 --seconds 12 --trace 0

Builds the program and the harness from source (sbt, cached by a hash
of the sources), generates the workload's inputs from the seed, checks
the mirrored registered queries against their DuckDB oracles once per
seed, then runs the workload in one JVM: set-up, timed executions for
`--seconds`, and with `--trace 1` one traced execution. Every
execution's outputs are checked against the fingerprints pinned by the
gate. The last stdout line is the result JSON; the line before it holds
the run's provenance. See perfbench/README.md for the workloads and
metrics.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, BENCH)
import gen  # noqa: E402

# Fixed so that results do not depend on the host, as are the slots and
# shuffle partitions the harness (perfbench.Main) reports.
HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

PROGRAM_SOURCES = ["build.sbt", "project/build.properties", "src/main"]
BENCH_SOURCES = ["perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src", "perfbench/gen.py"]

class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(rels=PROGRAM_SOURCES + BENCH_SOURCES):
    h = hashlib.sha256()
    for rel in rels:
        p = os.path.join(ROOT, rel)
        files = [p] if os.path.isfile(p) else sorted(
            f for f in glob.glob(os.path.join(p, "**"), recursive=True)
            if os.path.isfile(f))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    """Compile program and harness; return the runtime classpath."""
    cached = os.path.join(STATE, "classpath.txt")
    if os.path.exists(cached):
        with open(cached) as f:
            got, cp = f.read().split("\n", 1)
        cp = cp.strip()
        if got == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building (sbt)")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines()
             if ln and not ln.startswith("[") and os.pathsep in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("build failed")
    with open(cached, "w") as f:
        f.write(f"{stamp}\n{lines[-1]}")
    return lines[-1]


def inputs(workload, seed):
    """Generated input directory and the seconds generation took. The
    directory is keyed by the generator's source too, so a changed
    generator never leaves stale inputs behind."""
    d = os.path.join(STATE, "inputs", f"{workload}-{seed}-"
                     f"{source_stamp(['perfbench/gen.py'])[:16]}")
    meta = os.path.join(d, "gen.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        gen.generate(workload, seed, os.path.join(d, "tables"))
        with open(meta, "w") as f:
            json.dump({"gen_s": time.perf_counter() - t0}, f)
    with open(meta) as f:
        return os.path.join(d, "tables"), json.load(f)["gen_s"]


def jvm(cp, workload, data, out, extra):
    """Run perfbench.Main once; return its result file."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={out}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--data", data, "--out", out] + extra
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.run(cmd + ["--launched-ms", repr(time.time() * 1e3)],
                           cwd=out, stdout=logf, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    res = os.path.join(out, "jvm.json")
    if p.returncode != 0 or not os.path.exists(res):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"benchmark JVM failed (exit {p.returncode})")
    with open(res) as f:
        return json.load(f)


def _verify_local():
    """The repository's oracle comparison script, for its canonicalisation."""
    path = os.path.join(ROOT, "scripts", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def read_rows(con, path):
    df = con.execute("SELECT * FROM read_parquet(?)",
                     [os.path.join(path, "*.parquet")]).df()
    return list(df.columns), list(df.itertuples(index=False, name=None))


def fingerprint(con, canon, path):
    """Row count and an order-independent hash of an output directory."""
    try:
        cols, rows = read_rows(con, path)
    except Exception as e:  # a missing or unreadable output
        log(f"cannot read {path}: {e}")
        return None
    digest = hashlib.sha256("\n".join(canon(rows, cols)).encode())
    return [len(rows), digest.hexdigest()]


def materialize_shared_ctes(sql):
    """Mark every CTE that the query references more than once
    MATERIALIZED, the fix scripts/verify_local.py's notes prescribe for
    oracles: DuckDB otherwise inlines it at each reference, and a
    recursive CTE re-evaluates the inlined edge set on every iteration.
    The rows are the same; only the evaluation strategy changes."""
    for name in re.findall(r"(?:WITH(?: RECURSIVE)?|,)\s*(\w+) AS \(", sql):
        if len(re.findall(rf"\b{name}\b", sql)) > 2:
            sql = re.sub(rf"(?<=[\s,]){name} AS \(",
                         f"{name} AS MATERIALIZED (", sql, count=1)
    return sql


def gate(workload, seed, stamp, data, res, out, con, canon):
    """Fingerprints every execution's outputs must match, for this
    (workload, seed) and sources. The first run of a seed compares the
    warm-up's outputs that registered queries mirror with those queries'
    DuckDB oracles, then pins the warm-up's fingerprints."""
    pins_path = os.path.join(STATE, "pins",
                             f"{workload}-{seed}-{stamp[:16]}.json")
    if os.path.exists(pins_path):
        with open(pins_path) as f:
            return json.load(f)
    warm = os.path.join(out, "warmup")
    connect = duckdb_views(data)
    for name, m in sorted(res["mirrors"].items()):
        t0 = time.perf_counter()
        sql = materialize_shared_ctes(m["oracle_sql"])
        odf = connect().execute(sql).df()
        o_cols = list(odf.columns)
        o_rows = list(odf.itertuples(index=False, name=None))
        s_cols, s_rows = read_rows(con, os.path.join(warm, name))
        if sorted(o_cols) != sorted(s_cols) or \
                canon(o_rows, o_cols) != canon(s_rows, s_cols):
            raise BenchError(f"gate: output {name} differs from the "
                             f"oracle of {m['query']}")
        log(f"gate: {name} matches the oracle of {m['query']} "
            f"({len(s_rows)} rows, {time.perf_counter() - t0:.1f}s)")
    pins = {n: fingerprint(con, canon, os.path.join(warm, n))
            for n in sorted(os.listdir(warm))}
    if None in pins.values():
        raise BenchError("gate: a warm-up output cannot be read")
    os.makedirs(os.path.dirname(pins_path), exist_ok=True)
    with open(pins_path, "w") as f:
        json.dump(pins, f)
    return pins


def duckdb_views(data):
    import duckdb

    def connect():
        c = duckdb.connect()
        for t in sorted(os.listdir(data)):
            name = t.split(".")[0]
            c.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                      f"read_parquet('{os.path.join(data, t)}/*.parquet')")
        return c
    return connect


def host_state():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    me = os.getpid()
    jvms = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        jvms += os.path.basename(argv0) == b"java"
    return {"loadavg": load, "jvms": jvms}


def declared_metrics(section):
    """(name, unit) of every metric BENCHMARK.json declares in a section."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[section]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in PROGRAM_SOURCES + ["scripts/verify_local.py"]
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"program sources missing beside the benchmark: {missing}")
        return 2
    import duckdb

    before = host_state()
    os.makedirs(STATE, exist_ok=True)
    stamp = source_stamp()
    cp = build(stamp)
    data, gen_s = inputs(a.workload, a.seed)
    con = duckdb.connect()
    canon = _verify_local().canon

    out = os.path.join(STATE, "run")
    extra = ["--seconds", str(a.seconds)] + (["--trace"] if a.trace else [])
    t0 = time.perf_counter()
    res = jvm(cp, a.workload, data, out, extra)
    log(f"JVM {time.perf_counter() - t0:.1f}s")
    try:
        pins, correct = gate(a.workload, a.seed, stamp, data, res, out, con,
                             canon), True
    except BenchError as e:
        log(str(e))
        pins, correct = {}, False

    execs = [{"tag": "warmup", "error": ""}] + res["executions"]
    if a.trace:
        execs.append({"tag": "traced", "error": ""})
    failed = 0
    for e in execs:
        wrong = [n for n, fp in pins.items() if fingerprint(
            con, canon, os.path.join(out, e["tag"], n)) != fp]
        if not correct or e["error"] or wrong:
            failed += 1
            log(f"execution {e['tag']} failed: "
                f"{e['error'] or f'outputs differ from the pins: {wrong}'}")
    timed = [e for e in res["executions"] if not e["error"]]
    if not timed:
        raise BenchError("no timed execution succeeded")
    walls = [e["wall_s"] for e in timed]
    pipeline_s = statistics.median(walls)

    if a.trace:
        values = dict(res["trace"])
        values["trace.overhead_s"] = values["trace.wall_s"] - pipeline_s
        values["failed_frac"] = failed / len(execs)
        values["harness.executions"] = len(execs)
        values["harness.gen_s"] = gen_s
    else:
        values = {
            "setup_s": res["setup_s"],
            "pipeline_s": pipeline_s,
            "cpu_s": statistics.median([e["cpu_s"] for e in timed]),
            "peak_rss_mb": res["peak_rss_mb"],
        }
    declared = declared_metrics("per_layer" if a.trace else "end_to_end")
    missing = [k for k, _ in declared if k not in values]
    if missing:
        raise BenchError(f"declared metrics not measured: {missing}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in declared}

    provenance = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "slots": res["slots"], "heap": HEAP,
        "shuffle_partitions": res["shuffle_partitions"],
        "nproc": os.cpu_count(), "loadavg_before": before["loadavg"],
        "loadavg_after": host_state()["loadavg"],
        "sibling_jvms": before["jvms"], "gen_s": gen_s,
        "session_s": res["session_s"], "pipeline_s_samples": walls,
        "release_s": res["release_s"], "failed_frac": failed / len(execs),
    }
    result = {"correct": correct and failed == 0, "attempted": len(execs),
              "failed": failed, "metrics": metrics}
    with open(os.path.join(STATE, "last_result.json"), "w") as f:
        json.dump({"provenance": provenance, "result": result,
                   "spans": res.get("spans", [])}, f, indent=1)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (BenchError, subprocess.TimeoutExpired) as err:
        log(f"error: {err}")
        sys.exit(1)
