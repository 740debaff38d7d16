#!/usr/bin/env python3
"""graft's benchmark: one command per workload.

    python3 perfbench/run.py --workload bdb-power --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds graft and the JVM
harness (perfbench/harness) with sbt; later runs reuse that build while
the sources are unchanged. The harness sets up the workload, runs its
query stream for the timed phase and writes its events; this script
turns the events into metrics, checks every query's result, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (from Spark listeners attached for the load and the timed phase).
Both workloads run a fixed query order on fixed data, so the seed is
only recorded: the data generators are pure functions of row id.
See perfbench/README.md for the workloads and every metric.
"""
import argparse
import decimal
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"

BDB = ["q%02d" % i for i in range(1, 31)]
# q05/q20/q25/q26 fit MLlib models; graft's parity policy for them is
# rows and schema only (BdbDirect scaladoc), so no value digest.
BDB_ML_FITS = {"q05", "q20", "q25", "q26"}
# One extension pipeline per iterative graft.ops operator the 30 BDB
# queries never call, plus both graft.streaming paths
EXT = ["d12_dup_groups",          # StarCC
       "g04_kcore",               # KCore
       "t21_pmi_cooccur",         # CoOccur
       "d23_semdedup",            # SemDedup
       "b61_bdb_q20_kmeans",      # ExactLloyd
       "x29_media_neardup",       # Multimodal
       "x02_streaming_sessions",  # StreamingSessionize
       "x09_streaming_dedup"]     # StreamConf.runToTable
BDB_SF = 0.01
EXT_DATA = HERE / "data" / "sf0.01"
# b61_bdb_q20_kmeans reads graft's committed BDB fixture. graft finds it
# relative to the working directory, which for the harness is its
# scratch directory, so point it at the checkout's copy explicitly.
BDB_ORACLE = ROOT / "bench" / "bdb_oracle"

# Query order of each workload. The order is fixed: each run starts a
# cold JVM, and its one-time costs land on whichever query runs first
# (d12 took 8.8 s first, 3.2-4.8 s later), so a seed-permuted order
# would turn into run-to-run spread.
ORDERS = {"bdb-power": BDB, "ext-pipelines": EXT}

UNITS = {"setup_s": "s", "suite_s": "s", "geomean_s": "s", "qph": "1/h",
         "latency_p50_s": "s", "peak_rss_mb": "MB"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if "bytes" in name:
        return "bytes"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", "_s.ml")):
        return "s"
    return "count"


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "harness"):
        files += sorted(p for p in base.rglob("*")
                        if p.is_file() and "target" not in p.parts)
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def ensure_built():
    """Compile graft and the harness with sbt (offline) unless the
    sources match the last build; returns the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=%s" % repos]
        env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building graft and the harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HERE / "harness", env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        log(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


# JDK 17 module opens Spark needs outside spark-submit (the list in
# graft's build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


# --------------------------------------------------------------- checks

def norm(v):
    """A value as canonical text: floats to 9 significant digits, so the
    digest ignores last-bit jitter from partial-aggregation order."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if v != v else "%.9g" % v
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def result_summary(path):
    """Rows, schema and an order-insensitive digest (the sum of per-row
    hashes, columns taken in name order) of a written parquet result."""
    t = pq.read_table(str(path))
    cols = sorted(t.column_names)
    schema = ["%s:%s" % (c, t.schema.field(c).type) for c in cols]
    data = [t.column(c).to_pylist() for c in cols]
    acc = 0
    for row in zip(*data):
        h = hashlib.sha256("\x1f".join(norm(v) for v in row).encode()).digest()
        acc = (acc + int.from_bytes(h[:8], "big")) % (1 << 64)
    return {"rows": t.num_rows, "schema": schema, "digest": "%016x" % acc}


EXPECTED = HERE / "expected" / ("bdb-sf%g.json" % BDB_SF)


def check_bdb(out, order):
    """The final result of every query against the recorded rows, schema
    and digest. Returns the names that did not match."""
    expected = json.loads(EXPECTED.read_text())
    bad = []
    for name in order:
        exp = expected[name]
        try:
            got = result_summary(out / "results" / name)
        except Exception as e:  # missing or unreadable result
            log("[perfbench] check %s: %s" % (name, e))
            bad.append(name)
            continue
        keys = ["rows", "schema"] + ([] if name in BDB_ML_FITS else ["digest"])
        diff = [k for k in keys if got[k] != exp[k]]
        if diff:
            log("[perfbench] check %s: %s differ: got %s, expected %s" % (
                name, diff, {k: got[k] for k in diff}, {k: exp[k] for k in diff}))
            bad.append(name)
    return bad


def check_ext(out, order):
    """DuckDB oracle compare with graft's own gate (tools/check.py);
    queries without an oracle must at least return rows."""
    res = out / "results"
    oracles = json.loads((res / "oracle_sql.json").read_text())
    p = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"),
                        str(EXT_DATA), str(res)], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    ok = {line.split()[-3] for line in p.stdout.splitlines()
          if line.strip().startswith("OK")}
    bad = [n for n in order if n in oracles and n not in ok]
    for n in order:
        if n not in oracles and result_summary(res / n)["rows"] == 0:
            bad.append(n)
    if bad:
        log(p.stdout[-3000:])
    return bad


# ----------------------------------------------------------------- host

def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: time the hypervisor ran
    something else while this machine's vCPUs wanted to run."""
    try:
        v = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        return p.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(ORDERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("no graft sources next to perfbench/: run from a checkout")

    cp = ensure_built()
    work = ROOT / ".bench_work" / a.workload
    out = ROOT / ".bench_out" / ("%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out.mkdir(parents=True)
    order = ORDERS[a.workload]
    cpus = len(os.sched_getaffinity(0))
    host = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "nproc": cpus, "git_commit": git_commit(),
            "queries": order, "loadavg_before": loadavg()}

    cmd = ["java"] + [x for o in OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")] + [
        # a fixed heap and young generation keep VmHWM from following
        # G1's timing-driven resizing (peak RSS spread 23% -> 2%)
        "-Xms4g", "-Xmx4g", "-Xmn1g",
        "-XX:ReservedCodeCacheSize=512m",
        "-Djava.io.tmpdir=%s" % (work / "tmp"),
        "-Dspark.ui.enabled=false",
        "-Dspark.local.dir=%s" % (work / "tmp"),
        "-Dspark.sql.warehouse.dir=%s" % (work / "warehouse"),
        "-cp", cp, "perfbench.Harness",
        "--workload", a.workload, "--out", str(out), "--work", str(work),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus), "--sf", str(BDB_SF), "--data", str(EXT_DATA),
        "--queries", ",".join(order)]
    ticks0 = cpu_ticks()
    start_ms = time.time() * 1000.0
    with open(out / "harness.log", "w") as logf:
        # a run must end within 3 minutes
        p = subprocess.run(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                           env=dict(os.environ, GRAFT_BDB_ORACLE_DIR=str(BDB_ORACLE)),
                           timeout=165)
    if p.returncode != 0:
        log(Path(logf.name).read_text()[-4000:])
        raise SystemExit("harness exited with %d" % p.returncode)
    events = [json.loads(line) for line in (out / "events.jsonl").open()]
    host["loadavg_after"] = loadavg()
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        host["cpu_steal_pct"] = 100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    host.update({k: v for e in events if e["k"] == "host"
                 for k, v in e.items() if k != "k"})

    queries = [e for e in events if e["k"] == "query"]
    errored = [q["name"] for q in queries if not q["ok"]]
    if a.workload == "ext-pipelines":
        wrong = check_ext(out, order)
    else:
        wrong = check_bdb(out, order)
    # a query that errored also has no result to check: count it once
    failed = len(set(errored) | set(wrong))

    if a.trace:
        m = metrics.per_layer(events, BDB + EXT)
        (out / "layers.txt").write_text(metrics.layer_split(m) + "\n")
        log("[perfbench] layers: " + metrics.layer_split(m))
    else:
        m = metrics.end_to_end(events, start_ms)
    host["errored"], host["wrong"] = errored, wrong
    (out / "host.json").write_text(json.dumps(host, indent=1) + "\n")
    (out / "metrics.json").write_text(json.dumps(m, indent=1) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    log("[perfbench] host: %s" % json.dumps(host))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(queries),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()},
    }))


if __name__ == "__main__":
    main()
