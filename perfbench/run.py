#!/usr/bin/env python3
"""Benchmark of the engine: one workload per run, metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and this
harness with sbt (outputs under target/ directories and .bench_build/);
later runs reuse the build while the sources are unchanged. The inputs are
the sf0.1 tables under perfbench/data/, checked against their SHA256SUMS
before every run. Each run works in its own directory under .bench_build/
and removes it when done.

The last line of standard output is
{"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). The line before it carries the run's host facts and
details. A traced run also writes its spans to .bench_build/traces/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CORES = 4
HEAP = "2g"
JVM_TIMEOUT_S = 165
DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("light_mix", "stream_ingest")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Content hash of everything the build reads."""
    files = []
    for pat in ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/**/*"]:
        files += [f for f in glob.glob(os.path.join(ROOT, pat), recursive=True) if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine and harness unless the sources are unchanged since the
    last build; returns the runtime classpath."""
    for need in ("build.sbt", "src/main", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
         f"-Djava.io.tmpdir={tmp}", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def check_data():
    """Fails unless every input table matches its recorded checksum."""
    sums = os.path.join(DATA, "SHA256SUMS")
    if not os.path.exists(sums):
        fail(f"{os.path.relpath(sums, ROOT)} not found")
    for line in open(sums):
        digest, name = line.split()
        path = os.path.join(DATA, name)
        if not os.path.exists(path):
            fail(f"input table {name} not found")
        with open(path, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                fail(f"input table {name} does not match SHA256SUMS")


def steal_s():
    """CPU time the hypervisor gave to other guests so far, in seconds, or
    None where /proc/stat has no steal column."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


# ---- correctness: batch results against the DuckDB oracle ------------------

def canon(v):
    """A cell in a form both engines' values map to identically."""
    import datetime
    import decimal
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if v != v else v
    if isinstance(v, decimal.Decimal):
        return "d:" + format(v.normalize(), "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        delta = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return str(v)


def engine_cell(v, kind):
    import decimal
    if v is None:
        return None
    if kind == "d":
        return canon(decimal.Decimal(v))
    if kind == "f" and isinstance(v, str):
        return "NaN" if v == "NaN" else float(v)
    return canon(v)


def rows_key(rows):
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def oracle_check(data, out, oracle):
    """Compares each query's dumped rows with DuckDB running its oracle SQL.
    Returns {query: reason} for every query that does not match."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(out, 'duckdb_tmp')}'")
    con.execute("SET threads=4")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = {}
    for name, sql in sorted(oracle.items()):
        path = os.path.join(out, "rows", f"{name}.json")
        if not os.path.exists(path):
            bad[name] = "no result"
            continue
        got = json.load(open(path))
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            exp = cur.fetchall()
        except Exception as e:  # the oracle itself failing is a mismatch too
            bad[name] = f"oracle error: {e}"[:300]
            continue
        if sorted(cols) != sorted(got["columns"]):
            bad[name] = f"columns {got['columns']} vs oracle {cols}"
            continue
        idx = [cols.index(c) for c in got["columns"]]
        exp_rows = [[canon(r[i]) for i in idx] for r in exp]
        got_rows = [[engine_cell(v, k) for v, k in zip(r, got["kinds"])] for r in got["rows"]]
        if len(exp_rows) != len(got_rows):
            bad[name] = f"rows {len(got_rows)} vs oracle {len(exp_rows)}"
        elif rows_key(exp_rows) != rows_key(got_rows):
            bad[name] = "values differ"
    return bad


# ---- metrics -----------------------------------------------------------------

def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def end_to_end(workload, r):
    common = {"setup_s": statistics.median(r["setup_s"]), "cold_setup_s": r["setup_s"][0],
             "heap_live_mb": r["heap_live_mb"]}
    if workload == "stream_ingest":
        lat = r["latency_ms"]
        return dict(common, **{
            "cold_pass_s": r["catchup_s"],
            "pass_s": statistics.median(r["batch_s"]),
            "throughput_per_s": r["stream"]["backlog_events"] / r["catchup_s"],
            "latency_p50_ms": statistics.median(lat),
            "latency_tail_ms": quantile(lat, 0.99),
        }), {"latency_samples": len(lat), "latency_tail_pct": 99,
             "paced_batches": len(r["batch_s"])}
    steady = [p["s"] for p in r["passes"] if p["pass"] > 0 and not p["traced"]]
    per_query = [q for q in r["query_ms"].values() if q]
    runs = [ms for q in per_query for ms in q]
    # each query's p50 and p90 over its steady runs, combined across the
    # mix's log-spread query times by geometric mean
    return dict(common, **{
        "cold_pass_s": r["cold_pass_s"],
        "pass_s": statistics.median(steady),
        "throughput_per_s": len(runs) / (sum(runs) / 1000.0),
        "latency_p50_ms": statistics.geometric_mean(statistics.median(q) for q in per_query),
        "latency_tail_ms": statistics.geometric_mean(quantile(q, 0.9) for q in per_query),
    }), {"steady_passes": len(steady), "query_samples": len(runs),
         "samples_per_query": min(len(q) for q in per_query), "latency_tail_pct": 90}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the harness JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    spec = json.load(open(spec_path))
    check_data()
    classpath = build()
    data = DATA
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    out = os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--work", work, "--out", out, "--cores", str(CORES)]
        log = os.path.join(work, "jvm.log")
        steal0, cpu0 = steal_s(), os.times()
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        steal1, cpu1 = steal_s(), os.times()
        # what the harness JVM used, and what the host took from this guest
        # meanwhile: a run slowed by other guests shows as steal, not as CPU
        host_load = {"jvm_cpu_s": round(cpu1.children_user + cpu1.children_system
                                        - cpu0.children_user - cpu0.children_system, 2),
                     "jvm_wall_s": round(cpu1.elapsed - cpu0.elapsed, 2),
                     "steal_s": None if steal0 is None else round(steal1 - steal0, 2)}
        result_path = os.path.join(out, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            sys.stderr.write(open(log, errors="replace").read()[-6000:])
            fail(f"harness exited with {rc}")
        r = json.load(open(result_path))

        if a.workload == "stream_ingest":
            attempted, failed, bad = r["attempted"], r["failed"], {}
        else:
            status = r["status"]
            bad = oracle_check(data, out, r["oracle"])
            for n, reason in bad.items():
                print(f"perfbench: {n} does not match the oracle: {reason}", file=sys.stderr)
            attempted = sum(s["runs"] for s in status.values())
            failed = sum(s["failed"] + s["mismatched"] for s in status.values())
            failed += sum(status[n]["runs"] - status[n]["failed"] for n in bad)
            for n, s in status.items():
                if s["error"]:
                    bad.setdefault(n, s["error"])

        if a.trace:
            names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            values = r["per_layer"]
            detail = {}
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            spans = os.path.join(out, "spans.json")
            if os.path.exists(spans):
                dst = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
                shutil.copyfile(spans, dst)
                detail["spans"] = os.path.relpath(dst, ROOT)
        else:
            names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
            values, detail = end_to_end(a.workload, r)
        info = {k: v for k, v in r.items()
                if k not in ("oracle", "per_layer", "query_ms", "latency_ms", "batch_s")}
        info.update(detail, host_load=host_load, git_commit=git_commit(), source_hash=source_hash()[:16],
                    errors=bad, error_rate=failed / max(1, attempted))
        print(json.dumps({"info": info}, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
