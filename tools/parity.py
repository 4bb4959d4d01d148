#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify's parquet
dumps against the DuckDB oracle and diff values exactly.

Usage: python3 tools/parity.py <sfDir> <outDir> [--json <path>]
(after: sbt "runMain graft.Verify <sfDir> <outDir>")

--json writes a driver-schema self-report (the CORRECTNESS_r10.json key
set, byte-compatible: per query {"rows_match", "schema_match",
"hash_match", "spark_rows", "oracle_rows", "err"}) so every round
commits its own hard per-query record even when the driver-side
artifact comes back zeroed (the r11/r12 `{}` incident).
"""
import json, sys, os, time
import duckdb
import pandas as pd

argv = sys.argv[1:]
json_path = None
if "--json" in argv:
    i = argv.index("--json")
    if i + 1 >= len(argv):
        sys.exit("usage: parity.py <sfDir> <outDir> [--json <path>]")
    json_path = argv[i + 1]
    del argv[i:i + 2]  # remove the flag AND its path operand
if len(argv) != 2:
    sys.exit("usage: parity.py <sfDir> <outDir> [--json <path>]")
sf_dir, out_dir = argv

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails, passes, skips = [], [], []
report = {}  # driver-schema per-query record

def record(name, rows_match, schema_match, hash_match,
           spark_rows, oracle_rows, err):
    report[name] = {"rows_match": rows_match, "schema_match": schema_match,
                    "hash_match": hash_match, "spark_rows": spark_rows,
                    "oracle_rows": oracle_rows, "err": err}

dumped = sorted(n for n in os.listdir(out_dir)
                if os.path.isdir(os.path.join(out_dir, n)))
# a query that failed in Verify has no dump dir — it must still get a
# row (the driver records the gap; silence is how rounds get zeroed).
# The SELECTED set comes from Verify's manifest (a restricted
# SPARK_GRAFT_ONLY run must not flood every unselected oracle key).
manifest_path = os.path.join(out_dir, "verify_manifest.json")
if os.path.exists(manifest_path):
    selected = set(json.load(open(manifest_path)).get("per_query", {}))
else:
    selected = set(dumped)
def check(name):
    if name not in dumped:
        fails.append((name, "missing output (Verify failed?)"))
        record(name, None, None, None, None, None, "missing_output")
        return
    got = pd.read_parquet(os.path.join(out_dir, name))
    if name not in oracle:
        skips.append((name, len(got)))
        record(name, None, None, None, len(got), None, "no_oracle")
        return
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}"))
        record(name, None, None, None, len(got), None,
               f"oracle SQL error: {e}")
        return
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        fails.append((name, f"columns: got {list(got.columns)} vs oracle {list(exp.columns)}"))
        record(name, len(got) == len(exp), False, False,
               len(got), len(exp), "schema_mismatch")
        return
    if len(got) != len(exp):
        fails.append((name, f"rows: got {len(got)} vs oracle {len(exp)}"))
        record(name, False, True, False, len(got), len(exp), "row_count")
        return
    # driver-style: sort rows for stability, then exact compare
    got_s = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    exp_s = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    diffs = []
    for c in got.columns:
        a, b = got_s[c], exp_s[c]
        # driver-strict: a dtype KIND mismatch (e.g. DuckDB HUGEINT -> float64
        # vs the engine's int64) breaks the driver's value hash even when every
        # value is numerically equal, so it must FAIL here. Same-kind width
        # differences (Spark row_number int32 vs DuckDB BIGINT int64) hash the
        # same on the driver (q09/q21/q71 are green), so widen-and-compare.
        if a.dtype.kind != b.dtype.kind:
            diffs.append(f"{c}: dtype {a.dtype} vs oracle {b.dtype}")
            continue
        if a.dtype != b.dtype:
            wide = b.dtype if b.dtype.itemsize >= a.dtype.itemsize else a.dtype
            a, b = a.astype(wide), b.astype(wide)
        neq = ~(a.eq(b) | (a.isna() & b.isna()))
        if neq.any():
            i = neq.idxmax()
            diffs.append(f"{c}[{i}]: {a[i]!r} ({a.dtype}) vs {b[i]!r} ({b.dtype})")
    if diffs:
        fails.append((name, "; ".join(diffs[:3])))
        record(name, True, True, False, len(got), len(exp),
               "; ".join(diffs[:3]))
    else:
        passes.append((name, len(got)))
        record(name, True, True, True, len(got), len(exp), None)

# one flushed stderr line per query as it finishes, so a slow oracle is
# named while the run is still going (stdout carries only the report)
for name in sorted(set(dumped) | selected):
    t0 = time.monotonic()
    check(name)
    print(f"[parity] {name} {time.monotonic() - t0:.1f}s",
          file=sys.stderr, flush=True)

for n, r in passes: print(f"PASS  {n} ({r} rows)")
for n, r in skips:  print(f"SKIP  {n} (no oracle, {r} rows)")
for n, m in fails:  print(f"FAIL  {n}: {m}")
print(f"\n{len(passes)} pass, {len(fails)} fail, {len(skips)} rows-only")
if json_path:
    with open(json_path, "w") as f:
        json.dump(report, f, indent=2, sort_keys=True)
    print(f"wrote {json_path} ({len(report)} queries)")
sys.exit(1 if fails else 0)
