#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate.

Usage: after `sbt "runMain graft.Verify <sfDir> <outDir>"`, run
    python3 tools/check.py <sfDir> <outDir>

For every query result parquet in <outDir>, runs the matching oracle SQL
from <outDir>/oracle_sql.json in DuckDB against the same testdata parquet
tables, then compares: column names (sorted), row counts, and values
(rows sorted by all columns; exact for non-floats, tiny-epsilon for
floats). Exits nonzero on any mismatch.

Uses the driver-side python stack (duckdb/pandas) — this script is a dev
harness, not part of the shipped library.
"""
import json, math, os, sys, glob, time

import duckdb
import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_result(path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None
    con = duckdb.connect()
    df = con.execute(
        "SELECT * FROM read_parquet([" +
        ",".join(f"'{f}'" for f in files) + "])").fetchdf()
    con.close()
    return df


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        na_position="last").reset_index(drop=True)
    return df


def values_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        if a == b:
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def dtype_kind(dt):
    """Collapse a pandas dtype to the equivalence class the driver hash
    cares about: int/uint are one class, float another, datetime another
    (resolution ns-vs-us doesn't matter: values hash via isoformat)."""
    s = str(dt)
    if s.startswith("datetime64"):
        return "datetime"
    k = dt.kind  # i,u,f,b,O,M,...
    return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(k, s)


def compare(name, got, exp):
    problems = []
    if sorted(got.columns) != sorted(exp.columns):
        problems.append(f"columns differ: spark={sorted(got.columns)} oracle={sorted(exp.columns)}")
        return problems
    if len(got) != len(exp):
        problems.append(f"row count differs: spark={len(got)} oracle={len(exp)}")
        return problems
    # dtype gate: a float64 oracle column against an int64 spark column
    # hashes differently driver-side (300.0 vs 300) even when every value
    # compares equal — exactly the d16/d19 round-3/4 failure class.
    for c in sorted(got.columns):
        gk, ek = dtype_kind(got[c].dtype), dtype_kind(exp[c].dtype)
        if gk != ek:
            problems.append(
                f"col {c}: dtype kind differs spark={got[c].dtype} oracle={exp[c].dtype}"
                " (driver hash WILL fail even if values match)")
    if problems:
        return problems
    got, exp = canon(got), canon(exp)
    exact_mismatch = 0
    for c in got.columns:
        gv, ev = got[c].tolist(), exp[c].tolist()
        for i, (g, e) in enumerate(zip(gv, ev)):
            g = None if (g is pd.NaT or (isinstance(g, float) and math.isnan(g))) else g
            e = None if (e is pd.NaT or (isinstance(e, float) and math.isnan(e))) else e
            # normalize timestamps/dates to isoformat strings
            if hasattr(g, "isoformat"):
                g = g.isoformat()
            if hasattr(e, "isoformat"):
                e = e.isoformat()
            if isinstance(g, float) or isinstance(e, float):
                if g is not None and e is not None and g != e:
                    exact_mismatch += 1
                if not (g is None and e is None) and (
                        g is None or e is None or not values_equal(float(g), float(e))):
                    problems.append(f"col {c} row {i}: spark={g!r} oracle={e!r}")
                    if len(problems) > 5:
                        return problems
            elif g != e:
                problems.append(f"col {c} row {i}: spark={g!r} oracle={e!r}")
                if len(problems) > 5:
                    return problems
    if exact_mismatch:
        problems.append(
            f"{exact_mismatch} float cells equal only within epsilon, not bit-equal "
            "(driver hash is bit-strict — this is a FAIL)")
    return problems


def main():
    import argparse
    ap = argparse.ArgumentParser(description="DuckDB oracle compare for graft.Verify output")
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--json", dest="json_out", default=None, metavar="PATH")
    args = ap.parse_args()
    sf_dir, out_dir, json_out = args.sf_dir, args.out_dir, args.json_out
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    # model-backed oracle entries read repo-relative artifact paths
    con.execute(f"SET file_search_path = '{REPO_ROOT}'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failed = []
    results = {}
    for name in sorted(os.listdir(out_dir)):
        rp = os.path.join(out_dir, name)
        if not os.path.isdir(rp):
            continue
        got = load_result(rp)
        if got is None:
            print(f"✗ {name}: no result parquet written (query failed?)")
            failed.append(name)
            results[name] = {"match": False, "rows": None,
                             "err": "no result parquet"}
            continue
        if name not in oracle:
            print(f"  [rows-only] {name}: {len(got)} rows")
            if len(got) == 0:
                print(f"    WARN: zero rows")
            results[name] = {"match": None, "rows": len(got),
                             "err": "no_oracle"}
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"✗ {name}: oracle SQL failed: {e}")
            failed.append(name)
            results[name] = {"match": False, "rows": len(got),
                             "err": f"oracle SQL failed: {e}"}
            continue
        probs = compare(name, got, exp)
        hard = [p for p in probs if not p.startswith("WARN")]
        results[name] = {"match": not hard, "rows": len(got),
                         "err": "; ".join(probs[:3]) or None}
        if hard:
            print(f"✗ {name}: ({len(got)} rows)")
            for p in probs[:8]:
                print("    " + p)
            failed.append(name)
        else:
            tag = " (float-eps warn)" if probs else ""
            print(f"✓ {name}: {len(got)} rows{tag}")
            for p in probs[:3]:
                print("    " + p)
    if json_out:
        # provenance stamp: records WHICH fixture the gate ran against and
        # when — and keeps a deterministic rerun byte-distinct from the
        # committed copy, so the check_artifacts commit-time freshness
        # gate can see that the artifact was actually regenerated
        # (match results alone are identical run-to-run by design)
        results["_meta"] = {"sf_dir": os.path.abspath(sf_dir),
                            "generated_unix": int(time.time())}
        with open(json_out, "w") as f:
            json.dump(results, f, indent=1)
    if failed:
        print(f"\nFAILED: {failed}")
        sys.exit(1)
    print("\nall queries match")


if __name__ == "__main__":
    main()
