#!/usr/bin/env python3
"""Static dtype audit of every oracle SQL statement + engine output.

Usage: python3 tools/audit_oracle_types.py <sfDir> <outDir>

Reads <outDir>/oracle_sql.json (written by graft.Verify) and runs
`DESCRIBE <sql>` in DuckDB over the <sfDir> parquet tables. Flags:

1. Output columns whose DuckDB type is HUGEINT or UHUGEINT: pandas
   materializes those as float64, so the driver hash compares e.g.
   300.0 against Spark's 300 and fails even when every value matches
   (the d16/d19 round-3/4 failure class). Uncast SUM(BIGINT) is the
   usual culprit — wrap it in CAST(... AS BIGINT).

2. NS-HORIZON violations (the q52 round-15 failure class): pandas'
   datetime64[ns] tops out at 2262-04-11T23:47:16; any compared
   timestamp past that overflows a ns-canonicalizing verifier
   (OutOfBoundsDatetime / ArrowInvalid / silent wraparound) while a
   us-resolution local check passes — "green locally, red at the
   gate". Enforced two ways, both required:
     (a) statically — any TIMESTAMP/DATE literal in the oracle SQL
         with a year >= 2262 (the folklore 9999-12-31 open-interval
         sentinel is the canonical offender);
     (b) on data — every TIMESTAMP-typed column of every materialized
         Spark result parquet in <outDir> is max()-scanned against the
         horizon, so an engine-side sentinel the SQL text doesn't
         mention is caught too.

Exits nonzero if any flagged column exists. Dev harness only (uses the
driver-side duckdb), not part of the shipped library.
"""
import glob
import json
import os
import re
import sys

import duckdb

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

BAD_TYPES = {"HUGEINT", "UHUGEINT"}

# pandas pd.Timestamp.max == 2262-04-11 23:47:16.854775807; any literal
# date past 2262-04-11 is over the horizon (the repo's sanctioned
# open-interval sentinel 2262-01-01 sits safely below it). The exact
# max is the threshold (ADVICE r16): the lexical compare below stays
# correct because every candidate shares the "YYYY-MM-DD HH:MM:SS"
# prefix format — a second-granular value is a strict prefix (sorts
# below), and anything truly past the horizon differs in that prefix.
NS_HORIZON = "2262-04-11 23:47:16.854775807"
NS_HORIZON_DATE = "2262-04-11"
LITERAL_RE = re.compile(
    r"(?:TIMESTAMP|DATE)\s*'(\d{4}-\d{2}-\d{2})", re.IGNORECASE)


def audit_sql_literals(name, sql, flagged):
    for date in LITERAL_RE.findall(sql):
        if date > NS_HORIZON_DATE:
            print(f"✗ {name}: oracle SQL carries a timestamp literal "
                  f"{date} — past pandas' datetime64[ns] horizon "
                  f"({NS_HORIZON}); the driver hash path overflows")
            flagged.append(name)


def audit_result_timestamps(out_dir, flagged):
    """Scan every Spark result parquet: no TIMESTAMP column may hold a
    value past the ns horizon."""
    con = duckdb.connect()
    for d in sorted(glob.glob(os.path.join(out_dir, "*"))):
        if not os.path.isdir(d):
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        if not files:
            continue
        name = os.path.basename(d)
        flist = "[" + ",".join(f"'{f}'" for f in files) + "]"
        try:
            desc = con.execute(
                f"DESCRIBE SELECT * FROM read_parquet({flist})").fetchall()
        except Exception as e:
            print(f"✗ {name}: result DESCRIBE failed: {e}")
            flagged.append(name)
            continue
        ts_cols = [c for c, t, *_ in desc if t.upper().startswith("TIMESTAMP")]
        for c in ts_cols:
            mx = con.execute(
                f'SELECT max("{c}") FROM read_parquet({flist})').fetchone()[0]
            if mx is not None and str(mx) > NS_HORIZON:
                print(f"✗ {name}: result column {c} max={mx} exceeds the "
                      f"pandas datetime64[ns] horizon {NS_HORIZON} — the "
                      f"driver's ns-coercing hash path will diverge")
                flagged.append(name)
    con.close()


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    # model-backed oracle entries read repo-relative artifact paths
    con.execute(f"SET file_search_path = '{REPO_ROOT}'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    flagged = []
    for name in sorted(oracle):
        audit_sql_literals(name, oracle[name], flagged)
        try:
            desc = con.execute(f"DESCRIBE {oracle[name]}").fetchall()
        except Exception as e:
            print(f"✗ {name}: DESCRIBE failed: {e}")
            flagged.append(name)
            continue
        bad = [(c, t) for c, t, *_ in desc if t.upper() in BAD_TYPES]
        if bad:
            for c, t in bad:
                print(f"✗ {name}: column {c} is {t} (pandas float64 → driver hash fail)")
            flagged.append(name)
    con.close()
    audit_result_timestamps(out_dir, flagged)
    if flagged:
        print(f"\nFLAGGED: {sorted(set(flagged))}")
        sys.exit(1)
    print(f"all {len(oracle)} oracle statements: no HUGEINT output columns, "
          f"no ns-horizon timestamps (SQL literals + materialized results)")


if __name__ == "__main__":
    main()
