"""Local replica of the driver's t2 correctness gate: run every
__spark_entry__ query against its DuckDB oracle at a given sf and compare
row count, schema shape, and an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
       python tools/check_correctness.py --new-since <git-rev> [sf_dir]

--new-since runs only gates present in the working-tree GATES.json but
absent from <git-rev>'s GATES.json — the round-close insurance sweep for
gates the driver's 50-query sample hasn't drawn yet (VERDICT r11 ask #8:
fuzzy_audit_log_customers waited a full round for a driver sample).
Exits 0 with a note when the round added no gates.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def gates_new_since(rev: str) -> list[str]:
    """Gate names in the working-tree GATES.json but not in ``rev``'s."""
    with open(os.path.join(REPO, "GATES.json")) as f:
        now = set(json.load(f)["gates"])
    out = subprocess.run(
        ["git", "-C", REPO, "show", f"{rev}:GATES.json"],
        capture_output=True,
        text=True,
        check=True,
    )
    then = set(json.loads(out.stdout)["gates"])
    return sorted(now - then)


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    """(row_count, sorted column names, order-insensitive value hash) with
    float canonicalization (round 6 significant-ish, NaN/None unified)."""
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        s = df[c]
        if s.dtype.kind == "f":
            df[c] = s.round(6)
        elif str(s.dtype).startswith("datetime"):
            df[c] = s.astype("datetime64[us]").astype(str)
    rows = sorted(
        tuple(str(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\n".join("|".join(r) for r in rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def main() -> int:
    argv = sys.argv[1:]
    new_since = None
    if argv and argv[0] == "--new-since":
        if len(argv) < 2:
            print("--new-since requires a git rev")
            return 1
        new_since, argv = argv[1], argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if new_since is not None:
        new = gates_new_since(new_since)
        if not new:
            print(f"no gates added since {new_since} — nothing to sweep")
            return 0
        print(f"gates added since {new_since}: {new}")
        only = set(new)

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry
    from assignment_etl_spark.session import get_spark

    spark = get_spark("correctness", shuffle_partitions=8)
    con = duckdb.connect()
    for t in entry.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"✗ {name}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}")
            continue
        took = time.time() - t0
        if name not in oracles:
            print(f"• {name}: rows={len(got)} (no oracle — rows-only) [{took:.1f}s]")
            if len(got) == 0:
                print(f"  ⚠ zero rows from {name}")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"✗ {name}: ORACLE ERROR {type(e).__name__}: {str(e)[:200]}")
            continue
        ng, cg, hg = canon(got)
        ne, ce, he = canon(exp)
        if (ng, cg, hg) == (ne, ce, he):
            print(f"✓ {name}: rows={ng} hash={hg} [{took:.1f}s]")
        else:
            failures.append(name)
            print(f"✗ {name}: spark(rows={ng}, cols={cg}, hash={hg})")
            print(f"           oracle(rows={ne}, cols={ce}, hash={he})")
            if ng and ne and cg == ce:
                g = got[sorted(got.columns)].sort_values(sorted(got.columns)).head(5)
                e = exp[sorted(exp.columns)].sort_values(sorted(exp.columns)).head(5)
                print("  spark head:\n", g.to_string(), "\n  oracle head:\n", e.to_string())
    # denominator counts queries actually EXECUTED (a name filter must not
    # report the full registry as OK — VERDICT r5 What's wrong #4)
    print(f"\n{n_run - len(failures)}/{n_run} OK; failures: {failures}")
    if only:
        missing = sorted(only - set(qs))
        if missing:
            print(f"⚠ requested but not in registry: {missing}")
            return 1
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
