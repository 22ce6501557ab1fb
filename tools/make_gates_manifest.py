"""Regenerate GATES.json — the committed gate-registry manifest.

One row per `__spark_entry__.queries()` entry: the gate's name, whether it
carries a DuckDB oracle, and the oracle's sf0.001 result fingerprint
(row count + sorted columns + the same order-insensitive value hash the
correctness sweep uses). DuckDB-only — no Spark session — so regeneration
is seconds, not minutes.

Motivation (VERDICT r7 ask #3): commit `6be38ef` showed a module Write can
silently clobber a registered gate; the only tripwire was a test-count
delta. `tests/test_entry_contract.py::test_gates_manifest_matches_registry`
rebuilds the registry and asserts exact match against this file, so a
deleted / renamed / shadowed gate (or a drive-by oracle semantics change)
fails CI with the gate's name in the message.

Regenerate (the ONE command) after deliberately adding/changing a gate:

    python tools/make_gates_manifest.py
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.check_correctness import canon  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(REPO, "GATES.json")


def build_manifest(sf_dir: str = SF_DIR) -> dict[str, dict]:
    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in entry.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, oracles = entry.queries(), entry.oracle_sql()
    manifest: dict[str, dict] = {}
    for name in sorted(qs):
        if name in oracles:
            n, cols, h = canon(con.execute(oracles[name]).df())
            manifest[name] = {"oracle_rows": n, "oracle_cols": cols, "oracle_hash": h}
        else:
            # rows-only gate (non-SQL-expressible): name presence is the
            # whole tripwire
            manifest[name] = {"oracle_rows": None, "oracle_cols": None, "oracle_hash": None}
    return manifest


def main() -> int:
    manifest = build_manifest()
    with open(OUT, "w") as f:
        json.dump(
            {
                "_protocol": (
                    "gate name -> sf0.001 DuckDB oracle fingerprint; "
                    "regenerate ONLY via: python tools/make_gates_manifest.py"
                ),
                "sf_dir": SF_DIR,
                "gates": manifest,
            },
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")
    n_oracle = sum(1 for v in manifest.values() if v["oracle_hash"])
    print(f"wrote {OUT}: {len(manifest)} gates ({n_oracle} with oracle hashes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
