"""Fourth scale point — sf100 — for the slowest sf10 queries (VERDICT
r11 ask #2): the committed record stopped one order of magnitude above
bench (sf10) while the design claim is 100 TB; this adds a second
measured decade at amplification factor 1000, where any hidden
super-linear term that sf10's 100× span could absorb into latency
floors must show.

Targets = the 5 slowest sf10 rows in SCALE.md (date_lattice_roundtrip
15.7s, event_pairs_15min 15.2s, perplexity_top_docs 12.4s,
pmi_collocations 10.6s, bpe_train_merges) — the queries where a factor
of N matters most in absolute seconds.

Usage:
  python tools/make_scale_data.py 1000 /tmp/sf100_synth   # pre-req
  python tools/scale_sf100.py [sf10_dir] [sf100_dir] [query ...]

Prints a markdown table (sf10 s | sf100 s | r3 = sf100/sf10) to extend
the SCALE.md rows to four points. Min-of-SCALE3_REPEATS (default 2),
same cache discipline as scale_curves3 (clearCache + forced checkpoint
release between queries — the eviction interference class measured in
round 8).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scale_curves3 import assert_no_cached_frames, run  # noqa: E402

TARGETS = [
    "date_lattice_roundtrip",
    "event_pairs_15min",
    "perplexity_top_docs",
    "pmi_collocations",
    "bpe_train_merges",
]


def main() -> int:
    sf10_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10_synth"
    sf100_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf100_synth"
    names = sys.argv[3:] or TARGETS

    import __spark_entry__ as entry
    from assignment_etl_spark.session import get_spark

    spark = get_spark("scale-sf100")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    print("| query | sf10 s | sf100 s | r3 (sf100/sf10) | rows 10→100 | verdict |")
    print("|---|---|---|---|---|---|")
    for name in names:
        assert_no_cached_frames(spark, name)
        try:
            r10, t10 = run(qs[name], spark, sf10_dir)
            print(f"# {name} sf10  {t10:.2f}s", file=sys.stderr, flush=True)
            r100, t100 = run(qs[name], spark, sf100_dir)
            print(f"# {name} sf100 {t100:.2f}s", file=sys.stderr, flush=True)
        except Exception as exc:  # noqa: BLE001 — report and keep sweeping
            print(f"| `{name}` | ERROR: {type(exc).__name__}: {str(exc)[:80]} |")
            continue
        r3 = t100 / t10 if t10 else float("inf")
        verdict = (
            "linear-ok" if r3 <= 12 else ("watch" if r3 <= 20 else "SUPER-LINEAR")
        )
        print(
            f"| `{name}` | {t10:.2f} | {t100:.2f} | {r3:.1f}× "
            f"| {r10}→{r100} | {verdict} |",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
