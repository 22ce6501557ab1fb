"""Self-test of the benchmark itself (no Spark needed, a few seconds):

1. the source and corpus generators are deterministic per seed, and a
   different seed changes the data but not the amount of input;
2. the metric names and units the benchmark prints are exactly those
   BENCHMARK.json lists, and so are the workload names;
3. every output check rejects a deliberately corrupted result;
4. the per-job-group stage totals count a reused stage once.

  python3 perfbench/selftest.py        # exits 0 when every check holds
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus  # noqa: E402
import dashboard  # noqa: E402
import etl  # noqa: E402
import gen_sources  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from common import ROOT  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def check_generator(tmp: str) -> list[str]:
    errors = []
    a = gen_sources.generate(os.path.join(tmp, "a"), 7, 400)
    b = gen_sources.generate(os.path.join(tmp, "b"), 7, 400)
    c = gen_sources.generate(os.path.join(tmp, "c"), 8, 400)
    if not _same_tree(os.path.join(tmp, "a"), os.path.join(tmp, "b")):
        errors.append("same seed wrote different files")
    if {k: v for k, v in a.items() if k != "paths"} != {k: v for k, v in b.items() if k != "paths"}:
        errors.append("same seed gave different expectations")
    if _same_tree(os.path.join(tmp, "a"), os.path.join(tmp, "c")):
        errors.append("another seed wrote the same files")
    if a["input_rows"] != c["input_rows"] or abs(
            a["clean"]["logs"] - c["clean"]["logs"]) > 0.05 * a["clean"]["logs"]:
        errors.append("another seed changed the amount of work")

    a = corpus.generate(os.path.join(tmp, "ca"), 7)
    b = corpus.generate(os.path.join(tmp, "cb"), 7)
    c = corpus.generate(os.path.join(tmp, "cc"), 8)
    if not _same_tree(os.path.join(tmp, "ca"), os.path.join(tmp, "cb")) or (
            {k: v for k, v in a.items() if k != "paths"}
            != {k: v for k, v in b.items() if k != "paths"}):
        errors.append("same seed gave another corpus")
    if _same_tree(os.path.join(tmp, "ca"), os.path.join(tmp, "cc")):
        errors.append("another seed wrote the same corpus")
    if a["expected"] != c["expected"] or abs(a["tokens"] - c["tokens"]) > 0.05 * a["tokens"]:
        errors.append("another seed changed the amount of corpus work")
    return errors


def check_names() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    if [w["name"] for w in spec["workloads"]] != list(run.WORKLOADS):
        errors.append("workload names differ from BENCHMARK.json")
    if {m["name"]: m["unit"] for m in spec["end_to_end"]} != run.END_TO_END:
        errors.append("end-to-end metrics differ from BENCHMARK.json")
    if {m["name"]: m["unit"] for m in spec["per_layer"]} != tracing.per_layer_units():
        errors.append("per-layer metrics differ from BENCHMARK.json")
    line = json.loads(run.result_line(True, 1, 0, {n: {"value": 1.0, "unit": u}
                                                   for n, u in run.END_TO_END.items()}))
    if sorted(line) != ["attempted", "correct", "failed", "metrics"]:
        errors.append("result line keys are wrong")
    return errors


def check_corruption(tmp: str) -> list[str]:
    errors = []
    exp = gen_sources.generate(os.path.join(tmp, "d"), 3, 400)
    reasons = dict(exp["reasons"])
    if not etl.counts_match(dict(exp["clean"]), reasons, exp):
        errors.append("etl check rejects a correct store")
    reasons["missing_discharge"] -= 1
    if etl.counts_match(dict(exp["clean"]), reasons, exp):
        errors.append("etl check accepts a store missing one log row")

    facts = {"rows": {"logs": 7}, "reasons": {"missing_value": 3},
             "nonnull": {("patients", "height_cm"): 5}}

    def bars(*counts: int) -> bytes:
        return "".join(f"<rect><title>b{i}: {c}</title></rect>"
                       for i, c in enumerate(counts)).encode()

    cases = [
        ("histogram", "/histogram?table=patients&column=height_cm&bins=2", bars(2, 3), bars(2, 2)),
        ("quality", "/quality", bars(4, 3) + b"</svg>", bars(4, 2) + b"</svg>"),
        ("download", "/download?reason=missing_value", b"h\na\nb\nc\n", b"h\na\nb\n"),
    ]
    for route, path, good, bad in cases:
        if not dashboard.check_response(route, path, 200, good, facts):
            errors.append(f"{route} check rejects a correct response")
        if dashboard.check_response(route, path, 200, bad, facts):
            errors.append(f"{route} check accepts a corrupted response")
        if dashboard.check_response(route, path, 500, good, facts):
            errors.append(f"{route} check accepts a failed request")

    want = {"duplicate": 10, "wrong_lang": 10, "low_quality": 10, "decontaminated_docs": 170}
    digests = {step: "0" for step in corpus.STEPS}
    if not corpus.check(digests, dict(want), want):
        errors.append("corpus check rejects a correct pass")
    if corpus.check(digests, dict(want, duplicate=9), want):
        errors.append("corpus check accepts a pass that kept an exact duplicate")
    if corpus.check({s: d for s, d in digests.items() if s != "ext.pq_train"}, want, want):
        errors.append("corpus check accepts a pass with a step missing")
    if corpus.digest([(1, 0.5), (2, 0.25)]) != corpus.digest([(2, 0.25), (1, 0.5)]) or (
            corpus.digest([(1, 0.5)]) == corpus.digest([(1, 0.75)])):
        errors.append("corpus digest depends on row order or misses a changed value")
    return errors


def check_stage_totals() -> list[str]:
    # job 1 runs stages 1 and 2; job 2 lists stage 2 again (skipped: it
    # reuses the shuffle) and runs stage 3
    stages = [{"stageId": 1, "executorRunTime": 1000}, {"stageId": 2, "executorRunTime": 2000},
              {"stageId": 3, "executorRunTime": 4000, "shuffleWriteBytes": 1 << 20}]
    jobs = [{"jobId": 2, "jobGroup": "b", "stageIds": [2, 3]},
            {"jobId": 1, "jobGroup": "a", "stageIds": [1, 2]}]
    got = tracing.group_totals(jobs, stages)
    if (got["a"]["run"], got["b"]["run"], got["b"]["shuffle"]) != (3.0, 4.0, 1.0):
        return ["stage totals count a reused stage twice or credit the wrong job"]
    return []


def main() -> int:
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_selftest_") as tmp:
        errors = (check_generator(tmp) + check_names() + check_corruption(tmp)
                  + check_stage_totals())
    for e in errors:
        print(f"FAIL {e}")
    print("selftest", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
