"""Physical-plan audit over every registered query. For each
__spark_entry__ query this builds the DataFrame at a small SF cache-cold,
collects it (AQE plans exchanges and codegen stages only in the final plan)
and takes its fingerprint: counts of the node classes in NODES over the
executed plan, walked by ``internals.physical_plan_nodes`` with each cache's
plan counted once, the number of regex expressions (RLike, RegExp*), the
number of parquet scans with pushed filters, and two analyzed-plan checks:

- ``gwin``: empty-partition Window nodes over an uncollapsed sf-proportional
  scan (audit_global_windows), the single-partition corpus funnel;
- ``sbits``: the bit width of the optimized plan's root sizeInBytes
  estimate. Past STATS_BITS_MAX bits it is the r11
  checkpoint-stats-compounding class, where chained checkpoints of joins
  inherit product-inflated estimates until every stats consumer
  (JoinSelection, InjectRuntimeFilter) grinds ~10^5-digit BigInteger
  products on the driver at planning time (measured: 19 min to plan a
  150-word encode; normal plans stay under ~2k bits, the pathology was
  ~3x10^5).

Hard violations: a node class in HARD (CartesianProduct, the unbounded pair
blowup; BatchEvalPython, a row-at-a-time Python UDF), gwin > 0, sbits past
STATS_BITS_MAX, and explicit broadcast hints over sf-proportional scans
(audit_broadcast_hints).

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Writes PLANAUDIT.json at the repo root (one fingerprint per query) when run
on the full set; exits 1 on any hard violation. tests/test_plan_audit.py
compares the headline queries' live fingerprints with that file.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from assignment_etl_spark import internals
from assignment_etl_spark.caching import release_scoped_caches

HARD = {"CartesianProduct", "BatchEvalPython"}

# Widest tolerable root sizeInBytes estimate, in BITS. Sentinel-stats
# leaves (2^63) through a ~20-join tree legitimately reach ~1-2k bits;
# the compounding pathology is two orders of magnitude past this line.
STATS_BITS_MAX = 16384

# sf-proportional tables: an explicit broadcast() hint whose subtree scans one
# of these without an intervening Aggregate overrides Catalyst's size check
# and would attempt a multi-GB broadcast at production scale (VERDICT r4 §What's
# wrong #1). Marker columns identify the relation in the analyzed plan; small
# fixed-size dims (region, nation) and supplier (10k x sf, narrow — the
# sanctioned hint set per SCALE.md) are deliberately absent.
#
# supplier exemption budget (VERDICT r5 watch item): measured Arrow in-memory
# width is ~42 B/row (sf0.1: 1000 rows = 42 KB; replicated sf1: 10k rows =
# 424 KB); with Spark's ~4x row overhead that is ~2 MB at sf1 and ~170 MB/1M
# rows at sf100. EXPIRY CONDITION: the exemption holds while
# 10_000 * sf * ~170 B < 64 MB, i.e. sf <= ~40. Past that, move "supplier":
# "s_suppkey" into _BIG_TABLE_MARKERS and re-audit (SCALE.md §broadcast).
_BIG_TABLE_MARKERS = {
    "customer": "c_custkey",
    "orders": "o_orderkey",
    "lineitem": "l_linenumber",
    "part": "p_partkey",
    "events": "event_type",
    "documents": "doc_id",
    "embeddings": "embedding",
}


# a Filter that pins a table's KEY column under an integer literal yields a
# FIXED-size result at any scale factor (`vec_id < 8` is 8 rows forever) —
# unlike categorical filters (`c_mktsegment = 'BUILDING'`), which keep a
# constant FRACTION and stay sf-proportional. Only <, <=, = qualify
# (`vec_id >= 8` is the sf-proportional complement).
_KEY_COLS = "|".join(
    ("c_custkey", "o_orderkey", "l_orderkey", "p_partkey",
     "event_id", "doc_id", "vec_id")
)
# the WHOLE condition must be the bounded comparison (fullmatch after
# stripping the printed outer parens) — substring search would falsely
# exempt negations ("NOT (vec_id < 8)") and disjunctions
# ("(vec_id = 8) OR (label = 1)"), which keep sf-proportional complements
_BOUNDED_KEY_FILTER = re.compile(
    # literal may print bare ("8") or wrapped ("cast(8 as bigint)")
    rf"(?:{_KEY_COLS})#\d+L?\s*(?:<|<=|=)\s*(?:\d+|cast\(\d+ as \w+\))"
)


def _is_bounded_key_condition(cond: str) -> bool:
    s = cond.strip()
    while s.startswith("(") and s.endswith(")"):
        s = s[1:-1].strip()
    return bool(_BOUNDED_KEY_FILTER.fullmatch(s))


# ---- Aggregate-collapse boundedness (VERDICT r6 ask #3) -------------------
# The window rule used to treat ANY Aggregate as a cardinality collapse.
# True for calendar buckets and enum keys; FALSE for group-by on a
# continuous column (durations, raw prices): second-granularity durations
# give ~one group per subject, so a downstream empty-partition window still
# funnels sf-proportional rows through one task (live instance:
# ops/funnel.survival_curve before round 7). An Aggregate now collapses
# only if its grouping is empty (global — 1 row) or EVERY grouping
# expression is bounded: a calendar-bucket/fixed-grid function, a modular
# bucket, or a bare attribute on the bounded-domain sanction list below.

# functions whose output domain is a calendar/fixed grid regardless of
# input cardinality. Matched ONLY as the OUTERMOST call of the grouping
# expression (after alias/cast stripping and composite recursion) — a
# `search` anywhere would classify concat(c_name, year(ts)) as bounded
# even though the c_name leaf is data-proportional (audit fail-open).
_BOUNDED_GROUP_FUNCS = re.compile(
    r"^(date_trunc|window|year|month|quarter|weekofyear|dayofweek|"
    r"dayofmonth|dayofyear|hour|minute|second|to_date|date_format|"
    r"unix_timestamp|unix_date|pmod|ntile|width_bucket)\s*\(",
    re.IGNORECASE,
)

# cast-to-date bounds the domain whatever the input (one value per
# calendar day); any OTHER cast is transparent — boundedness is the
# inner expression's
_CAST_TO_DATE = re.compile(r"^cast\(.* as date\)$", re.IGNORECASE | re.DOTALL)
_CAST_WRAP = re.compile(r"^cast\((.*) as \w+\)$", re.IGNORECASE | re.DOTALL)

# n-ary combiners whose output domain is bounded iff EVERY argument's
# domain is bounded — recursed into, each top-level argument checked
_COMPOSITE_HEAD = re.compile(
    r"^(concat_ws|concat|struct|named_struct|coalesce|if|nvl|lpad|rpad)\(",
    re.IGNORECASE,
)

# attributes whose DOMAIN is bounded by construction, not by data size:
# enum-ish dimension columns of the harness tables, plus engine-internal
# bounded keys. This is the explicit sanction list the gwin rule consults
# when a grouping expression is a bare column reference.
_BOUNDED_DOMAIN_ATTRS = {
    # engine-internal: spark_partition_id() projections feeding the
    # range-exchange offset aggregates (ops/ids.py) — bounded by the
    # partition count, never by rows
    "_pid",
    # TPC-H enum/dimension keys
    "l_returnflag", "l_linestatus", "l_shipmode", "l_shipinstruct",
    "o_orderstatus", "o_orderpriority", "c_mktsegment", "c_nationkey",
    "s_nationkey", "n_nationkey", "n_name", "n_regionkey", "r_regionkey",
    "r_name", "p_brand", "p_mfgr", "p_type", "p_container", "p_size",
    # events/documents enum columns
    "event_type", "device", "country", "lang", "source", "label",
}

_BARE_ATTR = re.compile(r"(\w+)#\d+L?")

# the repo's clamp idiom — least(greatest(expr, lo_lit), hi_lit) — pins
# the expression's DOMAIN between two literals (ext/drift.fixed_width_bin
# and friends): bounded at any scale factor. Anchored at the head like
# _BOUNDED_GROUP_FUNCS — a clamp buried inside an unbounded composite
# must not sanction the whole key.
_CLAMPED_EXPR = re.compile(r"^least\(greatest\(", re.IGNORECASE)

# "expr AS name#id" — how Project/Aggregate/Window print named outputs
_ALIAS_DEF = re.compile(r"^(.*) AS (\w+#\d+)L?$", re.DOTALL)


def _collect_alias_defs(node, defs: dict[str, str]) -> None:
    """Map every 'name#id' attribute the subtree defines to the printed
    expression that defines it — grouping keys often reference a
    projected alias (withColumn/select + groupBy('name')), and the
    boundedness of the DEFINING expression is what matters."""
    name = node.getClass().getSimpleName()
    try:
        if name == "Project":
            pl = node.projectList()
        elif "Aggregate" in name:
            pl = node.aggregateExpressions()
        elif name == "Window":
            pl = node.windowExpressions()
        else:
            pl = None
        if pl is not None:
            for i in range(pl.length()):
                m = _ALIAS_DEF.match(pl.apply(i).toString().strip())
                if m:
                    defs.setdefault(m.group(2), m.group(1).strip())
    except Exception:  # noqa: BLE001 — unreadable node: no defs from it
        pass
    kids = node.children()
    for i in range(kids.length()):
        _collect_alias_defs(kids.apply(i), defs)


def _split_top_args(s: str) -> list[str]:
    """Split a printed argument list on TOP-LEVEL commas (paren-aware)."""
    out: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [a.strip() for a in out if a.strip()]


def _is_bounded_grouping_expr(s: str, defs: dict[str, str], depth: int = 0) -> bool:
    s = s.strip()
    m = _ALIAS_DEF.match(s)
    if m:
        return _is_bounded_grouping_expr(m.group(1), defs, depth)
    if not _BARE_ATTR.search(s):
        return True  # references no attribute: constant-foldable literal
    # bounded head: calendar/grid function or the clamp idiom, OUTERMOST
    if _BOUNDED_GROUP_FUNCS.match(s) or _CLAMPED_EXPR.match(s):
        return True
    if _CAST_TO_DATE.fullmatch(s):
        return True
    if depth >= 8:
        return False  # fail safe on pathological nesting
    m = _CAST_WRAP.fullmatch(s)
    if m:  # non-date cast is transparent: boundedness is the inner expr's
        return _is_bounded_grouping_expr(m.group(1), defs, depth + 1)
    m = _COMPOSITE_HEAD.match(s)
    if m and s.endswith(")"):
        # composite combiner: bounded iff EVERY top-level argument is
        args = _split_top_args(s[m.end():-1])
        return bool(args) and all(
            _is_bounded_grouping_expr(a, defs, depth + 1) for a in args
        )
    m = _BARE_ATTR.fullmatch(s)
    if not m:
        return False
    if m.group(1) in _BOUNDED_DOMAIN_ATTRS:
        return True
    key = s[:-1] if s.endswith("L") else s  # defs are keyed without the
    # long-type suffix (the _ALIAS_DEF capture group excludes it)
    if depth < 4 and key in defs:
        return _is_bounded_grouping_expr(defs[key], defs, depth + 1)
    return False


def _keys_are_bounded(node, exprs) -> bool:
    """Shared core: every grouping/dedup key expression must be bounded —
    a calendar/modular/clamped function (possibly through projected
    aliases, resolved via the subtree's definitions) or a sanctioned
    enum attribute. Empty key list = global = one row = bounded."""
    n = exprs.length()
    if n == 0:
        return True
    defs: dict[str, str] = {}
    _collect_alias_defs(node, defs)
    return all(
        _is_bounded_grouping_expr(exprs.apply(i).toString(), defs)
        for i in range(n)
    )


def _aggregate_is_bounded(node) -> bool:
    """True iff this Aggregate's group-key domain is bounded at any scale
    factor. Unreadable grouping expressions count as UNBOUNDED (fail
    safe)."""
    try:
        return _keys_are_bounded(node, node.groupingExpressions())
    except Exception:  # noqa: BLE001 — not an Aggregate-shaped node
        return False


def _deduplicate_is_bounded(node) -> bool:
    """Deduplicate (distinct) collapses under the same rule, applied to
    its keys: distinct over a continuous column is one row per value."""
    try:
        return _keys_are_bounded(node, node.keys())
    except Exception:  # noqa: BLE001
        return False


def _walk_big_scan(
    node, *, limit_collapses: bool = False, strict_agg: bool = False
) -> set[str]:
    """Return the sf-proportional tables scanned in this logical subtree,
    treating Aggregate as a cardinality collapse (its subtree is exempt:
    a grouped/global aggregate of a big table is bounded by the group-key
    domain, not the input row count), likewise Deduplicate and literal
    key-upper-bound Filters (fixed-size at any sf).

    ``limit_collapses``: the window rule treats GlobalLimit/LocalLimit
    as a collapse too (orderBy().limit(n) → TakeOrderedAndProject is
    the SANCTIONED bounded-rank pattern, so a window over it is ≤ n
    rows); the broadcast rule stays deliberately strict about raw
    limited scans (tests pin both behaviors).

    ``strict_agg`` (the window rule, VERDICT r6 ask #3): an Aggregate/
    Deduplicate collapses ONLY if its group-key domain is bounded —
    global, calendar-bucket/modular functions, or sanctioned enum
    attributes (_aggregate_is_bounded). Grouping on a continuous column
    (durations, raw prices) keeps the subtree sf-proportional, so a
    downstream empty-partition window is still flagged. The broadcast
    rule keeps the legacy any-Aggregate collapse (a broadcast of a
    grouped aggregate fails at the DRIVER with a clear size error —
    recoverable — whereas a single-task window silently crawls)."""
    name = node.getClass().getSimpleName()
    if "Aggregate" in name:
        if not strict_agg or _aggregate_is_bounded(node):
            return set()
    elif "Deduplicate" in name:
        if not strict_agg or _deduplicate_is_bounded(node):
            return set()
    if limit_collapses and "Limit" in name:
        return set()
    if name == "Filter" and _is_bounded_key_condition(
        node.condition().toString()
    ):
        return set()
    found: set[str] = set()
    if "Relation" in name:
        out = node.output()
        cols = {out.apply(i).name() for i in range(out.length())}
        for table, marker in _BIG_TABLE_MARKERS.items():
            if marker in cols:
                found.add(table)
    kids = node.children()
    for i in range(kids.length()):
        found |= _walk_big_scan(
            kids.apply(i),
            limit_collapses=limit_collapses,
            strict_agg=strict_agg,
        )
    return found


def audit_broadcast_hints(df) -> list[str]:
    """Flag explicit broadcast hints over un-aggregated sf-proportional
    scans in the analyzed logical plan. Returns violation strings."""
    bad: list[str] = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "ResolvedHint" and "broadcast" in node.hints().toString().lower():
            tables = _walk_big_scan(node)
            if tables:
                bad.append(f"broadcast-hint-over-{'+'.join(sorted(tables))}")
        kids = node.children()
        for i in range(kids.length()):
            walk(kids.apply(i))

    walk(internals.analyzed_plan(df))
    return bad


def audit_global_windows(df) -> list[str]:
    """Flag Window nodes whose partition spec is empty — or entirely
    foldable, since Catalyst strips literal partition keys, so
    ``partitionBy(F.lit(0))`` is NOT an exemption — and whose input
    subtree scans an sf-proportional table with no cardinality collapse
    (Aggregate/Deduplicate/Limit/bounded key filter) in between. Such a
    window funnels the whole table through one task at production scale
    (VERDICT r5 What's wrong #1/#2: the rankcmp/lexdiv corpus-window
    class). Returns violation strings; the scalable alternatives are
    ops/ids.global_row_number / global_cumsum (range exchange +
    partition offsets) or orderBy().limit(n) before the window
    (TakeOrderedAndProject)."""
    bad: list[str] = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "Window":
            spec = node.partitionSpec()
            has_real_key = any(
                not spec.apply(i).foldable() for i in range(spec.length())
            )
            if not has_real_key:
                tables = set()
                kids = node.children()
                for i in range(kids.length()):
                    tables |= _walk_big_scan(
                        kids.apply(i), limit_collapses=True, strict_agg=True
                    )
                if tables:
                    bad.append(
                        f"global-window-over-{'+'.join(sorted(tables))}"
                    )
        kids = node.children()
        for i in range(kids.length()):
            walk(kids.apply(i))

    walk(internals.analyzed_plan(df))
    return bad


# Node classes the fingerprint counts, keyed by class name less "Exec".
NODES = (
    "FileSourceScan",
    "ShuffleExchange",
    "BroadcastExchange",
    "ReusedExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "InMemoryTableScan",
    "Generate",
    "Expand",
    "Window",
    "TakeOrderedAndProject",
    "Sort",
    "WholeStageCodegen",
)

OUT = os.path.join(REPO, "PLANAUDIT.json")
REGENERATE = "python tools/plan_audit.py /root/testdata/sf0.001"


def _regex_expressions(jnode) -> int:
    """RLike and RegExp* expressions in the node's own expressions."""
    exprs = jnode.expressions()
    n, stack = 0, [exprs.apply(i) for i in range(exprs.length())]
    while stack:
        e = stack.pop()
        cls = internals.plan_node_class(e)
        n += cls == "RLike" or cls.startswith("RegExp")
        stack.extend(internals.plan_children(e))
    return n


def plan_fingerprint(df) -> dict[str, int]:
    """Node-class counts, regex expressions and scans with pushed filters
    of ``df``'s executed plan (final once an action ran), each cache's plan
    walked once."""
    fp = dict.fromkeys(NODES, 0)
    fp["regex"] = fp["pushdown"] = 0
    plan = internals.query_execution(df).executedPlan()
    for node in internals.physical_plan_nodes(plan, set()):
        cls = internals.plan_node_class(node)
        if cls.endswith("Exec") and cls[:-4] in fp:
            fp[cls[:-4]] += 1
        if cls == "FileSourceScanExec":
            pushed = node.metadata().get("PushedFilters")
            fp["pushdown"] += pushed.isDefined() and pushed.get() != "[]"
        fp["regex"] += _regex_expressions(node)
    return fp


def query_fingerprint(spark, fn, sf_dir) -> tuple[dict[str, int], list[str]]:
    """Build one registered query cache-cold, collect it and fingerprint its
    executed plan, with the analyzed-plan rules' count (``gwin``) and the
    optimized plan's root size estimate in bits (``sbits``). Returns the
    fingerprint and the query's hard violations."""
    release_scoped_caches()
    spark.catalog.clearCache()
    df = fn(spark, sf_dir)
    bad = audit_broadcast_hints(df)
    win_bad = audit_global_windows(df)
    # collect THIS plan (count() would execute a different, count-aggregated
    # plan): AQE plans exchanges and codegen stages only in the final plan
    df.collect()
    fp = plan_fingerprint(df)
    fp["gwin"] = len(win_bad)
    fp["sbits"] = internals.plan_size_bytes(internals.optimized_plan(df)).bit_length()
    bad += win_bad + [f"{k} x{fp[k]}" for k in sorted(HARD) if fp[k]]
    if fp["sbits"] > STATS_BITS_MAX:
        bad.append(
            f"stats_bits {fp['sbits']} > {STATS_BITS_MAX} (checkpoint stats compounding)"
        )
    return fp, bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from assignment_etl_spark.session import get_spark

    # the test suite's session (tests/conftest.py), which the drift test
    # compares PLANAUDIT.json in
    spark = get_spark("plan_audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    fps, violations = {}, []
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        try:
            fp, bad = query_fingerprint(spark, fn, sf_dir)
        except Exception as e:  # noqa: BLE001
            violations.append(f"{name}: PLAN ERROR {type(e).__name__}: {str(e)[:120]}")
            continue
        fps[name] = fp
        violations += [f"{name}: {b}" for b in bad]
        print(name, json.dumps(fp) + (" !!HARD!!" if bad else ""))

    if not only:
        with open(OUT, "w", encoding="utf-8") as f:
            f.write(
                '{\n "_protocol": "query -> fingerprint of its executed plan at '
                f"{os.path.basename(sf_dir)}; regenerate ONLY via: {REGENERATE}\""
            )
            for name in sorted(fps):
                f.write(f",\n {json.dumps(name)}: {json.dumps(fps[name])}")
            f.write("\n}\n")
    print(f"\n{len(fps)} plans audited; hard violations: {violations or 'none'}")
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
