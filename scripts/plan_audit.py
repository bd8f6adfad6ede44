"""Physical-plan red-flag sweep across EVERY declared query.

tests/test_plans.py gates specific plan properties on specific operators;
this script is the complement: it builds every declared query and
scans each EXECUTED plan for the four patterns that silently kill a
100 TB run, regardless of which operator they appear in:

- ``CartesianProduct``  — an unintended O(N^2) join (broadcast nested
  loop against a metadata-sized side is fine and does not match this).
- ``BatchEvalPython``   — a row-at-a-time Python UDF in the plan; every
  Python crossing in this engine is Arrow-batched (ArrowEvalPython /
  mapInPandas / applyInPandas), so the row form appearing anywhere is a
  regression.
- partition-less ordered ``Window`` — a global ORDER BY window funnels
  the whole input through ONE task; the engine's global-order operators
  use the distributed prefix sum (operators/prefix) instead. A window
  with a partition spec, or without ordering (whole-group aggregation
  windows like the span count-over-hash), is fine.
- post-window anchor filter — a ``Filter x IN (...)`` ABOVE a Window
  partitioned by ``x``: the window ranked the whole corpus and the
  filter then discarded it; restructure to filter the window's input
  (the hard_negatives round-9 defect class).

Usage: python scripts/plan_audit.py [sf_dir]   (default sf0.001 — the
pattern set is plan-shape-only, so the smallest fixture suffices)
Exit code 0 = clean; 1 = findings (printed per query).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def _bracket_groups(s: str) -> list[str]:
    """Top-level ``[...]`` groups of a plan node's argument list (handles
    nesting; stops scanning at unbracketed text after the groups end)."""
    groups, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start is not None:
                groups.append(s[start + 1 : i])
                start = None
    return groups


def window_flags(plan: str) -> list[str]:
    """Partition-less ordered windows in a physical plan string.

    Spark prints a PARTITIONED ordered window as ``Window [exprs],
    [partition], [order]`` (three groups) and a GLOBAL ordered window as
    ``Window [exprs], [order]`` — just two, the second being the order
    spec (it contains ASC/DESC). A two-group node whose second group has
    no ordering direction is a whole-group frame over a partition (fine).
    Validated by tests/test_misc.py::test_plan_audit_detector."""
    flags = []
    for line in plan.splitlines():
        stripped = line.lstrip(" +-*:")
        groups = _bracket_groups(stripped)
        if stripped.startswith("WindowGroupLimit "):
            # rank-pushdown node: [partition], [order], fn, k[, mode] —
            # the partition spec comes FIRST here
            if groups and groups[0].strip() == "":
                flags.append("global-ordered-window")
        elif stripped.startswith("Window "):
            if len(groups) >= 3 and groups[1].strip() == "":
                flags.append("global-ordered-window")
            elif len(groups) == 2 and re.search(r"\b(ASC|DESC)\b", groups[1]):
                flags.append("global-ordered-window")
    return flags


_NODE_RE = re.compile(r"^(?:\*\(\d+\)\s*)?(\w+)")
# both literal-set renderings: "x IN (1,2,3)" below the
# inSetConversionThreshold (default 10) and "x INSET 1,2,..." above it.
# (?<!\w) anchors the attribute start (no mid-identifier matches) and
# (?<!NOT ) excludes NEGATED filters — an anti-filter keeps the bulk of
# the corpus, so filtering the window input would not be the fix
# (round-10 advice)
_IN_FILTER_RE = re.compile(r"(?<!NOT )(?<!\w)(\w+#\d+L?) (?:IN \(|INSET )")


def post_window_filter_flags(plan: str) -> list[str]:
    """A ``Filter x IN (...)`` sitting ABOVE a Window partitioned by the
    same attribute: the window ranked the whole corpus and the filter
    then threw most of it away (the hard_negatives round-9 defect
    class). Catalyst normally pushes partition-column predicates through
    Window, so this firing means the pushdown was blocked — restructure
    the operator to filter the window's input explicitly. Validated by
    tests/test_misc.py::test_plan_audit_detector."""
    parsed = []
    for line in plan.splitlines():
        node = line.lstrip(" :+-")
        parsed.append((len(line) - len(node), node))
    flags = []
    for i, (depth, node) in enumerate(parsed):
        m = _NODE_RE.match(node)
        if not m or m.group(1) != "Filter":
            continue
        attrs = set(_IN_FILTER_RE.findall(node))
        if not attrs:
            continue
        for d2, n2 in parsed[i + 1 :]:
            if d2 <= depth:
                break  # left the Filter's subtree
            m2 = _NODE_RE.match(n2)
            if m2 and m2.group(1) in ("Window", "WindowGroupLimit"):
                groups = _bracket_groups(n2)
                part = (
                    groups[0]
                    if m2.group(1) == "WindowGroupLimit"
                    else (groups[1] if len(groups) >= 3 else "")
                )
                if any(a in part for a in attrs):
                    flags.append("post-window-anchor-filter")
                    break
    return flags


def audit(sf_dir: str) -> dict[str, list[str]]:
    from mongoshake_spark.plans import QUERIES
    from mongoshake_spark.session import get_spark

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    findings: dict[str, list[str]] = {}
    for name, q in QUERIES.items():
        try:
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            findings[name] = [f"plan-build-error: {str(e)[:100]}"]
            continue
        hits = window_flags(plan) + post_window_filter_flags(plan)
        if "CartesianProduct" in plan:
            hits.append("cartesian-product")
        if "BatchEvalPython" in plan:
            hits.append("row-python-udf")
        if hits:
            findings[name] = sorted(set(hits))
    return findings


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    found = audit(sf)
    for name, hits in sorted(found.items()):
        print(f"{name}: {', '.join(hits)}")
    print(f"audited plans; {len(found)} flagged")
    sys.exit(1 if found else 0)
