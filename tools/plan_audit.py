"""Persist the anti-pattern plan audit as a reviewable artifact.

The same scan tests/test_plans.py::test_no_accidental_nested_loops_or_python
runs as a gate, written to PLAN_AUDIT.json so the evidence survives the
round without executing the test suite: for every batch registry entry,
whether its physical plan contains CartesianProduct, row-at-a-time
Python (BatchEvalPython), an out-of-allowlist BroadcastNestedLoopJoin,
an unpartitioned data-volume window, or a hot-key window anti-pattern
(bounded-start UNBOUNDED FOLLOWING frame / windowed collect_list —
both O(rows^2) per key, the r7 skew-sweep findings) — plus summary
counts of broadcast joins and Arrow-vectorized Python operators.

Run from the repo root: python tools/plan_audit.py
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    from trading212_etl_spark.registry import QUERIES, pin_oracle_confs
    from trading212_etl_spark.session import get_session

    sys.path.insert(0, os.path.join(REPO, "tests"))
    from test_plans import NESTED_LOOP_BY_DESIGN, window_frame_flags

    spark = get_session(app_name="plan_audit")
    pin_oracle_confs(spark)
    sf = "/root/testdata/sf0.001"

    offenders: dict[str, list[str]] = {}
    stats = {
        "entries_scanned": 0,
        "broadcast_hash_joins": 0,
        "arrow_python_ops": 0,
        "allowlisted_nested_loops": 0,
    }
    for name, fn in sorted(QUERIES.items()):
        if name.startswith("streaming"):
            continue
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, sf).explain(mode="formatted")
        p = buf.getvalue()
        stats["entries_scanned"] += 1
        stats["broadcast_hash_joins"] += p.count("(") and len(
            [l for l in p.splitlines() if ") BroadcastHashJoin" in l]
        )
        stats["arrow_python_ops"] += len(
            [
                l
                for l in p.splitlines()
                if ") ArrowEvalPython" in l
                or ") MapInPandas" in l
                or ") FlatMapGroupsInPandas" in l
            ]
        )
        flags = [m for m in ("CartesianProduct", "BatchEvalPython") if m in p]
        if "BroadcastNestedLoopJoin" in p:
            if name in NESTED_LOOP_BY_DESIGN:
                stats["allowlisted_nested_loops"] += 1
            else:
                flags.append("BroadcastNestedLoopJoin")
        flags += window_frame_flags(p)
        if flags:
            offenders[name] = flags

    out = {
        "clean": not offenders,
        "offenders": offenders,
        "allowlist": sorted(NESTED_LOOP_BY_DESIGN),
        **stats,
    }
    path = os.path.join(REPO, "PLAN_AUDIT.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {path}: clean={out['clean']} "
          f"({stats['entries_scanned']} entries)")
    return 0 if out["clean"] else 1


if __name__ == "__main__":
    sys.exit(main())
