"""Physical-plan fingerprints for every catalog query -> PLAN_AUDIT.json.

Wall-clock on this shared host swings up to 2.3x between identical runs
(BASELINE.md host-noise record), so timing alone cannot distinguish a
plan regression from contention. This tool records what timing cannot:
the SHAPE of each query's initial physical plan — shuffle count, join
strategies, scan count, pushed filters, codegen spans, cartesian
products. A genuine regression changes these counts for the queries
whose code changed; host noise changes none of them. Diff the committed
PLAN_AUDIT.json across rounds to adjudicate.

Usage::

    python tools/plan_audit.py [SF_DIR] [query ...]   # default sf0.01

Notes:
- Counts come from ``explainString("simple")`` of the pre-AQE physical
  plan (AQE finalizes only at execution; the initial plan is the
  stable, comparable artifact; "simple" prints each node once —
  "formatted" would double-count via its details section).
- The codegen fields are only populated for plans NOT wrapped in
  AdaptiveSparkPlan (codegen annotation happens at AQE finalization);
  treat them as a bonus signal, the join/exchange/scan counts are the
  diffable contract.
- Some queries execute bounded driver-side work at DataFrame-build time
  by design (hh1's sketch probe, k7's limit(1) existence checks,
  streaming queries run availableNow to a batch result) — building
  their plan therefore takes seconds, not milliseconds; still cheap at
  sf0.01.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movie_etl_spark.plans.catalog import QUERIES  # noqa: E402
from movie_etl_spark.session import get_spark, release_caches  # noqa: E402

MARKERS = {
    "exchanges": r"\bExchange\b",
    "broadcast_hash_joins": r"\bBroadcastHashJoin\b",
    "sort_merge_joins": r"\bSortMergeJoin\b",
    "shuffled_hash_joins": r"\bShuffledHashJoin\b",
    "broadcast_nested_loop_joins": r"\bBroadcastNestedLoopJoin\b",
    "cartesian_products": r"\bCartesianProduct\b",
    "parquet_scans": r"Scan parquet",
    "pushed_filter_scans": r"PushedFilters: \[[^\]]",
    "in_memory_scans": r"\bInMemoryTableScan\b",
    "python_stages": r"\b(ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|BatchEvalPython|MapInArrow)\b",
    "window_nodes": r"\bWindow\b",
    "sorts": r"\bSort\b",
}


def fingerprint(explain: str) -> dict[str, int]:
    fp = {k: len(re.findall(rx, explain)) for k, rx in MARKERS.items()}
    # "simple" mode marks whole-stage-codegen membership as "*(id) Node";
    # distinct ids = codegen spans, total marks = nodes inside codegen
    ids = re.findall(r"\*\((\d+)\)", explain)
    fp["whole_stage_codegen_spans"] = len(set(ids))
    fp["codegen_nodes"] = len(ids)
    return fp


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = [a for a in args if not os.path.isdir(a)]
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    for name, qd in QUERIES.items():
        if names and name not in names:
            continue
        try:
            df = qd.fn(spark, sf_dir)
            explain = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "simple"
            )
            out[name] = fingerprint(explain)
        except Exception as exc:  # noqa: BLE001 — record and continue
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        finally:
            release_caches()

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_AUDIT.json",
    )
    if not names:  # full audit refreshes the committed artifact
        with open(path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote {path} ({len(out)} queries)")
    else:
        print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
