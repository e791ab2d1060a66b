"""Dump .explain("formatted") for named catalog queries to plans/<round>/.

Usage: python tools/explain_dump.py <suffix> <query> [query ...]
Writes plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<suffix>.txt (default r19)
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from movie_etl_spark.plans.catalog import QUERIES  # noqa: E402
from movie_etl_spark.session import get_spark, release_caches  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(
    REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r19")
)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name].fn(spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
        release_caches()


if __name__ == "__main__":
    main()
