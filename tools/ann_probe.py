"""Fixed-query-set ANN scaling probe (VERDICT r11 item 3).

The catalog's v1/v2/v3 sf3 cells are quadratic BY CONSTRUCTION: the
oracle pins a full-corpus self-search (v2/v3: every vector queries;
v1: every 100th vector, so the query count still grows with the
corpus), which makes work ~ Q x N = N^2/const however good the
operator is.  The operators themselves take (queries, corpus) as
independent frames; the production ANN question is "fixed query
batch, growing corpus" — and THAT curve is what this probe measures:

    python tools/ann_probe.py <sf_dir> [n_queries=200] [v1,v2,v3]

Per operator it times the end-to-end noop-sink wall with the SAME
``n_queries`` lowest-id vectors as the query side and the full
corpus at ``sf_dir`` as the corpus side, then prints one JSON line.
Sub-linear-or-linear wall growth across scale points (sf0.1 -> sf1 ->
sf3 = 60k -> 600k -> 1.8M vectors) shows the operator is linear in
the corpus at fixed Q; the catalog cells' super-linear growth is the
pinned Q ∝ N construction, not an operator defect.  Evidence
consumer: BASELINE.md "r12: v1/v2/v3 quadratic-cell adjudication".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movie_etl_spark.session import get_spark, load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    ops = (sys.argv[3] if len(sys.argv) > 3 else "v1,v2,v3").split(",")

    from pyspark.sql import functions as F

    from movie_etl_spark.operators.similarity import (
        brute_force_top_k,
        ivf_top_k,
        lsh_top_k,
    )

    spark = get_spark("ann_probe")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = load_table(spark, sf_dir, "embeddings")
    # deterministic fixed query batch: the n_queries lowest vec_ids —
    # identical rows at every scale point (scale_up appends replicas
    # ABOVE the original id range, so sf0.1/sf1/sf3 share these rows)
    queries = (
        corpus.orderBy(F.col("vec_id").asc()).limit(n_queries).repartition(8)
    ).persist()
    queries.count()

    builders = {
        "v1": lambda: brute_force_top_k(queries, corpus, k=3),
        "v2": lambda: lsh_top_k(queries, corpus, k=3),
        "v3": lambda: ivf_top_k(queries, corpus, k=3, n_centroids=64, n_probe=8),
    }
    out = {
        "sf_dir": sf_dir,
        "n_corpus": corpus.count(),
        "n_queries": n_queries,
        "ops": {},
    }
    for name in ops:
        t0 = time.perf_counter()
        df = builders[name]()
        df.write.format("noop").mode("overwrite").save()
        out["ops"][name] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "rows": df.count(),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
