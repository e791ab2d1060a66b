"""Solo probe for the corpus-sized sign-LSH band layout (VERDICT r10
item 3; planted-twin protocol since r14, VERDICT r13 item 4): times the
dd6/dd8 pipeline shapes — embedding near-dup pairs and the connected-
components clustering over them — at a given scale directory, with the
band width either pinned (the oracle's 6) or corpus-sized (the
operator default).

Why planted twins: the r13 probe measured at cosine_threshold=0.4 (the
catalog oracle's non-vacuous setting), which sits INSIDE the cross-
replica cosine noise band that ``tools/scale_up.py``'s sign-scrambling
produces (measured: the noise tail reaches ~0.71 across 45 sf1 replica
pairs, and 0.4 passes ~1e-5 of cross pairs) — so the sf10 pair count
grew 6.8x for 3.33x data and the 100x curve needed adjudication. At
the OPERATOR's default threshold (>= 0.9) no cross-replica pair can
pass, but the synthetic corpus also has zero intra pairs there (max
intra cosine 0.62 at sf0.1), so a raw 0.9 run would measure an empty
result. The probe therefore PLANTS deterministic near-dup twins before
running: for every vector with ``vec_id % 20 == 0`` it appends a copy
(``vec_id + 2_000_000_000``) whose single smallest-magnitude component
has its sign flipped — cosine(v, twin) = 1 - 2*v_min^2/|v|^2 >= 0.917
always, ~0.99 typically. Twin pairs are intra-replica by construction
and no other vector is within 0.9 of either endpoint, so the TRUE pair
count equals the planted count exactly: linear in n at every factor,
with zero noise contamination. The probe reports planted vs found —
the found/planted ratio IS the banded index's recall at scale.

Usage::

    python tools/band_probe.py <sf_dir> [auto|<band_size>] [threshold]

``threshold`` defaults to the operator's 0.9 (twins planted); passing
an explicit threshold < 0.9 reproduces the legacy low-threshold
measurement (no twins planted — at 0.4 the planted pairs would be lost
in the noise band the measurement exists to characterize).

Prints one JSON line: chosen layout, wall per shape (end-to-end through
the noop sink, same measurement as bench.py), planted and surviving
pair counts (diagnostic, timed separately).

Evidence consumer: BASELINE.md "r14: the band family's 100x curve,
measured clean" — supersedes the adjudicated r13 0.4-threshold table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movie_etl_spark.session import get_spark, load_table, release_caches  # noqa: E402

#: planted twins get vec_id + this (max real vec_id at factor 100 is
#: ~1e8; vec_id is int64 so no overflow) and every 20th vector twins.
TWIN_OFFSET = 2_000_000_000
TWIN_MOD = 20


def plant_twins(e):
    """Append one deterministic near-dup twin per 20th vector: the
    smallest-|.| component's sign flips, so cosine(v, twin) =
    1 - 2*min_k(v_k^2)/|v|^2 — >= 1 - 2/dim for any vector, ~0.99 for
    the synthetic corpus. Pure Catalyst expressions, no Python stage."""
    from pyspark.sql import functions as F

    base = e.filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
    absarr = F.transform(F.col("embedding"), lambda x: F.abs(x))
    pos = F.array_position(absarr, F.array_min(absarr))  # 1-based
    twins = base.filter(F.col("vec_id") % TWIN_MOD == 0).select(
        (F.col("vec_id") + TWIN_OFFSET).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == pos - 1, -x).otherwise(x),
        ).alias("embedding"),
        F.col("label"),
    )
    return e.unionByName(twins), twins.count()


def main() -> None:
    usage = "usage: python tools/band_probe.py <sf_dir> [auto|<band_size>] [threshold]"
    if len(sys.argv) < 2:
        print(usage, file=sys.stderr)
        raise SystemExit(2)
    sf_dir = sys.argv[1]
    arg = sys.argv[2] if len(sys.argv) > 2 else "auto"
    band_size = None if arg == "auto" else int(arg)
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 0.9

    from movie_etl_spark.operators.dedup import (
        _auto_band_layout,
        dup_clusters,
        embedding_near_dup_pairs,
    )

    spark = get_spark("band_probe")
    spark.sparkContext.setLogLevel("ERROR")
    e = load_table(spark, sf_dir, "embeddings")

    planted = 0
    if threshold >= 0.9:
        e, planted = plant_twins(e)
        e = e.localCheckpoint()  # the planted corpus is the fixture; its
        # construction cost must not leak into the operator timings

    # the operator's own (count, dim) aggregate — NULL-safe and
    # identical to what embedding_near_dup_pairs(band_size=None) will
    # compute, so the printed layout IS the layout being timed
    from pyspark.sql import functions as F

    stats = e.agg(
        F.count("*").alias("n"),
        F.median(F.when(F.size("embedding") > 0, F.size("embedding"))).alias("dim"),
    ).first()
    n = stats["n"] or 0
    dim = int(stats["dim"]) if stats["dim"] is not None else 24
    # pinned path mirrors the operator's max(1, ...) floor (ADVICE r11:
    # band_size > 24 used to print n_bands=0 while the operator ran 1)
    layout = (
        _auto_band_layout(n, dim)
        if band_size is None
        else (max(1, 24 // band_size), band_size)
    )

    out = {"sf_dir": sf_dir, "n_vectors": n, "dim": dim,
           "threshold": threshold, "planted_pairs": planted,
           "n_bands": layout[0], "band_size": layout[1]}
    t0 = time.perf_counter()
    pairs = embedding_near_dup_pairs(
        e, "embedding", "vec_id", cosine_threshold=threshold, band_size=band_size
    )
    pairs.write.format("noop").mode("overwrite").save()
    out["pairs_wall_s"] = round(time.perf_counter() - t0, 2)
    out["n_pairs"] = pairs.count()
    if planted:
        out["recall"] = round(out["n_pairs"] / planted, 4)
    release_caches()

    t0 = time.perf_counter()
    pairs = embedding_near_dup_pairs(
        e, "embedding", "vec_id", cosine_threshold=threshold, band_size=band_size
    )
    dup_clusters(pairs, e.select("vec_id"), "vec_id").write.format("noop").mode(
        "overwrite"
    ).save()
    out["clusters_wall_s"] = round(time.perf_counter() - t0, 2)
    release_caches()
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
