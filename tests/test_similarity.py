"""ANN similarity search: brute-force baseline vs LSH scale path."""

from __future__ import annotations

import math

import pytest

from movie_etl_spark.functions.vectors import cosine_similarity
from movie_etl_spark.operators.similarity import brute_force_top_k, lsh_top_k


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0]),
        (1, [0.9, 0.1, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0]),  # close to 0
        (2, [0.0, 1.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0]),
        (3, [-1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0]),  # other bucket
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_expression(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([0.0, 0.0], [1.0, 0.0])],
        "a array<float>, b array<float>",
    )
    out = [r[0] for r in df.select(cosine_similarity("a", "b")).collect()]
    assert out[0] == pytest.approx(1.0)
    assert out[1] == pytest.approx(0.0)
    assert out[2] is None  # zero-norm -> NULL, not NaN


def test_brute_force_exact(vectors):
    out = brute_force_top_k(vectors, vectors, k=1).collect()
    best = {r.query_id: r.neighbor_id for r in out}
    assert best[0] == 1 and best[1] == 0  # mutual nearest
    # cosine values are exact
    row = {r.query_id: r.cosine for r in out}
    expect = (0.9 + 4) / (math.sqrt(5) * math.sqrt(0.81 + 0.01 + 4))
    assert row[0] == pytest.approx(expect, abs=1e-6)


def test_lsh_matches_brute_force_within_bucket(vectors):
    bf = {(r.query_id, r.rank): r.neighbor_id
          for r in brute_force_top_k(vectors, vectors, k=2).collect()
          if r.query_id in (0, 1, 2)}
    lsh = {(r.query_id, r.rank): r.neighbor_id
           for r in lsh_top_k(vectors, vectors, k=2).collect()
           if r.query_id in (0, 1, 2)}
    # vectors 0,1,2 share the all-positive sign bucket: identical top-2
    assert lsh == bf


def test_lsh_respects_buckets(vectors):
    out = lsh_top_k(vectors, vectors, k=3).collect()
    # vector 3 is alone in the all-negative bucket: no candidates at all
    assert not any(r.query_id == 3 for r in out)
    assert not any(r.neighbor_id == 3 for r in out)


def test_batched_fold_dot_bitwise_equals_jvm_fold(spark):
    """The Arrow-batched dot (v3's candidate-scoring path) must produce
    the EXACT double of the zip_with/aggregate fold — same IEEE-754 add
    sequence, zero tolerance — or its determinism-against-the-oracle
    argument (BASELINE.md r10 adjudication) collapses. Mixed magnitudes
    and signs make the accumulation-order sensitivity real: pairwise or
    reversed summation WOULD differ in the low bits on this data."""
    import random

    from pyspark.sql import functions as F

    from movie_etl_spark.functions.vectors import batched_fold_dot, dot_product

    rng = random.Random(1234)
    dims = 64
    rows = []
    for i in range(500):
        a = [rng.uniform(-1, 1) * 10 ** rng.randint(-3, 3) for _ in range(dims)]
        b = [rng.uniform(-1, 1) * 10 ** rng.randint(-3, 3) for _ in range(dims)]
        rows.append((i, a, b))
    df = spark.createDataFrame(
        rows, "id long, a array<float>, b array<float>"
    )
    mismatches = (
        df.select(
            dot_product("a", "b").alias("jvm"),
            batched_fold_dot("a", "b").alias("arrow"),
        )
        # bitwise: no approx, NaN-safe equality
        .filter(~F.col("jvm").eqNullSafe(F.col("arrow")))
        .count()
    )
    assert mismatches == 0


def test_batched_fold_dot_null_and_ragged_rows_yield_null(spark):
    """ADVICE r10: a NULL vector or a length mismatch must yield NULL —
    the JVM fold's result for those rows — not an opaque Python-worker
    vstack error; well-formed rows in the same Arrow batch (including
    mixed widths) still compute bit-identically."""
    from pyspark.sql import functions as F

    from movie_etl_spark.functions.vectors import batched_fold_dot, dot_product

    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),   # well-formed
            (1, None, [1.0, 2.0, 3.0]),                # NULL left
            (2, [1.0, 2.0, 3.0], None),                # NULL right
            (3, [1.0, 2.0], [1.0, 2.0, 3.0]),          # ragged
            (4, [2.0, 3.0], [4.0, 5.0]),               # mixed width, valid
            (5, [], []),                                # zero-dim: fold = 0.0
            (6, [1.0, float("nan")], [1.0, 2.0]),      # NaN element
        ],
        "id long, a array<double>, b array<double>",
    )
    got = {
        r["id"]: (r["jvm"], r["arrow"])
        for r in df.select(
            "id",
            dot_product("a", "b").alias("jvm"),
            batched_fold_dot("a", "b").alias("arrow"),
        ).collect()
    }
    assert got[0] == (32.0, 32.0)
    assert got[1] == (None, None)
    assert got[2] == (None, None)
    # JVM zip_with pads the short side with NULL -> fold returns NULL
    assert got[3] == (None, None)
    assert got[4] == (23.0, 23.0)
    assert got[5] == (0.0, 0.0)
    # NaN element: BOTH paths read NaN (the explicit-mask FloatingArray
    # return keeps a computed NaN from becoming NULL at the Arrow
    # boundary — a plain float64 Series would ship NULL there)
    import math

    assert math.isnan(got[6][0]) and math.isnan(got[6][1])


def test_batched_fold_dot_null_element_returns_nan(spark):
    """ADVICE r11 (accepted divergence, pinned; rationale corrected per
    ADVICE r12): a NULL ELEMENT inside a well-formed vector.  Arrow's
    list-to-numpy conversion materializes child nulls as NaN before the
    UDF runs, so the Arrow path returns NaN where the JVM fold's
    ``v + NULL`` returns NULL.  NaN and NULL verdicts are NOT
    interchangeable bare (Spark and DuckDB both rank NaN FIRST
    descending and pass it through ``>=`` filters, while NULL drops) —
    the divergence is acceptable only because every shipped call site
    divides the dot by a JVM-computed norm product that a NULL element
    turns NULL, making the guarded cosine NULL on BOTH paths.  Masking
    NaN→NULL at the Arrow boundary would break bitwise parity with the
    JVM fold for genuine NaN elements.  If this test ever CHANGES
    (either path), re-read the batched_fold_dot KNOWN DIVERGENCE note."""
    import math

    from movie_etl_spark.functions.vectors import batched_fold_dot, dot_product

    df = spark.createDataFrame(
        [(0, [1.0, None, 3.0], [4.0, 5.0, 6.0])],
        "id long, a array<double>, b array<double>",
    )
    row = df.select(
        dot_product("a", "b").alias("jvm"),
        batched_fold_dot("a", "b").alias("arrow"),
    ).first()
    assert row["jvm"] is None
    assert row["arrow"] is not None and math.isnan(row["arrow"])


def test_ivf_exhaustive_probe_equals_brute_force(spark):
    """With n_probe == n_centroids, IVF probes everything: results must
    equal exact brute force — the recall ceiling sanity check."""
    from movie_etl_spark.operators.similarity import ivf_top_k

    import random

    rng = random.Random(42)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bf = {(r.query_id, r.rank): r.neighbor_id
          for r in brute_force_top_k(vecs, vecs, k=2).collect()}
    ivf = {(r.query_id, r.rank): r.neighbor_id
           for r in ivf_top_k(vecs, vecs, k=2, n_centroids=8, n_probe=8).collect()}
    assert ivf == bf


def test_ivf_partial_probe_is_subset_of_brute_force_candidates(spark):
    from movie_etl_spark.operators.similarity import ivf_top_k

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ivf_top_k(vecs, vecs, k=3, n_centroids=8, n_probe=2).collect()
    # every query gets results and ranks are dense from 1
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    assert len(by_q) > 0


def test_lsh_multiprobe_recall_on_clustered_corpus(spark):
    """Measured recall@3 vs exact brute force, on a corpus WITH cluster
    structure (where hashing can beat scanning — on near-uniform data no
    LSH can; see lsh_top_k's docstring for the measured driver-corpus
    numbers). Deterministic seeds make the numbers reproducible:
    Hamming-1 multi-probe must clear 0.8 and strictly beat single-probe."""
    import numpy as np

    centers = np.random.default_rng(7).normal(size=(10, 16))
    noise = np.random.default_rng(42)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(30):
            v = c + 0.1 * noise.normal(size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter("vec_id % 30 = 0")  # one query per cluster

    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_top_k(queries, df, k=3).collect()
    }

    def recall(multi_probe: int) -> float:
        got = {
            (r.query_id, r.neighbor_id)
            for r in lsh_top_k(
                queries, df, k=3, n_planes=8, multi_probe=multi_probe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r_single, r_multi = recall(0), recall(1)
    assert r_multi >= 0.8, (r_single, r_multi)
    assert r_multi > r_single


def test_int8_rerank_exact_integer_scores(spark):
    """Hand-computable corpus, all in one sign bucket: quantization
    codes and integer dot products must match exact arithmetic, and
    ranking must follow (dot desc, neighbor_id asc)."""
    from movie_etl_spark.operators.similarity import int8_rerank_top_k

    # 8 leading dims decide the bucket; all non-negative -> '11111111'
    # scale = max|v|/127; v built so codes are exact: v = c * (127/127)=c
    rows = [
        (0, [127.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, [127.0, 2.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (2, [127.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 127.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        (r.query_id, r.rank): (r.neighbor_id, r.dot)
        for r in int8_rerank_top_k(
            df.filter("vec_id = 0"), df, k=3
        ).collect()
    }
    # codes == round(v/ (127/127)) == v as ints; dots vs query [127,1,...]:
    #   n1: 127*127 + 1*2 = 16131; n2: 127*127 = 16129; n3: 1*127 = 127
    assert out == {
        (0, 1): (1, 16131),
        (0, 2): (2, 16129),
        (0, 3): (3, 127),
    }


def test_int8_rerank_recall_on_clustered_corpus(spark):
    """Quantization must not cost ranking quality where ranking quality
    is resolvable — measured on the MATCHING objective (int8 rerank
    scores dots / MIPS; for cosine retrieval the deployment contract is
    L2-normalize before quantizing, see operator docstring). Two
    regimes on normalized clustered corpora:

    - SEPARATED (10/cluster, noise 0.5): neighbor cosine gaps exceed
      int8 resolution -> int8 top-3 must equal float top-3 exactly.
    - TIGHT (30/cluster, noise 0.1): gaps ~1e-3 sit BELOW int8's ~4e-3
      resolution, so disagreement there is by construction, not a bug —
      assert the measured floor (0.74 strict / 0.89 within-top-5)
      doesn't regress."""
    import numpy as np

    from movie_etl_spark.operators.similarity import (
        int8_rerank_top_k,
        lsh_top_k,
    )

    def measure(n_per, noise_scale):
        centers = np.random.default_rng(7).normal(size=(10, 16))
        noise = np.random.default_rng(42)
        rows, vid = [], 0
        for c in centers:
            for _ in range(n_per):
                v = c + noise_scale * noise.normal(size=16)
                v = v / np.linalg.norm(v)  # the cosine-retrieval contract
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        qs = df.filter(f"vec_id % {n_per} = 0")
        f3 = {
            (r.query_id, r.neighbor_id)
            for r in lsh_top_k(qs, df, k=3).collect()
        }
        f5 = {
            (r.query_id, r.neighbor_id)
            for r in lsh_top_k(qs, df, k=5).collect()
        }
        i3 = {
            (r.query_id, r.neighbor_id)
            for r in int8_rerank_top_k(qs, df, k=3).collect()
        }
        assert f3, "float LSH produced no pairs — corpus regressed"
        return len(i3 & f3) / len(f3), len(i3 & f5) / len(i3)

    strict_sep, tolerant_sep = measure(10, 0.5)
    assert strict_sep == 1.0 and tolerant_sep == 1.0, (strict_sep, tolerant_sep)
    strict_tight, tolerant_tight = measure(30, 0.1)
    assert strict_tight >= 0.7, strict_tight
    assert tolerant_tight >= 0.85, tolerant_tight


# ---------------------------------------------------------------------------
# k-means (v7) — operators/clustering.py
# ---------------------------------------------------------------------------


def test_kmeans_recovers_separated_clusters(spark):
    import random

    from movie_etl_spark.operators.clustering import kmeans_fixed_point

    rng = random.Random(1)
    bases = [(0, 0, 0, 0), (100, 100, 100, 100), (200, 0, 200, 0)]
    rows = [
        (i, [b + rng.randrange(0, 8) for b in bases[i % 3]])
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "id long, v array<bigint>")
    out = kmeans_fixed_point(df, "id", "v", k=3, iterations=3).collect()
    from collections import defaultdict

    groups = defaultdict(set)
    for r in out:
        groups[r.cluster_id].add(r.id % 3)
    # each discovered cluster maps to exactly one true group
    assert sorted(map(tuple, map(sorted, groups.values()))) == [
        (0,), (1,), (2,)
    ]
    # bit-determinism across runs
    out2 = kmeans_fixed_point(df, "id", "v", k=3, iterations=3).collect()
    assert sorted((r.id, r.cluster_id) for r in out) == sorted(
        (r.id, r.cluster_id) for r in out2
    )


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """k larger than the number of distinct points: the starved
    centroid keeps its previous position (k never silently shrinks)
    and every point still gets a deterministic assignment."""
    from movie_etl_spark.operators.clustering import kmeans_fixed_point

    rows = [(i, [0, 0]) for i in range(3)] + [(i, [100, 100]) for i in (3, 4)]
    df = spark.createDataFrame(rows, "id long, v array<bigint>")
    out = kmeans_fixed_point(df, "id", "v", k=4, iterations=2).collect()
    assert len(out) == 5
    assert all(0 <= r.cluster_id < 4 for r in out)
    # the two true groups never land in the same cluster
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.id < 3)
    assert all(len(v) == 1 for v in by_cluster.values())


def test_ivf_grouped_path_matches_join_path(spark, monkeypatch):
    """r12: ivf_top_k's scoring picks broadcast-grouped vs join+fold by
    estimated corpus size; the two paths must produce IDENTICAL results
    — including on the corpora that exercise every malformed-row
    verdict (NULL vector, NaN element, ragged width, zero norm, a
    centroid bucket the probes never hit).  Forcing the join path via
    the zeroed cap pins set equality of (query, neighbor, cosine,
    rank)."""
    import math

    from movie_etl_spark.operators import similarity

    rows = [
        (i, [1.0 * (i % 5), -1.0, 2.0 + i % 3, 0.5]) for i in range(40)
    ] + [
        (100, None),                         # NULL vector
        (101, [1.0, float("nan"), 2.0, 0.5]),  # NaN element
        (102, [1.0, 2.0]),                   # ragged width
        (103, [0.0, 0.0, 0.0, 0.0]),         # zero norm
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run():
        return {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in similarity.ivf_top_k(
                df, df, k=3, n_centroids=8, n_probe=3
            ).collect()
        }

    grouped = run()
    monkeypatch.setattr(similarity, "_IVF_BROADCAST_MAX_BYTES", 0)
    joined = run()

    def canon(s):
        # NaN != NaN under ==; canonicalize for set comparison
        return {
            (q, n, "nan" if isinstance(c, float) and math.isnan(c) else c, r)
            for (q, n, c, r) in s
        }

    assert canon(grouped) == canon(joined)
    assert grouped  # non-vacuous


def test_ivf_small_corpus_plan_uses_grouped_scoring(spark):
    """Plan pin for the r12 IVF scoring rebuild: on a broadcastable
    corpus the pair-fan-out stage must be the mapInPandas dot-block
    stage with NO join of the pair stream — a SortMergeJoin or a
    centroid_id equi-join reappearing here means the scoring regressed
    to attaching vectors per pair (~460 GB through Arrow at sf3;
    BASELINE.md "r12: IVF scoring")."""
    from movie_etl_spark.operators.similarity import ivf_top_k
    from movie_etl_spark.session import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    df = ivf_top_k(e, e, k=3, n_centroids=64, n_probe=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_top_k_string_ids_grouped_path(spark, monkeypatch):
    """ADVICE r12 (medium): the grouped scoring path hardcoded bigint
    ids (int64 matrices + a 'long' out_schema), so a string-keyed
    corpus crashed ivf_top_k on any broadcastable corpus.  The id
    arrays and out_schema now derive from the input schema; string ids
    must score through the grouped path AND match the type-generic
    join path exactly."""
    import math

    from movie_etl_spark.operators import similarity

    rows = [
        (f"doc-{i:03d}", [1.0 * (i % 5), -1.0, 2.0 + i % 3, 0.5])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")

    def run():
        return {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in similarity.ivf_top_k(
                df, df, k=3, n_centroids=8, n_probe=3
            ).collect()
        }

    grouped = run()
    monkeypatch.setattr(similarity, "_IVF_BROADCAST_MAX_BYTES", 0)
    joined = run()

    def canon(s):
        return {
            (q, n, "nan" if isinstance(c, float) and math.isnan(c) else c, r)
            for (q, n, c, r) in s
        }

    assert canon(grouped) == canon(joined)
    assert grouped
    assert all(isinstance(q, str) and isinstance(n, str) for q, n, _, _ in grouped)


def test_ivf_top_k_nonintegral_id_falls_back_to_join_path(spark):
    """Ids the grouped path cannot round-trip through numpy/Arrow with
    their source type (decimal here) must take the type-generic join
    path — no MapInPandas dot-block stage in the plan — instead of
    raising (ADVICE r12, medium)."""
    from pyspark.sql import functions as F

    from movie_etl_spark.operators.similarity import ivf_top_k

    rows = [(i, [1.0 * (i % 5), -1.0, 2.0, 0.5]) for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).withColumn("vec_id", F.col("vec_id").cast("decimal(10,0)"))
    out = ivf_top_k(df, df, k=2, n_centroids=4, n_probe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert out.count() > 0


def test_release_caches_releases_grouped_scoring_broadcast(spark):
    """ADVICE r12 + r13: the grouped path's pickled sc.broadcast (the
    per-centroid matrices) must be tracked by release_caches — repeated
    ivf_top_k calls in one bench session must not accumulate broadcast
    blocks.  The release UNPERSISTS (a result consumed after the
    release re-ships the value — benign recompute, ADVICE r13)."""
    from pyspark import Broadcast

    from movie_etl_spark import session as sess
    from movie_etl_spark.operators.similarity import ivf_top_k

    sess.release_caches()
    assert not sess._TRACKED
    rows = [(i, [1.0 * (i % 5), -1.0, 2.0, 0.5]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_top_k(df, df, k=2, n_centroids=4, n_probe=2).collect()
    bcs = [t for t in sess._TRACKED if isinstance(t, Broadcast)]
    assert len(bcs) == 1
    sess.release_caches()
    assert not sess._TRACKED
    assert bcs[0].value is not None  # unpersisted, NOT destroyed: still usable


def test_block_topk_keep_verdicts_and_margins():
    """Unit pin of the r13 in-block prune's safety cases: NaN cosines
    always kept, rounding-boundary candidates survive via the margin,
    NULL-verdict pairs pad only when fewer than k better-ranked pairs
    exist (smallest neighbor first), self-pairs dropped."""
    import numpy as np

    from movie_etl_spark.operators.similarity import _block_topk_keep

    # one query row, 6 neighbors, k=2.
    # neighbor norms: n5 null; others 1.0. query norm 1.0, not null.
    qids = np.array([0], dtype=np.int64)
    nids = np.array([10, 11, 12, 13, 14, 15], dtype=np.int64)
    qns = np.array([1.0])
    qn_null = np.array([False])
    cns = np.array([1.0, 1.0, 1.0, 1.0, 1.0, np.nan])
    cn_null = np.array([False, False, False, False, False, True])
    # dots: 0.9 and 0.9-1e-7 are the top-2 finite; 0.9-2e-6 straddles
    # the rounding boundary of the 2nd best (must survive via the
    # margin); NaN is kept unconditionally; 0.89 is > margin below the
    # k-th best (strictly outranked by >= 2 after rounding: prune);
    # the NULL-norm pair has >= 2 better-ranked block-mates (prune)
    dot = np.array([[0.9, 0.9 - 1e-7, 0.9 - 2e-6, np.nan, 0.89, 0.7]])
    valid = np.array([True])
    ri, ci = _block_topk_keep(
        dot, valid, qids, qns, qn_null, nids, cns, cn_null, 2
    )
    kept = set(nids[ci])
    assert kept == {10, 11, 12, 13}
    assert 14 not in kept        # strictly outranked by >= 2
    assert 15 not in kept        # NULL verdict with >= 2 better pairs

    # NULL padding: a query with ONE finite pair and k=2 must keep the
    # smallest-neighbor NULL pair as padding
    cns2 = np.array([1.0, np.nan, np.nan])
    cn_null2 = np.array([False, True, True])
    dot2 = np.array([[0.5, 0.1, 0.2]])
    ri2, ci2 = _block_topk_keep(
        dot2,
        valid,
        qids,
        np.array([1.0]),
        qn_null,
        np.array([20, 22, 21], dtype=np.int64),
        cns2,
        cn_null2,
        2,
    )
    assert set(np.array([20, 22, 21])[ci2]) == {20, 21}  # smallest null pads

    # self-pair dropped even when it would top the ranking
    nids3 = np.array([0, 30], dtype=np.int64)
    dot3 = np.array([[1.0, 0.4]])
    ri3, ci3 = _block_topk_keep(
        dot3,
        valid,
        qids,
        np.array([1.0]),
        qn_null,
        nids3,
        np.array([1.0, 1.0]),
        np.array([False, False]),
        1,
    )
    assert set(nids3[ci3]) == {30}

    # zero-denominator => NULL verdict (Spark's when(denom > 0) guard)
    ri4, ci4 = _block_topk_keep(
        np.array([[0.9, 0.4]]),
        valid,
        qids,
        np.array([1.0]),
        qn_null,
        np.array([40, 41], dtype=np.int64),
        np.array([0.0, 1.0]),
        np.array([False, False]),
        1,
    )
    assert set(np.array([40, 41])[ci4]) == {41}


def test_ivf_pruned_grouped_matches_unpruned_on_random_corpus(spark):
    """End-to-end randomized pin: the pruned grouped path (the shipped
    default) must produce the identical final top-k as the unpruned
    grouped emission on a corpus dense with near-ties."""
    import random

    from movie_etl_spark.operators import similarity

    rng = random.Random(7)
    rows = [
        (i, [rng.choice([-1.0, 1.0]) * rng.uniform(0.99, 1.0) for _ in range(8)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run():
        return {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in similarity.ivf_top_k(
                df, df, k=4, n_centroids=6, n_probe=3
            ).collect()
        }

    pruned = run()
    orig = similarity._grouped_dot_pairs

    def unpruned(qp, ca, top_k=None):
        return orig(qp, ca, top_k=None)

    try:
        similarity._grouped_dot_pairs = unpruned
        full = run()
    finally:
        similarity._grouped_dot_pairs = orig
    assert pruned == full and pruned


def test_ivf_skinny_rank_path_matches_fat_path(spark, monkeypatch):
    """ADVICE r14: forcing _IVF_FAT_RANK_MAX_BYTES to 0 routes ivf_top_k
    through the skinny rank-window + SHUFFLE_HASH join-back shape (the
    factor-100 OOM fix); its output must be IDENTICAL to the fat shape
    for BOTH the self-search (queries is corpus) and two-sided branches,
    including the malformed-row corpora (NULL vector, NaN element,
    ragged width, zero norm)."""
    import math

    from movie_etl_spark.operators import similarity

    rows = [
        (i, [1.0 * (i % 5), -1.0, 2.0 + i % 3, 0.5]) for i in range(40)
    ] + [
        (100, None),                           # NULL vector
        (101, [1.0, float("nan"), 2.0, 0.5]),  # NaN element
        (102, [1.0, 2.0]),                     # ragged width
        (103, [0.0, 0.0, 0.0, 0.0]),           # zero norm
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id % 2 = 0")  # distinct frame: two-sided

    def run(q, c):
        return {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in similarity.ivf_top_k(
                q, c, k=3, n_centroids=8, n_probe=3
            ).collect()
        }

    def canon(s):
        return {
            (q, n, "nan" if isinstance(c, float) and math.isnan(c) else c, r)
            for (q, n, c, r) in s
        }

    fat_self, fat_two = run(corpus, corpus), run(queries, corpus)
    monkeypatch.setattr(similarity, "_IVF_FAT_RANK_MAX_BYTES", 0)
    skinny_self, skinny_two = run(corpus, corpus), run(queries, corpus)

    assert canon(fat_self) == canon(skinny_self)
    assert canon(fat_two) == canon(skinny_two)
    assert fat_self and fat_two  # non-vacuous


def test_ivf_rejects_n_probe_below_one(spark):
    """ADVICE r14: n_probe < 1 used to behave differently per rank-window
    shape (skinny self-search probed rn==1, fat probed nothing); it is
    now rejected at entry on every shape."""
    import pytest as _pytest

    from movie_etl_spark.operators.similarity import ivf_top_k

    df = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="n_probe"):
        ivf_top_k(df, df, k=1, n_centroids=2, n_probe=0)
