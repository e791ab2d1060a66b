"""Approximate-nearest-neighbor search over embedding columns.

Engine extension (no reference equivalent). Two strategies:

- :func:`brute_force_top_k` — exact cosine top-k. The corpus side is
  broadcast when it fits; cost is O(|Q| * |C|) compares but fully
  JVM-side (zip_with/aggregate fold) and embarrassingly parallel over
  queries. The correctness baseline.
- :func:`lsh_top_k` — sign-quantization LSH: bucket vectors by the sign
  pattern of ``n_planes`` leading dimensions (a deterministic stand-in
  for random hyperplanes, reproducible across engines), compare only
  within bucket + query fan-out to neighboring buckets is deliberately
  omitted (documented recall trade-off). The 100 TB scale path: the
  bucket join replaces the cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movie_etl_spark.functions.vectors import (
    batched_fold_dot,
    cosine_from_norms,
    cosine_similarity,
    l2_norm,
)
from movie_etl_spark.session import ensure_parallelism


#: largest ESTIMATED assigned-corpus (rows x (8 x dim + overhead)) the
#: IVF scoring stage will broadcast as per-centroid numpy matrices.
#: Same reasoning as operators.dedup._VERIFY_BROADCAST_MAX_BYTES: the
#: pair stream dwarfs the corpus at every realistic probe setting, so
#: shipping each corpus vector ONCE per worker beats attaching two
#: vectors to every pair; past the cap the shuffled join is the right
#: strategy and the scoring falls back to the Arrow pair fold.
_IVF_BROADCAST_MAX_BYTES = 256 * 1024 * 1024

#: largest n_centroids x estimated-corpus-bytes product for which
#: ivf_top_k keeps the FAT rank window (vector-attached rank rows,
#: cached whole in the self-search case). Past this the skinny
#: rank-window + join-back shape takes over — see the r14 note inside
#: ivf_top_k. 2.5 GiB keeps the measured-safe sf3 point (2.1 GB) fat
#: with ~3x margin to the measured sf10 OOM (7 GB).
_IVF_FAT_RANK_MAX_BYTES = 2_560 * 1024 * 1024


#: safety margin (in cosine units) for the in-block top-k prune: the
#: final ranking key is the cosine ROUNDED to 6 dp, so two raw cosines
#: more than 2x the 1e-6 quantum apart can never round to the same
#: value — any pair more than the margin below a block's k-th best raw
#: cosine is strictly outranked by >= k block-mates after rounding and
#: can never reach the global top-k. 1e-5 is 5x that bound.
_TOPK_PRUNE_MARGIN = 1e-5


def _block_topk_keep(dot, valid, qids, qns, qn_null, nids, cns, cn_null, k):
    """Indices ``(rows, cols)`` of the pairs in one scored block that
    can still reach the global top-k — the provably-sufficient superset
    the grouped scoring path emits instead of the full block.

    Safety argument (each pruned pair has >= k block-mates that
    strictly outrank it under the final (rounded-cosine DESC,
    neighbor_id ASC) order, so pruning cannot change the global top-k):

    - verdicts replicate the Spark expression
      ``round(when(_qn*_cn > 0, dot/(_qn*_cn)), 6)`` EXACTLY, including
      Spark's NaN semantics (``NaN > 0`` is true, so a NaN denominator
      yields a NaN cosine, which ranks FIRST descending) and the NULL
      cases (null norm, non-positive denominator, null dot), which rank
      last;
    - NaN-cosine pairs are always kept (nothing outranks them);
    - finite pairs keep everything within ``_TOPK_PRUNE_MARGIN`` of the
      row's k-th best raw cosine — the margin covers every possible
      rounding tie (see the constant's note), and raw cosines here are
      bit-identical to Spark's (same IEEE multiply then divide);
    - NULL-verdict pairs are kept only to pad rows with fewer than k
      better-ranked pairs, smallest neighbor id first (the NULL-side
      tiebreak order);
    - self-pairs are dropped outright — the caller filters
      ``query_id != neighbor_id`` downstream either way.
    """
    import numpy as np

    n_q, n_b = dot.shape
    denom = qns[:, None] * cns[None, :]
    norm_null = qn_null[:, None] | cn_null[None, :]
    # Spark: NaN > 0 is TRUE (NaN orders above every number); numpy's
    # comparison is False — OR the NaN case back in
    denom_pos = (denom > 0) | np.isnan(denom)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dot / denom
    null_v = norm_null | ~denom_pos | ~valid[:, None]
    if qids.dtype == object or nids.dtype == object:
        pos = {v: j for j, v in enumerate(nids)}
        self_pair = np.zeros((n_q, n_b), dtype=bool)
        for i, qv in enumerate(qids):
            j = pos.get(qv)
            if j is not None:
                self_pair[i, j] = True
    else:
        self_pair = qids[:, None] == nids[None, :]
    nan_keep = ~null_v & np.isnan(cos) & ~self_pair
    finite_v = ~null_v & ~np.isnan(cos) & ~self_pair
    null_v &= ~self_pair
    work = np.where(finite_v, cos, -np.inf)
    if n_b > k:
        kth = np.partition(work, n_b - k, axis=1)[:, n_b - k]
        keep = finite_v & (work >= (kth - _TOPK_PRUNE_MARGIN)[:, None])
    else:
        keep = finite_v.copy()
    keep |= nan_keep
    pad = k - nan_keep.sum(axis=1) - finite_v.sum(axis=1)
    for i in np.nonzero(pad > 0)[0]:
        cols = np.nonzero(null_v[i])[0]
        if len(cols):
            order = np.argsort(nids[cols], kind="stable")
            keep[i, cols[order[: pad[i]]]] = True
    return np.nonzero(keep)


def _grouped_dot_pairs(
    query_probes: DataFrame, corpus_assigned: DataFrame, top_k: int | None = None
) -> DataFrame:
    """(query_id, neighbor_id, dot, _qn, _cn) for every probe pair —
    the pair-fan-out scoring stage of :func:`ivf_top_k`, computed
    WITHOUT materializing vectors per pair.

    Why this exists (r12, measured at sf3): the join path attaches two
    ~512 B vectors to each of ~451M candidate pairs before the Arrow
    fold — ~460 GB through the Python serializer for 60k vectors of
    actual data, 200 of v3's 211 solo seconds. Here the assigned corpus
    is shipped ONCE per worker as per-(centroid, dim) numpy matrices
    (a Spark broadcast, ~33 MB at sf3) and a mapInPandas over the
    query-probe rows emits dot blocks per centroid in bounded chunks.

    Bit-parity contract: the dot accumulates dimension-by-dimension
    (``acc += X[:, j] * q_j`` — one IEEE double multiply-add per pair
    per dimension, in dimension order), exactly the walk of
    :func:`~movie_etl_spark.functions.vectors.batched_fold_dot` and the
    JVM ``zip_with``/``aggregate`` fold, so the emitted dots are
    bit-identical to the join path's (pinned by
    tests/test_similarity.py::test_ivf_grouped_path_matches_join_path).
    Malformed pairs keep the fold's verdicts: NULL query vector or a
    query/corpus length mismatch -> NULL dot (explicit Arrow mask);
    a NaN element -> NaN dot (the FloatingArray return keeps pyarrow
    from reading the NaN as a null sentinel). With ``top_k=None``
    self-pairs are emitted and the caller filters them exactly like the
    join path does.

    ``top_k`` (r13): when set, each block is pruned in-place to the
    provably-sufficient superset of the global top-k before it crosses
    the Arrow boundary (see :func:`_block_topk_keep`) — every candidate
    of a (query, centroid, dim-group) appears in exactly one block, so
    block-local pruning with the rounding-safe margin cannot change the
    final ranking, while the emitted row count (and the downstream
    top-k window's shuffle) drops from |Q| x |bucket| to ~|Q| x k per
    block. At the sf3 point that is ~451M rows -> ~1.4M.

    Downstream division, rounding, and ranking stay in Spark — this
    stage moves ONLY the dot product (and the prune) across the Arrow
    boundary.

    Id columns keep their source types (ADVICE r12, medium): the output
    schema is derived from the input schemas and the id arrays keep the
    Arrow-native dtype (int64 for integral ids, object for strings), so
    string-keyed corpora score through the same grouped path.  The
    matrices are built from ONE Arrow collect (``toArrow``) — numpy
    slices of the flat child buffer, never per-element Python floats —
    so driver RSS tracks the ~2x the Arrow byte estimate instead of the
    5-10x that Row objects cost (ADVICE r12); the resulting broadcast is
    registered with :func:`~movie_etl_spark.session.broadcast_tracked`
    and released by ``release_caches`` alongside the caches — the
    release ``unpersist()``s, so a result DataFrame consumed after the
    release transparently re-ships the value (benign recompute).
    """
    import numpy as np
    import pandas as pd

    from movie_etl_spark.session import broadcast_tracked

    spark = query_probes.sparkSession

    # centroid_id -> dim -> (ids, norms, matrix, norm-null-mask); built
    # from one bounded Arrow collect (capped by _IVF_BROADCAST_MAX_BYTES
    # at the call site)
    tbl = corpus_assigned.select(
        "centroid_id", "neighbor_id", "_cn", "c_vec_n"
    ).toArrow()
    n_rows = tbl.num_rows
    matrices: dict = {}
    if n_rows:
        tbl = tbl.combine_chunks()
        cids = tbl.column("centroid_id").chunk(0).to_numpy(zero_copy_only=False)
        nids = tbl.column("neighbor_id").chunk(0).to_numpy(zero_copy_only=False)
        cn_chunk = tbl.column("_cn").chunk(0)
        cns = cn_chunk.to_numpy(zero_copy_only=False)  # NaN at nulls
        cn_null = cn_chunk.is_null().to_numpy(zero_copy_only=False)
        vec_chunk = tbl.column("c_vec_n").chunk(0)
        # flat child buffer + offsets: row i's vector is flat[off[i]:off[i+1]].
        # Child nulls surface as NaN — the same collapse the Arrow INPUT
        # path applies to q_vec, so both sides see identical doubles.
        flat = vec_chunk.values.to_numpy(zero_copy_only=False).astype(
            np.float64, copy=False
        )
        offsets = vec_chunk.offsets.to_numpy(zero_copy_only=False)
        dims = np.diff(offsets)
        dims[vec_chunk.is_null().to_numpy(zero_copy_only=False)] = -1
        groups = pd.DataFrame(
            {"cid": cids, "dim": dims, "row": np.arange(n_rows)}
        ).groupby(["cid", "dim"], sort=False)
        for (cid, dim), grp in groups:
            idx = grp["row"].to_numpy()
            if dim > 0:
                mat = flat[offsets[idx][:, None] + np.arange(dim)[None, :]]
            else:
                mat = np.zeros((len(idx), 0))
            matrices.setdefault(cid, {})[int(dim)] = (
                nids[idx],
                cns[idx],
                mat,
                cn_null[idx],
            )
    bc = broadcast_tracked(spark.sparkContext.broadcast(matrices))

    q_ddl = query_probes.schema["query_id"].dataType.simpleString()
    n_ddl = corpus_assigned.schema["neighbor_id"].dataType.simpleString()
    out_schema = (
        f"query_id {q_ddl}, neighbor_id {n_ddl}, "
        "dot double, _qn double, _cn double"
    )

    def score(batches):
        by_cid = bc.value
        for pdf in batches:
            for cid, grp in pdf.groupby("centroid_id"):
                dims = by_cid.get(cid)
                if not dims:
                    continue
                qids = grp["query_id"].to_numpy()
                qns = grp["_qn"].to_numpy(dtype=np.float64, na_value=np.nan)
                # NULL-vs-NaN is decided JVM-side (_qn_null): Arrow's
                # input conversion maps BOTH to float64 NaN, so isna()
                # here would turn a legitimately-NaN norm into NULL —
                # diverging from the join path (caught by the
                # paths-equality test's NaN-element row)
                qn_null = grp["_qn_null"].to_numpy(dtype=bool)
                qvecs = grp["q_vec"].tolist()
                for dim, (nids, cns, mat, cn_null) in dims.items():
                    n_b = len(nids)
                    # chunk the query side so the emitted block stays
                    # bounded (~n_chunk x n_b rows per yield)
                    n_chunk = max(1, 4_000_000 // max(n_b, 1))
                    for lo in range(0, len(qids), n_chunk):
                        hi = min(lo + n_chunk, len(qids))
                        q_list = qvecs[lo:hi]
                        valid = np.array(
                            [q is not None and len(q) == dim for q in q_list],
                            dtype=bool,
                        )
                        n_q = hi - lo
                        dot = np.full((n_q, n_b), np.nan)
                        if valid.any() and dim > 0:
                            qm = np.array(
                                [
                                    q_list[i]
                                    for i in range(n_q)
                                    if valid[i]
                                ],
                                dtype=np.float64,
                            )
                            acc = np.zeros((qm.shape[0], n_b))
                            for j in range(dim):
                                acc += np.outer(qm[:, j], mat[:, j])
                            dot[valid] = acc
                        elif valid.any():
                            dot[valid] = 0.0  # zero-dim fold = 0.0
                        if top_k is not None:
                            # in-block partial top-k (r13): emit only
                            # the pairs that can still reach the global
                            # top-k — every candidate of a (query,
                            # centroid, dim-group) lives in exactly one
                            # block, so per-block pruning is safe (see
                            # _block_topk_keep). Shrinks the Arrow
                            # output and the downstream window shuffle
                            # from |Q|x|bucket| to ~|Q|x(k+ties).
                            ri, ci = _block_topk_keep(
                                dot,
                                valid,
                                qids[lo:hi],
                                qns[lo:hi],
                                qn_null[lo:hi],
                                nids,
                                cns,
                                cn_null,
                                top_k,
                            )
                            if len(ri) == 0:
                                continue
                            yield pd.DataFrame(
                                {
                                    "query_id": qids[lo:hi][ri],
                                    "neighbor_id": nids[ci],
                                    "dot": pd.arrays.FloatingArray(
                                        dot[ri, ci], mask=~valid[ri]
                                    ),
                                    "_qn": pd.arrays.FloatingArray(
                                        qns[lo:hi][ri],
                                        mask=qn_null[lo:hi][ri],
                                    ),
                                    "_cn": pd.arrays.FloatingArray(
                                        cns[ci], mask=cn_null[ci].copy()
                                    ),
                                }
                            )
                            continue
                        mask = np.broadcast_to(
                            ~valid[:, None], (n_q, n_b)
                        ).ravel()
                        yield pd.DataFrame(
                            {
                                "query_id": np.repeat(qids[lo:hi], n_b),
                                "neighbor_id": np.tile(nids, n_q),
                                "dot": pd.arrays.FloatingArray(
                                    dot.ravel(), mask=mask.copy()
                                ),
                                "_qn": pd.arrays.FloatingArray(
                                    np.repeat(qns[lo:hi], n_b),
                                    mask=np.repeat(qn_null[lo:hi], n_b),
                                ),
                                "_cn": pd.arrays.FloatingArray(
                                    np.tile(cns, n_q),
                                    mask=np.tile(cn_null, n_q),
                                ),
                            }
                        )

    probes = query_probes.select(
        "centroid_id",
        "query_id",
        "q_vec",
        "_qn",
        F.col("_qn").isNull().alias("_qn_null"),
    )
    return probes.mapInPandas(score, out_schema)


def _ranked_top_k(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k per query: rank by rounded similarity desc,
    then neighbor id asc (total order — reproducible under ties)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_corpus: bool = True,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for each row of ``queries``."""
    q = ensure_parallelism(queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(vec_col).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(vec_col).alias("_cn"),
    )
    if broadcast_corpus:
        c = F.broadcast(c)
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(cosine_from_norms("q_vec", "c_vec", "_qn", "_cn"), 6),
        )
    )
    return _ranked_top_k(scored, k)


def sign_bucket(vec_col: str, n_planes: int = 8, flip: int | None = None) -> F.Column:
    """Deterministic coarse bucket: concatenated sign bits of the first
    ``n_planes`` dimensions. With ``flip=i`` bit i is inverted — the
    Hamming-1 neighbor key used by multi-probe."""
    bits = []
    for i in range(n_planes):
        hi, lo = ("0", "1") if flip == i else ("1", "0")
        bits.append(
            F.when(F.element_at(F.col(vec_col), i + 1) >= 0, F.lit(hi)).otherwise(
                F.lit(lo)
            )
        )
    return F.concat(*bits)


def lsh_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    multi_probe: int = 0,
) -> DataFrame:
    """Bucketed ANN: cosine top-k within the query's sign bucket.

    At scale this is a hash-partitioned equi-join on the bucket key —
    no cross product, shuffle-partitionable, skew handled by AQE.

    ``multi_probe=1`` additionally probes every bucket at Hamming
    distance 1 from the query's key (the query side explodes into
    ``n_planes + 1`` keys; corpus buckets are disjoint so no pair is
    produced twice). Measured recall@3 vs exact brute force
    (tests/test_similarity.py): on a corpus WITH cluster structure,
    single-probe 0.60 -> multi-probe 0.87; on the driver's synthetic
    near-uniform corpus single-probe recall is ~0 at any useful
    candidate fraction — the theoretically expected behavior, since
    hashing only beats scanning when neighbors are materially closer
    than random. Size n_planes so buckets fit an executor and pick
    multi_probe by the recall/compare-volume trade-off.
    """
    probes = [sign_bucket(vec_col, n_planes)]
    if multi_probe >= 1:
        probes += [sign_bucket(vec_col, n_planes, flip=i) for i in range(n_planes)]
    q = ensure_parallelism(queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(vec_col).alias("_qn"),
        F.explode(F.array(*probes)).alias("bucket"),
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(vec_col).alias("_cn"),
        sign_bucket(vec_col, n_planes).alias("bucket"),
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(cosine_from_norms("q_vec", "c_vec", "_qn", "_cn"), 6),
        )
    )
    return _ranked_top_k(scored, k)


def _centroids(corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str) -> DataFrame:
    """Deterministic centroid seeds: the ``n_centroids`` lowest-id
    vectors (a reproducible, engine-portable stand-in for k-means
    training — the index structure, not the clustering quality, is the
    point here; swap in trained centroids at will)."""
    return (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("c_vec"),
            l2_norm(vec_col).alias("_centn"),
        )
    )


def ivf_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 64,
    n_probe: int = 8,
) -> DataFrame:
    """IVF (inverted-file) ANN: assign every vector to its
    nearest centroid, probe only the query's ``n_probe`` closest
    centroid lists, exact cosine top-k within the probed candidates.

    Scale shape: centroid assignment is a crossJoin against a BOUNDED
    broadcast side (n_centroids rows) — legitimate, unlike a
    corpus-level cross product; the candidate fetch is a hash equi-join
    on centroid_id. With ``n_probe == n_centroids`` probing is
    exhaustive and results equal brute force (the test exploits this).
    Ties break to the lowest centroid id, so assignment is total and
    deterministic across engines.
    """
    if n_probe < 1:
        # ADVICE r14: the skinny self-search path read max(1, n_probe)
        # rank rows while the fat path read none — shape-dependent
        # behavior at a parameter that is nonsensical anyway (probing
        # zero centroid lists returns nothing by construction).
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    cents = F.broadcast(_centroids(corpus, n_centroids, id_col, vec_col))

    # Corpus sizing stats run UP FRONT (r14) because they now drive TWO
    # shape decisions: the rank-window shape here and the scoring
    # strategy below. One cheap aggregate over the raw corpus (count +
    # median dim); the r12 cache-warming variant (agg over the cached
    # assignment) is superseded — the scoring stage warms the cache on
    # its first read instead.
    _stats = corpus.agg(
        F.count("*").alias("n"), F.avg(F.size(vec_col)).alias("d")
    ).first()
    est_bytes = (_stats["n"] or 0) * ((_stats["d"] or 0.0) * 8 + 48)
    # The fat-rank shape windows (and in the self-search case caches)
    # one vector-attached row per (vector, centroid) — n_centroids x
    # est_bytes. Cheapest at bench scales (one pass, one cache, no
    # join-back), but at factor 100 that frame is ~64 x 112 MB = 7 GB
    # and OOM'd the 8g heap (found by the first full-catalog sf10
    # sweep). Past the cap the skinny shape runs the window on
    # (id, centroid, score) only and joins vectors back by id.
    # 2.5 GiB keeps the measured-safe sf3 point (2.1 GB fat frame,
    # unified peak 1.4 GB) on the fast shape with ~3x margin to the
    # measured OOM point.
    _fat_rank_ok = est_bytes * n_centroids <= _IVF_FAT_RANK_MAX_BYTES

    def assign_fat(df: DataFrame, out_id: str, out_vec: str, out_norm: str):
        """Rank frame with the vector riding through the window —
        one pass, right shape while n_centroids x corpus bytes is
        cache-sized."""
        scored = ensure_parallelism(df).select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(out_vec),
            l2_norm(vec_col).alias(out_norm),
        ).crossJoin(cents).withColumn(
            "c_cos",
            F.round(cosine_from_norms(out_vec, "c_vec", out_norm, "_centn"), 6),
        )
        w = Window.partitionBy(out_id).orderBy(
            F.col("c_cos").desc(), F.col("centroid_id").asc()
        )
        return scored.withColumn("_rn", F.row_number().over(w)).drop(
            "c_vec", "_centn"
        )

    def assign_skinny(df: DataFrame, out_id: str, out_vec: str, out_norm: str):
        """(fat, ranked): ``fat`` carries each vector ONCE; ``ranked``
        is the SKINNY (id, centroid_id, c_cos, _rn) frame the
        per-vector window runs on — ranking needs only (id, score).
        Slices join their vectors back from ``fat`` by id."""
        fat = ensure_parallelism(df).select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(out_vec),
            l2_norm(vec_col).alias(out_norm),
        )
        scored = fat.crossJoin(cents).withColumn(
            "c_cos",
            F.round(cosine_from_norms(out_vec, "c_vec", out_norm, "_centn"), 6),
        ).select(out_id, "centroid_id", "c_cos")
        w = Window.partitionBy(out_id).orderBy(
            F.col("c_cos").desc(), F.col("centroid_id").asc()
        )
        return fat, scored.withColumn("_rn", F.row_number().over(w))

    from movie_etl_spark.session import cache_tracked

    if queries is corpus and _fat_rank_ok:
        # self-search (the common dedup/recommendation case): the
        # centroid scoring + ranking pass is identical for both sides —
        # compute it once, cache it, slice twice (rn==1 assignment,
        # rn<=n_probe probes) instead of paying the bounded cross join
        # and the per-vector window twice
        ranked = cache_tracked(assign_fat(corpus, "neighbor_id", "c_vec_n", "_cn"))
        corpus_assigned = ranked.filter(F.col("_rn") == 1).select(
            "neighbor_id", "c_vec_n", "_cn", "centroid_id"
        )
        query_probes = ranked.filter(F.col("_rn") <= n_probe).select(
            F.col("neighbor_id").alias("query_id"),
            F.col("c_vec_n").alias("q_vec"),
            F.col("_cn").alias("_qn"),
            "centroid_id",
        )
    elif queries is corpus:
        # factor-100 self-search: same compute-once/slice-twice idea,
        # but both caches are bounded — fat is |C| vector rows, ranked
        # keeps only the <= n_probe skinny rank rows either slice
        # reads. SHUFFLE_HASH builds from the skinny rank slices
        # (cached frames have no usable size stats, so the planner
        # would otherwise SORT-merge — sorting the vector-carrying
        # side): hash-build the (id, centroid) rows, stream the
        # vectors unsorted.
        fat, ranked = assign_skinny(corpus, "neighbor_id", "c_vec_n", "_cn")
        fat = cache_tracked(fat)
        # n_probe >= 1 is validated at entry, so this cache holds exactly
        # the rank rows both slices below read (rn==1 is a subset)
        ranked = cache_tracked(ranked.filter(F.col("_rn") <= n_probe))
        corpus_assigned = (
            ranked.filter(F.col("_rn") == 1)
            .select("neighbor_id", "centroid_id")
            .hint("shuffle_hash")
            .join(fat, "neighbor_id")
            .select("neighbor_id", "c_vec_n", "_cn", "centroid_id")
        )
        query_probes = (
            ranked.select(F.col("neighbor_id").alias("query_id"), "centroid_id")
            .hint("shuffle_hash")
            .join(
                fat.select(
                    F.col("neighbor_id").alias("query_id"),
                    F.col("c_vec_n").alias("q_vec"),
                    F.col("_cn").alias("_qn"),
                ),
                "query_id",
            )
            .select("query_id", "q_vec", "_qn", "centroid_id")
        )
    elif _fat_rank_ok:
        # cached: read twice — once by the sizing stats that used to
        # live here, now by the scoring stage's two consumers
        corpus_assigned = cache_tracked(
            assign_fat(corpus, "neighbor_id", "c_vec_n", "_cn")
            .filter(F.col("_rn") == 1)
            .select("neighbor_id", "c_vec_n", "_cn", "centroid_id")
        )
        query_probes = (
            assign_fat(queries, "query_id", "q_vec", "_qn")
            .filter(F.col("_rn") <= n_probe)
            .select("query_id", "q_vec", "_qn", "centroid_id")
        )
    else:
        cfat, cranked = assign_skinny(corpus, "neighbor_id", "c_vec_n", "_cn")
        corpus_assigned = cache_tracked(
            cranked.filter(F.col("_rn") == 1)
            .select("neighbor_id", "centroid_id")
            .hint("shuffle_hash")
            .join(cfat, "neighbor_id")
            .select("neighbor_id", "c_vec_n", "_cn", "centroid_id")
        )
        qfat, qranked = assign_skinny(queries, "query_id", "q_vec", "_qn")
        query_probes = (
            qranked.filter(F.col("_rn") <= n_probe)
            .select("query_id", "centroid_id")
            .hint("shuffle_hash")
            .join(qfat, "query_id")
            .select("query_id", "q_vec", "_qn", "centroid_id")
        )
    # The candidate fan-out is the pair-dominant stage (~|Q| *
    # n_probe/n_centroids * |C| pairs — 451M at sf3). Strategy by
    # measured corpus size (r12; BASELINE.md "r12: IVF scoring"):
    # a broadcastable corpus ships ONCE per worker as per-centroid
    # matrices and a mapInPandas emits dot blocks (the join path
    # attached two ~512 B vectors to every pair — ~460 GB through
    # Arrow at sf3, 200 of v3's 211 solo seconds); past the cap the
    # equi-join + Arrow pair fold below is the right shape (r10 A/B:
    # 31.4 -> 18.9 s at sf1 vs the interpreted JVM fold). Both dots
    # are bit-identical dimension walks; division, rounding, and
    # ranking stay in Spark either way. The assignment pass above is
    # JVM-side always — its pair count is only N * n_centroids.
    denom = F.col("_qn") * F.col("_cn")
    # est_bytes was computed up front (it also picked the rank-window
    # shape above); the broadcast decision below reuses it.
    # The grouped path materializes id arrays in numpy; integral and
    # string ids round-trip Arrow with their source types (the output
    # schema is derived from the inputs). Anything more exotic
    # (decimal, date, struct keys) takes the join path, which is
    # type-generic (ADVICE r12, medium).
    from pyspark.sql import types as T

    _grouped_id_ok = all(
        isinstance(
            frame.schema[col].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType),
        )
        for frame, col in (
            (corpus_assigned, "neighbor_id"),
            (query_probes, "query_id"),
        )
    )
    if _grouped_id_ok and est_bytes <= _IVF_BROADCAST_MAX_BYTES:
        scored = (
            _grouped_dot_pairs(query_probes, corpus_assigned, top_k=k)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn(
                "cosine",
                F.round(F.when(denom > 0, F.col("dot") / denom), 6),
            )
        )
    else:
        scored = (
            query_probes.join(corpus_assigned, "centroid_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn(
                "cosine",
                F.round(
                    F.when(
                        denom > 0, batched_fold_dot("q_vec", "c_vec_n") / denom
                    ),
                    6,
                ),
            )
        )
    return _ranked_top_k(scored, k)


def int8_rerank_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
) -> DataFrame:
    """Quantized-rerank ANN — the production two-stage shape: coarse
    sign-LSH candidate generation (bucket equi-join, no cross product)
    followed by EXACT scoring over int8 codes. The rerank score is the
    integer dot product ``sum(q_code[i] * c_code[i])`` — order-
    independent integer math, so results are bit-deterministic across
    engines and partitionings (the same reason gr1 uses fixed-point).

    At 100 TB this is the memory story, not just a speed story: the
    rerank stage touches 4x-smaller int8 codes instead of float32
    vectors, and the bucket join bounds how many it touches. Zero-norm
    vectors are filtered (no quantization scale exists for them),
    matching v4's contract.

    The score is a raw dot product — the MIPS objective. For COSINE
    retrieval, L2-normalize embeddings before calling (then dot
    ordering equals cosine ordering up to quantization error; measured
    >=0.8 top-3 agreement with float LSH on a normalized clustered
    corpus, vs 0.19 on unnormalized vectors where the two objectives
    genuinely diverge).
    """
    from movie_etl_spark.functions.vectors import int8_quantize, max_abs

    def quantized(df: DataFrame, prefix: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(f"{prefix}_id"),
                sign_bucket(vec_col, n_planes).alias("bucket"),
                F.col(vec_col).alias("_v"),
                (max_abs(vec_col) / F.lit(127.0)).alias(f"{prefix}_scale"),
            )
            .filter(F.col(f"{prefix}_scale") > 0)
            .withColumn(
                f"{prefix}_codes",
                int8_quantize("_v", F.col(f"{prefix}_scale")),
            )
            .drop("_v")
        )

    q = quantized(ensure_parallelism(queries), "query")
    c = quantized(corpus, "neighbor")
    dot = F.aggregate(
        F.zip_with(
            F.col("query_codes"),
            F.col("neighbor_codes"),
            lambda x, y: (x * y).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", dot)
        # ranking must compare across neighbors with DIFFERENT per-vector
        # scales: the raw code dot is implicitly divided by s_q*s_c, so a
        # large-magnitude neighbor would be unfairly penalized. De-scale
        # for ranking (the reconstructed approximate true dot); round to
        # 6 dp like v1/v2's cosine so the double is hash-stable
        .withColumn(
            "dot_scaled",
            F.round(
                F.col("dot") * F.col("query_scale") * F.col("neighbor_scale"),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_scaled").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dot", "dot_scaled", "rank")
    )
