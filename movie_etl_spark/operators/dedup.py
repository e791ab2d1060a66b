"""Deduplication operators for the LLM-data-pipeline surface.

Engine extension (no reference equivalent; the reference's dedup is
store-constraint-based, SURVEY.md §2.7). Everything here is built on
deterministic md5 hashing so each operator is reproducible across
engines and oracle-checkable.

Scale design:
- exact dedup:        one hash-shuffle on the fingerprint.
- minhash LSH:        shingle explode is pipelined (no shuffle), ONE
                      groupBy builds the whole k-wide signature,
                      band-bucket self-join only compares docs sharing a
                      band (candidate set ~linear, not O(n^2)), exact
                      jaccard verification only on candidates.
- simhash:            token explode + one groupBy; near-dup = hamming
                      distance on the compact signature.
At 100 TB none of these ever materialize a pairwise cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from movie_etl_spark.functions.text import char_shingles, doc_fingerprint, tokens
from movie_etl_spark.session import cache_tracked as _persist
from movie_etl_spark.session import ensure_parallelism


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact (normalized) dedup: keep the lowest id per fingerprint.

    min-by-key via groupBy — one shuffle, fully parallel; survivors
    joined back for full rows would be a second (semi) join if needed.
    """
    fp = df.select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
    return fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))


#: 60-bit mask for the Carter-Wegman hash family (fits signed 64-bit
#: arithmetic in both engines: a + (i*b mod 2^60) < 2^61, no overflow)
_MASK60 = (1 << 60) - 1
_MASK30 = (1 << 30) - 1


def _shingle_rows(df: DataFrame, text_col: str, id_col: str, k: int, stride: int) -> DataFrame:
    """(id, a, b): each distinct shingle reduced to two 60-bit md5-half
    integers — ONE md5 per shingle row feeds the whole num_hashes-wide
    signature family (vs one salted md5 per hash function), and the
    index carries no strings at all: `a` doubles as the 8-byte shingle
    identity for the verification joins (hash collisions are mirrored
    by the oracle, which computes the identical fold)."""
    df = ensure_parallelism(df)
    return (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(char_shingles(text_col, k, stride))
            ).alias("_s"),
        )
        .select(F.col(id_col), F.md5("_s").alias("_m"))
        .select(
            id_col,
            F.conv(F.substring("_m", 1, 15), 16, 10).cast("long").alias("a"),
            F.conv(F.substring("_m", 17, 15), 16, 10)
            .cast("long")
            .bitwiseOR(F.lit(1))
            .alias("b"),
        )
    )


def _minhash_expr(i: int) -> Column:
    """Hash function i of the Carter-Wegman family: (a + i*b) mod 2^60,
    minimized per document. Pairwise-independent across i, one md5 per
    shingle for the whole family, integer agg state.

    Overflow-proof for ANY i (Spark 4 ANSI mode raises on int64
    overflow, and a naive ``a + i*b`` overflows from i >= 8): ``b`` is
    split into 30-bit halves so ``i*b mod 2^60`` is assembled from
    products that stay far below 2^63, then added to ``a`` (< 2^60).
    For i <= 7 this is bit-identical to the direct fold (no overflow
    occurs there, and (a + i*b) mod 2^60 == (a + (i*b mod 2^60)) mod
    2^60), so signatures of the shipped default family are unchanged.
    Mirrored exactly by the DuckDB oracle (catalog._sql_minhash_sigs).

    Built as ONE parsed SQL string: the former Column-builder chain was
    ~15 py4j round trips per hash — ~590 ms of pure driver time for a
    24-hash family, paid once per signature build (measured r18; the
    v7 centroid-literal lesson). Same arithmetic, same ``mh_{i}`` name.
    """
    term = (
        f"(shiftleft(({i} * shiftright(b, 30)) & {_MASK30}, 30)"
        f" + ({i} * (b & {_MASK30}))) & {_MASK60}"
    )
    return F.expr(f"min((a + ({term})) & {_MASK60})").alias(f"mh_{i}")


def _signatures_from_shingles(
    sh: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    return sh.groupBy(id_col).agg(
        *[_minhash_expr(i) for i in range(num_hashes)]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    shingle_k: int = 8,
    shingle_stride: int = 4,
) -> DataFrame:
    """(id, mh_0..mh_{n-1}) — the whole signature in ONE aggregation."""
    sh = _shingle_rows(df, text_col, id_col, shingle_k, shingle_stride)
    return _signatures_from_shingles(sh, id_col, num_hashes)


def near_dup_pairs_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 8,
    shingle_stride: int = 4,
    jaccard_threshold: float = 0.6,
    max_band_freq: int | None = 100,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs with exact-jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to
    6 decimals (ratio of integer counts — exact in both engines).

    Scale design (the canonical web-scale dedup pipeline):

    1. **Exact-fingerprint collapse first.** Identical (normalized)
       documents are THE degenerate case for banded LSH: a boilerplate-
       heavy corpus puts thousands of byte-equal docs into one band
       bucket and the self-join goes quadratic. So identical docs are
       grouped by md5 fingerprint up front and emitted as O(n) star
       pairs (group-min id_a -> every other member, jaccard = 1.0 —
       they are identical, which preserves dedup connectivity without
       the C(n,2) all-pairs blow-up), and only ONE representative per
       fingerprint enters the LSH stage.
    2. **Band-frequency cap** (``max_band_freq``): the safety net for
       *near*-identical boilerplate that survives the collapse. Band
       keys shared by more than the cap are dropped before the
       self-join (an anti-join against the tiny over-cap key set, which
       Spark broadcasts). Recall trade-off: a pair whose only shared
       bands are over-cap is missed; with distinct docs and 100+ docs
       per bucket those pairs are overwhelmingly sub-threshold noise.

    The shingle inverted index is built ONCE and persisted (memory,
    spill-to-disk): it feeds the signatures, the doc sizes, and both
    sides of the verification join — recomputing the explode 4x is the
    naive plan's dominant cost. At cluster scale the same index would
    be a checkpointed/bucketed table. Callers release the cache via
    :func:`movie_etl_spark.session.release_caches`.
    """
    # the (id, fingerprint) frame is tiny (two columns) but its lineage
    # is a full-corpus normalize+md5 scan — persist it ONCE and derive
    # groups, star pairs AND the representative id set from the same
    # materialization (unpersisted, Spark recomputed the md5 pass for
    # every consumer: the r3 bench charged dd3 ~1s for the duplicated
    # scans). Released with the shingle index via release_caches().
    fp = _persist(
        df.select(F.col(id_col), doc_fingerprint(text_col).alias("_fp"))
    )
    groups = fp.groupBy("_fp").agg(
        F.min(id_col).alias("_rep"), F.count("*").alias("_nfp")
    )
    # star pairs exist only for fingerprints with >1 member: joining fp
    # against the (usually tiny, AQE-broadcastable) duplicate-group set
    # instead of every group keeps the hash side minimal
    exact_pairs = (
        fp.join(groups.filter(F.col("_nfp") > 1).select("_fp", "_rep"), "_fp")
        .filter(F.col(id_col) > F.col("_rep"))
        .select(
            F.col("_rep").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.round(F.lit(1.0).cast("double"), 6).alias("jaccard"),
        )
    )
    reps = df.join(
        groups.select(F.col("_rep").alias(id_col)), [id_col], "left_semi"
    )
    sh = _persist(_shingle_rows(reps, text_col, id_col, shingle_k, shingle_stride))
    # ONE aggregation over the (large) shingle index yields signatures
    # AND per-doc sizes; persisting the tiny per-doc result lets the
    # band projection and both size joins reuse it instead of
    # re-aggregating sh per consumer (two extra shuffles in r3)
    sigs = _persist(
        sh.groupBy(id_col).agg(
            *[_minhash_expr(i) for i in range(num_hashes)],
            F.count("*").alias("n_shingles"),
        )
    )
    n_bands = num_hashes // band_size
    # one parsed SQL string, not n_bands*band_size Column builders (the
    # py4j round-trip cost — see _minhash_expr)
    band_structs = ", ".join(
        f"named_struct('band_idx', {b}, 'band_key', md5(concat_ws('|', "
        + ", ".join(
            f"CAST(mh_{b * band_size + r} AS STRING)"
            for r in range(band_size)
        )
        + ")))"
        for b in range(n_bands)
    )
    bands = sigs.select(
        F.col(id_col),
        F.explode(F.expr(f"array({band_structs})")).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_key")

    if max_band_freq is not None:
        over_cap = (
            bands.groupBy("band_idx", "band_key")
            .agg(F.count("*").alias("_bf"))
            .filter(F.col("_bf") > max_band_freq)
            .select("band_idx", "band_key")
        )
        bands = bands.join(over_cap, ["band_idx", "band_key"], "left_anti")

    left = bands.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_key"
    )
    right = bands.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_key"
    )
    candidates = (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    sizes = sigs.select(id_col, "n_shingles")
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("a"))
    inter = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "a"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    jac = (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return exact_pairs.unionByName(jac)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    jaccard_threshold: float = 0.5,
    max_ngram_freq: int = 20,
    min_shared: int = 3,
) -> DataFrame:
    """Word n-gram Jaccard near-dup pairs.

    Candidate generation: pairs sharing at least ``min_shared`` *rare*
    n-grams (document frequency <= max_ngram_freq) — an inverted-index
    join that avoids the O(n^2) cross product. Two knobs control the
    candidate volume, both forms of skew control: the frequency cap
    stops hub n-grams from fanning out quadratically, and the
    shared-count floor drops coincidental single-gram collisions before
    the (expensive) exact-intersection verification — on a dense
    vocabulary one shared gram admits millions of pairs that exact
    Jaccard would reject anyway.

    Recall bound (the two knobs interact): the floor counts shared
    *rare* grams (df <= ``max_ngram_freq``), so a pair is missed iff it
    shares fewer than ``min_shared`` rare grams — either because the
    docs are degenerate (< ``min_shared`` total grams) or because their
    overlap consists almost entirely of corpus-common grams. A true
    near-dup at ``jaccard >= 0.5`` shares a third of its grams; unless
    virtually all of those are hub grams (boilerplate — which exact /
    minhash dedup catches upstream), it clears any sane ``min_shared``.
    """
    toks = ensure_parallelism(df).select(F.col(id_col), tokens(text_col).alias("toks"))
    # the gram inverted index feeds document frequencies, the candidate
    # join (twice) and the intersection join (twice): persist it once
    # (memory, spill-to-disk) instead of re-running the explode 5x;
    # callers release via release_caches(). Grams are carried as 60-bit
    # md5-prefix ints, not strings: five joins shuffle an 8-byte key
    # instead of a ~20-byte text gram (any hash collision is identical
    # in the oracle, which computes the same md5 prefix)
    grams = _persist(
        toks.select(
            id_col,
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))),
                        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, n)),
                    )
                )
            ).alias("_gram_s"),
        )
        .filter(F.length("_gram_s") > 0)
        .select(
            id_col,
            F.conv(F.substring(F.md5("_gram_s"), 1, 15), 16, 10)
            .cast("long")
            .alias("gram"),
        )
    )
    df_counts = grams.groupBy("gram").agg(F.count("*").alias("df_count"))
    rare = grams.join(
        df_counts.filter(F.col("df_count") <= max_ngram_freq).select("gram"), "gram"
    )
    cand = (
        rare.select(F.col(id_col).alias("id_a"), "gram")
        .join(rare.select(F.col(id_col).alias("id_b"), "gram"), "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_n_shared"))
        .filter(F.col("_n_shared") >= min_shared)
        .select("id_a", "id_b")
    )
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    g_a = grams.select(F.col(id_col).alias("id_a"), "gram")
    g_b = grams.select(F.col(id_col).alias("id_b"), "gram")
    inter = (
        cand.join(g_a, "id_a")
        .join(g_b, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def recommended_band_size(
    n_vectors: int, n_bits: int = 24, target_bucket: int = 100
) -> int:
    """Corpus-sized sign-LSH band width for :func:`embedding_near_dup_pairs`.

    Expected bucket occupancy on an unclustered corpus is
    ``n_vectors / 2^band_size`` per band, so candidate volume — and with
    it the exact-verify join — grows ~quadratically once buckets fill
    (measured: the r10 sf3 scale audit read dd6 at 27× wall for 3× data
    on 60k near-uniform vectors with the fixed 6-bit default, buckets
    ~940 avg right under the 1000 cap; BASELINE.md "third scale point").
    Sizing bands to ``log2(n / target_bucket)`` bits keeps expected
    occupancy at ``target_bucket`` regardless of corpus size — the
    production knob the operator docstring promises ("wider bands cut
    compare volume geometrically"). The price is recall at LOW
    similarity thresholds; at production thresholds (cosine >= 0.9,
    per-bit agreement ~0.86) extra bits cost little (0.86^10 ≈ 0.22
    per-band → 1-(1-0.22)^n_bands still high with enough bands).

    Returns a band width in ``[1, n_bits]``; the caller keeps
    ``n_bands >= 1`` by construction. Since r11 this IS the operator's
    default path: :func:`embedding_near_dup_pairs` with
    ``band_size=None`` sizes its bands from the corpus via
    :func:`_auto_band_layout` (VERDICT r10 item 3). The catalog queries
    dd6/dd8 pass ``band_size=6`` explicitly because their DuckDB
    oracles pin the fixed 4x6-bit layout.
    """
    import math

    if n_vectors < 2:
        return 1
    bits = math.ceil(math.log2(n_vectors / max(target_bucket, 1)))
    return max(1, min(bits, n_bits))


#: band width the oracle-pinned catalog layout uses (4 bands x 6 bits
#: over the first 24 dims); auto sizing keeps the BAND COUNT this
#: layout implies and widens each band with the corpus.
_PINNED_BAND_SIZE = 6

#: largest ESTIMATED corpus (rows x (8 bytes x avg dim + row overhead))
#: the exact-verify joins will broadcast. 256 MB clears the sf3 point
#: (60k x 64 dims ~ 33 MB) with an order of magnitude to spare while
#: staying far below driver/executor heap at the 8 GiB bench setting;
#: a corpus past it pays the shuffled join, the right strategy once the
#: corpus rather than the candidate pair stream dominates.
_VERIFY_BROADCAST_MAX_BYTES = 256 * 1024 * 1024

#: row bound on the band self-join's broadcast side (ADVICE r12): the
#: band relation is n_vectors x n_bands SKINNY rows whose size is
#: dim-independent, so a low-dim corpus could pass the vector-byte cap
#: above while still implying a multi-million-row broadcast hash
#: relation (~100 B/row hashed). 4M rows keeps that relation under a
#: few hundred MB regardless of vector width; past it the explicit-
#: partition-count shuffle path is the right strategy anyway.
_BAND_BROADCAST_MAX_ROWS = 4_000_000


def _auto_band_layout(
    n_vectors: int, dim: int, n_bits: int = 24, target_bucket: int = 100
) -> tuple[int, int]:
    """(n_bands, band_size) for a corpus of ``n_vectors`` ``dim``-wide
    vectors. Band COUNT is held at what the pinned layout implies
    (``n_bits // 6`` = 4 by default) so the any-band OR keeps its
    recall structure; band WIDTH grows as ``log2(n / target_bucket)``
    so expected bucket occupancy — and with it candidate volume — stays
    flat as the corpus scales (the sf3 audit's dd6 27x was exactly this
    width staying fixed while n grew 30x). Width is capped at
    ``dim // n_bands`` so every band indexes real vector components:
    unlike the pinned path, auto sizing may use MORE than ``n_bits``
    sign bits when the embedding has them to give (4 bands x 10 bits =
    40 of 64 dims at the sf3 point; a billion-vector corpus saturates
    at 4 x 16 = the full 64)."""
    n_bands = max(1, n_bits // _PINNED_BAND_SIZE)
    width = recommended_band_size(
        n_vectors, n_bits=max(1, dim // n_bands), target_bucket=target_bucket
    )
    return n_bands, width


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    cosine_threshold: float = 0.9,
    n_bits: int = 24,
    band_size: int | None = None,
    max_band_freq: int | None = 1000,
    target_bucket: int = 100,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a, id_b, cosine) with
    id_a < id_b — the semantic-dedup face of the surface (exact/minhash/
    simhash catch lexical dups; this catches paraphrases via their
    embeddings).

    Scale design — banded sign-LSH, the vector analogue of
    :func:`near_dup_pairs_minhash`: the first ``n_bits`` sign bits split
    into ``n_bits/band_size`` bands; vectors sharing ANY full band are
    candidates (equi-join on (band_idx, band_key), never all-pairs);
    exact cosine verifies candidates only. At true near-dup thresholds
    (cosine >= ~0.9) two vectors agree in nearly every sign bit, so the
    probability of missing all bands is tiny; at looser thresholds
    recall decays (see lsh_top_k's measured numbers — hashing cannot
    beat scanning on unstructured corpora). ``max_band_freq`` caps
    degenerate buckets exactly like the minhash band cap.

    Band sizing: candidate volume scales ~n²/2^band_size per band, so
    wider bands cut compare volume geometrically (measured on the
    driver corpus: 4-bit bands -> 28.5k candidates, 6-bit -> 7.6k) at
    the price of recall for low-similarity pairs; at cosine >= 0.9 the
    per-bit agreement probability (1 - theta/pi ~ 0.86) keeps 6-bit
    band recall high. Measured, not argued: on a constructed clustered
    corpus (50 clusters x 4 copies, 32 dims, 300 true pairs at
    cosine >= 0.9) the 6-bit bands recover 300/300 pairs — recall 1.0
    (tests/test_text_dedup.py::
    test_embedding_near_dup_recall_on_clustered_corpus).

    ``band_size=None`` (the default since r11, VERDICT r10 item 3)
    sizes bands from the corpus: one aggregate over the already-
    persisted base frame reads (count, dim) and
    :func:`_auto_band_layout` keeps expected bucket occupancy at
    ``target_bucket`` regardless of scale — the fix for the sf3 audit
    finding where the fixed 6-bit layout degenerated on 60k
    near-uniform vectors (buckets ~940 under the 1000 cap → quadratic
    candidates, dd6 27x / dd8 21x wall for 3x data). Pass an explicit
    ``band_size`` to pin the layout (the catalog's dd6/dd8 pass 6: the
    DuckDB oracles hash the fixed 4x6-bit layout).
    """
    from movie_etl_spark.functions.vectors import cosine_from_norms, l2_norm

    base = _persist(
        ensure_parallelism(df).select(
            F.col(id_col), F.col(vec_col).alias("_v"), l2_norm(vec_col).alias("_n")
        )
    )
    # One aggregate over the persisted base reads everything the two
    # sizing decisions below need: the corpus count, the MEDIAN vector
    # width over non-empty rows (band layout — only computed when the
    # caller did NOT pin band_size; ADVICE r12), and the average width
    # (broadcast byte estimate).
    stat_cols = [F.count("*").alias("n"), F.avg(F.size("_v")).alias("avg_dim")]
    if band_size is None:
        stat_cols.append(
            F.median(F.when(F.size("_v") > 0, F.size("_v"))).alias("dim")
        )
    stats = base.agg(*stat_cols).first()
    n_vectors = stats["n"] or 0
    if band_size is None:
        # Size the layout from the HEALTHY majority: median vector width
        # over non-empty rows.  min(size) was the r11 shape and it let a
        # single zero-length (or truncated) vector collapse the band
        # width to 1 bit for the WHOLE corpus — every 1-bit bucket then
        # exceeds max_band_freq on corpora >~2*cap rows and the default
        # path silently returned ZERO pairs (ADVICE r11, medium).
        # Degenerate rows themselves stay safe: try_element_at reads
        # NULL past a short vector, the bit maps to '0', and the
        # exact-cosine verify owns correctness.  All-empty corpora read
        # dim=NULL and fall back to n_bits (their single degenerate
        # bucket is governed by the band cap either way).
        dim = int(stats["dim"]) if stats["dim"] is not None else n_bits
        n_bands, band_size = _auto_band_layout(
            n_vectors, dim, n_bits, target_bucket
        )
    else:
        n_bands = max(1, n_bits // band_size)

    # Verify-join strategy (r12, from a measured 8g OOM): the exact-
    # verify joins fetch _v/_n onto every CANDIDATE PAIR, and candidate
    # volume can exceed the corpus by orders of magnitude (the pinned
    # 4x6 layout at 60k vectors emits ~113M pairs from a 30 MB corpus).
    # Above Spark's 10 MB auto-broadcast threshold those joins regress
    # to SortMergeJoin — SORTING the pair stream twice, with vectors
    # attached, is the spill that took an 8 GiB heap to 90% (BASELINE.md
    # "r12: sf3 catalog refresh").  A corpus small enough to broadcast
    # streams the pairs through two in-stage hash joins instead: no
    # pair-stream shuffle, no sort, no spill.  The cap keeps this
    # 100 TB-safe: a genuinely large corpus (more than ~256 MB
    # estimated) falls back to the shuffled join, which is the correct
    # strategy when the corpus, not the pair stream, dominates.  Row
    # results are identical either way — join strategy does not touch
    # the cosine arithmetic.
    # Both broadcast decisions live in one predicate: the vector-byte
    # cap governs the verify joins (a/b carry _v), and the ROW bound
    # governs the band self-join's build side — n_vectors x n_bands
    # skinny rows whose size is dim-independent, so the byte cap alone
    # would let a low-dim corpus broadcast a multi-million-row hash
    # relation (ADVICE r12).
    est_bytes = n_vectors * ((stats["avg_dim"] or 0.0) * 8 + 48)
    small_corpus = (
        est_bytes <= _VERIFY_BROADCAST_MAX_BYTES
        and n_vectors * n_bands <= _BAND_BROADCAST_MAX_ROWS
    )

    def band_key(b: int) -> str:
        # try_element_at, not element_at: ANSI mode (Spark 4 default)
        # makes out-of-range element_at THROW, so a corpus with vectors
        # shorter than the band bit-range would crash the whole job.
        # try_element_at reads NULL there -> the bit maps to '0' (CASE
        # ELSE, same as the former when/otherwise) and the row still
        # lands in a (degenerate) bucket the band-freq cap governs; the
        # exact-cosine verify owns correctness either way. The auto
        # layout sizes width from the MEDIAN non-empty vector width, so
        # this fires on any row shorter than the corpus's typical dim
        # (and on explicit pinned widths wider than the data) — by
        # design: a minority of short rows must not shrink the whole
        # corpus's layout.
        return "concat(" + ", ".join(
            f"CASE WHEN try_element_at(_v, {b * band_size + i + 1}) >= 0"
            " THEN '1' ELSE '0' END"
            for i in range(band_size)
        ) + ")"

    # one parsed SQL string, not n_bands*band_size Column builders (the
    # py4j round-trip cost — see _minhash_expr)
    band_structs = ", ".join(
        f"named_struct('band_idx', {b}, 'band_key', {band_key(b)})"
        for b in range(n_bands)
    )
    bands = base.select(
        F.col(id_col),
        F.explode(F.expr(f"array({band_structs})")).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_key")
    if max_band_freq is not None:
        over_cap = (
            bands.groupBy("band_idx", "band_key")
            .agg(F.count("*").alias("_bf"))
            .filter(F.col("_bf") > max_band_freq)
            .select("band_idx", "band_key")
        )
        bands = bands.join(over_cap, ["band_idx", "band_key"], "left_anti")
    # NOTE (r12): candidates are NOT deduplicated here. A pair that
    # agrees in several bands appears once per band, but its exact
    # cosine is identical in every copy, so deduplication commutes with
    # the verify — and deferring it to AFTER the threshold filter
    # shrinks the dedup's shuffle from the full candidate stream (113M
    # rows at the sf3 pinned layout — the hash-aggregate that held the
    # 8 GiB heap at 90%+) to the surviving pairs (~204k there, a ~550x
    # reduction). The duplication factor is bounded by n_bands, and the
    # extra cosine evaluations run fused in the same stage as the
    # (typically broadcast) verify joins.
    #
    # Parallelism of the band self-join — the AQE trap this change
    # exposed: with the big dedup exchange gone, the only exchange
    # left under the heavy fused stage was the band-key shuffle, whose
    # INPUT is tiny (240k skinny rows at sf3), and AQE coalesces by
    # input bytes — blind to the ~500x join fan-out — so the 113M
    # cosine evaluations landed on 2 post-coalesce partitions (measured:
    # the first deferred-dedup probe serialized onto 2 tasks x 230 s+).
    # Small corpora therefore BROADCAST the build side of the self-join
    # (n_bands x n skinny rows, small whenever the corpus is): the
    # fused stage then reads straight out of the persisted base's
    # partitioning with ZERO pre-dedup shuffles, and per-task pair
    # volume is bounded by rows-per-task x n_bands x max_band_freq
    # regardless of bucket skew. Large corpora pin the shuffle's
    # partition count explicitly (user-specified counts are exempt from
    # AQE coalescing) so the wide stage stays wide at scale.
    bands_b = bands.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_key"
    )
    if small_corpus:
        bands_a = bands.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
        bands_b = F.broadcast(bands_b)
    else:
        n_shuffle = int(
            df.sparkSession.conf.get(
                "spark.sql.shuffle.partitions",
                str(df.sparkSession.sparkContext.defaultParallelism),
            )
        )
        bands_a = bands.select(
            F.col(id_col).alias("id_a"), "band_idx", "band_key"
        ).repartition(n_shuffle, "band_idx", "band_key")
        bands_b = bands_b.repartition(n_shuffle, "band_idx", "band_key")
    cand = (
        bands_a.join(bands_b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    hint = F.broadcast if small_corpus else (lambda frame: frame)
    a = hint(
        base.select(
            F.col(id_col).alias("id_a"),
            F.col("_v").alias("_va"),
            F.col("_n").alias("_na"),
        )
    )
    b = hint(
        base.select(
            F.col(id_col).alias("id_b"),
            F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"),
        )
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cosine", F.round(cosine_from_norms("_va", "_vb", "_na", "_nb"), 6)
        )
        .filter(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", "cosine")
        # multi-band survivors carry identical cosines — see the cand
        # NOTE above for why dedup lives here, after the filter
        .dropDuplicates(["id_a", "id_b"])
    )


def dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    driver_cc_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair list:
    ``(doc_id, cluster_id)`` with cluster_id = the MIN doc id in the
    component — the canonical survivor, turning pairwise dedup output
    into per-document keep/drop decisions (pairs alone can't: A~B and
    B~C must collapse to ONE survivor even though A~C was never
    emitted).

    ``nodes`` supplies the full id universe (docs in no pair become
    singleton clusters of themselves).

    The pair list is dedup OUTPUT — orders of magnitude smaller than
    the corpus, and below the driver bound at every supported scale
    (sf <= 1) — so the path is chosen by the observed edge count:

    - ``<= driver_cc_max_edges``: ONE bounded collect and a driver-side
      union-find (O(E α), ~100 ms for 2M edges; 2M × 16 B ≈ 32 MB on
      the driver). The same documented trade as
      corpus._two_phase_prefix: a metadata-sized collect beats 3+
      distributed rounds of fixed shuffle overhead.
    - above the bound, which bounds driver memory:
      graph_algos.connected_components_star (alternating
      large-star/small-star [Kiveris et al. 2014], O(log^2 n) rounds on
      any diameter).

    Both paths are equality-tested against each other
    (tests/test_text_dedup.py::test_dup_clusters_paths_agree).
    """
    # persist the pair list FIRST: it is read at least twice (the
    # bounded probe, then the star path's edge reads — or the probe
    # alone when it completes), and without the persist each consumer
    # re-runs the entire upstream dedup pipeline (measured ~2x the dd3
    # cost at sf0.1)
    pairs = _persist(pairs.select(id_a, id_b))
    spark = pairs.sparkSession
    # path probe: collect AT MOST bound+1 rows. If the limit truncates
    # it's the star path; if it doesn't, the collected rows ARE the
    # complete edge list — one job instead of a count() followed by a
    # collect()
    probe = pairs.limit(driver_cc_max_edges + 1).collect()

    if len(probe) <= driver_cc_max_edges:
        # bounded driver union-find (union-by-min + path compression)
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for r in probe:
            ra, rb = find(r[0]), find(r[1])
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        # only parented nodes need explicit rows: component roots (and
        # untouched ids) fall through to the singleton path as
        # (id, id), which is exactly their cluster assignment
        from pyspark.sql.types import StructField, StructType

        id_type = nodes.schema[id_col].dataType
        mapping = [(k, find(k)) for k in parent]
        clustered = spark.createDataFrame(
            mapping,
            StructType(
                [StructField(id_col, id_type), StructField("cluster_id", id_type)]
            ),
        )
    else:
        from movie_etl_spark.operators.graph_algos import (
            connected_components_star,
        )

        clustered = connected_components_star(
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        ).select(
            F.col("node_id").alias(id_col),
            F.col("component_id").alias("cluster_id"),
        )
    singletons = nodes.select(F.col(id_col)).join(
        clustered.select(id_col), id_col, "left_anti"
    ).withColumn("cluster_id", F.col(id_col))
    return clustered.unionByName(singletons)


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash signature per document over whitespace tokens.

    Token hash = first 8 md5 hex chars as a 32-bit int (engine-portable);
    signature bit b is the sign of sum(+1/-1) over token bit b. One
    explode + one groupBy; the signature assembles from ``bits``
    conditional sums in a single aggregation.
    """
    tok = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(tokens(text_col)).alias("tok"),
    ).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    )
    # parsed SQL strings, not 2*bits Column-builder chains (the py4j
    # round-trip cost — see _minhash_expr); arithmetic unchanged
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1"
            " THEN 1 ELSE -1 END)"
        ).alias(f"s_{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    sig = "CAST(0 AS BIGINT) + " + " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN CAST({1 << b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return agg.select(F.col(id_col), F.expr(sig).alias("simhash"))


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    max_len: int = 64,
) -> DataFrame:
    """All DISTINCT string pairs within Levenshtein distance 1, via
    deletion neighborhoods (the FastSS / SymSpell candidate scheme) —
    never an all-pairs comparison.

    Completeness argument (why sharing a single-deletion variant is a
    complete candidate generator for ed<=1): if ``b`` substitutes one
    char of ``a``, deleting that position from BOTH yields the same
    string; if ``b`` inserts one char into ``a``, deleting it from
    ``b`` yields ``a`` itself (every string is also its own 0-deletion
    variant); deletion is the mirror case; equal strings share
    trivially. So every ed<=1 pair collides on >=1 variant, and the
    exact ``levenshtein() <= 1`` filter removes the false candidates
    (distinct strings CAN share a variant at distance 2: ab/ba share
    'a' and 'b').

    At scale: a string of length L yields L+1 variants, so the explode
    is O(total chars); the self-join shuffles on ``xxhash64`` of the
    variant (8-byte key, skew-bounded because a variant bucket holds
    only strings within ed<=1 of each other + distance-2 colliders);
    the exact verify runs per candidate, not per pair of corpus
    strings. The quadratic brute force this replaces is the first
    thing that dies at 100 TB of keys. ``max_len`` guards the explode
    against pathological unbounded strings (longer strings pass
    through a length-bucketed residual only if needed — here they are
    simply excluded, documented behavior for key-matching use).

    Plan shape (r10 re-measure, 5.5× on identical output): the
    position index is exploded FIRST and each variant assembled as a
    row-level projection, so the substring/concat work runs in
    whole-stage codegen — the previous ``transform(sequence(...))``
    lambda evaluated interpreted per element, the exact trap the t3
    winnowing adjudication documents. The variant frame is persisted
    once and feeds BOTH join sides (caller-owned cache lifetime, like
    every dedup index). A 64-bit hash collision between different
    variant strings only ADDS a candidate pair, which the exact
    ``levenshtein <= 1`` filter then removes — completeness needs only
    that equal variants hash equal, so output is hash-choice-invariant.
    Duplicate (t, vk) rows (a doubled char deleted at either position)
    survive until the candidate ``distinct``, which already dedups
    pairs — a pre-join distinct was a redundant extra shuffle.

    Returns ``(left, right)`` with ``left < right``, each pair once.
    """
    base = (
        ensure_parallelism(df)
        .select(F.col(text_col).cast("string").alias("t"))
        .filter(F.col("t").isNotNull() & (F.length("t") <= max_len))
        .distinct()
    )
    # i = 0 keeps t itself (its own 0-deletion variant); i >= 1 deletes
    # position i. All row-level codegen — no interpreted HOF lambda.
    variants = _persist(
        base.select(
            "t", F.explode(F.sequence(F.lit(0), F.length("t"))).alias("i")
        ).select(
            "t",
            F.xxhash64(
                F.when(F.col("i") == 0, F.col("t")).otherwise(
                    F.concat(
                        F.expr("substring(t, 1, i - 1)"),
                        F.expr("substring(t, i + 1, length(t))"),
                    )
                )
            ).alias("vk"),
        )
    )
    a = variants.alias("a")
    b = variants.alias("b")
    cand = (
        a.join(b, F.col("a.vk") == F.col("b.vk"))
        .filter(F.col("a.t") < F.col("b.t"))
        .select(F.col("a.t").alias("left"), F.col("b.t").alias("right"))
        .distinct()
    )
    return cand.filter(F.levenshtein("left", "right") <= 1)
