"""Text functions + dedup operators (LLM-pipeline surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import TESTDATA_SF0001

from movie_etl_spark.functions.text import (
    char_shingles,
    doc_fingerprint,
    language_scores,
    punct_ratio,
    stopword_ratio,
    token_count,
)
from movie_etl_spark.operators.dedup import (
    exact_dedup,
    near_dup_pairs_minhash,
    ngram_jaccard_pairs,
    simhash,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "The quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "The quick brown fox jumps over the lazy dog near the river bank now"),
        (3, "completely different content about spark dataframes and shuffles"),
        (4, ""),
        (5, "   "),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_and_ratios(spark):
    df = spark.createDataFrame([(1, "The cat, and a hat!!")], "i long, text string")
    r = df.select(
        token_count("text").alias("n"),
        F.round(punct_ratio("text"), 3).alias("p"),
        F.round(stopword_ratio("text"), 3).alias("s"),
    ).collect()[0]
    assert r.n == 5
    # 3 punct chars (, ! !) of 20 chars
    assert r.p == round(3 / 20, 3)
    # stopwords: The, and, a -> 3/5
    assert r.s == 0.6


def test_empty_text_edges(docs):
    rows = {r.doc_id: r for r in docs.select(
        "doc_id",
        token_count("text").alias("n"),
        char_shingles("text").alias("sh"),
        doc_fingerprint("text").alias("fp"),
    ).collect()}
    assert rows[4].n == 0 and rows[5].n == 0
    assert rows[4].sh == [] and rows[5].sh == []  # no [""] shingle
    assert rows[4].fp == rows[5].fp  # both normalize to ""


def test_language_scores(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is with us"),
            (2, "el gato y la casa con los perros que"),
            (3, "der hund und die katze ist mit"),
            (4, "zzz qqq xxx"),
        ],
        "i long, text string",
    )
    out = {r.i: r.lang for r in df.select(
        "i", language_scores("text").alias("lang")
    ).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_exact_dedup_min_survivor(docs):
    out = {r.fingerprint: r.doc_id for r in exact_dedup(docs, "text", "doc_id").collect()}
    # docs 0 and 1 identical -> one fingerprint, min id 0 survives
    assert 0 in out.values() and 1 not in out.values()
    # empty docs 4 and 5 share the empty fingerprint, min id 4 survives
    assert 4 in out.values() and 5 not in out.values()


def test_minhash_near_dups(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             near_dup_pairs_minhash(docs, "text", "doc_id").collect()}
    assert pairs.get((0, 1)) == 1.0  # identical docs (exact-fp star pair)
    # empty docs normalize identically -> exact-duplicate pair, matching
    # exact_dedup's semantics (they never reach the LSH stage, so the
    # [""]-shingle regression stays impossible)
    assert pairs.get((4, 5)) == 1.0
    # unrelated content must not pair with the fox docs
    assert not any(3 in p for p in pairs)


def test_minhash_wide_family_no_overflow(docs):
    """num_hashes=16 used to raise ARITHMETIC_OVERFLOW under Spark 4
    ANSI mode (i*b exceeds int64 from i >= 8). The split-fold must run
    for the wide family, match a pure-Python reference of the same
    Carter-Wegman fold, and leave mh_0..mh_7 identical to the default
    8-hash family (the oracle-pinned signatures)."""
    import hashlib

    from movie_etl_spark.operators.dedup import _MASK60, minhash_signatures

    wide = {r.doc_id: r for r in minhash_signatures(
        docs, "text", "doc_id", num_hashes=16
    ).collect()}
    base = {r.doc_id: r for r in minhash_signatures(
        docs, "text", "doc_id"
    ).collect()}
    for did in base:
        for i in range(8):
            assert wide[did][f"mh_{i}"] == base[did][f"mh_{i}"]

    # pure-Python reference over the same shingle pipeline
    import re

    def norm(s):
        return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()

    doc0_text = docs.filter(F.col("doc_id") == 0).collect()[0].text
    for did, text in [(0, doc0_text)]:
        s = norm(text)
        shingles = {s[o:o + 8] for o in range(0, max(len(s) - 7, 1), 4)}
        expected = [None] * 16
        for sh in shingles:
            h = hashlib.md5(sh.encode()).hexdigest()
            a = int(h[:15], 16)
            b = int(h[16:31], 16) | 1
            for i in range(16):
                v = (a + (i * b) % (1 << 60)) & _MASK60
                if expected[i] is None or v < expected[i]:
                    expected[i] = v
        for i in range(16):
            assert wide[did][f"mh_{i}"] == expected[i], f"mh_{i} mismatch"


def test_minhash_boilerplate_corpus_is_linear(spark):
    """10k identical docs — the degenerate case that used to make one LSH
    band bucket quadratic. With exact-fingerprint collapse they produce
    exactly n-1 star pairs (O(n) output) and ONE representative enters
    the LSH stage."""
    n = 10_000
    boiler = spark.range(0, n).selectExpr(
        "id AS doc_id",
        "'terms of service apply to all content on this site' AS text",
    )
    distinct = spark.createDataFrame(
        [(n, "a genuinely unique document about spark physical plans")],
        "doc_id long, text string",
    )
    out = near_dup_pairs_minhash(
        boiler.unionByName(distinct), "text", "doc_id"
    ).collect()
    assert len(out) == n - 1  # star pairs only, not C(n,2)
    assert all(r.id_a == 0 and r.jaccard == 1.0 for r in out)
    assert {r.id_b for r in out} == set(range(1, n))


def test_minhash_band_cap_drops_overfull_buckets(docs):
    """max_band_freq=0 forces every band bucket over the cap: the LSH
    stage must yield nothing, while exact-fingerprint star pairs (which
    bypass LSH) survive."""
    pairs = {(r.id_a, r.id_b) for r in
             near_dup_pairs_minhash(
                 docs, "text", "doc_id", max_band_freq=0
             ).collect()}
    assert pairs == {(0, 1), (4, 5)}  # exact dups only; (0,2) LSH pair gone


def test_ngram_jaccard_pairs(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             ngram_jaccard_pairs(docs, "text", "doc_id").collect()}
    assert pairs.get((0, 1)) == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0  # near, not exact
    assert not any(3 in p for p in pairs)


def test_simhash_properties(docs):
    out = {r.doc_id: r.simhash for r in simhash(docs, "text", "doc_id").collect()}
    assert out[0] == out[1]  # identical text, identical signature
    ham_near = bin(out[0] ^ out[2]).count("1")
    ham_far = bin(out[0] ^ out[3]).count("1")
    assert ham_near < ham_far  # near-dup closer in hamming space
    assert all(0 <= v < 2**32 for v in out.values())
    # empty docs produce no tokens -> no signature rows
    assert 4 not in out and 5 not in out


def test_dup_clusters_paths_agree(spark):
    """Driver union-find and the distributed star path must produce
    identical clusters — including a CHAIN component (A-B, B-C,
    C-D: transitivity without direct pairs), a separate 2-cluster, and
    singletons."""
    from movie_etl_spark.operators.dedup import dup_clusters
    from movie_etl_spark.session import release_caches

    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (5, 7), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(13)], "doc_id long")
    want = {r for r in range(13)}  # all nodes present

    def run(threshold):
        out = {
            r.doc_id: r.cluster_id
            for r in dup_clusters(
                pairs, nodes, "doc_id", driver_cc_max_edges=threshold
            ).collect()
        }
        release_caches()
        return out

    driver, distributed = run(10**6), run(0)
    assert driver == distributed
    assert set(driver) == want
    # chain collapses to min id 1; pair cluster to 10; rest singletons
    assert driver[1] == driver[3] == driver[5] == driver[7] == 1
    assert driver[10] == driver[11] == 10
    assert all(driver[i] == i for i in (0, 2, 4, 6, 8, 9, 12))


def test_repetition_metrics(spark):
    from movie_etl_spark.operators.corpus import repetition_metrics

    rows = [
        (0, "a a a a"),                      # one token repeated
        (1, "w x y z"),                      # all distinct
        (2, "line one\nline one\nline two"), # duplicate line
        (3, ""),                             # empty
        (4, "solo"),                         # single token: no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_metrics(df, "text", "doc_id").collect()}
    assert out[0].dup_token_frac == 0.75          # 1 - 1/4
    assert out[0].top_bigram_frac == 1.0          # "a a" is every bigram
    assert out[1].dup_token_frac == 0.0
    assert out[1].top_bigram_frac == round(1 / 3, 6)
    assert out[2].dup_line_frac == round(1 - 2 / 3, 6)
    assert out[3].dup_token_frac == 0.0 and out[3].top_bigram_frac == 0.0
    assert out[4].top_bigram_frac == 0.0          # guarded short doc


def test_contamination_check(spark):
    from movie_etl_spark.operators.corpus import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (0, "intro text then the quick brown fox jumps away"),  # 3 shared 3-grams
            (1, "quick brown dog"),                                 # too short overlap
            (2, "completely unrelated content here"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.bench_id): r.n_shared
        for r in contamination_check(
            train, bench, "text", "doc_id", n=3, min_shared=2
        ).collect()
    }
    # doc 0 shares "the quick brown", "quick brown fox", "brown fox jumps"
    assert out == {(0, 100): 3}


def test_embedding_near_dup_pairs(spark):
    from movie_etl_spark.operators.dedup import embedding_near_dup_pairs

    base = [1.0, -0.5, 0.25, 2.0, -1.0, 0.5, -0.25, 1.5,
            1.0, 1.0, -1.0, 0.5, 0.25, -2.0, 1.0, 0.5,
            -0.75, 1.25, 0.5, -0.5, 2.0, -1.5, 0.75, 1.0]
    near = [v * 1.01 + (0.001 if i % 3 == 0 else -0.001)
            for i, v in enumerate(base)]
    anti = [-v for v in base]  # cosine -1, also in a disjoint sign bucket
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, anti)], "vec_id long, embedding array<double>"
    )
    pairs = {(r.id_a, r.id_b): r.cosine for r in
             embedding_near_dup_pairs(df, "embedding", "vec_id").collect()}
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] > 0.999


def test_recommended_band_size_tracks_corpus_scale():
    """The sf3 scale audit's production knob: expected bucket occupancy
    n/2^bits stays at the target as the corpus grows, monotonically,
    within [1, n_bits] (BASELINE.md 'third scale point')."""
    from movie_etl_spark.operators.dedup import recommended_band_size

    # occupancy contract: n / 2^bits <= target (and one fewer bit busts it)
    for n in (2_000, 20_000, 60_000, 10**6, 10**9):
        bits = recommended_band_size(n, n_bits=24, target_bucket=100)
        assert n / 2**bits <= 100
        if bits < 24:
            assert n / 2 ** (bits - 1) > 100 or bits == 1
    # the sf3 reading: 60k near-uniform vectors need 10 bits, not the
    # fixed 6 the oracle-pinned catalog query uses
    assert recommended_band_size(60_000) == 10
    assert recommended_band_size(2_000) == 5
    # monotone in n, capped at n_bits, floored at 1
    sizes = [recommended_band_size(n) for n in (10, 10**3, 10**6, 10**12)]
    assert sizes == sorted(sizes)
    assert recommended_band_size(10**12, n_bits=24) == 24
    assert recommended_band_size(0) == 1 and recommended_band_size(1) == 1


def test_embedding_near_dup_recall_on_clustered_corpus(spark):
    """Measured recall of the banded sign-LSH vs exact all-pairs truth
    at production thresholds, on a constructed clustered corpus (same
    evidence standard as test_lsh_multiprobe_recall_on_clustered_corpus):
    50 clusters x 4 noisy copies in 32 dims, every intra-cluster pair
    comfortably above cosine 0.9, inter-cluster pairs far below. The
    6-bit bands must recover >= 0.9 of the true pairs (measured: 1.0
    on this corpus, seeds 11/13)."""
    import numpy as np

    from movie_etl_spark.operators.dedup import embedding_near_dup_pairs

    centers = np.random.default_rng(11).normal(size=(50, 32))
    noise = np.random.default_rng(13)
    rows, vecs = [], []
    vid = 0
    for c in centers:
        for _ in range(4):
            v = c + 0.08 * noise.normal(size=32)
            rows.append((vid, [float(x) for x in v]))
            vecs.append(v)
            vid += 1
    arr = np.array(vecs)
    norms = np.linalg.norm(arr, axis=1)
    cos = (arr @ arr.T) / np.outer(norms, norms)
    truth = {
        (i, j)
        for i in range(len(arr))
        for j in range(i + 1, len(arr))
        if cos[i, j] >= 0.9
    }
    assert len(truth) >= 250  # the corpus actually contains near-dups

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    found = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, "embedding", "vec_id", cosine_threshold=0.9, band_size=6
        ).collect()
    }
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, recall
    # precision is exact by construction (cosine verified on candidates)
    assert found <= truth

    # the auto (corpus-sized) default narrows bands on a 200-vector
    # corpus (recommended width 1 < 6 → strictly higher recall) and
    # keeps exact precision: same truth set recovered
    auto = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, "embedding", "vec_id", cosine_threshold=0.9
        ).collect()
    }
    assert auto <= truth and len(auto & truth) / len(truth) >= 0.9
    # (no superset assertion vs the 6-bit layout: the two widths hash
    # DIFFERENT dim ranges — width-1 bands read dims 0-3 while 6-bit
    # bands read 0-23 — so neither candidate set contains the other)


def test_auto_band_layout_tracks_corpus_and_dim():
    """The wired form of the sf3 production knob (VERDICT r10 item 3):
    band COUNT stays at the pinned layout's 4, band WIDTH grows with
    log2(n) and is capped so all bands index real dims."""
    from movie_etl_spark.operators.dedup import _auto_band_layout

    # the four scale points: 500 / 2k / 20k / 60k vectors, 64 dims
    assert _auto_band_layout(500, 64) == (4, 3)
    assert _auto_band_layout(2_000, 64) == (4, 5)
    assert _auto_band_layout(20_000, 64) == (4, 8)
    assert _auto_band_layout(60_000, 64) == (4, 10)
    # occupancy contract at the sf3 point: 60k / 2^10 ≈ 59 per bucket
    # (the fixed 6-bit layout reads ~940, right under the 1000 cap)
    assert 60_000 / 2 ** _auto_band_layout(60_000, 64)[1] <= 100
    # a billion-vector corpus saturates at dim // n_bands = 16 bits
    assert _auto_band_layout(10**9, 64) == (4, 16)
    # narrow embeddings cap the width so every band indexes real dims
    n_bands, width = _auto_band_layout(10**9, 8)
    assert n_bands * width <= 8
    # degenerate corpora floor at 1-bit bands
    assert _auto_band_layout(0, 64)[1] == 1
    assert _auto_band_layout(3, 64)[1] == 1


def test_embedding_near_dup_auto_path_degenerate_corpora(spark):
    """The auto (corpus-sized) default must survive the corpora a real
    pipeline feeds it: empty frames (the count/dim aggregate reads
    (0, NULL)), all-NULL vector columns, and embeddings narrower than
    the 24-bit pinned layout assumes — no crash, exact-verify semantics
    preserved."""
    from movie_etl_spark.operators.dedup import embedding_near_dup_pairs

    # empty corpus -> empty output (count=0, dim=NULL falls back)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_near_dup_pairs(empty, "embedding", "vec_id").count() == 0

    # all-NULL vectors -> no pairs (norms are NULL, cosine filter drops)
    nulls = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<double>"
    )
    assert embedding_near_dup_pairs(nulls, "embedding", "vec_id").count() == 0

    # 4-dim embeddings (narrower than n_bits=24): width caps at
    # dim // n_bands = 1, duplicates still found, exact precision holds
    narrow = spark.createDataFrame(
        [
            (0, [1.0, -2.0, 3.0, 0.5]),
            (1, [1.0, -2.0, 3.0, 0.5]),
            (2, [-1.0, 2.0, -3.0, -0.5]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(
            narrow, "embedding", "vec_id", cosine_threshold=0.9
        ).collect()
    }
    assert set(got) == {(0, 1)} and got[(0, 1)] == 1.0

    # dim=0 corpus (zero-LENGTH arrays, not NULL): empty rows are
    # excluded from the dim statistic (r12, ADVICE r11), so an all-empty
    # corpus reads dim=NULL and falls back to n_bits — every row shares
    # one all-'0' degenerate bucket per band, above max_band_freq the
    # cap drops it outright: no candidate blow-up, no pairs (zero norms
    # fail the cosine filter anyway)
    zerodim = spark.createDataFrame(
        [(i, []) for i in range(1200)], "vec_id long, embedding array<double>"
    )
    assert embedding_near_dup_pairs(zerodim, "embedding", "vec_id").count() == 0


def test_embedding_near_dup_auto_sizing_survives_one_malformed_row(spark):
    """ADVICE r11 (medium) regression: the auto layout used to size the
    band width from min(size(_v)), so ONE zero-length vector in a corpus
    of >~2x max_band_freq rows collapsed the width to 1 bit, every 1-bit
    bucket exceeded the cap and was dropped, and the default path
    silently returned ZERO near-dup pairs — a total recall loss caused
    by a single malformed row.  The statistic is now the median width
    over non-empty vectors: the healthy majority sets the layout and the
    planted duplicate pair survives."""
    import numpy as np

    from movie_etl_spark.operators.dedup import embedding_near_dup_pairs

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(2100)]
    dup = rng.standard_normal(16).tolist()
    rows += [(9000, dup), (9001, list(dup)), (9002, [])]  # pair + malformed
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, "embedding", "vec_id", cosine_threshold=0.9
        ).collect()
    }
    # pre-fix this set was empty (reproduced in ADVICE r11); random
    # 16-dim collisions above 0.9 can add a handful of true extras, so
    # pin membership, not equality
    assert (9000, 9001) in pairs


def test_embedding_near_dup_large_corpus_path_matches_broadcast_path(spark, monkeypatch):
    """The verify pipeline picks its join strategy by estimated corpus
    size (r12): small corpora broadcast the band-join build side and
    both verify sides; corpora past _VERIFY_BROADCAST_MAX_BYTES fall
    back to an explicitly-partitioned shuffle join (the 100 TB path —
    the explicit count exempts the exchange from AQE's input-sized
    coalescing, which is blind to the join's fan-out and otherwise
    serializes the cosine stage).  Join strategy must never change the
    result: force the fallback by zeroing the cap and pin set equality
    against the broadcast plan."""
    from movie_etl_spark.operators import dedup

    rows = [
        (i, [float(i % 7 == 0), 1.0, -1.0, float(i % 3), 2.0, -0.5])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run():
        return {
            (r.id_a, r.id_b, r.cosine)
            for r in dedup.embedding_near_dup_pairs(
                df, "embedding", "vec_id", cosine_threshold=0.9, band_size=3
            ).collect()
        }

    small = run()
    monkeypatch.setattr(dedup, "_VERIFY_BROADCAST_MAX_BYTES", 0)
    large = run()
    assert small == large
    assert small  # non-vacuous: the constructed corpus has true dups


def test_winnowed_fingerprints_properties(spark):
    from movie_etl_spark.functions.text import winnowed_fingerprints

    shared = "a very long shared passage that both documents contain verbatim"
    rows = [
        (0, f"prefix one {shared} suffix alpha"),
        (1, f"other beginning {shared} different tail entirely"),
        (2, "totally unrelated content with no reused passages whatsoever"),
        (3, "tiny"),  # shorter than k+window-1: no fingerprints
        (4, f"prefix one {shared} suffix alpha"),  # identical to 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in winnowed_fingerprints(df, "text", "doc_id").collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    # identical docs -> identical fingerprint sets
    assert fps[0] == fps[4]
    # winnowing guarantee: docs sharing a >= k+window-1 substring share
    # at least one selected fingerprint
    assert fps[0] & fps[1]
    # unrelated docs share (almost surely) nothing
    assert not (fps[0] & fps[2])
    # sub-threshold doc selects no fingerprints
    assert 3 not in fps


def test_winnowed_fingerprints_matches_jvm_path(spark):
    """The Arrow-batched gram-hash stage (r10 adjudication: 5x at sf1)
    must reproduce the pinned JVM expression path's output multiset
    EXACTLY — md5 and int64 min are exact arithmetic, so any diff is a
    bug, not tolerance. Covers the real sf0.001 corpus plus adversarial
    edges: NULL, empty, shorter-than-k, exactly one window, one-short
    of a window, and unicode that normalization strips to ASCII."""
    from movie_etl_spark.functions.text import (
        _winnowed_fingerprints_jvm,
        winnowed_fingerprints,
    )
    from movie_etl_spark.session import load_table

    # k=7, window=8 -> first fingerprint at normalized length 14
    edges = spark.createDataFrame(
        [
            (100001, None),
            (100002, ""),
            (100003, "abc"),
            (100004, "exactly14chars"),  # one full window
            (100005, "is13characters"[:13]),  # one short of a window
            (100006, "Ünïcode — 中文 § mixed THEN plain ascii tail here"),
            (100007, "  !!punct--only@@  "),  # normalizes to empty
        ],
        "doc_id long, text string",
    )
    docs = load_table(spark, TESTDATA_SF0001, "documents").select(
        "doc_id", "text"
    )
    for df in (edges, docs):
        arrow = winnowed_fingerprints(df, "text", "doc_id")
        jvm = _winnowed_fingerprints_jvm(df, "text", "doc_id")
        assert arrow.exceptAll(jvm).count() == 0
        assert jvm.exceptAll(arrow).count() == 0


def test_bpe_ish_tokens(spark):
    from movie_etl_spark.functions.text import bpe_ish_tokens

    df = spark.createDataFrame([(1, "The cat's hat, isn't 42!")], "i long, text string")
    toks = df.select(bpe_ish_tokens("text").alias("t")).collect()[0].t
    assert toks == ["The", " cat", "'s", " hat", ",", " isn", "'t", " 42", "!"]


def test_dup_clusters_chain_above_driver_bound_collapses_to_min(spark):
    """Above the driver bound the distributed (star) path runs; a
    40-node chain — the long-diameter case — must still collapse to one
    cluster rooted at the min id 0."""
    from movie_etl_spark.operators.dedup import dup_clusters
    from movie_etl_spark.session import release_caches

    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {
        (r.doc_id, r.cluster_id)
        for r in dup_clusters(
            pairs, nodes, "doc_id", driver_cc_max_edges=5
        ).collect()
    }
    assert got == {(i, 0) for i in range(n)}
    release_caches()


def test_edit_distance_pairs_complete_and_exact(spark):
    """Substitution, insertion, and deletion pairs are all found; the
    ab/ba distance-2 variant collision is rejected by the exact verify;
    no self-pairs; each pair emitted once with left < right."""
    from movie_etl_spark.operators.dedup import edit_distance_pairs

    words = ["cat", "bat", "cart", "ca", "dog", "ab", "ba", "cat"]
    df = spark.createDataFrame([(w,) for w in words], "t string")
    got = {
        (r.left, r.right) for r in edit_distance_pairs(df, "t").collect()
    }
    assert got == {
        ("bat", "cat"),   # substitution
        ("cart", "cat"),  # insertion
        ("ca", "cat"),    # deletion
        ("ba", "bat"),    # insertion
        ("ba", "ca"),     # substitution
    }


def test_edit_distance_pairs_rejects_distance_two_collisions(spark):
    from movie_etl_spark.operators.dedup import edit_distance_pairs

    # ab/ba share deletion variants 'a' and 'b' but levenshtein == 2
    df = spark.createDataFrame([("ab",), ("ba",)], "t string")
    assert edit_distance_pairs(df, "t").count() == 0


def test_edit_distance_pairs_max_len_guard(spark):
    from movie_etl_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [("x" * 100,), ("x" * 99,), ("short",), ("shore",)], "t string"
    )
    got = {
        (r.left, r.right)
        for r in edit_distance_pairs(df, "t", max_len=64).collect()
    }
    # the 99/100-char pair is excluded by the guard; short/shore found
    assert got == {("shore", "short")}


def test_embedding_near_dup_small_corpus_plan_is_all_broadcast(spark):
    """Plan pin for the r12 verify pipeline: on a broadcastable corpus
    every join in embedding_near_dup_pairs must be a BroadcastHashJoin
    — a SortMergeJoin here means either the verify sides regressed to
    shuffling the pair stream (the 8g-ceiling shape) or the band
    self-join fell back to the exchange AQE coalesces by input size,
    blind to its ~500x fan-out (the 2-task serialization shape).
    BASELINE.md "r12: verify pipeline" records both failure modes with
    measurements."""
    from movie_etl_spark.operators.dedup import embedding_near_dup_pairs
    from movie_etl_spark.session import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    df = embedding_near_dup_pairs(
        e, "embedding", "vec_id", cosine_threshold=0.4, band_size=6
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # band join + two verify sides


def test_embedding_near_dup_band_row_bound_forces_shuffle_path(spark, monkeypatch):
    """ADVICE r12: the band self-join's broadcast side is n_vectors x
    n_bands SKINNY rows — dim-independent — so the small_corpus gate
    carries a row bound alongside the vector-byte cap.  A corpus that
    trips only the ROW bound must take the explicitly-partitioned
    shuffle path with identical results (and the plan must not
    broadcast the band relation)."""
    from movie_etl_spark.operators import dedup

    rows = [
        (i, [float(i % 7 == 0), 1.0, -1.0, float(i % 3), 2.0, -0.5])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run():
        return {
            (r.id_a, r.id_b, r.cosine)
            for r in dedup.embedding_near_dup_pairs(
                df, "embedding", "vec_id", cosine_threshold=0.9, band_size=3
            ).collect()
        }

    broadcast = run()
    monkeypatch.setattr(dedup, "_BAND_BROADCAST_MAX_ROWS", 0)
    shuffled = run()
    assert broadcast == shuffled
    assert broadcast  # non-vacuous


def test_embedding_near_dup_pinned_band_size_skips_median(spark, monkeypatch):
    """ADVICE r12: with band_size pinned the sizing agg must not compute
    the median (the auto-layout input) — only count + avg width for the
    broadcast byte estimate.  Pinned by intercepting the agg columns."""
    from movie_etl_spark.operators import dedup

    rows = [(i, [1.0, -1.0, 2.0, 0.5, 1.5, -0.5]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    seen_aliases: list[list[str]] = []
    orig_agg = type(df).agg

    def spy_agg(self, *cols):
        seen_aliases.append([c._jc.toString() for c in cols])
        return orig_agg(self, *cols)

    monkeypatch.setattr(type(df), "agg", spy_agg)
    dedup.embedding_near_dup_pairs(
        df, "embedding", "vec_id", band_size=3
    ).collect()
    pinned_aggs = [a for a in seen_aliases if any("avg_dim" in s for s in a)]
    assert pinned_aggs and all(
        not any("median" in s.lower() for s in a) for a in pinned_aggs
    )
    seen_aliases.clear()
    dedup.embedding_near_dup_pairs(
        df, "embedding", "vec_id", band_size=None
    ).collect()
    auto_aggs = [a for a in seen_aliases if any("avg_dim" in s for s in a)]
    assert auto_aggs and any(
        any("median" in s.lower() for s in a) for a in auto_aggs
    )
