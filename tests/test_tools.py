"""Unit tests for the evidence tooling (no Spark session needed).

The r8/r9 ADVICE findings were all in tools/ — stale-file re-reads,
silent partial merges, a canonicalizer replica laxer than the gate it
mirrors. These pin the fixed behaviors as plain-python tests so a
regression fails in seconds, not at the next driver round.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir, "tools")
)

from selfcheck import canon, driver_canon_probe, frame_digest  # noqa: E402


def test_driver_canon_probe_rejects_list_column():
    """The r8 red row's failure mode: a top-level list value must raise
    locally exactly like the driver's factorize-hashing canonicalizer."""
    with pytest.raises(TypeError):
        driver_canon_probe(["a", "regs"], [(1, [1, 2]), (2, [3])])


def test_driver_canon_probe_rejects_single_list_column():
    """Single-column results too: pandas sort_values falls back to
    comparison sort for one key (no hashing), so the probe must be
    stricter than a literal sort replica (r9 self-review finding)."""
    with pytest.raises(TypeError):
        driver_canon_probe(["regs"], [([1, 2],), ([3],)])


def test_driver_canon_probe_accepts_atomic_columns():
    """Spark-typed outputs: each column holds one type (plus NULLs) —
    the probe must pass these, including the single-column case."""
    driver_canon_probe(
        ["a", "b", "c"],
        [(1, "x", None), (2, None, 3.5), (None, "y", 1.0)],
    )
    driver_canon_probe(["a"], [(b"zz",), (b"aa",), (None,)])


def test_driver_canon_probe_rejects_mixed_type_column():
    """The driver's single-column path is a comparison sort: mixed
    Python types raise there even though they hash fine — the probe
    must stay at least as strict (r9 second-review finding)."""
    with pytest.raises(TypeError):
        driver_canon_probe(["a"], [(1,), ("x",)])


def test_canon_is_stable_for_float_int_equivalence():
    assert canon(3.0) == canon(3)
    assert canon(None) == "NULL"
    assert canon([1, None]) == "[1,NULL]"


def test_frame_digest_is_column_order_insensitive():
    h1, _ = frame_digest(["a", "b"], [(1, "x"), (2, "y")])
    h2, _ = frame_digest(["b", "a"], [("x", 1), ("y", 2)])
    assert h1 == h2


def test_frame_digest_is_row_order_insensitive():
    h1, _ = frame_digest(["a"], [(1,), (2,)])
    h2, _ = frame_digest(["a"], [(2,), (1,)])
    assert h1 == h2


def test_scale_up_cipher_maps_are_bijective_distinct_and_sf1_compatible():
    """The scale instrument's disjoint-replica contract, pinned.

    The original rotation keying wrapped at ``i % 26``: replica 26
    reused replica 0's letter map, so a factor-30 build gave every
    document a cross-replica near-dup twin — a silent artifact in any
    dedup-family scale reading. The affine keying must (a) stay a
    bijection per replica (the length/gram-collision-preserving
    property every reading relies on), (b) be pairwise distinct across
    the supported factor range, and (c) reproduce the historic
    rotations for replicas 0..9 so the recorded sf1 evidence still
    describes a regenerable instrument.
    """
    from scale_up import MAX_FACTOR, _affine_alphabet, _digit_cipher

    lower = "abcdefghijklmnopqrstuvwxyz"
    digit = "0123456789"
    letter_as = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    digit_as = (1, 3, 7, 9)
    maps = []
    for i in range(MAX_FACTOR):
        lmap = _affine_alphabet(lower, letter_as, i)
        dmap = _digit_cipher(digit, digit_as, i)
        assert sorted(lmap) == sorted(lower)  # bijection
        assert sorted(dmap) == sorted(digit)
        maps.append((lmap, dmap))
    # replica 0 is the identity (byte-identical round trip)
    assert maps[0] == (lower, digit)
    # sf1 compatibility: replicas 0..9 are the historic pure rotations
    for i in range(10):
        assert maps[i][0] == lower[i:] + lower[:i]
        assert maps[i][1] == digit[i:] + digit[:i]
    # sf3 compatibility: every replica < 40 keeps the pure affine digit
    # map (block 0 = identity transposition), so the recorded sf3
    # instrument regenerates byte-identical after the factor-100
    # extension (r13)
    for i in range(40):
        assert maps[i][1] == _affine_alphabet(digit, digit_as, i)
    # pairwise distinct across the whole supported range — the letter
    # map alone must already distinguish replicas (vocabulary is
    # letter-dominated); replica 26 vs 0 is the regression that started
    # this, and the digit maps past 40 (the affine group mod 10 is
    # exhausted there) rely on the non-affine-coset composition
    letter_maps = [m[0] for m in maps]
    assert len(set(letter_maps)) == MAX_FACTOR
    assert len({m[1] for m in maps}) == MAX_FACTOR
    assert letter_maps[26] != letter_maps[0]


def test_bench_lossless_target_failed_run_writes_sidecar():
    """VERDICT r12 item #3: a bench run with errors must never
    overwrite the last good lossless record — it owns only the
    .err.json sidecar; happy-path targets are unchanged."""
    import bench

    # happy paths (unchanged contract)
    assert bench.lossless_target(False, "/root/testdata/sf0.1", False) == (
        "BENCH_LOCAL.json"
    )
    assert bench.lossless_target(False, "/tmp/sf3", False) == (
        "BENCH_SF3.0.json"
    )
    assert bench.lossless_target(True, "/root/testdata/sf0.1", False) == (
        "BENCH_SUBSET.json"
    )
    # failed runs divert to the sidecar at every scale/subset shape
    assert bench.lossless_target(False, "/root/testdata/sf0.1", True) == (
        "BENCH_LOCAL.err.json"
    )
    assert bench.lossless_target(False, "/tmp/sf3", True) == (
        "BENCH_SF3.0.err.json"
    )
    assert bench.lossless_target(True, "/root/testdata/sf0.1", True) == (
        "BENCH_SUBSET.err.json"
    )


def test_bench_host_window_steal_and_busy_attribution():
    """r15: bench.py samples /proc/stat across the run; steal/busy must
    be computed from the deltas, and a missing sample yields {} (never a
    crash mid-bench)."""
    import bench

    # user nice system idle iowait irq softirq steal guest guest_nice:
    # guest fields are folded into user/nice by the kernel, so they are
    # EXCLUDED from the total (ADVICE r15 — else nested-guest hosts
    # deflate every percentage); busy excludes steal (time the host ran
    # someone else is not this guest's work)
    before = [100, 0, 50, 800, 20, 0, 0, 30, 500, 0]
    after = [300, 0, 100, 1200, 40, 0, 0, 60, 900, 0]
    w = bench.host_window(before, after)
    # deltas [200,0,50,400,20,0,0,30]: total=700 (first 8 fields only),
    # idle+iowait=420, steal=30, busy=700-420-30=250
    assert w == {"steal_pct": round(100 * 30 / 700, 2),
                 "busy_pct": round(100 * 250 / 700, 2)}
    assert bench.host_window(None, after) == {}
    assert bench.host_window(before, None) == {}
    # live sample parses
    assert bench._proc_stat() is None or len(bench._proc_stat()) >= 8


def test_bench_contention_stamp():
    """VERDICT r15 item #5: the official artifact must carry its own
    contended/quiet adjudication — >=1% hypervisor steal over the run
    window stamps contended:true with the reason named."""
    import bench

    assert bench.contention({"steal_pct": 0.15}) == {"contended": False}
    out = bench.contention({"steal_pct": 5.46, "busy_pct": 80.0})
    assert out == {
        "contended": True,
        "contended_reasons": ["steal_pct 5.46 >= 1.0"],
    }
    # the threshold itself is contended
    assert bench.contention({"steal_pct": 1.0})["contended"] is True
    # missing host sample -> explicit quiet verdict, never a crash
    assert bench.contention({}) == {"contended": False}


def test_ab_runner_summarize_counts_pairs_and_applies_the_gain_rule():
    """Ten alternating pairs: s1 is won by new in 9 and tied in 1; o1
    failed in pair 3's new pass (left out of that pair's count) and
    old wins pair 5; the totals of pair 3 are null. Medians and
    quartiles are the inclusive-method quartiles of each side."""
    from ab_runner import summarize

    s1_old = [1.0, 1.1, 1.2, 1.3, 1.4, 1.5, 1.6, 1.7, 1.8, 1.9]
    s1_new = [0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 1.9]
    o1_old = [0.3] * 10
    o1_new = [0.2, 0.2, 0.2, None, 0.2, 0.4, 0.2, 0.2, 0.2, 0.2]
    passes = []
    for i in range(10):
        for side, s1, o1 in (("old", s1_old, o1_old), ("new", s1_new, o1_new)):
            queries = {"s1": s1[i]}
            if o1[i] is not None:
                queries["o1"] = o1[i]
            total = None if o1[i] is None else round(s1[i] + o1[i], 2)
            passes.append(
                {"side": side, "i": i, "total": total, "queries": queries}
            )
    out = summarize(passes)

    s1 = out["queries"]["s1"]
    assert (s1["pairs"], s1["new_wins"], s1["old_wins"], s1["ties"]) == (
        10, 9, 0, 1
    )
    assert s1["old"] == pytest.approx({"median": 1.45, "q1": 1.225, "q3": 1.675})
    assert s1["new"] == pytest.approx({"median": 0.725, "q1": 0.6125, "q3": 0.8375})
    # 9 of 10 won and a 0.725 s median gap against old's 0.45 s IQR
    assert s1["gain"] is True

    o1 = out["queries"]["o1"]
    assert (o1["pairs"], o1["new_wins"], o1["old_wins"], o1["ties"]) == (
        9, 8, 1, 0
    )
    assert o1["old"] == pytest.approx({"median": 0.3, "q1": 0.3, "q3": 0.3})
    assert o1["new"] == pytest.approx({"median": 0.2, "q1": 0.2, "q3": 0.2})
    # 8 of 9 is below nine tenths, and 9 pairs are fewer than ten
    assert o1["gain"] is False

    total = out["total"]
    assert (total["pairs"], total["new_wins"], total["old_wins"]) == (9, 9, 0)
    assert total["gain"] is False  # only 9 pairs counted


def test_close_run_timeout_is_a_fail_row_not_a_crash():
    """r15: the sf1 selfcheck blew close.py's old 3600 s subprocess cap
    and crashed the whole gate; a timeout must come back as a failing
    returncode with a TIMEOUT message instead."""
    import close

    rc, text = close._run(["sleep", "5"], timeout=1)
    assert rc == 124 and "TIMEOUT" in text


def test_ledger_commit_artifacts_in_scratch_repo(tmp_path):
    """r15 (VERDICT r14 item #2): --commit-artifacts commits dirty driver
    artifacts with the round-open message and is a no-op on a clean
    tree."""
    import subprocess

    from ledger import commit_artifacts

    repo = str(tmp_path)
    run = lambda *a: subprocess.run(  # noqa: E731
        a, cwd=repo, check=True, capture_output=True, text=True
    )
    run("git", "init", "-q")
    run("git", "config", "user.email", "t@t")
    run("git", "config", "user.name", "t")
    (tmp_path / "CORRECTNESS_r14.json").write_text("{}")
    (tmp_path / "BENCH_r14.json").write_text("{}")
    (tmp_path / "unrelated.py").write_text("x = 1\n")
    assert commit_artifacts(repo) == 0
    log = run("git", "log", "--oneline").stdout
    # label = OPENING round, artifact round named explicitly (ADVICE r15)
    assert "r15 open: commit r14 driver artifacts" in log
    status = run("git", "status", "--porcelain").stdout
    # the artifacts are committed; unrelated files stay untracked
    assert "CORRECTNESS" not in status and "unrelated.py" in status
    # second invocation: clean no-op, no second commit
    assert commit_artifacts(repo) == 0
    assert run("git", "log", "--oneline").stdout == log


def test_sf_from_dir_requires_leading_digit():
    """ADVICE r17: 'sf' followed by a bare '.' (e.g. /data/sf.cache)
    used to match and crash float('.') at import time; a dotted name
    like sf1.2.3 is likewise not a scale."""
    import bench

    assert bench.sf_from_dir("/data/sf.cache") == -1.0
    assert bench.sf_from_dir("/data/sf1.2.3") == -1.0
    assert bench.sf_from_dir("/no/match/at/all") == -1.0
    assert bench.sf_from_dir("/root/testdata/sf0.01") == 0.01
    assert bench.sf_from_dir("/root/testdata/sf10") == 10.0
