"""Per-round benchmark harness (driver contract).

Runs every catalog query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "catalog_total_wall", "value": <sec>, "unit": "sec",
     "queries": {"<name>": <sec>, ...}, "sf": 0.1}

Each query executes end-to-end through the noop sink (full plan runs,
nothing collected to the driver: we time the execution, not a
driver-side materialization).

Output-size contract (r6 lesson): the driver captures only the TAIL of
stdout, and BENCH_r06.json lost its first ~20 per-query timings to that
window ("parsed": null). The line is therefore emitted maximally
compact — ``separators=(",", ":")`` and 2-decimal times — and the full
3-decimal dict is also written to ``BENCH_LOCAL.json`` in-repo so the
builder always has the lossless record.

Failure contract: if any query errors, ``value`` is null (plus
``n_failed``/``errors`` fields) — a partial sum must never read as a
round-over-round speedup (ADVICE r6).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from movie_etl_spark.plans.catalog import QUERIES  # noqa: E402
from movie_etl_spark.session import get_spark, release_caches  # noqa: E402

#: the default dataset — the ONE spelling the default-sf string
#: comparison in lossless_target keys off
DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# normpath: a trailing slash in the env var must not defeat the
# default-sf string comparison in lossless_target
SF_DIR = os.path.normpath(os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR))


def sf_from_dir(path: str) -> float:
    # leading digit required (ADVICE r17: 'sf.cache' used to match a
    # bare '.' and crash float() at import); a dotted dir name like
    # 'sf1.2.3' is likewise not a scale — fall back to the no-match -1.0
    m = re.search(r"sf(\d[\d.]*)", path)
    if not m:
        return -1.0
    try:
        return float(m.group(1))
    except ValueError:
        return -1.0


def lossless_target(selected: bool, sf_dir: str, failed: bool) -> str:
    """Name of the lossless record this run may write.

    Full-catalog runs at the default sf own BENCH_LOCAL.json; subset
    runs and alternate-scale runs own their respective files and must
    not clobber it.  Failed-run safety (VERDICT r12 item #3): a run
    with errors writes its value-null record to a SIDECAR
    (<name>.err.json) and leaves the last good record untouched — an
    errored sf3 sweep used to clobber the committed BENCH_SF3.0.json
    until git restore.
    """
    if selected:
        local = "BENCH_SUBSET.json"
    elif sf_dir != DEFAULT_SF_DIR:
        local = f"BENCH_SF{sf_from_dir(sf_dir)}.json"
    else:
        local = "BENCH_LOCAL.json"
    if failed:
        local = local[: -len(".json")] + ".err.json"
    return local


def _proc_stat() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return list(map(int, f.readline().split()[1:]))
    except (OSError, ValueError):
        return None


def host_window(before: list[int] | None, after: list[int] | None) -> dict:
    """Steal/busy attribution for the run window (r15).

    Three rounds of sf1 refreshes read 283–342 s against r12's 251.1 on
    byte-identical plans with solo A/Bs flat — and each adjudication had
    to infer contention from sentinel queries because nothing recorded
    the HOST over the window.  Each bench run now samples /proc/stat at
    start and end: ``steal_pct`` is the hypervisor neighbor signal
    (bursty — an idle-time probe misses it), ``busy_pct`` is this
    guest's own non-idle share (mostly this run's Spark load at
    local[32]); steal is EXCLUDED from busy — it is time the guest was
    runnable but the host ran someone else (ADVICE r15).

    The total is the first 8 fields only (user nice system idle iowait
    irq softirq steal): Linux folds guest/guest_nice into user/nice
    already, so summing all 10 double-counts nested-guest time and
    deflates every percentage (ADVICE r15).
    """
    if not before or not after:
        return {}
    d = [y - x for x, y in zip(before, after)]
    total = sum(d[:8]) or 1
    idle = d[3] + (d[4] if len(d) > 4 else 0)  # idle + iowait
    steal = d[7] if len(d) > 7 else 0
    return {
        "steal_pct": round(100.0 * steal / total, 2),
        "busy_pct": round(100.0 * (total - idle - steal) / total, 2),
    }


#: contended-run stamp (VERDICT r15 item #5). BENCH_r15.json carried
#: steal_pct 5.46 yet nothing in-file marked the 248.9 s wall as a
#: steal-burst, so a reader of the artifact alone could mistake it for
#: a regression. A run is stamped ``"contended": true`` when hypervisor
#: steal over the window is >= 1% (the r15 quiet close pairs measured
#: 0.13–0.18%; the contended official run 5.46%). The stamp only
#: ATTRIBUTES; it never waives an A/B comparison.
STEAL_CONTENDED_PCT = 1.0


def contention(host: dict) -> dict:
    """``{"contended": bool, "contended_reasons": [...]}`` for the run."""
    steal = host.get("steal_pct")
    if steal is not None and steal >= STEAL_CONTENDED_PCT:
        return {
            "contended": True,
            "contended_reasons": [f"steal_pct {steal} >= {STEAL_CONTENDED_PCT}"],
        }
    return {"contended": False}


def main() -> None:
    stat0 = _proc_stat()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footer caches so per-query times measure the
    # plans, not first-touch JIT
    QUERIES["o1_top_k"].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    # per-query isolation: one broken query must not zero the whole
    # round's perf signal (r5 lesson: a single streaming failure crashed
    # the run and left BENCH_r05.json with rc=1 and no timing data)
    # optional argv subset (e.g. the sf1 scale-curve run benches only
    # the 10 heaviest queries); default = full catalog
    selected = set(sys.argv[1:])
    to_run = {
        n: q for n, q in QUERIES.items() if not selected or n in selected
    }
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, qd in to_run.items():
        t0 = time.perf_counter()
        try:
            qd.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            times[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — record and keep benching
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            # dedup queries persist their inverted index for the
            # multi-join plan; release it so ~90 queries in one session
            # don't accumulate executor storage (cache lifetime is
            # caller-owned by contract)
            release_caches()

    host = host_window(stat0, _proc_stat())
    out = {
        "metric": "catalog_total_wall",
        "value": None if errors else round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf_from_dir(SF_DIR),
        **host,
        **contention(host),
    }
    if errors:
        out["n_failed"] = len(errors)
        out["errors"] = errors
    local = lossless_target(bool(selected), SF_DIR, bool(errors))
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           local), "w") as f:
        json.dump(out, f, indent=1)
    # stdout line stays inside the driver's tail-capture window: compact
    # separators, 2-decimal times, and query keys shortened to their
    # unique id prefix ("dd3_minhash_near_dups" -> "dd3"; full names
    # live in BENCH_LOCAL.json) — ~4x smaller than the r6 line
    short = {k.split("_", 1)[0]: k for k in times}
    if len(short) == len(times):  # prefixes are unique ids by convention
        q_out = {s: round(times[k], 2) for s, k in short.items()}
    else:  # collision safety net: fall back to full names
        q_out = {k: round(v, 2) for k, v in times.items()}
    compact = dict(out, queries=q_out)
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
