"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a scale factor and
compares it with the matching ``oracle_sql()`` in DuckDB:

- row count
- schema (sorted column names)
- order-insensitive value hash (columns sorted by name, rows sorted by
  their canonical string form, values canonicalized: floats rounded,
  dates/timestamps ISO-formatted, arrays JSON-ish)

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_digest(cols: list[str], rows: list[tuple]) -> tuple[str, list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return h, lines


def driver_canon_probe(cols: list[str], rows: list[tuple]) -> None:
    """Reproduce the DRIVER canonicalizer's failure mode: the real gate
    loads each result into pandas and calls ``sort_values`` over every
    column, whose MULTI-column path factorize-hashes object columns — a
    top-level list/dict value raises ``TypeError: unhashable type``
    there (how r8's hll1_mergeable_sketch reached its first driver
    exposure red while this replica's own canon() happily stringified
    the list for four scales). Two complementary checks, because the
    driver's two sort paths fail differently:

    - ``pd.factorize`` per column forces the multi-column hashing path
      even for single-column results (where sort_values would fall back
      to comparison sort) — strictly wider than the driver;
    - the literal ``sort_values`` replica catches what hashing cannot:
      a single-column comparison sort over mixed-type objects raises
      ``'<' not supported`` while factorize happily hashes them.

    Raises (TypeError) on any value the driver's canonicalizer would
    choke on."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=cols)
    for c in pdf.columns:
        pd.factorize(pdf[c])  # TypeError on unhashable values
    pdf.sort_values(by=sorted(cols))  # the driver's literal sort


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from movie_etl_spark.session import get_spark, release_caches

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # Spark-written dir (e.g. tools/scale_up.py)
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    outcomes: dict[str, dict] = {}

    def rec(qname: str, row: dict) -> None:
        # record + merge-to-disk immediately (timeout-safe sweeps)
        outcomes[qname] = row
        _merge_record(sf_dir, {qname: row})
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            rec(name, {"hash_match": False, "err": str(e)[:200]})
            n_fail += 1
            continue
        finally:
            # release persisted inverted-index caches on BOTH paths — a
            # failed query must not leave its index pinned in executor
            # storage for the rest of the session
            release_caches()
        if name not in oracles:
            print(f"rows  {name}: {len(rows)} rows (rows-only check) [{time.time()-t0:.1f}s]")
            rec(name, {"hash_match": False, "err": "no_oracle",
                              "spark_rows": len(rows)})
            n_rows_only += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {str(e)[:300]}")
            rec(name, {"hash_match": False, "err": str(e)[:200]})
            n_fail += 1
            continue
        problems = []
        for side, c, r in (("spark", cols, rows), ("oracle", ocols, orows)):
            try:
                driver_canon_probe(c, r)
            except Exception as e:
                problems.append(
                    f"driver-canonicalizer probe ({side}): {str(e)[:150]}"
                )
        if len(rows) != len(orows):
            problems.append(f"rowcount spark={len(rows)} oracle={len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"schema spark={sorted(cols)} oracle={sorted(ocols)}")
        if not problems:
            h1, l1 = frame_digest(cols, rows)
            h2, l2 = frame_digest(ocols, orows)
            if h1 != h2:
                diff = next(
                    (i for i, (a, b) in enumerate(zip(l1, l2)) if a != b), None
                )
                detail = ""
                if diff is not None:
                    detail = f" first-diff row {diff}:\n  spark : {l1[diff][:220]}\n  oracle: {l2[diff][:220]}"
                problems.append(f"value-hash mismatch{detail}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            rec(name, {"hash_match": False, "err": problems[0][:200]})
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(rows)} rows [{time.time()-t0:.1f}s]")
            rec(name, {"hash_match": True, "spark_rows": len(rows),
                              "sf_dir": sf_dir})
            n_pass += 1
    _merge_record(sf_dir, outcomes)
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ==")
    return 1 if n_fail else 0


def _merge_record(sf_dir: str, outcomes: dict[str, dict]) -> None:
    """Persist the local gate's outcomes (MERGE semantics: a partial run
    must not erase other queries' records). Records are keyed by
    (query, scale label) — the r7 verdict found a flat per-query merge
    let an sf0.01 run overwrite the sf0.1 evidence, making the
    "green at both scales" claim unverifiable from the artifact.
    Format: {query: {"sf0.01": {...}, "sf0.1": {...}}}.  This is the
    machine-checkable artifact test_plans' rotation-policy test accepts
    for queries parked below the driver's 50-slot window.  Called after
    EVERY query (atomic rename), so a timed-out sweep keeps the rows it
    completed."""
    import fcntl
    import json as _json

    sf_label = os.path.basename(os.path.normpath(sf_dir)) or sf_dir
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    record_path = os.path.join(repo_root, "SELFCHECK.json")
    # flock serializes the read-modify-write: concurrent sweeps at two
    # scales (the workflow the nested sf-label format exists for) would
    # otherwise drop each other's records despite the atomic rename
    with open(record_path + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        record = {}
        if os.path.exists(record_path):
            with open(record_path) as f:
                record = _json.load(f)
        for qname, row in outcomes.items():
            prev = record.get(qname)
            if not isinstance(prev, dict) or (prev and "hash_match" in prev):
                prev = {}  # drop pre-r8 flat-format rows: scale unknown
            prev[sf_label] = row
            record[qname] = prev
        tmp = record_path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(record, f, indent=1, sort_keys=True)
        os.replace(tmp, record_path)


if __name__ == "__main__":
    sys.exit(main())
