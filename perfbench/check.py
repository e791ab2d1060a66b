"""Output checks for benchmark ops, run outside every timed region.

Catalog ops are compared with the DuckDB oracle of the same query over
the same generated tables, with the canonicalisation the repo's local
correctness gate uses (``tools/selfcheck.py``: ``canon`` and
``frame_digest``), imported rather than copied so both gates agree on
what "equal" means.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

from datagen import TABLES

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_selfcheck():
    path = os.path.join(_REPO, "tools", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("perfbench_selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


frame_digest = _load_selfcheck().frame_digest


def digest(cols: list[str], rows: list[tuple]) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted column names, order-insensitive value hash)."""
    return len(rows), tuple(sorted(cols)), frame_digest(cols, rows)[0]


def golden(data_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """Digest of every named oracle over the tables in ``data_dir``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            out[name] = digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def load_mismatches(
    batch_paths: list[str],
    keys: list[str],
    order_col: str,
    table_dir: str,
    csv_dir: str,
    appended: list[int],
) -> list[str]:
    """Compare one loaded table with a DuckDB distinct-key union of the
    batches offered to it.

    Batch ``i`` offers rows to a table that holds every earlier batch's
    survivors: a key already loaded is never replaced (ON CONFLICT DO
    NOTHING), and inside a batch the row with the lowest ``order_col``
    wins. Checks the final table row for row, the count each append
    returned, and the row count of the CSV export of the final table.
    """
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        keyed = ", ".join(keys)
        offered = " UNION ALL ".join(
            f"SELECT *, {i} AS _batch FROM '{p}'" for i, p in enumerate(batch_paths)
        )
        con.execute(f"CREATE TABLE offered AS {offered}")
        con.execute(
            f"""CREATE TABLE expected AS SELECT * EXCLUDE (_batch, _rk) FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY {keyed} ORDER BY _batch, {order_col}) AS _rk
                  FROM offered) WHERE _rk = 1"""
        )
        cols = ", ".join(f'"{r[0]}"' for r in con.execute("DESCRIBE expected").fetchall())
        try:
            con.execute(
                f"CREATE TABLE actual AS SELECT {cols} FROM read_parquet('{table_dir}/*.parquet')"
            )
            (n_csv,) = con.execute(
                f"SELECT count(*) FROM read_csv('{csv_dir}/*.csv', header = true)"
            ).fetchone()
        except duckdb.Error as exc:
            return [f"loaded table or export unreadable: {exc}"[:300]]
        problems = []
        for a, b in (("expected", "actual"), ("actual", "expected")):
            (n,) = con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})"
            ).fetchone()
            if n:
                problems.append(f"{n} rows in {a} but not in {b}")
        first = dict(con.execute(
            f"SELECT b, count(*) FROM (SELECT min(_batch) AS b FROM offered GROUP BY {keyed}) "
            "GROUP BY b"
        ).fetchall())
        want = [first.get(i, 0) for i in range(len(batch_paths))]
        if appended != want:
            problems.append(f"append counts {appended} != expected {want}")
        (n_exp,) = con.execute("SELECT count(*) FROM expected").fetchone()
        if n_csv != n_exp:
            problems.append(f"CSV export has {n_csv} rows, expected {n_exp}")
        return problems
    finally:
        con.close()
