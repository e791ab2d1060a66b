"""The benchmark's workloads: which ops a pass runs, and their inputs.

Both workloads run at scale factor 0.1 on tables drawn by
:mod:`datagen` from the run's seed. A catalog op is one catalog query,
built by its catalog function and collected. A load op is one seeded
batch of orders and lineitems pushed through the idempotent parquet
sink.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1


@dataclass(frozen=True)
class Workload:
    name: str
    #: catalog queries of a pass, in order; empty for the load workload
    queries: tuple[str, ...] = ()


#: Catalog queries, run in this order in every pass. The first five
#: start no job of their own beyond load_table's reads, so per-query
#: fixed costs dominate them: schema inference, Catalyst planning, job
#: launch and, for f9, Python worker start-up. The last three run eager
#: jobs on the driver while they build: a BSP graph loop (gr3), a
#: Python-stateful streaming query's lifecycle over staged events (st3),
#: and bucketing writes on a thread pool (b1). Results are small (at
#: most gr3's 21k rows), so collecting them costs little next to
#: computing them. The order is fixed because in a fresh JVM a query's
#: latency also depends on the JIT warm-up the queries before it left;
#: with the short queries first, their median is steadier than behind
#: the driver-side queries, whose JIT compilation outlasts them.
CATALOG = Workload(
    "catalog_sf0.1",
    (
        "j3_broadcast_dim_join", "a1_pricing_summary", "f10_json_props",
        "f9_html_extract", "dq1_quality_checks",
        "gr3_bfs_distances", "st3_stateful_counts", "b1_bucketed_join",
    ),
)

LOAD = Workload("load_sf0.1")

WORKLOADS = {w.name: w for w in (CATALOG, LOAD)}

# ---- load batches -------------------------------------------------------

#: (table, key columns) loaded per batch, in load order
LOAD_TABLES = (("orders", ("o_orderkey",)), ("lineitem", ("l_orderkey", "l_linenumber")))
ORDER_COL = "_seq"
N_BATCHES = 6
ORDERS_PER_BATCH = 10_000
REDELIVERED_SHARE = 0.2
DUPLICATE_SHARE = 0.05
COMPACT_EVERY = 3


def make_batches(data_dir: str, out_dir: str, seed: int) -> list[dict[str, str]]:
    """Write ``N_BATCHES`` seeded batches of orders and their lineitems.

    Each batch offers fresh orders, a ``REDELIVERED_SHARE`` of orders an
    earlier batch already offered (with a changed price, so a load that
    lets a redelivery win is caught) with their lineitems, and a
    ``DUPLICATE_SHARE`` of rows repeated inside the batch. ``_seq``
    numbers every offered row uniquely, so the in-batch survivor of a
    key (the lowest ``_seq``) is well defined. Lines are renumbered
    1..k within each order, as in TPC-H, so ``(l_orderkey,
    l_linenumber)`` is unique and the only conflicts a load meets are
    the redeliveries and in-batch duplicates above.
    Returns, per batch, the parquet path of each table.
    """
    rng = np.random.default_rng([seed, 1])
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
    lineitem = pq.read_table(os.path.join(data_dir, "lineitem.parquet"))
    li_orderkey = lineitem.column("l_orderkey").to_numpy()
    lineitem = lineitem.set_column(
        lineitem.schema.get_field_index("l_linenumber"), "l_linenumber",
        pa.array(_line_numbers(li_orderkey)),
    )
    price_at = orders.schema.get_field_index("o_totalprice")
    n_again = int(ORDERS_PER_BATCH * REDELIVERED_SHARE)
    n_fresh = ORDERS_PER_BATCH - n_again
    # generated orders have o_orderkey == row index
    order_keys = rng.permutation(orders.num_rows)
    seq = 0
    batches = []
    for b in range(N_BATCHES):
        fresh = order_keys[b * n_fresh:(b + 1) * n_fresh]
        again = rng.choice(order_keys[:b * n_fresh], n_again, replace=False) if b else []
        keys = np.concatenate([fresh, again]).astype(np.int64)
        o = orders.take(pa.array(keys))
        price = o.column(price_at).to_numpy().copy()
        price[len(fresh):] += 1.0
        o = o.set_column(price_at, "o_totalprice", pa.array(price))
        li = lineitem.filter(pa.array(np.isin(li_orderkey, keys)))
        paths = {}
        for table, rows in (("orders", o), ("lineitem", li)):
            dup = rng.choice(rows.num_rows, int(rows.num_rows * DUPLICATE_SHARE), replace=False)
            rows = pa.concat_tables([rows, rows.take(pa.array(np.sort(dup)))])
            rows = rows.take(pa.array(rng.permutation(rows.num_rows)))
            rows = rows.append_column(
                ORDER_COL, pa.array(np.arange(seq, seq + rows.num_rows, dtype=np.int64))
            )
            seq += rows.num_rows
            paths[table] = os.path.join(out_dir, f"batch{b}", f"{table}.parquet")
            os.makedirs(os.path.dirname(paths[table]), exist_ok=True)
            pq.write_table(rows, paths[table])
        batches.append(paths)
    return batches


def _line_numbers(orderkey: np.ndarray) -> np.ndarray:
    """1..k for the k rows of each order, in row order."""
    order = np.argsort(orderkey, kind="stable")
    ranked = orderkey[order]
    starts = np.flatnonzero(np.r_[True, ranked[1:] != ranked[:-1]])
    sizes = np.diff(np.r_[starts, len(ranked)])
    out = np.empty(len(orderkey), np.int32)
    out[order] = np.arange(len(ranked)) - np.repeat(starts, sizes) + 1
    return out


def batch_rows(batches: list[dict[str, str]], table: str) -> int:
    return sum(pq.ParquetFile(b[table]).metadata.num_rows for b in batches)


def batch_bytes(batches: list[dict[str, str]]) -> int:
    return sum(os.path.getsize(p) for b in batches for p in b.values())
