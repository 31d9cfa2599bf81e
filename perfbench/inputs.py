"""Seeded input generators for the benchmark workloads.

The tables the engine reads are made here from ``(seed, sf)``: a
TPC-H-shaped ``orders``/``lineitem`` pair (the shape the engine's flow
queries are written against) and a bronze revision log derived from
``lineitem`` with per-tick deltas. The same seed and scale give
byte-identical parquet files.

Scale follows TPC-H: ``sf=0.1`` is 150k orders and about 600k line
items (1 to 7 lines per order).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORGS = 8
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
EPOCH = np.datetime64("1992-01-01", "us")
DAY_US = 86_400_000_000
# bronze ``updated`` stamps: the base history lands at BASE_UPDATED and
# tick i's delta at BASE_UPDATED + i minutes
BASE_UPDATED = datetime(2024, 1, 1)


def tick_stamp(i: int) -> datetime:
    return BASE_UPDATED + timedelta(minutes=i)


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n).astype("timedelta64[D]")


def make_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write ``orders.parquet`` and ``lineitem.parquet`` under
    ``out_dir`` in the schema the engine's table loader reads. Returns
    row counts."""
    rng = np.random.default_rng([seed, 1])
    n_orders = max(64, int(round(1_500_000 * sf)))
    okey = np.arange(n_orders, dtype=np.int64)
    odate = EPOCH + _days(rng, 0, 3650, n_orders)
    orders = pa.table(
        {
            "o_orderkey": okey,
            "o_custkey": rng.integers(0, max(100, n_orders // 10), n_orders),
            "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n_orders),
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    lkey = np.repeat(okey, lines)
    n = len(lkey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    ship = np.repeat(odate, lines) + _days(rng, 1, 122, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": lkey,
            "l_partkey": rng.integers(0, max(100, n_orders // 8), n),
            "l_suppkey": rng.integers(0, max(10, n_orders // 150), n),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": rng.choice(np.array(["N", "A", "R"]), n),
            "l_linestatus": rng.choice(np.array(["O", "F"]), n),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    lineitem = lineitem.take(rng.permutation(n))
    write_table(orders, os.path.join(out_dir, "orders.parquet"))
    write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))
    return {"orders": n_orders, "lineitem": n}


def revisions_of_lineitem(li: pa.Table) -> dict[str, np.ndarray]:
    """The lineitem -> revision mapping the engine's end-to-end pipeline
    uses: one revision per line item, keyed by order, zone from the
    return flag, ``org_id = orderkey % 8``."""
    okey = li.column("l_orderkey").to_numpy()
    flag = li.column("l_returnflag").to_numpy(zero_copy_only=False)
    zone = np.where(flag == "N", 1, np.where(flag == "A", 2, 3)).astype(np.int32)
    return {
        "work_item_id": okey.astype(str).astype(object),
        "revision": (li.column("l_linenumber").to_numpy() * 4 + zone).astype(np.int32),
        "changed_date": li.column("l_shipdate").to_numpy(),
        "zone": zone,
        "org_id": (okey % N_ORGS).astype(str).astype(object),
        "okey": okey,
    }


def make_bronze(
    seed: int, lineitem_path: str, out_path: str, n_ticks: int,
    delta_share: float = 0.01,
) -> list[str]:
    """Bronze revision log for the flow ticks: the base history
    (``updated = BASE_UPDATED``) plus ``n_ticks`` deltas. Delta i picks
    a seed-chosen org and gives about ``delta_share`` of its items one
    new revision stamped ``updated = tick_stamp(i)``, moving the item
    back to zone 2 (in progress) one day after its last change. Returns
    the org of each tick."""
    rng = np.random.default_rng([seed, 2])
    rev = revisions_of_lineitem(pq.read_table(lineitem_path))
    n = len(rev["okey"])
    cols = {k: [v] for k, v in rev.items() if k != "okey"}
    cols["updated"] = [np.full(n, np.datetime64(BASE_UPDATED, "us"))]

    items = np.unique(rev["okey"])
    max_rev = np.zeros(items.max() + 1, np.int32)
    np.maximum.at(max_rev, rev["okey"], rev["revision"])
    max_date = np.full(items.max() + 1, EPOCH)
    np.maximum.at(max_date, rev["okey"], rev["changed_date"])

    orgs = []
    for i in range(1, n_ticks + 1):
        org = int(rng.integers(0, N_ORGS))
        orgs.append(str(org))
        pool = items[items % N_ORGS == org]
        k = max(1, int(round(len(pool) * delta_share)))
        picked = np.sort(rng.choice(pool, k, replace=False))
        max_rev[picked] += 1
        max_date[picked] = max_date[picked] + np.timedelta64(DAY_US, "us")
        cols["work_item_id"].append(picked.astype(str).astype(object))
        cols["revision"].append(max_rev[picked].copy())
        cols["changed_date"].append(max_date[picked].copy())
        cols["zone"].append(np.full(k, 2, np.int32))
        cols["org_id"].append(np.full(k, str(org), object))
        cols["updated"].append(
            np.full(k, np.datetime64(tick_stamp(i), "us"))
        )
    table = pa.table(
        {
            "work_item_id": pa.array(np.concatenate(cols["work_item_id"]), pa.string()),
            "revision": pa.array(np.concatenate(cols["revision"]), pa.int32()),
            "changed_date": pa.array(np.concatenate(cols["changed_date"]), pa.timestamp("us")),
            "zone": pa.array(np.concatenate(cols["zone"]), pa.int32()),
            "org_id": pa.array(np.concatenate(cols["org_id"]), pa.string()),
            "updated": pa.array(np.concatenate(cols["updated"]), pa.timestamp("us")),
        }
    )
    write_table(table, out_path)
    return orgs

