"""Seeded generator for the tables the benchmark's registry rows read:
``region nation customer part orders lineitem``.

Schemas, key ranges and value domains follow the engine's TESTDATA
layout (TPC-H-ish star schema):

- money columns are 2-dp doubles, discounts and taxes 2-dp fractions,
  quantities whole numbers, so every registry sum is exact enough to
  round identically in Spark and DuckDB;
- ship dates span 1995-2001 (the registry's ``YEARS``), order dates
  1995-01-01 to 2001-08-01, with ship = order + 1..120 days;
- part types are three words, some ending in ``BRASS``, so the
  negative-regex filter and the first-word split both have work.

The scale is the order count (about 4 lineitems per order); customers
and parts scale with it at TESTDATA's ratios.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPE_SIZE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
TYPE_FINISH = ["ANODIZED", "BRUSHED", "BURNISHED", "PLATED", "POLISHED"]
TYPE_METAL = ["BRASS", "COPPER", "NICKEL", "STEEL", "TIN"]
NAME_WORDS = ["blue", "red", "small", "steel", "bolt", "ring", "widget", "gear"]

ORDER_LO = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_LO).days
#: lines shipped before this are finished (F) and returned or accepted
#: (R/A); later ones are open (O) and not returned (N), as in TPC-H
STATUS_CUTOFF = dt.datetime(1998, 6, 17)


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def _write(dest: str, name: str, schema: pa.Schema, columns: dict) -> None:
    table = pa.table({f.name: pa.array(columns[f.name], f.type) for f in schema}, schema=schema)
    pq.write_table(table, os.path.join(dest, f"{name}.parquet"))


def generate(dest: str, *, seed: int, n_orders: int) -> None:
    """Write the tables under ``dest``, one parquet file each."""
    rng = random.Random(seed)
    os.makedirs(dest, exist_ok=True)
    n_cust = max(10, n_orders // 10)
    n_part = max(10, n_orders * 2 // 15)
    n_supp = max(10, n_orders // 150)

    _write(
        dest, "region",
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
        {"r_regionkey": list(range(len(REGIONS))), "r_name": REGIONS},
    )
    _write(
        dest, "nation",
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]),
        {
            "n_nationkey": list(range(N_NATIONS)),
            "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
            "n_regionkey": [i % len(REGIONS) for i in range(N_NATIONS)],
        },
    )
    _write(
        dest, "customer",
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]),
        {
            "c_custkey": list(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": [rng.randrange(N_NATIONS) for _ in range(n_cust)],
            "c_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)],
        },
    )
    prices = [round(900 + (i % 2000) * 0.1 + (i // 2000) * 0.01, 2) for i in range(n_part)]
    _write(
        dest, "part",
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
        {
            "p_partkey": list(range(n_part)),
            "p_name": [" ".join(rng.sample(NAME_WORDS, 2)) for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
            "p_type": [
                f"{rng.choice(TYPE_SIZE)} {rng.choice(TYPE_FINISH)} {rng.choice(TYPE_METAL)}"
                for _ in range(n_part)
            ],
            "p_size": [rng.randint(1, 50) for _ in range(n_part)],
            "p_retailprice": prices,
        },
    )

    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus",
                              "o_totalprice", "o_orderdate", "o_orderpriority")}
    lines = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                             "l_returnflag", "l_linestatus", "l_shipdate")}
    for ok in range(n_orders):
        odate = ORDER_LO + dt.timedelta(days=rng.randrange(ORDER_DAYS + 1))
        statuses = set()
        for ln in range(1, rng.randint(1, 7) + 1):
            pk = rng.randrange(n_part)
            qty = float(rng.randint(1, 50))
            ship = odate + dt.timedelta(days=rng.randint(1, 120))
            done = ship <= STATUS_CUTOFF
            statuses.add("F" if done else "O")
            lines["l_orderkey"].append(ok)
            lines["l_partkey"].append(pk)
            lines["l_suppkey"].append(rng.randrange(n_supp))
            lines["l_linenumber"].append(ln)
            lines["l_quantity"].append(qty)
            lines["l_extendedprice"].append(round(qty * prices[pk], 2))
            lines["l_discount"].append(rng.randint(0, 10) / 100)
            lines["l_tax"].append(rng.randint(0, 8) / 100)
            lines["l_returnflag"].append(rng.choice("RA") if done else "N")
            lines["l_linestatus"].append("F" if done else "O")
            lines["l_shipdate"].append(ship)
        orders["o_orderkey"].append(ok)
        orders["o_custkey"].append(rng.randrange(n_cust))
        orders["o_orderstatus"].append(statuses.pop() if len(statuses) == 1 else "P")
        orders["o_totalprice"].append(_money(rng, 1000, 500000))
        orders["o_orderdate"].append(odate)
        orders["o_orderpriority"].append(rng.choice(PRIORITIES))
    _write(
        dest, "orders",
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]),
        orders,
    )
    _write(
        dest, "lineitem",
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]),
        lines,
    )
