"""Seeded TPC-H-shaped inputs for the benchmark.

Writes region, nation, customer, orders and lineitem as parquet with the
column names and types of the TPC-H test tables the examples module maps
(``morph_xr2rml_spark.examples``), plus ``orderdocs.parquet``: one JSON
document per order with its lineitems nested, the shape
``examples.orderdocs_df`` builds.

The seed drives every value, the key offsets and the row order.  Row
counts depend only on the scale, so two seeds give inputs of one size
whose figures can be compared.  Key offsets keep every key at a fixed
digit count, so IRI lengths do not move with the seed either.
"""

from __future__ import annotations

import os

import numpy as np
import orjson
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_NATIONS = 25
# 1e6 <= key < 1e7 at every scale used here: fixed-width decimal keys
CUST_BASE = 1_000_000
ORDER_BASE = 2_000_000
PART_BASE = 3_000_000
ROW_GROUP = 16_384


def sizes(scale: float) -> dict[str, int]:
    """Row counts at a TPC-H scale factor (customer 150k/sf, orders
    1.5M/sf, part key space 200k/sf; lineitem averages 4 per order)."""
    return {"customer": max(150, int(150_000 * scale)),
            "orders": max(1_500, int(1_500_000 * scale)),
            "parts": max(200, int(200_000 * scale))}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP)


def generate(out_dir: str, scale: float, seed: int,
             docs: bool = True) -> dict[str, int]:
    """Write the tables under ``out_dir`` (the document corpus only
    with ``docs``); returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    n_cust, n_ord = n["customer"], n["orders"]
    cust_off = CUST_BASE + int(rng.integers(0, 100_000))
    ord_off = ORDER_BASE + int(rng.integers(0, 100_000))
    part_off = PART_BASE + int(rng.integers(0, 100_000))

    _write(pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS}), os.path.join(out_dir, "region.parquet"))
    nat = np.arange(N_NATIONS, dtype=np.int32)
    _write(pa.table({
        "n_nationkey": nat,
        "n_name": [f"NATION_{i}" for i in nat],
        "n_regionkey": (nat % len(REGIONS)).astype(np.int32)}),
        os.path.join(out_dir, "nation.parquet"))

    ck = cust_off + rng.permutation(n_cust).astype(np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, N_NATIONS, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        os.path.join(out_dir, "customer.parquet"))

    ok = ord_off + rng.permutation(n_ord).astype(np.int64)
    days = rng.integers(0, 3650, n_ord)
    _write(pa.table({
        "o_orderkey": ok,
        "o_custkey": cust_off + rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(
            (np.datetime64("1992-01-01") + days).astype("datetime64[us]")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        os.path.join(out_dir, "orders.parquet"))

    # 1..7 lines per order; part keys drawn from a small space so one
    # order can name a part (and a quantity) twice
    per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, per)
    starts = np.repeat(np.cumsum(per) - per, per)
    l_ln = (np.arange(len(l_ok)) - starts + 1).astype(np.int32)
    l_pk = part_off + rng.integers(0, n["parts"], len(l_ok))
    l_qty = rng.integers(1, 51, len(l_ok)).astype(np.float64)
    order = rng.permutation(len(l_ok))
    _write(pa.table({
        "l_orderkey": l_ok[order], "l_partkey": l_pk[order],
        "l_linenumber": l_ln[order], "l_quantity": l_qty[order]}),
        os.path.join(out_dir, "lineitem.parquet"))

    counts = {"region": len(REGIONS), "nation": N_NATIONS,
              "customer": n_cust, "orders": n_ord, "lineitem": int(len(l_ok))}
    if not docs:
        return counts
    # the document corpus: lines stay sorted by line number inside a
    # document, documents follow the seeded order
    bounds = np.cumsum(per)
    texts = []
    lo = 0
    for key, hi in zip(ok.tolist(), bounds.tolist()):
        texts.append(orjson.dumps({"ok": key, "lines": [
            {"ln": int(l_ln[i]), "pk": int(l_pk[i]), "qty": int(l_qty[i])}
            for i in range(lo, hi)]}).decode())
        lo = hi
    texts = [texts[i] for i in rng.permutation(len(texts))]
    _write(pa.table({"content": texts}),
           os.path.join(out_dir, "orderdocs.parquet"))
    return {**counts, "orderdocs": len(texts)}
