"""NumPy row generation for the SQL UDTF surface — value-identical to the
distributed Column-expression generators in :mod:`tpch_gen`.

Every helper here is the line-for-line numpy mirror of its Column twin
(same tags, same hash-child types, same pmod/truncation semantics), built
on the verified xxhash64 replica (:mod:`..functions.xxh64`).  The parity
contract — ``SELECT * FROM tpch_<t>(sf)`` produces byte-identical rows to
``call_tpch(spark, t, sf)`` — is pinned by ``tests/test_sql_udtf.py``
comparing full collected rows for all 8 tables.

This is the layer the reference implements natively (eager single-batch
generation on the planning thread, ``/root/reference/src/lib.rs:111-126``);
here it backs only the SQL-UDTF convenience surface, while the scale path
stays the lazy partitioned DataFrame generators.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

import numpy as np

from ..functions import xxh64
from .tpch_gen import (
    COMMENT_WORDS,
    CONTAINERS1,
    CONTAINERS2,
    INSTRUCTIONS,
    NAME_WORDS,
    NATIONS,
    PRIORITIES,
    REGIONS,
    SEGMENTS,
    SHIPMODES,
    TYPE_S1,
    TYPE_S2,
    TYPE_S3,
    _DATE_SPAN,
    _EPOCH,
    _SF1,
    _slice,
    _validate,
)

_EPOCH_NP = np.datetime64(_EPOCH)


def _h(tag: str, *children) -> np.ndarray:
    return xxh64.xxhash64(("str", tag), *children)


def _pick(tag: str, key, values: list[str]) -> np.ndarray:
    idx = xxh64.pmod(_h(tag, key), len(values))
    return np.asarray(values)[idx]


def _money(tag: str, key, lo: float, hi: float) -> list[Decimal]:
    # same plan-time constant expression as tpch_gen._money
    cents = xxh64.pmod(_h(tag, key), int((hi - lo) * 100) + 1) + int(lo * 100)
    return [Decimal(int(c)) / Decimal(100) for c in cents]


def _date_days(tag: str, key, offset_lo: int = 0, span: int = _DATE_SPAN) -> np.ndarray:
    return xxh64.pmod(_h(tag, key), span) + offset_lo


def _to_dates(days: np.ndarray) -> list[datetime.date]:
    return (_EPOCH_NP + days.astype("timedelta64[D]")).tolist()


def _comment(tag: str, key, nwords: int = 6) -> list[str]:
    parts = [_pick(f"{tag}_c{i}", key, COMMENT_WORDS) for i in range(nwords)]
    return [" ".join(t) for t in zip(*parts)]


def _phone(tag: str, key, nationkey: np.ndarray) -> list[str]:
    a = xxh64.pmod(_h(tag + "1", key), 900) + 100
    b = xxh64.pmod(_h(tag + "2", key), 900) + 100
    c = xxh64.pmod(_h(tag + "3", key), 9000) + 1000
    return [
        f"{int(n) + 10:02d}-{int(x):03d}-{int(y):03d}-{int(z):04d}"
        for n, x, y, z in zip(nationkey, a, b, c)
    ]


def _hex_u64(h: np.ndarray) -> list[str]:
    # F.conv(signed-long-string, 10, 16): two's-complement unsigned, uppercase
    return [format(int(np.uint64(np.int64(v))), "X") for v in h]


def _ids(n: int, part: int, num_parts: int) -> np.ndarray:
    lo, hi = _slice(n, part, num_parts)
    return np.arange(lo, hi, dtype=np.int64)


SCHEMAS = {
    "region": "r_regionkey bigint, r_name string, r_comment string",
    "nation": "n_nationkey bigint, n_name string, n_regionkey bigint, n_comment string",
    "supplier": (
        "s_suppkey bigint, s_name string, s_address string, s_nationkey bigint, "
        "s_phone string, s_acctbal decimal(15,2), s_comment string"
    ),
    "customer": (
        "c_custkey bigint, c_name string, c_address string, c_nationkey bigint, "
        "c_phone string, c_acctbal decimal(15,2), c_mktsegment string, c_comment string"
    ),
    "part": (
        "p_partkey bigint, p_name string, p_mfgr string, p_brand string, p_type string, "
        "p_size int, p_container string, p_retailprice decimal(15,2), p_comment string"
    ),
    "partsupp": (
        "ps_partkey bigint, ps_suppkey bigint, ps_availqty int, "
        "ps_supplycost decimal(15,2), ps_comment string"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice decimal(15,2), o_orderdate date, o_orderpriority string, "
        "o_clerk string, o_shippriority int, o_comment string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity decimal(15,2), l_extendedprice decimal(15,2), l_discount decimal(15,2), "
        "l_tax decimal(15,2), l_returnflag string, l_linestatus string, l_shipdate date, "
        "l_commitdate date, l_receiptdate date, l_shipinstruct string, l_shipmode string, "
        "l_comment string"
    ),
}


def rows_region(sf: float, part: int = 1, num_parts: int = 1):
    _validate(sf, part, num_parts)
    keys = _ids(len(REGIONS), part, num_parts)
    comments = _comment("rc", ("long", keys))
    return [(int(i), REGIONS[i], c) for i, c in zip(keys, comments)]


def rows_nation(sf: float, part: int = 1, num_parts: int = 1):
    _validate(sf, part, num_parts)
    keys = _ids(len(NATIONS), part, num_parts)
    comments = _comment("nc", ("long", keys))
    return [
        (int(i), NATIONS[i][0], int(NATIONS[i][1]), c)
        for i, c in zip(keys, comments)
    ]


def rows_supplier(sf: float, part: int = 1, num_parts: int = 1):
    _validate(sf, part, num_parts)
    k = _ids(int(_SF1["supplier"] * sf), part, num_parts) + 1
    key = ("long", k)
    nk = xxh64.pmod(_h("s_nat", key), 25)
    return list(
        zip(
            k.tolist(),
            [f"Supplier#{int(v):09d}" for v in k],
            ["addr-" + x for x in _hex_u64(_h("s_addr", key))],
            nk.tolist(),
            _phone("s_ph", key, nk),
            _money("s_bal", key, -999.99, 9999.99),
            _comment("s_cmt", key, 8),
        )
    )


def rows_customer(sf: float, part: int = 1, num_parts: int = 1):
    _validate(sf, part, num_parts)
    k = _ids(int(_SF1["customer"] * sf), part, num_parts) + 1
    key = ("long", k)
    nk = xxh64.pmod(_h("c_nat", key), 25)
    return list(
        zip(
            k.tolist(),
            [f"Customer#{int(v):09d}" for v in k],
            ["addr-" + x for x in _hex_u64(_h("c_addr", key))],
            nk.tolist(),
            _phone("c_ph", key, nk),
            _money("c_bal", key, -999.99, 9999.99),
            _pick("c_seg", key, SEGMENTS).tolist(),
            _comment("c_cmt", key, 10),
        )
    )


def _retailprice(pkey: np.ndarray) -> list[Decimal]:
    # mirror of: (90000 + pmod(k/10, 20001).cast(long) + 100*pmod(k,1000)) / 100
    mid = np.fmod(pkey / 10.0, 20001.0).astype(np.int64)
    total = 90000 + mid + 100 * np.mod(pkey, 1000)
    return [Decimal(int(t)) / Decimal(100) for t in total]


def rows_part(sf: float, part: int = 1, num_parts: int = 1):
    _validate(sf, part, num_parts)
    k = _ids(int(_SF1["part"] * sf), part, num_parts) + 1
    key = ("long", k)
    names = [
        " ".join(t)
        for t in zip(*[_pick(f"p_n{i}", key, NAME_WORDS) for i in range(1, 6)])
    ]
    types = [
        " ".join(t)
        for t in zip(
            _pick("p_t1", key, TYPE_S1),
            _pick("p_t2", key, TYPE_S2),
            _pick("p_t3", key, TYPE_S3),
        )
    ]
    containers = [
        " ".join(t)
        for t in zip(_pick("p_c1", key, CONTAINERS1), _pick("p_c2", key, CONTAINERS2))
    ]
    return list(
        zip(
            k.tolist(),
            names,
            [f"Manufacturer#{int(v)}" for v in xxh64.pmod(_h("p_mfgr", key), 5) + 1],
            [f"Brand#{int(v)}" for v in xxh64.pmod(_h("p_brand", key), 25) + 1],
            types,
            (xxh64.pmod(_h("p_size", key), 50) + 1).astype(np.int32).tolist(),
            containers,
            _retailprice(k),
            _comment("p_cmt", key, 5),
        )
    )


def rows_partsupp(sf: float, part: int = 1, num_parts: int = 1):
    _validate(sf, part, num_parts)
    n_part = int(_SF1["part"] * sf)
    n_supp = int(_SF1["supplier"] * sf)
    k = _ids(n_part * 4, part, num_parts)  # key is the raw row id (no +1)
    key = ("long", k)
    pk = (k / 4).astype(np.int64) + 1
    i = np.mod(k, 4)
    stride = int(n_supp / 4) + 1
    sk = np.mod(pk + i * stride, max(n_supp, 1)) + 1
    return list(
        zip(
            pk.tolist(),
            sk.tolist(),
            (xxh64.pmod(_h("ps_avail", key), 9999) + 1).astype(np.int32).tolist(),
            _money("ps_cost", key, 1.00, 1000.00),
            _comment("ps_cmt", key, 12),
        )
    )


def rows_orders(sf: float, part: int = 1, num_parts: int = 1):
    _validate(sf, part, num_parts)
    n_cust = int(_SF1["customer"] * sf)
    k = _ids(int(_SF1["orders"] * sf), part, num_parts) + 1
    key = ("long", k)
    return list(
        zip(
            k.tolist(),
            (xxh64.pmod(_h("o_cust", key), max(n_cust, 1)) + 1).tolist(),
            _pick("o_stat", key, ["O", "F", "P"]).tolist(),
            _money("o_total", key, 1000.00, 450000.00),
            _to_dates(_date_days("o_date", key, 0, _DATE_SPAN - 151)),
            _pick("o_prio", key, PRIORITIES).tolist(),
            [f"Clerk#{int(v):09d}" for v in xxh64.pmod(_h("o_clerk", key), 1000) + 1],
            [0] * len(k),
            _comment("o_cmt", key, 8),
        )
    )


_LINESTATUS_CUTOFF = (np.datetime64("1995-06-17") - _EPOCH_NP).astype(int)

# spec line-count LCG — mirrors tpch_gen._line_count (same closed form,
# vectorized): seed_i = 1434868289 * 16807^orderkey mod (2^31-1)
_LCG_M = 2147483647
_LCG_MUL = 16807
_LINE_SEED = 1434868289


def line_counts(ok: np.ndarray) -> np.ndarray:
    """1-7 lines per order for 1-based order keys ``ok``, value-identical
    to the Column-expression generator's draw (and to the public TPC-H
    generators' O_LCNT stream: SF1 sums to 6,001,215)."""
    acc = np.full(ok.shape, _LINE_SEED, dtype=np.int64)
    p = _LCG_MUL
    bits = int(ok.max()).bit_length() if ok.size else 1
    for j in range(bits):
        mask = (ok >> j) & 1 == 1
        acc[mask] = (acc[mask] * p) % _LCG_M
        p = (p * p) % _LCG_M
    return (acc * 7) // _LCG_M + 1


def rows_lineitem(sf: float, part: int = 1, num_parts: int = 1):
    _validate(sf, part, num_parts)
    n_part_t = int(_SF1["part"] * sf)
    n_supp = int(_SF1["supplier"] * sf)
    ok = _ids(int(_SF1["orders"] * sf), part, num_parts) + 1
    n_lines = line_counts(ok)
    odate = _date_days("o_date", ("long", ok), 0, _DATE_SPAN - 151)
    okc = np.repeat(ok, n_lines)
    odc = np.repeat(odate, n_lines)
    total = int(n_lines.sum())
    ln = (
        np.arange(total, dtype=np.int64)
        - np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
        + 1
    )
    kk = ("long", okc), ("int", ln)  # children of the per-line hashes
    qty = xxh64.pmod(_h("l_qty", *kk), 50) + 1
    pkey = xxh64.pmod(_h("l_part", *kk), max(n_part_t, 1)) + 1
    retail = _retailprice(pkey)
    stride = int(n_supp / 4) + 1
    sk = np.mod(pkey + xxh64.pmod(_h("l_supp", *kk), 4) * stride, max(n_supp, 1)) + 1
    ship = odc + xxh64.pmod(_h("l_sd", *kk), 121) + 1
    commit = odc + xxh64.pmod(_h("l_cd", *kk), 61) + 30
    receipt = ship + xxh64.pmod(_h("l_rd", *kk), 30) + 1
    sumkey = ("long", okc + ln)
    return list(
        zip(
            okc.tolist(),
            pkey.tolist(),
            sk.tolist(),
            ln.astype(np.int32).tolist(),
            [Decimal(int(q)) for q in qty],
            [Decimal(int(q)) * r for q, r in zip(qty, retail)],
            [Decimal(int(d)) / Decimal(100) for d in xxh64.pmod(_h("l_disc", *kk), 11)],
            [Decimal(int(t)) / Decimal(100) for t in xxh64.pmod(_h("l_tax", *kk), 9)],
            _pick("l_rf", sumkey, ["R", "A", "N"]).tolist(),
            np.where(ship <= _LINESTATUS_CUTOFF, "F", "O").tolist(),
            _to_dates(ship),
            _to_dates(commit),
            _to_dates(receipt),
            _pick("l_si", sumkey, INSTRUCTIONS).tolist(),
            _pick("l_sm", sumkey, SHIPMODES).tolist(),
            _comment("l_cmt", sumkey, 4),
        )
    )


ROW_GENERATORS = {
    "region": rows_region,
    "nation": rows_nation,
    "supplier": rows_supplier,
    "customer": rows_customer,
    "part": rows_part,
    "partsupp": rows_partsupp,
    "orders": rows_orders,
    "lineitem": rows_lineitem,
}
