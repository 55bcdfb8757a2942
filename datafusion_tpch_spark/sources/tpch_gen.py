"""Deterministic, distributed TPC-H table generators (Tier A parity).

The reference's entire own code is this layer: per-table UDTF providers
(`/root/reference/src/lib.rs:15-186`), a registration helper
(`src/lib.rs:189-200`), and a bulk `tpch(sf)` provider that registers all 8
tables and returns a listing table (`src/lib.rs:203-310`).  This module is
the Spark-first re-expression:

- Each ``tpch_<table>(spark, sf, part, num_parts)`` builds a **lazy,
  partitioned DataFrame** from ``spark.range`` + column expressions — no
  driver-side materialization, no UDFs, scales linearly with executors.
  The reference eagerly generates everything into a *single* in-memory
  batch on the planning thread (``src/lib.rs:111-126``) — the one-partition
  anti-pattern our 100 TB design inverts.
- ``part``/``num_parts`` actually work.  The reference parses and validates
  them but silently generates the whole table (bug: bindings at
  ``src/lib.rs:93-98`` are dropped; generator construction at ``:106`` uses
  the defaults) and accepts 0 (validation ``< 0`` at ``:100-102``).  Here
  the row-id range is sliced exactly, so the union of all parts equals the
  whole table and invalid args raise.
- Values are derived from ``xxhash64`` of the row id — deterministic for a
  given (sf, part, num_parts), like the seeded tpchgen generators.
- Schemas are the full 8-table TPC-H spec schemas (column counts match the
  reference's asserted 4/3/8/9/16/9/5/7 — ``src/lib.rs:335-344``), with
  spec-faithful types: Decimal(15,2) money, DateType dates.

Row counts match the reference's shape assertions exactly for **all 8
tables**, including lineitem's SF1 = 6,001,215
(``/root/reference/src/lib.rs:339``): the per-order 1-7 line count replays
the public TPC-H generators' Lehmer-LCG stream (seed 1434868289,
multiplier 16807 mod 2^31-1) in *closed form* — ``seed_i = seed0 *
16807^(i+1) mod M`` via binary exponentiation — so the draw stays
random-access and partition-sliceable instead of sequential.  All per-SF
cardinalities are deterministic and pinned in
``tests/test_tpch_gen.py::EXACT_COUNTS``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import TPCH_TABLES

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [  # (name, regionkey) — the 25 canonical TPC-H nations
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
INSTRUCTIONS = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
SHIPMODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]
TYPE_S1 = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE_S2 = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE_S3 = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
CONTAINERS1 = ["SM", "LG", "MED", "JUMBO", "WRAP"]
CONTAINERS2 = ["CASE", "BOX", "BAG", "JAR", "PKG", "PACK", "CAN", "DRUM"]
NAME_WORDS = [
    "almond", "antique", "aquamarine", "azure", "beige", "bisque", "black",
    "blanched", "blue", "blush", "brown", "burlywood", "burnished", "chartreuse",
    "chiffon", "chocolate", "coral", "cornflower", "cornsilk", "cream", "cyan",
    "dark", "deep", "dim", "dodger", "drab", "firebrick", "floral", "forest",
    "frosted", "gainsboro", "ghost", "goldenrod", "green", "grey", "honeydew",
    "hot", "hotpink", "indian", "ivory", "khaki", "lace", "lavender", "lawn",
    "lemon", "light", "lime", "linen", "magenta", "maroon", "medium", "metallic",
    "midnight", "mint", "misty", "moccasin", "navajo", "navy", "olive", "orange",
    "orchid", "pale", "papaya", "peach", "peru", "pink", "plum", "powder",
    "puff", "purple", "red", "rose", "rosy", "royal", "saddle", "salmon",
    "sandy", "seashell", "sienna", "sky", "slate", "smoke", "snow", "spring",
    "steel", "tan", "thistle", "tomato", "turquoise", "violet", "wheat",
    "white", "yellow",
]
COMMENT_WORDS = [
    "carefully", "quickly", "furiously", "slyly", "blithely", "deposits",
    "requests", "packages", "accounts", "instructions", "foxes", "ideas",
    "theodolites", "pinto", "beans", "asymptotes", "dependencies", "excuses",
    "platelets", "sleep", "nag", "haggle", "wake", "bold", "final", "express",
    "ironic", "pending", "regular", "special",
]

_SF1 = {
    "customer": 150_000,
    "orders": 1_500_000,
    "part": 200_000,
    "supplier": 10_000,
}
_EPOCH = "1992-01-01"
_DATE_SPAN = 2406  # days: 1992-01-01 .. 1998-08-02, per spec


def _validate(sf: float, part: int, num_parts: int) -> None:
    if sf <= 0:
        raise ValueError(f"scale factor must be > 0, got {sf}")
    # the reference advertises this validation but accepts 0 (src/lib.rs:100-102)
    if part <= 0 or num_parts <= 0:
        raise ValueError(f"part/num_parts must be > 0, got {part}/{num_parts}")
    if part > num_parts:
        raise ValueError(f"part {part} out of range 1..{num_parts}")


def _slice(n: int, part: int, num_parts: int) -> tuple[int, int]:
    """Row-id range [lo, hi) for this part — exact partition of 0..n."""
    lo = (n * (part - 1)) // num_parts
    hi = (n * part) // num_parts
    return lo, hi


def _ranged(spark: SparkSession, n: int, part: int, num_parts: int) -> DataFrame:
    lo, hi = _slice(n, part, num_parts)
    width = max(hi - lo, 1)
    parts = min(max(width // 65_536, 1), spark.sparkContext.defaultParallelism * 4)
    return spark.range(lo, hi, 1, parts)


def _h(tag: str, *cols: Column) -> Column:
    """Deterministic 64-bit derivation hash (same for a given row forever)."""
    return F.xxhash64(F.lit(tag), *cols)


def _pick(tag: str, key: Column, values: list[str]) -> Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (F.pmod(_h(tag, key), F.lit(len(values))) + 1).cast("int"))


def _money(tag: str, key: Column, lo: float, hi: float) -> Column:
    cents = F.pmod(_h(tag, key), F.lit(int((hi - lo) * 100) + 1))
    return ((cents + F.lit(int(lo * 100))) / 100.0).cast("decimal(15,2)")


def _date(tag: str, key: Column, offset_lo: int = 0, span: int = _DATE_SPAN) -> Column:
    return F.date_add(
        F.to_date(F.lit(_EPOCH)),
        (F.pmod(_h(tag, key), F.lit(span)) + F.lit(offset_lo)).cast("int"),
    )


def _comment(tag: str, key: Column, nwords: int = 6) -> Column:
    return F.concat_ws(
        " ", *[_pick(f"{tag}_c{i}", key, COMMENT_WORDS) for i in range(nwords)]
    )


def _phone(tag: str, key: Column, nationkey: Column) -> Column:
    return F.format_string(
        "%02d-%03d-%03d-%04d",
        (nationkey + 10).cast("int"),
        F.pmod(_h(tag + "1", key), F.lit(900)).cast("int") + 100,
        F.pmod(_h(tag + "2", key), F.lit(900)).cast("int") + 100,
        F.pmod(_h(tag + "3", key), F.lit(9000)).cast("int") + 1000,
    )


# --- fixed tables -----------------------------------------------------------

def tpch_region(spark: SparkSession, sf: float = 1.0, part: int = 1, num_parts: int = 1) -> DataFrame:
    """Mirrors TpchRegion (src/lib.rs:183-186): 5 rows × 3 cols, fixed;
    ``part`` of ``num_parts`` holds its ``_slice`` of the 5 keys."""
    _validate(sf, part, num_parts)
    lo, hi = _slice(len(REGIONS), part, num_parts)
    df = spark.createDataFrame(
        [(i, REGIONS[i]) for i in range(lo, hi)], "r_regionkey long, r_name string"
    )
    return df.withColumn("r_comment", _comment("rc", F.col("r_regionkey")))


def tpch_nation(spark: SparkSession, sf: float = 1.0, part: int = 1, num_parts: int = 1) -> DataFrame:
    """Mirrors TpchNation (src/lib.rs:133-137): 25 rows × 4 cols, fixed;
    ``part`` of ``num_parts`` holds its ``_slice`` of the 25 keys."""
    _validate(sf, part, num_parts)
    lo, hi = _slice(len(NATIONS), part, num_parts)
    df = spark.createDataFrame(
        [(i, *NATIONS[i]) for i in range(lo, hi)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    return df.withColumn("n_comment", _comment("nc", F.col("n_nationkey")))


# --- scaled tables ----------------------------------------------------------

def tpch_supplier(spark: SparkSession, sf: float = 1.0, part: int = 1, num_parts: int = 1) -> DataFrame:
    _validate(sf, part, num_parts)
    n = int(_SF1["supplier"] * sf)
    k = F.col("id") + 1
    nk = F.pmod(_h("s_nat", k), F.lit(25))
    return _ranged(spark, n, part, num_parts).select(
        k.alias("s_suppkey"),
        F.format_string("Supplier#%09d", k.cast("int")).alias("s_name"),
        F.concat(F.lit("addr-"), F.conv(_h("s_addr", k).cast("string"), 10, 16)).alias("s_address"),
        nk.alias("s_nationkey"),
        _phone("s_ph", k, nk).alias("s_phone"),
        _money("s_bal", k, -999.99, 9999.99).alias("s_acctbal"),
        _comment("s_cmt", k, 8).alias("s_comment"),
    )


def tpch_customer(spark: SparkSession, sf: float = 1.0, part: int = 1, num_parts: int = 1) -> DataFrame:
    _validate(sf, part, num_parts)
    n = int(_SF1["customer"] * sf)
    k = F.col("id") + 1
    nk = F.pmod(_h("c_nat", k), F.lit(25))
    return _ranged(spark, n, part, num_parts).select(
        k.alias("c_custkey"),
        F.format_string("Customer#%09d", k.cast("int")).alias("c_name"),
        F.concat(F.lit("addr-"), F.conv(_h("c_addr", k).cast("string"), 10, 16)).alias("c_address"),
        nk.alias("c_nationkey"),
        _phone("c_ph", k, nk).alias("c_phone"),
        _money("c_bal", k, -999.99, 9999.99).alias("c_acctbal"),
        _pick("c_seg", k, SEGMENTS).alias("c_mktsegment"),
        _comment("c_cmt", k, 10).alias("c_comment"),
    )


def tpch_part(spark: SparkSession, sf: float = 1.0, part: int = 1, num_parts: int = 1) -> DataFrame:
    _validate(sf, part, num_parts)
    n = int(_SF1["part"] * sf)
    k = F.col("id") + 1
    brand_n = F.pmod(_h("p_brand", k), F.lit(25)) + 1
    return _ranged(spark, n, part, num_parts).select(
        k.alias("p_partkey"),
        F.concat_ws(
            " ",
            _pick("p_n1", k, NAME_WORDS), _pick("p_n2", k, NAME_WORDS),
            _pick("p_n3", k, NAME_WORDS), _pick("p_n4", k, NAME_WORDS),
            _pick("p_n5", k, NAME_WORDS),
        ).alias("p_name"),
        F.format_string("Manufacturer#%d", (F.pmod(_h("p_mfgr", k), F.lit(5)) + 1).cast("int")).alias("p_mfgr"),
        F.format_string("Brand#%d", brand_n.cast("int")).alias("p_brand"),
        F.concat_ws(
            " ", _pick("p_t1", k, TYPE_S1), _pick("p_t2", k, TYPE_S2), _pick("p_t3", k, TYPE_S3)
        ).alias("p_type"),
        (F.pmod(_h("p_size", k), F.lit(50)) + 1).cast("int").alias("p_size"),
        F.concat_ws(
            " ", _pick("p_c1", k, CONTAINERS1), _pick("p_c2", k, CONTAINERS2)
        ).alias("p_container"),
        # spec formula: (90000 + ((partkey/10) % 20001) + 100*(partkey % 1000)) / 100
        ((F.lit(90000) + F.pmod(k / 10, F.lit(20001)).cast("long")
          + 100 * F.pmod(k, F.lit(1000))) / 100).cast("decimal(15,2)").alias("p_retailprice"),
        _comment("p_cmt", k, 5).alias("p_comment"),
    )


def tpch_partsupp(spark: SparkSession, sf: float = 1.0, part: int = 1, num_parts: int = 1) -> DataFrame:
    """4 suppliers per part (spec), supplier spread via the spec's stride
    formula so every supplier serves ~80 parts."""
    _validate(sf, part, num_parts)
    n_part = int(_SF1["part"] * sf)
    n_supp = int(_SF1["supplier"] * sf)
    n = n_part * 4
    k = F.col("id")  # 0 .. 4*parts-1
    pk = (k / 4).cast("long") + 1
    i = F.pmod(k, F.lit(4))
    sk = F.pmod(pk + i * ((F.lit(n_supp) / 4).cast("long") + 1), F.lit(max(n_supp, 1))) + 1
    return _ranged(spark, n, part, num_parts).select(
        pk.alias("ps_partkey"),
        sk.alias("ps_suppkey"),
        (F.pmod(_h("ps_avail", k), F.lit(9999)) + 1).cast("int").alias("ps_availqty"),
        _money("ps_cost", k, 1.00, 1000.00).alias("ps_supplycost"),
        _comment("ps_cmt", k, 12).alias("ps_comment"),
    )


def tpch_orders(spark: SparkSession, sf: float = 1.0, part: int = 1, num_parts: int = 1) -> DataFrame:
    _validate(sf, part, num_parts)
    n = int(_SF1["orders"] * sf)
    n_cust = int(_SF1["customer"] * sf)
    k = F.col("id") + 1
    odate = _date("o_date", k, 0, _DATE_SPAN - 151)  # leave room for ship+receipt
    return _ranged(spark, n, part, num_parts).select(
        k.alias("o_orderkey"),
        (F.pmod(_h("o_cust", k), F.lit(max(n_cust, 1))) + 1).alias("o_custkey"),
        _pick("o_stat", k, ["O", "F", "P"]).alias("o_orderstatus"),
        _money("o_total", k, 1000.00, 450000.00).alias("o_totalprice"),
        odate.alias("o_orderdate"),
        _pick("o_prio", k, PRIORITIES).alias("o_orderpriority"),
        F.format_string("Clerk#%09d", (F.pmod(_h("o_clerk", k), F.lit(1000)) + 1).cast("int")).alias("o_clerk"),
        F.lit(0).cast("int").alias("o_shippriority"),
        _comment("o_cmt", k, 8).alias("o_comment"),
    )


# Line-count RNG: the public TPC-H generators (dbgen and its Java/Rust
# ports) draw each order's 1-7 line count from a Lehmer LCG
# x' = 16807*x mod (2^31-1), one draw per order row, stream seed
# 1434868289.  seed_i = seed0 * 16807^(i+1) mod M is closed-form, so a
# partitioned generator jumps straight to any order's draw with ~bit_length
# conditional multiply-mods (binary exponentiation over the order index)
# instead of replaying the sequential stream — each factor fits in a long
# (product < 2^62), all JVM-side.  This reproduces the reference's exact
# SF1 lineitem cardinality 6,001,215 (src/lib.rs:339).
_LCG_M = 2147483647
_LCG_MUL = 16807
_LINE_SEED = 1434868289


def _line_count(order_idx: Column, n_orders: int) -> Column:
    """1-7 lines for the 0-based ``order_idx``-th order, spec RNG stream."""
    acc = F.lit(_LINE_SEED).cast("long")
    e = order_idx + 1  # LCG steps consumed through this order's draw
    p = _LCG_MUL
    for j in range(max(int(n_orders).bit_length(), 1)):
        # multiply by p_j or 1 — keeps `acc` appearing once per step so
        # the expression tree stays linear in bit_length, not 2^bits
        factor = F.when(
            F.shiftright(e, j).bitwiseAND(F.lit(1)) == 1, F.lit(p)
        ).otherwise(F.lit(1))
        acc = F.pmod(acc * factor, F.lit(_LCG_M))
        p = (p * p) % _LCG_M
    return (F.floor(acc * 7 / F.lit(_LCG_M)) + 1).cast("int")


def tpch_lineitem(spark: SparkSession, sf: float = 1.0, part: int = 1, num_parts: int = 1) -> DataFrame:
    """1-7 lines per order (deterministic), line columns derived from
    (orderkey, linenumber). Built order-sliced so part/num_parts composes:
    every order's lines live in exactly one part."""
    _validate(sf, part, num_parts)
    n_orders = int(_SF1["orders"] * sf)
    n_part_t = int(_SF1["part"] * sf)
    n_supp = int(_SF1["supplier"] * sf)
    ok = F.col("id") + 1
    n_lines = _line_count(F.col("id"), n_orders)
    base = (
        _ranged(spark, n_orders, part, num_parts)
        .select(
            ok.alias("l_orderkey"),
            _date("o_date", ok, 0, _DATE_SPAN - 151).alias("_odate"),
            F.explode(F.sequence(F.lit(1), n_lines.cast("int"))).alias("l_linenumber"),
        )
    )
    okc, ln = F.col("l_orderkey"), F.col("l_linenumber")
    qty = (F.pmod(_h("l_qty", okc, ln), F.lit(50)) + 1).cast("decimal(15,2)")
    pkey = F.pmod(_h("l_part", okc, ln), F.lit(max(n_part_t, 1))) + 1
    retail = ((F.lit(90000) + F.pmod(pkey / 10, F.lit(20001)).cast("long")
               + 100 * F.pmod(pkey, F.lit(1000))) / 100).cast("decimal(15,2)")
    ship = F.date_add(F.col("_odate"), (F.pmod(_h("l_sd", okc, ln), F.lit(121)) + 1).cast("int"))
    commit = F.date_add(F.col("_odate"), (F.pmod(_h("l_cd", okc, ln), F.lit(61)) + 30).cast("int"))
    receipt = F.date_add(ship, (F.pmod(_h("l_rd", okc, ln), F.lit(30)) + 1).cast("int"))
    return base.select(
        okc,
        pkey.alias("l_partkey"),
        (F.pmod(pkey + F.pmod(_h("l_supp", okc, ln), F.lit(4))
                * ((F.lit(n_supp) / 4).cast("long") + 1), F.lit(max(n_supp, 1))) + 1).alias("l_suppkey"),
        ln.cast("int").alias("l_linenumber"),
        qty.alias("l_quantity"),
        (qty * retail).cast("decimal(15,2)").alias("l_extendedprice"),
        (F.pmod(_h("l_disc", okc, ln), F.lit(11)) / 100).cast("decimal(15,2)").alias("l_discount"),
        (F.pmod(_h("l_tax", okc, ln), F.lit(9)) / 100).cast("decimal(15,2)").alias("l_tax"),
        _pick("l_rf", okc + ln, ["R", "A", "N"]).alias("l_returnflag"),
        F.when(ship <= F.to_date(F.lit("1995-06-17")), "F").otherwise("O").alias("l_linestatus"),
        ship.alias("l_shipdate"),
        commit.alias("l_commitdate"),
        receipt.alias("l_receiptdate"),
        _pick("l_si", okc + ln, INSTRUCTIONS).alias("l_shipinstruct"),
        _pick("l_sm", okc + ln, SHIPMODES).alias("l_shipmode"),
        _comment("l_cmt", okc + ln, 4).alias("l_comment"),
    )


GENERATORS = {
    "region": tpch_region,
    "nation": tpch_nation,
    "customer": tpch_customer,
    "supplier": tpch_supplier,
    "part": tpch_part,
    "partsupp": tpch_partsupp,
    "orders": tpch_orders,
    "lineitem": tpch_lineitem,
}


def register_tpch_udtfs(spark: SparkSession) -> None:
    """Parity with the reference's ``register_tpch_udtfs``
    (src/lib.rs:189-200): makes ``tpch_<table>(sf [, part, num_parts])``
    invocable from SQL for **all 8 tables** with full spec schemas, plus
    the bulk ``tpch(sf)`` listing — value-identical to the DataFrame
    generators (see :mod:`tpch_udtf`).  The distributed SQL spelling is a
    LATERAL join over parts; ``call_tpch``/``register_tpch`` remain the
    Python-native path."""
    from .tpch_udtf import register_tpch_udtfs as _register

    _register(spark)


def call_tpch(spark: SparkSession, table: str, sf: float, part: int = 1, num_parts: int = 1) -> DataFrame:
    """``tpch_<table>(sf, part, num_parts)`` — the per-table entry point
    (reference: SELECT * FROM tpch_lineitem(1.0), src/lib.rs:348)."""
    if table not in GENERATORS:
        raise ValueError(f"unknown TPC-H table {table!r}; one of {sorted(GENERATORS)}")
    return GENERATORS[table](spark, sf, part, num_parts)


def register_tpch(spark: SparkSession, sf: float = 1.0) -> DataFrame:
    """Bulk registration — parity with ``tpch(sf)`` (src/lib.rs:203-310):
    registers all 8 tables as temp views under bare names and returns the
    1-column listing DataFrame. Catalog mutation happens on the driver,
    exactly where DataFusion does it (plan time)."""
    for name in TPCH_TABLES:
        GENERATORS[name](spark, sf).createOrReplaceTempView(name)
    from ..inline import inline_table

    return inline_table(spark, [(t,) for t in TPCH_TABLES], "table_name string")
