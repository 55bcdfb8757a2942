"""Driver gates for the canonical full-schema TPC-H texts.

The fixture-adapted TPC-H programs (queries/tpch.py) prove the query
semantics on the driver fixtures' double/timestamp column subset; the 22
canonical texts over the COMPLETE spec schemas (DECIMAL(15,2) money, DATE
dates — queries/tpch_full.py) were previously exercised only by pytest
(tests/test_tpch_full_schema.py, float-tolerance compare).  This module
promotes ALL 22 of them to first-class driver gates with EXACT hash
parity (``q1_spec`` … ``q22_spec``), each non-empty at the pinned scale:

- Input: all needed tables generated by the Tier-A generators
  (sources/tpch_gen.py, the reference's entire surface: src/lib.rs) at a
  FIXED sf=0.01, exported once through the parquet sink (the reference's
  COPY path, examples/parquet.rs:17-31) into a gitignored scratch dir,
  then read back by BOTH engines from the SAME files — so the gate also
  round-trips DECIMAL/DATE through parquet.
- The query texts are the canonical ones with two hash-exactness
  adaptations, both deviations the repo uses everywhere
  (functions/exact.py): decimal aggregates are exact in both engines and
  surfaced via one final CAST(... AS DOUBLE) (identical correctly-rounded
  conversion — the same final step dsum relies on), and AVG is written
  as exact-sum / count so no engine-specific decimal-average typing is
  involved.  DATE outputs are cast to VARCHAR (ISO text) because the two
  engines' pandas date dtypes differ.
- Four parameter-substitution knobs keep gates non-empty at the pinned
  scale (an empty result proves nothing): q18's quantity threshold
  300→240 (uniform 1-50 quantities over 1-7 lines make >300
  near-impossible at small SF), q11's fraction 0.01→0.005 (max per-part
  share of the German inventory is 0.87% here), q20's color
  'forest'→'brown' (not in this generator's color vocabulary), and
  q22's anti-join restricted to orders since 1997 (every generated
  customer has lifetime orders).  Each is documented at its query text.

The gate ignores ``sf_dir`` by design: its axis is TYPE fidelity (decimal
exactness, date predicates, parquet round-trip), pinned at a fixed scale;
the fixture-adapted forms cover the per-SF data axis.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import QuerySpec

_SPEC_SF = 0.01
_Q18_QTY = 240
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
# under spark-warehouse/: inside the repo (sandbox-writable) but gitignored,
# so fixture-sized parquet never lands in a commit
_SPEC_DIR = os.path.join(_REPO_ROOT, "spark-warehouse", "tpch_spec_sf001")
_SPEC_TABLES = (
    "customer", "orders", "lineitem", "supplier", "nation", "region", "part",
    "partsupp",
)


# sessions whose catalog already carries the spec_* views — registering
# all 8 tables resolves 8 parquet relations, which 22 gates × best-of-3
# bench runs would otherwise pay 500+ times per process.  Keyed by the
# SparkSession itself (weakly, so a GC'd session can't alias a new one):
# temp views are SESSION-scoped, so an applicationId key would wrongly
# skip registration on spark.newSession() over the same context.
import weakref

_REGISTERED_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, bool]" = (
    weakref.WeakKeyDictionary()
)


def _ensure_spec_tables(spark: SparkSession) -> None:
    """Generate + export the spec tables once per machine, then register
    ``spec_*`` temp views (once per SparkSession).  Writes go to a
    pid-suffixed staging dir and are renamed into place, so concurrent
    processes (driver gate, bench, pytest) never read a half-written
    table."""
    from ..sources.parquet_io import copy_to_parquet
    from ..sources.tpch_gen import GENERATORS

    if _REGISTERED_SESSIONS.get(spark):
        return
    for name in _SPEC_TABLES:
        path = os.path.join(_SPEC_DIR, name)
        gen = GENERATORS[name](spark, _SPEC_SF)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            stage = f"{path}.stage.{os.getpid()}"
            copy_to_parquet(gen, stage)
            try:
                os.rename(stage, path)
            except OSError:  # lost the race: another process renamed first
                import shutil

                shutil.rmtree(stage, ignore_errors=True)
        # the generator's schema: no schema-inference job per table
        spark.read.schema(gen.schema).parquet(path).createOrReplaceTempView(
            f"spec_{name}"
        )
    _REGISTERED_SESSIONS[spark] = True


def _refs(engine: str) -> dict[str, str]:
    # ``{t}`` carries an ``AS t`` alias for unaliased FROM-list use;
    # ``{t_bare}`` is the alias-free form for self-joins that supply
    # their own alias (``{lineitem_bare} l1``).
    if engine == "spark":
        out = {t: f"spec_{t} AS {t}" for t in _SPEC_TABLES}
        out.update({f"{t}_bare": f"spec_{t}" for t in _SPEC_TABLES})
        return out
    out = {
        t: f"read_parquet('{_SPEC_DIR}/{t}/*.parquet') AS {t}"
        for t in _SPEC_TABLES
    }
    out.update({
        f"{t}_bare": f"read_parquet('{_SPEC_DIR}/{t}/*.parquet')"
        for t in _SPEC_TABLES
    })
    return out


# Canonical texts (queries/tpch_full.py carries the untouched 22) with the
# hash-exactness output casts described in the module docstring.  Both
# engines parse these verbatim; {lineitem} etc. resolve per engine.
_Q1_SPEC = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       CAST(sum(l_extendedprice) AS DOUBLE) AS sum_base_price,
       CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS sum_disc_price,
       CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DOUBLE) AS sum_charge,
       CAST(sum(l_quantity) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(l_extendedprice) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(l_discount) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM {lineitem}
WHERE l_shipdate <= date '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

_Q6_SPEC = """
SELECT CAST(sum(l_extendedprice * l_discount) AS DOUBLE) AS revenue
FROM {lineitem}
WHERE l_shipdate >= date '1994-01-01' AND l_shipdate < date '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""

_Q4_SPEC = """
SELECT o_orderpriority, count(*) AS order_count
FROM {orders}
WHERE o_orderdate >= date '1993-07-01' AND o_orderdate < date '1993-10-01'
  AND EXISTS (
    SELECT * FROM {lineitem}
    WHERE l_orderkey = o_orderkey AND l_commitdate < l_receiptdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

_Q3_SPEC = """
SELECT l_orderkey,
       CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS VARCHAR(10)) AS o_orderdate, o_shippriority
FROM {customer}, {orders}, {lineitem}
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < date '1995-03-15' AND l_shipdate > date '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_shippriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""
# ^ one determinism adaptation: the canonical ORDER BY (revenue DESC,
#   o_orderdate) leaves the LIMIT cut ambiguous on ties; l_orderkey is
#   appended so both engines cut the same rows.

_Q12_SPEC = """
SELECT l_shipmode,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                       OR o_orderpriority = '2-HIGH'
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                      AND o_orderpriority <> '2-HIGH'
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM {orders}, {lineitem}
WHERE o_orderkey = l_orderkey AND l_shipmode IN ('MAIL', 'SHIP')
  AND l_commitdate < l_receiptdate AND l_shipdate < l_commitdate
  AND l_receiptdate >= date '1994-01-01' AND l_receiptdate < date '1995-01-01'
GROUP BY l_shipmode
ORDER BY l_shipmode
"""

_Q5_SPEC = """
SELECT n_name,
       CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue
FROM {customer}, {orders}, {lineitem}, {supplier}, {nation}, {region}
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= date '1994-01-01' AND o_orderdate < date '1995-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""
# ^ n_name appended to the canonical ORDER BY so a revenue tie between two
#   nations can't make the engines disagree on row order.

_Q7_SPEC = """
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM {supplier}, {lineitem}, {orders}, {customer},
       {nation_bare} n1, {nation_bare} n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
      OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE'))
    AND l_shipdate BETWEEN date '1995-01-01' AND date '1996-12-31'
) AS shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""
# ^ EXTRACT(year) is cast to INT: Spark types it int, DuckDB bigint —
#   without the cast the pandas dtypes diverge (int32 vs int64).

_Q10_SPEC = """
SELECT c_custkey, c_name,
       CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal,
       n_name, c_address, c_phone, c_comment
FROM {customer}, {orders}, {lineitem}, {nation}
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= date '1993-10-01' AND o_orderdate < date '1994-01-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, c_phone, n_name, c_address, c_comment
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

_Q14_SPEC = """
SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                             THEN l_extendedprice * (1 - l_discount)
                             ELSE 0 END) AS DOUBLE)
       / CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE)
         AS promo_revenue
FROM {lineitem}, {part}
WHERE l_partkey = p_partkey
  AND l_shipdate >= date '1995-09-01' AND l_shipdate < date '1995-10-01'
"""
# ^ the canonical text divides two decimals; decimal-division result types
#   are engine-specific, so each exact sum is converted to double FIRST
#   and the division is double/double — identical in both engines.

_Q19_SPEC = """
SELECT CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue
FROM {lineitem}, {part}
WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
       AND p_container IN ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
       AND l_quantity >= 1 AND l_quantity <= 11
       AND p_size BETWEEN 1 AND 5
       AND l_shipmode IN ('AIR', 'REG AIR')
       AND l_shipinstruct = 'DELIVER IN PERSON')
   OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
       AND p_container IN ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
       AND l_quantity >= 10 AND l_quantity <= 20
       AND p_size BETWEEN 1 AND 10
       AND l_shipmode IN ('AIR', 'REG AIR')
       AND l_shipinstruct = 'DELIVER IN PERSON')
   OR (p_partkey = l_partkey AND p_brand = 'Brand#14'
       AND p_container IN ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
       AND l_quantity >= 20 AND l_quantity <= 30
       AND p_size BETWEEN 1 AND 15
       AND l_shipmode IN ('AIR', 'REG AIR')
       AND l_shipinstruct = 'DELIVER IN PERSON')
"""

_Q21_SPEC = """
SELECT s_name, count(*) AS numwait
FROM {supplier}, {lineitem_bare} l1, {orders}, {nation}
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND l1.l_receiptdate > l1.l_commitdate
  AND EXISTS (
    SELECT * FROM {lineitem_bare} l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT * FROM {lineitem_bare} l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_receiptdate > l3.l_commitdate)
  AND s_nationkey = n_nationkey AND n_name = 'SAUDI ARABIA'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""

_Q2_SPEC = """
SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name, p_partkey,
       p_mfgr, s_address, s_phone, s_comment
FROM {part}, {supplier}, {partsupp}, {nation}, {region}
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_size = 15 AND p_type LIKE '%BRASS'
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT min(ps_supplycost)
    FROM {partsupp}, {supplier}, {nation}, {region}
    WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""

_Q8_SPEC = """
SELECT o_year,
       CAST(sum(CASE WHEN nation = 'BRAZIL' THEN volume ELSE 0 END) AS DOUBLE)
       / CAST(sum(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM {part}, {supplier}, {lineitem}, {orders}, {customer},
       {nation_bare} n1, {nation_bare} n2, {region}
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN date '1995-01-01' AND date '1996-12-31'
    AND p_type = 'ECONOMY ANODIZED STEEL'
) AS all_nations
GROUP BY o_year
ORDER BY o_year
"""
# ^ the canonical market-share division is decimal/decimal (result typing
#   is engine-specific); each exact decimal sum is converted to double
#   FIRST, making the division double/double in both engines.

_Q9_SPEC = """
SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity
           AS amount
  FROM {part}, {supplier}, {lineitem}, {partsupp}, {orders}, {nation}
  WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
    AND ps_partkey = l_partkey AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    AND p_name LIKE '%green%'
) AS profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""

# The spec fraction is 0.0001/SF = 0.01 at the pinned _SPEC_SF=0.01, but
# the generator's German inventory is too uniform for that cut at this
# scale (max per-part share 0.87% — measured): lowered to 0.5% so the
# HAVING branch returns rows.  Same class of knob as q18's 300→240.
_Q11_FRACTION = "0.005"

_Q11_SPEC = f"""
SELECT ps_partkey,
       CAST(sum(ps_supplycost * ps_availqty) AS DOUBLE) AS value
FROM {{partsupp}}, {{supplier}}, {{nation}}
WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND n_name = 'GERMANY'
GROUP BY ps_partkey
HAVING sum(ps_supplycost * ps_availqty) > (
  SELECT sum(ps_supplycost * ps_availqty) * {_Q11_FRACTION}
  FROM {{partsupp}}, {{supplier}}, {{nation}}
  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'GERMANY')
ORDER BY value DESC, ps_partkey
"""
# ^ the HAVING comparison stays exact decimal-vs-decimal on both sides
#   (0.01 parses as an exact decimal literal in both engines); only the
#   projected value is converted to double.

_Q13_SPEC = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM {customer} LEFT OUTER JOIN {orders}
    ON c_custkey = o_custkey AND o_comment NOT LIKE '%special%requests%'
  GROUP BY c_custkey
) AS c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

_Q15_SPEC = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM {lineitem}
  WHERE l_shipdate >= date '1996-01-01' AND l_shipdate < date '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, s_address, s_phone,
       CAST(total_revenue AS DOUBLE) AS total_revenue
FROM {supplier}, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""

_Q16_SPEC = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT ps_suppkey) AS supplier_cnt
FROM {partsupp}, {part}
WHERE p_partkey = ps_partkey
  AND p_brand <> 'Brand#5' AND p_type NOT LIKE 'MEDIUM POLISHED%'
  AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
  AND ps_suppkey NOT IN (
    SELECT s_suppkey FROM {supplier}
    WHERE s_comment LIKE '%Customer%Complaints%')
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

_Q17_SPEC = """
SELECT CAST(sum(l_extendedprice) AS DOUBLE) / 7.0 AS avg_yearly
FROM {lineitem}, {part},
     (SELECT l_partkey AS agg_partkey,
             sum(l_quantity) AS sum_qty, count(*) AS cnt_qty
      FROM {lineitem} GROUP BY l_partkey) AS part_agg
WHERE p_partkey = l_partkey AND agg_partkey = l_partkey
  AND p_brand = 'Brand#23' AND p_container = 'MED BOX'
  AND l_quantity * 5 * cnt_qty < sum_qty
"""
# ^ two adaptations: the correlated 0.2*avg(l_quantity) comparison is
#   algebraically cleared of division (l_quantity < 0.2*sum/cnt  ⟺
#   5*cnt*l_quantity < sum, cnt > 0) so the predicate is exact
#   decimal-vs-decimal in both engines — avg()'s decimal result type is
#   engine-specific; and the subquery is the decorrelated per-partkey
#   aggregate join, which is also the plan that scales (one hash
#   aggregate + one equi-join instead of a per-row rescan).

_Q20_SPEC = """
SELECT s_name, s_address
FROM {supplier}, {nation}
WHERE s_suppkey IN (
    SELECT ps_suppkey FROM {partsupp}
    WHERE ps_partkey IN (SELECT p_partkey FROM {part}
                         WHERE p_name LIKE 'brown%')
      AND 2 * ps_availqty > (
        SELECT sum(l_quantity) FROM {lineitem}
        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          AND l_shipdate >= date '1994-01-01' AND l_shipdate < date '1995-01-01'))
  AND s_nationkey = n_nationkey AND n_name = 'CANADA'
ORDER BY s_name
"""
# ^ ps_availqty > 0.5*sum(l_quantity) is cleared of the 0.5 multiply
#   (2*ps_availqty > sum) so the comparison is exact integer-vs-decimal
#   in both engines; NULL sums (no matching lineitems) exclude the row
#   exactly as the canonical form does.  The color parameter is 'brown'
#   (spec rule: any generated color): 'forest' is not in this
#   generator's color vocabulary, so the spec's example literal would
#   select zero parts.

_Q22_SPEC = """
SELECT cntrycode, count(*) AS numcust,
       CAST(sum(c_acctbal) AS DOUBLE) AS totacctbal
FROM (
  SELECT substring(c_phone, 1, 2) AS cntrycode, c_acctbal
  FROM {customer}
  WHERE substring(c_phone, 1, 2) IN ('13', '31', '23', '29', '30', '18', '17')
    AND c_acctbal * (
      SELECT count(*) FROM {customer}
      WHERE c_acctbal > 0.00
        AND substring(c_phone, 1, 2) IN ('13', '31', '23', '29', '30', '18', '17'))
      > (
      SELECT sum(c_acctbal) FROM {customer}
      WHERE c_acctbal > 0.00
        AND substring(c_phone, 1, 2) IN ('13', '31', '23', '29', '30', '18', '17'))
    AND NOT EXISTS (
      SELECT * FROM {orders}
      WHERE o_custkey = c_custkey AND o_orderdate >= date '1997-01-01')
) AS custsale
GROUP BY cntrycode
ORDER BY cntrycode
"""
# ^ two adaptations: c_acctbal > avg(...) is cleared of the division
#   (c_acctbal*count > sum; count > 0 and both sides stay exact decimal)
#   because avg()'s decimal result type is engine-specific; and the
#   anti-join is "no orders SINCE 1997" — this generator gives every
#   customer at least one order (measured: zero order-less customers at
#   sf0.01), so the spec's lifetime NOT EXISTS is structurally empty and
#   would prove nothing.  "Lapsed customers" keeps the anti-join live.

_Q18_SPEC = f"""
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS VARCHAR(10)) AS o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
FROM {{customer}}, {{orders}}, {{lineitem}}
WHERE o_orderkey IN (
    SELECT l_orderkey FROM {{lineitem}}
    GROUP BY l_orderkey HAVING sum(l_quantity) > {_Q18_QTY})
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


def _spec_gate(text: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_spec_tables(spark)
        return spark.sql(text.format(**_refs("spark")))

    return run


SPECS = [
    QuerySpec("q1_spec", _spec_gate(_Q1_SPEC), _Q1_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q1, decimal-exact driver gate"),
    QuerySpec("q6_spec", _spec_gate(_Q6_SPEC), _Q6_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q6, decimal-exact driver gate"),
    QuerySpec("q4_spec", _spec_gate(_Q4_SPEC), _Q4_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q4 (EXISTS semi-join), driver gate"),
    QuerySpec("q3_spec", _spec_gate(_Q3_SPEC), _Q3_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q3, decimal-exact top-k driver gate"),
    QuerySpec("q12_spec", _spec_gate(_Q12_SPEC), _Q12_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q12, conditional-agg driver gate"),
    QuerySpec("q18_spec", _spec_gate(_Q18_SPEC), _Q18_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q18, decimal-exact driver gate"),
    QuerySpec("q5_spec", _spec_gate(_Q5_SPEC), _Q5_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q5, 6-way star join driver gate"),
    QuerySpec("q7_spec", _spec_gate(_Q7_SPEC), _Q7_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q7, nation-pair volume driver gate"),
    QuerySpec("q10_spec", _spec_gate(_Q10_SPEC), _Q10_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q10, top-20 customers driver gate"),
    QuerySpec("q14_spec", _spec_gate(_Q14_SPEC), _Q14_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q14, promo ratio driver gate"),
    QuerySpec("q19_spec", _spec_gate(_Q19_SPEC), _Q19_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q19, OR-group predicate driver gate"),
    QuerySpec("q21_spec", _spec_gate(_Q21_SPEC), _Q21_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q21, anti/semi self-join driver gate"),
    QuerySpec("q2_spec", _spec_gate(_Q2_SPEC), _Q2_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q2, correlated min-cost driver gate"),
    QuerySpec("q8_spec", _spec_gate(_Q8_SPEC), _Q8_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q8, market-share ratio driver gate"),
    QuerySpec("q9_spec", _spec_gate(_Q9_SPEC), _Q9_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q9, product-profit driver gate"),
    QuerySpec("q11_spec", _spec_gate(_Q11_SPEC), _Q11_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q11, HAVING-fraction driver gate"),
    QuerySpec("q13_spec", _spec_gate(_Q13_SPEC), _Q13_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q13, outer-join distribution gate"),
    QuerySpec("q15_spec", _spec_gate(_Q15_SPEC), _Q15_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q15, CTE + scalar-max driver gate"),
    QuerySpec("q16_spec", _spec_gate(_Q16_SPEC), _Q16_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q16, count-distinct driver gate"),
    QuerySpec("q17_spec", _spec_gate(_Q17_SPEC), _Q17_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q17, per-part mean threshold gate"),
    QuerySpec("q20_spec", _spec_gate(_Q20_SPEC), _Q20_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q20, nested-IN half-stock gate"),
    QuerySpec("q22_spec", _spec_gate(_Q22_SPEC), _Q22_SPEC.format(**_refs("duckdb")),
              "canonical full-schema Q22, global-mean anti-join gate"),
]
