"""Declared conformance queries (SURVEY.md §2.13).

Each entry pairs a Spark DataFrame program with the ANSI-SQL oracle
DuckDB runs on the same parquet tables. Column names are aliased
identically on both sides (the driver sorts columns by name before
hashing). Floats are rounded; orderings are deterministic on unique
keys.

The Spark side is written DataFrame-first so Catalyst applies
pushdown / pruning / broadcast decisions; the SQL strings exist only
as the independent oracle.

Cross-engine float conventions (learned the hard way):
- Never ROUND to fewer decimals than the true decimal precision of
  the value: Spark rounds HALF_UP on the shortest-decimal rep while
  DuckDB C-rounds the raw binary, and they disagree exactly on the
  half-way points that p-decimal money values produce at p-1.
- AVG / ratio outputs are epsilon-nudged (+5e-10 at 4dp, +5e-12 at
  6dp) before rounding: true averages lie on a 1/(100*n) grid, so an
  exact 4dp half-point (e.g. 307.03/8 = 38.37875) is possible and
  the nudge pushes both engines off the boundary in the same
  direction while being far smaller than the grid spacing.
"""

from __future__ import annotations

import decimal
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from model_presto_spark.io import load_table
from model_presto_spark.operators.asof import asof_join
from model_presto_spark.operators.quantiles import exact_grouped_quantiles

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Shared 6-dp cross-engine rounding convention (see the module
# docstring for why the +5e-12 nudge exists). Query modules import
# these rather than redefining them so the convention has one home.
R6_SQL = "ROUND({x} + 5e-12, 6)"


def r6(c):
    return F.round(c + F.lit(5e-12), 6)


def r6_py(x: float) -> float:
    """``r6`` for a value computed on the driver: Spark's ROUND is
    HALF_UP on the exact binary expansion of the double, which is what
    ``Decimal(float).quantize`` does, bit for bit."""
    return float(
        decimal.Decimal(x + 5e-12).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


# ---------------------------------------------------------------------------
# Q1 — scan / projection / ordered limit  (S4/S7, P1, O6)
# ---------------------------------------------------------------------------
@register(
    "q01_scan_project",
    """
    SELECT l_orderkey, l_partkey, l_quantity
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    LIMIT 100
    """,
    doc="Parquet scan + column projection + deterministic top-100.",
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy("l_orderkey", "l_linenumber")
        .limit(100)
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


# ---------------------------------------------------------------------------
# Q2 — derived arithmetic projection  (P4/P5)
# ---------------------------------------------------------------------------
@register(
    "q02_derived_expr",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 4) AS revenue
    FROM lineitem
    """,
    doc="Per-row derived column (normalization-style arithmetic).",
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Q3 — conjunctive range filters + global agg  (P7/P9/P16; TPC-H Q6 shape)
# ---------------------------------------------------------------------------
@register(
    "q03_filter_sum",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pushed-down range predicates + single agg.",
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Q4 — null handling  (P12/P13)
# ---------------------------------------------------------------------------
@register(
    "q04_null_counts",
    """
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(value) AS n_value,
           COUNT(props) AS n_props
    FROM events
    GROUP BY event_type
    """,
    doc="Null-skipping counts per column (dropna/isNotNull analog).",
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_value"),
        F.count("props").alias("n_props"),
    )


# ---------------------------------------------------------------------------
# Q5 — string normalization + negated contains  (P15/F1)
# ---------------------------------------------------------------------------
@register(
    "q05_string_filter",
    """
    SELECT COUNT(*) AS n_no_comma,
           COUNT(CASE WHEN norm_name NOT LIKE '%e%' THEN 1 END) AS n_no_e
    FROM (
      SELECT REPLACE(TRANSLATE(LOWER(p_name), 'éï', 'ei'), ' - ', '+') AS norm_name
      FROM part
      WHERE p_name NOT LIKE '%,%'
    )
    """,
    doc="Lower/translate/replace chain + negated substring filters.",
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    norm = F.replace(
        F.translate(F.lower(F.col("p_name")), "éï", "ei"), F.lit(" - "), F.lit("+")
    )
    return (
        part.filter(~F.col("p_name").contains(","))
        .select(norm.alias("norm_name"))
        .agg(
            F.count(F.lit(1)).alias("n_no_comma"),
            F.count(F.when(~F.col("norm_name").contains("e"), 1)).alias("n_no_e"),
        )
    )


# ---------------------------------------------------------------------------
# Q6 — bitmask predicate  (P17/F14)
# ---------------------------------------------------------------------------
@register(
    "q06_bitmask",
    """
    SELECT (o_orderkey & 7) AS bucket, COUNT(*) AS n
    FROM orders
    WHERE (o_orderkey & 1) = 0
    GROUP BY (o_orderkey & 7)
    """,
    doc="QA-bitfield style bitwiseAnd predicate + bucket counts.",
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey").bitwiseAND(F.lit(1)) == 0)
        .groupBy(F.col("o_orderkey").bitwiseAND(F.lit(7)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Q7 — CASE masking / relabel  (P18/F11/F13)
# ---------------------------------------------------------------------------
@register(
    "q07_case_relabel",
    """
    SELECT CASE WHEN l_returnflag = 'N' AND l_linestatus = 'O' THEN 'open'
                WHEN l_returnflag = 'R' THEN 'returned'
                WHEN l_returnflag = 'A' THEN 'accepted'
                ELSE 'other' END AS status,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY 1
    """,
    doc="Chained when/otherwise relabeling (land-cover rewrite analog).",
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    status = (
        F.when((F.col("l_returnflag") == "N") & (F.col("l_linestatus") == "O"), "open")
        .when(F.col("l_returnflag") == "R", "returned")
        .when(F.col("l_returnflag") == "A", "accepted")
        .otherwise("other")
    )
    return li.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


# ---------------------------------------------------------------------------
# Q8 — inner equi-join + grouped count  (J2)
# ---------------------------------------------------------------------------
@register(
    "q08_join_agg",
    """
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
    doc="Inner equi-join orders⋈customer; dim side broadcastable.",
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# Q9 — left join + COALESCE fallback  (J1, P21)
# ---------------------------------------------------------------------------
@register(
    "q09_left_join_coalesce",
    """
    SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
           COALESCE(c.cnt, -1) AS n_customers
    FROM nation n
    LEFT JOIN (
      SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey
    ) c ON n.n_nationkey = c.c_nationkey
    """,
    doc="Empty-group fallback: left join + coalesce(-1) (default-image analog).",
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    counts = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("cnt"))
    return n.join(counts, n.n_nationkey == counts.c_nationkey, "left").select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("nation"),
        F.coalesce(F.col("cnt"), F.lit(-1)).alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# Q10 — multi-key full-outer join of two aggregated streams  (J3)
# ---------------------------------------------------------------------------
@register(
    "q10_outer_join_streams",
    """
    WITH views AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             COUNT(*) AS n_views, ROUND(SUM(value), 2) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ), purchases AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             COUNT(*) AS n_purchases, ROUND(SUM(value), 2) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT COALESCE(v.user_id, p.user_id) AS user_id,
           COALESCE(v.day, p.day) AS day,
           COALESCE(v.n_views, 0) AS n_views,
           COALESCE(p.n_purchases, 0) AS n_purchases,
           COALESCE(v.view_value, 0.0) AS view_value,
           COALESCE(p.purchase_value, 0.0) AS purchase_value
    FROM views v FULL OUTER JOIN purchases p
      ON v.user_id = p.user_id AND v.day = p.day
    """,
    doc="Two aggregated event streams full-outer-joined on (user, day).",
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")

    def stream(etype: str, n_alias: str, v_alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy("user_id", day)
            .agg(
                F.count(F.lit(1)).alias(n_alias),
                F.round(F.sum("value"), 2).alias(v_alias),
            )
        )

    v = stream("view", "n_views", "view_value")
    p = stream("purchase", "n_purchases", "purchase_value")
    return v.join(p, ["user_id", "day"], "full_outer").select(
        "user_id",
        "day",
        F.coalesce("n_views", F.lit(0)).alias("n_views"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("view_value", F.lit(0.0)).alias("view_value"),
        F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# Q11 — semi / anti join  (J-absent note: existence filters)
# ---------------------------------------------------------------------------
@register(
    "q11_semi_anti",
    """
    SELECT 'ordered_parts' AS side, COUNT(*) AS n FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    UNION ALL
    SELECT 'never_ordered_customers' AS side, COUNT(*) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="left_semi (parts ever ordered) + left_anti (customers w/o orders).",
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("ordered_parts").alias("side"), "n")
    )
    b = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("never_ordered_customers").alias("side"), "n")
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Q12 — dictionary (dimension) broadcast join  (J7)
# ---------------------------------------------------------------------------
@register(
    "q12_dict_join",
    """
    SELECT n.n_name AS nation, r.r_name AS region, COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    doc="Label-encode via tiny dim tables (broadcast hash join).",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Q13 — as-of join with tolerance  (J5)
# ---------------------------------------------------------------------------
@register(
    "q13_asof_join",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         c AS (SELECT * FROM events WHERE event_type = 'click'),
         m AS (
           SELECT p.event_id,
                  c.event_id AS click_event_id,
                  c.value AS click_value,
                  ROW_NUMBER() OVER (
                    PARTITION BY p.event_id
                    ORDER BY c.ts DESC, c.event_id DESC
                  ) AS rn
           FROM p JOIN c
             ON p.user_id = c.user_id
            AND c.ts <= p.ts
            AND c.ts >= p.ts - INTERVAL 1 HOUR
         )
    SELECT p.event_id, p.user_id,
           COALESCE(m.click_event_id, -1) AS click_event_id,
           ROUND(COALESCE(m.click_value, -1.0), 2) AS click_value
    FROM p LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (event_id)
    """,
    doc="As-of: latest click ≤ purchase ts within 1h per user "
    "(reference dynamicworld.py:108-137 nearest-in-tolerance semantics).",
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    # String-expression build (guide §7.3): same Catalyst trees as the
    # Column forms (`-1.0D` keeps the double literal — a bare SQL
    # `-1.0` parses as DECIMAL(2,1)), a fraction of the py4j
    # round-trips. Hash-match re-verified at sf0.001/0.01/0.1.
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where("event_type = 'purchase'").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where("event_type = 'click'").selectExpr(
        "user_id", "ts AS click_ts", "event_id AS click_event_id",
        "value AS click_value",
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        tolerance="1 hour",
        direction="backward",
        left_key="event_id",
    )
    return joined.selectExpr(
        "event_id",
        "user_id",
        "COALESCE(click_event_id, -1) AS click_event_id",
        "ROUND(COALESCE(click_value, -1.0D), 2) AS click_value",
    )


# ---------------------------------------------------------------------------
# Q14 — exact median per group  (A1)
# ---------------------------------------------------------------------------
@register(
    "q14_median",
    """
    SELECT l_returnflag,
           ROUND(MEDIAN(l_quantity), 4) AS med_qty,
           ROUND(MEDIAN(l_extendedprice), 4) AS med_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact interpolated median (monthly-composite analog).",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median via sketch-bracket + refine.

    Naive ``percentile(col, 0.5)`` buffers every value of a group in
    one reducer — a scale-killer when a group holds billions of rows
    (100 TB, 3 return-flag groups).  ``exact_grouped_quantiles``
    computes the same bit-exact interpolated median with two mergeable
    passes: an ``approx_percentile`` sketch brackets the median's rank
    (±n/accuracy contract), then only the ~0.1 % in-bracket slice is
    collected for exact order-statistic selection.  Per-group reducer
    state is O(n/accuracy), not O(n).  Pure-sketch
    ``approx_percentile`` (bounded error, one pass) is graded by q72.

    Reference anchor: median composite `src/optimization.py:90,137`.
    """
    li = _t(spark, sf_dir, "lineitem")
    med = exact_grouped_quantiles(
        li,
        ["l_returnflag"],
        [("l_quantity", 0.5, "med_qty"), ("l_extendedprice", 0.5, "med_price")],
    )
    return med.select(
        "l_returnflag",
        F.round("med_qty", 4).alias("med_qty"),
        F.round("med_price", 4).alias("med_price"),
    )


# ---------------------------------------------------------------------------
# Q15 — deterministic mode per group  (A2)
# ---------------------------------------------------------------------------
@register(
    "q15_mode",
    """
    WITH counts AS (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events GROUP BY user_id, event_type
    ), ranked AS (
      SELECT user_id, event_type, cnt,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY cnt DESC, event_type ASC
             ) AS rn
      FROM counts
    )
    SELECT user_id, event_type AS mode_type, cnt AS mode_count
    FROM ranked WHERE rn = 1
    """,
    doc="Mode with deterministic lexicographic-min tie-break (SURVEY §7).",
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), F.col("cnt").alias("mode_count"))
    )


# ---------------------------------------------------------------------------
# Q16 — TPC-H Q1 shape: multi-agg per group  (A3-A8)
# ---------------------------------------------------------------------------
@register(
    "q16_tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           ROUND(AVG(l_quantity) + 5e-10, 4) AS avg_qty,
           ROUND(AVG(l_extendedprice) + 5e-10, 4) AS avg_price,
           ROUND(AVG(l_discount) + 5e-10, 4) AS avg_disc,
           ROUND(STDDEV_POP(l_quantity), 4) AS std_qty,
           ROUND(MIN(l_quantity), 4) AS min_qty,
           ROUND(MAX(l_quantity), 4) AS max_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="The flagship: filter + grouped sum/avg/stddev/min/max/count "
    "(partial-aggregation pattern, reference src/utils.py:12-52).",
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity") + 5e-10, 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice") + 5e-10, 4).alias("avg_price"),
            F.round(F.avg("l_discount") + 5e-10, 4).alias("avg_disc"),
            F.round(F.stddev_pop("l_quantity"), 4).alias("std_qty"),
            F.round(F.min("l_quantity"), 4).alias("min_qty"),
            F.round(F.max("l_quantity"), 4).alias("max_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Q17 — quantile/mean/stddev per group  (A9)
# ---------------------------------------------------------------------------
@register(
    "q17_quantiles",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.25), 4) AS q25,
           ROUND(quantile_cont(o_totalprice, 0.50), 4) AS q50,
           ROUND(quantile_cont(o_totalprice, 0.75), 4) AS q75,
           ROUND(AVG(o_totalprice) + 5e-10, 4) AS mean_price,
           ROUND(STDDEV_SAMP(o_totalprice), 4) AS std_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="reshape_for_aggregate analog: q25/q50/q75 + mean + std per group.",
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q25/q50/q75 share ONE rank sketch per group (exact via bracket
    refine — see q14); mean/std ride the same refine aggregation."""
    o = _t(spark, sf_dir, "orders")
    # moments ride the refine pass (extra_aggs): the refine aggregation
    # already sees every row of every group, so avg/stddev cost no
    # third scan of orders and no extra join — 3 scans + 1 broadcast
    # join -> 2 scans, 0 joins beyond the bracket broadcast (r08 opt).
    quant = exact_grouped_quantiles(
        o,
        ["o_orderpriority"],
        [
            ("o_totalprice", 0.25, "q25"),
            ("o_totalprice", 0.50, "q50"),
            ("o_totalprice", 0.75, "q75"),
        ],
        extra_aggs=[
            F.round(F.avg("o_totalprice") + 5e-10, 4).alias("mean_price"),
            F.round(F.stddev_samp("o_totalprice"), 4).alias("std_price"),
        ],
    )
    return quant.select(
        "o_orderpriority",
        F.round("q25", 4).alias("q25"),
        F.round("q50", 4).alias("q50"),
        F.round("q75", 4).alias("q75"),
        "mean_price",
        "std_price",
    )


# ---------------------------------------------------------------------------
# Q18 — width_bucket histogram  (A10/W11)
# ---------------------------------------------------------------------------
@register(
    "q18_histogram",
    """
    SELECT LEAST(CAST(FLOOR(l_quantity / 10) AS BIGINT) + 1, 6) AS bucket,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY 1
    """,
    doc="width_bucket(l_quantity, 0, 50, 5) histogram (value_counts analog).",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.expr("width_bucket(l_quantity, 0, 50, 5)").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Q19 — three-way join rollup stats  (A12)
# ---------------------------------------------------------------------------
@register(
    "q19_threeway_stats",
    """
    SELECT n.n_name AS nation,
           COUNT(*) AS n_items,
           ROUND(SUM(l.l_extendedprice), 4) AS total_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="Per-tile stats rollup analog: lineitem→orders→customer→nation.",
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 4).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Q20 — tumbling-window aggregate  (W1)
# ---------------------------------------------------------------------------
@register(
    "q20_tumbling_day",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value,
           ROUND(AVG(value) + 5e-10, 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Calendar tumbling window (monthly-composite resample analog).",
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.avg("value") + 5e-10, 4).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# Q21 — per-group capped ranking  (W4/W5)
# ---------------------------------------------------------------------------
@register(
    "q21_topn_per_group",
    """
    SELECT c_nationkey AS nationkey, c_custkey AS custkey,
           ROUND(c_acctbal, 2) AS acctbal, rn AS rank
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey ASC
             ) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
    doc="Top-3 per nation (first-100-per-class split analog).",
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_custkey").alias("custkey"),
            F.round("c_acctbal", 2).alias("acctbal"),
            F.col("rn").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Q22 — multi-column top-k  (O1-O6)
# ---------------------------------------------------------------------------
@register(
    "q22_topk_order",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 50
    """,
    doc="Global ordered top-k (TakeOrderedAndProject physical op).",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(50)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


# ---------------------------------------------------------------------------
# Q23 — kNN top-k nearest neighbors  (O7)
# ---------------------------------------------------------------------------
@register(
    "q23_knn",
    """
    WITH pts AS (
      SELECT c_custkey AS id,
             c_acctbal AS x,
             CAST(c_custkey % 97 AS DOUBLE) AS y
      FROM customer
    ), probes AS (SELECT * FROM pts WHERE id < 10),
    scored AS (
      SELECT p.id AS probe_id, c.id AS neighbor_id,
             (p.x - c.x) * (p.x - c.x) + (p.y - c.y) * (p.y - c.y) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY p.id
               ORDER BY (p.x - c.x) * (p.x - c.x) + (p.y - c.y) * (p.y - c.y) ASC,
                        c.id ASC
             ) AS rank
      FROM probes p CROSS JOIN pts c
      WHERE p.id <> c.id
    )
    SELECT probe_id, neighbor_id, ROUND(dist, 4) AS dist, rank
    FROM scored WHERE rank <= 5
    """,
    doc="Exact top-5 NN over 2-d points (knn.py analog; broadcast+window).",
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    from model_presto_spark.operators.knn import knn_join

    c = _t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.array(
            F.col("c_acctbal"), (F.col("c_custkey") % 97).cast("double")
        ).alias("vec"),
    )
    probes = pts.filter(F.col("id") < 10)
    out = knn_join(
        probes.withColumnRenamed("id", "probe_id"),
        pts.withColumnRenamed("id", "neighbor_id"),
        probe_id="probe_id",
        cand_id="neighbor_id",
        probe_vec="vec",
        cand_vec="vec",
        k=5,
        metric="sqeuclidean",
        exclude_self=True,
    )
    return out.select("probe_id", "neighbor_id", F.round("dist", 4).alias("dist"), "rank")


# ---------------------------------------------------------------------------
# Q24 — union w/ discriminator + explode  (U1/U2/U6)
# ---------------------------------------------------------------------------
@register(
    "q24_union_explode",
    """
    WITH u AS (
      SELECT 'high' AS side, l_orderkey, l_linenumber
      FROM lineitem WHERE l_quantity >= 45
      UNION ALL
      SELECT 'low' AS side, l_orderkey, l_linenumber
      FROM lineitem WHERE l_quantity <= 5
    )
    SELECT side, COUNT(*) AS n_rows, CAST(SUM(i) AS BIGINT) AS sum_idx
    FROM u, UNNEST(generate_series(1, l_linenumber)) AS t(i)
    GROUP BY side
    """,
    doc="Union-with-literal + explode(sequence) row multiplication.",
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    hi = li.filter(F.col("l_quantity") >= 45).select(
        F.lit("high").alias("side"), "l_orderkey", "l_linenumber"
    )
    lo = li.filter(F.col("l_quantity") <= 5).select(
        F.lit("low").alias("side"), "l_orderkey", "l_linenumber"
    )
    u = hi.unionByName(lo)
    return (
        u.select("side", F.explode_outer(F.sequence(F.lit(1), F.col("l_linenumber"))).alias("i"))
        # cheap column-ref guard: a NULL l_linenumber would emit an
        # i=NULL row that count(1) counts where plain explode dropped
        # the row (latent only because TPC-H l_linenumber is non-null)
        .filter(F.col("i").isNotNull())
        .groupBy("side")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("i").alias("sum_idx"))
    )


# ---------------------------------------------------------------------------
# Q25 — date functions  (F5-F9)
# ---------------------------------------------------------------------------
@register(
    "q25_dates",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           COUNT(*) AS n,
           CAST(SUM(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS total_days,
           MAX(strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m-%d')) AS max_next_month
    FROM orders
    GROUP BY 1, 2
    """,
    doc="year/month extraction, datediff, add_months, date_format.",
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))).alias("total_days"),
            F.max(F.date_format(F.add_months("o_orderdate", 1), "yyyy-MM-dd")).alias("max_next_month"),
        )
    )


# ---------------------------------------------------------------------------
# Q26 — string functions  (F2-F4)
# ---------------------------------------------------------------------------
@register(
    "q26_strings",
    """
    SELECT split_part(p_name, ' ', 1) AS first_word,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           COUNT(*) AS n,
           MIN(concat_ws('#', p_brand, p_type)) AS min_tag
    FROM part
    GROUP BY 1, 2
    """,
    doc="split/substring_index/regexp_extract/concat_ws (filename-parse analog).",
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.groupBy(
            F.substring_index("p_name", " ", 1).alias("first_word"),
            F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.concat_ws("#", "p_brand", "p_type")).alias("min_tag"),
        )
    )


# ---------------------------------------------------------------------------
# Q27 — math/trig functions  (F15/F16)
# ---------------------------------------------------------------------------
@register(
    "q27_math",
    """
    SELECT c_custkey,
           ROUND(
             sqrt(abs(c_acctbal))
             + pow(sin(radians(CAST(c_custkey % 360 AS DOUBLE))), 2)
             + cos(radians(CAST(c_custkey % 360 AS DOUBLE))),
             6
           ) AS metric
    FROM customer
    WHERE c_custkey < 500
    """,
    doc="sqrt/pow/abs/sin/cos/radians (unit-sphere encoding analog).",
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    ang = F.radians((F.col("c_custkey") % 360).cast("double"))
    metric = F.sqrt(F.abs(F.col("c_acctbal"))) + F.pow(F.sin(ang), 2) + F.cos(ang)
    return c.filter(F.col("c_custkey") < 500).select(
        "c_custkey", F.round(metric, 6).alias("metric")
    )


# ---------------------------------------------------------------------------
# Q28 — deterministic modulo split  (R2)
# ---------------------------------------------------------------------------
@register(
    "q28_mod_split",
    """
    SELECT l_orderkey % 10 AS bucket, COUNT(*) AS n
    FROM lineitem GROUP BY 1
    """,
    doc="Deterministic shard assignment via arithmetic pmod "
    "(engine-hash intentionally avoided for cross-engine parity).",
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.pmod(F.col("l_orderkey"), F.lit(10)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Q29 — classification metrics as aggregates  (A14)
# ---------------------------------------------------------------------------
@register(
    "q29_confusion",
    """
    WITH scored AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label,
             CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS pred
      FROM lineitem
    )
    SELECT CAST(SUM(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           ROUND(SUM(CASE WHEN label = pred THEN 1 ELSE 0 END) * CAST(1.0 AS DOUBLE) / COUNT(*) + 5e-12, 6) AS accuracy
    FROM scored
    """,
    doc="Confusion counts + accuracy from CASE-derived (pred,label).",
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    label = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    pred = F.when(F.col("l_discount") > 0.05, 1).otherwise(0)
    s = li.select(label.alias("label"), pred.alias("pred"))
    return s.agg(
        F.sum(F.when((F.col("label") == 1) & (F.col("pred") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("pred") == 1), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("label") == 1) & (F.col("pred") == 0), 1).otherwise(0)).alias("fn"),
        F.sum(F.when((F.col("label") == 0) & (F.col("pred") == 0), 1).otherwise(0)).alias("tn"),
        F.round(
            F.sum(F.when(F.col("label") == F.col("pred"), 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1))
            + 5e-12,
            6,
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# Q30 — array clip/pad to fixed-length series  (W2/W3)
# ---------------------------------------------------------------------------
@register(
    "q30_series_pad",
    """
    WITH series AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(LEAST(len(vals), 12) AS INT) AS n_used,
           ROUND(
             list_sum(
               list_concat(
                 vals[1:12],
                 list_transform(range(12 - LEAST(len(vals), 12)), x -> vals[1])
               )
             ),
             2
           ) AS series_sum
    FROM series
    """,
    doc="12-step clip + edge-pad of per-entity ordered series "
    "(reference dynamicworld.py:14-29 pad_array + dataset.py:280-287 clip).",
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    vals = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
        ),
        lambda s: s.value,
    )
    g = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(vals.alias("vals"))
    )
    clipped = F.slice(F.col("vals"), 1, 12)
    padded = F.concat(
        clipped,
        F.array_repeat(
            F.element_at(F.col("vals"), 1),
            F.greatest(F.lit(0), F.lit(12) - F.size(clipped)),
        ),
    )
    return g.select(
        "user_id",
        F.least(F.size("vals"), F.lit(12)).cast("int").alias("n_used"),
        F.round(
            F.aggregate(padded, F.lit(0.0), lambda acc, x: acc + x), 2
        ).alias("series_sum"),
    )


# Register the training-data pipeline queries (documents/embeddings)
# and the band-math / split / time-series operator queries.
from model_presto_spark.plans import queries_dedup2 as _queries_dedup2  # noqa: E402,F401
from model_presto_spark.plans import queries_docs as _queries_docs  # noqa: E402,F401
from model_presto_spark.plans import queries_grid as _queries_grid  # noqa: E402,F401
from model_presto_spark.plans import queries_ml as _queries_ml  # noqa: E402,F401
from model_presto_spark.plans import queries_ops as _queries_ops  # noqa: E402,F401
from model_presto_spark.plans import queries_ops2 as _queries_ops2  # noqa: E402,F401
from model_presto_spark.plans import queries_ops3 as _queries_ops3  # noqa: E402,F401
from model_presto_spark.plans import queries_llm3 as _queries_llm3  # noqa: E402,F401
from model_presto_spark.plans import queries_llm2 as _queries_llm2  # noqa: E402,F401
from model_presto_spark.plans import queries_sql2 as _queries_sql2  # noqa: E402,F401
from model_presto_spark.plans import queries_approx as _queries_approx  # noqa: E402,F401
from model_presto_spark.plans import queries_llm4 as _queries_llm4  # noqa: E402,F401
from model_presto_spark.plans import queries_llm5 as _queries_llm5  # noqa: E402,F401
from model_presto_spark.plans import queries_analytics as _queries_analytics  # noqa: E402,F401
from model_presto_spark.plans import queries_text3 as _queries_text3  # noqa: E402,F401
from model_presto_spark.plans import queries_analytics2 as _queries_analytics2  # noqa: E402,F401
from model_presto_spark.plans import queries_graph2 as _queries_graph2  # noqa: E402,F401
from model_presto_spark.plans import queries_analytics3 as _queries_analytics3  # noqa: E402,F401
from model_presto_spark.plans import queries_stats2 as _queries_stats2  # noqa: E402,F401
from model_presto_spark.plans import queries_analytics4 as _queries_analytics4  # noqa: E402,F401
from model_presto_spark.plans import queries_analytics5 as _queries_analytics5  # noqa: E402,F401
from model_presto_spark.plans import queries_stats3 as _queries_stats3  # noqa: E402,F401
from model_presto_spark.plans import queries_llm6 as _queries_llm6  # noqa: E402,F401
from model_presto_spark.plans import queries_tpch2 as _queries_tpch2  # noqa: E402,F401
from model_presto_spark.plans import queries_sql3 as _queries_sql3  # noqa: E402,F401
from model_presto_spark.plans import queries_ops4 as _queries_ops4  # noqa: E402,F401
from model_presto_spark.plans import queries_ops5 as _queries_ops5  # noqa: E402,F401
from model_presto_spark.plans import queries_ops6 as _queries_ops6  # noqa: E402,F401
from model_presto_spark.plans import queries_ops7 as _queries_ops7  # noqa: E402,F401
from model_presto_spark.plans import queries_tpch3 as _queries_tpch3  # noqa: E402,F401
from model_presto_spark.plans import queries_ops8 as _queries_ops8  # noqa: E402,F401
from model_presto_spark.plans import queries_ops9 as _queries_ops9  # noqa: E402,F401
from model_presto_spark.plans import queries_ops10 as _queries_ops10  # noqa: E402,F401
from model_presto_spark.plans import queries_ops11 as _queries_ops11  # noqa: E402,F401
from model_presto_spark.plans import queries_ops12 as _queries_ops12  # noqa: E402,F401
from model_presto_spark.plans import queries_ops13 as _queries_ops13  # noqa: E402,F401
from model_presto_spark.plans import queries_ops14 as _queries_ops14  # noqa: E402,F401
from model_presto_spark.plans import queries_ops15 as _queries_ops15  # noqa: E402,F401
from model_presto_spark.plans import queries_ops16 as _queries_ops16  # noqa: E402,F401
from model_presto_spark.plans import queries_ops17 as _queries_ops17  # noqa: E402,F401
from model_presto_spark.plans import queries_ops18 as _queries_ops18  # noqa: E402,F401
from model_presto_spark.plans import queries_ops19 as _queries_ops19  # noqa: E402,F401
from model_presto_spark.plans import queries_ops20 as _queries_ops20  # noqa: E402,F401
from model_presto_spark.plans import queries_ops21 as _queries_ops21  # noqa: E402,F401
from model_presto_spark.plans import queries_ops22 as _queries_ops22  # noqa: E402,F401
from model_presto_spark.plans import queries_ops23 as _queries_ops23  # noqa: E402,F401
from model_presto_spark.plans import queries_ops24 as _queries_ops24  # noqa: E402,F401
from model_presto_spark.plans import queries_ops25 as _queries_ops25  # noqa: E402,F401
from model_presto_spark.plans import queries_ops26 as _queries_ops26  # noqa: E402,F401
from model_presto_spark.plans import queries_ops27 as _queries_ops27  # noqa: E402,F401
from model_presto_spark.plans import queries_ops28 as _queries_ops28  # noqa: E402,F401
from model_presto_spark.plans import queries_ops29 as _queries_ops29  # noqa: E402,F401
from model_presto_spark.plans import queries_ops30 as _queries_ops30  # noqa: E402,F401
from model_presto_spark.plans import queries_ops31 as _queries_ops31  # noqa: E402,F401
from model_presto_spark.plans import queries_tpch4 as _queries_tpch4  # noqa: E402,F401
from model_presto_spark.plans import queries_sql4 as _queries_sql4  # noqa: E402,F401
from model_presto_spark.plans import queries_ops32 as _queries_ops32  # noqa: E402,F401
from model_presto_spark.plans import queries_llm7 as _queries_llm7  # noqa: E402,F401
from model_presto_spark.plans import queries_ops33 as _queries_ops33  # noqa: E402,F401
from model_presto_spark.plans import queries_ops34 as _queries_ops34  # noqa: E402,F401
from model_presto_spark.plans import queries_ops35 as _queries_ops35  # noqa: E402,F401
from model_presto_spark.plans import queries_ops36 as _queries_ops36  # noqa: E402,F401
from model_presto_spark.plans import queries_ops37 as _queries_ops37  # noqa: E402,F401
from model_presto_spark.plans import queries_ops38 as _queries_ops38  # noqa: E402,F401
from model_presto_spark.plans import queries_ops39 as _queries_ops39  # noqa: E402,F401
from model_presto_spark.plans import queries_ops40 as _queries_ops40  # noqa: E402,F401
from model_presto_spark.plans import queries_ops41 as _queries_ops41  # noqa: E402,F401
from model_presto_spark.plans import queries_ops42 as _queries_ops42  # noqa: E402,F401
from model_presto_spark.plans import queries_ops43 as _queries_ops43  # noqa: E402,F401
from model_presto_spark.plans import queries_ops44 as _queries_ops44  # noqa: E402,F401
from model_presto_spark.plans import queries_ops45 as _queries_ops45  # noqa: E402,F401
from model_presto_spark.plans import queries_ops46 as _queries_ops46  # noqa: E402,F401
from model_presto_spark.plans import queries_ops47 as _queries_ops47  # noqa: E402,F401
from model_presto_spark.plans import queries_ops48 as _queries_ops48  # noqa: E402,F401
from model_presto_spark.plans import queries_ops49 as _queries_ops49  # noqa: E402,F401
from model_presto_spark.plans import queries_ops50 as _queries_ops50  # noqa: E402,F401
from model_presto_spark.plans import queries_ops51 as _queries_ops51  # noqa: E402,F401
from model_presto_spark.plans import queries_ops52 as _queries_ops52  # noqa: E402,F401
from model_presto_spark.plans import queries_ops53 as _queries_ops53  # noqa: E402,F401
from model_presto_spark.plans import queries_ops54 as _queries_ops54  # noqa: E402,F401
from model_presto_spark.plans import queries_ops55 as _queries_ops55  # noqa: E402,F401
from model_presto_spark.plans import queries_ops56 as _queries_ops56  # noqa: E402,F401
from model_presto_spark.plans import queries_ops57 as _queries_ops57  # noqa: E402,F401
from model_presto_spark.plans import queries_ops58 as _queries_ops58  # noqa: E402,F401
from model_presto_spark.plans import queries_ops59 as _queries_ops59  # noqa: E402,F401
from model_presto_spark.plans import queries_ops60 as _queries_ops60  # noqa: E402,F401
from model_presto_spark.plans import queries_ops61 as _queries_ops61  # noqa: E402,F401
from model_presto_spark.plans import queries_ops62 as _queries_ops62  # noqa: E402,F401
from model_presto_spark.plans import queries_ops63 as _queries_ops63  # noqa: E402,F401
from model_presto_spark.plans import queries_ops64 as _queries_ops64  # noqa: E402,F401
from model_presto_spark.plans import queries_ops65 as _queries_ops65  # noqa: E402,F401
from model_presto_spark.plans import queries_ops66 as _queries_ops66  # noqa: E402,F401
from model_presto_spark.plans import queries_ops67 as _queries_ops67  # noqa: E402,F401
from model_presto_spark.plans import queries_ops68 as _queries_ops68  # noqa: E402,F401
from model_presto_spark.plans import queries_ops69 as _queries_ops69  # noqa: E402,F401
from model_presto_spark.plans import queries_ops70 as _queries_ops70  # noqa: E402,F401
from model_presto_spark.plans import queries_ops71 as _queries_ops71  # noqa: E402,F401
from model_presto_spark.plans import queries_ops72 as _queries_ops72  # noqa: E402,F401
from model_presto_spark.plans import queries_ops73 as _queries_ops73  # noqa: E402,F401
from model_presto_spark.plans import queries_ops74 as _queries_ops74  # noqa: E402,F401
from model_presto_spark.plans import queries_ops75 as _queries_ops75  # noqa: E402,F401
from model_presto_spark.plans import queries_ops76 as _queries_ops76  # noqa: E402,F401
from model_presto_spark.plans import queries_ops77 as _queries_ops77  # noqa: E402,F401
from model_presto_spark.plans import queries_ops78 as _queries_ops78  # noqa: E402,F401
from model_presto_spark.plans import queries_ops79 as _queries_ops79  # noqa: E402,F401
from model_presto_spark.plans import queries_ops80 as _queries_ops80  # noqa: E402,F401
from model_presto_spark.plans import queries_ops81 as _queries_ops81  # noqa: E402,F401
from model_presto_spark.plans import queries_ops82 as _queries_ops82  # noqa: E402,F401
from model_presto_spark.plans import queries_ops83 as _queries_ops83  # noqa: E402,F401
from model_presto_spark.plans import queries_ops84 as _queries_ops84  # noqa: E402,F401
from model_presto_spark.plans import queries_ops85 as _queries_ops85  # noqa: E402,F401
from model_presto_spark.plans import queries_ops86 as _queries_ops86  # noqa: E402,F401
from model_presto_spark.plans import queries_ops87 as _queries_ops87  # noqa: E402,F401
from model_presto_spark.plans import queries_ops88 as _queries_ops88  # noqa: E402,F401
from model_presto_spark.plans import queries_ops89 as _queries_ops89  # noqa: E402,F401
from model_presto_spark.plans import queries_ops90 as _queries_ops90  # noqa: E402,F401
from model_presto_spark.plans import queries_ops91 as _queries_ops91  # noqa: E402,F401
from model_presto_spark.plans import queries_ops92 as _queries_ops92  # noqa: E402,F401
from model_presto_spark.plans import queries_ops93 as _queries_ops93  # noqa: E402,F401
from model_presto_spark.plans import queries_ops94 as _queries_ops94  # noqa: E402,F401
from model_presto_spark.plans import queries_ops95 as _queries_ops95  # noqa: E402,F401
from model_presto_spark.plans import queries_ops96 as _queries_ops96  # noqa: E402,F401
from model_presto_spark.plans import queries_ops97 as _queries_ops97  # noqa: E402,F401
from model_presto_spark.plans import queries_ops98 as _queries_ops98  # noqa: E402,F401
from model_presto_spark.plans import queries_ops99 as _queries_ops99  # noqa: E402,F401
from model_presto_spark.plans import queries_ops100 as _queries_ops100  # noqa: E402,F401
from model_presto_spark.plans import queries_ops101 as _queries_ops101  # noqa: E402,F401
from model_presto_spark.plans import queries_ops102 as _queries_ops102  # noqa: E402,F401
from model_presto_spark.plans import queries_ops103 as _queries_ops103  # noqa: E402,F401
from model_presto_spark.plans import queries_ops104 as _queries_ops104  # noqa: E402,F401
from model_presto_spark.plans import queries_ops105 as _queries_ops105  # noqa: E402,F401
