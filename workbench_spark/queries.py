"""Correctness-gate query registry.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an equivalent DuckDB-ANSI-SQL oracle string over the same parquet
tables. The driver hash-matches values (columns sorted by name, rows
order-insensitive), so every computed column is aliased identically on
both sides and floating-point aggregates are rounded on both sides to
keep engine-level ULP noise out of the hash.

Operator keys reference SURVEY.md §2 (reference citations live in the
implementing modules under workbench_spark/operators/).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workbench_spark.operators.metrics import (
    exact_midrank_corr_sql as _corr_sql,
)
from workbench_spark.session import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# =====================================================================
# Relational core — TPC-H-style queries (scan/filter/agg/join/sort)
# =====================================================================


# exact quantized-sum mean + floor-form rounding, DuckDB side — the A5
# family convention for derived means of grid-valued data (see _DESC_MEAN
# below; this copy exists because q1's string is built before _DESC_MEAN's
# definition point would read naturally — keep the two textually identical)
_Q1_MEAN = (
    "floor((CAST(SUM(CAST(floor(CAST({c} AS DOUBLE) * 1e6 + 0.5) AS HUGEINT))"
    " AS DOUBLE) / COUNT({c}) / 1e6) * 1e6 + 0.5) / 1e6"
)

# Exact partition-invariant SUM reported at 4 decimals (r14 — the sf0.1
# hostile sweep flipped q1's sum_charge by one 1e-4 step: its terms
# price·(1-disc)·(1+tax) sit on the 1e-6 grid, so the TRUE sum can land
# exactly on a ROUND .5e-4 half-boundary, where float accumulation order
# picks the side; the 2dp/4dp-grid sums never can — ROUND4 is identity on
# their grid). Recipe: quantize each term to integer micro-units
# (floor(x·1e6+0.5), exact for ≤1e-6-grid terms), SUM the integers
# (BIGINT: headroom ~9.2e18 micro-units ≈ sf300 per group for sum_charge;
# DuckDB's BIGINT sum widens to HUGEINT), half-up round to 1e-4 IN INTEGER
# SPACE ((S+50) div 100 — integer div avoids the double-division-near-
# -integer ambiguity; positive sums only, negative dividends would need
# pca_exact._fdiv's floor-div CASE), then one exact double division.
_Q1_SUM_SQL = (
    "CAST((SUM(CAST(floor(({e}) * 1e6 + 0.5) AS BIGINT)) + 50) // 100"
    " AS DOUBLE) / 1e4"
)
_Q1_SUM_SPARK = (
    "CAST((SUM(CAST(floor(({e}) * 1e6 + 0.5) AS BIGINT)) + 50) DIV 100"
    " AS DOUBLE) / 1e4"
)


def _qmean(c: str):
    """Spark twin of _Q1_MEAN: exact integer-sum mean of micro-quantized
    values, floor-form rounded — partition-order-invariant where float
    AVG's low bits follow the shuffle layout (a mean of grid-valued data
    can sit exactly on a ROUND half-boundary — the r13 hostile-sweep flip
    class)."""
    q = F.floor(F.col(c).cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    mean = F.sum(q).cast("decimal(38,0)").cast("double") / F.count(F.col(c)) / F.lit(1e6)
    return F.floor(mean * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


@query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           {_Q1_SUM_SQL.format(e="l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
           {_Q1_MEAN.format(c="l_quantity")} AS avg_qty,
           {_Q1_MEAN.format(c="l_extendedprice")} AS avg_price,
           {_Q1_MEAN.format(c="l_discount")} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the flagship scan+agg. Map-side partial
    aggregation on (returnflag, linestatus): 6 groups regardless of scale,
    so the shuffle is O(partitions), not O(rows). The AVG columns use
    _qmean (exact quantized means); sum_charge uses _Q1_SUM (r14: the
    sf0.1 hostile sweep proved ROUND(SUM(double)) flips for it — its
    1e-6-grid terms put the TRUE sum exactly on a .5e-4 half-boundary,
    zero margin, so accumulation-order jitter picks the side). The other
    three sums keep float ROUND(SUM): their true values sit ON the
    1e-4/integer grid (2dp/4dp terms), a ~50e-6 margin vs ~1e-6 observed
    cross-engine jitter — and the full-quantized variant measured +19%
    on the flagship's bench time for no additional invariance."""
    li = _t(spark, sf_dir, "lineitem")
    disc_sql = "l_extendedprice * (1 - l_discount)"
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.expr(disc_sql)), 4).alias("sum_disc_price"),
            F.expr(_Q1_SUM_SPARK.format(e=f"{disc_sql} * (1 + l_tax)")).alias("sum_charge"),
            _qmean("l_quantity").alias("avg_qty"),
            _qmean("l_extendedprice").alias("avg_price"),
            _qmean("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_top_revenue_orders",
    """
    SELECT o.o_orderkey, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: filtered dim join + agg + top-k. customer scales
    linearly with SF (150k rows per SF unit) so it gets NO broadcast hint:
    Catalyst/AQE broadcasts the filtered side while it fits under
    autoBroadcastJoinThreshold and falls back to a shuffle join when it
    doesn't — a forced hint would OOM the driver at the 100 TB design
    point. orders→lineitem is the one unavoidable shuffle join."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "q5_revenue_by_nation",
    """
    SELECT n.n_name, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-join: only truly-constant-size dims get a
    broadcast hint (nation=25, region=5 rows at ANY SF). supplier and
    customer grow linearly with SF (10k/150k rows per SF unit) so they are
    left to Catalyst/AQE, which broadcasts them while they fit and shuffles
    when they don't — hinting them would OOM the driver at large SF."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


# =====================================================================
# EDA stats (SURVEY §2.4 A1-A9, §2.6, §2.7)
# =====================================================================


@query("row_count_lineitem", "SELECT COUNT(*) AS row_count FROM lineitem")
def a1_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — athena_source.py:187-190."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("row_count"))


@query(
    "distinct_counts_lineitem",
    """
    SELECT COUNT(DISTINCT l_orderkey) AS l_orderkey,
           COUNT(DISTINCT l_partkey) AS l_partkey,
           COUNT(DISTINCT l_suppkey) AS l_suppkey,
           COUNT(DISTINCT l_returnflag) AS l_returnflag,
           COUNT(DISTINCT l_linestatus) AS l_linestatus
    FROM lineitem
    """,
)
def a2_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — column_stats.py:13-23 (one-pass multi-column COUNT DISTINCT)."""
    from workbench_spark.operators.eda import distinct_counts

    li = _t(spark, sf_dir, "lineitem")
    return distinct_counts(
        li, ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus"]
    )


@query(
    "null_counts_events",
    """
    SELECT COUNT(CASE WHEN event_id IS NULL THEN 1 END) AS event_id,
           COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS user_id,
           COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS event_type,
           COUNT(CASE WHEN value IS NULL THEN 1 END) AS value,
           COUNT(CASE WHEN props IS NULL THEN 1 END) AS props
    FROM events
    """,
)
def a3_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — column_stats.py:26-36."""
    from workbench_spark.operators.eda import null_counts

    ev = _t(spark, sf_dir, "events")
    return null_counts(ev, ["event_id", "user_id", "event_type", "value", "props"])


@query(
    "zero_counts_lineitem",
    """
    SELECT COUNT(CASE WHEN l_discount = 0 THEN 1 END) AS l_discount,
           COUNT(CASE WHEN l_tax = 0 THEN 1 END) AS l_tax,
           COUNT(CASE WHEN l_quantity = 0 THEN 1 END) AS l_quantity
    FROM lineitem
    """,
)
def a4_zeros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — column_stats.py:39-49."""
    from workbench_spark.operators.eda import zero_counts

    li = _t(spark, sf_dir, "lineitem")
    return zero_counts(li, ["l_discount", "l_tax", "l_quantity"])


_DESC_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

# DuckDB twins of descriptive_stats' exact-mode mean/stddev (r13): the
# engine computes both from exact micro-quantized integer sums (HUGEINT
# here, DECIMAL there) + one fixed double-op sequence — float AVG/STDDEV
# low bits follow the partition layout and flipped l_tax's 6dp mean in the
# hostile-partitioning sweep. Rounding uses the floor form because these
# derived means DO land on .5e-6 half-boundaries (that was the flip).
_DESC_Q = "CAST(floor(CAST({c} AS DOUBLE) * 1e6 + 0.5) AS HUGEINT)"
_DESC_MEAN = (
    "floor((CAST(SUM(" + _DESC_Q + ") AS DOUBLE) / COUNT({c}) / 1e6)"
    " * 1e6 + 0.5) / 1e6"
)
_DESC_STD = (
    "floor((sqrt(greatest((CAST(SUM(" + _DESC_Q + " * " + _DESC_Q + ") AS DOUBLE)"
    " - CAST(SUM(" + _DESC_Q + ") AS DOUBLE) * CAST(SUM(" + _DESC_Q + ") AS DOUBLE)"
    " / COUNT({c})) / (COUNT({c}) - 1), 0.0)) / 1e6) * 1e6 + 0.5) / 1e6"
)


def _fround6(col):
    """Engine-deterministic floor-form rounding (the queries_pipeline
    _fround convention): floor(x·1e6 + 0.5)/1e6 — identical IEEE ops in
    Spark and DuckDB, no -0.0, no half-boundary divergence."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


@query(
    "descriptive_stats_lineitem",
    """
    WITH stats AS (
      SELECT
        {inner}
      FROM lineitem
    )
    {union}
    """.format(
        inner=",\n        ".join(
            f"ROUND(MIN(CAST({c} AS DOUBLE)), 6) AS {c}___min,\n"
            f"        ROUND(quantile_cont(CAST({c} AS DOUBLE), 0.25), 6) AS {c}___q1,\n"
            f"        ROUND(quantile_cont(CAST({c} AS DOUBLE), 0.5), 6) AS {c}___median,\n"
            f"        ROUND(quantile_cont(CAST({c} AS DOUBLE), 0.75), 6) AS {c}___q3,\n"
            f"        ROUND(MAX(CAST({c} AS DOUBLE)), 6) AS {c}___max,\n"
            f"        {_DESC_MEAN.format(c=c)} AS {c}___mean,\n"
            f"        {_DESC_STD.format(c=c)} AS {c}___stddev"
            for c in _DESC_COLS
        ),
        union="\n    UNION ALL\n".join(
            f"SELECT '{c}' AS column_name, {c}___min AS min, {c}___q1 AS q1, "
            f"{c}___median AS median, {c}___q3 AS q3, {c}___max AS max, "
            f"{c}___mean AS mean, {c}___stddev AS stddev FROM stats"
            for c in _DESC_COLS
        ),
    ),
)
def a5_descriptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — descriptive_stats.py:14-83. Exact percentiles (linear
    interpolation) to match quantile_cont; percentile extrema ROUND to
    6dp on both sides, mean/stddev use the floor-form rounding over the
    operator's exact-integer-sum values (see _DESC_MEAN note)."""
    from workbench_spark.operators.eda import descriptive_stats

    li = _t(spark, sf_dir, "lineitem")
    df = descriptive_stats(li, _DESC_COLS, exact=True)
    return df.select(
        "column_name",
        *[F.round(F.col(s), 6).alias(s) for s in ("min", "q1", "median", "q3", "max")],
        *[_fround6(F.col(s)).alias(s) for s in ("mean", "stddev")],
    )


@query(
    "correlations_lineitem",
    """
    WITH pairs AS (
      SELECT 'l_quantity' AS column_1, 'l_extendedprice' AS column_2,
             corr(l_quantity, l_extendedprice) AS c FROM lineitem
      UNION ALL
      SELECT 'l_quantity', 'l_discount', corr(l_quantity, l_discount) FROM lineitem
      UNION ALL
      SELECT 'l_quantity', 'l_tax', corr(l_quantity, l_tax) FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount', corr(l_extendedprice, l_discount) FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', 'l_tax', corr(l_extendedprice, l_tax) FROM lineitem
      UNION ALL
      SELECT 'l_discount', 'l_tax', corr(l_discount, l_tax) FROM lineitem
    )
    SELECT column_1, column_2, ROUND(c, 6) AS correlation FROM pairs
    UNION ALL
    SELECT column_2 AS column_1, column_1 AS column_2, ROUND(c, 6) AS correlation FROM pairs
    """,
)
def a6_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — correlations.py:14-91 (all pairs in one aggregation pass,
    emitted in both orientations)."""
    from workbench_spark.operators.eda import correlations

    li = _t(spark, sf_dir, "lineitem")
    df = correlations(li, _DESC_COLS)
    return df.select(
        "column_1", "column_2", F.round(F.col("correlation"), 6).alias("correlation")
    )


@query(
    "value_counts_orderpriority",
    """
    WITH counted AS (
      SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), 'NaN') AS value,
             COUNT(*) AS count
      FROM orders GROUP BY 1
    ),
    top AS (SELECT * FROM counted ORDER BY count DESC, value ASC LIMIT 20),
    bottom AS (SELECT * FROM counted ORDER BY count ASC, value DESC LIMIT 20)
    SELECT DISTINCT value, count FROM (
      SELECT * FROM top UNION ALL SELECT * FROM bottom
    )
    """,
)
def a7_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — value_counts.py:13-63 (top-20 ∪ bottom-20, NULL→'NaN')."""
    from workbench_spark.operators.eda import value_counts

    o = _t(spark, sf_dir, "orders")
    return value_counts(o, "o_orderpriority")


@query(
    "outliers_lineitem_price",
    """
    WITH b AS (
      SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS q1,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) AS q3
      FROM lineitem
    ),
    scanned AS (
      SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
             CASE WHEN l.l_extendedprice < b.q1 - 1.5 * (b.q3 - b.q1)
                  THEN 'l_extendedprice_low'
                  ELSE 'l_extendedprice_high' END AS outlier_group
      FROM lineitem l, b
      WHERE l.l_extendedprice < b.q1 - 1.5 * (b.q3 - b.q1)
         OR l.l_extendedprice > b.q3 + 1.5 * (b.q3 - b.q1)
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY outlier_group
        ORDER BY CASE WHEN outlier_group = 'l_extendedprice_low'
                      THEN l_extendedprice ELSE -l_extendedprice END ASC,
                 l_orderkey, l_linenumber
      ) AS rn
      FROM scanned
    )
    SELECT l_orderkey, l_linenumber, l_extendedprice, outlier_group
    FROM ranked WHERE rn <= 10
    """,
)
def a9_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/P4 — outliers.py:20-216: IQR bounds (driver-side, one agg pass) →
    pushed-down predicate scan → top-10 most-extreme per group window.
    scan_limit disabled here for determinism (the LIMIT-5000 cap is a
    production knob, applied in the library API)."""
    from workbench_spark.operators.eda import outliers

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return outliers(
        li,
        ["l_extendedprice"],
        scan_limit=0,
        order_cols=["l_orderkey", "l_linenumber"],
    )


@query(
    "deterministic_sample_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 100 < 5
    """,
)
def o3_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 stand-in — engine-portable deterministic sample (the library's
    Bernoulli sample_rows is seeded but not cross-engine reproducible)."""
    from workbench_spark.operators.eda import deterministic_sample

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return deterministic_sample(o, "o_orderkey", 100, 5)


# =====================================================================
# Window operators (SURVEY §2.5) + temporal split (O5)
# =====================================================================


@query(
    "w1_latest_event_per_user",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM (
      SELECT e.*, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events e
    ) WHERE rn = 1
    """,
)
def w1_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — latest-snapshot dedup (feature_set_core.py:370-391) applied to
    the events stream: newest event per user, event_id as tiebreaker."""
    from workbench_spark.operators.windows import latest_snapshot

    ev = _t(spark, sf_dir, "events")
    return latest_snapshot(ev, "user_id", "ts", tiebreakers=["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@query(
    "w3_top_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice, ROW_NUMBER() OVER (
        PARTITION BY o_orderpriority
        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def w3_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — top-N per group (outliers.py:192-216 pattern)."""
    from workbench_spark.operators.windows import top_n_per_group

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return top_n_per_group(
        o,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    )


@query(
    "w4_acctbal_quartiles",
    """
    SELECT bucket, COUNT(*) AS n, ROUND(SUM(c_acctbal), 4) AS total_bal
    FROM (
      SELECT c_acctbal, NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS bucket
      FROM customer
    ) GROUP BY bucket
    """,
)
def w4_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — quantile-bucket split (pandas_utils.py:244-268) summarized per
    bucket. Global-window variant for oracle parity; ntile_buckets_scalable
    is the 100 TB path."""
    from workbench_spark.operators.windows import ntile_buckets

    c = _t(spark, sf_dir, "customer")
    return (
        ntile_buckets(c, "c_acctbal", 4, tiebreakers=["c_custkey"])
        .withColumn("bucket", F.col("bucket").cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
        )
    )


@query(
    "o5_temporal_split_counts",
    """
    SELECT
      COUNT(CASE WHEN o_orderdate <= TIMESTAMP '1997-01-01 00:00:00' THEN 1 END) AS train_rows,
      COUNT(CASE WHEN o_orderdate >  TIMESTAMP '1997-01-01 00:00:00' THEN 1 END) AS holdout_rows
    FROM orders
    """,
)
def o5_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 — temporal split at a cutoff (pandas_utils.py:398-434);
    unparseable/null dates fall to the train side."""
    from workbench_spark.operators.windows import temporal_split

    o = _t(spark, sf_dir, "orders")
    train, holdout = temporal_split(o, "o_orderdate", "1997-01-01 00:00:00")
    return train.agg(F.count(F.lit(1)).alias("train_rows")).crossJoin(
        holdout.agg(F.count(F.lit(1)).alias("holdout_rows"))
    )


# =====================================================================
# Joins (SURVEY §2.3)
# =====================================================================


@query(
    "j1_customer_order_rollup",
    """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment, s.order_count,
           s.total_spent
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS order_count,
             ROUND(SUM(o_totalprice), 4) AS total_spent
      FROM orders GROUP BY o_custkey
    ) s ON c.c_custkey = s.o_custkey
    """,
)
def j1_suppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — supplemental join view (pandas_to_view.py:61-138): base table
    LEFT JOIN a small supplemental frame on the id column (broadcast)."""
    from workbench_spark.operators.joins import supplemental_join_view

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    suppl = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 4).alias("total_spent"),
        )
    )
    return supplemental_join_view(c, suppl, "c_custkey")


@query(
    "j2_training_view",
    """
    SELECT c.c_custkey, c.c_acctbal,
           COALESCE(r.sample_weight, 1.0) AS sample_weight,
           COALESCE(r.validation, FALSE) AS validation
    FROM customer c
    LEFT JOIN (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN 2.0 ELSE 1.0 END AS sample_weight,
             c_custkey % 5 = 0 AS validation,
             c_custkey % 17 = 0 AS exclude
      FROM customer WHERE c_custkey % 3 = 0
    ) r ON c.c_custkey = r.c_custkey
    WHERE NOT COALESCE(r.exclude, FALSE)
    """,
)
def j2_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/P5 — model training view with role columns (view_utils.py:154-215):
    sparse roles LEFT JOIN + COALESCE defaults + NOT-exclude filter. Roles
    are derived deterministically from custkey so the oracle can rebuild them."""
    from workbench_spark.operators.joins import training_view

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    roles = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 10 == 0, 2.0).otherwise(1.0).alias("sample_weight"),
            (F.col("c_custkey") % 5 == 0).alias("validation"),
            (F.col("c_custkey") % 17 == 0).alias("exclude"),
        )
    )
    return training_view(c, roles, "c_custkey")


# =====================================================================
# Content hashing (A21/F12) + scalar-function families (F3-F6)
# =====================================================================


@query(
    "table_hash_lineitem",
    None,  # oracle attached below via table_hash_oracle_sql
)
def a21_table_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 — order-insensitive table content hash (athena_utils.py:123-220
    redesigned as a commutative aggregate)."""
    from workbench_spark.operators.hashing import table_hash

    li = _t(spark, sf_dir, "lineitem")
    return table_hash(
        li, ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"]
    )


from workbench_spark.operators.hashing import table_hash_oracle_sql as _thos  # noqa: E402

_ORACLES["table_hash_lineitem"] = _thos(
    "lineitem", ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"]
)


@query(
    "a12_gmean_rollup",
    """
    SELECT event_type,
           ROUND(EXP(CAST(SUM(CAST(floor(LN(value + 1) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                     / COUNT(value) / 1e6), 6) AS gmean_value,
           COUNT(*) AS n
    FROM (
      SELECT e.*, MAX(ts) OVER (PARTITION BY user_id) AS maxt FROM events e
    ) WHERE ts = maxt
    GROUP BY event_type
    """,
)
def a12_gmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/W2/F5 — rollup_experimental_data (chem_utils/misc.py:17-46):
    keep max-time rows per id, then geometric mean exp(avg(ln(x))).

    The log-mean uses the r15 quantized-fold form (audit class
    ROUND(EXP(AVG(ln)), 6) — ln terms have no value grid): each ln term
    quantized to 1e-6 integer units (the langid/unigram-fold convention;
    identical doubles floor identically on both engines), integer sum,
    one exact division chain, EXP of identical operands. value ≥ 0 with
    no NULLs in the driver data, so ln(value+1) is always finite — the
    non-finite NULL-guard class doesn't arise here."""
    from workbench_spark.operators.windows import max_time_per_group

    ev = _t(spark, sf_dir, "events")
    latest = max_time_per_group(ev, "user_id", "ts")
    qln = F.floor(F.log(F.col("value") + 1) * F.lit(1e6) + F.lit(0.5)).cast("long")
    return latest.groupBy("event_type").agg(
        F.round(
            F.exp(
                F.sum(qln).cast("double") / F.count("value") / F.lit(1e6)
            ),
            6,
        ).alias("gmean_value"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "f6_json_extract_props",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           COUNT(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 END) AS null_k
    FROM events
    GROUP BY event_type
    """,
)
def f6_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — JSON-string column probing (pandas_to_data.py:147-153 contract:
    nested data travels as JSON strings, queried via JSON_EXTRACT →
    get_json_object in Spark)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.when(k.isNull(), F.lit(1))).alias("null_k"),
    )


@query(
    "f3_iso8601_day_counts",
    """
    SELECT strftime(ts, '%Y-%m-%dT00:00:00.000Z') AS day_iso, COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def f3_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — ISO-8601 datetime formatting (datetime_utils contract used at
    pandas_to_features.py:113-129): day-truncated ISO strings as group key."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias(
            "day_iso"
        )
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))


# =====================================================================
# Set operations (U1-U3) / P9 row filters
# =====================================================================


@query(
    "u2_union_dedup",
    """
    SELECT DISTINCT o_orderkey, o_orderstatus FROM (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 400000
      UNION ALL
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """,
)
def u2_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/U3 — union + dropDuplicates (athena_source.py:385-391 smart_sample
    combine step)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey", "o_orderstatus")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderstatus"
    )
    return a.unionAll(b).dropDuplicates()


@query(
    "p9_drop_null_rows",
    """
    SELECT COUNT(*) AS surviving_rows FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
      AND NOT isnan(value)
    """,
)
def p9_nandrop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 — remove_rows_with_nans (pandas_utils.py:515-542): INF→NaN→drop
    across a column subset."""
    ev = _t(spark, sf_dir, "events")
    cond = (
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("props").isNotNull()
        & ~F.isnan("value")
    )
    return ev.filter(cond).agg(F.count(F.lit(1)).alias("surviving_rows"))


# =====================================================================
# Model metrics (A14-A16) + drift (A17-A18)
# =====================================================================


@query(
    "a14_regression_metrics",
    f"""
    WITH d AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS y,
             CAST(o_totalprice * 0.9 + 20000 AS DOUBLE) AS p
      FROM orders
    ),
    ranked AS (
      SELECT y, p,
             RANK() OVER (ORDER BY y) + (COUNT(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry,
             RANK() OVER (ORDER BY p) + (COUNT(*) OVER (PARTITION BY p) - 1) / 2.0 AS rp
      FROM d
    )
    SELECT ROUND(SQRT(CAST(SUM(CAST(floor((y - p) * (y - p) * 1e4 + 0.5) AS HUGEINT)) AS DOUBLE)
                      / COUNT(*) / 1e4), 4) AS rmse,
           ROUND(CAST(SUM(CAST(floor(ABS(y - p) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1e6, 4) AS mae,
           ROUND(quantile_cont(ABS(y - p), 0.5), 4) AS medae,
           ROUND(1 - CAST(SUM(CAST(floor((y - p) * (y - p) * 1e4 + 0.5) AS HUGEINT)) AS DOUBLE)
                   / (CAST(SUM(CAST(floor(y * y * 1e4 + 0.5) AS HUGEINT)) AS DOUBLE)
                      - CAST(SUM(CAST(floor(y * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                        * CAST(SUM(CAST(floor(y * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                        / COUNT(*)), 6) AS r2,
           ROUND({_corr_sql('ry', 'rp')}, 6) AS spearman,
           COUNT(*) AS support
    FROM ranked
    """,
)
def a14_reg_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 — regression metrics (metrics_utils.py:198-256) over a
    deterministic synthetic prediction column (0.9*y + 20000) so the oracle
    can reproduce it. exact=True: rmse/mae/r2 on integer-quantized
    sufficient statistics (r15 ROUND(SUM) audit conversion — raw float
    AVG/SUM over the 1e-3-grid errors had order-dependent accumulation
    against the d=4/d=6 rounding boundaries); the oracle replays the
    identical quantized sums."""
    from workbench_spark.operators.metrics import regression_metrics

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("y"),
        (F.col("o_totalprice") * 0.9 + 20000).alias("p"),
    )
    m = regression_metrics(o, "y", "p", exact=True)
    return m.select(
        F.round("rmse", 4).alias("rmse"),
        F.round("mae", 4).alias("mae"),
        F.round("medae", 4).alias("medae"),
        F.round("r2", 6).alias("r2"),
        F.round("spearman", 6).alias("spearman"),
        "support",
    )


@query(
    "a16_confusion_matrix",
    """
    SELECT CAST(event_type AS VARCHAR) AS label,
           CASE WHEN value >= 50 THEN 'purchase' ELSE 'click' END AS prediction,
           COUNT(*) AS count
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def a16_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — confusion matrix in long form (endpoint_core.py:1210-1250)
    with a deterministic threshold 'classifier' over events.value."""
    from workbench_spark.operators.metrics import confusion_matrix

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    pred = ev.withColumn(
        "pred", F.when(F.col("value") >= 50, "purchase").otherwise("click")
    )
    return confusion_matrix(pred, "event_type", "pred")


@query(
    "a15_classification_metrics",
    """
    WITH cm AS (
      SELECT CAST(event_type AS VARCHAR) AS label,
             CASE WHEN value >= 50 THEN 'purchase' ELSE 'click' END AS prediction,
             COUNT(*) AS cnt
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ),
    tp AS (SELECT label AS class, cnt AS tp FROM cm WHERE label = prediction),
    actual AS (SELECT label AS class, CAST(SUM(cnt) AS BIGINT) AS support FROM cm GROUP BY 1),
    predicted AS (SELECT prediction AS class, CAST(SUM(cnt) AS BIGINT) AS pred_count FROM cm GROUP BY 1),
    joined AS (
      SELECT COALESCE(a.class, p.class) AS class,
             COALESCE(t.tp, 0) AS tp,
             COALESCE(a.support, 0) AS support,
             COALESCE(p.pred_count, 0) AS pred_count
      FROM actual a
      FULL JOIN predicted p ON a.class = p.class
      LEFT JOIN tp t ON COALESCE(a.class, p.class) = t.class
    )
    SELECT class,
           ROUND(CASE WHEN pred_count > 0 THEN CAST(tp AS DOUBLE) / pred_count ELSE 0.0 END, 6) AS precision,
           ROUND(CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END, 6) AS recall,
           ROUND(CASE WHEN (CASE WHEN pred_count > 0 THEN CAST(tp AS DOUBLE) / pred_count ELSE 0.0 END
                          + CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END) > 0
                 THEN 2 * (CASE WHEN pred_count > 0 THEN CAST(tp AS DOUBLE) / pred_count ELSE 0.0 END)
                        * (CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END)
                      / ((CASE WHEN pred_count > 0 THEN CAST(tp AS DOUBLE) / pred_count ELSE 0.0 END)
                       + (CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END))
                 ELSE 0.0 END, 6) AS f1,
           support
    FROM joined
    """,
)
def a15_cls_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 — per-class precision/recall/f1/support (metrics_utils.py:97-196)."""
    from workbench_spark.operators.metrics import classification_metrics

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    pred = ev.withColumn(
        "pred", F.when(F.col("value") >= 50, "purchase").otherwise("click")
    )
    m = classification_metrics(pred, "event_type", "pred")
    return m.select(
        "class",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
        "support",
    )


@query(
    "a17_psi_events_value",
    """
    WITH p AS (
      SELECT LEAST(9, GREATEST(0, CAST(FLOOR(value / 10.0) AS INT))) AS bucket,
             COUNT(*) AS c
      FROM events WHERE user_id % 2 = 0 AND value IS NOT NULL GROUP BY 1
    ),
    q AS (
      SELECT LEAST(9, GREATEST(0, CAST(FLOOR(value / 10.0) AS INT))) AS bucket,
             COUNT(*) AS c
      FROM events WHERE user_id % 2 = 1 AND value IS NOT NULL GROUP BY 1
    ),
    j AS (
      SELECT GREATEST(COALESCE(CAST(p.c AS DOUBLE) / (SELECT SUM(c) FROM p), 0.0), 1e-6) AS pf,
             GREATEST(COALESCE(CAST(q.c AS DOUBLE) / (SELECT SUM(c) FROM q), 0.0), 1e-6) AS qf
      FROM p FULL JOIN q ON p.bucket = q.bucket
    )
    SELECT floor(CAST(SUM(CAST(floor((pf - qf) * LN(pf / qf) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1e12 * 1e6 + 0.5) / 1e6 AS psi FROM j
    """,
)
def a17_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — PSI between even- and odd-user event values over fixed bins
    [0,100)/10 (distribution_stats.py:16-120)."""
    from workbench_spark.operators.drift import psi

    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("user_id") % 2 == 0)
    cur = ev.filter(F.col("user_id") % 2 == 1)
    return psi(ref, cur, "value", 0.0, 100.0, 10).select(
        (F.floor(F.col("psi") * 1e6 + 0.5) / 1e6).alias("psi")
    )


@query(
    "a17_ks_events_value",
    """
    WITH pc AS (
      SELECT value AS v, COUNT(*) AS pc FROM events
      WHERE user_id % 2 = 0 AND value IS NOT NULL GROUP BY 1
    ),
    qc AS (
      SELECT value AS v, COUNT(*) AS qc FROM events
      WHERE user_id % 2 = 1 AND value IS NOT NULL GROUP BY 1
    ),
    j AS (
      SELECT COALESCE(pc.v, qc.v) AS v, COALESCE(pc, 0) AS pc, COALESCE(qc, 0) AS qc
      FROM pc FULL JOIN qc ON pc.v = qc.v
    ),
    cdf AS (
      SELECT SUM(pc) OVER (ORDER BY v) AS cp, SUM(qc) OVER (ORDER BY v) AS cq FROM j
    )
    SELECT ROUND(MAX(ABS(CAST(cp AS DOUBLE) / (SELECT SUM(pc) FROM j)
                       - CAST(cq AS DOUBLE) / (SELECT SUM(qc) FROM j))), 6) AS ks
    FROM cdf
    """,
)
def a17_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — exact two-sample KS statistic (distribution_stats.py KS path)."""
    from workbench_spark.operators.drift import ks_statistic

    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("user_id") % 2 == 0)
    cur = ev.filter(F.col("user_id") % 2 == 1)
    return ks_statistic(ref, cur, "value").select(F.round("ks", 6).alias("ks"))


@query(
    "a18_detect_drift",
    """
    WITH rng AS (
      SELECT MAX(o_totalprice) - MIN(o_totalprice) AS r FROM orders
    ),
    cur AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.5
                  ELSE o_totalprice END AS v
      FROM orders
    )
    SELECT o.o_orderkey AS id, 'o_totalprice' AS column_name,
           ROUND(CAST(o.o_totalprice AS DOUBLE), 4) AS ref_value,
           ROUND(CAST(c.v AS DOUBLE), 4) AS cur_value
    FROM orders o JOIN cur c ON o.o_orderkey = c.o_orderkey, rng
    WHERE ABS(o.o_totalprice - c.v) > 0.01 * rng.r
    """,
)
def a18_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 — detect_drift (pandas_utils.py:545-628): per-row range-relative
    drift between a frame and a deterministically perturbed copy."""
    from workbench_spark.operators.drift import detect_drift

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cur = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.5)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    d = detect_drift(o, cur, "o_orderkey", ["o_totalprice"], rel_tol=0.01)
    return d.select(
        "id",
        "column_name",
        F.round("ref_value", 4).alias("ref_value"),
        F.round("cur_value", 4).alias("cur_value"),
    )


# register the training-data-pipeline extension queries (text/dedup/knn)
from workbench_spark import queries_pipeline as _qp  # noqa: E402,F401


# =====================================================================
# Relational breadth: semi/anti joins, HAVING, conditional aggregation
# =====================================================================


@query(
    "q4_orders_with_lineitems",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    GROUP BY o.o_orderpriority
    """,
)
def q4_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style EXISTS → left-semi join (engine-internal in the
    reference's Athena; first-class here)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q_anti_customers_without_orders",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def q_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "q14_promo_revenue",
    """
    SELECT floor(100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                   THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT)
                   ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style conditional aggregation over a dim join. part scales
    linearly with SF (200k rows per SF unit), so no broadcast hint: AQE
    broadcasts it while it fits and shuffles when it doesn't; forcing the
    broadcast would break at large SF.

    promo_revenue_pct is the r15 quantized-ratio form (the audit's
    ROUND(SUM/SUM) class): terms sit exactly on the 1e-4 grid (2dp×2dp),
    so the 1e4-unit floor quantization is EXACT; integer sums are
    order-invariant; the single double division sees identical integer
    operands on both engines; floor-form rounding replaces ROUND (equal
    for positive values off the .5 boundary — and the boundary is now
    unreachable by construction)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    qrev = F.floor(rev * F.lit(1e4) + F.lit(0.5)).cast("long")
    num = F.sum(F.when(F.col("p_type").like("PROMO%"), qrev).otherwise(F.lit(0)))
    den = F.sum(qrev)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (
                F.floor(
                    F.lit(100.0) * num.cast("double") / den.cast("double")
                    * F.lit(1e6) + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_orders",
    """
    SELECT o.o_orderkey, o.o_custkey, ROUND(s.total_qty, 4) AS total_qty
    FROM orders o
    JOIN (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    ) s ON o.o_orderkey = s.l_orderkey
    """,
)
def q18_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style HAVING: aggregate-then-filter subquery joined back.
    The groupBy + filter runs BEFORE the join — only qualifying keys
    shuffle into it."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_custkey", F.round("total_qty", 4).alias("total_qty"))
    )


@query(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(volume), 4) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS INT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
    )
    GROUP BY 1, 2, 3
    """,
)
def q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style cross-nation shipping volume by year. Plan: both
    nation joins broadcast (tiny dims), supplier/customer left to AQE;
    lineitem⋈orders is the one big shuffle; the year extraction happens
    pre-aggregation so the groupBy keys are small."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).cast("int").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 4).alias("revenue"))
    )


@query(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 4
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item top customers. The returnflag filter
    is pushed to the lineitem scan; nation broadcast; top-20 with the
    (revenue desc, custkey asc) deterministic tiebreak BOTH sides."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    out = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )
    return out.select("c_custkey", "c_name", "revenue", "n_name")


@query(
    "q12_shipmode_priority",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def q12_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style conditional counting after a fact join (shipmode
    column absent from the synthetic schema → returnflag as the grouping
    key; the operator under test is the CASE-split aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# =====================================================================
# Round-4 oracle promotions (r3 VERDICT #6): A8 / F9 / J4
# =====================================================================

_A8_COLS = ["l_quantity", "l_extendedprice", "l_returnflag"]


@query(
    "a8_column_stats",
    f"""
    WITH s AS (
      SELECT
        COUNT(DISTINCT l_quantity) AS q_uniq,
        COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS q_nulls,
        COUNT(CASE WHEN l_quantity = 0 THEN 1 END) AS q_zeros,
        ROUND(MIN(CAST(l_quantity AS DOUBLE)), 6) AS q_min,
        ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS q_med,
        ROUND(MAX(CAST(l_quantity AS DOUBLE)), 6) AS q_max,
        {_Q1_MEAN.format(c="l_quantity")} AS q_mean,
        COUNT(DISTINCT l_extendedprice) AS p_uniq,
        COUNT(CASE WHEN l_extendedprice IS NULL THEN 1 END) AS p_nulls,
        COUNT(CASE WHEN l_extendedprice = 0 THEN 1 END) AS p_zeros,
        ROUND(MIN(CAST(l_extendedprice AS DOUBLE)), 6) AS p_min,
        ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 6) AS p_med,
        ROUND(MAX(CAST(l_extendedprice AS DOUBLE)), 6) AS p_max,
        {_Q1_MEAN.format(c="l_extendedprice")} AS p_mean,
        COUNT(DISTINCT l_returnflag) AS r_uniq,
        COUNT(CASE WHEN l_returnflag IS NULL THEN 1 END) AS r_nulls
      FROM lineitem
    )
    SELECT 'l_quantity' AS column, 'double' AS dtype, q_uniq AS n_unique,
           q_nulls AS n_nulls, q_zeros AS n_zeros, q_min AS min, q_med AS median,
           q_max AS max, q_mean AS mean FROM s
    UNION ALL
    SELECT 'l_extendedprice', 'double', p_uniq, p_nulls, p_zeros, p_min, p_med,
           p_max, p_mean FROM s
    UNION ALL
    SELECT 'l_returnflag', 'string', r_uniq, r_nulls, NULL, NULL, NULL,
           NULL, NULL FROM s
    """,
)
def a8_column_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — the composite column_stats pass (column_stats.py:52-121) in
    its long tabular form: ONE fused aggregation over one scan covering
    distinct/null/zero counts and the descriptive block for every column
    (numeric and not), pivoted to rows JVM-side. The dict variant
    (column_stats) collects this same row driver-side."""
    from workbench_spark.operators.eda import column_stats_table

    li = _t(spark, sf_dir, "lineitem")
    t = column_stats_table(li, columns=_A8_COLS, exact=True)
    return t.select(
        "column", "dtype", "n_unique", "n_nulls", "n_zeros",
        F.round("min", 6).alias("min"),
        F.round("median", 6).alias("median"),
        F.round("max", 6).alias("max"),
        _fround6(F.col("mean")).alias("mean"),
    )


@query(
    "f9_type_coercion",
    """
    SELECT * FROM (VALUES
      (1, 1, '2024-03-05T14:30:00.250Z', '2024-03-05', 12.5, 'keep'),
      (2, 0, '2024-12-31T23:59:59.999Z', '2025-01-01', -0.75, NULL),
      (3, NULL, NULL, NULL, NULL, 'x')
    ) AS t(id, flag, ts, d, amount, s)
    """,
)
def f9_type_coercion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — the FeatureSet type contract (pandas_to_features.py:243-280)
    as a schema-shaped oracle: bool→int, timestamp→ISO-8601 string,
    date→ISO string, decimal→double, int/string pass through. The
    driver's schema comparison IS the assertion — the oracle VALUES
    carry the post-coercion types, so a missed cast fails schema_match
    before values are even hashed. Literal panel (testdata has no
    bool/decimal columns); timestamps built with make_timestamp to stay
    session-timezone-independent."""
    import datetime as _dt
    from decimal import Decimal

    from pyspark.sql import types as T

    from workbench_spark.api.feature_set import coerce_feature_types

    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("d", T.DateType()),
        T.StructField("amount", T.DecimalType(10, 2)),
        T.StructField("s", T.StringType()),
    ])
    rows = [
        (1, True, _dt.datetime(2024, 3, 5, 14, 30, 0, 250000), _dt.date(2024, 3, 5), Decimal("12.50"), "keep"),
        (2, False, _dt.datetime(2024, 12, 31, 23, 59, 59, 999000), _dt.date(2025, 1, 1), Decimal("-0.75"), None),
        (3, None, None, None, None, "x"),
    ]
    return coerce_feature_types(spark.createDataFrame(rows, schema))


@query(
    "j4_dag_union_join",
    """
    SELECT o.o_orderkey AS row_id,
           ROUND(o.o_totalprice, 2) AS price_feature,
           CAST(strftime(o.o_orderdate, '%Y') AS INT) AS year_feature,
           n.n_lines
    FROM orders o
    JOIN (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
          FROM lineitem GROUP BY 1) n
      ON o.o_orderkey = n.l_orderkey
    """,
)
def j4_dag_union_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — the DAG column-union join (aggregation_nodes.py:36-104):
    three parallel feature branches carrying the same injected row id are
    joined back into one frame; overlapping non-id columns resolve to the
    LEFTMOST branch (here: branch-1's price_feature survives, branch-3
    re-derives it differently and is dropped — the oracle encodes
    branch-1's version, so a wrong conflict resolution hash-fails)."""
    from workbench_spark.operators.joins import column_union_join

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    b1 = o.select(
        F.col("o_orderkey").alias("row_id"),
        F.round("o_totalprice", 2).alias("price_feature"),
    )
    b2 = o.select(
        F.col("o_orderkey").alias("row_id"),
        F.year("o_orderdate").cast("int").alias("year_feature"),
    )
    b3 = li.groupBy(F.col("l_orderkey").alias("row_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        # deliberate overlap with branch 1 — must LOSE to the leftmost
        F.round(F.sum("l_extendedprice"), 2).alias("price_feature"),
    )
    return column_union_join([b1, b2, b3], row_id="row_id")


# =====================================================================
# Round-4 relational completeness: the remaining TPC-H query shapes the
# synthetic schema can express (Q8/Q13/Q15/Q17/Q19/Q21/Q22 adapted below;
# Q2/Q9/Q11/Q16/Q20 closed in round 10 via the deterministic synthetic
# partsupp — see the partsupp-family section at the end of this file).
# =====================================================================


@query(
    "q8_market_share",
    """
    SELECT o_year,
           floor(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN qvol ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(qvol) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT) AS qvol,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style national market share: the 7-table join tree.
    Plan: part filter pushed to its scan BEFORE the lineitem join (the
    p_type predicate removes ~5/6 of parts, so the fact join shrinks
    first); nation/region broadcast (constant-size dims); supplier and
    customer left to AQE per the q5 template — both scale with SF.

    mkt_share is the r15 quantized-ratio form (audit class
    ROUND(SUM/SUM, 6) over 1e-4-grid volumes — a ratio has no value
    grid, so the old form's true value could sit arbitrarily close to a
    .5e-6 boundary): exact 1e4-unit integer volume sums, one double
    division of identical integers, floor-form rounding."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    qvol = F.floor(vol * F.lit(1e4) + F.lit(0.5)).cast("long")
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", F.col("qvol")).otherwise(F.lit(0))
    )
    den = F.sum("qvol")
    return (
        joined.select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            qvol.alias("qvol"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            (
                F.floor(
                    num.cast("double") / den.cast("double") * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("mkt_share")
        )
    )


@query(
    "q13_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style order-count distribution: LEFT OUTER join with a
    pushable ON-clause predicate on the right side, double aggregation.
    The priority filter applies to orders BEFORE the join (preserved-row
    semantics keep order-less customers at count 0); the second groupBy
    reduces to ~tens of rows, so the first shuffle dominates — keyed on
    c_custkey, the natural key, no skew."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q15_top_suppliers",
    """
    WITH revenue AS (
      SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, ROUND(r.total_revenue, 4) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.l_suppkey
    ORDER BY ROUND(r.total_revenue, 4) DESC, s.s_suppkey ASC
    LIMIT 5
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style top supplier over a revenue view. The original's
    `revenue = (SELECT MAX(...))` float-equality self-join is replaced by
    rank-with-tiebreak (round-then-order, suppkey tiebreak): same winner,
    but deterministic across engines — float-equality against a MAX
    computed in a different summation order is an oracle hazard. The
    quarter filter is pushed to the scan; one shuffle on l_suppkey."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "total_revenue"
        )
    )
    return (
        s.join(rev, s.s_suppkey == rev.l_suppkey)
        .orderBy(F.col("total_revenue").desc(), F.col("s_suppkey").asc())
        .limit(5)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_quantity_revenue",
    """
    SELECT floor(CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS DOUBLE) / 700 * 1e4 + 0.5) / 1e4 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
        SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style correlated scalar subquery, decorrelated the way
    Catalyst would: per-part average quantity as a groupBy, joined back on
    l_partkey, filter against the threshold. Oracle-safe because
    l_quantity is integer-valued, so SUM over doubles is EXACT (< 2^53)
    in any summation order and both engines derive the identical
    threshold. The brand filter only shrinks the FINAL probe side — the
    per-part average must run over ALL lineitem rows (correlation scope),
    matching the correlated form.

    avg_yearly is the r15 quantized-ratio form (the ROUND(SUM)/7 audit
    class): exact integer-cent sum (2dp grid → floor exact), ONE double
    division by 700 of identical integer operands on both engines, then
    floor-form rounding — no order-dependent float accumulation. The old
    ROUND(SUM/7.0, 4) could not structurally land on a .5e-4 boundary
    (200·cents = 7·odd is even=odd, impossible) but its margin 1/14 step
    shrinks linearly with SF against the sum's ulp; the integer form has
    no margin to audit."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    thresh = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (0.5 * F.avg("l_quantity")).alias("qty_thresh")
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(thresh, li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (
                F.floor(
                    F.sum(cents).cast("double") / F.lit(700) * F.lit(1e4)
                    + F.lit(0.5)
                )
                / F.lit(1e4)
            ).alias("avg_yearly")
        )
    )


@query(
    "q19_disjunctive_predicates",
    """
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style OR-of-ANDs over a join. Catalyst factors the
    common-column implications out of the disjunction: p_brand IN
    (12,23,34) and p_size<=15 push to the part scan, l_quantity<=30 to
    the lineitem scan, so both inputs shrink before the join even though
    no single conjunct spans it."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q21_sole_late_supplier",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 10
    """,
)
def q21_sole_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style "suppliers who kept orders waiting", adapted to the
    synthetic schema (no commit/receipt dates): late := shipped more than
    90 days after the order date. The correlated EXISTS / NOT EXISTS pair
    with a <> correlation is NOT expressible as an equi-join directly, so
    it is reformulated as per-order supplier censuses — n_suppliers and
    n_late_suppliers via two COUNT(DISTINCT) over one groupBy — and the
    qualification becomes (n_suppliers > 1 AND n_late_suppliers = 1) on
    the late row itself: exactly the original semantics, but every join
    stays equi-shaped on l_orderkey (the CLAUDE.md candidate-generation
    invariant). One lineitem⋈orders shuffle is shared by both branches."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    lines = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        "o_orderstatus",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias(
            "is_late"
        ),
    )
    census = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_suppliers"
        ),
    )
    l1 = lines.filter(F.col("is_late") & (F.col("o_orderstatus") == "F"))
    return (
        l1.join(census, "l_orderkey")
        .filter((F.col("n_suppliers") > 1) & (F.col("n_late_suppliers") == 1))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


@query(
    "q22_dormant_accounts",
    """
    SELECT c.c_mktsegment, COUNT(*) AS numcust,
           ROUND(SUM(c.c_acctbal), 4) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
      )
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def q22_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style dormant-but-rich accounts (mktsegment stands in for
    the phone country code): uncorrelated scalar subquery (global mean
    balance) + NOT EXISTS anti-join. The scalar lands as a 1-row
    broadcast cross-join — the idiomatic Spark shape for a scalar
    subquery; the anti-join shuffles on custkey only for customers above
    the threshold (filter ordered first)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    thresh = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("bal_thresh")
    )
    return (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("bal_thresh"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


# =====================================================================
# Round-10 partsupp family: TPC-H Q2/Q9/Q11/Q16/Q20 over the
# deterministic synthetic partsupp (sources/synthetic.py — the same
# integer-arithmetic generation runs as a DuckDB CTE oracle-side, so
# hash-matching stays exact). Previously declared out of reach (r4 note
# above); closed per the r9 brief.
# =====================================================================

from workbench_spark.sources.synthetic import (  # noqa: E402
    partsupp_oracle_cte,
    synthetic_partsupp,
)

_PS_CTE = partsupp_oracle_cte()


@query(
    "q2_min_cost_supplier",
    f"""
    WITH partsupp AS MATERIALIZED ({_PS_CTE})
    SELECT p.p_partkey AS partkey, s.s_name AS supp_name, n.n_name AS nation,
           ROUND(s.s_acctbal, 2) AS acctbal,
           ROUND(ps.ps_supplycost, 2) AS min_cost
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size IN (5, 15, 25, 35, 45) AND p.p_type = 'STANDARD'
      AND r.r_name = 'ASIA'
      AND ps.ps_supplycost_cents = (
        SELECT MIN(ps2.ps_supplycost_cents)
        FROM partsupp ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'ASIA')
    ORDER BY acctbal DESC, nation, supp_name, partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: cheapest in-region supplier per qualifying part. The
    correlated MIN lands as a groupBy(ps_partkey).min + self-equi-join on
    the exact integer cents (float-equality joins are engine-fragile; the
    cents column exists for this). Region/nation prune the supplier side
    BEFORE the min, so the shuffle carries only in-region rows; nation and
    region are constant-size broadcasts. Deterministic LIMIT tiebreak:
    (acctbal DESC, nation, supp_name, partkey)."""
    ps = synthetic_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")
    in_region = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    scoped = ps.join(in_region, ps.ps_suppkey == F.col("s_suppkey"))
    min_cost = scoped.groupBy("ps_partkey").agg(
        F.min("ps_supplycost_cents").alias("__minc")
    )
    best = scoped.join(min_cost, "ps_partkey").filter(
        F.col("ps_supplycost_cents") == F.col("__minc")
    )
    qual = p.filter(
        F.col("p_size").isin(5, 15, 25, 35, 45) & (F.col("p_type") == "STANDARD")
    )
    return (
        best.join(qual, best.ps_partkey == qual.p_partkey)
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("s_name").alias("supp_name"),
            F.col("n_name").alias("nation"),
            F.round(F.col("s_acctbal"), 2).alias("acctbal"),
            F.round(F.col("ps_supplycost"), 2).alias("min_cost"),
        )
        .orderBy(
            F.col("acctbal").desc(), "nation", "supp_name", "partkey"
        )
        .limit(100)
    )


@query(
    "q9_product_type_profit",
    f"""
    WITH partsupp AS MATERIALIZED ({_PS_CTE})
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - ps.ps_supplycost * l.l_quantity), 4) + 0 AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE 'red%'
    JOIN partsupp ps ON ps.ps_partkey = l.l_partkey
                    AND ps.ps_suppkey = l.l_suppkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit (revenue minus supply cost) by supplier nation and
    order year for one product family. Join order: the part-name filter
    prunes lineitem first (predicate reaches the probe side), partsupp
    joins on the composite (partkey, suppkey) equi-key, nation broadcasts.
    The final agg is nation x year — tiny, map-side combinable."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    # §3.2 semi-join reduction (r16): every lineitem row entering the
    # (partkey, suppkey) join already passed the red-part filter, so
    # partsupp rows for non-red parts can never match — prune the BUILT
    # partsupp side with a semi-join on the filtered part-key set BEFORE
    # its exchange instead of shuffling the full table (the filter is ~4%
    # selective; the optimizer cannot infer it transitively across the
    # composite join key, and Spark's automatic runtime bloom filter does
    # not fire on a derived — scan-less — creation side). No broadcast
    # hint: part scales with SF, so AQE picks the join strategy (it
    # broadcasts while the filtered key set fits). Pure pruning: result
    # rows unchanged.
    ps = synthetic_partsupp(spark, sf_dir).join(
        p.select(F.col("p_partkey").alias("__red_pk")),
        F.col("ps_partkey") == F.col("__red_pk"),
        "leftsemi",
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        li.join(p.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(s.select("s_suppkey", "s_nationkey"), li.l_suppkey == F.col("s_suppkey"))
        .join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        # profit sums can be negative and a zero group can accumulate to
        # -0.0: "+ 0" folds the sign per the CLAUDE.md rounding invariant
        .agg((F.round(F.sum(amount), 4) + F.lit(0)).alias("sum_profit"))
    )


@query(
    "q11_important_stock",
    f"""
    WITH partsupp AS MATERIALIZED ({_PS_CTE}),
    natv AS MATERIALIZED (
      SELECT ps.ps_partkey, ps.ps_supplycost_cents * ps.ps_availqty AS v_cents
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'),
    pp AS MATERIALIZED (
      SELECT ps_partkey, SUM(v_cents) AS v FROM natv GROUP BY ps_partkey),
    st AS MATERIALIZED (SELECT COUNT(*) AS n, SUM(v) AS tot FROM pp)
    SELECT pp.ps_partkey AS partkey,
           ROUND(CAST(pp.v AS DOUBLE) / 100.0, 2) AS part_value
    FROM pp, st
    WHERE pp.v * st.n > 2 * st.tot
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts whose in-region stock value exceeds 2x the mean
    per-part value (TPC-H's fixed fraction-of-total empties out as N
    grows; a mean-relative cut is scale-free). The threshold compares
    EXACT integers cross-multiplied (v*N > 2*total, all BIGINT cents —
    a float threshold would be engine-jitter-fragile exactly at the cut).
    The (count, total) pair is ONE 1-row aggregate broadcast cross; the
    per-part agg shuffles on ps_partkey once."""
    ps = synthetic_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    in_region = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey")
    )
    natv = ps.join(in_region, ps.ps_suppkey == F.col("s_suppkey")).select(
        "ps_partkey",
        (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("v_cents"),
    )
    per_part = natv.groupBy("ps_partkey").agg(F.sum("v_cents").alias("__v"))
    stats = per_part.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__v").alias("__tot")
    )
    return (
        per_part.crossJoin(F.broadcast(stats))
        .filter(F.col("__v") * F.col("__n") > 2 * F.col("__tot"))
        .select(
            F.col("ps_partkey").alias("partkey"),
            F.round(F.col("__v").cast("double") / 100.0, 2).alias("part_value"),
        )
    )


@query(
    "q16_supplier_part_counts",
    f"""
    WITH partsupp AS MATERIALIZED ({_PS_CTE})
    SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
           COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 7, 10, 15, 23, 45, 49)
      AND ps.ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY brand, type, size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: distinct supplier count per (brand, type, size), with an
    excluded-supplier NOT IN (negative balance stands in for the
    complaints-comment filter this schema lacks). NOT IN over a non-null
    key column is an anti-join in Spark; part filters push to the scan;
    COUNT(DISTINCT) shuffles on the group key with the suppkey carried."""
    ps = synthetic_partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 23, 45, 49)
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(bad, ps.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(p.select("p_partkey", "p_brand", "p_type", "p_size"), ps.ps_partkey == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_excess_stock_suppliers",
    f"""
    WITH partsupp AS MATERIALIZED ({_PS_CTE}),
    shipped AS MATERIALIZED (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey)
    SELECT DISTINCT s.s_suppkey AS suppkey, s.s_name AS supp_name
    FROM partsupp ps
    JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                   AND sh.l_suppkey = ps.ps_suppkey
    JOIN part p ON p.p_partkey = ps.ps_partkey AND p.p_name LIKE 'red%'
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    WHERE ps.ps_availqty > 0.5 * sh.qty
    """,
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers holding more than half a year's shipments of a
    product family. The correlated availqty > 0.5*SUM(...) subquery is a
    groupBy(partkey, suppkey) pre-aggregation + composite equi-join (a
    pair with no 1996 shipments disappears from the inner join — same
    semantics as the NULL-comparison false in the correlated form).
    l_quantity is integer-valued, so the 0.5x threshold compare is exact
    in both engines. DISTINCT collapses multi-part qualifying suppliers."""
    ps = synthetic_partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = _t(spark, sf_dir, "supplier")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    return (
        ps.join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .join(p.select("p_partkey"), ps.ps_partkey == F.col("p_partkey"), "left_semi")
        .join(s.select("s_suppkey", "s_name"), ps.ps_suppkey == F.col("s_suppkey"))
        .select(F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("supp_name"))
        .distinct()
    )
