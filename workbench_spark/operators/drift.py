"""Distribution-drift operators (SURVEY §2.4 A17-A18).

Reference semantics:
- A17 distribution stats + KS/JS/PSI — utils/distribution_stats.py:16-120
- A18 detect_drift (range-relative per-column bounds) — utils/pandas_utils.py:545-628

Spark-first: binning is a map-side width_bucket-style expression + a tiny
groupBy (O(bins) state); KS is a full-outer join of the two binned CDFs
(O(bins) rows). Nothing here touches the driver except the final tiny frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bucket(column: str, lo: float, hi: float, bins: int) -> Column:
    """Bucket of ``column`` among ``bins`` equal buckets over [lo, hi);
    values at or beyond the edges clamp into the end buckets."""
    # zero-width range (constant column / degenerate caller bounds): clamp
    # to 1 so every value lands in bucket 0 instead of dividing by zero
    # (NULL buckets under ANSI-off would full-join as DISTINCT null rows
    # and fabricate drift between identical frames)
    width = ((hi - lo) / bins) or 1.0
    return F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col(column) - lo) / width)),
    ).cast("int")


def binned_distribution(
    df: DataFrame, column: str, lo: float, hi: float, bins: int = 10
) -> DataFrame:
    """Histogram over fixed [lo, hi) with ``bins`` equal buckets; values at
    or beyond the edges clamp into the end buckets (distribution_stats.py
    bins on the union range). Output: (bucket int, count, frac)."""
    counted = (
        df.filter(F.col(column).isNotNull())
        .groupBy(_bucket(column, lo, hi, bins).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("count"))
    )
    total = counted.agg(F.sum("count").alias("__t"))
    return counted.crossJoin(F.broadcast(total)).select(
        "bucket", "count", (F.col("count") / F.col("__t")).alias("frac")
    )


def psi(
    ref: DataFrame, cur: DataFrame, column: str, lo: float, hi: float, bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """A17 — Population Stability Index between two frames on one column:
    Σ (p_i - q_i) * ln(p_i / q_i) over shared fixed bins (zero-count bins
    floored at eps, the standard PSI smoothing)."""
    p = binned_distribution(ref, column, lo, hi, bins).select(
        "bucket", F.col("frac").alias("p")
    )
    q = binned_distribution(cur, column, lo, hi, bins).select(
        "bucket", F.col("frac").alias("q")
    )
    j = p.join(q, "bucket", "full").select(
        "bucket",
        F.greatest(F.coalesce(F.col("p"), F.lit(0.0)), F.lit(eps)).alias("p"),
        F.greatest(F.coalesce(F.col("q"), F.lit(0.0)), F.lit(eps)).alias("q"),
    )
    # Same integer pico-unit term quantization as psi_by_feature: the sum
    # is commutative in any partitioning and bit-identical in DuckDB
    # (terms are ≥ 0 and ≤ ln(1/eps) ≈ 13.8, so no overflow).
    term = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    return j.select(term.alias("__term")).agg(
        (
            F.sum(F.floor(F.col("__term") * F.lit(1e12) + F.lit(0.5)).cast("long")).cast(
                "double"
            )
            / F.lit(1e12)
        ).alias("psi")
    )


def js_divergence(
    ref: DataFrame, cur: DataFrame, column: str, lo: float, hi: float, bins: int = 10
) -> DataFrame:
    """A17 — Jensen-Shannon divergence (base-e) over shared fixed bins."""
    p = binned_distribution(ref, column, lo, hi, bins).select("bucket", F.col("frac").alias("p"))
    q = binned_distribution(cur, column, lo, hi, bins).select("bucket", F.col("frac").alias("q"))
    j = p.join(q, "bucket", "full").select(
        F.coalesce(F.col("p"), F.lit(0.0)).alias("p"),
        F.coalesce(F.col("q"), F.lit(0.0)).alias("q"),
    ).withColumn("m", (F.col("p") + F.col("q")) / 2)
    kl_term = lambda a: F.when(F.col(a) > 0, F.col(a) * F.log(F.col(a) / F.col("m"))).otherwise(0.0)  # noqa: E731
    return j.agg(((F.sum(kl_term("p")) + F.sum(kl_term("q"))) / 2).alias("js_divergence"))


def ks_statistic(ref: DataFrame, cur: DataFrame, column: str) -> DataFrame:
    """A17 — exact two-sample Kolmogorov-Smirnov statistic: max |CDF_p - CDF_q|
    over the merged value set. Distributed: per-frame (value, count) groupBy,
    full-outer join, running-sum window over value order.

    The window is global-ordered (single task over DISTINCT values, not
    rows) — at 100 TB distinct values of a continuous column may still be
    large; then bin first (binned KS) or sample. Exact version kept for
    parity with scipy.ks_2samp on test SF.
    """
    pc = ref.filter(F.col(column).isNotNull()).groupBy(F.col(column).alias("v")).agg(
        F.count(F.lit(1)).alias("pc")
    )
    qc = cur.filter(F.col(column).isNotNull()).groupBy(F.col(column).alias("v")).agg(
        F.count(F.lit(1)).alias("qc")
    )
    j = pc.join(qc, "v", "full").select(
        "v",
        F.coalesce(F.col("pc"), F.lit(0)).alias("pc"),
        F.coalesce(F.col("qc"), F.lit(0)).alias("qc"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    totals = j.agg(F.sum("pc").alias("tp"), F.sum("qc").alias("tq"))
    cdf = j.withColumn("cp", F.sum("pc").over(w)).withColumn("cq", F.sum("qc").over(w))
    return cdf.crossJoin(F.broadcast(totals)).agg(
        F.max(F.abs(F.col("cp") / F.col("tp") - F.col("cq") / F.col("tq"))).alias("ks")
    )


def detect_drift(
    ref: DataFrame,
    cur: DataFrame,
    id_column: str,
    columns: list[str],
    rel_tol: float = 0.01,
) -> DataFrame:
    """A18 — per-row drift flags between two frames sharing an id
    (pandas_utils.py:545-628): a value drifts if |ref-cur| exceeds
    rel_tol × (per-column ref range). Output: one row per drifted
    (id, column) with both values."""
    rng_aggs = []
    for c in columns:
        rng_aggs.append((F.max(F.col(c)) - F.min(F.col(c))).alias(f"{c}__rng"))
    ranges = ref.agg(*rng_aggs)
    r = ref.select(id_column, *[F.col(c).alias(f"{c}__ref") for c in columns])
    c_ = cur.select(id_column, *[F.col(c).alias(f"{c}__cur") for c in columns])
    joined = r.join(c_, id_column, "inner").crossJoin(F.broadcast(ranges))
    stacked = []
    for c in columns:
        stacked.append(
            joined.select(
                F.col(id_column).alias("id"),
                F.lit(c).alias("column_name"),
                F.col(f"{c}__ref").cast("double").alias("ref_value"),
                F.col(f"{c}__cur").cast("double").alias("cur_value"),
                F.col(f"{c}__rng").cast("double").alias("__rng"),
            )
        )
    import functools

    long = functools.reduce(DataFrame.unionAll, stacked)
    return long.filter(
        F.abs(F.col("ref_value") - F.col("cur_value")) > rel_tol * F.col("__rng")
    ).drop("__rng")


def ks_statistic_binned(
    ref: DataFrame, cur: DataFrame, column: str, lo: float, hi: float, bins: int = 1000
) -> DataFrame:
    """Scalable KS: max CDF gap over fixed bins instead of distinct values
    — two binned-histogram aggregations (O(bins) state, map-side
    combinable) + an O(bins) cumulative comparison. Underestimates the
    exact statistic by at most the per-bin mass; bins=1000 keeps the gap
    under ~1e-3 on continuous data. This is the 100 TB path where the
    exact version's distinct-value window would be a single giant task."""
    p = binned_distribution(ref, column, lo, hi, bins).select("bucket", F.col("count").alias("pc"))
    q = binned_distribution(cur, column, lo, hi, bins).select("bucket", F.col("count").alias("qc"))
    j = p.join(q, "bucket", "full").select(
        "bucket",
        F.coalesce("pc", F.lit(0)).alias("pc"),
        F.coalesce("qc", F.lit(0)).alias("qc"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    totals = j.agg(F.sum("pc").alias("tp"), F.sum("qc").alias("tq"))
    cdf = j.withColumn("cp", F.sum("pc").over(w)).withColumn("cq", F.sum("qc").over(w))
    return cdf.crossJoin(F.broadcast(totals)).agg(
        F.max(F.abs(F.col("cp") / F.col("tp") - F.col("cq") / F.col("tq"))).alias("ks")
    )


def drift_by_feature(
    ref: DataFrame,
    cur: DataFrame,
    bounds: dict[str, tuple[float, float]],
    psi_bins: int = 10,
    ks_bins: int = 1000,
    eps: float = 1e-6,
) -> DataFrame:
    """PSI and binned KS for MANY features in ONE histogram pass (the
    Monitor job shape — monitoring hundreds of features must not issue
    hundreds of jobs). Output: (feature, psi, ks), one row per feature
    with a non-null value on either side; psi is NULL when either side
    has none. Same math as psi() / ks_statistic_binned() per feature.

    Both sides are tagged, melted into long form map-side (a Generate, no
    shuffle; each value gets its PSI and its KS bucket, each computed from
    the value) and counted by ONE (feature, ks_bucket, psi_bucket)
    groupBy. The rest is windows partitioned by feature (never a global
    order) and one groupBy(feature)."""

    def melt(df: DataFrame, is_ref: bool) -> DataFrame:
        cols = [
            F.struct(
                F.lit(c).alias("feature"),
                F.when(F.col(c).isNotNull(), _bucket(c, lo, hi, ks_bins)).alias("kb"),
                _bucket(c, lo, hi, psi_bins).alias("pb"),
            )
            for c, (lo, hi) in bounds.items()
        ]
        return df.select(
            F.lit(is_ref).alias("is_ref"), F.explode(F.array(*cols)).alias("m")
        ).select("is_ref", "m.*")

    hist = (
        melt(ref, True)
        .unionByName(melt(cur, False))
        .filter(F.col("kb").isNotNull())
        .groupBy("feature", "kb", "pb")
        .agg(
            F.count(F.when(F.col("is_ref"), 1)).alias("pc"),
            F.count(F.when(~F.col("is_ref"), 1)).alias("qc"),
        )
    )
    # RANGE frame: one KS bucket can span two PSI buckets (float floors of
    # (x−lo)/width at two widths), and its rows must share one running sum
    by_kb = Window.partitionBy("feature").orderBy("kb")
    whole = by_kb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    by_pb = Window.partitionBy("feature", "pb")
    p = F.greatest(F.coalesce(F.sum("pc").over(by_pb) / F.col("tp"), F.lit(0.0)), F.lit(eps))
    q = F.greatest(F.coalesce(F.sum("qc").over(by_pb) / F.col("tq"), F.lit(0.0)), F.lit(eps))
    # Cross-row float sum → quantize each per-bucket term to integer
    # pico-units and SUM the integers (commutative in any partitioning,
    # bit-identical in DuckDB — the micro-nat pattern). Terms are ≥ 0
    # ((p−q) and ln(p/q) share sign), bounded by ln(1/eps) ≈ 13.8, so
    # term·1e12 < 2^53 and the BIGINT sum can't overflow at any bins.
    # Each PSI bucket's term is counted on its lowest-KS-bucket row only;
    # buckets empty on both sides would add (eps−eps)·ln 1 = 0.
    term = F.floor((p - q) * F.log(p / q) * F.lit(1e12) + F.lit(0.5)).cast("long")
    rows = (
        hist.withColumn("tp", F.sum("pc").over(whole))
        .withColumn("tq", F.sum("qc").over(whole))
        .select(
            "feature",
            F.when(F.col("kb") == F.min("kb").over(by_pb), term).alias("term"),
            F.abs(
                F.sum("pc").over(by_kb) / F.col("tp") - F.sum("qc").over(by_kb) / F.col("tq")
            ).alias("gap"),
            "tp",
            "tq",
        )
    )
    return rows.groupBy("feature").agg(
        F.when(
            (F.max("tp") > 0) & (F.max("tq") > 0),
            F.sum("term").cast("double") / F.lit(1e12),
        ).alias("psi"),
        F.max("gap").alias("ks"),
    )


def psi_by_feature(
    ref: DataFrame,
    cur: DataFrame,
    bounds: dict[str, tuple[float, float]],
    bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """PSI for MANY features in one fused pass (drift_by_feature).
    Output: (feature, psi) for the features with non-null values on both
    sides. Identical math to psi() per feature (zero bins floored at eps)."""
    out = drift_by_feature(ref, cur, bounds, bins, bins, eps)
    return out.filter(F.col("psi").isNotNull()).select("feature", "psi")


def ks_by_feature(
    ref: DataFrame,
    cur: DataFrame,
    bounds: dict[str, tuple[float, float]],
    bins: int = 1000,
) -> DataFrame:
    """Binned KS for MANY features in one fused pass (drift_by_feature).
    Output: (feature, ks), NULL when one side has no non-null values.
    Same math as ks_statistic_binned per feature."""
    return drift_by_feature(ref, cur, bounds, bins, bins).select("feature", "ks")
