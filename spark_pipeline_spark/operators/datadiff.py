"""Dataset drift detection (datadiff parity) — one-pass, multi-column.

Parity targets (SURVEY.md §2.5, ``sparktools/datadiff.py:1-56``):

- discrete comparator: hash-bucket histograms per column + total
  variation distance between bucket frequency maps;
- continuous comparator: equal-width bins, dataset 2 binned with
  dataset 1's bounds so the histograms are comparable
  (``datadiff.py:32-33`` shared-bounds contract).

Spark-first re-design, with honest job accounting: a drift report over
**any number of columns** costs a fixed number of Spark jobs (adaptive
execution on, as :func:`spark_pipeline_spark.session.get_session` sets
it: every shuffle map stage is its own job) —

1. one **tagged pass** over both datasets: each side's per-column bucket
   expressions are exploded to ``(col_name, bucket, n1, n2)`` rows (the
   side tag is ``n1 = 1`` or ``n2 = 1``), the two sides are unioned and a
   single ``groupBy(col_name, bucket)`` sums ``n1`` and ``n2`` (map-side
   partial combine collapses the explode before the shuffle, which
   carries ≤ columns × bins rows per partition). Shuffle map stage +
   collect = **2 jobs**;
2. for continuous columns, one tiny bounds agg on dataset 1 (all
   min/max pairs in a single ``agg``): **2 more jobs**.

The collected frame holds ≤ columns × (bins + 1) rows at any data size;
per-column totals, frequencies and the TVD/PSI sums are computed on the
driver with ``math.fsum`` (exactly rounded, so ``diff(X, X)`` is exactly
0). Discrete: 2 jobs per call; continuous: 4.

The reference instead runs ~4 jobs *per column* (a count + a histogram
groupBy per dataset per column, plus a distance collect each,
``sparktools/datadiff.py:41-56``) — O(columns) full scans.

The public plan-level building blocks (:func:`hash_histograms`,
:func:`continuous_histograms`, :func:`histogram_distance_df`) stay
frames: registry queries and the streaming drift monitor compose them.
Their frequencies come from a window sum over the histogram frame
itself (≤ columns × bins rows), so no separate ``count()`` job exists.

Bucketing hash is the engine's portable md5
(`spark_pipeline_spark.functions.md5_bucket`, replacing the reference's
``crc32 % bins``, ``datadiff.py:5``) — reproducible across engines, so
histograms are oracle-verifiable. Quantile binning (``approxQuantile``)
is offered alongside equal-width — the conclusion of the reference's own
binning study (``demo/histogram-generation.ipynb``).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_pipeline_spark.functions import md5_bucket

NULL_BUCKET = -1  # reference maps the null bucket to the string "None" (datadiff.py:9-11)

__all__ = [
    "NULL_BUCKET",
    "hash_histograms",
    "hash_histogram",
    "column_bounds_multi",
    "column_bounds",
    "continuous_histograms",
    "continuous_histogram",
    "quantile_bins",
    "histogram_distance_df",
    "histogram_distance",
    "diff_datasets_discrete",
    "diff_datasets_continuous",
]


def _hash_bucket_expr(column: str, max_bins: int) -> Column:
    return (
        F.when(F.col(column).isNull(), F.lit(NULL_BUCKET))
        .otherwise(md5_bucket(F.col(column), max_bins))
        .cast("bigint")
    )


def _width_bucket_expr(column: str, lo: float, hi: float, bins: int) -> Column:
    """Equal-width bucket with edge clamping: out-of-range dataset-2 mass
    registers in the edge bins instead of vanishing."""
    width = (hi - lo) / bins if hi > lo else 1.0
    x = F.col(column).cast("double")
    raw = F.floor((x - F.lit(lo)) / F.lit(width))
    clamped = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1))
    return F.when(x.isNull(), F.lit(NULL_BUCKET)).otherwise(clamped).cast("bigint")


def _bucket_rows(df: DataFrame, buckets: dict[str, Column]) -> DataFrame:
    """Explode per-column bucket expressions to ``(col_name, bucket)`` rows."""
    entries = F.array(
        *[
            F.struct(F.lit(c).alias("col_name"), e.alias("bucket"))
            for c, e in buckets.items()
        ]
    )
    return df.select(F.explode(entries).alias("e")).select("e.col_name", "e.bucket")


def _histograms(df: DataFrame, buckets: dict[str, Column]) -> DataFrame:
    """Shared one-pass core: explode per-column bucket expressions to
    (col_name, bucket), aggregate once, derive frequencies from the
    histogram frame itself (window sum — no count() job)."""
    hist = _bucket_rows(df, buckets).groupBy("col_name", "bucket").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    w = Window.partitionBy("col_name")
    return hist.select(
        "col_name",
        "bucket",
        "n_rows",
        (F.col("n_rows") / F.sum("n_rows").over(w)).alias("freq"),
    )


def hash_histograms(df: DataFrame, columns: list[str], max_bins: int = 1000) -> DataFrame:
    """Hash-bucket histograms for many columns in ONE pass.

    Output: ``(col_name, bucket, n_rows, freq)``; frequencies sum to 1
    per column; nulls land in bucket -1. Discrete-comparator building
    block (``datadiff.py:4-15``), multi-column by construction.
    """
    return _histograms(df, {c: _hash_bucket_expr(c, max_bins) for c in columns})


def hash_histogram(df: DataFrame, column: str, max_bins: int = 1000) -> DataFrame:
    """Single-column convenience: ``(bucket, freq)``."""
    return hash_histograms(df, [column], max_bins).select("bucket", "freq")


def _bounds_row(
    df: DataFrame, columns: list[str]
) -> dict[str, tuple[float | None, float | None]]:
    """Raw ``(min, max)`` per column from ONE agg job; ``None`` where the
    column holds no non-null value."""
    aggs = []
    for c in columns:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"__mn_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"__mx_{c}"))
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in columns}


def column_bounds_multi(df: DataFrame, columns: list[str]) -> dict[str, tuple[float, float]]:
    """Min/max for many numeric columns in ONE tiny agg job
    (``datadiff.py:30-31`` semantics, de-looped)."""
    return {c: (float(lo), float(hi)) for c, (lo, hi) in _bounds_row(df, columns).items()}


def column_bounds(df: DataFrame, column: str) -> tuple[float, float]:
    """Single-column convenience over :func:`column_bounds_multi`."""
    return column_bounds_multi(df, [column])[column]


def continuous_histograms(
    df: DataFrame,
    columns: list[str],
    bins: int = 1000,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Equal-width histograms for many numeric columns in ONE pass.

    Pass dataset 1's ``bounds`` when histogramming dataset 2 — the
    shared-bounds contract that makes the histograms comparable.
    """
    if bounds is None:
        bounds = column_bounds_multi(df, columns)
    return _histograms(
        df, {c: _width_bucket_expr(c, *bounds[c], bins) for c in columns}
    )


def continuous_histogram(
    df: DataFrame,
    column: str,
    bins: int = 1000,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Single-column convenience: ``(bucket, freq)``."""
    b = {column: bounds} if bounds is not None else None
    return continuous_histograms(df, [column], bins, b).select("bucket", "freq")


def quantile_bins(df: DataFrame, column: str, bins: int = 100, rel_err: float = 1e-4) -> list[float]:
    """Quantile-based bin edges via ``approxQuantile`` (Greenwald-Khanna) —
    the scalable binning the reference's histogram study recommends over
    equal-width for skewed data."""
    probs = [i / bins for i in range(bins + 1)]
    return df.approxQuantile(column, probs, rel_err)


def histogram_distance_df(
    hist1: DataFrame, hist2: DataFrame, metric: str = "tvd"
) -> DataFrame:
    """Per-column distances between two multi-column histogram frames.

    Input: two ``(col_name, bucket, ..., freq)`` frames; output one row
    per column: ``(col_name, distance)``. The combine is an outer join of
    two ≤ columns × bins frames — stays a plan, no collect.

    ``tvd``: total variation distance ``Σ|p1−p2|/2`` (``datadiff.py:
    39-44``) — 0 identical, 1 disjoint. ``psi``: population stability
    index with the conventional 1e-6 floor on empty buckets.
    """
    h1 = hist1.select("col_name", "bucket", F.col("freq").alias("f1"))
    h2 = hist2.select("col_name", "bucket", F.col("freq").alias("f2"))
    joined = h1.join(h2, on=["col_name", "bucket"], how="full_outer").fillna(
        {"f1": 0.0, "f2": 0.0}
    )
    if metric == "tvd":
        expr = F.sum(F.abs(F.col("f1") - F.col("f2")) / 2.0)
    elif metric == "psi":
        f1 = F.greatest(F.col("f1"), F.lit(1e-6))
        f2 = F.greatest(F.col("f2"), F.lit(1e-6))
        expr = F.sum((f1 - f2) * F.log(f1 / f2))
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return joined.groupBy("col_name").agg(expr.alias("distance"))


def histogram_distance(hist1: DataFrame, hist2: DataFrame, metric: str = "tvd") -> float:
    """Scalar distance between two single-column ``(bucket, freq)``
    histograms (back-compat convenience)."""
    h1 = hist1.select(F.lit("_").alias("col_name"), "bucket", "freq")
    h2 = hist2.select(F.lit("_").alias("col_name"), "bucket", "freq")
    row = histogram_distance_df(h1, h2, metric).collect()
    return float(row[0]["distance"]) if row else 0.0


def _distance(rows: list[tuple[int, int]], metric: str) -> float:
    """TVD/PSI from one column's ``(n1, n2)`` bucket counts, sorted by
    bucket. A side with no rows has frequency 0 in every bucket — the
    zero-fill of :func:`histogram_distance_df`'s outer join."""
    tot1 = sum(n1 for n1, _ in rows)
    tot2 = sum(n2 for _, n2 in rows)
    freqs = [(n1 / tot1 if tot1 else 0.0, n2 / tot2 if tot2 else 0.0) for n1, n2 in rows]
    if metric == "tvd":
        return math.fsum(abs(f1 - f2) for f1, f2 in freqs) / 2.0
    floored = [(max(f1, 1e-6), max(f2, 1e-6)) for f1, f2 in freqs]
    return math.fsum((f1 - f2) * math.log(f1 / f2) for f1, f2 in floored)


def _diff(
    df1: DataFrame, df2: DataFrame, buckets: dict[str, Column], metric: str
) -> dict[str, float]:
    """One tagged pass over both datasets: bucket each side (before the
    union, so a column keeps its own type per side), union the
    ``(col_name, bucket, n1, n2)`` rows, sum the side tags in one
    ``groupBy(col_name, bucket)``, collect, and finish on the driver."""
    if not buckets:
        return {}
    side1 = _bucket_rows(df1, buckets).select(
        "col_name", "bucket", F.lit(1).alias("n1"), F.lit(0).alias("n2")
    )
    side2 = _bucket_rows(df2, buckets).select(
        "col_name", "bucket", F.lit(0).alias("n1"), F.lit(1).alias("n2")
    )
    counts = (
        side1.unionByName(side2)
        .groupBy("col_name", "bucket")
        .agg(F.sum("n1").alias("n1"), F.sum("n2").alias("n2"))
        .collect()
    )
    per_col: dict[str, list[tuple[int, int, int]]] = {}
    for r in counts:
        per_col.setdefault(r["col_name"], []).append((r["bucket"], r["n1"], r["n2"]))
    return {
        c: _distance([(n1, n2) for _, n1, n2 in sorted(rows)], metric)
        for c, rows in per_col.items()
    }


def _check_metric(metric: str) -> None:
    if metric not in ("tvd", "psi"):
        raise ValueError(f"unknown metric {metric!r}")


def diff_datasets_discrete(
    df1: DataFrame, df2: DataFrame, columns: list[str] | None = None,
    max_bins: int = 1000, metric: str = "tvd"
) -> dict[str, float]:
    """Per-column drift over shared columns, hash-bucket comparator
    (``compare_datasets`` parity, ``datadiff.py:47-56``).

    Cost: 2 jobs (one tagged histogram pass over both datasets + its
    collect), independent of the number of columns.
    """
    _check_metric(metric)
    if columns is None:
        d2 = set(df2.columns)
        columns = [c for c in df1.columns if c in d2]
    buckets = {c: _hash_bucket_expr(c, max_bins) for c in columns}
    return _diff(df1, df2, buckets, metric)


def diff_datasets_continuous(
    df1: DataFrame, df2: DataFrame, columns: list[str] | None = None,
    bins: int = 1000, metric: str = "tvd"
) -> dict[str, float]:
    """Per-column drift for numeric columns, equal-width bins with df1's
    bounds applied to df2 (``compare_datasets_cont`` parity,
    ``datadiff.py:25-44``). A column with no non-null value in df1 is
    binned with degenerate bounds ``(0, 0)`` (unit-width bins from 0).

    Cost: 4 jobs (2 for the bounds agg on df1, 2 for one tagged histogram
    pass over both datasets + its collect), independent of the number of
    columns.
    """
    _check_metric(metric)
    if columns is None:
        numeric = {"int", "bigint", "smallint", "tinyint", "float", "double"}
        d2 = set(df2.columns)
        columns = [n for n, tp in df1.dtypes if tp in numeric and n in d2]
    if not columns:
        return {}
    buckets = {
        c: _width_bucket_expr(c, lo or 0.0, hi or 0.0, bins)
        for c, (lo, hi) in _bounds_row(df1, columns).items()
    }
    return _diff(df1, df2, buckets, metric)
