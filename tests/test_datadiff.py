"""Drift comparators: the one-pass ``diff_datasets_*`` against the
plan-level composition of the public histogram building blocks, the
exact-zero self-distance, and the fixed job count per call."""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from spark_pipeline_spark.operators.datadiff import (
    column_bounds_multi,
    continuous_histograms,
    diff_datasets_continuous,
    diff_datasets_discrete,
    hash_histograms,
    histogram_distance_df,
)
from spark_pipeline_spark.queries import t
from tests.conftest import SF_SMALL

NUMERIC = ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_linenumber", "q_nulls"]
DISCRETE = ["l_returnflag", "l_linestatus", "l_linenumber", "l_quantity", "l_tax", "q_nulls"]


def _lineitem(spark):
    # q_nulls: a column with nulls on both sides
    return t(spark, SF_SMALL, "lineitem").withColumn(
        "q_nulls", F.when(F.col("l_linenumber") != 1, F.col("l_quantity"))
    )


@pytest.fixture(scope="module")
def sides(spark):
    li = _lineitem(spark)
    a = li.filter(F.col("l_orderkey") % 3 != 0)
    # a shifted second side: different rows, scaled prices, a flag rewrite
    b = li.filter(F.col("l_orderkey") % 2 == 0).withColumn(
        "l_extendedprice", F.col("l_extendedprice") * 1.3
    ).withColumn(
        "l_returnflag", F.when(F.col("l_returnflag") == "N", "X").otherwise(F.col("l_returnflag"))
    )
    return a, b


def _plan_discrete(df1, df2, columns, max_bins, metric):
    dist = histogram_distance_df(
        hash_histograms(df1, columns, max_bins), hash_histograms(df2, columns, max_bins), metric
    )
    return {r["col_name"]: r["distance"] for r in dist.collect()}


def _plan_continuous(df1, df2, columns, bins, metric):
    bounds = column_bounds_multi(df1, columns)
    dist = histogram_distance_df(
        continuous_histograms(df1, columns, bins, bounds),
        continuous_histograms(df2, columns, bins, bounds),
        metric,
    )
    return {r["col_name"]: r["distance"] for r in dist.collect()}


def _assert_close(got, want):
    assert got.keys() == want.keys()
    for c in want:
        assert abs(got[c] - want[c]) <= 1e-12, (c, got[c], want[c])


@pytest.mark.parametrize("metric", ["tvd", "psi"])
def test_discrete_matches_plan_composition(sides, metric):
    a, b = sides
    for df1, df2 in ((a, b), (b, a), (a, a.limit(0)), (a.limit(0), b)):
        got = diff_datasets_discrete(df1, df2, DISCRETE, max_bins=64, metric=metric)
        _assert_close(got, _plan_discrete(df1, df2, DISCRETE, 64, metric))
        assert len(got) == len(DISCRETE)


@pytest.mark.parametrize("metric", ["tvd", "psi"])
def test_continuous_matches_plan_composition(sides, metric):
    a, b = sides
    # the plan composition needs df1's bounds, so only df2 may be empty
    for df1, df2 in ((a, b), (b, a), (a, a.limit(0))):
        got = diff_datasets_continuous(df1, df2, NUMERIC, bins=50, metric=metric)
        _assert_close(got, _plan_continuous(df1, df2, NUMERIC, 50, metric))
        assert len(got) == len(NUMERIC)


def test_default_column_selection_matches_plan_composition(sides):
    a, b = sides
    shared = [c for c in a.columns if c in set(b.columns)]
    numeric = [n for n, tp in a.dtypes if tp in {"int", "bigint", "double"}]
    _assert_close(
        diff_datasets_discrete(a, b, max_bins=64), _plan_discrete(a, b, shared, 64, "tvd")
    )
    _assert_close(
        diff_datasets_continuous(a, b, bins=50), _plan_continuous(a, b, numeric, 50, "tvd")
    )


def test_both_sides_empty_is_empty_report(sides):
    a, _ = sides
    e = a.limit(0)
    assert diff_datasets_discrete(e, e, DISCRETE) == {}
    assert _plan_discrete(e, e, DISCRETE, 1000, "tvd") == {}
    assert diff_datasets_continuous(e, e, NUMERIC) == {}
    # a df1 with no values at all is binned with degenerate bounds
    assert diff_datasets_continuous(e, a, ["l_tax"])["l_tax"] == pytest.approx(0.5)


@pytest.mark.parametrize("metric", ["tvd", "psi"])
def test_self_distance_is_exactly_zero(sides, metric):
    a, _ = sides
    assert set(diff_datasets_discrete(a, a, DISCRETE, metric=metric).values()) == {0.0}
    assert set(diff_datasets_continuous(a, a, NUMERIC, metric=metric).values()) == {0.0}


def test_unknown_metric_rejected_before_any_job(spark, sides):
    a, b = sides
    with _job_group(spark) as jobs:
        with pytest.raises(ValueError, match="unknown metric"):
            diff_datasets_discrete(a, b, DISCRETE, metric="kl")
        with pytest.raises(ValueError, match="unknown metric"):
            diff_datasets_continuous(a, b, NUMERIC, metric="kl")
    assert jobs() == 0


@contextmanager
def _job_group(spark):
    sc = spark.sparkContext
    gid = f"datadiff-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(gid))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("n_cols", [2, 6])
def test_job_count_is_fixed_per_call(spark, sides, n_cols):
    """One tagged pass per call: discrete ≤ 2 jobs, continuous ≤ 4 (the
    bounds agg adds 2), whatever the number of columns."""
    a, b = sides
    with _job_group(spark) as jobs:
        diff_datasets_discrete(a, b, DISCRETE[:n_cols])
    assert jobs() <= 2
    with _job_group(spark) as jobs:
        diff_datasets_continuous(a, b, NUMERIC[:n_cols])
    assert jobs() <= 4
