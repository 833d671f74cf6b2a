"""Histogram-quantile sketch query (operators/sketches.hist_bins)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import sketches as SK
from ..sources.testdata import load_table
from .registry import register

_LO, _HI, _BINS = 0.0, 500_000.0, 64


@register(
    "q_hist_quantile_state",
    SK.sql_hist_bins("orders", "o_totalprice", _LO, _HI, _BINS),
    doc="mergeable equal-width histogram state over o_totalprice — "
    "shuffle bounded at n_bins rows/partition; quantiles derived from "
    "the state in tests (operators/sketches.hist_bins/hist_quantile)",
)
def q_hist_quantile_state(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return SK.hist_bins(orders, F.col("o_totalprice"), _LO, _HI, _BINS)


@register(
    "q_hist_merge_law",
    SK.sql_hist_bins("orders", "o_totalprice", _LO, _HI, _BINS),
    doc="sketch merge law attested cross-engine: Spark computes TWO "
    "shard histograms (o_orderkey parity split) and merges them by "
    "bin-wise SUM; the oracle computes the whole-table state directly "
    "— hash equality IS the merge law (shards ∪ = whole)",
)
def q_hist_merge_law(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    a = SK.hist_bins(
        orders.where(F.col("o_orderkey") % 2 == 0),
        F.col("o_totalprice"), _LO, _HI, _BINS,
    )
    b = SK.hist_bins(
        orders.where(F.col("o_orderkey") % 2 == 1),
        F.col("o_totalprice"), _LO, _HI, _BINS,
    )
    return (
        a.unionByName(b)
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
    )


@register(
    "q_hll_merge_law",
    SK.sql_hll_registers("orders", "CAST(o_custkey AS VARCHAR)"),
    doc="HLL union law attested cross-engine: Spark merges two shard "
    "register tables by register-wise MAX; the oracle sketches the "
    "whole table directly — the daily-rollup shape at 100 TB",
)
def q_hll_merge_law(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_custkey").cast("string")
    a = SK.hll_registers(orders.where(F.col("o_orderkey") % 2 == 0), key)
    b = SK.hll_registers(orders.where(F.col("o_orderkey") % 2 == 1), key)
    return (
        a.unionByName(b)
        .groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
