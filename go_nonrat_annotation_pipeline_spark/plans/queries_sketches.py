"""Sketch queries (deterministic HLL / KMV / count-min). The
oracle-checked output is the integer sketch STATE (registers / minima /
counter minima); float estimates derived from that state are asserted
against true cardinalities in tests/test_sketches.py, never at the hash
boundary."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import sketches as SK
from ..sources.testdata import load_table
from .registry import register

# the sketched key: distinct (partkey, suppkey) combos in lineitem —
# high enough cardinality (~52k at sf0.01) that the sketches do real work
_KEY_SQL = "CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR)"


def _key_col():
    return F.concat_ws("|", "l_partkey", "l_suppkey")


@register(
    "q_hll_registers",
    SK.sql_hll_registers("lineitem", _KEY_SQL, p=6),
    doc="sketch: HyperLogLog m=64 register state over distinct part-supp "
    "pairs; map-side partial MAX -> 64-row shuffle at any input size",
)
def q_hll_registers(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return SK.hll_registers(li, _key_col(), p=6)


@register(
    "q_kmv_distinct",
    SK.sql_kmv_minima("lineitem", _KEY_SQL, k=32),
    doc="sketch: bottom-32 distinct hash minima (KMV distinct-count "
    "sketch); TakeOrdered per-partition heaps, no global sort",
)
def q_kmv_distinct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return SK.kmv_minima(li, _key_col(), k=32)


@register(
    "q_cms_counts",
    f"""
    WITH est AS ({SK.sql_cms_point_estimates(
        "events", "event_type",
        "(SELECT DISTINCT event_type FROM events)", "event_type")}),
    true_ AS (
      SELECT event_type AS key, COUNT(*) AS true_count
      FROM events GROUP BY 1
    )
    SELECT est.key, est.est_count, true_.true_count
    FROM est JOIN true_ USING (key)
    """,
    doc="sketch: count-min (d=4, w=256) point estimates vs true counts; "
    "counter shuffle bounded by d*w rows per partition",
)
def q_cms_counts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    probes = ev.select("event_type").distinct()
    est = SK.cms_point_estimates(ev, F.col("event_type"), probes, "event_type")
    true_ = ev.groupBy(F.col("event_type").alias("key")).agg(
        F.count("*").alias("true_count")
    )
    return est.join(true_, "key")
