"""Join-strategy queries (binned range join, bloom-prefiltered join).

Both oracles are the NAIVE formulation (a raw inequality join / a plain
equi-join): the operators must be plan-level rewrites with bit-identical
results, which is exactly what the hash gate proves.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import joins as J
from ..sources.testdata import load_table
from .registry import register


# ---------------------------------------------------------------------------
# Range join: clicks within the hour after each purchase, same user.
# The oracle is the plain theta-join; the Spark plan is an equi-join on
# (user, hour-bin) + exact range predicate — hash-joinable, no
# BroadcastNestedLoopJoin anywhere (asserted in tests/test_joins.py).
# ---------------------------------------------------------------------------
@register(
    "q_range_interval_join",
    """
    SELECT p.event_id AS purchase_id,
           COUNT(c.event_id) AS n_clicks,
           CAST(COALESCE(SUM(CAST(ROUND(c.value * 100) AS BIGINT)), 0)
                AS BIGINT) AS click_value_cents
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
    GROUP BY 1
    """,
    doc="join: interval-containment via bin bucketing (equi-join on "
    "(user, time-bin)); oracle is the raw theta-join",
)
def q_range_interval_join(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("interval 1 hour")).alias("hi"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        "ts",
        "value",
    )
    joined = J.range_bin_join(
        clicks, purchases, "c_user", "p_user", "ts", "lo", "hi",
        bin_seconds=3600,
    ).select("purchase_id", "click_id", "value")
    # left-join semantics: purchases with zero clicks must still appear
    counts = joined.groupBy("purchase_id").agg(
        F.count("click_id").alias("n_clicks"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    return (
        purchases.select("purchase_id")
        .join(counts, "purchase_id", "left")
        .select(
            "purchase_id",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("cents", F.lit(0)).cast("long").alias("click_value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered join: lineitems of urgent finished orders. Oracle is
# the plain join — the bloom bitset prunes probe rows before the shuffle
# (false positives removed by the real join, no false negatives), so the
# results must hash-match exactly.
# ---------------------------------------------------------------------------
@register(
    "q_bloom_prefilter_join",
    """
    SELECT l.l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM lineitem l
    JOIN (SELECT o_orderkey FROM orders
          WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT') o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    doc="join: broadcast bloom-bitset prefilter on the probe side; "
    "oracle is the plain equi-join (bloom is semantically invisible)",
)
def q_bloom_prefilter_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    dim = orders.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT")
    ).select("o_orderkey")
    out = J.bloom_prefilter_join(li, dim, "l_orderkey", "o_orderkey")
    return out.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("price_cents"),
    )
