"""Timed funnel, equi-depth binning, per-group mode.

- ``q_funnel_within``: the TIME-CONSTRAINED funnel the first-touch
  funnel (``q_funnel_ordered``) cannot express — for every view, was
  there a purchase by the same user within the next hour? The
  next-purchase timestamp comes from one conditional MIN window over
  the user's stream in DESCENDING (ts, event_id) order with a
  1-PRECEDING frame (i.e. strictly-later events) — never a view ×
  purchase self-join, whose fan-out is quadratic in per-user activity.
  Latencies are exact epoch-microsecond differences; one summary row.
- ``q_equidepth_bins``: exact equi-depth (equal-frequency) bin
  boundaries over l_extendedprice — the feature-quantization step of
  an ML pipeline, done WITHOUT a global sort: boundaries read off the
  ``operators/ranking.value_rank2`` rank table (end rank = (rank2 +
  cnt - 1)/2, always integral), with the 9 cut positions
  ceil(i·n/B) as a broadcast 9-row frame. Boundary values ship as
  exact *100 cents via DECIMAL(18,2) (a bare double*100 cast would
  truncate-vs-round differently at the engines' boundary).
- ``q_mode_per_group``: per-group modal value with a deterministic
  smallest-value tiebreak — two dictionary-sized aggregates (count
  per (group, value), then min-over-argmax), no window at all.

North-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.ranking import value_rank2
from ..sources.testdata import load_table
from .registry import register

_FUN_A, _FUN_B = "view", "purchase"
_FUN_WITHIN_US = 3_600_000_000  # 1 hour in microseconds


@register(
    "q_funnel_within",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type, EPOCH_US(ts) AS ts_us
      FROM events
    ),
    nxt AS (
      SELECT user_id, event_type, ts_us,
             MIN(CASE WHEN event_type = '{_FUN_B}' THEN ts_us END)
               OVER (PARTITION BY user_id
                     ORDER BY ts_us DESC, event_id DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS next_b_us
      FROM ev
    ),
    vw AS (
      SELECT user_id, ts_us, next_b_us,
             CASE WHEN next_b_us IS NOT NULL
                   AND next_b_us - ts_us <= {_FUN_WITHIN_US}
                  THEN 1 ELSE 0 END AS conv
      FROM nxt WHERE event_type = '{_FUN_A}'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(SUM(conv) AS BIGINT) AS n_converted,
           CAST(COUNT(DISTINCT CASE WHEN conv = 1 THEN user_id END)
                AS BIGINT) AS n_users_converted,
           CAST(SUM(CASE WHEN conv = 1 THEN next_b_us - ts_us END)
                AS BIGINT) AS sum_latency_us,
           CAST(SUM(conv) * 1000000 // COUNT(*) AS BIGINT) AS conv_ppm
    FROM vw
    """,
    doc="time-constrained funnel (view -> purchase within 1h): "
    "next-purchase via one conditional MIN window per user in "
    "descending (ts, event_id) order — no quadratic self-join; exact "
    "epoch-microsecond latencies, integer conv_ppm, one summary row",
)
def q_funnel_within(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts_us"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = ev.withColumn(
        "next_b_us",
        F.min(
            F.when(F.col("event_type") == _FUN_B, F.col("ts_us"))
        ).over(w),
    )
    vw = nxt.where(F.col("event_type") == _FUN_A).withColumn(
        "conv",
        F.when(
            F.col("next_b_us").isNotNull()
            & (F.col("next_b_us") - F.col("ts_us") <= _FUN_WITHIN_US),
            1,
        ).otherwise(0),
    )
    return vw.agg(
        F.count(F.lit(1)).cast("long").alias("n_views"),
        F.sum("conv").cast("long").alias("n_converted"),
        F.countDistinct(
            F.when(F.col("conv") == 1, F.col("user_id"))
        )
        .cast("long")
        .alias("n_users_converted"),
        F.sum(
            F.when(
                F.col("conv") == 1,
                F.col("next_b_us") - F.col("ts_us"),
            )
        )
        .cast("long")
        .alias("sum_latency_us"),
        F.expr(
            "CAST(SUM(conv) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("conv_ppm"),
    )


_B = 10  # equi-depth bin count


@register(
    "q_equidepth_bins",
    f"""
    WITH vals AS (
      SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS x
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    ranked AS (
      SELECT x, RANK() OVER (ORDER BY x)
                  + COUNT(*) OVER (PARTITION BY x) - 1 AS end_rank
      FROM vals
    ),
    dv AS (SELECT x, MAX(end_rank) AS end_rank FROM ranked GROUP BY x),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
    cuts AS (
      SELECT UNNEST(GENERATE_SERIES(1, {_B - 1})) AS bin
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(MIN(x) * 100 AS BIGINT) AS boundary_e2
    FROM dv, cuts, n
    WHERE end_rank >= (bin * n + {_B} - 1) // {_B}
    GROUP BY bin
    ORDER BY bin
    """,
    doc=f"exact equi-depth ({_B}-quantile) bin boundaries over "
    "l_extendedprice WITHOUT a global sort: end ranks from the "
    "distributed ranking operator (range exchange + broadcast prefix "
    "offsets), 9 cut positions as a broadcast frame, boundaries as "
    "exact *100 cents",
)
def q_equidepth_bins(spark, sf_dir):
    vals = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_extendedprice").isNotNull())
        .select(
            F.col("l_extendedprice").cast("decimal(18,2)").alias("x")
        )
    )
    ranks = value_rank2(vals, "x").withColumn(
        "end_rank",
        F.expr("CAST((rank2 + cnt - 1) DIV 2 AS BIGINT)"),
    )
    n = vals.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cuts = spark.range(1, _B).select(F.col("id").alias("bin"))
    return (
        ranks.crossJoin(F.broadcast(cuts))
        .crossJoin(F.broadcast(n))
        .where(
            F.col("end_rank")
            >= F.expr(f"CAST((bin * n + {_B} - 1) DIV {_B} AS BIGINT)")
        )
        .groupBy(F.col("bin").cast("long").alias("bin"))
        .agg(
            (F.min("x") * 100).cast("long").alias("boundary_e2")
        )
        .orderBy("bin")
    )


_MODE_G, _MODE_V = "l_returnflag", "l_quantity"


@register(
    "q_mode_per_group",
    f"""
    WITH c AS (
      SELECT {_MODE_G} AS g, CAST({_MODE_V} AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    mx AS (SELECT g, MAX(cnt) AS cnt FROM c GROUP BY g)
    SELECT c.g AS {_MODE_G},
           CAST(MIN(c.v) AS BIGINT) AS mode_value,
           CAST(MAX(c.cnt) AS BIGINT) AS mode_count
    FROM c JOIN mx ON c.g = mx.g AND c.cnt = mx.cnt
    GROUP BY c.g
    ORDER BY c.g
    """,
    doc="per-group modal value with smallest-value tiebreak: count "
    "per (group, value) then min-over-argmax — two dictionary-sized "
    "hash aggregates + one broadcast join, no window",
)
def q_mode_per_group(spark, sf_dir):
    c = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col(_MODE_G).alias("g"),
            F.col(_MODE_V).cast("long").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    mx = c.groupBy("g").agg(F.max("cnt").alias("cnt"))
    return (
        c.join(F.broadcast(mx), ["g", "cnt"])
        .groupBy("g")
        .agg(
            F.min("v").cast("long").alias("mode_value"),
            F.max("cnt").cast("long").alias("mode_count"),
        )
        .select(
            F.col("g").alias(_MODE_G),
            "mode_value",
            "mode_count",
        )
        .orderBy(_MODE_G)
    )
