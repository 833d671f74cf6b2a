"""RFM (recency / frequency / monetary) scoring over `events`.

The classic engagement segmentation, built with the repo's exact
equi-depth machinery (the q_length_bucketing_sketch rule): per-user
recency (last-seen epoch-day), frequency (event count) and monetary
mass (Σ floor(value·100), exact BIGINT cents) each map to a quintile
via boundaries from one cumulative window over the user-dimension-sized
value dictionary — 5·cum ≥ q·N, integer-exact, ties share a bucket.
No corpus-sized sort: the only corpus pass is the per-user aggregate.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.testdata import load_table
from .registry import register

_Q = 5

_BASE_CTE = """
    rfm_u AS (
      SELECT user_id,
             MAX(CAST(epoch_us(ts) AS BIGINT) // 86400000000) AS r_day,
             CAST(COUNT(*) AS BIGINT) AS f_cnt,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS m_cents
      FROM events GROUP BY user_id
    )"""


def _sql_bounds(metric: str, name: str) -> str:
    return f"""
    {name}_c AS (
      SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               AS cum,
             (SELECT COUNT(*) FROM rfm_u) AS n
      FROM (SELECT {metric} AS v, COUNT(*) AS c FROM rfm_u GROUP BY 1)
    ), {name} AS (
      SELECT q, MIN(v) AS boundary
      FROM {name}_c, UNNEST(GENERATE_SERIES(1, {_Q - 1})) AS t(q)
      WHERE {_Q} * cum >= q * n
      GROUP BY q
    )"""


_SQL_SCORES = (
    "WITH "
    + _BASE_CTE
    + ","
    + _sql_bounds("r_day", "rb")
    + ","
    + _sql_bounds("f_cnt", "fb")
    + ","
    + _sql_bounds("m_cents", "mb")
    + """
    , scored AS (
      SELECT user_id,
             CAST(1 + (SELECT COUNT(*) FROM rb
                       WHERE boundary < u.r_day) AS BIGINT) AS r,
             CAST(1 + (SELECT COUNT(*) FROM fb
                       WHERE boundary < u.f_cnt) AS BIGINT) AS f,
             CAST(1 + (SELECT COUNT(*) FROM mb
                       WHERE boundary < u.m_cents) AS BIGINT) AS m
      FROM rfm_u u
    )"""
)


def _scored(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    day = F.expr("CAST(unix_micros(ts) AS BIGINT) DIV 86400000000")
    u = events.groupBy("user_id").agg(
        F.max(day).alias("r_day"),
        F.count(F.lit(1)).alias("f_cnt"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
            "m_cents"
        ),
    )
    n = u.count()  # user-dimension scalar (one driver value)

    def bucket(col):
        vals = u.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, 0
        )
        cum = vals.withColumn("cum", F.sum("c").over(w))
        qs = spark.range(1, _Q).select(F.col("id").alias("q"))
        bounds = (
            cum.crossJoin(F.broadcast(qs))
            .where(_Q * F.col("cum") >= F.col("q") * F.lit(n))
            .groupBy("q")
            .agg(F.min(col).alias("boundary"))
            .agg(F.collect_list("boundary").alias("_bl"))
        )
        return bounds

    out = u
    for col, name in (("r_day", "r"), ("f_cnt", "f"), ("m_cents", "m")):
        out = out.crossJoin(
            F.broadcast(bucket(col).withColumnRenamed("_bl", f"_bl_{name}"))
        ).withColumn(
            name,
            (
                1
                + F.size(
                    F.filter(
                        F.col(f"_bl_{name}"), lambda x: x < F.col(col)
                    )
                )
            ).cast("long"),
        )
    return out.select("user_id", "r", "f", "m")


@register(
    "q_rfm_scores",
    _SQL_SCORES + " SELECT user_id, r, f, m FROM scored",
    doc="per-user RFM quintiles (recency/frequency/monetary): exact "
    "equi-depth boundaries from cumulative windows over the "
    "user-dimension value dictionaries (5·cum ≥ q·N, ties share a "
    "bucket), ≤4 boundary values broadcast per metric — the only "
    "corpus pass is the per-user aggregate",
)
def q_rfm_scores(spark, sf_dir):
    return _scored(spark, sf_dir)


@register(
    "q_rfm_segments",
    _SQL_SCORES
    + """
    SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM scored GROUP BY r, f, m
    """,
    doc="the RFM segment grid (≤125 cells): population per "
    "(r, f, m) — the marketing/engagement view of the same scores",
)
def q_rfm_segments(spark, sf_dir):
    return (
        _scored(spark, sf_dir)
        .groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
