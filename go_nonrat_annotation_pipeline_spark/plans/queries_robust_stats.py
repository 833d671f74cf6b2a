"""Robust per-group statistics: MAD outliers + trimmed mean.

q_value_outliers flags by mean/stddev — which an outlier itself
corrupts; these are the classical robust twins:

- ``q_mad_outliers``: per event_type, flag values with
  |x - median| > 3 * MAD (median absolute deviation). Both medians
  come from the q_percentile_disc rank-selection pattern (PARTITIONED
  windows, never global): one pass ranks values per group, a second
  ranks |x - med|. Medians/MAD SELECT actual data values, so every
  comparison is on bit-identical doubles on both engines; the flag
  count is exact. MAD ships 6dp-rounded for the record.
- ``q_trimmed_mean``: per event_type, the mean of values strictly
  inside the [p10, p90] rank band (rank-trimmed, not value-trimmed —
  deterministic under ties by construction). events.value is exact
  2dp, so the trimmed sum is a DECIMAL(18,2) integer-exact sum and
  the mean is one identical double expression of (decimal sum, count)
  on both engines, ppm-rounded.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from ..sources.testdata import load_table
from .registry import register

_K_MAD = 3


@register(
    "q_mad_outliers",
    f"""
    WITH mranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    med AS (
      SELECT event_type,
             MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                      THEN value END) AS med
      FROM mranked GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS adev,
             ROW_NUMBER() OVER (PARTITION BY e.event_type
                                ORDER BY ABS(e.value - m.med),
                                         e.event_id) AS rn,
             COUNT(*) OVER (PARTITION BY e.event_type) AS n
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, MAX(med) AS med,
             MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                      THEN adev END) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(m.med) AS med,
           CAST(ROUND(MAX(m.mad) * 1000000) AS BIGINT) AS mad_ppm,
           CAST(SUM(CASE WHEN d.adev > {_K_MAD} * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    doc="robust outlier flags per event_type: |x - median| > 3*MAD, "
    "both medians via the rank-selection pattern over PARTITIONED "
    "windows; medians select actual data values so comparisons are on "
    "bit-identical doubles — exact flag counts, MAD as ppm",
)
def q_mad_outliers(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    wv = W.partitionBy("event_type").orderBy("value", "event_id")
    wc = W.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        "event_id",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    med = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn")
                == F.ceil(F.lit(0.5) * F.col("n")).cast("long"),
                F.col("value"),
            )
        ).alias("med")
    )
    wd = W.partitionBy("event_type").orderBy("adev", "event_id")
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .withColumn("adev", F.abs(F.col("value") - F.col("med")))
        .withColumn("rn", F.row_number().over(wd))
        .withColumn("n", F.count(F.lit(1)).over(wc))
    )
    mad = dev.groupBy("event_type").agg(
        F.max("med").alias("med"),
        F.max(
            F.when(
                F.col("rn")
                == F.ceil(F.lit(0.5) * F.col("n")).cast("long"),
                F.col("adev"),
            )
        ).alias("mad"),
    )
    return (
        dev.select("event_type", "adev")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("med").alias("med"),
            F.expr(
                "CAST(ROUND(MAX(mad) * 1000000) AS BIGINT)"
            ).alias("mad_ppm"),
            F.sum(
                F.when(
                    F.col("adev") > F.lit(_K_MAD) * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@register(
    "q_trimmed_mean",
    """
    WITH tranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    band AS (
      SELECT event_type, value, n FROM tranked
      WHERE rn > CAST(CEIL(0.1 * n) AS BIGINT)
        AND rn <= CAST(CEIL(0.9 * n) AS BIGINT)
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(ROUND(1000000 *
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                / COUNT(*)) AS BIGINT) AS trimmed_mean_ppm
    FROM band GROUP BY event_type
    """,
    doc="rank-trimmed mean per event_type (values strictly inside the "
    "[p10, p90] rank band — deterministic under ties): 2dp-exact "
    "values sum as DECIMAL(18,2), mean is one identical double "
    "expression of (decimal sum, count) on both engines, ppm-rounded",
)
def q_trimmed_mean(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    wv = W.partitionBy("event_type").orderBy("value", "event_id")
    wc = W.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    band = ranked.where(
        (F.col("rn") > F.ceil(F.lit(0.1) * F.col("n")).cast("long"))
        & (F.col("rn") <= F.ceil(F.lit(0.9) * F.col("n")).cast("long"))
    )
    return band.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.expr(
            "CAST(ROUND(1000000 *"
            " CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
            " / COUNT(*)) AS BIGINT)"
        ).alias("trimmed_mean_ppm"),
    )
