"""Monitoring statistics: CUSUM changepoint + two-sample KS test.

Completes the drift/shift toolkit (KL, PSI) with the two classical
tests, both made EXACT by clearing denominators into integers:

- ``q_cusum_changepoint``: where did the daily event-rate shift?
  CUSUM_t = Σ_{i<=t} (c_i − mean). Scaling by D (the day count)
  clears the float mean: D·CUSUM_t = Σ (c_i·D − T) is an exact
  BIGINT cumulative sum over the day-domain-sized frame; the
  changepoint is the day with max |D·CUSUM| (deterministic tiebreak:
  earliest day).
- ``q_ks_test``: Kolmogorov-Smirnov distance between two sources'
  length distributions. D = max_x |F_a(x) − F_b(x)| cross-multiplied
  into integers: n_a·n_b·D = max |cum_a(x)·n_b − cum_b(x)·n_a| — an
  exact BIGINT max over the merged value domain, reported with
  ks_ppm = that max · 1e6 DIV (n_a·n_b). ECDFs are cumulative window
  sums over the DISTINCT-value domain (bounded for n_chars; for an
  unbounded continuous column the domain would first pass through the
  q_hist_by_source binning).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..sources.testdata import load_table
from .registry import register

_A, _B = "src0", "src1"


@register(
    "q_cusum_changepoint",
    """
    WITH cdaily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    ctot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS nd
      FROM cdaily
    ),
    ccusum AS (
      SELECT d,
             CAST(SUM(c * nd - t) OVER (ORDER BY d) AS BIGINT)
               AS cusum_scaled
      FROM cdaily, ctot
    )
    SELECT d AS changepoint_day, cusum_scaled,
           (SELECT nd FROM ctot) AS n_days
    FROM ccusum
    ORDER BY ABS(cusum_scaled) DESC, d
    LIMIT 1
    """,
    doc="CUSUM changepoint on the daily event-rate series: scaling by "
    "the day count clears the float mean, so the cumulative deviation "
    "sum is an exact BIGINT cumulative window over the day domain; "
    "changepoint = max |scaled CUSUM|, earliest-day tiebreak",
)
def q_cusum_changepoint(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = daily.agg(
        F.sum("c").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    # date-typed column: dayofmonth % 1 is the column-derived constant
    wcum = Window.partitionBy(F.dayofmonth("d") % 1).orderBy("d")
    cusum = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        F.sum(F.col("c") * F.col("nd") - F.col("t"))
        .over(wcum)
        .cast("long")
        .alias("cusum_scaled"),
        F.col("nd").alias("n_days"),
    )
    return (
        cusum.orderBy(F.abs(F.col("cusum_scaled")).desc(), F.asc("d"))
        .limit(1)
        .select(
            F.col("d").alias("changepoint_day"),
            "cusum_scaled",
            "n_days",
        )
    )


@register(
    "q_ks_test",
    f"""
    WITH kv AS (
      SELECT n_chars AS x,
             CAST(COUNT(*) FILTER (WHERE source = '{_A}') AS BIGINT)
               AS ca,
             CAST(COUNT(*) FILTER (WHERE source = '{_B}') AS BIGINT)
               AS cb
      FROM documents
      WHERE source IN ('{_A}', '{_B}') AND n_chars IS NOT NULL
      GROUP BY 1
    ),
    kt AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb
      FROM kv
    ),
    kcum AS (
      SELECT x,
             CAST(SUM(ca) OVER (ORDER BY x) AS BIGINT) AS cuma,
             CAST(SUM(cb) OVER (ORDER BY x) AS BIGINT) AS cumb
      FROM kv
    )
    SELECT na, nb,
           CAST(MAX(ABS(cuma * nb - cumb * na)) AS BIGINT)
             AS ks_scaled,
           CAST(MAX(ABS(cuma * nb - cumb * na)) * 1000000
                // (na * nb) AS BIGINT) AS ks_ppm
    FROM kcum, kt
    GROUP BY na, nb
    """,
    doc="two-sample Kolmogorov-Smirnov distance between two sources' "
    "length distributions: ECDF difference cross-multiplied into "
    "exact BIGINTs (max |cum_a*n_b - cum_b*n_a| over the merged "
    "distinct-value domain), ks_ppm by integer DIV — no float "
    "anywhere",
)
def q_ks_test(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    kv = (
        docs.where(
            F.col("source").isin([_A, _B]) & F.col("n_chars").isNotNull()
        )
        .groupBy(F.col("n_chars").alias("x"))
        .agg(
            F.sum((F.col("source") == _A).cast("long"))
            .cast("long")
            .alias("ca"),
            F.sum((F.col("source") == _B).cast("long"))
            .cast("long")
            .alias("cb"),
        )
    )
    kt = kv.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    wcum = Window.partitionBy(F.col("x") % 1).orderBy("x")
    kcum = kv.select(
        "x",
        F.sum("ca").over(wcum).cast("long").alias("cuma"),
        F.sum("cb").over(wcum).cast("long").alias("cumb"),
    )
    return (
        kcum.crossJoin(F.broadcast(kt))
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(
                    F.col("cuma") * F.col("nb")
                    - F.col("cumb") * F.col("na")
                )
            )
            .cast("long")
            .alias("ks_scaled")
        )
        .select(
            "na",
            "nb",
            "ks_scaled",
            F.expr(
                "CAST(ks_scaled * 1000000 DIV (na * nb) AS BIGINT)"
            ).alias("ks_ppm"),
        )
    )
