"""Truncated EWMA smoothing + inter-arrival burstiness.

Extends the monitoring family (CUSUM/KS/PSI detect SHIFTS; these two
characterize the series itself):

- ``q_ewma_daily``: exponentially-weighted moving average of daily
  event counts per type, alpha = 1/2 truncated at K = 10 lags. Dyadic
  alpha makes every weight a power of two, so the smoothed value
  scaled by 2^K is an exact BIGINT: ewma_x1024 = Σ_{{j=0..9}}
  c_{{d-j}} · 2^(9-j) (the same dyadic-rational trick as the HLL
  z-sum). The day domain is DENSIFIED first (distinct-days grid ×
  types, missing days count 0) — a bare LAG over observed rows would
  silently skip calendar gaps and the two engines could disagree on
  nothing but data sparsity. The lag window partitions by event_type
  (scale-safe: series count × calendar days, never corpus-sized).
- ``q_burstiness_fano``: per-user inter-arrival burstiness — the
  Fano factor (variance/mean) of gap seconds, the standard
  bot-vs-human traffic discriminator (Poisson arrivals → F ≈ mean
  gap; bursty humans ≫). Cleared of floats entirely:
  var/mean = (n·Σg² - (Σg)²) / (n·Σg) on exact epoch-microsecond
  BIGINTs (micros, not float EPOCH(): DuckDB's epoch() is a DOUBLE with
  fractional seconds and would round where Spark truncates),
  shipped as fano_ppm via DECIMAL(38,0) integral division (Σg² alone
  can pass 2^63 at large n). Gaps come from a LAG window partitioned
  by user — equal-timestamp ties produce gap 0 under any tie order,
  so the result is deterministic without a tiebreak column.

North-star extension surface (reference repo has no analog).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..sources.testdata import load_table
from .registry import register

_K = 10  # EWMA truncation depth (alpha = 1/2)
_EW_LO, _EW_HI = "2024-01-01", "2024-02-01"


def _ewma_sql_terms() -> str:
    # Σ_j COALESCE(LAG(c, j), 0) * 2^(K-1-j), j = 0..K-1 (j=0 is c)
    terms = [f"c * {1 << (_K - 1)}"]
    terms += [
        f"COALESCE(LAG(c, {j}) OVER w, 0) * {1 << (_K - 1 - j)}"
        for j in range(1, _K)
    ]
    return " + ".join(terms)


@register(
    "q_ewma_daily",
    f"""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    cnt AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    dense AS (
      SELECT t.event_type, days.d,
             CAST(COALESCE(cnt.c, 0) AS BIGINT) AS c
      FROM types t CROSS JOIN days
      LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = days.d
    ),
    sm AS (
      SELECT event_type, d, c,
             CAST({_ewma_sql_terms()} AS BIGINT) AS ewma_x1024
      FROM dense
      WINDOW w AS (PARTITION BY event_type ORDER BY d)
    )
    SELECT event_type, d, c, ewma_x1024
    FROM sm
    WHERE d >= DATE '{_EW_LO}' AND d < DATE '{_EW_HI}'
    ORDER BY event_type, d
    """,
    doc="Truncated EWMA (alpha=1/2, K=10) of daily event counts per "
    "type over a DENSIFIED calendar grid — dyadic weights make "
    "ewma_x1024 an exact BIGINT window expression; lag window "
    "partitioned by event_type, one output month",
)
def q_ewma_daily(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("d")
    )
    days = ev.select("d").distinct()
    types = ev.select("event_type").distinct()
    cnt = ev.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    dense = (
        types.crossJoin(days)
        .join(cnt, ["event_type", "d"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)).cast("long"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    ewma = F.lit(0).cast("long")
    for j in range(_K):
        term = F.col("c") if j == 0 else F.coalesce(
            F.lag("c", j).over(w), F.lit(0)
        )
        ewma = ewma + term * F.lit(1 << (_K - 1 - j))
    return (
        dense.withColumn("ewma_x1024", ewma.cast("long"))
        .where(
            (F.col("d") >= F.lit(_EW_LO).cast("date"))
            & (F.col("d") < F.lit(_EW_HI).cast("date"))
        )
        .select("event_type", "d", "c", "ewma_x1024")
        .orderBy("event_type", "d")
    )


_MIN_GAPS = 20
_F_TOP = 20


@register(
    "q_burstiness_fano",
    f"""
    WITH g AS (
      SELECT user_id,
             EPOCH_US(ts)
               - LAG(EPOCH_US(ts))
                 OVER (PARTITION BY user_id ORDER BY ts) AS gap
      FROM events
    ),
    m AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(gap) AS BIGINT) AS sum_g,
             CAST(SUM(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS sum_g2
      FROM g WHERE gap IS NOT NULL
      GROUP BY user_id
      HAVING COUNT(*) >= {_MIN_GAPS} AND SUM(gap) > 0
    )
    SELECT user_id, n_gaps, sum_g,
           CAST(CAST(1000000 AS HUGEINT)
                * (n_gaps * sum_g2 - CAST(sum_g AS HUGEINT) * sum_g)
                // (CAST(n_gaps AS HUGEINT) * sum_g) AS BIGINT)
             AS fano_ppm
    FROM m
    ORDER BY fano_ppm DESC, user_id
    LIMIT {_F_TOP}
    """,
    doc="Per-user inter-arrival burstiness: Fano factor "
    "(variance/mean of gap microseconds) with denominators cleared — "
    "(n*Σg² - (Σg)²) DIV (n*Σg) on exact epoch-microsecond BIGINTs via "
    "DECIMAL(38,0); LAG window partitioned by user, top-20 bursty "
    "users",
)
def q_burstiness_fano(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ep")
    )
    w = Window.partitionBy("user_id").orderBy("ep")
    g = ev.withColumn("gap", F.col("ep") - F.lag("ep").over(w)).where(
        F.col("gap").isNotNull()
    )
    m = (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum("gap").cast("long").alias("sum_g"),
            F.sum(
                F.col("gap").cast("decimal(38,0)") * F.col("gap")
            ).alias("sum_g2"),
        )
        .where((F.col("n_gaps") >= _MIN_GAPS) & (F.col("sum_g") > 0))
    )
    return (
        m.select(
            "user_id",
            "n_gaps",
            "sum_g",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * (n_gaps * sum_g2 - CAST(sum_g AS DECIMAL(38,0))"
                "    * sum_g))"
                " DIV (CAST(n_gaps AS DECIMAL(38,0)) * sum_g)"
                " AS BIGINT)"
            ).alias("fano_ppm"),
        )
        .orderBy(F.desc("fano_ppm"), F.asc("user_id"))
        .limit(_F_TOP)
    )
