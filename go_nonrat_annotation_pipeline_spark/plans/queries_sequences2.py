"""Event-sequence trigrams + Haar wavelet decomposition.

- ``q_event_trigrams``: third-order sequential patterns — the step
  between the transition matrix (``q_event_transitions``, pairs) and
  full funnel matching (``q_funnel_ordered``): counts of CONSECUTIVE
  (e1 → e2 → e3) event-type triples per user stream, top-30. Two LEAD
  windows partitioned by user and ordered by (ts, event_id) — the id
  tiebreak makes equal-timestamp neighborhoods deterministic on both
  engines (unlike the burstiness gaps, here tie ORDER changes the
  triple itself). One dictionary-sized aggregate after the windows.
- ``q_haar_coeffs``: unnormalized Haar detail coefficients of the
  daily event-count series per type, levels 1..4 over a 16-day dyadic
  window — the classic multi-resolution view (a big |coeff| at level
  l localizes a change at scale 2^l days; level-4 is the half-month
  contrast). Integer by construction: coeff(l,k) = Σ c_i·sign_i with
  sign = +1/-1 by the (i DIV 2^(l-1)) parity, so no normalization
  float ever appears. The (level, stride) table is a 4-row broadcast;
  day indexes come from exact DATE subtraction. Missing days
  contribute 0 by omission (sum over present rows only — identical
  on both engines, no densify needed since absent days add nothing
  to a signed SUM).

Reference: Haar 1910 (via any wavelet text); sequential-pattern
counting per Agrawal & Srikant 1995's problem setting (consecutive
variant). North-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..sources.testdata import load_table
from .registry import register

_TRI_TOP = 30


@register(
    "q_event_trigrams",
    f"""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n DESC, e1, e2, e3
    LIMIT {_TRI_TOP}
    """,
    doc="consecutive event-type trigrams per user stream: two LEAD "
    "windows partitioned by user with an (ts, event_id) "
    "deterministic tiebreak, one dictionary-sized aggregate, top-30 "
    "via per-partition heaps",
)
def q_event_trigrams(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(
            F.desc("n"), F.asc("e1"), F.asc("e2"), F.asc("e3")
        )
        .limit(_TRI_TOP)
    )


_H_BASE = "2024-01-01"
_H_DAYS = 16  # dyadic window: levels 1..4
_H_LVLS = 4


@register(
    "q_haar_coeffs",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '{_H_BASE}' AS BIGINT) AS idx,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events
      WHERE CAST(ts AS DATE) >= DATE '{_H_BASE}'
        AND CAST(ts AS DATE) < DATE '{_H_BASE}' + INTERVAL {_H_DAYS} DAY
      GROUP BY 1, 2
    ),
    lv AS (
      SELECT UNNEST(GENERATE_SERIES(1, {_H_LVLS})) AS lvl
    )
    SELECT event_type, CAST(lvl AS BIGINT) AS lvl,
           CAST(idx // (1 << lvl) AS BIGINT) AS k,
           CAST(SUM(CASE WHEN (idx // (1 << (lvl - 1))) % 2 = 0
                         THEN c ELSE -c END) AS BIGINT) AS coeff
    FROM daily, lv
    GROUP BY event_type, lvl, k
    ORDER BY event_type, lvl, k
    """,
    doc="unnormalized Haar detail coefficients of per-type daily "
    "counts, levels 1..4 over a 16-day dyadic window: signed integer "
    "sums by (idx DIV 2^(l-1)) parity — no normalization float; "
    "4-row level table broadcast, one hash aggregate",
)
def q_haar_coeffs(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("d")
    )
    base = F.lit(_H_BASE).cast("date")
    daily = (
        ev.where(
            (F.col("d") >= base)
            & (F.col("d") < F.date_add(base, _H_DAYS))
        )
        .groupBy(
            "event_type",
            F.datediff(F.col("d"), base).cast("long").alias("idx"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    lv = spark.range(1, _H_LVLS + 1).select(F.col("id").alias("lvl"))
    return (
        daily.crossJoin(F.broadcast(lv))
        .groupBy(
            "event_type",
            F.col("lvl").cast("long").alias("lvl"),
            F.expr("CAST(idx DIV (1 << lvl) AS BIGINT)").alias("k"),
        )
        .agg(
            F.sum(
                F.when(
                    F.expr("(idx DIV (1 << (lvl - 1))) % 2 = 0"),
                    F.col("c"),
                ).otherwise(-F.col("c"))
            )
            .cast("long")
            .alias("coeff")
        )
        .orderBy("event_type", "lvl", "k")
    )
