"""Bitemporal history queries (operators/bitemporal.py).

The assertion log is synthesized deterministically from the events
table: each event ASSERTS the user's tracked attribute for a VALID day
that may be BACKDATED up to 6 days before the recording instant
(`valid day = recorded day − event_id % 7`) — the late-correction
pattern bitemporal modeling exists for. Same-(user, valid-day)
collisions are genuine corrections, resolved latest-recording-wins.

Why this matters to a training-data pipeline: label/metadata stores get
retroactive fixes, and reproducing a past training run needs "the
labels as we believed them on run day" — the as-of reconstruction —
while audits need to know how much history the corrections rewrote.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import bitemporal as BT
from ..sources.testdata import load_table
from .registry import register

_DAY_US = 86_400_000_000
# knowledge cutoff: 2024-01-16T00:00:00Z (mid-log; constant literal)
_T_US = 1_705_363_200_000_000

_SRC = f"""
    btq_src AS (
      SELECT user_id, event_type AS val,
             (CAST(epoch_us(ts) AS BIGINT) // {_DAY_US}
              - event_id % 7) * {_DAY_US} AS valid_us,
             CAST(epoch_us(ts) AS BIGINT) AS recorded_us,
             event_id AS _tie
      FROM events
    )"""


def _asserts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    return ev.select(
        "user_id",
        F.col("event_type").alias("val"),
        (
            (
                F.expr(f"CAST(unix_micros(ts) AS BIGINT) DIV {_DAY_US}")
                - F.col("event_id") % 7
            )
            * F.lit(_DAY_US)
        ).cast("long").alias("valid_us"),
        us.cast("long").alias("recorded_us"),
        F.col("event_id").alias("_tie"),
    )


@register(
    "q_bitemporal_history",
    "    WITH "
    + _SRC
    + ","
    + BT.sql_bitemporal_ctes("btq_src", "user_id", None, "btq")
    + """
    SELECT user_id, val, valid_from_us, valid_to_us, version,
           n_superseded
    FROM btq_hist
    """,
    doc="bitemporal validity history at current knowledge: per (user, "
    "valid day) the latest recording wins (corrections supersede "
    "deterministically), then the SCD2 run-collapse over valid time — "
    "two keyed windows, BIGINT epoch-us bounds "
    "(operators/bitemporal.bitemporal_history)",
)
def q_bitemporal_history(spark, sf_dir):
    return BT.bitemporal_history(_asserts(spark, sf_dir))


@register(
    "q_bitemporal_asof_history",
    "    WITH "
    + _SRC
    + ","
    + BT.sql_bitemporal_ctes("btq_src", "user_id", _T_US, "btq")
    + """
    SELECT user_id, val, valid_from_us, valid_to_us, version,
           n_superseded
    FROM btq_hist
    """,
    doc="bitemporal as-of reconstruction: the SAME history as believed "
    "at the mid-log knowledge cutoff — assertions recorded later are "
    "invisible, so a past training run's metadata view reproduces "
    "exactly (SQL:2011 transaction-time semantics)",
)
def q_bitemporal_asof_history(spark, sf_dir):
    return BT.bitemporal_history(_asserts(spark, sf_dir), as_of_us=_T_US)


@register(
    "q_bitemporal_correction_audit",
    "    WITH "
    + _SRC
    + ","
    + BT.sql_bitemporal_ctes("btq_src", "user_id", None, "btq")
    + f""",
    btq_gap AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_assertions,
             CAST(SUM(CASE WHEN recorded_us - valid_us > {_DAY_US}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_backdated,
             CAST(MAX(recorded_us - valid_us) AS BIGINT) AS max_lag_us
      FROM btq_src GROUP BY user_id
    )
    SELECT g.user_id, g.n_assertions, g.n_backdated, g.max_lag_us,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(SUM(h.n_superseded) AS BIGINT) AS n_superseded_total
    FROM btq_gap g JOIN btq_hist h ON h.user_id = g.user_id
    GROUP BY g.user_id, g.n_assertions, g.n_backdated, g.max_lag_us
    """,
    doc="bitemporal correction audit per entity: assertion count, "
    "backdated share, worst recording lag, final version count, and "
    "how many assertions corrections superseded — the rewrite-exposure "
    "number a reproducibility review asks for",
)
def q_bitemporal_correction_audit(spark, sf_dir):
    a = _asserts(spark, sf_dir).localCheckpoint()
    gap = a.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_assertions"),
        F.sum(
            F.when(
                F.col("recorded_us") - F.col("valid_us") > _DAY_US, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_backdated"),
        F.max(F.col("recorded_us") - F.col("valid_us"))
        .cast("long")
        .alias("max_lag_us"),
    )
    hist = BT.bitemporal_history(a)
    agg = hist.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.sum("n_superseded").cast("long").alias("n_superseded_total"),
    )
    return gap.join(agg, "user_id").select(
        "user_id",
        "n_assertions",
        "n_backdated",
        "max_lag_us",
        "n_versions",
        "n_superseded_total",
    )
