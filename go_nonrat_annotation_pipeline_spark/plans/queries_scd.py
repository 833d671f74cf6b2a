"""SCD Type 2 dimension-build queries (operators/scd.py).

Tracked attribute = event_type per user_id over the events log; the
history is every consecutive run of one type, the current view its open
tail. Interval bounds are BIGINT epoch-µs (TIMESTAMP stays inside the
plan per the repo's boundary discipline).
"""

from __future__ import annotations

from ..operators import scd as SCD
from ..sources.testdata import load_table
from .registry import register

_CTES = SCD.sql_scd2_history_ctes()


@register(
    "q_scd2_history",
    "    WITH " + _CTES + """
    SELECT user_id, attr, valid_from_us, valid_to_us, version,
           CAST(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END
                AS BIGINT) AS is_current
    FROM scd
    """,
    doc="SCD2 dimension build: per-user versioned validity intervals of "
    "the tracked attribute, run-collapsed from the raw event log in one "
    "keyed shuffle — lag-filter + lead + row_number share one WindowExec "
    "(operators/scd.scd2_history; Kimball type-2 dimension)",
)
def q_scd2_history(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return SCD.scd2_history(ev)


@register(
    "q_scd2_current",
    "    WITH " + _CTES + """
    SELECT user_id, attr, valid_from_us,
           version AS n_versions
    FROM scd WHERE valid_to_us IS NULL
    """,
    doc="SCD2 current view: exactly one open interval per user plus its "
    "version count (churn) — the dimension a MERGE-maintained table "
    "would serve, derived from the log (operators/scd.scd2_current)",
)
def q_scd2_current(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return SCD.scd2_current(ev)
