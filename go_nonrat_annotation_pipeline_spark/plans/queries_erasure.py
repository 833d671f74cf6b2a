"""Key-erasure (right-to-be-forgotten) planning.

The compliance day-2 op: given an erasure key list, report exactly
which partitions must be rewritten and how much survives — the plan a
partition-scoped anti-join rewrite executes (the rewrite itself, with
untouched partitions byte-identical via dynamic partition overwrite,
is exercised in tests/test_maintenance.py::test_erasure_rewrite_*).
Partitions are integer epoch-weeks; the erasure set is deterministic
key arithmetic so both engines see the same list.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_ERASE = "user_id % 37 = 0"
_WK = "(CAST(epoch_us(ts) AS BIGINT) // 86400000000) // 7"


@register(
    "q_erasure_plan",
    f"""
    SELECT {_WK} AS week,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {_ERASE} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purge,
           CAST(COUNT(DISTINCT CASE WHEN {_ERASE} THEN user_id END)
                AS BIGINT) AS n_users_purged,
           CAST(SUM(CASE WHEN NOT ({_ERASE}) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_surviving
    FROM events
    GROUP BY week
    """,
    doc="erasure (RTBF) plan: per epoch-week partition, rows to purge "
    "for the erasure key list vs rows surviving — the audit that "
    "scopes a partition-rewrite to exactly the affected partitions "
    "(rewrite itself: tests/test_maintenance.py erasure tests)",
)
def q_erasure_plan(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    wk = F.expr(
        "(CAST(unix_micros(ts) AS BIGINT) DIV 86400000000) DIV 7"
    )
    erase = F.expr(_ERASE)
    return events.groupBy(wk.alias("week")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(erase, 1).otherwise(0)).alias("n_purge"),
        F.count_distinct(
            F.when(erase, F.col("user_id"))
        ).alias("n_users_purged"),
        F.sum(F.when(~erase, 1).otherwise(0)).alias("n_surviving"),
    )
