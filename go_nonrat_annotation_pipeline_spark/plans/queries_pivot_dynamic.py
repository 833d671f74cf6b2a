"""Dynamic PIVOT (unknown value domain). Completes the PIVOT family
beyond ``queries_pivot.py``'s declared-values form (VERDICT r10 Next
#5).

The production two-pass shape for a pivot column whose domain is NOT
known at plan time: (1) a distinct-scan of the pivot column, collected
and SORTED driver-side so the output schema is deterministic (the
domain is dictionary-sized by definition — a pivot wider than a few
thousand columns is a modeling bug); (2) the sorted list fed to the
two-arg ``.pivot(col, values)``, which lowers to ONE conditional hash
aggregate — the discovery pass is the only extra job, and it is a
column-pruned scan + partial-distinct (map-side combine) over just the
pivot column.

Oracle: SQL is static, so the DuckDB mirror spells out the same sorted
domain ('click','error','purchase','signup','view' — stable across all
generated SFs). The Spark side does NOT read this list; it discovers
it. A domain drift between engines would surface as a driver
schema-mismatch, which is exactly the contract being tested.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _safe(v: str) -> str:
    return "n_" + re.sub(r"[^a-z0-9]+", "_", v.lower())


_SQL = (
    """
    SELECT user_id % 100 AS user_bucket,
"""
    + ",\n".join(
        f"           CAST(SUM(CASE WHEN event_type = '{v}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS {_safe(v)}"
        for v in _EVENT_TYPES
    )
    + """
    FROM events GROUP BY user_id % 100
    """
)


@register(
    "q_pivot_dynamic",
    _SQL,
    doc="dynamic PIVOT: the value domain (event_type) is discovered by a "
    "column-pruned distinct scan, sorted driver-side for a deterministic "
    "schema, then fed to two-arg .pivot(col, values) — one conditional "
    "hash aggregate, with the discovery pass the only extra job; the "
    "static-SQL oracle spells the same sorted domain",
)
def q_pivot_dynamic(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 100).alias("user_bucket"), "event_type"
    )
    # pass 1: discover the domain — distinct on ONE pruned column
    # (map-side partial distinct; the collect is domain-sized, never
    # row-scale), sorted so the output schema is deterministic
    domain = sorted(
        r[0] for r in ev.select("event_type").distinct().collect()
    )
    wide = (
        ev.groupBy("user_bucket")
        .pivot("event_type", domain)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_bucket",
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0))
            .cast("long")
            .alias(_safe(v))
            for v in domain
        ],
    )
