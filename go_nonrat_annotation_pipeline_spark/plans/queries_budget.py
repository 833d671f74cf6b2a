"""Token-budget water-filling queries (operators/budget.py).

Per-source capacities are the curated corpus's whitespace-token totals;
the budget is deliberately below the total so the waterline is real:
small sources are fully funded, large ones are levelled, and the audit
row proves the allocation is exact to the token (Σalloc = min(B, Σcap)
— the integer remainder rule distributes the last r tokens
deterministically).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.budget import sql_waterfill_ctes, waterfill
from ..sources.testdata import load_table
from .registry import register

_BUDGET = 10_000

_TOK = (
    "CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''))"
    " AS BIGINT)"
)

_CAPS_CTE = f"""
    caps AS (
      SELECT source, CAST(SUM({_TOK}) AS BIGINT) AS cap
      FROM documents GROUP BY source
    )"""


def _caps(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    ).cast("long")
    return docs.groupBy("source").agg(F.sum(tok).alias("cap"))


@register(
    "q_budget_waterfill",
    f"""
    WITH {_CAPS_CTE},
    {sql_waterfill_ctes('caps', _BUDGET)}
    SELECT source, cap, alloc FROM wf_alloc
    """,
    doc="capped fair-share token allocation (water-filling, closed "
    "form — no iteration): sources under the waterline fully funded, "
    "the rest levelled, remainder tokens distributed by the "
    "deterministic (cap, source) rule; one dictionary-sized sort "
    "(operators/budget.waterfill)",
)
def q_budget_waterfill(spark, sf_dir):
    return waterfill(_caps(spark, sf_dir), _BUDGET)


@register(
    "q_budget_waterfill_audit",
    f"""
    WITH {_CAPS_CTE},
    {sql_waterfill_ctes('caps', _BUDGET)}
    SELECT CAST({_BUDGET} AS BIGINT) AS budget,
           (SELECT CAST(SUM(cap) AS BIGINT) FROM wf_alloc) AS total_cap,
           (SELECT CAST(SUM(alloc) AS BIGINT) FROM wf_alloc)
             AS total_alloc,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM wf_alloc
            WHERE alloc = cap) AS n_fully_funded
    """,
    doc="the exactness proof in one row: Σalloc = min(budget, Σcap) to "
    "the token, plus how many sources sit fully under the waterline",
)
def q_budget_waterfill_audit(spark, sf_dir):
    alloc = waterfill(_caps(spark, sf_dir), _BUDGET)
    return (
        alloc.agg(F.sum("cap").cast("long").alias("total_cap"))
        .crossJoin(
            alloc.agg(F.sum("alloc").cast("long").alias("total_alloc"))
        )
        .crossJoin(
            alloc.where(F.col("alloc") == F.col("cap")).agg(
                F.count(F.lit(1)).cast("long").alias("n_fully_funded")
            )
        )
        .select(
            F.lit(_BUDGET).cast("long").alias("budget"),
            "total_cap",
            "total_alloc",
            "n_fully_funded",
        )
    )
