"""Data-constrained epoch/repeat budgeting.

The inverse regime of the water-filling budget (queries_budget.py,
budget BELOW the unique-token total): a data-CONSTRAINED run has a
token budget ABOVE the unique corpus, so sources must REPEAT — and
repeating has diminishing returns that cap out around 4 epochs
(Muennighoff et al. 2023, "Scaling Data-Constrained Language Models":
up to ~4 epochs, repeated tokens are nearly as good as new ones;
beyond that value decays to zero). The planner:

- per-source repeat ceiling from a declared quality tier (high-quality
  sources may repeat 4×, mid 2×, low 1× — the deterministic md5 tier
  stands in for a quality score the calibrate family would supply);
- EFFECTIVE capacity per source = unique tokens × epoch ceiling;
- the attested water-fill allocates the budget over effective
  capacities (capped fair share, token-exact remainder rule, reused
  verbatim from operators/budget.waterfill);
- per-source epochs_ppm = alloc·10⁶ DIV unique — the schedule a
  dataloader multiplies into per-epoch sampling.

Dictionary-sized end to end after the one per-source token aggregate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import hashing as H
from ..operators.budget import sql_waterfill_ctes, waterfill
from ..sources.testdata import load_table
from .registry import register

PPM = 1_000_000
# budget = 1.8x the unique total: data-constrained (every token
# repeats) but below the all-sources-at-ceiling capacity (~2.4x for
# the md5 tier mix), so the waterline is real — high-ceiling sources
# are levelled while low-tier sources max out; the ratio form scales
# with the corpus at every sf
_BUDGET_X_PPM = 1_800_000

_TOK = (
    "CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''))"
    " AS BIGINT)"
)
# quality tier -> epoch ceiling: md5(source) % 3 in {0,1,2} -> {4,2,1}
_TIER_SQL = f"CASE ({H.sql_char_hash('source')} % 3) WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 1 END"

_CAPS_CTE = f"""
    rb_tok AS (
      SELECT source, CAST(SUM({_TOK}) AS BIGINT) AS uniq
      FROM documents GROUP BY source
    ), rb_budget AS (
      SELECT CAST((SUM(uniq) * {_BUDGET_X_PPM}) // {PPM} AS BIGINT) AS b
      FROM rb_tok
    ), rb_caps AS (
      SELECT source, uniq, CAST({_TIER_SQL} AS BIGINT) AS max_epochs,
             uniq * CAST({_TIER_SQL} AS BIGINT) AS cap
      FROM rb_tok
    )"""


def _caps(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.groupBy("source").agg(
        F.sum(
            F.size(F.filter(F.split("text", " "), lambda x: x != ""))
            .cast("long")
        ).alias("uniq")
    )
    tier = (
        F.when(F.pmod(H.char_hash(F.col("source")), F.lit(3)) == 0, 4)
        .when(F.pmod(H.char_hash(F.col("source")), F.lit(3)) == 1, 2)
        .otherwise(1)
        .cast("long")
    )
    return tok.select(
        "source",
        "uniq",
        tier.alias("max_epochs"),
        (F.col("uniq") * tier).cast("long").alias("cap"),
    )


@register(
    "q_epoch_repeat_budget",
    "    WITH "
    + _CAPS_CTE
    + ",\n    "
    + sql_waterfill_ctes(
        "(SELECT source, cap FROM rb_caps)",
        budget="(SELECT b FROM rb_budget)",
    )
    + f"""
    SELECT c.source, c.uniq, c.max_epochs,
           CAST(a.alloc AS BIGINT) AS alloc_tokens,
           CAST((a.alloc * {PPM}) // GREATEST(c.uniq, 1) AS BIGINT)
             AS epochs_ppm,
           CAST(CASE WHEN a.alloc = c.cap THEN 1 ELSE 0 END AS BIGINT)
             AS at_ceiling
    FROM rb_caps c JOIN wf_alloc a ON a.source = c.source
    """,
    doc="data-constrained epoch planner (Muennighoff'23): per-source "
    "repeat ceiling by quality tier, effective capacity = unique x "
    "ceiling, attested water-fill over effective capacities, schedule "
    "as epochs_ppm = alloc/unique — token-exact, dictionary-sized",
)
def q_epoch_repeat_budget(spark, sf_dir):
    caps = _caps(spark, sf_dir).localCheckpoint()
    budget = caps.agg(
        F.expr(f"CAST((SUM(uniq) * {_BUDGET_X_PPM}L) DIV {PPM}L AS BIGINT)")
    ).collect()[0][0]
    alloc = waterfill(caps.select("source", "cap"), int(budget))
    return caps.join(alloc.select("source", "alloc"), "source").select(
        "source",
        "uniq",
        "max_epochs",
        F.col("alloc").cast("long").alias("alloc_tokens"),
        F.expr(
            f"CAST((alloc * {PPM}L) DIV GREATEST(uniq, 1L) AS BIGINT)"
        ).alias("epochs_ppm"),
        F.when(F.col("alloc") == F.col("cap"), 1)
        .otherwise(0)
        .cast("long")
        .alias("at_ceiling"),
    )
