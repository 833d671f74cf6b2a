"""PMI collocation queries (operators/collocations.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import collocations as CO
from ..sources.testdata import load_table
from .registry import register

_TOP = 50
_MIN = 5

_CTES = CO.sql_bigram_pmi_ctes("documents", _MIN)


@register(
    "q_pmi_collocations",
    "    WITH " + _CTES + f"""
    SELECT w1, w2, n_xy, n_x, n_y, pmi_ratio_ppm
    FROM pmi_scored
    ORDER BY pmi_ratio_ppm DESC, w1, w2 LIMIT {_TOP}
    """,
    doc="top PMI collocations (Church & Hanks 1990): adjacent word "
    "pairs ranked by fixed-point independence ratio c(x,y)*N/(c(x)*c(y)) "
    "— rank-equivalent to PMI, integer-exact; one exploded word stream, "
    "per-doc LEAD window, two hash aggregates, distributed TakeOrdered "
    "top-k (operators/collocations.bigram_pmi)",
)
def q_pmi_collocations(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        CO.bigram_pmi(docs, min_count=_MIN)
        .orderBy(F.desc("pmi_ratio_ppm"), "w1", "w2")
        .limit(_TOP)
    )
