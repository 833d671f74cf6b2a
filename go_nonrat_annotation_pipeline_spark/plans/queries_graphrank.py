"""Fixed-point PageRank query (operators/graphrank.py) over the
co-purchase graph of plans/queries_graph.py."""

from __future__ import annotations

from ..operators import graph as G
from ..operators import graphrank as GR
from ..sources.testdata import load_table
from .registry import register

_ITERS = 3
_TOP_K = 20
_EDGE_CTES = G.sql_co_occurrence_edges("lineitem", "l_orderkey", "l_partkey")


@register(
    "q_pagerank_topk",
    f"""
    WITH {_EDGE_CTES},
    {GR.sql_pagerank_ctes(_ITERS)}
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node) AS INT) AS rank,
           node, r AS r_fp
    FROM r{_ITERS}
    ORDER BY r DESC, node LIMIT {_TOP_K}
    """,
    doc=f"domain-authority ranking: {_ITERS}-iteration PageRank "
    "(damping 0.85) over the co-purchase graph in fixed-point BIGINT "
    "arithmetic (scale 1e12) — bit-exact cross-engine by construction, "
    "one groupBy-sum shuffle per iteration "
    "(operators/graphrank.pagerank_fixed_point)",
)
def q_pagerank_topk(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.co_occurrence_edges(li, "l_orderkey", "l_partkey")
    return GR.pagerank_fixed_point(edges, iters=_ITERS, top_k=_TOP_K)
