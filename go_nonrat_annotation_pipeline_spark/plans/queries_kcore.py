"""k-core degree-peeling over the co-purchase graph.

Extends the graph family (degree histogram / triangles / two-hop /
PageRank / link prediction) with the dense-backbone extraction:
``q_kcore_histogram`` peels the lineitem co-purchase graph (the same
bounded edges CTE as q_triangle_count) at k = 4 for 3 pinned rounds
and reports the surviving subgraph's degree histogram plus survivor
counts. Pinned rounds keep the oracle an exact unrolled-CTE mirror
(operators/kcore.sql_k_core_ctes); the operator's ``until_fixpoint``
mode exists for library use and is fixpoint-asserted in tests, not
oracled.

Scale: each peel is one degree aggregate + two semi joins over a
monotonically shrinking edge set; lineage is flattened per round with
a lazy localCheckpoint (the looped-union partition-growth lesson).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import graph as G
from ..operators.kcore import _degrees, k_core_peel, sql_k_core_ctes
from ..sources.testdata import load_table
from .registry import register

_K = 4
_ROUNDS = 3

_EDGE_CTES = G.sql_co_occurrence_edges("lineitem", "l_orderkey", "l_partkey")


@register(
    "q_kcore_histogram",
    f"""
    WITH {_EDGE_CTES},
    {sql_k_core_ctes(_K, _ROUNDS)},
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT a AS n FROM kcore_edges
        UNION ALL SELECT b AS n FROM kcore_edges
      ) GROUP BY n
    )
    SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg
    GROUP BY deg
    ORDER BY deg
    """,
    doc=f"k-core (k={_K}) of the bounded co-purchase graph by "
    f"{_ROUNDS} pinned degree-peeling rounds — per round one degree "
    "aggregate + two semi joins over the shrinking edge set, lazy "
    "localCheckpoint per round; output is the surviving degree "
    "histogram (dictionary-sized)",
)
def q_kcore_histogram(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.co_occurrence_edges(li, "l_orderkey", "l_partkey")
    core = k_core_peel(edges, _K, _ROUNDS)
    deg = _degrees(core)
    return (
        deg.groupBy(F.col("deg").cast("long").alias("deg"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("deg")
    )
