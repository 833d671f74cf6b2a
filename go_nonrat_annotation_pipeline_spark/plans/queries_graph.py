"""Graph analytics queries over the part co-occurrence graph.

The graph: parts are connected when some order contains both
(co-purchase graph — ~2k nodes / ~50k edges at sf0.01). All outputs are
integer counts; oracles rebuild the same graph with the shared
co-occurrence CTE (operators/graph.sql_co_occurrence_edges).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import graph as G
from ..sources.testdata import load_table
from .registry import register

_EDGE_CTES = G.sql_co_occurrence_edges("lineitem", "l_orderkey", "l_partkey")


def _edges(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return G.co_occurrence_edges(li, "l_orderkey", "l_partkey")


@register(
    "q_triangle_count",
    f"""
    WITH {_EDGE_CTES}
    SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
           (SELECT COUNT(*) FROM edges e1
              JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b) AS n_wedges,
           (SELECT COUNT(*) FROM edges e1
              JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
              JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles
    """,
    doc="graph: exact triangle count via oriented wedge join (each "
    "triangle counted once; fan-out bounded by oriented out-degrees)",
)
def q_triangle_count(spark, sf_dir):
    return G.triangle_count(_edges(spark, sf_dir))


@register(
    "q_two_hop_reach",
    f"""
    WITH {_EDGE_CTES},
    sym AS (
      SELECT a AS u, b AS v FROM edges
      UNION SELECT b AS u, a AS v FROM edges
    ), deg AS (
      SELECT u AS node, COUNT(*) AS degree FROM sym GROUP BY 1
    ), seeds AS (
      SELECT node FROM deg ORDER BY degree DESC, node LIMIT 20
    ), hop0 AS (
      SELECT node, node AS v FROM seeds
    ), hop1 AS (
      SELECT node, v FROM hop0
      UNION SELECT h.node, s.v FROM hop0 h JOIN sym s ON h.v = s.u
    ), hop2 AS (
      SELECT node, v FROM hop1
      UNION SELECT h.node, s.v FROM hop1 h JOIN sym s ON h.v = s.u
    )
    SELECT node, COUNT(*) AS reach FROM hop2
    WHERE node <> v GROUP BY 1
    """,
    doc="graph: distinct vertices within 2 hops of the 20 highest-degree "
    "nodes (seeded frontier expansion, never all-pairs)",
)
def q_two_hop_reach(spark, sf_dir):
    edges = _edges(spark, sf_dir)
    sym = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
    )
    seeds = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.count("*").alias("degree"))
        .orderBy(F.desc("degree"), "node")
        .limit(20)
        .select("node")
    )
    return G.k_hop_reach(edges, seeds, hops=2)


@register(
    "q_degree_histogram",
    f"""
    WITH {_EDGE_CTES},
    sym AS (
      SELECT a AS u, b AS v FROM edges
      UNION SELECT b AS u, a AS v FROM edges
    ), deg AS (
      SELECT u, COUNT(*) AS degree FROM sym GROUP BY 1
    )
    SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY 1
    """,
    doc="graph: degree distribution of the co-purchase graph",
)
def q_degree_histogram(spark, sf_dir):
    edges = _edges(spark, sf_dir)
    sym = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))
