"""Jaccard link prediction over the co-occurrence graph.

The graph family counts structure (triangles, degrees, two-hop reach,
PageRank); this PREDICTS it: for vertex pairs NOT currently connected,
score = |N(u) ∩ N(v)| / |N(u) ∪ N(v)| (common-neighbor Jaccard — the
classical link-prediction baseline, Liben-Nowell & Kleinberg 2003),
top-K candidates reported.

Spark shape: candidates are generated by the WEDGE join (two
symmetric-adjacency copies joined on the shared middle vertex — the
q_triangle_count shape, shuffle key = middle vertex), never an
all-pairs scan; the per-middle fanout deg(x)^2 is bounded by a HUB CAP
(wedges route only through middles with degree <= 64 — hubs carry
near-zero link-prediction signal and all of the quadratic cost; the
same lever as the tfidf stopword cap). Existing edges drop by
anti-join; common/union counts are exact BIGINTs so jaccard_ppm is
exact integer fixed-point; top-K via orderBy().limit + K-row rank.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators import graph as G
from ..sources.testdata import load_table
from .registry import register

_HUB_CAP = 64
_TOP = 50

_EDGE_CTES = G.sql_co_occurrence_edges("lineitem", "l_orderkey", "l_partkey")


@register(
    "q_link_prediction",
    f"""
    WITH {_EDGE_CTES},
    lsym AS (
      SELECT a AS u, b AS v FROM edges
      UNION SELECT b AS u, a AS v FROM edges
    ),
    ldeg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
             FROM lsym GROUP BY 1),
    mid AS (SELECT node FROM ldeg WHERE deg <= {_HUB_CAP}),
    wedges AS (
      SELECT s1.v AS u, s2.v AS v,
             CAST(COUNT(*) AS BIGINT) AS common
      FROM lsym s1 JOIN lsym s2
        ON s1.u = s2.u AND s1.v < s2.v
      WHERE s1.u IN (SELECT node FROM mid)
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT w.u, w.v, w.common,
             du.deg + dv.deg - w.common AS uni
      FROM wedges w
      JOIN ldeg du ON w.u = du.node
      JOIN ldeg dv ON w.v = dv.node
      WHERE NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.a = w.u AND e.b = w.v)
    )
    SELECT u, v, common,
           CAST(common * 1000000 // uni AS BIGINT) AS jaccard_ppm,
           CAST(ROW_NUMBER() OVER (
                ORDER BY common * 1000000 // uni DESC, u, v)
             AS BIGINT) AS rank
    FROM cand
    QUALIFY rank <= {_TOP}
    """,
    doc="common-neighbor Jaccard link prediction: wedge join through "
    "degree-capped middles (hub cap 64 bounds the quadratic fanout), "
    "existing edges anti-joined away, exact integer jaccard_ppm, "
    "top-50 via per-partition heaps + K-row rank",
)
def q_link_prediction(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    # r13 optimization (guide §7.2 duplicated subtrees / §3.3 truncate
    # the plan): edges is referenced by sym (twice), the anti-join and
    # nothing else; sym feeds deg + both wedge sides. Without the pins
    # the co_occurrence_edges subtree (itself 3 exchanges) was REPLICATED
    # into every reference — a 90-Exchange final plan. Lazy local
    # checkpoints dedup it to one evaluation each (x90 -> x13).
    edges = G.co_occurrence_edges(li, "l_orderkey", "l_partkey").localCheckpoint(
        eager=False
    )
    # sym needs NO distinct: edges is already a distinct canonical
    # (a < b) set, so the two directed copies are disjoint — the old
    # .distinct() re-shuffled all 2.4M rows for nothing
    sym = edges.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    mid = deg.where(F.col("deg") <= _HUB_CAP).select("node")
    s1 = sym.select(F.col("u").alias("m"), F.col("v").alias("u"))
    s2 = sym.select(F.col("u").alias("m"), F.col("v").alias("v"))
    wedges = (
        s1.join(F.broadcast(mid), s1["m"] == mid["node"]).drop("node")
        .join(s2, "m")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    cand = (
        wedges.join(edges, (wedges["u"] == edges["a"]) & (wedges["v"] == edges["b"]), "left_anti")
        .join(
            deg.select(F.col("node").alias("u"), F.col("deg").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")),
            "v",
        )
        .withColumn("uni", F.col("du") + F.col("dv") - F.col("common"))
        .withColumn(
            "jaccard_ppm",
            F.expr("CAST(common * 1000000 DIV uni AS BIGINT)"),
        )
    )
    top = cand.orderBy(
        F.desc("jaccard_ppm"), F.asc("u"), F.asc("v")
    ).limit(_TOP)
    w = Window.partitionBy(F.col("u") % 1).orderBy(
        F.desc("jaccard_ppm"), F.asc("u"), F.asc("v")
    )
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("u", "v", "common", "jaccard_ppm", "rank")
    )
