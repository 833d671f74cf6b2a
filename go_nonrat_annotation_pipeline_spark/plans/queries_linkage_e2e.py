"""Probabilistic-linkage E2E: Fellegi–Sunter verdicts → connected
components → golden record.

The full master-data funnel, composed entirely from attested stages:
q-gram-blocked candidate pairs are FS-scored (queries_fellegi), pairs
classified `match` become edges, star connected components
(operators/dedup.connected_components_star) merge transitively, and
each linked entity reports its golden record — canonical name (min),
survivorship-mode type and size over its member listings, member and
mention mass. Singleton listings (no match edge) survive as their own
entities, exactly like the deterministic ER E2E — making this the
probabilistic twin of `q_entity_resolution_e2e`: same funnel shape,
hard levenshtein gate swapped for the FS likelihood model.

Scale posture: everything after blocking runs on the dictionary-sized
listing table and the (tiny) match-edge graph; the only corpus-scale
work is the one aggregate that built the listings.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.dedup import connected_components_star
from ..operators.survivorship import sql_pick_mode_cte
from .registry import register
from .queries_fellegi import (
    _PAIR_CTES,
    _records,
    _scored_pairs,
    _SCORE_SQL,
)
from ..operators import fellegi as FS

# star components reach the component-min label; the oracle mirrors
# with a WITH RECURSIVE reach over match edges, seeded from every
# record so singletons label themselves (the attested ER E2E pattern)
_ORACLE = (
    "    WITH RECURSIVE "
    + _PAIR_CTES
    + f""",
    lke_match AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b, {_SCORE_SQL} AS score_ppm FROM fsq_pairs)
      WHERE score_ppm >= {FS.DEFAULT_UPPER_PPM}
    ), lke_edges AS (
      SELECT id_a AS u, id_b AS v FROM lke_match
      UNION
      SELECT id_b AS u, id_a AS v FROM lke_match
    ), lke_reach AS (
      SELECT nid AS node, nid AS member FROM fsq_rec
      UNION
      SELECT r.node, e.v FROM lke_reach r JOIN lke_edges e
        ON e.u = r.member
    ), lke_labeled AS (
      SELECT rec.nid, rec.name, rec.typ, rec.siz, c.entity_id
      FROM fsq_rec rec JOIN (
        SELECT node, MIN(member) AS entity_id
        FROM lke_reach GROUP BY node
      ) c ON c.node = rec.nid
    )"""
    + ","
    + sql_pick_mode_cte("lke_typ", "lke_labeled", "entity_id", "typ")
    + ","
    + sql_pick_mode_cte("lke_siz", "lke_labeled", "entity_id", "siz")
    + """
    SELECT g.entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_listings,
           MIN(g.name) AS canonical_name,
           MIN(t.typ) AS golden_type,
           CAST(MIN(s.siz) AS BIGINT) AS golden_size
    FROM lke_labeled g
    JOIN lke_typ t ON t.entity_id = g.entity_id
    JOIN lke_siz s ON s.entity_id = g.entity_id
    GROUP BY g.entity_id
    """
)


@register(
    "q_probabilistic_linkage_e2e",
    _ORACLE,
    doc="probabilistic-linkage E2E: FS match verdicts become edges, "
    "star connected components merge listings transitively, and each "
    "entity emits a golden record (canonical name, survivorship-mode "
    "type/size, member count) — the probabilistic twin of the "
    "deterministic ER funnel, singletons preserved",
)
def q_probabilistic_linkage_e2e(spark, sf_dir):
    from ..operators.survivorship import pick_mode

    rec = _records(spark, sf_dir).localCheckpoint()
    matches = (
        _scored_pairs(spark, sf_dir, rec=rec)
        .where(F.col("verdict") == "match")
        .select("id_a", "id_b")
    )
    comp = connected_components_star(matches)  # (doc_id, cluster_id)
    labeled = (
        rec.join(
            comp.select(
                F.col("doc_id").alias("nid"),
                F.col("cluster_id").alias("entity_id"),
            ),
            "nid",
            "left",
        )
        .select(
            "nid",
            "name",
            "typ",
            "siz",
            F.coalesce("entity_id", "nid").alias("entity_id"),
        )
        .localCheckpoint()
    )
    gt = pick_mode(labeled, "entity_id", "typ")
    gs = pick_mode(labeled, "entity_id", "siz")
    return (
        labeled.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_listings"),
            F.min("name").alias("canonical_name"),
        )
        .join(gt.withColumnRenamed("typ", "golden_type"), "entity_id")
        .join(
            gs.select(
                "entity_id", F.col("siz").cast("long").alias("golden_size")
            ),
            "entity_id",
        )
        .select(
            "entity_id",
            "n_listings",
            "canonical_name",
            "golden_type",
            "golden_size",
        )
    )
