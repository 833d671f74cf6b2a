"""Entity-resolution E2E: normalize → exact-collapse → q-gram blocking →
edit-distance verify → connected components → canonical entity.

The textbook record-linkage funnel composed from already-attested
pieces: mentions (part rows keyed by name) collapse to distinct keys,
qgram_fuzzy_pairs (operators/retrieval.py) blocks + verifies without an
all-pairs join, connected_components_star (operators/dedup.py) merges
transitively, and each entity reports its canonical name plus mention
mass. Isolated names (no fuzzy match) stay singleton entities — the
component join is a LEFT join with coalesce-to-self, which the oracle
mirrors.

Scale posture: the pairwise stage runs on DISTINCT keys (dictionary-
sized, ≪ mentions), candidate fan-out is bounded by the stop-gram cap,
and components run on the (tiny) matched-pair graph — the mention table
itself is touched by exactly one hash aggregate and one map-side join
back.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.dedup import connected_components_star
from ..operators.retrieval import qgram_fuzzy_pairs
from ..sources.testdata import load_table
from .registry import register

_MAXD = 2      # levenshtein acceptance radius
_Q = 3         # gram width
_CAP = 256     # stop-gram cap (max distinct keys per gram)

# Distinct-name ER chain, mirrored from qgram_fuzzy_pairs /
# connected_components_star semantics. `reach` is seeded from EVERY
# distinct name so singletons label themselves.
_ER_CTES = f"""
    names AS (
      SELECT MIN(p_partkey) AS nid, p_name AS name,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM part GROUP BY p_name
    ), grams AS (
      SELECT nid, name, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
          GENERATE_SERIES(1, LENGTH(name) - {_Q - 1}),
          i -> SUBSTR(name, i, {_Q})))) AS gram
      FROM names WHERE LENGTH(name) >= {_Q}
    ), hot AS (
      SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT nid) AS n FROM grams GROUP BY gram)
      WHERE n > {_CAP}
    ), cold AS (
      SELECT * FROM grams WHERE gram NOT IN (SELECT gram FROM hot)
    ), cand AS (
      SELECT DISTINCT a.nid AS id_a, a.name AS key_a,
                      b.nid AS id_b, b.name AS key_b
      FROM cold a JOIN cold b USING (gram)
      WHERE a.nid < b.nid
    ), pairs AS (
      SELECT id_a, id_b FROM cand
      WHERE levenshtein(key_a, key_b) <= {_MAXD}
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ), reach AS (
      SELECT nid AS node, nid AS member FROM names
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.member
    ), labeled AS (
      SELECT n.nid, n.name, n.n_rows, c.cluster_id
      FROM names n JOIN (
        SELECT node, MIN(member) AS cluster_id FROM reach GROUP BY node
      ) c ON c.node = n.nid
    )"""


def _er_stages(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(
        F.min("p_partkey").alias("nid"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    pairs = qgram_fuzzy_pairs(
        names, "nid", F.col("p_name"), max_dist=_MAXD, q=_Q,
        max_gram_freq=_CAP,
    )
    cc = connected_components_star(pairs)
    labeled = names.join(
        cc.withColumnRenamed("doc_id", "nid"), "nid", "left"
    ).select(
        "nid",
        F.col("p_name").alias("name"),
        "n_rows",
        F.coalesce("cluster_id", "nid").alias("cluster_id"),
    )
    return names, pairs, labeled


@register(
    "q_entity_resolution_e2e",
    f"""
    WITH RECURSIVE {_ER_CTES}
    SELECT cluster_id,
           MIN(name) AS canonical_name,
           CAST(COUNT(*) AS BIGINT) AS n_names,
           CAST(SUM(n_rows) AS BIGINT) AS n_mentions
    FROM labeled
    GROUP BY cluster_id
    """,
    doc="entity resolution E2E over part names: exact collapse → "
    "q-gram blocking → levenshtein≤2 verify → star components → "
    "canonical entity with mention mass; singletons survive as their "
    "own entity (operators/retrieval.qgram_fuzzy_pairs + "
    "operators/dedup.connected_components_star)",
)
def q_entity_resolution_e2e(spark, sf_dir):
    _, _, labeled = _er_stages(spark, sf_dir)
    return labeled.groupBy("cluster_id").agg(
        F.min("name").alias("canonical_name"),
        F.count(F.lit(1)).alias("n_names"),
        F.sum("n_rows").alias("n_mentions"),
    )


@register(
    "q_entity_blocking_stats",
    f"""
    WITH RECURSIVE {_ER_CTES}
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM part) AS n_mentions,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM names) AS n_keys,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_matches,
      (SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT) FROM labeled)
        AS n_entities
    """,
    doc="ER funnel audit: mentions → distinct keys → blocked "
    "candidates → verified matches → entities; the candidate count vs "
    "keys² ratio is the evidence blocking keeps linkage sub-quadratic",
)
def q_entity_blocking_stats(spark, sf_dir):
    names, pairs, labeled = _er_stages(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")

    # candidate count BEFORE the distance verify, mirroring `cand`:
    # recompute the blocked-candidate set exactly as the operator does
    keyed = names.select(
        F.col("nid").alias("_id"), F.col("p_name").alias("_key")
    ).where(F.length("_key") >= _Q)
    grams = keyed.select(
        "_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("_key") - F.lit(_Q - 1)),
                    lambda i: F.col("_key").substr(i, F.lit(_Q)),
                )
            )
        ).alias("gram"),
    )
    hot = (
        grams.groupBy("gram")
        .agg(F.count_distinct("_id").alias("n"))
        .where(F.col("n") > _CAP)
        .select("gram")
    )
    cold = grams.join(F.broadcast(hot), "gram", "left_anti")
    cand = (
        cold.select(F.col("_id").alias("id_a"), "gram")
        .join(cold.select(F.col("_id").alias("id_b"), "gram"), "gram")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    def cnt(df, name):
        return df.agg(F.count(F.lit(1)).cast("long").alias(name))

    return (
        cnt(part, "n_mentions")
        .crossJoin(cnt(names, "n_keys"))
        .crossJoin(cnt(cand, "n_candidates"))
        .crossJoin(cnt(pairs, "n_matches"))
        .crossJoin(
            labeled.agg(
                F.count_distinct("cluster_id").alias("n_entities")
            )
        )
    )
