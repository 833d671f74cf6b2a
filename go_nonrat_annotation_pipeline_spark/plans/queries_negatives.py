"""Deterministic negative sampling for contrastive training.

Retrieval/embedding training needs, for every anchor document, k
"random" negatives that are (a) replayable across runs, (b) never the
anchor itself, and (c) never a known positive (here: a verified
near-dup — sampling a near-duplicate as a negative poisons the loss).
Candidates come from the repo's md5 hash gate (hash60(anchor|slot) mod
N over the dense doc-id domain, re-salted per rejected slot), the
positive set is the attested LSH pair table, and the exclusion is one
left_anti join — all deterministic, no RNG state.

Collision handling is bounded and mirrored: each anchor draws from
_DRAWS salted slots, drops self/positives/duplicates, and keeps the
first _K survivors in slot order (survivor count can be < _K only if
an anchor had > _DRAWS−_K rejections — not the case on this corpus,
and the count is visible in the output either way).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import dedup as D
from ..operators.sketches import hash60, sql_hash60
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import PAIR_CTES as _PAIR_CTES

_K = 3
_DRAWS = 8
_SALT = "neg|"


@register(
    "q_negative_samples",
    f"""
    WITH RECURSIVE {_PAIR_CTES},
    pos AS (
      SELECT id_a, id_b FROM ver WHERE j >= 0.7
    ), nn AS (
      SELECT COUNT(*) AS n, MIN(doc_id) AS lo FROM documents
    ), draws AS (
      SELECT d.doc_id AS anchor, t.slot,
             lo + ({sql_hash60(
                 f"'{_SALT}' || CAST(d.doc_id AS VARCHAR) || '|' || "
                 "CAST(t.slot AS VARCHAR)")}) % n AS cand
      FROM documents d, nn,
           UNNEST(GENERATE_SERIES(1, {_DRAWS})) AS t(slot)
    ), clean AS (
      SELECT anchor, slot, cand FROM draws dr
      WHERE cand <> anchor
        AND NOT EXISTS (SELECT 1 FROM pos p
                        WHERE (p.id_a = dr.anchor AND p.id_b = dr.cand)
                           OR (p.id_b = dr.anchor AND p.id_a = dr.cand))
    ), dedup2 AS (
      SELECT anchor, slot, cand,
             ROW_NUMBER() OVER (PARTITION BY anchor, cand
                                ORDER BY slot) AS dup_rn
      FROM clean
    ), ranked AS (
      SELECT anchor, cand,
             ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY slot)
               AS neg_rank
      FROM dedup2 WHERE dup_rn = 1
    )
    SELECT anchor AS doc_id, CAST(neg_rank AS BIGINT) AS neg_rank,
           CAST(cand AS BIGINT) AS neg_id
    FROM ranked WHERE neg_rank <= {_K}
    """,
    doc="replayable contrastive negatives: k=3 per anchor from salted "
    "md5 slots over the doc-id domain, self and verified near-dup "
    "positives excluded (anti-join on the attested LSH pair set), "
    "slot-order kept — no RNG state, identical across engines and "
    "epochs by salt",
)
def q_negative_samples(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("lo")
    )
    pos = D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 0.7).select(
        "id_a", "id_b"
    )
    slots = spark.range(1, _DRAWS + 1).select(F.col("id").alias("slot"))
    draws = (
        docs.select(F.col("doc_id").alias("anchor"))
        .crossJoin(F.broadcast(slots))
        .crossJoin(F.broadcast(stats))
        .select(
            "anchor",
            "slot",
            (
                F.col("lo")
                + hash60(
                    F.concat(
                        F.lit(_SALT),
                        F.col("anchor").cast("string"),
                        F.lit("|"),
                        F.col("slot").cast("string"),
                    )
                )
                % F.col("n")
            ).alias("cand"),
        )
        .where(F.col("cand") != F.col("anchor"))
    )
    # exclude positives in either orientation with one anti-join on a
    # symmetrized pair set
    sym = pos.unionByName(
        pos.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    ).select(F.col("id_a").alias("anchor"), F.col("id_b").alias("cand"))
    clean = draws.join(sym, ["anchor", "cand"], "left_anti")
    w_dup = Window.partitionBy("anchor", "cand").orderBy("slot")
    w_rank = Window.partitionBy("anchor").orderBy("slot")
    return (
        clean.withColumn("dup_rn", F.row_number().over(w_dup))
        .where(F.col("dup_rn") == 1)
        .withColumn("neg_rank", F.row_number().over(w_rank))
        .where(F.col("neg_rank") <= _K)
        .select(
            F.col("anchor").alias("doc_id"),
            F.col("neg_rank").cast("long").alias("neg_rank"),
            F.col("cand").cast("long").alias("neg_id"),
        )
    )
