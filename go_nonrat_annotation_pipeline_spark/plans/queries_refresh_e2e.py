"""Incremental corpus-refresh E2E: the day-2 operations composite —
snapshot-diff CDC classification of a new crawl against the stored
corpus, then near-dup ADMISSION of the added/changed docs against the
unchanged store's signature table, reported as one per-source ledger.

This is the production loop the reference pipeline itself runs nightly
(classify incoming vs stored, then act per class — DAO.java:169-226),
lifted to corpus curation: `snapshot_diff` is the generic upsert
decision, `incremental_minhash_dups` is the post-backfill dedup gate
whose per-batch cost is independent of |store|².

Snapshots derive deterministically from the driver's documents table
(no synthesized data): the new crawl drops doc_id%11==3, revises
doc_id%13==4 (text || ' revised'), and first sees doc_id%10==7 (absent
from the old snapshot).

Scale shape: one null-safe full-outer hash join (the diff), one band
equi-join of incoming bands against store bands (never incoming ×
store), exact Jaccard on collisions only, and a final map-side-combined
groupBy(source). All integer output — hash-proof.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import hashing as H
from ..operators import dedup as D
from ..operators.diff import snapshot_diff
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import SH as _SH

_THRESH = 0.7

_ORACLE = f"""
    WITH newt AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 4 THEN text || ' revised'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 11 <> 3
    ), oldt AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7
    ), d AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'deleted'
                  WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
                  ELSE 'changed' END AS change_type,
             n.text AS text
      FROM oldt o FULL OUTER JOIN newt n ON o.doc_id = n.doc_id
    ), pool AS (
      SELECT doc_id, change_type, text FROM d WHERE change_type <> 'deleted'
    ), shd AS (
      SELECT doc_id, change_type, LIST_DISTINCT({_SH}) AS sh FROM pool
    ), sigs AS (
      SELECT doc_id, change_type, sh, {H.sql_minhash_signature('sh')} AS sig
      FROM shd WHERE LEN(sh) > 0
    ), bands AS (
      SELECT doc_id, change_type, b,
             LIST_EXTRACT(sig, 2 * b + 1) AS h0,
             LIST_EXTRACT(sig, 2 * b + 2) AS h1
      FROM sigs, UNNEST(GENERATE_SERIES(0, {D.N_BANDS - 1})) AS t(b)
    ), cand AS (
      SELECT DISTINCT n.doc_id AS incoming_id, s.doc_id AS store_id
      FROM bands n JOIN bands s
        ON n.b = s.b AND n.h0 = s.h0 AND n.h1 = s.h1
      WHERE n.change_type IN ('added', 'changed')
        AND s.change_type = 'unchanged'
    ), ver AS (
      SELECT incoming_id,
             CAST(LEN(LIST_FILTER(x.sh, v -> LIST_CONTAINS(y.sh, v))) AS DOUBLE)
               / (LEN(x.sh) + LEN(y.sh)
                  - LEN(LIST_FILTER(x.sh, v -> LIST_CONTAINS(y.sh, v)))) AS j
      FROM cand
      JOIN sigs x ON x.doc_id = cand.incoming_id
      JOIN sigs y ON y.doc_id = cand.store_id
    ), flagged AS (
      SELECT DISTINCT incoming_id FROM ver WHERE j >= {_THRESH}
    )
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN d.change_type = 'added' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_added,
           CAST(SUM(CASE WHEN d.change_type = 'changed' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_changed,
           CAST(SUM(CASE WHEN d.change_type = 'deleted' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_deleted,
           CAST(SUM(CASE WHEN d.change_type = 'unchanged' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unchanged,
           CAST(COUNT(f.incoming_id) AS BIGINT) AS n_incoming_dup,
           CAST(SUM(CASE WHEN d.change_type IN ('added', 'changed')
                          AND f.incoming_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted
    FROM d
    JOIN documents b ON b.doc_id = d.doc_id
    LEFT JOIN flagged f ON f.incoming_id = d.doc_id
    GROUP BY b.source
"""


@register(
    "corpus_refresh_e2e",
    _ORACLE,
    doc="day-2 operations E2E: snapshot-diff CDC (added/changed/deleted/"
    "unchanged, null-safe full-outer) of a new crawl vs the stored "
    "corpus, then incremental near-dup admission of the added+changed "
    "docs against the unchanged store's band table — per-source ledger "
    "with admitted counts",
)
def corpus_refresh_e2e(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    new = docs.where(d % 11 != 3).select(
        "doc_id",
        F.when(d % 13 == 4, F.concat("text", F.lit(" revised")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    old = docs.where(d % 10 != 7).select("doc_id", "text")
    diff = snapshot_diff(old, new, ["doc_id"]).localCheckpoint()

    live = diff.where(F.col("change_type") != "deleted").select(
        "doc_id", "change_type", F.col("text_new").alias("text")
    )
    store = live.where(F.col("change_type") == "unchanged")
    incoming = live.where(
        F.col("change_type").isin("added", "changed")
    )
    flagged = (
        D.incremental_minhash_dups(store, incoming, verify_threshold=_THRESH)
        .select(F.col("incoming_id").alias("doc_id"))
        .distinct()
        .withColumn("fdup", F.lit(1))
    )

    inc_set = F.col("change_type").isin("added", "changed")
    return (
        diff.join(docs.select("doc_id", "source"), "doc_id")
        .join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum((F.col("change_type") == "added").cast("long")).alias(
                "n_added"
            ),
            F.sum((F.col("change_type") == "changed").cast("long")).alias(
                "n_changed"
            ),
            F.sum((F.col("change_type") == "deleted").cast("long")).alias(
                "n_deleted"
            ),
            F.sum(
                (F.col("change_type") == "unchanged").cast("long")
            ).alias("n_unchanged"),
            F.count("fdup").alias("n_incoming_dup"),
            F.sum(
                (inc_set & F.col("fdup").isNull()).cast("long")
            ).alias("n_admitted"),
        )
    )
