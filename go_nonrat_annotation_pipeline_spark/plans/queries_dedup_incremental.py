"""Incremental (continuous-ingestion) near-dup query.

Split of `documents` into store (doc_id % 5 != 0) and incoming
(doc_id % 5 == 0) batches; the operator checks incoming against the
store's band table only (operators/dedup.incremental_minhash_dups) —
the post-backfill shape where per-batch cost is independent of |store|².
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import SH as _SH
from ..functions import hashing as H

_THRESH = 0.7

_ORACLE = f"""
    WITH shd AS (
      SELECT doc_id, LIST_DISTINCT({_SH}) AS sh FROM documents
    ), docs AS (
      SELECT doc_id, sh, {H.sql_minhash_signature('sh')} AS sig
      FROM shd WHERE LEN(sh) > 0
    ), bands AS (
      SELECT doc_id, b,
             LIST_EXTRACT(sig, 2 * b + 1) AS h0,
             LIST_EXTRACT(sig, 2 * b + 2) AS h1
      FROM docs, UNNEST(GENERATE_SERIES(0, {D.N_BANDS - 1})) AS t(b)
    ), cand AS (
      SELECT DISTINCT n.doc_id AS incoming_id, s.doc_id AS store_id
      FROM bands n JOIN bands s
        ON n.b = s.b AND n.h0 = s.h0 AND n.h1 = s.h1
      WHERE n.doc_id % 5 = 0 AND s.doc_id % 5 <> 0
    ), ver AS (
      SELECT incoming_id, store_id,
             CAST(LEN(LIST_FILTER(x.sh, v -> LIST_CONTAINS(y.sh, v))) AS DOUBLE)
               / (LEN(x.sh) + LEN(y.sh)
                  - LEN(LIST_FILTER(x.sh, v -> LIST_CONTAINS(y.sh, v)))) AS j
      FROM cand
      JOIN docs x ON x.doc_id = cand.incoming_id
      JOIN docs y ON y.doc_id = cand.store_id
    )
    SELECT incoming_id, store_id, ROUND(j, 6) AS jaccard
    FROM ver WHERE j >= {_THRESH}
    """


@register(
    "dedup_incremental",
    _ORACLE,
    doc="incremental near-dup: incoming batch banded against the stored "
    "signature table — candidates from a band equi-join (incoming bands "
    "x store bands), exact Jaccard on collisions only "
    "(operators/dedup.incremental_minhash_dups)",
)
def dedup_incremental(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    store = docs.where(F.col("doc_id") % 5 != 0)
    incoming = docs.where(F.col("doc_id") % 5 == 0)
    return D.incremental_minhash_dups(
        store, incoming, verify_threshold=_THRESH
    )
