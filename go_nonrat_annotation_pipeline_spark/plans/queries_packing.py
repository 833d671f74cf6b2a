"""Token-exact concat-and-chunk packing queries (operators/packing.py).

The layout audit every pre-training dataloader needs: deterministic
shard order, exact per-document sequence spans, and the per-sequence
fill/boundary-crossing report. All columns BIGINT (offsets, ids,
counts) — nothing trips the driver's typed-hash boundary.
"""

from __future__ import annotations

from ..operators import packing as P
from ..sources.testdata import load_table
from .registry import register

_L = P.DEFAULT_SEQ_LEN
_SHARDS = P.DEFAULT_SHARDS
_SALT = "epoch0"

# Shared oracle CTE: per-doc (shard, exclusive offset, token count,
# first/last sequence) — the window mirror of pack_doc_spans
# (parametrized in operators/packing.sql_spans_ctes so the layout E2E
# can run the same model over its selected-subset intermediate).
_SPANS_CTES = P.sql_spans_ctes("documents", _L, _SHARDS, _SALT)


@register(
    "q_pack_doc_spans",
    "    WITH " + _SPANS_CTES + """
    SELECT doc_id, shard, off, tok,
           CAST(first_seq AS BIGINT) AS first_seq,
           CAST(last_seq AS BIGINT) AS last_seq,
           CAST(last_seq - first_seq + 1 AS BIGINT) AS n_seqs
    FROM spans2
    """,
    doc="concat-and-chunk packing: per-document shard, exclusive token "
    "offset in the shard stream, and first/last training-sequence index "
    "(operators/packing.pack_doc_spans — one window exchange, map-side "
    "tokenization; GPT-style pack-and-split layout)",
)
def q_pack_doc_spans(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return P.pack_doc_spans(docs, _L, _SHARDS)


@register(
    "q_pack_sequences",
    "    WITH " + _SPANS_CTES + f""",
    seqmap AS (
      SELECT doc_id, shard, off, tok,
             UNNEST(GENERATE_SERIES(first_seq, last_seq)) AS seq
      FROM spans2
    )
    SELECT shard, CAST(seq AS BIGINT) AS seq,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(off + tok, (seq + 1) * {_L})
                    - GREATEST(off, seq * {_L})) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN off < seq * {_L} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_carried,
           CAST(CASE WHEN SUM(LEAST(off + tok, (seq + 1) * {_L})
                              - GREATEST(off, seq * {_L})) = {_L}
                     THEN 1 ELSE 0 END AS BIGINT) AS is_full
    FROM seqmap
    GROUP BY shard, seq
    """,
    doc="per-sequence packing audit: docs per sequence, exact token "
    "fill, boundary-crossing count — every non-tail sequence is exactly "
    "full (operators/packing.pack_sequence_report; explode bounded by "
    "ceil(tok/seq_len)+1 rows per doc)",
)
def q_pack_sequences(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return P.pack_sequence_report(docs, _L, _SHARDS)
