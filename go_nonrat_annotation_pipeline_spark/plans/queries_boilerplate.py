"""Boilerplate-removal queries (operators/boilerplate.py).

CCNet-style chunk-hash dedup that REWRITES documents (q_chunk_dedup
only counts): chunks occurring in more than ``_MAX_DOCS`` distinct
documents are stripped everywhere, survivors reassemble in order.
Docs with zero tokens emit no chunks and are absent from the output on
both engines (no evidence to judge — the operator docstring's
contract)."""

from __future__ import annotations

from ..operators import boilerplate as BP
from ..sources.testdata import load_table
from .registry import register

_CHUNK = 3
_MAX_DOCS = 3

# Parametrized (like shared_sql.pair_ctes) so the corpus-build E2E can
# chunk an arbitrary source relation; defines toks/ch/freq.
def chunks_ctes(src: str = "documents") -> str:
    return f"""
    toks AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS t
      FROM {src}
    ), ch AS (
      SELECT doc_id, j AS pos,
             ARRAY_TO_STRING(
               LIST_SLICE(t, j * {_CHUNK} + 1, j * {_CHUNK} + {_CHUNK}),
               ' ') AS chunk
      FROM (SELECT doc_id, t,
                   UNNEST(GENERATE_SERIES(
                     0, CAST(CEIL(LEN(t) / {_CHUNK}.0) AS INT) - 1)) AS j
            FROM toks)
    ), freq AS (
      SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs
      FROM ch GROUP BY chunk
    )
"""


_CHUNKS_CTE = "    WITH " + chunks_ctes()


@register(
    "q_boilerplate_freq",
    _CHUNKS_CTE
    + """
    SELECT chunk, CAST(n_docs AS BIGINT) AS n_docs
    FROM freq WHERE n_docs > 1
    """,
    doc="boilerplate model: chunks shared by >1 distinct documents with "
    "their doc frequency — map-side chunking + one exact two-stage "
    "distinct aggregate (operators/boilerplate.chunk_doc_freq; "
    "arXiv:1911.00359)",
)
def q_boilerplate_freq(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    chunks = BP.token_chunks(docs, chunk_tokens=_CHUNK)
    return (
        BP.chunk_doc_freq(chunks)
        .where(F.col("n_docs") > 1)
        .select("chunk", F.col("n_docs").cast("bigint").alias("n_docs"))
    )


@register(
    "q_boilerplate_strip",
    _CHUNKS_CTE
    + f"""
    , judged AS (
      SELECT ch.doc_id, ch.pos, ch.chunk, f.n_docs <= {_MAX_DOCS} AS keep
      FROM ch JOIN freq f USING (chunk)
    )
    SELECT doc_id,
           COALESCE(ARRAY_TO_STRING(
             LIST(chunk ORDER BY pos) FILTER (WHERE keep), ' '), '')
             AS clean_text,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dropped
    FROM judged GROUP BY doc_id
    """,
    doc="corpus rewrite: strip every chunk shared by more than "
    f"{_MAX_DOCS} distinct docs and reassemble survivors in order — "
    "chunk/model/verdict joins are all bounded shuffles; reassembly is "
    "array_sort over (pos,chunk) structs, never an order-dependent "
    "collect_list (operators/boilerplate.boilerplate_strip)",
)
def q_boilerplate_strip(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return BP.boilerplate_strip(
        docs, chunk_tokens=_CHUNK, max_docs=_MAX_DOCS
    )
