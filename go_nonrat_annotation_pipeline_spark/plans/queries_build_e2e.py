"""Pre-training corpus BUILD composite.

The round-6 counterpart to corpus_curation_e2e (which cleans) and
corpus_refresh_e2e (which maintains): this one BUILDS the training
set — boilerplate-stripped text → domain-targeted selection → shuffled
shards, the last mile between a curated corpus and a training run:

1. boilerplate strip (operators/boilerplate): chunks shared by >3
   distinct docs removed everywhere, docs reduced to their unique
   content; emptied docs drop out;
2. DSIR importance selection (operators/dsir): hashed-bigram models of
   the curated target slice vs the cleaned pool, exact fixed-point
   scoring, deterministic top-20% by length-normalized importance;
3. shard shuffle (operators/shards): hash-salted reproducible deal of
   the selected docs into 4 training shards;
4. per-shard ledger: doc count, token mass, peak importance — the
   numbers a training job reads before it starts.

Every stage is an attested operator; the DuckDB oracle chains the same
stages as CTEs (chunks_ctes / dsir_ctes are the parametrized shared
bodies). One DAG end-to-end on the Spark side — Catalyst sees the whole
lineage; the two localCheckpoints bound re-execution of the stripped
corpus, which three later stages reuse.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import boilerplate as BP, dsir as DS, shards as SHD
from ..operators.sketches import sql_hash60
from ..sources.testdata import load_table
from .queries_boilerplate import _CHUNK, _MAX_DOCS, chunks_ctes
from .queries_dsir import _BUCKETS, _KEEP, _N, _TARGET_SOURCES, dsir_ctes
from .registry import register

_N_SHARDS = 4
_SALT = "epoch0"


@register(
    "corpus_build_e2e",
    f"""
    WITH {chunks_ctes('documents')}
    , judged AS (
      SELECT ch.doc_id, ch.pos, ch.chunk, f.n_docs <= {_MAX_DOCS} AS keep
      FROM ch JOIN freq f USING (chunk)
    ), cleanedtext AS (
      SELECT doc_id,
             COALESCE(ARRAY_TO_STRING(
               LIST(chunk ORDER BY pos) FILTER (WHERE keep), ' '), '')
               AS clean_text
      FROM judged GROUP BY doc_id
    ), cleaned AS (
      SELECT c.doc_id, d.source, c.clean_text AS text
      FROM cleanedtext c JOIN documents d USING (doc_id)
      WHERE c.clean_text <> ''
    ), {dsir_ctes('cleaned')}
    , scored AS (
      SELECT o.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(wt_ppm) AS BIGINT) // COUNT(*) AS norm_ppm
      FROM occ o JOIN w USING (bucket)
      GROUP BY o.doc_id
    ), sel AS (
      SELECT doc_id, norm_ppm FROM scored
      QUALIFY ROW_NUMBER() OVER (ORDER BY norm_ppm DESC, doc_id)
              <= CEIL({_KEEP} * COUNT(*) OVER ())
    ), sharded AS (
      SELECT s.doc_id, s.norm_ppm,
             {sql_hash60(f"'{_SALT}|' || CAST(s.doc_id AS VARCHAR)")}
               % {_N_SHARDS} AS shard,
             LEN(LIST_FILTER(STRING_SPLIT(c.text, ' '), x -> x <> ''))
               AS n_tokens
      FROM sel s JOIN cleaned c USING (doc_id)
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MAX(norm_ppm) AS max_norm_ppm
    FROM sharded GROUP BY shard
    """,
    doc="pre-training corpus BUILD: boilerplate strip → DSIR top-20% "
    "selection → salted shard shuffle → per-shard doc/token/importance "
    "ledger — one DAG, every stage an attested operator "
    "(operators/boilerplate + dsir + shards)",
)
def corpus_build_e2e(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    stripped = BP.boilerplate_strip(
        docs, chunk_tokens=_CHUNK, max_docs=_MAX_DOCS
    ).where(F.col("clean_text") != "")
    cleaned = (
        stripped.join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", F.col("clean_text").alias("text"))
        .localCheckpoint()
    )
    w = DS.dsir_bucket_weights(
        cleaned.where(F.col("source").isin(*_TARGET_SOURCES)),
        cleaned,
        n=_N,
        buckets=_BUCKETS,
    )
    sel = DS.dsir_select(
        DS.dsir_scores(cleaned, w, n=_N, buckets=_BUCKETS), _KEEP
    ).localCheckpoint()
    sh = SHD.shard_assignments(sel, "doc_id", _N_SHARDS, _SALT)
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    sharded = (
        sh.select("doc_id", "shard")
        .join(sel.select("doc_id", "norm_ppm"), "doc_id")
        .join(
            cleaned.select("doc_id", F.size(toks).alias("n_tokens")),
            "doc_id",
        )
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.max("norm_ppm").alias("max_norm_ppm"),
    )
