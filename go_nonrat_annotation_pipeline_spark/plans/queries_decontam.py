"""Benchmark-decontamination queries (operators/decontam.py).

The benchmark is carved deterministically out of the documents table
(doc_id % 29 = 0 plays the eval suite; the rest is the training
corpus) so both engines see the same split with no side data. The
8-gram collision rule is the GPT-3-appendix-style gate; the synthetic
corpus's near-dup families straddle the split, so contamination is
real (≈5% of docs at sf0.001), not vacuous.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import decontam as DC
from ..sources.testdata import load_table
from .registry import register

_N = 8
_BENCH = "doc_id % 29 = 0"
_CORPUS = "doc_id % 29 != 0"

_CTES = DC.sql_decontam_ctes(
    f"(SELECT doc_id, text FROM documents WHERE {_CORPUS})",
    f"(SELECT doc_id, text FROM documents WHERE {_BENCH})",
    _N,
)


def _split(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(_CORPUS), docs.where(_BENCH)


@register(
    "q_decontam_verdicts",
    "    WITH " + _CTES + """
    SELECT doc_id, n_grams, n_hits, hit_ppm
    FROM dc_verdicts WHERE contaminated
    """,
    doc="benchmark decontamination verdicts: corpus docs sharing ≥1 "
    "distinct 8-gram with any benchmark doc (GPT-3 appendix-C collision "
    "rule) — benchmark gram set broadcast, corpus probed map-side, one "
    "per-doc aggregate (operators/decontam.contamination_verdicts)",
)
def q_decontam_verdicts(spark, sf_dir):
    corpus, bench = _split(spark, sf_dir)
    return (
        DC.contamination_verdicts(corpus, bench, n=_N)
        .where("contaminated")
        .select("doc_id", "n_grams", "n_hits", "hit_ppm")
    )


@register(
    "q_decontam_report",
    "    WITH " + _CTES + f"""
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE {_CORPUS}) AS n_corpus,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE {_BENCH}) AS n_bench,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dc_bench)
             AS n_bench_grams,
           CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           CAST(SUM(CASE WHEN contaminated THEN 0 ELSE 1 END) AS BIGINT)
             AS n_clean
    FROM dc_verdicts
    """,
    doc="decontamination funnel: corpus/benchmark sizes, benchmark gram "
    "universe, contaminated vs clean counts — the sign-off report before "
    "a training run",
)
def q_decontam_report(spark, sf_dir):
    corpus, bench = _split(spark, sf_dir)
    v = DC.contamination_verdicts(corpus, bench, n=_N)
    return (
        v.agg(
            F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
            F.sum(F.when(F.col("contaminated"), 0).otherwise(1))
            .cast("long")
            .alias("n_clean"),
        )
        .crossJoin(
            corpus.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
        )
        .crossJoin(
            bench.agg(F.count(F.lit(1)).cast("long").alias("n_bench"))
        )
        .crossJoin(
            DC.benchmark_grams(bench, n=_N).agg(
                F.count(F.lit(1)).cast("long").alias("n_bench_grams")
            )
        )
        .select(
            "n_corpus", "n_bench", "n_bench_grams",
            "n_contaminated", "n_clean",
        )
    )


@register(
    "corpus_decontam_e2e",
    "    WITH " + _CTES + f"""
    , dc_clean AS (
      SELECT d.doc_id, d.source
      FROM documents d JOIN dc_verdicts v USING (doc_id)
      WHERE {_CORPUS.replace('doc_id', 'd.doc_id')} AND NOT v.contaminated
    )
    SELECT s.source,
           CAST(s.n_before AS BIGINT) AS n_before,
           CAST(COALESCE(c.n_after, 0) AS BIGINT) AS n_after
    FROM (SELECT source, COUNT(*) AS n_before FROM documents
          WHERE {_CORPUS} GROUP BY source) s
    LEFT JOIN (SELECT source, COUNT(*) AS n_after FROM dc_clean
               GROUP BY source) c USING (source)
    """,
    doc="decontamination E2E: corpus → drop benchmark-contaminated docs "
    "(broadcast left_anti) → per-source before/after counts — the "
    "curation step wired end to end (operators/decontam.decontaminate)",
)
def corpus_decontam_e2e(spark, sf_dir):
    corpus, bench = _split(spark, sf_dir)
    clean = DC.decontaminate(corpus, bench, n=_N)
    before = corpus.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    after = clean.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_after")
    )
    return (
        before.join(after, "source", "left")
        .select(
            "source",
            "n_before",
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
        )
    )
