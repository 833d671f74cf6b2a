"""Full corpus-curation E2E: the flagship training-data pipeline run as
ONE query — PII gate → quality gate → exact dedup → near-dup cluster
collapse → benchmark decontamination → per-source funnel report.

Every stage is an already-oracle-proven operator; this row attests the
COMPOSITION (stage ordering, survivor threading, funnel accounting) the
way pipeline_e2e_mouse attests the reference dataflow spine. Output is
integers only (counts + exact token sums) — hash-proof by construction.

Scale shape: the funnel flags come from LEFT JOINs of strictly
shrinking id-sets back onto the pool — each join is id-key equi
(hash-partitionable), every stage's heavy work (band join, components,
gram join) is the same bounded-candidate plan its standalone query
runs, and the final aggregate is one partial-combined groupBy(source).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import dedup as D
from ..operators import pii as P
from ..operators.sampling import contamination_pairs
from ..sources.testdata import load_table
from .queries_curation import _CONTAM_SQL_GRAMS
from .queries_pii import _SQL_LACED, _laced
from .registry import register
from .shared_sql import pair_ctes

_MIN_TOKENS = 40
_PUNCT_MAX = 0.05
_NEAR_J = 0.7
_TEST_MOD = 97  # doc_id % 97 == 0 → held-out/test doc, never in the pool

_SSN_PAT = dict((n, p) for n, p, _ in P.DEFAULT_PATTERNS)["ssn"]

_E2E_ORACLE = f"""
    WITH RECURSIVE
    pool AS (
      SELECT doc_id, source, text, ({_SQL_LACED}) AS laced
      FROM documents WHERE doc_id % {_TEST_MOD} <> 0
    ),
    scrub AS (
      SELECT doc_id, source, text,
             LEN(REGEXP_EXTRACT_ALL(laced, '{_SSN_PAT}')) AS n_ssn,
             {P.sql_pii_redact('laced')} AS red
      FROM pool
    ),
    s1 AS (SELECT doc_id, source, text, red FROM scrub WHERE n_ssn = 0),
    feats AS (
      SELECT doc_id, source, text, red,
             LEN({TX.sql_words('red')}) AS n_tokens,
             LEN(REGEXP_EXTRACT_ALL(red, '[^A-Za-z0-9\\s]'))
               / CAST(LENGTH(red) AS DOUBLE) AS punct_ratio
      FROM s1
    ),
    s2 AS (
      SELECT * FROM feats
      WHERE n_tokens >= {_MIN_TOKENS} AND punct_ratio <= {_PUNCT_MAX}
    ),
    canon AS (SELECT MD5(red) AS k, MIN(doc_id) AS cid FROM s2 GROUP BY 1),
    s3 AS (
      SELECT s2.* FROM s2
      JOIN canon ON MD5(s2.red) = canon.k AND s2.doc_id = canon.cid
    ),
    s3v AS (SELECT doc_id, red AS text FROM s3),
    {pair_ctes('s3v')},
    prs AS (SELECT id_a, id_b FROM ver WHERE j >= {_NEAR_J}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM prs
      UNION
      SELECT id_b AS u, id_a AS v FROM prs
    ),
    reach AS (
      SELECT u AS node, u AS member FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.member
    ),
    clusters AS (
      SELECT node AS doc_id, MIN(member) AS cluster_id
      FROM reach GROUP BY node
    ),
    s4 AS (
      SELECT s3.* FROM s3 LEFT JOIN clusters c ON s3.doc_id = c.doc_id
      WHERE COALESCE(c.cluster_id, s3.doc_id) = s3.doc_id
    ),
    wsd AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
    gr AS (SELECT doc_id, UNNEST({_CONTAM_SQL_GRAMS}) AS g FROM wsd),
    contam AS (
      SELECT DISTINCT tr.doc_id
      FROM (SELECT doc_id, g FROM gr WHERE doc_id % {_TEST_MOD} <> 0) tr
      JOIN (SELECT g FROM gr WHERE doc_id % {_TEST_MOD} = 0) te USING (g)
    ),
    s5 AS (
      SELECT * FROM s4
      WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    )
    SELECT p.source,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(COUNT(a.doc_id) AS BIGINT) AS n_pii_pass,
           CAST(COUNT(b.doc_id) AS BIGINT) AS n_quality_pass,
           CAST(COUNT(c3.doc_id) AS BIGINT) AS n_exact_kept,
           CAST(COUNT(c4.doc_id) AS BIGINT) AS n_neardup_kept,
           CAST(COUNT(c5.doc_id) AS BIGINT) AS n_final,
           CAST(SUM(CASE WHEN c5.doc_id IS NOT NULL THEN b.n_tokens
                         ELSE 0 END) AS BIGINT) AS final_tokens
    FROM pool p
    LEFT JOIN s1 a ON a.doc_id = p.doc_id
    LEFT JOIN s2 b ON b.doc_id = p.doc_id
    LEFT JOIN s3 c3 ON c3.doc_id = p.doc_id
    LEFT JOIN s4 c4 ON c4.doc_id = p.doc_id
    LEFT JOIN s5 c5 ON c5.doc_id = p.doc_id
    GROUP BY p.source
"""


@register(
    "corpus_curation_e2e",
    _E2E_ORACLE,
    doc="flagship LLM-corpus pipeline E2E: PII gate (drop SSN docs, "
    "redact the rest) → Gopher-style quality gate → exact dedup → "
    "minhash-LSH + connected-components cluster collapse → 13-gram "
    "benchmark decontamination → per-source funnel report with exact "
    "token totals",
)
def corpus_curation_e2e(spark, sf_dir):
    pool = _laced(spark, sf_dir).where(F.col("doc_id") % _TEST_MOD != 0)
    # r13 optimization: checkpoint the SCRUB output (one regex pass)
    # instead of only s2 — the funnel's s1 leg used to re-run the whole
    # PII regex cascade at every execution of the final plan (guide
    # §7.2 duplicated subtrees); s1/s2 now derive from the materialized
    # scrub with cheap filters.
    scrub = P.pii_scrub(pool, text_col="laced").localCheckpoint()
    s1 = scrub.where(F.col("n_ssn") == 0)
    feats = s1.select(
        "doc_id",
        "source",
        "text",
        "redacted",
        TX.whitespace_token_count(F.col("redacted")).alias("n_tokens"),
        (
            F.size(
                F.regexp_extract_all(
                    F.col("redacted"), F.lit(r"[^A-Za-z0-9\s]"), F.lit(0)
                )
            )
            / F.length("redacted").cast("double")
        ).alias("punct_ratio"),
    )
    s2 = feats.where(
        (F.col("n_tokens") >= _MIN_TOKENS)
        & (F.col("punct_ratio") <= _PUNCT_MAX)
    ).localCheckpoint()
    s3 = D.exact_dedup(s2, F.col("redacted"), "doc_id").where(
        ~F.col("is_dup")
    )
    s3v = s3.select("doc_id", F.col("redacted").alias("text"))
    prs = D.minhash_lsh_pairs(s3v, "doc_id", "text", 3, _NEAR_J)
    comp = D.connected_components_star(prs)
    s4 = (
        s3.join(comp, "doc_id", "left")
        .where(
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            == F.col("doc_id")
        )
        .localCheckpoint()
    )
    test = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % _TEST_MOD == 0
    )
    contam = (
        contamination_pairs(s4.select("doc_id", "text"), test)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    s5 = s4.join(contam, "doc_id", "left_anti")

    flags = (
        pool.select("doc_id", "source")
        .join(s1.select("doc_id", F.lit(1).alias("f1")), "doc_id", "left")
        .join(
            s2.select("doc_id", F.lit(1).alias("f2"), "n_tokens"),
            "doc_id",
            "left",
        )
        .join(s3.select("doc_id", F.lit(1).alias("f3")), "doc_id", "left")
        .join(s4.select("doc_id", F.lit(1).alias("f4")), "doc_id", "left")
        .join(s5.select("doc_id", F.lit(1).alias("f5")), "doc_id", "left")
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count("f1").alias("n_pii_pass"),
        F.count("f2").alias("n_quality_pass"),
        F.count("f3").alias("n_exact_kept"),
        F.count("f4").alias("n_neardup_kept"),
        F.count("f5").alias("n_final"),
        F.sum(
            F.when(F.col("f5").isNotNull(), F.col("n_tokens")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("final_tokens"),
    )
