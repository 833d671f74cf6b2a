"""Substring-dedup E2E composite.

The Lee-et-al-then-Manku funnel a crawl actually runs, as ONE query:

1. strip every cross-doc duplicated ≥15-token span
   (operators/dupspan.strip_duplicated_spans — the corpus rewrite);
2. docs stripped to nothing leave the funnel (policy: no content, no
   signature — also keeps the near-dup stage from pairing every empty
   doc with every other);
3. 60-bit SimHash near-dup pairs at Hamming ≤ 4 over the CLEANED text
   (operators/hamming — compound-key banding, so boilerplate that
   survived span-stripping still collapses);
4. near-dup clusters (alternating-star components) and a per-source
   funnel report.

Every stage is an independently-attested operator; the oracle chains
their CTE forms end-to-end, so the driver hash-match checks the
COMPOSITION, not just the parts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import hashing as H
from ..operators import dedup as D
from ..operators import dupspan as DS
from ..operators import hamming as HM
from ..sources.testdata import load_table
from .queries_dupspan import _COV_CTES
from .registry import register

_N = DS.N_DEFAULT
_MAXD = 4

_ORACLE = f"""
    WITH RECURSIVE {_COV_CTES},
    cleaned AS (
      SELECT doc_id,
             COALESCE(STRING_AGG(w, ' ' ORDER BY pos)
                      FILTER (WHERE cov = 0), '') AS text,
             CAST(SUM(cov) AS BIGINT) AS n_dropped,
             CAST(SUM(CASE WHEN cov = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
      FROM cov GROUP BY doc_id
    ),
    nonempty AS (SELECT doc_id, text FROM cleaned WHERE n_kept > 0),
    {HM.sql_simhash60_ctes("nonempty", "doc_id", "text")},
    pairs AS ({HM.sql_hamming_pairs("doc_id", HM.BITS, 6, 2, _MAXD)}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
      SELECT u AS node, u AS member FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.member
    ),
    cc AS (
      SELECT node AS doc_id, MIN(member) AS cluster_id
      FROM reach GROUP BY node
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(SUM(c.n_dropped) AS BIGINT) AS words_stripped,
           CAST(SUM(CASE WHEN c.n_kept = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS emptied_docs,
           CAST(SUM(CASE WHEN cc.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS near_dup_docs,
           CAST(COUNT(DISTINCT cc.cluster_id) AS BIGINT) AS clusters
    FROM documents d
    JOIN cleaned c ON c.doc_id = d.doc_id
    LEFT JOIN cc ON cc.doc_id = d.doc_id
    GROUP BY d.source
    """


@register(
    "corpus_substring_e2e",
    _ORACLE,
    doc="E2E composite: cross-doc duplicated-span strip (Lee et al.) → "
    f"60-bit SimHash Hamming≤{_MAXD} near-dup pairs over the CLEANED "
    "text → star components → per-source funnel (docs in, words "
    "stripped, emptied docs, near-dup docs, clusters) — every stage an "
    "attested operator, the oracle chains their CTE forms",
)
def corpus_substring_e2e(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cleaned = DS.strip_duplicated_spans(docs, "doc_id", "text", _N)
    nonempty = cleaned.where(F.col("n_kept") > 0).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    sigs = HM.simhash60(nonempty, "doc_id", "text")
    pairs = HM.hamming_band_pairs(sigs, "doc_id", "sig", HM.BITS, 6, 2, _MAXD)
    cc = D.connected_components_star(pairs)
    return (
        docs.select("doc_id", "source")
        .join(
            cleaned.select("doc_id", "n_dropped", "n_kept"), "doc_id"
        )
        .join(cc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum("n_dropped").cast("bigint").alias("words_stripped"),
            F.sum(F.when(F.col("n_kept") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("emptied_docs"),
            F.sum(F.when(F.col("cluster_id").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("near_dup_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("clusters"),
        )
    )
