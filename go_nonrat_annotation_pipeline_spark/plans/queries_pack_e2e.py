"""E2E composite: dedup-aware selection → whole-doc FFD packing.

The layout tail of a curation run, chained: LSH near-dup clusters set
per-doc keep rates (1/cluster_size md5 gate), the surviving corpus is
packed whole-document by first-fit-decreasing, and the funnel report
carries counts through every stage plus the packing-quality numbers.
The oracle chains the SAME stages as CTEs (recursive pair/components
chain → gate → FFD recursive fold over ONLY the survivors), so the
hash match attests the composition, not just the parts.

Importing _SIZE_CTES from queries_dedupaware (a trailing, non-window
module) keeps one source of truth for the gate SQL; registration order
past the first 50 is not contractual.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import binpack as BP
from ..sources.testdata import load_table
from .queries_dedupaware import _SIZE_CTES, _gated
from .registry import register
from .shared_sql import PAIR_CTES as _PAIR_CTES

_FFD = BP.sql_ffd_ctes(table="sel")


@register(
    "corpus_pack_e2e",
    f"""
    WITH RECURSIVE {_PAIR_CTES},
    {_SIZE_CTES},
    sel AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN gated g USING (doc_id)
      WHERE g.selected = 1
    ),
    {_FFD},
    bins AS (
      SELECT shard, bin_no,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(tok) AS BIGINT) AS fill
      FROM bp_assign GROUP BY shard, bin_no
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
      (SELECT CAST(SUM(selected) AS BIGINT) FROM gated) AS n_selected,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bp_assign) AS n_packed,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bins) AS n_bins,
      (SELECT CAST(SUM(fill) AS BIGINT) FROM bins) AS total_tokens,
      (SELECT CAST(SUM({BP.DEFAULT_BIN_CAP} - fill) AS BIGINT)
         FROM bins) AS total_slack
    """,
    doc="E2E: dedup-aware 1/cluster_size selection → whole-doc FFD "
    "packing of the survivors → funnel + fill/slack report; the "
    "oracle chains every stage's CTE form, so the hash match checks "
    "the composition (queries_dedupaware + operators/binpack)",
)
def corpus_pack_e2e(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    gated = _gated(spark, sf_dir)
    sel = docs.join(
        gated.where(F.col("selected") == 1).select("doc_id"), "doc_id"
    ).select("doc_id", "text")
    bins = (
        BP.ffd_pack(sel)
        .groupBy("shard", "bin_no")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("fill"),
        )
    )
    assign = BP.ffd_pack(sel)

    def cnt(df, name):
        return df.agg(F.count(F.lit(1)).cast("long").alias(name))

    return (
        cnt(docs, "n_docs")
        .crossJoin(
            gated.agg(F.sum("selected").cast("long").alias("n_selected"))
        )
        .crossJoin(cnt(assign, "n_packed"))
        .crossJoin(cnt(bins, "n_bins"))
        .crossJoin(bins.agg(F.sum("fill").cast("long").alias("total_tokens")))
        .crossJoin(
            bins.agg(
                F.sum(F.lit(BP.DEFAULT_BIN_CAP) - F.col("fill"))
                .cast("long")
                .alias("total_slack")
            )
        )
    )
