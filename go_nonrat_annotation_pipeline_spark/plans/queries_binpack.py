"""Whole-document FFD bin-packing queries (operators/binpack.py).

The per-document assignment itself is hash-attested (5k rows at the
driver SF), which pins every placement decision of the greedy fold —
Spark's per-shard applyInPandas FFD vs the oracle's recursive-CTE
replay. The stats query adds the packing-quality view (fill/slack per
bin) and the bound audit (bins used vs the ceil(total/cap) lower
bound).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import binpack as BP
from ..sources.testdata import load_table
from .registry import register

_CTES = BP.sql_ffd_ctes()


@register(
    "q_ffd_pack_assign",
    f"""
    WITH RECURSIVE {_CTES}
    SELECT doc_id, shard, bin_no, tok FROM bp_assign
    """,
    doc="whole-doc FFD bin packing (no straddling — the layout for "
    "contamination-free attention): per-shard first-fit-decreasing "
    "fold, every placement decision hash-attested against a "
    "recursive-CTE replay (operators/binpack.ffd_pack; 11/9·OPT+6/9 "
    "guarantee)",
)
def q_ffd_pack_assign(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return BP.ffd_pack(docs)


@register(
    "q_ffd_pack_stats",
    f"""
    WITH RECURSIVE {_CTES}
    , bins AS (
      SELECT shard, bin_no,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(tok) AS BIGINT) AS fill
      FROM bp_assign GROUP BY shard, bin_no
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bins) AS n_bins,
      (SELECT CAST(SUM(fill) AS BIGINT) FROM bins) AS total_tokens,
      (SELECT CAST(SUM({BP.DEFAULT_BIN_CAP} - fill) AS BIGINT)
         FROM bins) AS total_slack,
      (SELECT CAST(MAX(n_docs) AS BIGINT) FROM bins) AS max_docs_per_bin,
      (SELECT CAST(CEIL(SUM(fill) * 1.0 / {BP.DEFAULT_BIN_CAP}) AS BIGINT)
         FROM bins) AS lower_bound_bins
    """,
    doc="packing-quality audit: bins used vs the ceil(total/cap) lower "
    "bound, total slack, densest bin — the fill-efficiency numbers "
    "that decide FFD layout vs concat-and-chunk for a training run",
)
def q_ffd_pack_stats(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    bins = (
        BP.ffd_pack(docs)
        .groupBy("shard", "bin_no")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("fill"),
        )
    )

    return (
        bins.agg(F.count(F.lit(1)).cast("long").alias("n_bins"))
        .crossJoin(
            bins.agg(F.sum("fill").cast("long").alias("total_tokens"))
        )
        .crossJoin(
            bins.agg(
                F.sum(F.lit(BP.DEFAULT_BIN_CAP) - F.col("fill"))
                .cast("long")
                .alias("total_slack")
            )
        )
        .crossJoin(
            bins.agg(F.max("n_docs").cast("long").alias("max_docs_per_bin"))
        )
        .crossJoin(
            bins.agg(
                F.ceil(F.sum("fill") * 1.0 / BP.DEFAULT_BIN_CAP)
                .cast("long")
                .alias("lower_bound_bins")
            )
        )
    )
