"""Pack ↔ epoch-shuffle composition E2E.

`q_pack_doc_spans` and the epoch-shuffle family are attested
separately; this query runs the COMPOSITION a multi-epoch dataloader
actually executes — the same corpus packed under two epoch salts — and
audits, in one oracle-checked row, both halves of the contract:

- PACK INTEGRITY per epoch: every tokenizable doc placed exactly once
  (`n_docs` equals both epochs' span counts and their join), token
  totals identical across epochs (a permutation moves tokens, never
  creates or drops them), and each shard's stream CONTIGUOUS —
  max(off + tok) == sum(tok) per shard, so the defect columns are 0
  (a gap or overlap in any shard's prefix sum would surface here);
- EPOCH DECORRELATION: same-shard survival ≈ n/n_shards, near-zero
  global-offset fixed points, and total absolute displacement of the
  global token offset — evidence the salt bump is a reshuffle of the
  packed stream, not a perturbation.

Reference posture: the run-order determinism the reference pipeline
gets from its fixed species sequencing
(GoNonratAnnotationPipeline.java:107-125) — here the order is salted
per epoch but every epoch is individually deterministic and auditable.

Scale shape: two pack runs (each ONE hash-partitioned window exchange
by shard), global offsets from an n_shards-row prefix sum, one
doc-keyed join, one final agg. No global sort, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import packing as P
from ..sources.testdata import load_table
from .registry import register

_L = P.DEFAULT_SEQ_LEN
_SHARDS = P.DEFAULT_SHARDS

_E0 = P.sql_spans_ctes(
    "documents", _L, _SHARDS, "epoch0", names=("ee0_base", "ee0_s", "ee0_sp")
)
_E1 = P.sql_spans_ctes(
    "documents", _L, _SHARDS, "epoch1", names=("ee1_base", "ee1_s", "ee1_sp")
)


def _goff_cte(tag: str) -> str:
    """Global token offset for one epoch: shard offsets from an
    n_shards-row prefix sum over per-shard totals."""
    return f"""
    {tag}_off AS (
      SELECT shard, COALESCE(SUM(st) OVER (ORDER BY shard
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS soff
      FROM (SELECT shard, SUM(tok) AS st FROM {tag}_sp GROUP BY shard)
    ), {tag}_g AS (
      SELECT s.doc_id, s.shard, o.soff + s.off AS goff, s.tok
      FROM {tag}_sp s JOIN {tag}_off o USING (shard)
    ), {tag}_contig AS (
      SELECT CAST(SUM(defect) AS BIGINT) AS defect
      FROM (SELECT MAX(off + tok) - SUM(tok) AS defect
            FROM {tag}_sp GROUP BY shard)
    )"""


@register(
    "corpus_epoch_e2e",
    "    WITH "
    + _E0
    + ",\n"
    + _E1
    + ","
    + _goff_cte("ee0")
    + ","
    + _goff_cte("ee1")
    + """
    SELECT CAST((SELECT COUNT(*) FROM ee0_g) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(*) FROM ee1_g) AS BIGINT) AS n_docs_e1,
           CAST((SELECT SUM(tok) FROM ee0_g) AS BIGINT) AS tok_total_e0,
           CAST((SELECT SUM(tok) FROM ee1_g) AS BIGINT) AS tok_total_e1,
           (SELECT defect FROM ee0_contig) AS contig_defect_e0,
           (SELECT defect FROM ee1_contig) AS contig_defect_e1,
           CAST(COUNT(*) AS BIGINT) AS n_joined,
           CAST(SUM(CASE WHEN a.shard = b.shard THEN 1 ELSE 0 END)
                AS BIGINT) AS n_same_shard,
           CAST(SUM(CASE WHEN a.goff = b.goff THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fixed_goff,
           CAST(SUM(ABS(a.goff - b.goff)) AS BIGINT) AS sum_abs_goff_disp
    FROM ee0_g a JOIN ee1_g b USING (doc_id)
    """,
    doc="two-epoch pack layout E2E: pack the corpus under epoch0 and "
    "epoch1 salts, prove per-epoch pack integrity (every tokenizable "
    "doc exactly once, identical token totals, zero per-shard "
    "contiguity defect) AND cross-epoch decorrelation (same-shard "
    "survival ~1/n_shards, near-zero fixed global offsets, large "
    "total displacement) in one oracle-checked row",
)
def corpus_epoch_e2e(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")

    def goff(salt):
        s = P.pack_doc_spans(docs, _L, _SHARDS, salt=salt).select(
            "doc_id", "shard", "off", "tok"
        )
        counts = s.groupBy("shard").agg(F.sum("tok").alias("_st"))
        offs = counts.select(
            "shard",
            F.coalesce(
                F.sum("_st").over(
                    # n_shards rows: constant-partition convention
                    Window.partitionBy(F.col("shard") % 1)
                    .orderBy("shard")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("_soff"),
        )
        g = s.join(F.broadcast(offs), "shard").select(
            "doc_id",
            "shard",
            (F.col("_soff") + F.col("off")).cast("long").alias("goff"),
            "tok",
        )
        contig = (
            s.groupBy("shard")
            .agg(
                (F.max(F.col("off") + F.col("tok")) - F.sum("tok")).alias(
                    "_d"
                )
            )
            .agg(F.sum("_d").cast("long").alias("defect"))
        )
        return g, contig

    g0, c0 = goff("epoch0")
    g1, c1 = goff("epoch1")
    s0 = g0.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("tok_total_e0"),
    )
    s1 = g1.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_e1"),
        F.sum("tok").cast("long").alias("tok_total_e1"),
    )
    joined = (
        g0.join(
            g1.select(
                "doc_id",
                F.col("shard").alias("_sh1"),
                F.col("goff").alias("_go1"),
            ),
            "doc_id",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_joined"),
            F.sum(
                F.when(F.col("shard") == F.col("_sh1"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_same_shard"),
            F.sum(F.when(F.col("goff") == F.col("_go1"), 1).otherwise(0))
            .cast("long")
            .alias("n_fixed_goff"),
            F.sum(F.abs(F.col("goff") - F.col("_go1")))
            .cast("long")
            .alias("sum_abs_goff_disp"),
        )
    )
    return (
        s0.crossJoin(s1)
        .crossJoin(c0.select(F.col("defect").alias("contig_defect_e0")))
        .crossJoin(c1.select(F.col("defect").alias("contig_defect_e1")))
        .crossJoin(joined)
        .select(
            "n_docs",
            "n_docs_e1",
            "tok_total_e0",
            "tok_total_e1",
            "contig_defect_e0",
            "contig_defect_e1",
            "n_joined",
            "n_same_shard",
            "n_fixed_goff",
            "sum_abs_goff_disp",
        )
    )
