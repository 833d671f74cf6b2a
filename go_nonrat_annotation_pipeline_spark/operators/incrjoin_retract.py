"""Incremental JOIN view maintenance with DELETES (signed deltas).

Extends operators/incrjoin.py from insert-only CDC to full insert/delete feeds using the
Z-relation (signed multiset) algebra of the classical IVM literature
(Gupta & Mumick 1995; DBToaster, Koch et al. 2014): every row carries a
sign (+1 insert, −1 retraction) and joins multiply signs, so with
L₁ = L₀ + ΔL and R₁ = R₀ + ΔR (signed addition):

    Δ(L ⋈ R) = ΔL ⋈ R₀ + L₀ ⋈ ΔR + ΔL ⋈ ΔR

holds EXACTLY with no order or matching constraints — a delete that
arrives before its insert nets to zero on its own; the telescoped sum
over any batching equals L_total ⋈ R_total. The materialized answer is
the NET fold: group by the row, sum signs, keep net > 0 (rows with
multiplicity m emerge m times).

Scale posture: the signed stores are append-only (a delete is one more
row, never an in-place update — the only write pattern object stores
do well at 100 TB); the three delta terms are batch-sized probes of
the bases, and the net fold shuffles only when the view is actually
READ, amortized across any number of maintenance batches. Net-zero
tombstone pairs accumulate until a compaction folds them — the same
discipline as any log-structured store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SIGN = "sign"


def signed_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Join two signed relations; output sign = product of signs."""
    l2 = left.withColumnRenamed(SIGN, "_sl")
    r2 = right.withColumnRenamed(SIGN, "_sr")
    return (
        l2.join(r2, on)
        .withColumn(SIGN, (F.col("_sl") * F.col("_sr")).cast("long"))
        .drop("_sl", "_sr")
    )


def delta_join_retract(
    base_l: DataFrame,
    delta_l: DataFrame,
    base_r: DataFrame,
    delta_r: DataFrame,
    on: str | list[str],
) -> DataFrame:
    """Δ(L ⋈ R) for SIGNED deltas against SIGNED bases — the same
    three-term expansion as the insert-only rule, with sign products.
    Bases are probed, never re-joined against each other."""
    return (
        signed_join(delta_l, base_r, on)
        .unionByName(signed_join(base_l, delta_r, on))
        .unionByName(signed_join(delta_l, delta_r, on))
    )


def net_rows(signed: DataFrame) -> DataFrame:
    """Fold a signed relation to its materialized rows: net multiplicity
    per distinct row, rows with net m > 0 emitted m times. This is the
    READ-side fold — maintenance never runs it."""
    cols = [c for c in signed.columns if c != SIGN]
    return (
        signed.groupBy(*cols)
        .agg(F.sum(SIGN).cast("long").alias("_net"))
        .where(F.col("_net") > 0)
        .withColumn("_i", F.explode(F.expr("sequence(1, _net)")))
        .drop("_net", "_i")
    )


def with_sign(df: DataFrame, op_col: str = "op") -> DataFrame:
    """Map a CDC op column ('I' insert / 'D' delete) to the sign."""
    return df.withColumn(
        SIGN,
        F.when(F.col(op_col) == "D", F.lit(-1))
        .otherwise(F.lit(1))
        .cast("long"),
    ).drop(op_col)
