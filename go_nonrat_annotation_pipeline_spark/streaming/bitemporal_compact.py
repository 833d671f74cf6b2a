"""Policy-compacted durable bitemporal store (VERDICT r10 Next #6).

``streaming/bitemporal_stream.py``
appends every assertion forever, so like the pre-compaction IVM store
it grows with CORRECTION HISTORY, not with the live key set: N rounds
of churn to the same keys = N partitions, and every view read resolves
all of them. This module composes the ivm_policy pattern from the
outside: the
resolve + run-collapse of ``operators/bitemporal.bitemporal_history``
IS the fold.

THE FOLD. Per (key, valid_us), keep only the winning assertion (latest
(recorded_us, _tie) — exactly the view's resolve step) and carry the
number of absorbed corrections in a new ``n_absorbed`` column, so the
view's ``n_superseded`` audit stays EXACT across any number of folds:
at any (key, valid_us), post-fold rows = 1 winner (carrying m-1) + p
new assertions, and (p + 1 - 1) + (m - 1) = total - 1 = the
uncompacted count. Net-negative rows can't exist here (assertions are
facts, not signed deltas), so unlike the Z-store fold nothing is kept
at negative multiplicity.

THE RETENTION BOUNDARY. Dropping superseded assertions erases beliefs
BELOW the fold's knowledge horizon (max recorded_us absorbed): an
as-of read at cutoff T < horizon could no longer see a loser that was
the winner at T. The fold therefore records the horizon in a
``_kt_horizon`` marker (atomic with the folded rows — written into the
tmp copy before the swap, monotone across folds), and
``bitemporal_view_compacted`` REFUSES as-of reads below it with a
clear error instead of silently returning rewritten history. This is
the transaction-time retention window every production bitemporal
store declares (SQL:2011 system-versioned retention; BigQuery/Delta
time-travel horizons).

REPLAY SAFETY (inherited argument, tests pin it): foreachBatch(N) only
fires after batch N-1 committed, so after sweeping a dirty ``=N``
leftover, every partition in the store is un-replayable and the whole
store may fold; batch N itself has written nothing yet. Crash mid-fold
is covered by the rename-only swap (ivm_compact._recover — reused, the
protocol is store-agnostic); crash after the fold replays N, which
appends its partition on top of the seed exactly as on the live store.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

from ..operators.bitemporal import bitemporal_history
from .bitemporal_stream import ASSERT_SCHEMA, make_bitemporal_handler
from .ivm_compact import _recover

HORIZON_MARKER = "_kt_horizon"


def knowledge_horizon(store_dir: str) -> int | None:
    """Max recorded_us ever folded (None = store never compacted);
    as-of reads strictly below this cutoff are unreconstructible."""
    mf = os.path.join(store_dir, HORIZON_MARKER)
    if not os.path.isfile(mf):
        return None
    with open(mf) as fh:
        return int(fh.read().strip())


def read_assertions_carry(spark: SparkSession, store_dir: str) -> DataFrame:
    """All assertions with the fold-carry column (``n_absorbed`` = 0 on
    live partitions, which the append handler writes without it)."""
    base = spark.createDataFrame([], ASSERT_SCHEMA)
    schema = StructType(
        list(base.schema.fields)
        + [StructField("n_absorbed", LongType()),
           StructField("admit_batch", LongType())]
    )
    return (
        spark.read.schema(schema)
        .option("basePath", store_dir)
        .parquet(store_dir)
        .drop("admit_batch")
        .withColumn(
            "n_absorbed", F.coalesce(F.col("n_absorbed"), F.lit(0))
        )
    )


def superseded_fraction(spark: SparkSession, store_dir: str) -> float:
    """Share of store rows a fold would remove: 1 − winners/raw where a
    winner is one row per (key, valid_us). One agg over the store (the
    same shuffle a view read's resolve already pays)."""
    a = read_assertions_carry(spark, store_dir)
    raw = a.count()
    if raw == 0:
        return 0.0
    kept = a.select("user_id", "valid_us").distinct().count()
    return 1.0 - kept / raw


def fold_bitemporal_store(
    spark: SparkSession, store_dir: str
) -> tuple[int, int]:
    """Fold every partition into one ``admit_batch=-1`` seed holding
    the per-(key, valid_us) winner with its absorbed-correction count;
    returns (rows_before, rows_after). Epochal contract if called
    offline: stream stopped, checkpoint fully committed — or call at a
    batch boundary via the policy handler (module doc)."""
    _recover(store_dir)
    a = read_assertions_carry(spark, store_dir)
    n_before = a.count()
    if n_before == 0:
        return 0, 0
    wr = Window.partitionBy("user_id", "valid_us").orderBy(
        F.desc("recorded_us"), F.desc("_tie")
    )
    wall = wr.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    folded = (
        a.withColumn("_rn", F.row_number().over(wr))
        .withColumn(
            "n_absorbed",
            (
                F.count(F.lit(1)).over(wall)
                - 1
                + F.sum("n_absorbed").over(wall)
            ).cast("long"),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint()
    )
    n_after = folded.count()
    horizon_row = folded.agg(F.max("recorded_us")).collect()[0][0]
    prior = knowledge_horizon(store_dir)
    horizon = max(
        [int(horizon_row)] + ([prior] if prior is not None else [])
    )
    tmp = store_dir + ".compact_tmp"
    old = store_dir + ".compact_old"
    shutil.rmtree(tmp, ignore_errors=True)
    folded.write.mode("overwrite").parquet(
        os.path.join(tmp, "admit_batch=-1")
    )
    with open(os.path.join(tmp, HORIZON_MARKER), "w") as fh:
        fh.write(str(horizon))
    os.rename(store_dir, old)
    os.rename(tmp, store_dir)
    shutil.rmtree(old)
    return n_before, n_after


def bitemporal_view_compacted(
    spark: SparkSession, store_dir: str, as_of_us: int | None = None
) -> DataFrame:
    """The believed validity history off a (possibly folded) store —
    byte-identical to the uncompacted view for every reconstructible
    cutoff, including the ``n_superseded`` audit column.

    Resolve + run-collapse are delegated to the batch operator; the
    only fold-aware step is adding each interval-start's carried
    absorbed count back onto ``n_superseded`` (a seed-partition-sized
    broadcast join — n_absorbed > 0 exists only on seed rows)."""
    _recover(store_dir)
    horizon = knowledge_horizon(store_dir)
    if as_of_us is not None and horizon is not None and as_of_us < horizon:
        raise ValueError(
            f"as_of_us={as_of_us} is below this store's knowledge "
            f"horizon {horizon}: assertions superseded before the fold "
            "were compacted away and that belief is no longer "
            "reconstructible (transaction-time retention boundary)"
        )
    a = read_assertions_carry(spark, store_dir)
    hist = bitemporal_history(
        a.drop("n_absorbed"), as_of_us=as_of_us
    )
    carry = (
        a.where(F.col("n_absorbed") > 0)
        .groupBy(
            F.col("user_id"), F.col("valid_us").alias("valid_from_us")
        )
        .agg(F.sum("n_absorbed").alias("_carry"))
    )
    return (
        hist.join(
            F.broadcast(carry), ["user_id", "valid_from_us"], "left"
        )
        .withColumn(
            "n_superseded",
            (
                F.col("n_superseded") + F.coalesce(F.col("_carry"), F.lit(0))
            ).cast("long"),
        )
        .select(*hist.columns)  # the join put its keys first; restore
    )


def make_compacting_bitemporal_handler(
    spark: SparkSession,
    store_dir: str,
    threshold: float = 0.5,
    check_every: int = 8,
    audit: list | None = None,
):
    """The append handler wrapped with the ivm_policy batch-
    boundary compaction policy; ``audit`` collects
    (batch_id, rows_before, rows_after)."""
    inner = make_bitemporal_handler(spark, store_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # heal an interrupted swap on EVERY batch before touching the
        # store (the ADVICE r10 lesson, inherited verbatim)
        _recover(store_dir)
        if (
            batch_id > 0
            and batch_id % check_every == 0
            and os.path.isdir(store_dir)
        ):
            # sweep a dirty =batch_id leftover BEFORE measuring: only
            # committed partitions may enter the fold
            shutil.rmtree(
                os.path.join(store_dir, f"admit_batch={batch_id}"),
                ignore_errors=True,
            )
            if superseded_fraction(spark, store_dir) > threshold:
                b, a = fold_bitemporal_store(spark, store_dir)
                if audit is not None:
                    audit.append((batch_id, b, a))
        inner(batch_df, batch_id)

    return handle
