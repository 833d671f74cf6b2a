"""Streaming SCD2 dimension-maintenance query (streaming/scd_stream.py).

The maintained ≡ recompute contract, proved by the oracle: the stream
is the events log split into three time-ordered micro-batches (pinned
by file mtime, maxFilesPerTrigger=1), the incremental dimension is
folded batch-by-batch, and the DuckDB oracle is the SAME batch-rebuild
SQL q_scd2_history uses over the whole log — a hash match means the
incremental fold is exactly equivalent to recomputing from scratch.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import scd as SCD
from ..sources.testdata import load_table
from ..streaming.scd_stream import scd2_dimension_stream
from .registry import register
from .staging import stage_batch

_N_BATCHES = 3


def _stage_time_ordered(spark, events, root: str) -> str:
    """Write the events log as three time-ordered parquet files with
    ascending mtimes (FileStreamSource processes in (mtime, path)
    order), split at global (ts, event_id) rank terciles — staging
    only, the operator under test never sees a global sort."""
    staged = os.path.join(root, "events")
    n = events.count()
    ranked = events.withColumn(
        "_rn",
        F.row_number().over(Window.orderBy("ts", "event_id")),
    ).withColumn("_b", ((F.col("_rn") - 1) * _N_BATCHES / n).cast("int"))
    for i in range(_N_BATCHES):
        batch = ranked.where(F.col("_b") == i).select(
            "event_id", "user_id", "ts", "event_type"
        )
        stage_batch(batch, staged, i)
    return staged


@register(
    "stream_scd2_dimension",
    "    WITH " + SCD.sql_scd2_history_ctes() + """
    SELECT user_id, attr, valid_from_us, valid_to_us, version,
           CAST(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END
                AS BIGINT) AS is_current
    FROM scd
    """,
    doc="streaming SCD2: the events log replayed as three time-ordered "
    "micro-batches folds into the SAME versioned dimension a batch "
    "rebuild computes (oracle = the batch SQL) — open intervals "
    "extend/close per batch, closed history append-only, "
    "O(|batch|+|keys|) per trigger (streaming/scd_stream."
    "scd2_dimension_stream)",
)
def stream_scd2_dimension(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="stream_scd2_")
    try:
        staged = _stage_time_ordered(spark, events, root)
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, ts timestamp, "
                "event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        # scd2_dimension_stream drains the stream eagerly and returns a
        # DataFrame rooted at localCheckpointed state, so the staging
        # dir is dead weight the moment it returns — reclaim it instead
        # of leaking a tempdir per bench/correctness run (ADVICE r6)
        return scd2_dimension_stream(stream)
    finally:
        shutil.rmtree(root, ignore_errors=True)
