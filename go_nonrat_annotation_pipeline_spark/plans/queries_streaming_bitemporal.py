"""Streaming bitemporal store query.

The stream twin of q_bitemporal_history: the synthesized assertion
log (backdated corrections included) arrives in three micro-batches
split by event_id, lands in the durable append-only store, and the
drained view must hash-equal the batch reconstruction over the whole
log — the view depends only on the assertion SET, so batching and
arrival order are invisible (streaming/bitemporal_stream.py doc)."""

from __future__ import annotations

import os
import shutil
import tempfile

from ..streaming.bitemporal_stream import (
    ASSERT_SCHEMA,
    assertions_stream_to_store,
    bitemporal_view,
)
from ..operators import bitemporal as BT
from .registry import register
from .staging import stage_batch
from .queries_bitemporal import _SRC, _asserts


@register(
    "stream_bitemporal_history",
    "    WITH "
    + _SRC
    + ","
    + BT.sql_bitemporal_ctes("btq_src", "user_id", None, "btq")
    + """
    SELECT user_id, val, valid_from_us, valid_to_us, version,
           n_superseded
    FROM btq_hist
    """,
    doc="streaming bitemporal store: assertions (with late "
    "corrections) drain through a durable append-only admit_batch "
    "store; the read-side latest-recording-wins resolve makes the "
    "view batching-, order-, and even duplicate-insensitive, so the "
    "drained history hash-equals the batch reconstruction",
)
def stream_bitemporal_history(spark, sf_dir):
    asserts = _asserts(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="stream_bitemporal_")
    try:
        staged = os.path.join(root, "a")
        for i in range(3):
            stage_batch(asserts.where(f"_tie % 3 = {i}"), staged, i)
        stream = (
            spark.readStream.schema(ASSERT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        store = os.path.join(root, "store")
        assertions_stream_to_store(
            stream, store, os.path.join(root, "ckpt")
        )
        # pin the view before the temp store is removed (executor-side
        # blocks, not a driver collect — the family pattern)
        return bitemporal_view(spark, store).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
