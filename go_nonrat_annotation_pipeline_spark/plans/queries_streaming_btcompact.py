"""Policy-compacted streaming bitemporal store.

The compaction twin of ``stream_bitemporal_history``: the SAME
synthesized assertion log drains through the policy-compacting handler
(streaming/bitemporal_compact.py) with the policy tuned to fold
BETWEEN the micro-batches, so the store is folded mid-stream — and the
committed view must STILL hash-equal the batch reconstruction over the
whole log, superseded-correction audit included. The oracle is
therefore byte-identical to the uncompacted twin's: compaction is
invisible to every reconstructible read, which is the entire
correctness claim of the fold (winner + carried absorb-count per
(key, valid) slot).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from ..operators import bitemporal as BT
from ..streaming.bitemporal_compact import (
    bitemporal_view_compacted,
    make_compacting_bitemporal_handler,
)
from ..streaming.bitemporal_stream import ASSERT_SCHEMA
from .registry import register
from .staging import stage_batch
from .queries_bitemporal import _SRC, _asserts


@register(
    "stream_bitemporal_compacted",
    "    WITH "
    + _SRC
    + ","
    + BT.sql_bitemporal_ctes("btq_src", "user_id", None, "btq")
    + """
    SELECT user_id, val, valid_from_us, valid_to_us, version,
           n_superseded
    FROM btq_hist
    """,
    doc="policy-compacted streaming bitemporal store: the store folds "
    "between micro-batches (per-(key,valid) winner + carried absorbed "
    "count, rename-only swap), yet the committed view — n_superseded "
    "audit included — hash-equals the uncompacted batch "
    "reconstruction; the store is bounded by the live slot domain "
    "instead of correction history",
)
def stream_bitemporal_compacted(spark, sf_dir):
    asserts = _asserts(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="stream_btcompact_")
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
        # threshold 0 + check_every 1: fold at EVERY batch boundary —
        # the adversarial setting for the invisibility claim
        handler = make_compacting_bitemporal_handler(
            spark, store, threshold=0.0, check_every=1
        )
        q = (
            stream.writeStream.outputMode("append")
            .option(
                "checkpointLocation", os.path.join(root, "ckpt")
            )
            .foreachBatch(handler)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return bitemporal_view_compacted(spark, store).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
