"""Stage micro-batch files for the FileStreamSource-driven plans.

FileStreamSource hands out unseen files in (mtime, path) order, so with
``maxFilesPerTrigger=1`` the mtime decides which file becomes which
micro-batch. Each batch is therefore written as ONE parquet file
``b{i}.parquet`` whose mtime is pinned to ``1_600_000_000 + i``: batch
``i`` is the ``i``-th micro-batch however long the writes took. An empty
batch still leaves one zero-row file, so it still costs one (empty)
micro-batch.

This module registers nothing.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame

_BASE_MTIME = 1_600_000_000


def stage_batch(df: DataFrame, staged_dir: str, i: int) -> None:
    """Write ``df`` as ``staged_dir/b{i}.parquet`` with its mtime pinned
    to ``1_600_000_000 + i``."""
    os.makedirs(staged_dir, exist_ok=True)
    # the temporary write sits NEXT TO the staged directory: a stream
    # may already be reading it
    tmp = tempfile.mkdtemp(dir=os.path.dirname(os.path.abspath(staged_dir)))
    try:
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            p
            for p in os.listdir(tmp)
            if p.startswith("part-") and p.endswith(".parquet")
        )
        dst = os.path.join(staged_dir, f"b{i}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    os.utime(dst, (_BASE_MTIME + i, _BASE_MTIME + i))
