"""``plans/staging.stage_batch``: one mtime-pinned parquet file per
micro-batch, including the empty batch that test-size data never
produces — it must still be a file, and still a micro-batch."""

from __future__ import annotations

import os

from go_nonrat_annotation_pipeline_spark.plans.staging import stage_batch


def test_empty_middle_batch_is_staged_and_streamed(spark, tmp_path):
    df = spark.range(30).selectExpr("id", "id % 3 AS b")
    staged = str(tmp_path / "staged")
    batches = [df.where("b = 0"), df.where("b < 0"), df.where("b = 2")]
    # staged last-first: only the mtime pin can put them back in order
    for i in (2, 1, 0):
        stage_batch(batches[i], staged, i)

    names = ["b0.parquet", "b1.parquet", "b2.parquet"]
    assert sorted(os.listdir(staged)) == names
    assert os.listdir(tmp_path) == ["staged"]  # temporary writes removed
    mtimes = [os.stat(os.path.join(staged, n)).st_mtime for n in names]
    assert mtimes == [1_600_000_000, 1_600_000_001, 1_600_000_002]
    assert spark.read.parquet(os.path.join(staged, "b1.parquet")).count() == 0

    seen = []
    q = (
        spark.readStream.schema("id long, b long")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda bdf, bid: seen.append((bid, bdf.count())))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen == [(0, 10), (1, 0), (2, 10)]
