"""Generator tests: determinism, seed independence of planted counts, and
the planted counters against a real ``run_pipeline`` at a tiny size.

    python -m pytest annotbench/tests -q
"""

from __future__ import annotations

import os
from datetime import datetime

import pyarrow.parquet as pq

import gen
from workloads import DIM_SCHEMAS
from go_nonrat_annotation_pipeline_spark import schemas as S
from go_nonrat_annotation_pipeline_spark.pipeline.config import (
    CHINCHILLA,
    HUMAN,
    MOUSE,
    PipelineConfig,
)
from go_nonrat_annotation_pipeline_spark.pipeline.qc import Dims
from go_nonrat_annotation_pipeline_spark.pipeline.run import SpeciesJob, run_pipeline
from go_nonrat_annotation_pipeline_spark.pipeline.sink import AnnotStore

TINY = gen.Scale(mouse_lines=300, human_lines=300, genes=200, manual=40)
RUN1, RUN2 = datetime(2026, 6, 1, 12), datetime(2026, 6, 2, 12)


def _bytes(paths: list[str]) -> bytes:
    out = b""
    for p in paths:
        with open(p, "rb") as fh:
            out += fh.read()
    return out


def _written(inputs: gen.Inputs, root: str, parts: int) -> bytes:
    out = b""
    for name in ("mouse", "human", "mouse_next"):
        out += _bytes(gen.write_gaf(getattr(inputs, name), os.path.join(root, name), parts))
    for name, path in sorted(gen.write_dims(inputs, os.path.join(root, "dims")).items()):
        out += repr(pq.read_table(path).to_pylist()).encode()
    return out + repr(inputs.manual).encode()


def test_same_seed_same_bytes_at_any_part_count(tmp_path):
    one = _written(gen.generate(7, TINY), str(tmp_path / "a"), parts=1)
    three = _written(gen.generate(7, TINY), str(tmp_path / "b"), parts=3)
    assert one == three


def test_other_seed_other_inputs_same_planted_counts(tmp_path):
    a, b = gen.generate(7, TINY), gen.generate(8, TINY)
    assert gen.render(a.mouse) != gen.render(b.mouse)
    assert gen.render(a.human) != gen.render(b.human)
    for plan in ("mouse", "human", "mouse_next"):
        assert gen.expected(getattr(a, plan)) == gen.expected(getattr(b, plan))
    assert gen.expected_changes(a) == gen.expected_changes(b)
    assert gen.expected_readback(a.manual) == gen.expected_readback(b.manual)


def test_every_kind_is_planted():
    inputs = gen.generate(7, TINY)
    kinds = {ln.kind for ln in inputs.mouse.lines} | {ln.kind for ln in inputs.human.lines}
    assert kinds == set(gen.KIND_SHARE) | {"plain"}
    assert all(inputs.changes[k] for k in ("date", "extension", "dropped", "new"))


def _load(spark, inputs, root, rows):
    """Dims of ``inputs`` and a store seeded with ``rows``."""
    paths = gen.write_dims(inputs, os.path.join(root, "dims"))
    dims = Dims(**{n: spark.read.schema(s).parquet(paths[n]) for n, s in DIM_SCHEMAS.items()})
    cols = [f.name for f in S.FULL_ANNOT_SCHEMA.fields]
    store = AnnotStore(spark, os.path.join(root, "store"))
    store.seed(spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows], S.FULL_ANNOT_SCHEMA
    ))
    return dims, store


def _gaf(inputs, root, name):
    return gen.write_gaf(getattr(inputs, name), os.path.join(root, name), 2)


def test_initial_run_reports_the_planted_counts(spark, tmp_path):
    """The reference's three species jobs, chinchilla read-back last, into
    a store holding only the curated chinchilla rows."""
    inputs, root, cfg = gen.generate(3, TINY), str(tmp_path), PipelineConfig()
    dims, store = _load(spark, inputs, root, inputs.manual)
    jobs = [
        SpeciesJob(MOUSE, cfg.mgi_ref_rgd_id, cfg.mouse_sources, _gaf(inputs, root, "mouse")),
        SpeciesJob(HUMAN, cfg.goa_all_species_ref_rgd_id, cfg.all_species_sources,
                   _gaf(inputs, root, "human")),
        SpeciesJob(CHINCHILLA, 0, None, None),
    ]
    report = run_pipeline(spark, cfg, dims, store, jobs, run_ts=RUN1)
    want = [gen.expected(inputs.mouse), gen.expected(inputs.human),
            gen.expected_readback(inputs.manual)]
    for rep, exp in zip(report.species, want):
        assert rep.counters == exp["counters"]
        assert (rep.upsert.inserted, rep.upsert.updated, rep.upsert.touched) == (
            exp["direct"] + exp["iso"], 0, 0)
        assert rep.stale_deleted == 0
    assert report.counts_after["iso"] == sum(e["iso"] for e in want)


def test_later_release_against_generated_store(spark, tmp_path):
    """``store_rows`` is what loading the plain lines leaves: against it,
    the later release touches, updates, deletes and inserts exactly the
    planted rows."""
    inputs, root, cfg = gen.generate(4, TINY), str(tmp_path), PipelineConfig()
    dims, store = _load(spark, inputs, root, inputs.manual + gen.store_rows(inputs, cfg, RUN1))
    job = SpeciesJob(MOUSE, cfg.mgi_ref_rgd_id, cfg.mouse_sources, _gaf(inputs, root, "mouse_next"))
    report = run_pipeline(spark, cfg, dims, store, [job], run_ts=RUN2)
    want, rep = gen.expected_changes(inputs), report.species[0]
    assert rep.counters == gen.expected(inputs.mouse_next)["counters"]
    assert (rep.upsert.inserted, rep.upsert.updated, rep.upsert.touched) == (
        want["inserted"], want["updated"], want["touched"])
    assert (rep.stale_deleted, report.iso_stale_deleted) == (
        want["stale_deleted"], want["iso_stale_deleted"])
    key = f"ref{cfg.mgi_ref_rgd_id}|sp{MOUSE}"
    assert (report.counts_before[key], report.counts_before["iso"]) == want["before"]
    assert (report.counts_after[key], report.counts_after["iso"]) == want["after"]
