"""The benchmark's workloads: set-up, timed units, output checks, metrics.

A timed unit is one species job through the layers' public functions in
``process_species`` order, without its counter loop: the before counts,
``read_gaf`` → ``filter_sources`` → ``derive_annotations`` →
``consolidate_with_info`` → ``merge_duplicates`` →
``AnnotStore.merge_upsert``, the threshold-guarded ``delete_stale`` for
the species and the rat-ISO refs, and the after counts.

``pipeline_initial``
    The store holds only curated chinchilla annotations. A unit runs
    ``split_by_species`` over the mouse and human GAFs, then loads the
    mouse GAF: every merge inserts, and the GAF scan, the QC joins and
    the consolidation shuffles do the data-proportional work.

``pipeline_incremental``
    The store also holds the rows a load of the first mouse release left
    (written by the generator, see ``gen.store_rows``). A unit loads the
    later release, whose changed, dropped and new lines become updates,
    stale deletes and inserts: the sink's classification join, its
    full-table rewrites and the stale-delete path dominate.

Each run times one unit from a cold JVM and runs more only while they
fit in ``--seconds``; ``run_s`` is the median. The pipeline is a batch
job that starts its own session, so every run of it pays the JVM's
warm-up too; and a run's share of the benchmark's time (about 70 s)
holds one cold unit, not a cold one and a warm one. A traced run adds
the stage-isolated pass and, on ``pipeline_initial``, one
``run_pipeline`` call on the same inputs, which checks every
``RunReport`` counter and measures the ``run.py`` layer.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import subprocess
import time
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import SparkContext

import gen
import spans as tr
from bench import _calibration, _loadavg
from go_nonrat_annotation_pipeline_spark import schemas as S
from go_nonrat_annotation_pipeline_spark.pipeline import gaf as gaf_mod
from go_nonrat_annotation_pipeline_spark.pipeline import qc as qc_mod
from go_nonrat_annotation_pipeline_spark.pipeline import run as run_mod
from go_nonrat_annotation_pipeline_spark.pipeline.config import MOUSE, RAT, PipelineConfig
from go_nonrat_annotation_pipeline_spark.pipeline.qc import Dims
from go_nonrat_annotation_pipeline_spark.pipeline.sink import AnnotStore
from go_nonrat_annotation_pipeline_spark.session import get_spark

SCALE = gen.Scale()
PARTS = 4  # GAF part files per species
SETUP_REPEATS = 3
RUN1_TS = datetime(2026, 6, 1, 12, 0, 0)
RUN2_TS = datetime(2026, 6, 2, 12, 0, 0)
DIM_SCHEMAS = {
    "species": S.SPECIES_SCHEMA, "genes": S.GENES_SCHEMA, "rgd_ids": S.RGD_IDS_SCHEMA,
    "rgd_acc_xdb": S.RGD_ACC_XDB_SCHEMA, "ortholog_edges": S.ORTHOLOG_EDGES_SCHEMA,
    "ont_terms": S.ONT_TERMS_SCHEMA, "ont_synonyms": S.ONT_SYNONYMS_SCHEMA,
    "ont_dag": S.ONT_DAG_SCHEMA, "rgd_id_history": S.RGD_ID_HISTORY_SCHEMA,
}
ARROW_TYPES = {
    "LongType()": pa.int64(), "IntegerType()": pa.int32(), "StringType()": pa.string(),
    "TimestampType()": pa.timestamp("us", tz="UTC"), "DateType()": pa.date32(),
}
# (owner, attribute, span name) wrapped in traced runs
TRACED = (
    (run_mod, "run_pipeline", "run"),
    (run_mod, "process_species", "run.species"),
    (run_mod, "chinchilla_readback", "run.readback"),
    (run_mod, "derive_annotations", "qc.build"),
    (qc_mod, "transitive_descendants", "closure"),
    (qc_mod, "resolve_history", "closure"),
    (gaf_mod, "split_by_species", "gaf.split"),
    (AnnotStore, "merge_upsert", "sink.merge"),
    (AnnotStore, "delete_stale", "sink.delete"),
    (AnnotStore, "count_for_ref", "sink.count"),
)


def _eq(misses: list[str], what: str, got, want) -> None:
    if got != want:
        misses.append(f"{what}: got {got!r}, want {want!r}")


class Bench:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.initial = args.workload == "pipeline_initial"
        self.cfg = PipelineConfig()
        self.info: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    # ------------------------------------------------------------ set-up
    def _session(self):
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            # the inputs are a few MB; with the 8 GB default, resident memory
            # grew to anywhere from 3.8 to 8.3 GB from run to run
            "spark.driver.memory": "2g",
        }
        if self.args.trace:
            self.events = os.path.join(self.work, "events")
            os.makedirs(self.events)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        return get_spark("annotbench", extra_conf=conf)

    def _inputs(self, d: str):
        """Write the generated inputs under d, open the dims, seed a store."""
        inp = self.inputs
        paths = {
            "mouse": gen.write_gaf(inp.mouse, os.path.join(d, "mouse"), PARTS),
            "human": gen.write_gaf(inp.human, os.path.join(d, "human"), PARTS),
            "mouse_next": gen.write_gaf(inp.mouse_next, os.path.join(d, "mouse_next"), PARTS),
        }
        dims = Dims(**{
            name: self.spark.read.schema(DIM_SCHEMAS[name]).parquet(p)
            for name, p in gen.write_dims(inp, os.path.join(d, "dims")).items()
        })
        rows = inp.manual + self.stored
        seed = os.path.join(d, "store_seed.parquet")
        pq.write_table(pa.table({
            f.name: pa.array([r.get(f.name) for r in rows], ARROW_TYPES[repr(f.dataType)])
            for f in S.FULL_ANNOT_SCHEMA.fields
        }), seed)
        store = AnnotStore(self.spark, os.path.join(d, "store"))
        store.seed(self.spark.read.schema(S.FULL_ANNOT_SCHEMA).parquet(seed))
        return paths, dims, store

    def setup(self) -> float:
        t = time.perf_counter()
        self.inputs = gen.generate(self.args.seed, SCALE)
        self.stored = [] if self.initial else gen.store_rows(self.inputs, self.cfg, RUN1_TS)
        self.info["generate_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.spark = self._session()
        session_s = time.perf_counter() - t
        _calibration(self.spark)  # a cold JVM reads 2-3x slow; warm the job first
        self.info["calibration_before_s"] = _calibration(self.spark)
        times = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            self.paths, self.dims, store = self._inputs(os.path.join(self.work, f"in{i}"))
            times.append(time.perf_counter() - t)
        self.snapshot = store.path
        self.info.update(session_s=session_s, input_setup_s=times)
        return session_s + statistics.median(times)

    # ------------------------------------------------------------ units
    def _plan(self) -> gen.GafPlan:
        return self.inputs.mouse if self.initial else self.inputs.mouse_next

    def lines_read(self) -> int:
        """GAF lines a unit reads, counted once per file read: the split
        reads both GAFs, the load the job's own."""
        split = len(self.inputs.mouse.lines) + len(self.inputs.human.lines) if self.initial else 0
        return split + len(self._plan().lines)

    def _job(self) -> run_mod.SpeciesJob:
        paths = self.paths["mouse" if self.initial else "mouse_next"]
        return run_mod.SpeciesJob(MOUSE, self.cfg.mgi_ref_rgd_id, self.cfg.mouse_sources, paths)

    def load(self, store: AnnotStore, run_ts: datetime) -> dict:
        """One species job through the layers' public functions."""
        cfg, dims, job = self.cfg, self.dims, self._job()
        cutoff = run_ts - timedelta(minutes=cfg.stale_cutoff_minutes)
        before = (
            store.count_for_ref(dims.rgd_ids, job.ref_rgd_id, job.species_type_key),
            store.count_for_ref(dims.rgd_ids, cfg.iso_ref_rgd_id, 0),
        )
        gaf = run_mod.filter_sources(run_mod.read_gaf(self.spark, job.gaf_paths), job.sources)
        qc = run_mod.derive_annotations(
            self.spark, gaf, dims, cfg, job.species_type_key, job.ref_rgd_id
        )
        incoming = run_mod.merge_duplicates(run_mod.consolidate_with_info(qc.annots))
        up = store.merge_upsert(incoming.drop("source_db"), run_ts)
        deleted = store.delete_stale(
            dims.rgd_ids, cfg.created_by, cutoff, job.ref_rgd_id, before[0],
            cfg.stale_annot_delete_threshold, job.species_type_key,
        )
        iso_deleted = store.delete_stale(
            dims.rgd_ids, cfg.created_by, cutoff, cfg.iso_ref_rgd_id, before[1],
            cfg.stale_annot_delete_threshold, RAT,
        )
        after = (
            store.count_for_ref(dims.rgd_ids, job.ref_rgd_id, job.species_type_key),
            store.count_for_ref(dims.rgd_ids, cfg.iso_ref_rgd_id, 0),
        )
        return {
            "inserted": up.inserted, "updated": up.updated, "touched": up.touched,
            "stale_deleted": deleted, "iso_stale_deleted": iso_deleted,
            "before": before, "after": after,
        }

    def _restore(self, name: str) -> AnnotStore:
        store = AnnotStore(self.spark, os.path.join(self.work, name))
        shutil.copytree(self.snapshot, store.path)
        return store

    def unit(self, k: int):
        """Restore the store (untimed), then time one unit."""
        store = self._restore(f"store{k}")
        split_dir = os.path.join(self.work, f"split{k}")
        t = time.perf_counter()
        if self.initial:
            gaf = run_mod.read_gaf(self.spark, self.paths["mouse"] + self.paths["human"])
            gaf_mod.split_by_species(gaf, self.dims.species, split_dir)
        out = self.load(store, RUN1_TS if self.initial else RUN2_TS)
        return time.perf_counter() - t, out, store, split_dir

    # ------------------------------------------------------------ checks
    def expected(self) -> dict:
        if not self.initial:
            return gen.expected_changes(self.inputs)
        want = gen.expected(self.inputs.mouse)
        return {
            "inserted": want["direct"] + want["iso"], "updated": 0, "touched": 0,
            "stale_deleted": 0, "iso_stale_deleted": 0,
            "before": (0, 0), "after": (want["direct"], want["iso"]),
        }

    def check(self, out: dict, split_dir: str) -> list[str]:
        misses: list[str] = []
        for k, v in self.expected().items():
            _eq(misses, k, out[k], v)
        if self.initial:
            got = {
                r[0]: r[1] for r in
                self.spark.read.parquet(split_dir).groupBy("species_type_key").count().collect()
            }
            want = {
                plan.species: sum(ln.cols[12] != f"taxon:{gen.ZEBRAFISH_TAXON}" for ln in plan.lines)
                for plan in (self.inputs.mouse, self.inputs.human)
            }
            _eq(misses, "split lines per species", got, want)
        return misses

    def check_report(self, report) -> list[str]:
        """Every RunReport counter and sink count of a run_pipeline call."""
        misses: list[str] = []
        rep, want = report.species[0], self.expected()
        _eq(misses, "counters", rep.counters, gen.expected(self._plan())["counters"])
        _eq(misses, "upsert", (rep.upsert.inserted, rep.upsert.updated, rep.upsert.touched),
            (want["inserted"], want["updated"], want["touched"]))
        _eq(misses, "stale deletes", (rep.stale_deleted, report.iso_stale_deleted),
            (want["stale_deleted"], want["iso_stale_deleted"]))
        key = f"ref{self.cfg.mgi_ref_rgd_id}|sp{MOUSE}"
        counts = tuple((c[key], c["iso"]) for c in (report.counts_before, report.counts_after))
        _eq(misses, "counts", counts, (want["before"], want["after"]))
        return misses

    # ------------------------------------------------------------ run
    def run(self):
        self.info.update(nproc=os.cpu_count(), loadavg_start=_loadavg(), git_sha=_git_sha())
        setup_s = self.setup()
        self.info["default_parallelism"] = self.spark.sparkContext.defaultParallelism
        tracer = None
        if self.args.trace:
            tracer = tr.Tracer(self.spark, f"{self.args.workload}-{self.args.seed}")
            for owner, attr, name in TRACED:
                tracer.wrap(owner, attr, name)

        units, outs = [], []
        window = [time.time(), 0.0]
        start = time.perf_counter()
        while True:
            if tracer:
                with tracer.span("unit"):
                    dt, out, store, split_dir = self.unit(len(units))
            else:
                dt, out, store, split_dir = self.unit(len(units))
            units.append(dt)
            outs.append((out, split_dir))
            if time.perf_counter() - start + dt > self.args.seconds:
                break
        window[1] = time.time()
        misses = [self.check(out, split_dir) for out, split_dir in outs]
        store_mb = _du(store.path) / 2**20
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.info["peak_rss_mb"] = (
            _vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        ) / 1024

        if tracer:
            layers = self.isolated_pass(tracer)
            if self.initial:  # a traced incremental run would near the 180 s limit
                with tracer.span("report"):
                    report = run_mod.run_pipeline(
                        self.spark, self.cfg, self.dims, self._restore("store_report"),
                        [self._job()], run_ts=RUN1_TS,
                    )
                misses.append(self.check_report(report))
            tracer.unwrap()
        self.info["calibration_after_s"] = _calibration(self.spark)
        self.info["loadavg_end"] = _loadavg()
        _stop(self.spark)

        run_s = statistics.median(units)
        if tracer:
            trace_misses: list[str] = []
            metrics = self.layer_metrics(tracer, layers, tuple(window), [o for o, _ in outs],
                                         trace_misses)
            misses.append(trace_misses)
            self.info["spans"] = tracer.records()
        else:
            metrics = {
                "run_s": (run_s, "s"),
                "lines_per_s": (self.lines_read() / run_s, "1/s"),
                "setup_s": (setup_s, "s"),
                "store_mb": (store_mb, "MB"),
                "peak_rss_mb": (self.info["peak_rss_mb"], "MB"),
            }
        self.info.update(units_s=units, run_s_quartiles=_quartiles(units),
                         misses=[m for ms in misses for m in ms][:20])
        line = {
            "correct": not any(misses),
            "attempted": len(misses),
            "failed": sum(1 for ms in misses if ms),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return self.info, line

    # ------------------------------------------------------------ tracing
    def isolated_pass(self, tracer: tr.Tracer) -> dict:
        """Each lazy layer materialised to noop on its own, from a parquet
        checkpoint of the previous one, so layer times do not nest."""
        cfg, job = self.cfg, self._job()
        ck_gaf, ck_qc = (os.path.join(self.work, n) for n in ("ck_gaf", "ck_qc"))
        out = {}
        gaf = run_mod.filter_sources(run_mod.read_gaf(self.spark, job.gaf_paths), job.sources)
        with tracer.span("iso.gaf") as out["gaf"]:
            gaf.write.format("noop").mode("overwrite").save()
        gaf.write.parquet(ck_gaf)
        qc = run_mod.derive_annotations(
            self.spark, self.spark.read.parquet(ck_gaf), self.dims, cfg,
            job.species_type_key, job.ref_rgd_id,
        )
        with tracer.span("iso.qc") as out["qc"]:
            qc.annots.write.format("noop").mode("overwrite").save()
        qc.annots.write.parquet(ck_qc)
        annots = self.spark.read.parquet(ck_qc)
        merged = run_mod.merge_duplicates(run_mod.consolidate_with_info(annots))
        with tracer.span("iso.consolidate") as out["consolidate"]:
            merged.write.format("noop").mode("overwrite").save()
        out["qc_rows"] = annots.count()
        out["consolidate_rows"] = merged.count()
        return out

    def layer_metrics(self, tracer: tr.Tracer, layers: dict, window, outs: list[dict],
                      misses: list[str]) -> dict:
        """Per-layer metrics; adds a miss when the event log's jobs in the
        units' window are not exactly the jobs their spans submitted."""
        totals = tr.attribute(tracer, self.events, window)
        units = tracer.named("unit")
        n = len(units)
        unit_s = sum(s.duration for s in units)

        def per_unit(*names, deep=True):
            t = tr.group_totals(tracer, list(names), "unit", deep)
            return {k: v / n for k, v in t.items()}

        split, build, closure = per_unit("gaf.split"), per_unit("qc.build"), per_unit("closure")
        merge, delete = per_unit("sink.merge"), per_unit("sink.delete")
        counters = tr.group_totals(tracer, ["run.species"], "report", deep=False)
        snaps = [s for s in tracer.named("sink.count") if tracer.under(s, "report")
                 and tracer.spans[s.parent].name in ("run", "run.species")]
        changed = sum(o["inserted"] + o["updated"] + o["stale_deleted"] + o["iso_stale_deleted"]
                      for o in outs) / n
        rewritten = merge["records_written"] + delete["records_written"]
        unspanned = sum(tracer.self_time(s.id) for s in units)
        span_jobs = sum(tracer.total([s], "jobs", deep=True) for s in units)
        _eq(misses, "spark.jobs against the sum over unit spans", totals["jobs"], span_jobs)
        _eq(misses, "jobs without a span", totals["unattributed_jobs"], 0)
        self.info["trace_checks"] = {
            "spark_jobs": totals["jobs"], "span_jobs": span_jobs,
            "unattributed_jobs": totals["unattributed_jobs"],
        }
        g, q, c = (layers[k].metrics for k in ("gaf", "qc", "consolidate"))
        per = lambda key: totals[key] / n  # noqa: E731
        return {
            "gaf.split_s": (split["s"], "s"),
            "gaf.split_jobs": (split["jobs"], "count"),
            "gaf.scan_s": (layers["gaf"].duration, "s"),
            "gaf.lines_in": (g["records_read"], "count"),
            "qc.build_s": (build["s"], "s"),
            "qc.build_jobs": (build["jobs"], "count"),
            "closure.s": (closure["s"], "s"),
            "closure.jobs": (closure["jobs"], "count"),
            "closure.calls": (closure["calls"], "count"),
            "qc.exec_s": (layers["qc"].duration, "s"),
            "qc.rows_out": (layers["qc_rows"], "count"),
            "qc.shuffle_bytes": (q["shuffle_write_bytes"], "B"),
            "run.counters_s": (counters["s"], "s"),
            "run.counters_jobs": (counters["jobs"], "count"),
            "run.count_for_ref_s": (sum(s.duration for s in snaps), "s"),
            "run.count_for_ref_jobs": (sum(s.metrics["jobs"] for s in snaps), "count"),
            "consolidate.exec_s": (layers["consolidate"].duration, "s"),
            "consolidate.rows_in": (layers["qc_rows"], "count"),
            "consolidate.rows_out": (layers["consolidate_rows"], "count"),
            "consolidate.shuffle_bytes": (c["shuffle_write_bytes"], "B"),
            "sink.merge_s": (merge["s"], "s"),
            "sink.merge_jobs": (merge["jobs"], "count"),
            "sink.delete_s": (delete["s"], "s"),
            "sink.delete_jobs": (delete["jobs"], "count"),
            "sink.rows_rewritten": (rewritten, "count"),
            "sink.rows_changed": (changed, "count"),
            "sink.rewrite_per_change": (rewritten / changed, "ratio"),
            "sink.bytes_written": (merge["bytes_written"] + delete["bytes_written"], "B"),
            "sink.files_written": (merge["files_written"] + delete["files_written"], "count"),
            "spark.jobs": (per("jobs"), "count"),
            "spark.stages": (per("stages"), "count"),
            "spark.tasks": (per("tasks"), "count"),
            "spark.executor_run_s": (per("executor_run_ms") / 1000, "s"),
            "spark.busy_share": (totals["executor_run_ms"] / 1000 / (unit_s * os.cpu_count()), "share"),
            "spark.shuffle_write_bytes": (per("shuffle_write_bytes"), "B"),
            "spark.shuffle_read_bytes": (per("shuffle_read_bytes"), "B"),
            "spark.spill_bytes": (per("spill_bytes"), "B"),
            "spark.gc_s": (per("gc_ms") / 1000, "s"),
            "mem.peak_rss_mb": (self.info["peak_rss_mb"], "MB"),
            "trace.run_s": (statistics.median(s.duration for s in units), "s"),
            "trace.bookkeeping_s": (tracer.bookkeeping_s / n, "s"),
            "trace.unspanned_s": (unspanned / n, "s"),
            "trace.self_cover": (1 - unspanned / unit_s, "share"),
        }


def _stop(spark) -> None:
    """Stop the session and wait for its JVM, which exits on EOF on its
    stdin, so no process of the run outlives it."""
    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=120)


def _git_sha() -> str:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=here,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
