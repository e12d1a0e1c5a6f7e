"""pipeline_cold_resume: the 7-stage checkpointed pipeline of
``run_pipeline.build_pipeline``: parquet checkpoints, a route-bucketed
``snapped`` stage and the JSON manifest.

One pass is a cold run into an empty directory (``pass_s``). Each round
then resumes after a simulated crash that left ``segments`` and ``tiles``
uncommitted (``pipeline.resume.wall_s``), and runs ``rebucket_resume``:
the same crash again, resumed after ``snapped`` is re-declared with 32
buckets instead of 64, in a catalog without the old table, as a fresh
session would. ``rebucket_resume`` is counted as failed while the stage
fingerprint ignores the bucket spec: the 64-bucket directory is reused
under a 32-bucket declaration and the bucketed join drops the rows of the
higher bucket ids. Which rows go depends only on the bucket id of each of
the 100 fixed route ids, and every seed puts pages on every route, so the
operation fails on every seed. Neither resume is part of ``pass_s``.

The pipeline's ``pages`` stage is replaced by the same generator with the
run's seed, so the seed changes every page while the sizes stay fixed.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil

import numpy as np

import run_pipeline
from linref_spark.pipeline.checkpoint import MANIFEST, Stage
from linref_spark.web.pages import generate_pages

from harness import Op, now, to_pandas

ROWS = 25_000
CRASHED = ("segments", "tiles")
STAGES = ("pages", "extracted", "events", "routes", "snapped", "segments", "tiles")


class Workload:
    name = "pipeline_cold_resume"
    KNOWN_FAULTS = {"rebucket_resume"}

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.parts = spark.sparkContext.defaultParallelism * 4
        self.round = 0
        self.last = {}

    def pipeline(self, out_dir: str, seed: int, n_buckets: int = 64):
        pipe = run_pipeline.build_pipeline(ROWS, out_dir, partitions=self.parts)
        stages = []
        for st in pipe.stages:
            if st.name == "pages":
                st = Stage("pages", lambda spark, _, s=seed: generate_pages(
                    spark, ROWS, seed=s, n_partitions=self.parts),
                    version=f"rows={ROWS},seed={seed}")
            elif st.name == "snapped" and n_buckets != st.n_buckets:
                st = dataclasses.replace(st, n_buckets=n_buckets)
            stages.append(st)
        return type(pipe)(out_dir, stages)

    def _crash(self, out_dir: str) -> None:
        """Leave ``segments`` and ``tiles`` uncommitted: no manifest entry
        and no directory, as after a crash before their commit."""
        path = os.path.join(out_dir, MANIFEST)
        with open(path) as f:
            manifest = json.load(f)
        for name in CRASHED:
            manifest["stages"].pop(name, None)
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)
        with open(path, "w") as f:
            json.dump(manifest, f)

    def _drop_checkpoint_tables(self) -> None:
        for t in self.spark.catalog.listTables():
            if t.name.startswith("linref_ckpt_"):
                self.spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")

    @staticmethod
    def _collect(outs) -> dict:
        return {n: outs[n].toPandas() for n in CRASHED}

    # -- the three operations of a round --------------------------------------

    def _cold(self, sink, tracer, key):
        self.round += 1
        out_dir = os.path.join(self.work, f"cold-{self.round}")
        prev = os.path.join(self.work, f"cold-{self.round - 1}")
        shutil.rmtree(prev, ignore_errors=True)
        pipe = self.pipeline(out_dir, self.seed)
        starts = {}
        prefix = key[: key.index("pipeline.")]  # "warm:" in the warm-up pass
        if tracer.enabled:
            pipe.stages = [self._traced_stage(st, starts, prefix) for st in pipe.stages]
        t0 = now()
        outs = pipe.run(self.spark, log=None)
        wall = now() - t0
        tracer.note(key, wall_s=wall)
        if starts:
            bounds = [starts[s] for s in STAGES] + [t0 + wall]
            meta = pipe.metrics()
            for i, s in enumerate(STAGES):
                tracer.note(f"{prefix}pipeline.{s}", wall_s=bounds[i + 1] - bounds[i],
                            written_mb=meta[s]["bytes"] / (1024.0 * 1024.0))
        self.last = {"dir": out_dir, "cold": self._collect(outs) if sink is to_pandas else None}
        return self.last["cold"]

    def _traced_stage(self, st, starts, prefix):
        """Run a stage's function (and, after it, the write and the manifest
        statistics) under the job group ``pipeline.<stage>``."""
        def fn(spark, ins, _fn=st.fn, _name=st.name):
            starts[_name] = now()
            group = f"{prefix}pipeline.{_name}"
            self.tracer.sc.setJobGroup(group, group)
            return _fn(spark, ins)
        return dataclasses.replace(st, fn=fn)

    def _resume(self, sink, tracer, key):
        self._crash(self.last["dir"])
        t0 = now()
        outs = self.pipeline(self.last["dir"], self.seed).run(self.spark, log=None)
        tracer.note(key, wall_s=now() - t0)
        return self._collect(outs) if sink is to_pandas else None

    def _rebucket(self, sink, tracer, key):
        self._crash(self.last["dir"])
        self._drop_checkpoint_tables()
        outs = self.pipeline(self.last["dir"], self.seed, n_buckets=32).run(
            self.spark, log=None)
        if sink is to_pandas:
            return {"n_pages": outs["segments"].toPandas()["n_pages"].sum(),
                    "snapped": outs["snapped"].count()}
        return None

    def ops(self) -> list:
        return [
            Op("cold_run", "pipeline.cold", run=self._cold),
            Op("resume", "pipeline.resume", run=self._resume, timed=False),
            Op("rebucket_resume", "pipeline.rebucket_resume", run=self._rebucket, timed=False),
        ]

    def layer_extras(self, folded: dict, n_passes: int) -> dict:
        out = {}
        book = 0
        for g, vals in folded.items():
            if g.startswith("pipeline.") and g[9:] in STAGES:
                book += sum(1 for s in vals.get("sites", []) if _bookkeeping(s))
        out["pipeline.bookkeeping_jobs"] = book / n_passes
        return out

    # -- checks -------------------------------------------------------------

    def check(self, outs: dict) -> dict:
        errors = {}
        cold, resumed = outs["cold_run"], outs["resume"]
        for name, frame in cold.items():
            total = frame["n" if name == "tiles" else "n_pages"].sum()
            if total != ROWS:
                errors["cold_run"] = f"{name} counts sum to {total}, not {ROWS} pages"
        dens = float(cold["segments"]["page_density"].sum())
        if "cold_run" not in errors and not np.isclose(dens, ROWS, rtol=1e-9, atol=0):
            errors["cold_run"] = f"page_density sums to {dens}, not {ROWS}"
        for name in CRASHED:
            if not _same_multiset(cold[name], resumed[name]):
                errors["resume"] = f"resumed {name} differs from the cold run"
        rb = outs.get("rebucket_resume")  # absent when the operation raised
        if rb is not None and rb["n_pages"] != ROWS:
            errors["rebucket_resume"] = (
                f"segments.n_pages sums to {rb['n_pages']} of {ROWS} pages "
                f"(snapped.count() = {rb['snapped']})")
        return errors


def _bookkeeping(site: str) -> bool:
    """Jobs that only compute manifest statistics (per-partition counts)."""
    return site.startswith("collect at") and "checkpoint.py" in site


def _same_multiset(a, b) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    cols = list(a.columns)
    x = a.sort_values(cols).reset_index(drop=True)
    y = b.sort_values(cols).reset_index(drop=True)
    for c in cols:
        u, v = x[c].to_numpy(), y[c].to_numpy()
        if u.dtype.kind == "f":
            if not np.allclose(u, v, rtol=1e-12, atol=1e-12):
                return False
        elif not np.array_equal(u, v):
            return False
    return True
