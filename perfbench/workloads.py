"""The benchmark's three workloads.

Each workload generates its inputs from the run's seed with the
package's own generators (``sources``), writes them as parquet during
set-up, and runs one timed operation over the parquet inputs. Only the
generators see the seed; algorithm seeds stay fixed.

* ``active_loop``: ``active_sampling_loop`` over a small uniform 2-D
  pool with the demo-1 target. Driver orchestration, plan building and
  per-job overhead dominate each iteration.
* ``pool_scoring``: one us_lw scoring pass over a large pool. Executor
  compute, Arrow transfer and the scan dominate. Same layers as the
  loop, opposite cost profile.
* ``corpus_curation``: ``curate()`` with near-dedup, decontamination
  and the quality filter. Shuffle-heavy and barrier-heavy; never runs
  the models, density or loop layers, so it is the no-change control
  for loop and scoring work.
"""

from __future__ import annotations

import hashlib
import json
import time
from pathlib import Path

from pyspark.sql import functions as F

import bigdata_quality_assessment_spark.loop as loop
import bigdata_quality_assessment_spark.operators.density as density
import bigdata_quality_assessment_spark.operators.models as models
import bigdata_quality_assessment_spark.operators.score as score
import bigdata_quality_assessment_spark.operators.select as select
import bigdata_quality_assessment_spark.pipeline as pipeline
from bigdata_quality_assessment_spark.sources import (
    eval_spans,
    realistic_documents,
    uniform_samples,
)


def digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()[:16]


def demo1_points(spark, n: int, seed: int):
    """Uniform points on [-1, 1]² with the reference demo-1 target
    ``y = x1³ − x1 + x2² + 0.5·sin(8·x1·x2)``."""
    x1, x2 = F.col("x1"), F.col("x2")
    return uniform_samples(spark, n, [-1.0, -1.0], [1.0, 1.0], seed=seed).withColumn(
        "y", F.pow(x1, 3) - x1 + F.pow(x2, 2) + 0.5 * F.sin(8.0 * x1 * x2)
    )


class _Marker:
    """Records the time of each call to a package function. The loop
    calls ``predict_ensemble_stats`` once at the start of every
    iteration, so these times split a loop call into init and
    iterations without tracing. Pickles as the original."""

    def __init__(self, module, attr):
        self._module, self._attr = module, attr
        self._orig = getattr(module, attr)
        self.times: list[float] = []

    def __call__(self, *args, **kwargs):
        self.times.append(time.perf_counter())
        return self._orig(*args, **kwargs)

    def __reduce__(self):
        return (getattr, (self._module, self._attr))


class Workload:
    """One workload: ``generate`` writes the seeded inputs, ``load``
    reads them, ``run`` is one timed operation, ``summary`` is the
    output that must repeat exactly and ``problems`` lists what is wrong
    with one output. ``warm_up_ops`` operations run in set-up."""

    warm_up_ops = 1

    def instrument(self, tr) -> None:
        """Register the package functions to span in a traced run."""

    def traced_extra(self, tr, run_id: int) -> dict:
        """Outcomes read from a traced operation's spans."""
        return {}

    def op_samples(self, out: dict) -> list[float]:
        return [out["wall_s"]]


class ActiveLoop(Workload):
    name = "active_loop"
    n_points = 40_000
    n_init = 100
    n_iter = 3
    explorers = ("se", "us", "us_lw")
    size = f"{n_points} points, n_init {n_init}, {n_iter} iterations per call"
    unit = "iteration"

    def generate(self, spark, seed: int, out: Path) -> None:
        demo1_points(spark, self.n_points, seed).write.parquet(str(out / "points"))

    def load(self, spark, data: Path) -> None:
        self.points = spark.read.parquet(str(data / "points"))
        self.marker = _Marker(loop, "predict_ensemble_stats")
        loop.predict_ensemble_stats = self.marker

    def instrument(self, tr) -> None:
        tr.wrap(loop, "initial_selection", "loop.initial_selection")
        tr.wrap(loop, "kde_1d", "density.kde_1d")
        tr.wrap(loop, "kde_1d_multi", "density.kde_1d_multi")
        tr.wrap(loop, "interp_uniform_grid", "density.interp_uniform_grid")
        tr.wrap(loop, "weighted_sample_with_replacement", "select.weighted_sample_with_replacement")
        tr.wrap(loop, "middle_match", "select.middle_match")
        tr.wrap(loop, "predict_ensemble_stats", "models.predict_ensemble_stats")
        tr.wrap(models, "fit_poly_member", "models.fit_poly_member")

    def run(self, tr) -> dict:
        self.marker.times.clear()
        t0 = time.perf_counter()
        with tr.span("loop.active_sampling_loop"):
            res = loop.active_sampling_loop(
                self.points, ["x1", "x2"], n_iter=self.n_iter, n_init=self.n_init,
                n_models=2, acq_list=self.explorers, bw=0.1, ngrid=256,
            )
            t_end = time.perf_counter()
            ids = sorted(r[0] for r in res.train.select("point_id").collect())
        marks = [*self.marker.times, t_end]
        return {
            "init_s": marks[0] - t0,
            "iter_s": [b - a for a, b in zip(marks, marks[1:])],
            "marks": marks,
            "ids": ids,
            "n_metrics": len(res.metrics),
        }

    def summary(self, out: dict) -> dict:
        return {"train_rows": len(out["ids"]), "ids": digest(out["ids"])}

    def problems(self, out: dict) -> list[str]:
        want = self.n_init + self.n_iter * len(self.explorers)
        bad = []
        if len(out["ids"]) != want:
            bad.append(f"train size {len(out['ids'])} != {want}")
        if out["n_metrics"] != self.n_iter or len(out["iter_s"]) != self.n_iter:
            bad.append(f"{out['n_metrics']} metric rows, {len(out['iter_s'])} iterations")
        return bad

    def op_samples(self, out: dict) -> list[float]:
        return out.get("iter_s") or [out["wall_s"]]


class PoolScoring(Workload):
    name = "pool_scoring"
    warm_up_ops = 4
    n_points = 1_000_000
    top = 20
    size = f"{n_points} points"
    unit = "pass"

    def generate(self, spark, seed: int, out: Path) -> None:
        demo1_points(spark, self.n_points, seed).write.parquet(str(out / "points"))

    def load(self, spark, data: Path) -> None:
        self.points = spark.read.parquet(str(data / "points"))

    def run(self, tr) -> dict:
        pts = self.points
        with tr.span("bench.scoring_pass"):
            with tr.span("models.train_ensemble"):
                train = pts.filter(F.col("point_id") % 997 == 0)
                thetas = models.train_ensemble(train, ["x1", "x2"], "y", n_models=2, seed=42)
            with tr.span("models.predict_ensemble_stats"):
                scored = models.predict_ensemble_stats(
                    pts, thetas, ["x1", "x2"], carry_cols=["x1", "x2", "y"]
                ).localCheckpoint(eager=True)
            with tr.span("density.kde_1d"):
                grid = density.kde_1d(scored, "y_mean", bw=0.1, ngrid=256)
                pdf = sorted((r["grid_x"], r["pdf"]) for r in grid.collect())
            with tr.span("select.top_k"):
                fy = density.interp_uniform_grid(scored, grid, q_col="y_mean", out_col="pdf_y_mean")
                acq = fy.withColumn("acq", score.acquisition_us_lw(fy))
                rows = select.top_k(acq, "acq", self.top).select("point_id", "acq").collect()
        return {"pdf": pdf, "ids": [r[0] for r in rows], "acq": [r[1] for r in rows]}

    def summary(self, out: dict) -> dict:
        return {"top_ids": digest(out["ids"])}

    def problems(self, out: dict) -> list[str]:
        bad = []
        ids, acq, pdf = out["ids"], out["acq"], out["pdf"]
        if len(set(ids)) != self.top or not all(0 <= i < self.n_points for i in ids):
            bad.append(f"top-{self.top} ids not {self.top} distinct pool ids")
        if any(a < b for a, b in zip(acq, acq[1:])):
            bad.append("top-k scores not in descending order")
        # the grid spans the data range padded 1%, so kernel mass past
        # the ends is lost: the integral is just under 1
        area = sum((x1 - x0) * (f0 + f1) / 2 for (x0, f0), (x1, f1) in zip(pdf, pdf[1:]))
        if len(pdf) != 256 or min(f for _, f in pdf) < 0 or not 0.95 <= area <= 1 + 1e-9:
            bad.append(f"kde grid of {len(pdf)} nodes integrates to {area:.4f}")
        return bad


class CorpusCuration(Workload):
    name = "corpus_curation"
    n_docs = 3_000
    n_spans = 64
    stages = ["input", "exact_dedup", "near_dedup", "decontaminate", "quality_filter"]
    keep = ("spark.localCheckpoint",)  # stage barriers, for near-dedup recall
    size = f"{n_docs} documents, {n_spans} eval spans"
    unit = "pass"

    def generate(self, spark, seed: int, out: Path) -> None:
        realistic_documents(spark, self.n_docs, n_eval_spans=self.n_spans, seed=seed) \
            .write.parquet(str(out / "docs"))
        eval_spans(spark, self.n_spans, seed=seed).write.parquet(str(out / "spans"))

    def load(self, spark, data: Path) -> None:
        self.docs = spark.read.parquet(str(data / "docs"))
        self.spans = spark.read.parquet(str(data / "spans")).select("text")

    def instrument(self, tr) -> None:
        self.roles = {r[0]: r[1] for r in self.docs.select("doc_id", "role").collect()}
        tr.wrap(pipeline, "exact_dedup", "text.exact_dedup")
        tr.wrap(pipeline, "near_dedup_minhash", "text.near_dedup_minhash")
        tr.wrap(pipeline, "decontaminate", "text.decontaminate")
        tr.wrap(pipeline, "quality_score", "text.quality_score")
        tr.wrap(pipeline, "top_fraction_per_group", "select.top_fraction_per_group")

    def run(self, tr) -> dict:
        with tr.span("pipeline.curate"):
            clean, report = pipeline.curate(
                self.docs, benchmark=self.spans,
                config=pipeline.CurationConfig(quality_frac=0.9),
            )
            counts = [(r["stage"], r["rows"]) for r in report.collect()]
            ids = sorted(r[0] for r in clean.select("doc_id").collect())
        return {"counts": counts, "ids": ids}

    def summary(self, out: dict) -> dict:
        return {"counts": [c for _, c in out["counts"]], "ids": digest(out["ids"])}

    def problems(self, out: dict) -> list[str]:
        names = [s for s, _ in out["counts"]]
        rows = [c for _, c in out["counts"]]
        bad = []
        if names != self.stages:
            bad.append(f"stages {names} != {self.stages}")
        if rows[:1] != [self.n_docs] or any(a < b for a, b in zip(rows, rows[1:])):
            bad.append(f"stage row counts {rows} not non-increasing from {self.n_docs}")
        if rows and rows[-1] != len(out["ids"]):
            bad.append(f"{len(out['ids'])} survivors but the report says {rows[-1]}")
        return bad

    def traced_extra(self, tr, run_id: int) -> dict:
        """Recall and precision of the near-dedup stage against the
        planted ``near`` documents. The stage's removals are the ids in
        the exact-dedup barrier and not in the near-dedup barrier; the
        barriers are the kept results of the operation's stage
        ``localCheckpoint`` spans."""
        from layers import stage_spans
        from tracer import children

        spans = [s for s in tr.spans if s["run_id"] == run_id]
        root = next(s for s in spans if s["parent"] is None)
        st = stage_spans(root, children(spans), self.stages)
        if st is None:
            return {}
        before, after = (
            {r[0] for r in tr.results[st[k]["barrier"]["id"]].select("doc_id").collect()}
            for k in ("exact_dedup", "near_dedup")
        )
        removed = before - after
        planted = {d for d in before if self.roles[d] == "near"}
        hit = len(removed & planted)
        return {"near_dedup": (
            hit / len(planted) if planted else 1.0,
            hit / len(removed) if removed else 1.0,
        )}


WORKLOADS = {w.name: w for w in (ActiveLoop, PoolScoring, CorpusCuration)}
