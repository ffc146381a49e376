"""Per-layer metrics derived from the spans of a traced run.

A unit of work is one loop iteration on ``active_loop`` and one pass
elsewhere; ``*_per_iter``, byte and job counts are per unit. A
``*_share`` is a layer's part of the units' wall time (``cpu_share``:
of their core time, cores × wall), so a layer a workload does not run
reads 0 without making a time that never changes. A loop call is split
at the times its iterations start (see ``workloads._Marker``): the part
before the first iteration is init. Layer names are the package's
modules; ``spark`` is the engine itself.
"""

from __future__ import annotations

from tracer import children, covered, subtree

PER_LAYER = [
    ("session.start_ms", "ms"),
    ("sources.gen_ms", "ms"),
    ("sources.scan_bytes", "B"),
    ("loop.init_share", "ratio"),
    ("loop.self_share", "ratio"),
    ("loop.jobs_per_iter", "count"),
    ("spark.planning_ms_per_iter", "ms"),
    ("models.fit_share", "ratio"),
    ("models.predict.cpu_share", "ratio"),
    ("models.predict.python_bytes", "B"),
    ("density.kde.cpu_share", "ratio"),
    ("density.kde.shuffle_write_bytes", "B"),
    ("select.top_k.cpu_share", "ratio"),
    ("text.exact_dedup.wall_share", "ratio"),
    ("text.near_dedup.wall_share", "ratio"),
    ("text.near_dedup.shuffle_write_bytes", "B"),
    ("text.near_dedup.spill_bytes", "B"),
    ("text.decontaminate.wall_share", "ratio"),
    ("text.near_dedup.recall", "ratio"),
    ("text.near_dedup.precision", "ratio"),
    ("pipeline.barrier_jobs", "count"),
    ("pipeline.block_store_peak_mb", "MB"),
    ("spark.core_util", "ratio"),
    ("spark.task_skew", "ratio"),
    ("spark.failed_tasks", "count"),
]

_FIT_SPANS = ("models.fit_poly_member", "models.train_ensemble")

# curate() stage -> the package function spans that build it
_STAGE_FNS = {
    "exact_dedup": ("text.exact_dedup",),
    "near_dedup": ("text.near_dedup_minhash",),
    "decontaminate": ("text.decontaminate",),
    "quality_filter": ("text.quality_score", "select.top_fraction_per_group"),
}


def _dur(s: dict) -> float:
    return s["t1"] - s["t0"]


def _units(roots, kids, outs):
    """``(start, end, top-level spans, root)`` per unit of work, plus
    the init windows of loop calls."""
    units, inits = [], []
    for root in roots:
        top = kids.get(root["id"], [])
        marks = outs[root["run_id"]].get("marks")
        if marks is None:
            units.append((root["t0"], root["t1"], top, root))
            continue
        inits.append((root["t0"], marks[0], [c for c in top if _mid(c) < marks[0]], root))
        for a, b in zip(marks, marks[1:]):
            units.append((a, b, [c for c in top if a <= _mid(c) < b], root))
    return units, inits


def _mid(s: dict) -> float:
    # the iteration mark is taken inside the predict span it starts,
    # so a span belongs to the window that holds its midpoint
    return (s["t0"] + s["t1"]) / 2


def _loop_actions(units) -> dict[str, list[dict]]:
    """The actions that execute a layer's lazy frames inside a loop
    iteration: the first ``localCheckpoint`` after
    ``predict_ensemble_stats`` materialises the scored pool
    (``models.predict``), and the iteration's last ``collect`` runs the
    explorers' top-k (``select.top_k``), fused with the interpolation,
    the acquisition scores and the metrics."""
    out: dict[str, list[dict]] = {"models.predict": [], "select.top_k": []}
    for _a, _b, top, _root in units:
        top = sorted(top, key=lambda s: s["t0"])
        names = [s["name"] for s in top]
        if "models.predict_ensemble_stats" in names:
            i = names.index("models.predict_ensemble_stats")
            out["models.predict"] += [
                s for s in top[i:] if s["name"] == "spark.localCheckpoint"
            ][:1]
        out["select.top_k"] += [s for s in top if s["name"] == "spark.collect"][-1:]
    return out


def _window_self(w) -> float:
    a, b, top, _root = w
    return (b - a) - covered(
        [(max(c["t0"], a), min(c["t1"], b)) for c in top if c["t1"] > a and c["t0"] < b]
    )


def stage_spans(root: dict, kids: dict, stages: list[str]) -> dict | None:
    """Spans that build and materialise each curate() stage: its
    package function spans (``fns``), its barrier (the k-th direct
    ``localCheckpoint``) and its report count (the k-th direct
    ``count``). None when the direct actions do not line up with the
    stages."""
    top = sorted(kids.get(root["id"], []), key=lambda s: s["t0"])
    lcs = [s for s in top if s["name"] == "spark.localCheckpoint"]
    cnts = [s for s in top if s["name"] == "spark.count"]
    if len(lcs) != len(stages) or len(cnts) != len(stages):
        return None
    return {
        stage: {
            "fns": [s for s in top if s["name"] in _STAGE_FNS.get(stage, ())],
            "barrier": lcs[k],
            "count": cnts[k],
        }
        for k, stage in enumerate(stages)
    }


def per_layer(tr, runs, outs, extra: dict, cores: int, stages=None) -> tuple[dict, dict]:
    """Per-layer metrics over the traced operations ``runs`` and notes
    for the detail output."""
    spans = [s for s in tr.spans if s["run_id"] in runs and "t1" in s]
    by_id = {s["id"]: s for s in spans}
    kids = children(spans)
    roots = [s for s in spans if s["parent"] is None]
    units, inits = _units(roots, kids, outs)
    n = max(len(units), 1)
    looped = bool(inits)
    flat = [s for w in units for c in w[2] for s in subtree(c, kids)]
    flat += [w[3] for w in units if w[3]["name"] != "loop.active_sampling_loop"]

    def outermost(prefix):
        def matches(s):
            return s["name"].startswith(prefix)

        def under_match(s):
            p = by_id.get(s["parent"])
            while p is not None:
                if matches(p):
                    return True
                p = by_id.get(p["parent"])
            return False

        return [s for s in flat if matches(s) and not under_match(s)]

    fused = _loop_actions(units) if looped else {}
    unit_ms = sum(b - a for a, b, _, _ in units) * 1e3 or 1.0

    def incl(spans_, key):
        """Total of ``key`` over the spans and their subtrees."""
        return sum(s2.get(key, 0) for s in spans_ for s2 in subtree(s, kids))

    def cpu_share(prefix):
        """Executor CPU of a layer's spans over the units' core time."""
        return incl(outermost(prefix) + fused.get(prefix, []), "cpu_ms") / (cores * unit_ms)

    # ms per unit for the shares below, which are 0 on a workload that
    # does not run the layer
    init_ms = sum(b - a for a, b, _, _ in inits) * 1e3
    per_unit_ms = {
        "loop.self": sum(map(_window_self, units)) * 1e3 / n if looped else 0.0,
        "models.fit": sum(_dur(s) for s in flat if s["name"] in _FIT_SPANS) * 1e3 / n,
    }

    stage = {s: [] for s in ("exact_dedup", "near_dedup", "decontaminate")}
    barrier_jobs = 0.0
    notes = {"units": len(units), "ops": len(roots)}
    for root in roots:
        if root["name"] != "pipeline.curate":
            continue
        attributed = stage_spans(root, kids, stages)
        notes["stage_attribution"] = "aligned" if attributed else "function spans only"
        for st in stage:
            if attributed:
                a = attributed[st]
                stage[st] += [*a["fns"], a["barrier"], a["count"]]
            else:
                stage[st] += [s for s in kids.get(root["id"], []) if s["name"] in _STAGE_FNS[st]]
        barrier_jobs += sum(
            s2.get("jobs", 0) for s in subtree(root, kids)
            if s["name"] == "spark.localCheckpoint" for s2 in subtree(s, kids)
        )
    for st, spans_ in stage.items():
        per_unit_ms[f"text.{st}"] = sum(map(_dur, spans_)) * 1e3 / n
    notes["per_unit_ms"] = per_unit_ms

    m = {
        "session.start_ms": extra["session_s"] * 1e3,
        "sources.gen_ms": extra["gen_s"] * 1e3,
        "sources.scan_bytes": sum(s.get("input_bytes", 0) for s in flat) / n,
        "loop.init_share": init_ms / (init_ms + unit_ms) if looped else 0.0,
        "loop.self_share": per_unit_ms["loop.self"] * n / unit_ms,
        "loop.jobs_per_iter": sum(s.get("jobs", 0) for s in flat) / n if looped else 0.0,
        "spark.planning_ms_per_iter": sum(s.get("planning_ms", 0) for s in flat) / n,
        "models.fit_share": per_unit_ms["models.fit"] * n / unit_ms,
        "models.predict.cpu_share": cpu_share("models.predict"),
        "models.predict.python_bytes": incl(
            outermost("models.predict") + fused.get("models.predict", []), "python_bytes"
        ) / n,
        "density.kde.cpu_share": cpu_share("density.kde"),
        "density.kde.shuffle_write_bytes": incl(outermost("density.kde"), "shuffle_write") / n,
        "select.top_k.cpu_share": cpu_share("select.top_k"),
        "text.exact_dedup.wall_share": per_unit_ms["text.exact_dedup"] * n / unit_ms,
        "text.near_dedup.wall_share": per_unit_ms["text.near_dedup"] * n / unit_ms,
        "text.near_dedup.shuffle_write_bytes": incl(stage["near_dedup"], "shuffle_write") / n,
        "text.near_dedup.spill_bytes": incl(stage["near_dedup"], "spill") / n,
        "text.decontaminate.wall_share": per_unit_ms["text.decontaminate"] * n / unit_ms,
        "text.near_dedup.recall": extra.get("near_recall", 0.0),
        "text.near_dedup.precision": extra.get("near_precision", 0.0),
        "pipeline.barrier_jobs": barrier_jobs / n,
        "pipeline.block_store_peak_mb": max(tr.block_samples, default=0.0),
    }

    all_spans = [s2 for r in roots for s2 in subtree(r, kids)]
    wall_ms = sum(map(_dur, roots)) * 1e3
    stages_run = [s["longest_stage"] for s in all_spans if s.get("longest_stage")]
    run_ms = sum(s.get("run_ms", 0) for s in all_spans)
    m.update({
        "spark.core_util": run_ms / (cores * wall_ms) if wall_ms else 0.0,
        "spark.task_skew": tr.task_skew(max(stages_run)) if stages_run else 1.0,
        "spark.failed_tasks": float(sum(s.get("failed_tasks", 0) for s in all_spans)),
    })
    return m, notes
