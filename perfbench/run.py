"""Repository benchmark: one seeded workload per run, one closed-loop
client, one PySpark driver on ``local[nproc]``.

    python3 perfbench/run.py --workload active_loop --seed 7 --seconds 15 --trace 0

Run from the repository root. Set-up starts the session, writes the
seeded inputs under ``.perfbench/`` and runs the workload's warm-up
operations. Then operations run back to back until ``--seconds`` have
passed; each checks its own output. With ``--trace 0`` the last stdout
line carries the end-to-end metrics. With ``--trace 1`` untraced and
traced operations run in ABBA blocks: the last line carries the
per-layer metrics, and the lines before it the layer table and the
tracing overhead. Spans are written to ``.perfbench/spans/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
EXPECTED = json.loads((HERE / "expected.json").read_text())


# -- host ----------------------------------------------------------
def meminfo_kb(key: str = "MemTotal") -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    raise RuntimeError(f"{key} missing from /proc/meminfo")


def host_env(work: Path) -> dict:
    """Environment for a host-sized single-driver session: one Spark
    core per CPU, shuffle partitions equal to the core count, one
    thread per Python worker, a driver heap sized from MemTotal, and
    every scratch file inside ``work``."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = meminfo_kb()
    heap_gb = max(1, min(4, round(mem_kb / (8 << 20))))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM, the spark-submit launcher's too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return {"nproc": cores, "mem_total_kb": mem_kb, "driver_heap": f"{heap_gb}g"}


# -- memory --------------------------------------------------------
def descendants(pid: int) -> list[int]:
    parent = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            parent[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


class PeakRss:
    """Peak resident memory of this driver process and everything it
    started (the JVM, the Python daemon and its workers): the sum of
    each process's VmHWM. Sampled after every operation; a process
    that exits keeps the peak it reached."""

    def __init__(self):
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        me = os.getpid()
        for pid in [me, *descendants(me)]:
            try:
                status = Path(f"/proc/{pid}/status").read_text()
            except OSError:
                continue
            for line in status.splitlines():
                if line.startswith("VmHWM:"):
                    kb = int(line.split()[1])
                    self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)

    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024


# -- processes -----------------------------------------------------
def stop_all(spark) -> None:
    """Stop Spark, then the JVM and every process it started, and
    wait until each has ended."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in procs if Path(f"/proc/{p}").exists() and _live(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(Path(f"/proc/{p}").exists() and _live(p) for p in alive):
        time.sleep(0.1)


def _live(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"


# -- measuring -----------------------------------------------------
def timing(samples: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (the maximum when there are too few), and the count."""
    s = sorted(samples)
    out = {"median": statistics.median(s), "n": len(s), "samples": samples}
    if len(s) >= 20:
        q = 1 - 10 / len(s)
        out[f"p{int(q * 100)}"] = s[int(q * (len(s) - 1))]
    else:
        out["max"] = s[-1]
    return out


def measure(
    wl, tracers, order, seconds: float, outs: list, expect, rss: PeakRss
) -> list[list[int]]:
    """Run operations back to back until ``seconds`` have passed and
    the last block of ``order`` is complete (the operation in progress
    completes). Operation i runs under ``tracers[order[i % len(order)]]``.
    Returns the run ids made under each tracer."""
    runs = [[] for _ in tracers]
    deadline = time.perf_counter() + seconds
    while True:
        run_id = len(outs)
        done = sum(map(len, runs))
        k = order[done % len(order)]
        tr = tracers[k]
        tr.run_id = run_id
        t0 = time.perf_counter()
        tr.start()
        try:
            out = wl.run(tr)
            out["wall_s"] = time.perf_counter() - t0
            bad = expect(out)
        except Exception as e:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            out = {"wall_s": time.perf_counter() - t0}
            bad = [f"{type(e).__name__}: {e}"]
        finally:
            tr.stop()
        tr.run_id = None
        out["problems"] = bad
        outs.append(out)
        runs[k].append(run_id)
        tr.collect_op(run_id)
        if tr.on and not bad:
            out.update(wl.traced_extra(tr, run_id))
        tr.results.clear()
        rss.sample()
        if time.perf_counter() >= deadline and (done + 1) % len(order) == 0:
            return runs


def run(args, spark, host: dict, work: Path, session_s: float) -> tuple[dict, list[str]]:
    """Set up, measure and check one workload on a started session.
    Returns the result line and the lines to print before it."""
    import pyspark

    from tracer import Tracer, layer_table
    from workloads import WORKLOADS

    cores = host["nproc"]
    rss = PeakRss()
    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    wl.generate(spark, args.seed, work / "in")
    gen_s = time.perf_counter() - t
    wl.load(spark, work / "in")
    t = time.perf_counter()
    ref = wl.run(Tracer(None))
    for _ in range(wl.warm_up_ops - 1):
        wl.run(Tracer(None))
    warm_s = time.perf_counter() - t
    setup_s = session_s + gen_s + warm_s
    rss.sample()

    pinned = EXPECTED.get(wl.name, {}).get(str(args.seed))
    want = wl.summary(ref)

    def expect(out) -> list[str]:
        bad = wl.problems(out)
        got = wl.summary(out)
        if got != want:
            bad.append(f"output {got} differs from the warm-up's {want}")
        if pinned is not None and got != pinned:
            bad.append(f"output {got} differs from the pinned {pinned}")
        return bad

    outs: list[dict] = []
    off = Tracer(None)
    if args.trace:
        # untraced and traced operations in ABBA blocks: a trend over
        # the run (later operations run faster) cancels out of the
        # tracing overhead
        tr = Tracer(spark, getattr(wl, "keep", ()))
        wl.instrument(tr)
        plain, traced = measure(wl, [off, tr], [0, 1, 1, 0], args.seconds, outs, expect, rss)
    else:
        (plain,) = measure(wl, [off], [0], args.seconds, outs, expect, rss)

    def op_times(runs):
        return [t for r in runs for t in wl.op_samples(outs[r])]

    detail = {
        "workload": wl.name, "size": wl.size, "unit": wl.unit, "seed": args.seed,
        "host": {
            **host,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        },
        "setup": {"session_s": session_s, "gen_s": gen_s, "warm_up_s": warm_s, "setup_s": setup_s},
        "op_s": timing(op_times(plain)),
        "op_wall_s": timing([outs[r]["wall_s"] for r in plain]),
        "summary": want,
        "pinned": pinned is not None,
    }
    if wl.name == "active_loop":
        detail["loop_init_s"] = timing([outs[r]["init_s"] for r in plain if "init_s" in outs[r]])
        detail["loop_iter_s"] = detail["op_s"]
    elif wl.name == "pool_scoring":
        detail["score_rows_per_s"] = wl.n_points / detail["op_s"]["median"]
    else:
        detail["curate_docs_per_s"] = wl.n_docs / detail["op_s"]["median"]

    lines = []
    if args.trace:
        from layers import PER_LAYER, per_layer

        traced_op = statistics.median(op_times(traced))
        plain_op = detail["op_s"]["median"]
        detail["trace_overhead"] = {
            "traced_op_s": traced_op, "untraced_op_s": plain_op,
            "overhead_s": traced_op - plain_op,
            "overhead_pct": 100 * (traced_op - plain_op) / plain_op,
            "traced_ops": len(traced), "untraced_ops": len(plain),
        }
        near = [outs[r]["near_dedup"] for r in traced if "near_dedup" in outs[r]]
        extra = {"session_s": session_s, "gen_s": gen_s}
        if near:
            extra["near_recall"], extra["near_precision"] = near[-1]
        values, detail["layers"] = per_layer(
            tr, set(traced), outs, extra, cores, getattr(wl, "stages", None)
        )
        spans_path = ROOT / ".perfbench" / "spans" / f"{wl.name}-seed{args.seed}.jsonl"
        tr.write(spans_path)
        detail["spans_file"] = str(spans_path.relative_to(ROOT))
        lines.append(f"layer table: {wl.name}, {len(traced)} traced ops, totals over all of them")
        lines.append(layer_table([s for s in tr.spans if s["run_id"] in set(traced)]))
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss.mb(), "unit": "MB"},
            "op_s": {"value": detail["op_s"]["median"], "unit": "s"},
        }
    failed = sum(1 for o in outs if o["problems"])
    detail["error_rate"] = failed / len(outs)
    detail["problems"] = [p for o in outs for p in o["problems"]][:5]
    lines.append(json.dumps({"detail": detail}))
    result = {"correct": failed == 0, "attempted": len(outs), "failed": failed, "metrics": metrics}
    return result, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        from bigdata_quality_assessment_spark.session import build_session
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")

    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    host = host_env(work)
    t0 = time.perf_counter()
    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{host['nproc']}]",
        shuffle_partitions=host["nproc"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a heap that starts at its full size: how far G1 grows a
            # smaller one varies from run to run by ~15 % of peak RSS
            "spark.driver.extraJavaOptions": f"-Xms{host['driver_heap']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        result, lines = run(args, spark, host, work, session_s)
    finally:
        stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    sys.exit(main())
