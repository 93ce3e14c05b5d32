"""Engine benchmark: one command, three closed-loop workloads.

Usage (from the repository root)::

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Workloads (``workloads.py``): ``query_mix``, ``graph_rounds``, ``graph_etl``.
Every run:

1. generates the base fixture from ``--seed`` (``fixture.generate``);
2. sets up once, cold — launches the driver JVM and starts the session,
   replicates the fixture by key offset, runs one warm-up operation — and
   reports its CPU seconds as ``setup_s``; then computes the reference
   results the output checks compare against and draws every seeded
   choice of the passes (untimed);
3. with ``--trace 0``, runs measured passes until ``--seconds`` have gone
   by (at least one) and reports the end-to-end metrics — ``setup_s`` and
   the median pass's CPU seconds ``pass_cpu_s``; with
   ``--trace 1``, runs an untimed warm-up pass, a traced and an untraced
   pass, and reports the per-layer metrics (``layers.py``) and the
   tracing overhead (traced minus untraced pass time);
4. prints, as the last stdout line, ``{"correct", "attempted", "failed",
   "metrics"}``: every metric with its unit.

Each pass starts once the process tree is idle (``proc.quiesce``), so JIT
compilation or garbage collection left over from the step before is not
charged to it. Spark runs ``local[min(4, nproc)]`` with as many shuffle
partitions and a 2 GB driver JVM with its default JIT, from this one
process and one client thread. Everything the run writes — fixtures,
Spark scratch, temp files — lives under ``.bench_work/`` in the
repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

import proc

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _cpus() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _configure(work: str, trace: bool) -> None:
    """Environment for the Spark driver JVM this process launches."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(_cpus())
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_SHUFFLE": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Python UDF workers import the engine too
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]),
    })
    import tempfile

    tempfile.tempdir = tmp


class Context:
    """What one run's operations share: session, fixture dirs, seeded RNG."""

    def __init__(self, seed: int, work: str, copies: int, sf: float):
        self.rng = random.Random(seed)  # drawn from in ``prepare`` only
        self.work = work
        self.copies = copies
        self.sf = sf
        self.base_dir = os.path.join(work, "base")
        self.fixture_dir = os.path.join(work, "fixture")
        self.spark = None
        self.fixture: dict[str, dict] = {}


def _setup(wl, ctx) -> tuple[float, float, float]:
    """Set up once, cold: launch the driver JVM and start the session,
    replicate the fixture, run the warm-up operation. Returns (CPU seconds
    of the whole set-up, session start and replication wall seconds)."""
    from fixture import replicate

    from graph_db_spark.session import get_spark

    c0, t0 = proc.cpu_s(), time.perf_counter()
    ctx.spark = get_spark("perfbench")
    t1 = time.perf_counter()
    ctx.spark.sparkContext.setLogLevel("ERROR")
    if ctx.copies:
        ctx.fixture = replicate(ctx.base_dir, ctx.fixture_dir, ctx.copies)
    t2 = time.perf_counter()
    wl.warmup(ctx)
    setup = proc.cpu_s() - c0
    _log(f"setup wall {time.perf_counter() - t0:.3f}s, cpu {setup:.3f}s")
    return setup, t1 - t0, t2 - t1


def _pass(wl, ctx, tracer=None, tamper=False):
    from workloads import Recorder

    rec = Recorder(tracer, tamper)
    waited = proc.quiesce()
    c0, t0 = proc.cpu_s(), time.time()
    wl.run_pass(ctx, rec)
    t1, c1 = time.time(), proc.cpu_s()
    rec.pass_s = t1 - t0 - rec.untimed_s
    rec.pass_cpu_s = c1 - c0 - rec.untimed_cpu_s
    rec.t0, rec.t1 = t0, t1
    kinds: dict[str, float] = {}
    for kind, sec, _ in rec.ops:
        kinds[kind] = kinds.get(kind, 0.0) + sec
    _log(f"{wl.name} pass {rec.pass_s:.3f}s cpu {rec.pass_cpu_s:.3f}s "
         f"({rec.attempted} ops, {rec.failed} failed, "
         f"untimed {rec.untimed_s:.3f}s, idle wait {waited:.2f}s) " + " ".join(f"{k}={v:.2f}" for k, v in kinds.items()))
    return rec


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        sf: float | None = None, copies: int | None = None, tamper: bool = False) -> dict:
    """One benchmark run; returns the result object (see module docstring).
    ``sf`` and ``copies`` override the workload's fixture size (tests only)."""
    from fixture import generate
    from workloads import WORKLOADS

    wl = WORKLOADS[workload]()
    ctx = Context(seed, work, wl.copies if copies is None else copies,
                  wl.sf if sf is None else sf)
    t_gen = time.perf_counter()
    base = generate(ctx.base_dir, ctx.sf, seed)
    _log(f"generated sf{ctx.sf} fixture in {time.perf_counter() - t_gen:.3f}s")
    if not ctx.copies:  # the workload reads the base fixture itself
        ctx.fixture_dir, ctx.fixture = ctx.base_dir, base
    try:
        setup, start, repl = _setup(wl, ctx)
        _log(f"fixture: {ctx.copies or 'base'} copies, " + ", ".join(
            f"{t} {v['rows']} rows/{v['bytes']} B" for t, v in ctx.fixture.items()))
        t_prep = time.perf_counter()
        wl.prepare(ctx)
        _log(f"prepared reference results in {time.perf_counter() - t_prep:.3f}s")
        if trace:
            from layers import FIGURES, PER_LAYER, compute
            from spans import Tracer

            # an untimed pass first, so the traced and the untraced pass
            # both run warm; its outputs are checked like every other pass
            recs = [_pass(wl, ctx, tamper=tamper)]
            tracer = Tracer(ctx.spark)
            wl.entry_points(tracer)
            try:
                traced = _pass(wl, ctx, tracer)
            finally:
                tracer.restore()
            untraced = _pass(wl, ctx)
            recs += [traced, untraced]
            metrics = compute(tracer, tracer.collect(), traced.pass_s, traced.t0, traced.t1,
                              traced.extra)
            figures = wl.summary([untraced])
            ops = figures.pop("op")
            figures.update(pass_s=untraced.pass_s, op_p50_s=statistics.median(w for w, _ in ops),
                           op_cpu_p50_s=statistics.median(c for _, c in ops))
            metrics.update({k: figures.get(k, 0.0) for k in FIGURES})
            metrics.update({
                "session.start_s": start,
                "setup.replicate_s": repl,
                "trace.overhead_s": traced.pass_s - untraced.pass_s,
                "peak_rss_mb": proc.peak_rss_mb(),
            })
            units = PER_LAYER
        else:
            measured = []
            deadline = time.perf_counter() + seconds
            while not measured or time.perf_counter() < deadline:
                measured.append(_pass(wl, ctx, tamper=tamper and not measured))
            recs = measured
            metrics = {
                "setup_s": setup,
                "pass_cpu_s": statistics.median(r.pass_cpu_s for r in measured),
            }
            units = END_TO_END
    finally:
        t_stop = time.perf_counter()
        _shutdown(ctx.spark)
        _log(f"stopped Spark in {time.perf_counter() - t_stop:.3f}s")
    attempted = sum(r.attempted for r in recs)
    failed = sum(r.failed for r in recs)
    if trace:
        metrics["failed_frac"] = failed / attempted if attempted else 0.0
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def _shutdown(spark) -> None:
    """Stop the session and the driver JVM this process launched, and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    jvm = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if jvm is not None:
        try:
            jvm.stdin.close()
        except OSError:
            pass
        try:
            jvm.wait(timeout=20)
        except Exception:  # noqa: BLE001 — TimeoutExpired: force it
            jvm.kill()
            jvm.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "graph_db_spark", "__init__.py")):
        print(f"perfbench: no engine source (graph_db_spark/) under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure(work, bool(args.trace))
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
