"""Per-layer metrics of one traced pass.

Layers are named after the engine modules the traced entry points live in
(see README.md for the layer -> metric -> workload map). Every workload
reports every metric; a layer the workload does not reach reads 0.
"""

from __future__ import annotations

from spans import covered, descendants, self_times

# workload figures (``summary`` of the untraced pass of the traced run)
FIGURES = {
    "pass_s": "s",
    "op_p50_s": "s",
    "op_cpu_p50_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "query_samples": "count",
    "cc_s": "s",
    "pagerank_s": "s",
    "kcore_s": "s",
    "bfs_s": "s",
    "etl_s": "s",
    "commit_p50_s": "s",
    "scan_p50_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}

# name -> unit, in output order
PER_LAYER = {
    "session.start_s": "s",
    "setup.replicate_s": "s",
    "plans.build_s": "s",
    "plans.py4j_calls": "count",
    "catalyst.plan_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_mb": "MB",
    "exec.driver_gap_s": "s",
    "graph.build_s": "s",
    **{
        f"graph.{a}.{m}": u
        for a in ("cc", "pagerank", "kcore", "bfs")
        for m, u in (("jobs", "count"), ("stages", "count"), ("shuffle_mb", "MB"),
                     ("executor_cpu_s", "s"), ("driver_gap_s", "s"))
    },
    "pipeline.build_s": "s",
    "pipeline.task_s": "s",
    "upsert.merge_s": "s",
    "upsert.calls": "count",
    "upsert.bytes_written_mb": "MB",
    "upsert.key_check_s": "s",
    "snapshots.commit_s": "s",
    "snapshots.commit_jobs": "count",
    "snapshots.files_written": "count",
    "snapshots.bytes_written_mb": "MB",
    "snapshots.manifest_kb": "KB",
    "snapshots.scan_s": "s",
    "snapshots.files_read_frac": "ratio",
    "snapshots.compact_s": "s",
    "snapshots.vacuum_s": "s",
    "snapshots.files_reclaimed": "count",
    # self time: span duration minus its child spans, summed per layer;
    # together with self.unattributed_s they add up to trace.pass_s
    **{f"self.{layer}_s": "s" for layer in (
        "bench", "plans", "catalyst", "exec", "graph.build", "graph.algorithms",
        "run", "pipeline", "upsert", "snapshots")},
    "self.unattributed_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
    **FIGURES,
    "failed_frac": "ratio",
}

_ZERO = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
         "shuffle_bytes": 0}


class Attribution:
    """Spans of one traced pass joined with the Spark jobs they submitted."""

    def __init__(self, tracer, jobs: dict[int, dict]):
        self.spans = tracer.spans
        self.jobs = jobs

    def of(self, layer: str, name: str | None = None) -> list:
        """Spans of ``layer`` (optionally named ``name``) not nested in
        another span of the same layer."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.layer != layer or (name is not None and s.name != name):
                continue
            p = by_id.get(s.parent)
            while p is not None and p.layer != layer:
                p = by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    def total(self, spans) -> float:
        return sum(s.dur for s in spans)

    def agg(self, spans) -> dict:
        """Jobs of ``spans`` and everything nested in them, with the time
        those spans spent with no stage running (``gap_s``)."""
        acc = dict(_ZERO, gap_s=0.0)
        for s in spans:
            ivs = []
            for sid in descendants(self.spans, s.id):
                j = self.jobs.get(sid)
                if j is None:
                    continue
                for k in _ZERO:
                    acc[k] += j[k]
                ivs += j["intervals"]
            acc["gap_s"] += s.dur - covered(ivs, s.t0, s.t1)
        return acc


def compute(tracer, jobs: dict[int, dict], pass_s: float, t0: float, t1: float,
            extra: dict) -> dict[str, float]:
    """Per-layer metrics of the traced pass that ran from epoch ``t0`` to
    ``t1`` (``pass_s`` = that wall time minus output-check time)."""
    a = Attribution(tracer, jobs)
    m: dict[str, float] = {}
    plans = a.of("plans")
    m["plans.build_s"] = a.total(plans)
    in_plans = set().union(*(descendants(a.spans, p.id) for p in plans))
    m["plans.py4j_calls"] = sum(s.py4j for s in a.spans if s.id in in_plans)
    m["catalyst.plan_s"] = a.total(a.of("catalyst"))

    ops = a.of("bench")
    every = a.agg(ops)
    m["exec.run_s"] = covered([iv for j in jobs.values() for iv in j["intervals"]], t0, t1)
    m["exec.jobs"] = every["jobs"]
    m["exec.stages"] = every["stages"]
    m["exec.tasks"] = every["tasks"]
    m["exec.executor_run_s"] = every["run_s"]
    m["exec.executor_cpu_s"] = every["cpu_s"]
    m["exec.gc_s"] = every["gc_s"]
    m["exec.shuffle_mb"] = every["shuffle_bytes"] / 1e6
    m["exec.driver_gap_s"] = every["gap_s"]

    m["graph.build_s"] = a.total(a.of("graph.build"))
    for algo in ("cc", "pagerank", "kcore", "bfs"):
        g = a.agg(a.of("bench", f"{algo}:{algo}"))
        m[f"graph.{algo}.jobs"] = g["jobs"]
        m[f"graph.{algo}.stages"] = g["stages"]
        m[f"graph.{algo}.shuffle_mb"] = g["shuffle_bytes"] / 1e6
        m[f"graph.{algo}.executor_cpu_s"] = g["cpu_s"]
        m[f"graph.{algo}.driver_gap_s"] = g["gap_s"]

    m["pipeline.build_s"] = a.total(a.of("pipeline"))
    m["pipeline.task_s"] = a.total(a.of("run")) - m["pipeline.build_s"]
    writes = a.of("upsert", "merge_into_parquet_table") + a.of("upsert", "write_table")
    m["upsert.merge_s"] = a.total(writes)
    m["upsert.calls"] = len(writes)
    m["upsert.bytes_written_mb"] = sum(s.extra.get("bytes", 0) for s in writes) / 1e6
    m["upsert.key_check_s"] = a.total(a.of("upsert", "assert_unique_key"))

    commits = a.of("snapshots", "merge")
    m["snapshots.commit_s"] = a.total(commits)
    m["snapshots.commit_jobs"] = a.agg(commits)["jobs"]
    m["snapshots.files_written"] = sum(s.extra.get("files", 0) for s in commits)
    m["snapshots.bytes_written_mb"] = sum(s.extra.get("bytes", 0) for s in commits) / 1e6
    m["snapshots.manifest_kb"] = commits[-1].extra.get("manifest_bytes", 0) / 1e3 if commits else 0
    m["snapshots.scan_s"] = a.total([s for s in ops if s.name.startswith("scan:")])
    total_files = extra.get("files_total", 0)
    m["snapshots.files_read_frac"] = extra.get("files_kept", 0) / total_files if total_files else 0
    m["snapshots.compact_s"] = a.total(a.of("snapshots", "compact"))
    m["snapshots.vacuum_s"] = a.total(a.of("snapshots", "vacuum"))
    m["snapshots.files_reclaimed"] = extra.get("reclaimed", 0)

    selfs = self_times(a.spans)
    for key in PER_LAYER:
        if key.startswith("self.") and key != "self.unattributed_s":
            layer = key[len("self."):-len("_s")]
            m[key] = sum(selfs[s.id] for s in a.spans if s.layer == layer)
    m["self.unattributed_s"] = pass_s - sum(s.dur for s in a.spans if s.parent is None)
    m["trace.pass_s"] = pass_s
    return m
