"""Metric definitions and the run report.

``END_TO_END`` come from the untraced phase; ``PER_LAYER`` from the traced
phase of a ``--trace 1`` run, Spark counters attributed to spans by job
group. A per-layer value is the median over the timed jobs of that job's
value; set-up layers are measured once per traced phase. A layer the
workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

from spans import inclusive, skew

END_TO_END = [
    ("setup_s", "s"),
    ("job_s", "s"),
    ("peak_mem_mb", "MB"),
]

FIXPOINT_OPS = ("pagerank", "components", "labelprop", "scc")

PER_LAYER = [
    ("sources.synth_s", "s"),
    ("plans.graph.build_s", "s"),
    ("plans.graph.build_jobs", "count"),
    ("plans.graph.build_shuffle_mb", "MB"),
    ("plans.graph.csr_broadcast_s", "s"),
    ("plans.graph.csr_broadcast_mb", "MB"),
    ("plans.graph.csr_shards_s", "s"),
    ("plans.graph.csr_shards_mb", "MB"),
    ("operators.bfs.kernel_python_s", "s"),
    ("operators.bfs.kernel_tasks", "count"),
    ("operators.bfs.task_skew", "ratio"),
    ("operators.bfs.python_boot_s", "s"),
    ("operators.bfs.frontier_supersteps", "count"),
    ("operators.bfs.frontier_jobs_per_superstep", "ratio"),
    ("operators.bfs.frontier_s_per_superstep", "s"),
    ("operators.bfs.gather_python_s", "s"),
    ("operators.bfs.frontier_shuffle_mb", "MB"),
    ("operators.avgdist.uniform_s", "s"),
    ("operators.avgdist.weighted_s", "s"),
    ("operators.avgdist.weighted_jobs_per_batch", "ratio"),
    ("operators.avgdist.seeds_bfsed", "count"),
    ("operators.centrality.harmonic_s", "s"),
    ("operators.centrality.capture_rows", "count"),
    ("operators.centrality.shuffle_mb", "MB"),
    *[(f"operators.{op}.{k}", u) for op in FIXPOINT_OPS
      for k, u in (("s", "s"), ("supersteps", "count"), ("jobs", "count"), ("shuffle_mb", "MB"))],
    ("streaming.superstep.jobs_per_superstep", "ratio"),
    ("streaming.superstep.s_per_superstep", "s"),
    ("streaming.superstep.parquet_cuts", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_records", "count"),
    ("spark.spill_mb", "MB"),
    ("spark.failed_tasks", "count"),
    ("spark.error_lines", "count"),
    ("sources_per_s", "1/s"),
    ("supersteps_per_min", "1/min"),
    ("trace.job_s", "s"),
    ("trace.overhead_s", "s"),
]

#: the estimator's broadcast-CSR kernel calls (their MapInPandas nodes)
KERNEL_SPANS = (
    "operators.avgdist.uniform", "operators.avgdist.weighted", "operators.centrality.harmonic",
)


def percentile_label(samples: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it; the
    maximum when there are too few samples for any."""
    n = len(samples)
    s = sorted(samples)
    for p in (99, 95, 90):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}", s[min(n - 1, int(n * p / 100))]
    return "max", s[-1]


def _py(c: dict, node: str, key: str) -> float:
    return c["python"].get(node, {}).get(key, 0)


class _Layers:
    def __init__(self, phase, own: dict) -> None:
        self.p, self.tr, self.own = phase, phase.tracer, own

    def result(self, job: dict, name: str):
        return job["results"].get(name)

    def done(self, job: dict, names) -> list[tuple[dict, object]]:
        """(span, Result) of the named calls of ``job`` that returned."""
        return [(s, r) for s in self.calls(job, names)
                if (r := self.result(job, s["name"])) is not None]

    def incl(self, span: dict) -> dict:
        return inclusive(self.tr, self.own, span["id"])

    def once(self, name: str, pick) -> float:
        spans = self.tr.named(name)
        return float(pick(spans[-1])) if spans else 0.0

    def calls(self, job: dict, names) -> list[dict]:
        jid = job["span"]["id"]
        return [s for s in self.tr.spans if s["parent"] == jid and s["name"] in names]

    def per_job(self, fn) -> float:
        """Median over timed jobs of ``fn(job)``; 0 when no job ran."""
        vals = [fn(j) for j in self.p.jobs]
        return float(statistics.median(vals)) if vals else 0.0

    def call_sum(self, names, fn) -> float:
        """Median over jobs of Σ fn(inclusive counters, span) over the named calls."""
        names = (names,) if isinstance(names, str) else names
        return self.per_job(lambda j: sum(fn(self.incl(s), s) for s in self.calls(j, names)))

    def ratio(self, num, den) -> float:
        """Median over jobs of num(job)/den(job), skipping jobs where den is 0."""
        vals = [num(j) / den(j) for j in self.p.jobs if den(j)]
        return float(statistics.median(vals)) if vals else 0.0


def sources_per_s(phase) -> float:
    """Distinct BFS sources per second of estimator time, over every timed
    job (0: the workload makes no BFS calls)."""
    L = _Layers(phase, None)
    names = [c.span for c in phase.wl.calls if c.bfs]
    seeds = wall = 0.0
    for j in phase.jobs:
        for s, r in L.done(j, names):
            seeds += r.seeds_bfsed
            wall += L.tr.wall(s)
    return seeds / wall if wall else 0.0


def _loop_wall(L: _Layers, span: dict, res) -> float:
    """Wall time of a call's superstep loops: as the operator's
    ``SuperstepMetrics`` recorded it, else the call's span."""
    return res.loop_s or L.tr.wall(span)


def supersteps_per_min(phase) -> float:
    """Supersteps over the wall time of those loops, over every timed job
    (0: the workload runs no superstep loops)."""
    L = _Layers(phase, None)
    loops = [c.span for c in phase.wl.calls if c.loop]
    steps = wall = 0.0
    for j in phase.jobs:
        for s, r in L.done(j, loops):
            steps += r.supersteps
            wall += _loop_wall(L, s, r)
    return 60.0 * steps / wall if wall else 0.0


def per_layer(traced, own: dict, untraced, error_lines: int) -> dict:
    L = _Layers(traced, own)
    wall = L.tr.wall
    m: dict[str, float] = {}
    m["sources.synth_s"] = L.once("sources.synth", wall)
    m["plans.graph.build_s"] = L.once("plans.graph.build", wall)
    m["plans.graph.build_jobs"] = L.once("plans.graph.build", lambda s: L.incl(s)["jobs"])
    m["plans.graph.build_shuffle_mb"] = L.once(
        "plans.graph.build", lambda s: L.incl(s)["shuffle_write_mb"])
    m["plans.graph.csr_broadcast_s"] = L.once("plans.graph.csr_broadcast", wall)
    m["plans.graph.csr_broadcast_mb"] = traced.facts.get("csr_broadcast_mb", 0.0)
    m["plans.graph.csr_shards_s"] = L.once("plans.graph.csr_shards", wall)
    m["plans.graph.csr_shards_mb"] = traced.facts.get("csr_shards_mb", 0.0)

    m["operators.bfs.kernel_python_s"] = L.call_sum(
        KERNEL_SPANS, lambda c, s: _py(c, "MapInPandas", "run_s"))
    m["operators.bfs.kernel_tasks"] = L.call_sum(
        KERNEL_SPANS, lambda c, s: _py(c, "MapInPandas", "tasks"))
    m["operators.bfs.task_skew"] = L.per_job(lambda j: skew([
        t for s in L.calls(j, KERNEL_SPANS)
        for t in L.incl(s)["python"].get("MapInPandas", {}).get("task_run_s", [])]))
    m["operators.bfs.python_boot_s"] = L.call_sum(
        KERNEL_SPANS, lambda c, s: _py(c, "MapInPandas", "boot_s"))

    result = L.result
    shards = "operators.avgdist.shards"

    def shard_steps(j):
        r = result(j, shards)
        return r.supersteps if r else 0

    m["operators.bfs.frontier_supersteps"] = L.per_job(shard_steps)
    m["operators.bfs.frontier_jobs_per_superstep"] = L.ratio(
        lambda j: sum(L.incl(s)["jobs"] for s in L.calls(j, (shards,))), shard_steps)
    m["operators.bfs.frontier_s_per_superstep"] = L.ratio(
        lambda j: sum(wall(s) for s in L.calls(j, (shards,))), shard_steps)
    m["operators.bfs.gather_python_s"] = L.call_sum(
        shards, lambda c, s: _py(c, "FlatMapCoGroupsInPandas", "run_s"))
    m["operators.bfs.frontier_shuffle_mb"] = L.call_sum(
        shards, lambda c, s: c["shuffle_write_mb"])

    weighted = traced.wl.params.get("weighted", {}).get("max_batches", 0)
    m["operators.avgdist.uniform_s"] = L.call_sum("operators.avgdist.uniform", lambda c, s: wall(s))
    m["operators.avgdist.weighted_s"] = L.call_sum(
        "operators.avgdist.weighted", lambda c, s: wall(s))
    m["operators.avgdist.weighted_jobs_per_batch"] = L.call_sum(
        "operators.avgdist.weighted", lambda c, s: c["jobs"] / weighted)
    bfs_calls = [c.span for c in traced.wl.calls if c.bfs]
    m["operators.avgdist.seeds_bfsed"] = L.per_job(
        lambda j: sum(r.seeds_bfsed for n, r in j["results"].items() if n in bfs_calls))
    harm = "operators.centrality.harmonic"
    m["operators.centrality.harmonic_s"] = L.call_sum(harm, lambda c, s: wall(s))
    m["operators.centrality.capture_rows"] = L.call_sum(
        harm, lambda c, s: _py(c, "MapInPandas", "rows"))
    m["operators.centrality.shuffle_mb"] = L.call_sum(harm, lambda c, s: c["shuffle_write_mb"])

    for op in FIXPOINT_OPS:
        name = f"operators.{op}"
        m[f"{name}.s"] = L.call_sum(name, lambda c, s: wall(s))
        m[f"{name}.supersteps"] = L.per_job(
            lambda j, n=name: result(j, n).supersteps if result(j, n) else 0)
        m[f"{name}.jobs"] = L.call_sum(name, lambda c, s: c["jobs"])
        m[f"{name}.shuffle_mb"] = L.call_sum(name, lambda c, s: c["shuffle_write_mb"])

    loops = [c.span for c in traced.wl.calls if c.loop]

    def loop_steps(j):
        return sum(result(j, n).supersteps for n in loops if result(j, n))

    m["streaming.superstep.jobs_per_superstep"] = L.ratio(
        lambda j: sum(L.incl(s)["jobs"] for s in L.calls(j, loops)), loop_steps)
    m["streaming.superstep.s_per_superstep"] = L.ratio(
        lambda j: sum(_loop_wall(L, s, r) for s, r in L.done(j, loops)), loop_steps)
    m["streaming.superstep.parquet_cuts"] = L.per_job(lambda j: j["parquet_cuts"])

    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_mb", "shuffle_write_mb", "shuffle_records", "spill_mb"):
        m[f"spark.{k}"] = L.per_job(lambda j, k=k: L.incl(j["span"])[k])
    m["spark.failed_tasks"] = float(sum(c["failed_tasks"] for c in own.values()))
    m["spark.error_lines"] = float(error_lines)

    m["sources_per_s"] = sources_per_s(untraced)
    m["supersteps_per_min"] = supersteps_per_min(untraced)
    m["trace.job_s"] = statistics.median(traced.job_s())
    m["trace.overhead_s"] = m["trace.job_s"] - statistics.median(untraced.job_s())
    return m


def _span_rows(phase, own: dict | None) -> list[dict]:
    rows = []
    for s in phase.tracer.spans:
        row = {k: v for k, v in s.items() if k not in ("start", "end")}
        row["wall_s"] = phase.tracer.wall(s)
        row["self_s"] = phase.tracer.self_time(s)
        if own is not None:
            row["spark_self"] = {k: v for k, v in own[s["id"]].items() if k != "task_run_ms"}
            incl = inclusive(phase.tracer, own, s["id"])
            row["spark"] = {k: v for k, v in incl.items() if k != "task_run_ms"}
        rows.append(row)
    return rows


def report(args, record: dict) -> dict:
    """Print the run's metrics as ``name value unit`` lines, turn the record
    into plain JSON, and return the final result object."""
    plain = record.pop("untraced")
    traced = record.pop("traced", None)
    own = record.pop("spark_by_span", None)
    jobs = plain.job_s()
    tag, tail = ("", 0.0)
    if jobs:
        tag, tail = percentile_label(jobs)
    e2e = {
        "setup_s": record["session_s"] + plain.setup_s + plain.warmup_s,
        "job_s": statistics.median(jobs),
        "peak_mem_mb": record["peak_mem_mb"],
    }
    phases = [p for p in (plain, traced) if p is not None]
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    errors = [e for p in phases for e in p.errors]
    extra = {
        f"job_s_{tag}": tail,
        "job_samples": len(jobs),
        "session_s": record["session_s"],
        "setup_once_s": plain.setup_s,
        "warmup_s": plain.warmup_s,
        "expect_s": plain.expect_s,
        "full_check_s": plain.full_check_s,
        "sources_per_s": sources_per_s(plain),
        "supersteps_per_min": supersteps_per_min(plain),
        "failed_frac": failed / attempted if attempted else 1.0,
        "spark.error_lines": record["error_lines"],
    }
    units = dict(END_TO_END) | {
        f"job_s_{tag}": "s", "job_samples": "count", "session_s": "s",
        "setup_once_s": "s", "warmup_s": "s", "expect_s": "s", "full_check_s": "s",
        "sources_per_s": "1/s", "supersteps_per_min": "1/min",
        "failed_frac": "ratio", "spark.error_lines": "count",
    }
    for k, v in record["labels"].items():
        print(f"# {k} = {v}")
    for k, v in {**e2e, **extra}.items():
        print(f"{k} {v} {units[k]}")
    for msg in record["first_errors"]:
        print(f"# spark ERROR: {msg}")
    for msg in errors:
        print(f"CHECK FAILED: {msg}")

    if traced is not None:
        layers = per_layer(traced, own, plain, record["error_lines"])
        for name, unit in PER_LAYER:
            print(f"{name} {layers[name]} {unit}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}

    record["end_to_end"] = e2e
    record["extra"] = extra
    record["errors"] = errors
    record["facts"] = plain.facts
    record["spans"] = _span_rows(plain, None)
    if traced is not None:
        record["per_layer"] = {n: metrics[n]["value"] for n in metrics}
        record["traced_spans"] = _span_rows(traced, own)
    return {
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
