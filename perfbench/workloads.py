"""The three benchmark workloads: inputs, the timed job, and its output checks.

Each workload builds its input graph from the seed with the engine's own
transcript generator, then runs one analytics job per timed call through the
engine's public functions only. Every operator call returns a small
fingerprint computed in Spark (the action that forces the result); the
benchmark compares it with an engine-free reference outside the timed region.
"""

from __future__ import annotations

import inspect
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import functions as F

import reference as ref
from avgdist_rs_spark.operators.avgdist import avgdist_main
from avgdist_rs_spark.operators.bfs import bfs_csr
from avgdist_rs_spark.operators.centrality import harmonic_centrality
from avgdist_rs_spark.operators.components import connected_components
from avgdist_rs_spark.operators.labelprop import label_propagation
from avgdist_rs_spark.operators.pagerank import pagerank
from avgdist_rs_spark.operators.scc import strongly_connected_components
from avgdist_rs_spark.sources.transcripts import synth_transcripts, transcript_graph
from avgdist_rs_spark.streaming.superstep import SuperstepMetrics

#: |Σ PageRank − 1| allowed: 10 float64 iterations over ~10^5 terms
RANK_SUM_TOL = 1e-9
#: relative tolerance on float sums (sampled harmonic centrality, repeated
#: aggregates): float64 sums of the same terms in another order
FLOAT_RTOL = 1e-12


@dataclass
class Result:
    """One operator call: its fingerprint and what it reports about its work."""

    fingerprint: object
    handle: object = None  # kept for the full check after the timed loop
    seeds_bfsed: int = 0
    supersteps: int = 0
    loop_s: float = 0.0  # wall time of the call's superstep loops


@dataclass
class Call:
    span: str
    run: Callable  # (graph) -> Result
    bfs: bool = False  # counts toward sources_per_s
    loop: bool = False  # counts toward supersteps_per_min


@dataclass
class Workload:
    name: str
    graph_args: dict
    adjacency: str | None  # "broadcast", "shards" or None
    calls: list[Call]
    expect: Callable  # (graph, edges) -> expectation dict
    check: Callable  # (span, Result, expectation, first fingerprints) -> error or None
    full_check: Callable  # (graph, edges, {span: Result}, expectation) -> [errors]
    params: dict = field(default_factory=dict)

    def build_inputs(self, spark, seed: int, tracer):
        """Generate the transcript table, build the graph and its adjacency.
        Returns (graph, layer facts measured on the way)."""
        facts = {}
        with tracer.span("sources.synth"):
            tr = synth_transcripts(spark, seed=seed, **self.graph_args["synth"]).persist()
            facts["transcript_rows"] = tr.count()
        with tracer.span("plans.graph.build"):
            g = transcript_graph(tr, tool_responses=self.graph_args["tool_responses"])
        tr.unpersist()
        facts["vertices"], facts["edges"] = g.num_nodes, g.num_edges
        if self.adjacency == "broadcast":
            with tracer.span("plans.graph.csr_broadcast"):
                fwd = g.csr_broadcast(transposed=False)
                bwd = g.csr_broadcast(transposed=True)
            # computed from the broadcast arrays' sizes, not measured on the wire
            facts["csr_broadcast_mb"] = sum(
                b.value["offsets"].nbytes + b.value["targets"].nbytes for b in (fwd, bwd)
            ) / 2**20
        elif self.adjacency == "shards":
            with tracer.span("plans.graph.csr_shards"):
                g.csr_shards(transposed=False)
            n, m = g.num_nodes, g.num_edges
            buckets = -(-n // g.shard_width())
            # computed: int64 offsets (one per vertex + one per shard) + int32 targets
            facts["csr_shards_mb"] = ((n + buckets) * 8 + m * 4) / 2**20
        return g, facts


def collect_edges(graph) -> tuple[np.ndarray, np.ndarray]:
    tbl = graph.edges.select("src", "dst").toArrow()
    return (
        tbl.column("src").to_numpy().astype(np.int64),
        tbl.column("dst").to_numpy().astype(np.int64),
    )


def _labels_fp(df, col: str) -> dict:
    row = df.agg(
        F.count("*").alias("rows"),
        F.countDistinct(col).alias("distinct"),
        F.sum(col).alias("label_sum"),
    ).collect()[0]
    return row.asDict()


def _collect_labels(df, col: str, n: int) -> np.ndarray:
    pdf = df.select("v", col).toPandas()
    out = np.full(n, -1, dtype=np.int64)
    out[pdf["v"].to_numpy()] = pdf[col].to_numpy()
    return out


def same(a, b) -> bool:
    """Fingerprint equality; floats may differ in the last bits because Spark
    sums doubles in whatever order partial aggregates arrive."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, (tuple, list)) and isinstance(b, (tuple, list)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= FLOAT_RTOL * max(abs(a), abs(b))
    return a == b


def _batches_fp(run) -> tuple:
    return tuple((it["adist"], it["diameter_max"]) for it in run.iterations)


# ----------------------------------------------------------------- estimator_bcast
#: hub graph: every tool vertex is shared by all conversations and feeds the
#: turn after each call, so the graph is one short-diameter component
EST_GRAPH = {
    "synth": {"n_convs": 1000, "mean_turns": 8, "n_tools": 32, "tool_prob": 0.3},
    "tool_responses": True,
}
EST = {
    "uniform": {"slot": 10, "eps": 0.03},
    "weighted": {"slot": 10, "eps": 0.1, "max_batches": 1},
    "harmonic": {"eps": 0.1},
    "checked_batches": 12,  # uniform batches replayed by the numpy BFS
}


def _est_calls(seed: int) -> list[Call]:
    def uniform(g):
        run = avgdist_main(g, dummy=True, seed=seed, impl="csr", **EST["uniform"])
        return Result(_batches_fp(run), seeds_bfsed=run.seeds_bfsed)

    def weighted(g):
        run = avgdist_main(g, seed=seed, impl="csr", **EST["weighted"])
        return Result(_batches_fp(run), seeds_bfsed=run.seeds_bfsed)

    def harmonic(g):
        df = harmonic_centrality(g, exact=False, seed=seed, impl="csr", **EST["harmonic"])
        row = df.agg(
            F.count("*").alias("rows"),
            F.sum("coverage").alias("coverage"),
            F.sum("harmonic").alias("harmonic"),
        ).collect()[0]
        return Result(row.asDict(), handle=df)

    return [
        Call("operators.avgdist.uniform", uniform, bfs=True),
        Call("operators.avgdist.weighted", weighted, bfs=True),
        Call("operators.centrality.harmonic", harmonic),
    ]


def _est_expect(seed: int):
    def expect(g, edges):
        n = g.num_nodes
        adj = ref.Adjacency(n, *edges)
        u = EST["uniform"]
        batches = ref.uniform_batches(n, u["eps"], u["slot"], seed, None)
        step = max(1, len(batches) // EST["checked_batches"])
        checked = {}
        for i in range(0, len(batches), step):
            stats = [ref.seed_stats(adj.distances(int(s))) for s in batches[i]]
            checked[i] = ref.batch_adist(stats, n)
        h = EST["harmonic"]
        sample = ref.uniform_batches(n, h["eps"], 1 << 62, seed, None)[0]
        harm, cov = ref.harmonic(adj, sample, sample.size)
        return {
            "operators.avgdist.uniform": {"batches": len(batches), "checked": checked},
            "operators.centrality.harmonic": {
                "rows": int((cov > 0).sum()), "coverage": int(cov.sum()),
                "harmonic": float(harm.sum()), "harm": harm, "cov": cov,
            },
        }

    return expect


def _est_check(span: str, res: Result, exp: dict, first: dict) -> str | None:
    if span == "operators.avgdist.uniform":
        e = exp[span]
        fp = res.fingerprint
        if len(fp) != e["batches"]:
            return f"{len(fp)} batches, expected {e['batches']}"
        for i, want in e["checked"].items():
            if fp[i] != want:
                return f"batch {i}: (adist, dia) {fp[i]} != numpy BFS {want}"
    elif span == "operators.avgdist.weighted":
        fp = res.fingerprint
        if len(fp) != EST["weighted"]["max_batches"]:
            return f"{len(fp)} batches, expected {EST['weighted']['max_batches']}"
        if any(a is None or not 0.0 < a <= 1.0 for a, _ in fp):
            return f"batch averages out of (0, 1]: {fp}"
    elif span == "operators.centrality.harmonic":
        e, fp = exp[span], res.fingerprint
        if fp["rows"] != e["rows"] or fp["coverage"] != e["coverage"]:
            return f"rows/coverage {fp['rows']}/{fp['coverage']} != {e['rows']}/{e['coverage']}"
        if abs(fp["harmonic"] - e["harmonic"]) > FLOAT_RTOL * e["harmonic"]:
            return f"Σ harmonic {fp['harmonic']!r} != {e['harmonic']!r}"
    # the engine is deterministic for a fixed seed: every call repeats the first
    if span in first and not same(res.fingerprint, first[span]):
        return f"fingerprint differs from the first call: {res.fingerprint} vs {first[span]}"
    return None


def _est_full(g, edges, last: dict, exp: dict) -> list[str]:
    e = exp["operators.centrality.harmonic"]
    pdf = last["operators.centrality.harmonic"].handle.toPandas()
    v = pdf["v"].to_numpy()
    errs = []
    if not np.array_equal(pdf["coverage"].to_numpy(), e["cov"][v]):
        errs.append("harmonic: per-vertex coverage differs from the numpy BFS")
    want = e["harm"][v]
    if not np.all(np.abs(pdf["harmonic"].to_numpy() - want) <= FLOAT_RTOL * want):
        errs.append("harmonic: per-vertex centrality differs from the numpy BFS")
    return errs


# ----------------------------------------------------------------- sharded frontier BFS
#: the uniform sampler's ε for the frontier-BFS calls: it only sets how many
#: draws the sampler could make; ``max_batches`` stops it well before
SHARDS_EPS = 0.01
FUSE_BATCHES = inspect.signature(avgdist_main).parameters["fuse_batches"].default


def _shards_call(seed: int, slot: int, max_batches: int) -> Call:
    """``avgdist_main`` on the distributed-CSR frontier path (``bfs_frontier``
    over ``csr_shards``): ``slot`` sources per batch, ``max_batches`` batches."""
    def shards(g):
        run = avgdist_main(g, slot=slot, eps=SHARDS_EPS, dummy=True, seed=seed,
                           impl="shards", max_batches=max_batches)
        fp = _batches_fp(run)
        # avgdist_main runs the sources of FUSE_BATCHES batches as one
        # frontier loop: one superstep per BFS level plus the empty one
        levels = sum(max(d for _, d in fp[i:i + FUSE_BATCHES]) + 1
                     for i in range(0, len(fp), FUSE_BATCHES))
        return Result(fp, seeds_bfsed=run.seeds_bfsed, supersteps=levels)

    return Call("operators.avgdist.shards", shards, bfs=True, loop=True)


def _shards_expect(n: int, adj, seed: int, slot: int, max_batches: int) -> dict:
    """Each batch's ``(adist, diameter)`` from a numpy BFS of its sources."""
    batches = ref.uniform_batches(n, SHARDS_EPS, slot, seed, max_batches)
    return {
        "shard_batches": batches,
        "operators.avgdist.shards": tuple(
            ref.batch_adist([ref.seed_stats(adj.distances(int(s))) for s in b], n)
            for b in batches
        ),
    }


def _shards_full(g, last: dict, exp: dict) -> list[str]:
    """The sharded path must agree batch by batch with the broadcast kernel
    (``bfs_csr``) run on the same sources."""
    n = g.num_nodes
    batches = exp["shard_batches"]
    pdf = bfs_csr(g, np.unique(np.concatenate(batches))).toPandas().set_index("seed")
    csr = tuple(
        ref.batch_adist([tuple(int(x) for x in pdf.loc[int(s), ["dia", "dist_sum", "reached"]])
                         for s in b], n)
        for b in batches
    )
    got = last["operators.avgdist.shards"].fingerprint
    if got != csr:
        return [f"shards vs bfs_csr: {got} vs {csr}"]
    return []


# ----------------------------------------------------------------- fixpoints_hub
#: a smaller hub graph of two-turn conversations and four tools: the loops'
#: cost is per superstep, not per row, at this size, and two turns keep every
#: fixpoint short (CC 5 supersteps, frontier BFS 3, SCC resolved by trimming
#: alone) so a run fits a warm-up job and three timed ones; graphs of 2-4-turn
#: conversations have cycles, need 14-22 SCC supersteps and make a ~20 s job
FIX_GRAPH = {
    "synth": {"n_convs": 1000, "mean_turns": 1, "n_tools": 4, "tool_prob": 0.5},
    "tool_responses": True,
}
#: one batch of 32 sources: the frontier BFS runs to the graph's diameter,
#: which two-turn conversations keep at a few levels whatever the seed
FIX = {"pagerank_iterations": 3, "labelprop_iterations": 2,
       "shards_slot": 32, "shards_batches": 1}


def _labelled(op, col: str, **kw) -> Callable:
    """A call of a label-producing fixpoint operator, fingerprinted in Spark."""
    def call(g):
        met = SuperstepMetrics()
        df = op(g, metrics=met, **kw)
        return Result(_labels_fp(df, col), handle=df,
                      supersteps=met.total_supersteps, loop_s=met.total_wall_s)
    return call


#: label operators checked against an engine-free labelling, by expectation key
_EXACT_LABELS = {"operators.components": "weak", "operators.scc": "strong"}


def _expect_labels(g, edges, adj) -> dict:
    n = g.num_nodes
    exp = {"n": n, "weak": ref.weak_components(n, *edges), "strong": ref.strong_components(adj)}
    for span, key in _EXACT_LABELS.items():
        exp[span] = ref.describe(exp[key])
    return exp


def _check_labels(span: str, fp, exp: dict) -> str | None:
    if span in _EXACT_LABELS and fp != exp[span]:
        return f"labels {fp} != reference {exp[span]}"
    if span == "operators.labelprop" and fp["rows"] != exp["n"]:
        return f"labelprop rows {fp['rows']} != {exp['n']}"
    return None


def _full_labels(g, last: dict, exp: dict) -> list[str]:
    errs = []
    for span, key in _EXACT_LABELS.items():
        if span in last:
            got = _collect_labels(last[span].handle, "component", g.num_nodes)
            if not np.array_equal(got, exp[key]):
                errs.append(f"{span}: {int((got != exp[key]).sum())} vertices labelled differently")
    return errs


def _fix_calls(seed: int) -> list[Call]:
    def pr(g):
        met = SuperstepMetrics(name="pagerank")
        df = pagerank(g, iterations=FIX["pagerank_iterations"], metrics=met)
        row = df.agg(F.count("*").alias("rows"), F.sum("rank").alias("rank_sum")).collect()[0]
        return Result(row.asDict(), supersteps=met.total_supersteps, loop_s=met.total_wall_s)

    return [
        Call("operators.pagerank", pr, loop=True),
        Call("operators.components", _labelled(connected_components, "component"), loop=True),
        Call("operators.labelprop",
             _labelled(label_propagation, "label", iterations=FIX["labelprop_iterations"]),
             loop=True),
        Call("operators.scc", _labelled(strongly_connected_components, "component"), loop=True),
        _shards_call(seed, FIX["shards_slot"], FIX["shards_batches"]),
    ]


def _fix_expect(seed: int):
    def expect(g, edges):
        adj = ref.Adjacency(g.num_nodes, *edges)
        return {**_expect_labels(g, edges, adj),
                **_shards_expect(g.num_nodes, adj, seed, FIX["shards_slot"], FIX["shards_batches"])}

    return expect


def _fix_check(span: str, res: Result, exp: dict, first: dict) -> str | None:
    fp = res.fingerprint
    if span == "operators.pagerank":
        if fp["rows"] != exp["n"] or abs(fp["rank_sum"] - 1.0) > RANK_SUM_TOL:
            return f"pagerank rows {fp['rows']} (want {exp['n']}), Σrank {fp['rank_sum']!r}"
    if span == "operators.avgdist.shards" and fp != exp[span]:
        return f"{span}: {fp} != numpy BFS {exp[span]}"
    msg = _check_labels(span, fp, exp)
    if msg is None and span in first and not same(fp, first[span]):
        msg = f"fingerprint differs from the first call: {fp} vs {first[span]}"
    return msg


def _fix_full(g, edges, last: dict, exp: dict) -> list[str]:
    return _full_labels(g, last, exp) + _shards_full(g, last, exp)


# ----------------------------------------------------------------- longdiam_shards
#: one shared tool and short conversations: chains of conversations joined
#: through a single hub; 256 sources, run as 16 frontier loops of 16
LONG_GRAPH = {
    "synth": {"n_convs": 3000, "mean_turns": 3, "n_tools": 1, "tool_prob": 0.1},
    "tool_responses": True,
}
#: one source per batch, so each batch reports one source's (adist, dia)
LONG = {"shards_slot": 1, "shards_batches": 256}


def _long_calls(seed: int) -> list[Call]:
    return [
        _shards_call(seed, LONG["shards_slot"], LONG["shards_batches"]),
        Call("operators.components", _labelled(connected_components, "component"), loop=True),
        Call("operators.scc", _labelled(strongly_connected_components, "component"), loop=True),
    ]


def _long_expect(seed: int):
    def expect(g, edges):
        adj = ref.Adjacency(g.num_nodes, *edges)
        return {**_expect_labels(g, edges, adj),
                **_shards_expect(g.num_nodes, adj, seed, LONG["shards_slot"], LONG["shards_batches"])}

    return expect


def _long_check(span: str, res: Result, exp: dict, first: dict) -> str | None:
    if span == "operators.avgdist.shards" and res.fingerprint != exp[span]:
        return f"{span}: {res.fingerprint} != numpy BFS {exp[span]}"
    return _check_labels(span, res.fingerprint, exp)


def _long_full(g, edges, last: dict, exp: dict) -> list[str]:
    return _full_labels(g, last, exp) + _shards_full(g, last, exp)


def get(name: str, seed: int) -> Workload:
    if name == "estimator_bcast":
        return Workload(
            name, EST_GRAPH, "broadcast", _est_calls(seed), _est_expect(seed), _est_check, _est_full,
            params=EST,
        )
    if name == "fixpoints_hub":
        return Workload(
            name, FIX_GRAPH, "shards", _fix_calls(seed), _fix_expect(seed), _fix_check, _fix_full,
            params=FIX,
        )
    if name == "longdiam_shards":
        return Workload(
            name, LONG_GRAPH, "shards", _long_calls(seed), _long_expect(seed), _long_check,
            _long_full, params=LONG,
        )
    raise KeyError(name)
