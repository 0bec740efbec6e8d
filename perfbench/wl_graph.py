"""Iterative graph operators, the first part of graph_curation: a fixed
batch of ``operators/paths.py`` calls over a seeded planted graph (long
chains joined to dense cliques).

Each call is timed in two parts: the call itself (operators checkpoint
eagerly, so most work lands here) and collecting its result. Outputs
are checked after the timed batch against networkx where it has an
exact answer, by invariants for MIS, and by a pure-Python replay for
label propagation and sampled betweenness.

Spark keeps its default join posture: adaptive execution turns most
joins into broadcast joins at run time, and some stay sort-merge, so
both join regimes run (perfbench/README.md has the counts).
"""

from __future__ import annotations

import time
from collections import Counter, deque

import networkx as nx
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, stats

BC_P = 0.5  # ~half the nodes: an empty sample would raise
BC_SALT = 0
BC_MAX_HOPS = 6
LPA_ITER = 5


def _ops(edges, nodes):
    from graphlite_spark.operators import paths as P

    return {
        "connected_components": lambda: P.connected_components(edges, nodes),
        "maximal_independent_set": lambda: P.maximal_independent_set(edges, nodes),
        "label_propagation": lambda: P.label_propagation(
            edges, nodes, num_iter=LPA_ITER),
        "betweenness_sampled": lambda: P.betweenness_sampled(
            edges, nodes, p=BC_P, salt=BC_SALT, max_hops=BC_MAX_HOPS,
            directed=False),
        "clustering_coefficient": lambda: P.clustering_coefficient(edges),
    }


OPS = list(_ops(None, None))


class GraphWorkload:
    op_unit = "operator calls"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.results: list[dict[str, list]] = []
        self.calls: list[list[tuple[str, int, float, float]]] = []
        self.phases: list[tuple[int, int]] = []  # batch index ranges

    def load(self) -> None:
        ctx, spark = self.ctx, self.ctx.spark
        data = ctx.tmp / "data"
        data.mkdir(parents=True, exist_ok=True)
        e = gen.planted_graph(ctx.seed)
        ids = np.unique(e)
        pq.write_table(pa.table({"_src": e[:, 0], "_dst": e[:, 1]}),
                       data / "edges.parquet")
        pq.write_table(pa.table({"node": ids}), data / "nodes.parquet")
        self.edges = spark.read.parquet(str(data / "edges.parquet")) \
            .localCheckpoint()
        self.nodes = spark.read.parquet(str(data / "nodes.parquet")) \
            .localCheckpoint()
        self.edge_list = [(int(a), int(b)) for a, b in e]
        self.node_list = [int(x) for x in ids]

    def warmup(self) -> None:
        """Nothing: a warm-up call costs as many actions as a timed one
        (every operator once on a six-node graph took about as long as
        the timed batch). In graph_curation the curation part's set-up
        runs before the first batch and warms the JVM."""

    def measure(self, seconds: float, traced: bool,
                rounds: int = 1) -> stats.Phase:
        """Whole batches: ``rounds`` of them, then more while
        ``seconds`` allow."""
        ctx = self.ctx
        t0 = time.perf_counter()
        op_ids = []
        while len(op_ids) < rounds * len(OPS) \
                or time.perf_counter() - t0 < seconds:
            calls, results = [], {}
            for name, f in _ops(self.edges, self.nodes).items():
                op_id = next(ctx.op_ids)
                with ctx.probe.op(op_id, name), \
                        ctx.tracer.span("op.operator", op_id):
                    a = time.perf_counter()
                    with ctx.tracer.span(f"paths.{name}", op_id):
                        df = f()
                    b = time.perf_counter()
                    with ctx.tracer.span("spark.collect", op_id):
                        results[name] = [tuple(r) for r in df.collect()]
                    c = time.perf_counter()
                calls.append((name, op_id, b - a, c - b))
                op_ids.append(op_id)
            self.calls.append(calls)
            self.results.append(results)
        wall = time.perf_counter() - t0
        self.phases.append((len(self.calls) - len(op_ids) // len(OPS),
                            len(self.calls)))
        return stats.Phase(len(op_ids), wall, op_ids)

    # -- correctness --------------------------------------------------
    def check(self) -> tuple[int, int, list[str]]:
        expect = _Expected(self.edge_list, self.node_list)
        failed, attempted, notes = 0, 0, []
        for results in self.results:
            for name, rows in results.items():
                attempted += 1
                bad = getattr(expect, name)(rows)
                if bad:
                    failed += 1
                    if len(notes) < 5:
                        notes.append(f"{name}: {bad}")
        return attempted, failed, notes

    # -- metrics ------------------------------------------------------
    def end_to_end(self, report, phase: stats.Phase, i: int) -> None:
        lo, hi = self.phases[i]
        batches = [sum(c[2] + c[3] for c in calls)
                   for calls in self.calls[lo:hi]]
        report.add("batch_s", stats.median(batches), "s", len(batches),
                   f"{len(OPS)} operator calls per batch")

    def layers(self, report, phase: stats.Phase, i: int) -> None:
        lo, hi = self.phases[i]
        probe = self.ctx.probe.ops
        for name in OPS:
            calls = [c for calls in self.calls[lo:hi] for c in calls
                     if c[0] == name]
            n = len(calls)
            report.add(f"paths.{name}.call_s",
                       stats.median([c[2] for c in calls]), "s", n)
            report.add(f"paths.{name}.result_s",
                       stats.median([c[3] for c in calls]), "s", n)
            report.add(f"paths.{name}.jobs",
                       stats.median([probe[c[1]].jobs for c in calls]),
                       "count", n)
            report.add(f"paths.{name}.shuffle_mb",
                       stats.median([probe[c[1]].shuffle_write_mb
                                     for c in calls]), "MB", n)


class _Expected:
    """Reference answers and invariants for the batch's operators.
    Each method returns '' when the rows are right, else a reason."""

    def __init__(self, edges, nodes) -> None:
        self.g = nx.Graph()
        self.g.add_nodes_from(nodes)
        self.g.add_edges_from(edges)
        self.nodes = nodes

    def connected_components(self, rows) -> str:
        want = {v: min(c) for c in nx.connected_components(self.g) for v in c}
        got = dict(rows)
        return "" if got == want else "component labels differ from networkx"

    def maximal_independent_set(self, rows) -> str:
        mis = {r[0] for r in rows}
        if any(a in mis and b in mis for a, b in self.g.edges):
            return "two adjacent nodes in the set"
        if any(v not in mis and not any(u in mis for u in self.g[v])
               for v in self.g):
            return "set is not maximal"
        return ""

    def label_propagation(self, rows) -> str:
        """Synchronous replay: every node adopts its neighbours' most
        frequent label, ties to the smallest; isolated nodes keep theirs."""
        label = {v: v for v in self.nodes}
        for _ in range(LPA_ITER):
            new = {}
            for v in self.g:
                votes = Counter(label[u] for u in self.g[v] if u != v)
                if not votes:
                    new[v] = label[v]
                    continue
                top = max(votes.values())
                new[v] = min(lab for lab, n in votes.items() if n == top)
            label = new
        return "" if dict(rows) == label else "labels differ from the replay"

    def betweenness_sampled(self, rows) -> str:
        cut = int(BC_P * 2 ** 32)
        srcs = [v for v in self.nodes
                if ((v + BC_SALT) * 2654435761) % 2 ** 32 < cut]
        bc = dict.fromkeys(self.g, 0.0)
        for s in srcs:
            _brandes_from(self.g, s, BC_MAX_HOPS, bc)
        scale = len(self.nodes) / len(srcs)
        got = dict(rows)
        for v in set(got) | {v for v, x in bc.items() if x}:
            if abs(got.get(v, 0.0) - round(bc[v] * scale, 6)) > 1e-5:
                return f"node {v}: {got.get(v)} vs replay {bc[v] * scale}"
        return ""

    def clustering_coefficient(self, rows) -> str:
        cc, tri = nx.clustering(self.g), nx.triangles(self.g)
        for v, deg, t, c in rows:
            if deg != self.g.degree(v) or t != tri[v] or abs(c - cc[v]) > 1e-6:
                return f"node {v} differs from networkx"
        return "" if len(rows) == len(self.g) else "missing nodes"


def _brandes_from(g, s, max_hops: int, bc: dict) -> None:
    """Accumulate source ``s``'s Brandes dependencies into ``bc`` over
    targets within ``max_hops``."""
    dist, sigma, order = {s: 0}, {s: 1}, []
    q = deque([s])
    while q:
        v = q.popleft()
        order.append(v)
        if dist[v] == max_hops:
            continue
        for w in g[v]:
            if w not in dist:
                dist[w] = dist[v] + 1
                sigma[w] = 0
                q.append(w)
            if dist[w] == dist[v] + 1:
                sigma[w] += sigma[v]
    delta = dict.fromkeys(order, 0.0)
    for w in reversed(order):
        for v in g[w]:
            if dist.get(v) == dist[w] - 1:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
        if w != s:
            bc[w] += delta[w]
