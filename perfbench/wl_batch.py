"""graph_curation: the two batch jobs a user waits on, back to back in
one process: batches of ``operators/paths.py`` calls over a seeded graph
(perfbench/wl_graph.py), then a curation ingest epoch and a compaction
(perfbench/wl_curation.py).

Set-up loads both inputs, builds the dedup index and starts Python
workers. A phase is a fixed amount of work, ``rounds`` graph batches
and then one epoch; ``seconds`` does not extend it. The rate counts
operator calls: five per graph batch, and four per epoch
(extract_html_text, gopher_quality_filters, dedup_index_ingest_batch,
token_count) plus the compaction. Each part's own metrics (``batch_s``,
``docs_per_s``, ``paths.*``, ``dedup.*``, ...) are reported beside the
combined rate.
"""

from __future__ import annotations

import time

from perfbench import stats
from perfbench.wl_curation import PER_EPOCH, CurationWorkload
from perfbench.wl_graph import GraphWorkload

CALLS_PER_EPOCH = 4


class BatchWorkload:
    op_unit = "operator calls"

    def __init__(self, ctx) -> None:
        self.graph = GraphWorkload(ctx)
        self.curation = CurationWorkload(ctx)
        self.parts: list[tuple[stats.Phase, stats.Phase]] = []

    def load(self) -> None:
        self.graph.load()
        self.curation.load()

    def warmup(self) -> None:
        self.graph.warmup()
        self.curation.warmup()

    def measure(self, seconds: float, traced: bool,
                rounds: int = 1) -> stats.Phase:
        t0 = time.perf_counter()
        g = self.graph.measure(0, traced, rounds)
        c = self.curation.measure(0, traced)
        wall = time.perf_counter() - t0
        self.parts.append((g, c))
        calls = g.ops + CALLS_PER_EPOCH * c.ops // PER_EPOCH + 1
        return stats.Phase(calls, wall, g.op_ids + c.op_ids)

    def check(self) -> tuple[int, int, list[str]]:
        a1, f1, n1 = self.graph.check()
        a2, f2, n2 = self.curation.check()
        return a1 + a2, f1 + f2, (n1 + n2)[:5]

    def end_to_end(self, report, phase: stats.Phase, i: int) -> None:
        g, c = self.parts[i]
        self.graph.end_to_end(report, g, i)
        self.curation.end_to_end(report, c, i)

    def layers(self, report, phase: stats.Phase, i: int) -> None:
        g, c = self.parts[i]
        self.graph.layers(report, g, i)
        self.curation.layers(report, c, i)
