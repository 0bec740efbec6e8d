"""Tests of the benchmark's own code: generators, reporting rules,
span arithmetic and the output checks.

    python3 -m pytest perfbench/tests -q

The last test runs every workload end to end on a second seed (a few
minutes: each run starts its own Spark session).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, stats  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    Tracer,
    parse_sql_metric,
    self_times,
    union_length,
)

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


# -- generators -------------------------------------------------------

def test_tpch_tables_are_a_pure_function_of_the_seed():
    a, b, c = gen.tpch_tables(3, 300), gen.tpch_tables(3, 300), gen.tpch_tables(4, 300)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["orders"].equals(c["orders"])
    assert {k: t.num_rows for k, t in a.items() if k != "lineitem"} == \
        {k: t.num_rows for k, t in c.items() if k != "lineitem"}


def test_planted_graph_is_pure_and_same_shape_for_every_seed():
    a, b, c = gen.planted_graph(1), gen.planted_graph(1), gen.planted_graph(2)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)
    assert a.shape == c.shape
    assert (a[:, 0] < a[:, 1]).all()


def test_planted_graph_always_samples_a_betweenness_source():
    # betweenness_sampled raises on an empty sample; evenly spaced ids
    # once hashed wholly past the cut on 23 of 2000 seeds
    from perfbench import wl_graph

    cut = int(wl_graph.BC_P * 2 ** 32)
    for seed in range(1, 2001):
        ids = np.unique(gen.planted_graph(seed))
        assert any(((int(v) + wl_graph.BC_SALT) * 2654435761) % 2 ** 32 < cut
                   for v in ids), seed


def test_html_corpus_is_pure_and_expected_survivors_are_sane():
    a = gen.html_corpus(5, history=40, epochs=2, per_epoch=50)
    b = gen.html_corpus(5, history=40, epochs=2, per_epoch=50)
    assert a == b
    assert a != gen.html_corpus(6, history=40, epochs=2, per_epoch=50)
    exp = gen.expected_survivors(a)
    ids = [r[0] for rows in a["epochs"] for r in rows]
    assert ids == sorted(ids)
    for k, rows in enumerate(a["epochs"]):
        by_id = {r[0]: r for r in rows}
        assert exp[k] <= set(by_id)
        assert all(by_id[i][3] for i in exp[k])  # quality-passing only
        fams = [by_id[i][2] for i in exp[k]]
        assert len(fams) == len(set(fams))  # one survivor per family


def test_zipf_ranks_repeat_the_head():
    r = np.random.default_rng(0)
    ranks = gen.zipf_ranks(r, 1000, 500)
    assert (ranks == 0).sum() > (ranks == 500).sum()
    assert len(set(ranks.tolist())) > 100


# -- reporting rules --------------------------------------------------

def test_percentile_rule_needs_ten_samples_beyond():
    assert stats.min_samples(95) == 200
    assert stats.min_samples(90) == 100
    assert stats.min_samples(50) == 20
    xs = list(range(199))
    assert stats.percentile(xs, 95) is None
    xs = list(range(200))
    p95 = stats.percentile(xs, 95)
    assert sum(x > p95 for x in xs) >= 10
    assert stats.highest_percentile(list(range(150))) == (
        90, stats.percentile(list(range(150)), 90))
    assert stats.highest_percentile(list(range(19))) is None


def test_metric_names_use_the_allowed_charset():
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert stats.check_name(m["name"])
    for bad in ("a b", "x/y", "_lead", "", "é", "a" * 65):
        with pytest.raises(ValueError):
            stats.check_name(bad)
    rep = stats.Report()
    with pytest.raises(ValueError):
        rep.add("no spaces allowed", 1.0, "s")


def test_result_line_carries_exactly_the_listed_metrics():
    rep = stats.Report()
    rep.add("setup_s", 1.5, "s", 1)
    rep.add("extra", 2.0, "s")
    line = json.loads(rep.result(["setup_s"], True, 3, 0))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {"setup_s": {"value": 1.5, "unit": "s"}}


# -- spans ------------------------------------------------------------

def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("root", 0.0, 10.0, None, 1),
        Span("a", 1.0, 4.0, 0, 1),
        Span("b", 3.0, 6.0, 0, 1),   # overlaps a: union 1..6 = 5
        Span("c", 5.0, 5.5, 2, 1),   # grandchild: not root's child
        Span("d", 9.0, 12.0, 0, 1),  # clipped to the parent: 9..10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(0.5)
    assert union_length([(0, 1), (2, 3), (2.5, 4)]) == pytest.approx(3.0)


def test_tracer_nests_spans_and_is_inert_when_off():
    tr = Tracer(True)
    with tr.span("outer", 7):
        with tr.span("inner", 7):
            pass
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == 0 and tr.spans[0].parent is None
    assert tr.spans[0].start <= tr.spans[1].start <= tr.spans[1].end <= tr.spans[0].end
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_sql_metric_strings_parse_to_ms_and_bytes():
    assert parse_sql_metric("973 ms") == 973
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n"
                            "3.9 s (973 ms, 984 ms, 992 ms (stage 0.0: task 0))") == 3900
    assert parse_sql_metric("8.5 KiB") == 8.5 * 1024
    assert parse_sql_metric("1,000") == 1000


# -- output checks catch wrong answers ----------------------------------

def test_graph_checks_flag_wrong_answers():
    from perfbench.wl_graph import _Expected

    e = [(1, 2), (2, 3), (4, 5)]
    x = _Expected(e, [1, 2, 3, 4, 5])
    assert x.connected_components([(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)]) == ""
    assert x.connected_components([(1, 1), (2, 1), (3, 3), (4, 4), (5, 4)])
    assert x.maximal_independent_set([(1,), (3,), (4,)]) == ""
    assert x.maximal_independent_set([(1,), (2,), (4,)])  # adjacent
    assert x.maximal_independent_set([(1,), (4,)])        # 3 addable
    assert x.clustering_coefficient(
        [(v, d, 0, 0.0) for v, d in [(1, 1), (2, 2), (3, 1), (4, 1), (5, 1)]]) == ""


def test_label_propagation_replay_is_synchronous_with_smallest_tie():
    from perfbench import wl_graph
    from perfbench.wl_graph import _Expected

    # path 1-2-3, edge 4-5 and isolated 6, updated all at once each
    # round: a node with two tied neighbour labels takes the smaller
    x = _Expected([(1, 2), (2, 3), (4, 5)], [1, 2, 3, 4, 5, 6])
    label = {v: v for v in range(1, 7)}
    for _ in range(wl_graph.LPA_ITER):
        label = {1: label[2], 2: min(label[1], label[3]), 3: label[2],
                 4: label[5], 5: label[4], 6: label[6]}
    assert x.label_propagation(list(label.items())) == ""
    wrong = {**label, 6: 1}
    assert x.label_propagation(list(wrong.items()))


def test_curation_check_flags_a_kept_exact_copy():
    from perfbench.wl_curation import CurationWorkload

    corpus = gen.html_corpus(2, history=20, epochs=1, per_epoch=60)
    rows = corpus["epochs"][0]
    exp = gen.expected_survivors(corpus)[0]
    wl = CurationWorkload(ctx=None)
    wl.corpus = corpus

    def record(ids):
        by_id = {r[0]: r for r in rows}
        return [{"epoch": 0, "rows": [
            (i, len(by_id[i][4].split()), len(by_id[i][4]), 0) for i in ids]}]

    wl.epochs = record(sorted(exp))
    assert wl.check()[1] == 0
    orig = {r[2]: r[4] for r in corpus["history"]}
    copy = next(r[0] for r in rows if r[3] and orig.get(r[2]) == r[4])
    wl.epochs = record(sorted(exp | {copy}))
    assert wl.check()[1] == 1
    wl.epochs = record(sorted(exp)[1:])
    assert wl.check()[1] == 1


# -- end to end -------------------------------------------------------

@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_second_seed_runs_clean(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "2", "--seconds", "3", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["failed"] == 0 and result["correct"], out.stdout[-2000:]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
