"""gql_read_write: a closed-loop GQL client over ``tpch_graph`` built
from seeded TPC-H-shaped parquet, reads interleaved with writes.

Reads go through ``GraphLiteSpark.query(...).collect()``; writes through
``GraphLiteSpark.execute``, and every write clears the plan cache. Outputs are checked after the timed loop:
TPC-H reads against DuckDB SQL over the same parquet, read-backs of
written data against the benchmark's own write log.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, stats
from perfbench.trace import catalyst_phases_ms

REV = ("CAST(SUM(CAST({p}l_extendedprice AS DECIMAL(18,2)) * "
       "(1 - CAST({p}l_discount AS DECIMAL(18,2)))) AS DOUBLE)")

# name -> (GQL, DuckDB SQL with $name placeholders)
TEMPLATES = {
    "point": (
        "MATCH (c:Customer) WHERE c.c_custkey = $k "
        "RETURN c.c_name AS name, c.c_acctbal AS bal",
        "SELECT c_name AS name, c_acctbal AS bal FROM customer "
        "WHERE c_custkey = $k"),
    "expand": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_custkey = $k "
        "RETURN o.o_orderkey AS orderkey, o.o_totalprice AS price",
        "SELECT o_orderkey AS orderkey, o_totalprice AS price FROM orders "
        "WHERE o_custkey = $k"),
    "agg_2hop": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order)-[l:LINE]->(:Part) "
        "WHERE c.c_custkey = $k "
        "RETURN count(*) AS n, SUM(l.l_quantity) AS qty",
        "SELECT count(*) AS n, SUM(l_quantity) AS qty FROM orders "
        "JOIN lineitem ON l_orderkey = o_orderkey WHERE o_custkey = $k"),
    "varlen": (
        "MATCH (a:Event)-[:FOLLOWS]{1,3}->(b:Event) WHERE a.event_id = $e "
        "RETURN b.event_id AS dst",
        "SELECT d AS dst FROM (SELECT event_id, unnest(["
        "lead(event_id, 1) OVER w, lead(event_id, 2) OVER w, "
        "lead(event_id, 3) OVER w]) AS d FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
        "WHERE event_id = $e AND d IS NOT NULL"),
    "q3": (
        "MATCH (c:Customer {c_mktsegment: $seg})-[:PLACED]->(o:Order), "
        "(o)-[l:LINE]->(:Part) "
        "WHERE o.o_orderdate < DATETIME($d) AND l.l_shipdate > DATETIME($d) "
        f"RETURN o.o_orderkey AS orderkey, {REV.format(p='l.')} AS revenue "
        "ORDER BY revenue DESC, orderkey LIMIT 10",
        f"SELECT o_orderkey AS orderkey, {REV.format(p='')} AS revenue "
        "FROM customer JOIN orders ON o_custkey = c_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = $seg AND o_orderdate < CAST($d AS TIMESTAMP) "
        "AND l_shipdate > CAST($d AS TIMESTAMP) "
        "GROUP BY o_orderkey ORDER BY revenue DESC, orderkey LIMIT 10"),
    "q5": (
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->"
        "(r:Region {r_name: $r}), (c)-[:PLACED]->(o:Order)-[l:LINE]->(:Part), "
        "(s:Supplier)-[:IN_NATION]->(n) "
        "WHERE l.l_suppkey = s.s_suppkey AND o.o_orderdate >= DATETIME($d) "
        f"RETURN n.n_name AS nation, {REV.format(p='l.')} AS revenue "
        "ORDER BY revenue DESC, nation",
        f"SELECT n_name AS nation, {REV.format(p='')} AS revenue "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "JOIN orders ON o_custkey = c_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON s_nationkey = n_nationkey AND l_suppkey = s_suppkey "
        "WHERE r_name = $r AND o_orderdate >= CAST($d AS TIMESTAMP) "
        "GROUP BY n_name ORDER BY revenue DESC, nation"),
    "q18": (
        "MATCH (o:Order)-[l:LINE]->(:Part) "
        "WITH o, SUM(l.l_quantity) AS total_qty WHERE total_qty > $q "
        "MATCH (c:Customer)-[:PLACED]->(o) "
        "RETURN c.c_custkey AS custkey, o.o_orderkey AS orderkey, "
        "total_qty AS total_qty ORDER BY orderkey LIMIT 20",
        "SELECT o_custkey AS custkey, o_orderkey AS orderkey, "
        "SUM(l_quantity) AS total_qty FROM orders "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "GROUP BY o_custkey, o_orderkey HAVING SUM(l_quantity) > $q "
        "ORDER BY orderkey LIMIT 20"),
    "not_exists": (
        "MATCH (c:Customer) WHERE NOT EXISTS "
        "{(c)-[:PLACED]->(o:Order {o_orderstatus: 'P'})} "
        "AND c.c_nationkey = $n RETURN c.c_custkey AS custkey ORDER BY custkey",
        "SELECT c_custkey AS custkey FROM customer WHERE c_nationkey = $n "
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        "AND o_orderstatus = 'P') ORDER BY custkey"),
    "top_n": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_nationkey = $n "
        "RETURN o.o_orderkey AS orderkey, o.o_totalprice AS price "
        "ORDER BY price DESC, orderkey LIMIT 5",
        "SELECT o_orderkey AS orderkey, o_totalprice AS price FROM customer "
        "JOIN orders ON o_custkey = c_custkey WHERE c_nationkey = $n "
        "ORDER BY price DESC, orderkey LIMIT 5"),
}

# read-backs of written data, checked against the write log
READBACK = {
    "tag_name": "MATCH (t:Tag) WHERE t.tag_id = $t RETURN t.name AS name",
    "tag_edges": ("MATCH (c:Customer)-[:TAGGED]->(t:Tag) WHERE t.tag_id = $t "
                  "RETURN c.c_custkey AS custkey"),
}

WRITES = {
    "insert_node": "INSERT (:Tag {tag_id: $t, name: $n})",
    "insert_edge": ("MATCH (c:Customer), (t:Tag) WHERE c.c_custkey = $k "
                    "AND t.tag_id = $t INSERT (c)-[:TAGGED]->(t)"),
    "set": "MATCH (t:Tag) WHERE t.tag_id = $t SET t.name = $n",
    "delete": ("MATCH (c:Customer)-[e:TAGGED]->(t:Tag) WHERE t.tag_id = $t "
               "DELETE e"),
}

CUSTOMERS = 1500
# one round: 11 reads and 4 writes; each read-back follows a write
ROUND = [
    "point", "expand", "agg_2hop", "insert_node",
    "tag_name", "varlen", "q3", "insert_edge",
    "tag_edges", "q5", "q18", "set",
    "not_exists", "top_n", "delete",
]


@dataclass
class Op:
    op_id: int
    kind: str  # template name, read-back name or write kind
    params: dict
    is_write: bool = False
    ms: float = 0.0
    compile_ms: float = 0.0
    hit: bool = False
    miss_after_write: bool = False
    phases: dict = field(default_factory=dict)
    cols: list = field(default_factory=list)
    rows: list = field(default_factory=list)
    expected: object = None  # read-backs: answer per the write log
    error: str = ""


class _ParamDraw:
    """Zipf-drawn parameters per template over seeded key domains."""

    def __init__(self, seed: int, tables: dict) -> None:
        self.r = np.random.default_rng([seed, 7])
        n_events = tables["events"].num_rows
        months = [f"{y}-{m:02d}-15" for y in (1995, 1996) for m in range(1, 13)]
        years = [f"{y}-01-01" for y in range(1993, 1998)]
        perm = self.r.permutation
        self.domains = {
            "point": [{"k": int(k)} for k in perm(CUSTOMERS) + 1],
            "expand": [{"k": int(k)} for k in perm(CUSTOMERS) + 1],
            "agg_2hop": [{"k": int(k)} for k in perm(CUSTOMERS) + 1],
            "varlen": [{"e": int(e)} for e in perm(n_events) + 1],
            "q3": [{"seg": s, "d": d} for s in gen.SEGMENTS for d in months],
            "q5": [{"r": r, "d": d} for r in gen.REGIONS for d in years],
            "q18": [{"q": float(q)} for q in range(180, 300)],
            "not_exists": [{"n": int(n)} for n in range(25)],
            "top_n": [{"n": int(n)} for n in range(25)],
        }
        for name in ("q3", "q5", "q18", "not_exists", "top_n"):
            d = self.domains[name]
            self.domains[name] = [d[i] for i in perm(len(d))]

    def draw(self, name: str) -> dict:
        d = self.domains[name]
        return dict(d[int(gen.zipf_ranks(self.r, len(d), 1)[0])])


class GqlWorkload:
    op_unit = "statements"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.ops: list[Op] = []
        self.next_op = 0
        self.tags: dict[int, str] = {}  # tag_id -> name (the write log)
        self.tag_edges: dict[int, set[int]] = {}
        self.next_tag = 1
        self.writes_done = 0
        self.compiled_at: dict[tuple, int] = {}  # cache key -> write count
        self.phase_ops: list[list[Op]] = []

    # -- set-up -------------------------------------------------------
    def load(self) -> None:
        from graphlite_spark import GraphLiteSpark
        from graphlite_spark.datasets.tpch import tpch_graph

        ctx = self.ctx
        data = ctx.tmp / "data"
        data.mkdir(parents=True, exist_ok=True)
        tables = gen.tpch_tables(ctx.seed, CUSTOMERS)
        for name, t in tables.items():
            pq.write_table(t, data / f"{name}.parquet")
        db = GraphLiteSpark(ctx.spark)
        db.register_graph(tpch_graph(ctx.spark, str(data)))
        self.db, self.data, self.tables = db, data, tables
        self.params = _ParamDraw(ctx.seed, tables)

    def warmup(self) -> None:
        """One read and one write, so the first scan and the first
        write's checkpoint are compiled before the timed loop. Warming
        every template and write kind would cost more than the loop."""
        self.db.query(TEMPLATES["point"][0],
                      self.params.domains["point"][-1]).collect()
        self._run(self._write_op("insert_node"), traced=False)
        self.db.clear_plan_cache()

    # -- op stream ----------------------------------------------------
    def _new(self, kind: str, params: dict, is_write: bool = False) -> Op:
        op = Op(self.next_op, kind, params, is_write)
        self.next_op += 1
        return op

    def _write_op(self, kind: str) -> Op:
        r = self.params.r
        live = sorted(self.tags)
        if kind == "insert_node":
            t = self.next_tag
            self.next_tag += 1
            return self._new(kind, {"t": t, "n": f"tag-{t}"}, True)
        if kind == "insert_edge":
            return self._new(kind, {"k": int(r.integers(1, CUSTOMERS + 1)),
                                    "t": live[-1]}, True)
        t = live[int(r.integers(0, len(live)))]
        if kind == "set":
            return self._new(kind, {"t": t, "n": f"renamed-{self.next_op}"}, True)
        return self._new(kind, {"t": t}, True)

    def _readback_op(self, name: str) -> Op:
        """A read-back of a live tag, recent tags most often."""
        live = sorted(self.tags)
        t = live[-1 - int(gen.zipf_ranks(self.params.r, len(live), 1)[0])]
        return self._new(name, {"t": t})

    def _round(self) -> list[Op]:
        """One round of the closed loop: every read template once and
        every write kind once, in a fixed order with read-backs right
        after writes, parameters Zipf-drawn. Whole rounds keep the op
        mix identical in every run."""
        ops = []
        for kind in ROUND:
            if kind in WRITES:
                ops.append(self._write_op(kind))
            elif kind in READBACK:
                ops.append(self._readback_op(kind))
            else:
                ops.append(self._new(kind, self.params.draw(kind)))
        return ops

    def _run(self, op: Op, traced: bool) -> None:
        """One statement. Its time is stamped inside the probe and span
        contexts, so neither the probe's read-back on exit nor this
        method's own bookkeeping after the call counts in it."""
        db, tr = self.db, self.ctx.tracer
        t0 = time.perf_counter()
        try:
            with self.ctx.probe.op(op.op_id, op.kind), \
                    tr.span("op.write" if op.is_write else "op.read", op.op_id):
                t0 = time.perf_counter()
                if op.is_write:
                    with tr.span("dml.execute", op.op_id):
                        db.execute(WRITES[op.kind], op.params)
                else:
                    hits = db._plan_cache_hits
                    with tr.span("gql.query", op.op_id):
                        df = db.query(self._text(op), op.params)
                    t1 = time.perf_counter()
                    op.hit = db._plan_cache_hits > hits
                    with tr.span("spark.collect", op.op_id):
                        rows = df.collect()
                t2 = time.perf_counter()
        except Exception as e:  # counted in failed_frac, run continues
            op.error = f"{type(e).__name__}: {e}"[:300]
            op.ms = (time.perf_counter() - t0) * 1e3
            return
        op.ms = (t2 - t0) * 1e3
        if op.is_write:
            self._log_write(op)
            return
        op.compile_ms = (t1 - t0) * 1e3
        op.cols = df.columns
        op.rows = [tuple(r) for r in rows]
        if traced and not op.hit:
            op.phases = catalyst_phases_ms(df)
        if not op.hit:
            key = (self._text(op), tuple(sorted(op.params.items())))
            seen = self.compiled_at.get(key)
            op.miss_after_write = seen is not None and seen < self.writes_done
            self.compiled_at[key] = self.writes_done
        if op.kind in READBACK:
            op.expected = self._expected_readback(op)

    @staticmethod
    def _text(op: Op) -> str:
        return READBACK.get(op.kind) or TEMPLATES[op.kind][0]

    def _log_write(self, op: Op) -> None:
        p = op.params
        if op.kind == "insert_node":
            self.tags[p["t"]] = p["n"]
            self.tag_edges[p["t"]] = set()
        elif op.kind == "insert_edge":
            self.tag_edges[p["t"]].add(p["k"])
        elif op.kind == "set":
            self.tags[p["t"]] = p["n"]
        else:
            self.tag_edges[p["t"]] = set()
        self.writes_done += 1

    def _expected_readback(self, op: Op):
        t = op.params["t"]
        if op.kind == "tag_name":
            return sorted([(self.tags[t],)])
        return sorted((k,) for k in self.tag_edges[t])

    def measure(self, seconds: float, traced: bool,
                rounds: int = 1) -> stats.Phase:
        """Whole rounds: ``rounds`` of them, then more while ``seconds``
        allow."""
        first = len(self.ops)
        t0 = time.perf_counter()
        done = 0
        while done < rounds or time.perf_counter() - t0 < seconds:
            for op in self._round():
                self._run(op, traced)
                self.ops.append(op)
            done += 1
        wall = time.perf_counter() - t0
        mine = self.ops[first:]
        self.phase_ops.append(mine)
        return stats.Phase(len(mine), wall, [o.op_id for o in mine])

    # -- correctness --------------------------------------------------
    def check(self) -> tuple[int, int, list[str]]:
        import duckdb

        from tools.oracle_check import _rows_to_set

        con = duckdb.connect()
        for name in self.tables:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{self.data / (name + '.parquet')}')")
        failed, notes, oracle = 0, [], {}
        for op in self.ops:
            bad = op.error
            if not bad and not op.is_write:
                if op.kind in READBACK:
                    if sorted(op.rows) != op.expected:
                        bad = f"read-back {op.rows} != write log {op.expected}"
                else:
                    key = (op.kind, tuple(sorted(op.params.items())))
                    if key not in oracle:
                        cur = con.execute(TEMPLATES[op.kind][1], op.params)
                        cols = [d[0] for d in cur.description]
                        oracle[key] = _rows_to_set(cols, cur.fetchall())
                    if _rows_to_set(op.cols, op.rows) != oracle[key]:
                        bad = f"rows differ from DuckDB for {op.params}"
            if bad:
                failed += 1
                if len(notes) < 5:
                    notes.append(f"op {op.op_id} {op.kind}: {bad}")
        con.close()
        return len(self.ops), failed, notes

    # -- metrics ------------------------------------------------------
    def end_to_end(self, report, phase: stats.Phase, i: int) -> None:
        ops = self.phase_ops[i]
        reads = [o.ms for o in ops if not o.is_write]
        _pcts(report, "read", reads, (50, 95))
        writes = [o.ms for o in ops if o.is_write]
        _pcts(report, "write", writes, (50, 90))

    def layers(self, report, phase: stats.Phase, i: int) -> None:
        ops = self.phase_ops[i]
        probe = self.ctx.probe.ops
        reads = [o for o in ops if not o.is_write]
        writes = [o for o in ops if o.is_write]
        misses = [o for o in reads if not o.hit]
        comp = [o.compile_ms for o in misses]
        _p(report, "gql.compile_ms.p50", comp, 50, "ms", "misses only")
        _p(report, "gql.compile_ms.p95", comp, 95, "ms", "misses only")
        hits = sum(o.hit for o in reads)
        report.add("gql.plan_cache_hit_ratio", _ratio(hits, len(reads)),
                   "ratio", len(reads), f"{hits} hits of {len(reads)} reads")
        report.add("gql.compile_share",
                   _ratio(sum(o.compile_ms for o in reads),
                          sum(o.ms for o in reads)), "ratio", len(reads),
                   "compile ms over read ms")
        maw = sum(o.miss_after_write for o in reads)
        report.add("gql.miss_after_write_ratio", _ratio(maw, len(reads)),
                   "ratio", len(reads),
                   f"{maw} reads missed on a key compiled before a write")
        for ph in ("analysis", "optimization", "planning"):
            vals = [o.phases[ph] for o in misses if ph in o.phases]
            _p(report, f"catalyst.{ph}_ms.p50", vals, 50, "ms", "misses only")
        r_jobs = [probe[o.op_id].jobs for o in reads if o.op_id in probe]
        report.add("spark.jobs_per_read", _mean(r_jobs), "count", len(r_jobs))
        report.add("spark.stages_per_read",
                   _mean([probe[o.op_id].stages for o in reads
                          if o.op_id in probe]), "count", len(r_jobs))
        ex = [o.ms - o.compile_ms for o in reads]
        _p(report, "spark.exec_ms.p50", ex, 50, "ms", "collect() time")
        w_jobs = [probe[o.op_id].jobs for o in writes if o.op_id in probe]
        report.add("spark.jobs_per_write", _mean(w_jobs), "count", len(w_jobs))
        for kind in WRITES:
            vals = [o.ms for o in writes if o.kind == kind]
            _p(report, f"dml.{kind}_ms.p50", vals, 50, "ms")
        report.add("dml.jobs_per_write", _mean(w_jobs), "count", len(w_jobs))


def _ratio(a: float, b: float) -> float | None:
    return a / b if b else None


def _mean(xs: list) -> float | None:
    return sum(xs) / len(xs) if xs else None


def _p(report, name: str, vals: list[float], q: int, unit: str,
       note: str = "") -> None:
    """The median of any sample, a tail percentile only when the
    reporting rule's sample count is met."""
    if q == 50:
        v = stats.median(vals) if vals else None
    else:
        v = stats.percentile(vals, q)
    if v is None and vals:
        note = (f"{note}; not reported: {len(vals)} samples, the rule needs "
                f"{stats.min_samples(q)}").strip("; ")
    report.add(name, v, unit, len(vals), note)


def _pcts(report, prefix: str, vals: list[float], qs: tuple) -> None:
    for q in qs:
        _p(report, f"{prefix}_p{q}_ms", vals, q, "ms")
    top = stats.highest_percentile(vals)
    if top is not None and top[0] not in qs:
        report.add(f"{prefix}_p{top[0]}_ms", top[1], "ms", len(vals),
                   "highest percentile with 10 samples beyond it")
