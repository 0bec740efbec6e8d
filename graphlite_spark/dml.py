"""DML execution: INSERT / MATCH-SET / MATCH-REMOVE / MATCH-DELETE.

Spark-first rendition of the reference write engine (GraphLite
`graphlite/src/exec/write_engine/operations/{insert,match_set,
match_delete,match_remove}.rs`): mutations compile to joins against the
matched-id set and produce NEW node/edge DataFrames (copy-on-write),
which is also what makes transactions cheap — START TRANSACTION simply
snapshots the table dict, ROLLBACK restores it (optimistic, last-writer
-wins; the reference's interactive isolation levels don't map 1:1 and
this divergence is documented in README).

Every mutation commits each table it changes through ``_commit``: one
eager stats-cut checkpoint, so a write runs one Spark action per table
and no table's lineage grows with the writes before it (INSERT, SET,
REMOVE, DELETE alike). What a write reports rides that same action as
an ``observe`` at the root of the committed plan — rows appended,
distinct matched ids or endpoint pairs, duplicate probes — and
``rows_affected`` is read from that observation: no write runs a
separate count, isEmpty or limit(1) probe.
"""

from __future__ import annotations

from itertools import groupby
from typing import Any

from pyspark.sql import functions as F

from .catalog import content_hash_id
from .graph import DST, ID, SRC, PropertyGraph
from .gql import ast as A
from .gql.compiler import CompileError, ExprCompiler, QueryCompiler, _ncol
from .gql.statements import InsertStmt, MatchMutateStmt


class DmlError(ValueError):
    pass


def _literal_props(props: dict[str, A.Expr], params: dict,
                   spark=None) -> dict[str, Any]:
    """Evaluate INSERT/SET property values: literals and parameters
    directly; any other *constant* expression (function calls, arithmetic
    — function_expression_insert_test.rs allows e.g. upper('x'),
    abs(-5)) through the expression compiler over a single row. Variable
    references are rejected (nothing is bound in INSERT patterns)."""
    out = {}
    pending: dict[str, A.Expr] = {}
    for k, v in props.items():
        if isinstance(v, A.Literal):
            out[k] = v.value
        elif isinstance(v, A.Param):
            out[k] = params.get(v.name)
        elif isinstance(v, A.Unary) and v.op == "-" and isinstance(v.operand, A.Literal):
            out[k] = -v.operand.value
        elif spark is not None:
            pending[k] = v
        else:
            raise DmlError("INSERT property values must be literals or parameters")
    if pending:
        from .gql.compiler import Frame

        frame = Frame(spark.range(1))
        cols = []
        for k, v in pending.items():
            try:
                cols.append(ExprCompiler(frame, params).compile(v).alias(k))
            except CompileError as e:
                raise DmlError(
                    f"INSERT property {k!r} must be a constant expression: {e}"
                ) from e
        row = frame.df.select(*cols).collect()[0]
        for k in pending:
            out[k] = row[k]
    return out


def execute_insert(graph: PropertyGraph, stmt: InsertStmt,
                   params: dict | None = None,
                   warnings: list | None = None) -> int:
    """INSERT node/edge patterns. Entity ids are content hashes of
    labels+props (insert.rs:87-135 recipe), which makes identical-content
    inserts idempotent: a duplicate node/edge is skipped with a warning
    and rows_affected 0, the behavior pinned by the reference's
    duplicate_insert_test.rs / duplicate_edge_warning_test.rs. Each
    element appends one row with one ``_commit`` whose duplicate probe
    is counted in the same pass; the first row of a new label or edge
    type is registered as its table without any action."""
    params = params or {}
    spark = graph.spark
    n_affected = 0
    gt = graph.graph_type
    for pat in stmt.patterns:
        elems = pat.elements
        node_ids: list[str] = []
        node_labels: list[str] = []
        # nodes first
        for el in elems[::2]:
            if not el.labels:
                raise DmlError("INSERT node needs a label")
            label = el.labels[0]
            props = _literal_props(el.props, params, graph.spark)
            if gt is not None:
                gt.validate_node(el.labels, props)
            nid = content_hash_id(el.labels, props)
            if label in graph.nodes:
                nid = _fit_id(graph.nodes[label], nid)
            node_ids.append(nid)
            node_labels.append(label)
            new = _row_frame(spark, {"_id": nid, **props})
            if label in graph.nodes:
                table, seen = _commit(graph.nodes[label], added=new,
                                      probe=F.col(ID) == F.lit(nid))
                if seen["probe"]:
                    if warnings is not None:
                        warnings.append(
                            f"Duplicate node detected (content hash {nid}); "
                            "insert skipped"
                        )
                    continue
                graph.nodes[label] = table
            else:
                graph.add_nodes(label, new, "_id")
            n_affected += 1
        # then edges
        for i, el in enumerate(elems[1::2]):
            etype = el.types[0] if el.types else None
            if etype is None:
                raise DmlError("INSERT edge needs a type")
            props = _literal_props(el.props, params, graph.spark)
            src_i, dst_i = (i, i + 1) if el.direction != "in" else (i + 1, i)
            if gt is not None:
                gt.validate_edge(
                    etype, node_labels[src_i], node_labels[dst_i], props
                )
            row = {"_src": node_ids[src_i], "_dst": node_ids[dst_i], **props}
            new = _row_frame(spark, row)
            if etype in graph.edges:
                et = graph.edges[etype]
                table, seen = _commit(et.df, added=new,
                                      probe=_content_match(et.df, row))
                if seen["probe"]:
                    if warnings is not None:
                        warnings.append(
                            f"Duplicate edge detected "
                            f"({node_ids[src_i]})-[:{etype}]->"
                            f"({node_ids[dst_i]}); insert skipped"
                        )
                    continue
                et.df = table
            else:
                graph.add_edges(
                    etype, new, "_src", "_dst",
                    node_labels[src_i], node_labels[dst_i],
                )
            n_affected += 1
    return n_affected


def _fit_id(existing_df, nid: str):
    """Fit a content-hash id to the target table's _id type: tables
    registered with a natural numeric key (graphs built from parquet
    facts) get the hash folded into a positive long (first 60 bits) so
    the id column stays one type — appending a string hash to a long
    column is a latent ANSI cast failure at first execution."""
    if dict(existing_df.dtypes).get("_id") == "string":
        return nid
    return int(nid[:15], 16)


def _row_frame(spark, row: dict):
    """A one-row frame typed as ``createDataFrame([row])`` types it
    (its column order, int -> bigint), built JVM-side as a literal
    projection over a one-partition range. ``createDataFrame`` ships
    the row through a Python worker and yields defaultParallelism
    partitions, all but one empty, which every later append carried
    along: appending one row to a checkpointed 40-row table took 317 ms
    that way against 75 ms with the literal row (median, local[4]).
    Values a literal does not carry as-is (dates, decimals, arrays,
    ...) keep the createDataFrame path, on one partition."""
    schema = spark._inferSchemaFromList([row])
    if all(type(v) in (str, int, float, bool) for v in row.values()):
        return spark.range(1, numPartitions=1).select(*[
            F.lit(row[f.name]).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ])
    return spark.createDataFrame([row], schema).coalesce(1)


def _content_match(df, row: dict):
    """Content-equality predicate over ``df``'s rows: a stored row
    matches iff every column null-safe-equals the inserted value
    (columns absent from the insert must be NULL — extra non-null props
    make a different edge). None when no stored row can match: a value
    whose Python type can't live in the column's Spark type (string
    hash vs long endpoint column) — comparing would be an ANSI cast
    error, not a match."""
    from pyspark.sql.types import BooleanType, NumericType, StringType

    # An insert carrying a property column the table has never seen can't
    # equal any stored row — its content hash differs even if every shared
    # column matches (value.rs content identity covers all properties).
    if set(row) - set(df.columns):
        return None

    types = {f.name: f.dataType for f in df.schema.fields}
    cond = None
    for c in df.columns:
        v = row.get(c)
        if v is None:
            cc = F.col(c).isNull()
        else:
            dt = types[c]
            ok = (
                isinstance(dt, StringType) if isinstance(v, str)
                else isinstance(dt, BooleanType) if isinstance(v, bool)
                else isinstance(dt, NumericType) if isinstance(v, (int, float))
                else True
            )
            if not ok:
                return None
            cc = F.col(c).eqNullSafe(F.lit(v))
        cond = cc if cond is None else cond & cc
    return cond


# Tag column of a commit plan: NULL on the table's own rows.
_TAG = "__dml_tag"
_ADDED, _TALLY = 1, 2


def _commit(table, added=None, tally=None, probe=None):
    """Materialize one table's new version in ONE Spark action.

    ``table`` holds the rows that stay (None for a new table), ``added``
    rows appended to them (unionByName with missing-column fill: new
    props become NULL on old rows), ``tally`` a frame whose rows are
    only counted (the distinct matched ids of SET/REMOVE/DELETE), and
    ``probe`` a predicate counted over the ``table`` rows (a duplicate
    probe). The three counts ride the checkpoint as one ``observe`` at
    the ROOT of the plan, over a tag column: an observation inside a
    join side is lost when AQE replaces a join that has an empty side by
    an empty relation, one at the root never is. Tally rows are dropped
    above the observation. Returns ``(committed frame, {"added",
    "tally", "probe"})``.

    The checkpoint cuts lineage and size stats (``_ck_cut_stats``):
    uncut, n sequential mutations build an n-deep plan whose branches
    are the mutations' own plans, so every later statement re-executes
    all prior writes — 11 single-edge inserts took 430 s before inserts
    were cut, and chained SETs on the 20-node test graph doubled per
    statement before SET was (0.5 s for the 2nd, 12.8 s for the 12th).
    Appends add partitions, so a committed table with more than
    ``spark.sql.shuffle.partitions`` is coalesced back under it, which
    needs no exchange.
    """
    from pyspark.sql import Observation

    from .operators.paths import _ck_cut_stats

    tag = F.col(_TAG)
    plan = None
    for df, t in ((table, None), (added, _ADDED), (tally, _TALLY)):
        if df is None:
            continue
        if t == _TALLY:
            df = df.select(F.lit(t).alias(_TAG))
        else:
            df = df.withColumn(_TAG, F.lit(t).cast("int"))
        plan = df if plan is None else plan.unionByName(
            df, allowMissingColumns=True)
    metrics = [F.count_if(tag == _ADDED).alias("added"),
               F.count_if(tag == _TALLY).alias("tally")]
    if probe is not None:
        metrics.append(F.count_if(tag.isNull() & probe).alias("probe"))
    obs = Observation()
    plan = plan.observe(obs, *metrics)
    if tally is not None:
        plan = plan.filter(tag.isNull() | (tag == _ADDED))
    ck = _ck_cut_stats(plan.drop(_TAG))
    cap = int(ck.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if ck.rdd.getNumPartitions() > cap:
        ck = ck.coalesce(cap)
    return ck, {"probe": 0, **obs.get}


def _compile_matches(graph: PropertyGraph, matches, params):
    qc = QueryCompiler(graph, params)
    qc._referenced = {"*"}  # mutations touch entities: no join elision
    frame = None
    for m in matches:
        frame = qc._compile_match(frame, m)
    if frame is None:
        raise DmlError("mutation requires a MATCH")
    return qc, frame


def execute_mutate(graph: PropertyGraph, stmt: MatchMutateStmt,
                   params: dict | None = None) -> int:
    """SET/REMOVE items apply per run of consecutive items on one
    variable: one commit of its label table per run. The MATCH frame is
    compiled once, against the pre-statement graph."""
    params = params or {}
    qc, frame = _compile_matches(graph, stmt.matches, params)

    if stmt.action == "SET":
        return sum(
            _apply_set(graph, frame, var, list(items), params)
            for var, items in groupby(stmt.set_items, lambda it: it.var)
        )
    if stmt.action == "REMOVE":
        return sum(
            _apply_remove(graph, frame, var, [p for _, p in items])
            for var, items in groupby(stmt.remove_items, lambda it: it[0])
        )
    if stmt.action in ("DELETE", "DETACH_DELETE"):
        total = 0
        for var in stmt.delete_vars:
            total += _apply_delete(graph, frame, var, detach=stmt.action == "DETACH_DELETE")
        return total
    if stmt.action == "INSERT":
        return _apply_match_insert(graph, frame, stmt.insert_patterns, params)
    raise DmlError(f"unknown action {stmt.action}")


def _apply_match_insert(graph: PropertyGraph, frame, patterns, params) -> int:
    """MATCH ... INSERT (a)-[:T {..}]->(b): connect matched nodes
    (match_insert.rs). Node elements must be bound match variables or
    literal-only new nodes; edges append per distinct endpoint pair,
    counted by the observation on the commit, so the MATCH runs once."""
    total = 0
    for pat in patterns:
        elems = pat.elements
        id_exprs = []
        labels = []
        for el in elems[::2]:
            if el.var and el.var in frame.bindings:
                b = frame.bindings[el.var]
                if b.kind != "node" or b.label is None:
                    raise DmlError(f"{el.var!r} is not a labeled node variable")
                id_exprs.append(F.col(_ncol(el.var, ID)))
                labels.append(b.label)
            else:
                if not el.labels:
                    raise DmlError("INSERT node needs a label or bound variable")
                props = _literal_props(el.props, params, graph.spark)
                nid = content_hash_id(el.labels, props)
                label = el.labels[0]
                if label in graph.nodes:
                    nid = _fit_id(graph.nodes[label], nid)
                new = _row_frame(graph.spark, {"_id": nid, **props})
                if label in graph.nodes:
                    graph.nodes[label], _ = _commit(graph.nodes[label], added=new)
                else:
                    graph.add_nodes(label, new, "_id")
                id_exprs.append(F.lit(nid))
                labels.append(label)
                total += 1
        for i, el in enumerate(elems[1::2]):
            if not el.types:
                raise DmlError("INSERT edge needs a type")
            etype = el.types[0]
            props = _literal_props(el.props, params, graph.spark)
            src_i, dst_i = (i, i + 1) if el.direction != "in" else (i + 1, i)
            new_edges = frame.df.select(
                id_exprs[src_i].alias(SRC),
                id_exprs[dst_i].alias(DST),
                *[F.lit(v).alias(k) for k, v in props.items()],
            ).dropDuplicates([SRC, DST])
            et = graph.edges.get(etype)
            table, seen = _commit(et.df if et else None, added=new_edges)
            total += seen["added"]
            if et:
                et.df = table
            else:
                graph.add_edges(
                    etype, table, SRC, DST, labels[src_i], labels[dst_i]
                )
    return total


def _binding(frame, var):
    b = frame.bindings.get(var)
    if b is None:
        raise DmlError(f"unbound variable {var!r}")
    return b


def _apply_set(graph: PropertyGraph, frame, var, items, params) -> int:
    """One run of SET items on ``var``: one join of its label table with
    the distinct matched ids and their new values, one commit. Each item
    counts the distinct matched ids, as it did when items applied one by
    one."""
    b = _binding(frame, var)
    if b.kind != "node":
        raise DmlError("SET supports node properties (edge SET: planned)")
    if any(item.label is not None for item in items):
        raise DmlError("SET label is not supported yet")
    label = b.label
    if label is None:
        raise DmlError("SET target must have a known label")
    ec = ExprCompiler(frame, params)
    vals = [f"__newval{i}" for i in range(len(items))]
    new_vals = (
        frame.df.select(
            F.col(_ncol(var, ID)).alias("__tid"),
            *[ec.compile(item.value).alias(v) for item, v in zip(items, vals)],
        )
        .dropDuplicates(["__tid"])
    )
    nodes = graph.nodes[label]
    updated = nodes.join(new_vals, nodes[ID] == F.col("__tid"), "left")
    hit = F.col("__tid").isNotNull()
    for item, v in zip(items, vals):
        new = F.when(hit, F.col(v))
        if item.prop in updated.columns:
            new = new.otherwise(F.col(item.prop))
        updated = updated.withColumn(item.prop, new)
    graph.nodes[label], seen = _commit(
        updated.drop("__tid", *vals), tally=new_vals)
    return seen["tally"] * len(items)


def _apply_remove(graph: PropertyGraph, frame, var, props) -> int:
    b = _binding(frame, var)
    if b.kind != "node" or b.label is None:
        raise DmlError("REMOVE supports labeled node properties")
    nodes = graph.nodes[b.label]
    props = [p for p in props if p in nodes.columns]
    if not props:
        return 0
    ids = frame.df.select(F.col(_ncol(var, ID)).alias("__tid")).distinct()
    updated = nodes.join(ids, nodes[ID] == F.col("__tid"), "left")
    for prop in props:
        updated = updated.withColumn(
            prop,
            F.when(F.col("__tid").isNotNull(), F.lit(None)).otherwise(F.col(prop)),
        )
    graph.nodes[b.label], seen = _commit(updated.drop("__tid"), tally=ids)
    return seen["tally"] * len(props)


def _apply_delete(graph: PropertyGraph, frame, var, detach: bool) -> int:
    b = _binding(frame, var)
    if b.kind == "edge":
        # delete matched edges of this type by (src,dst) pair
        if b.label is None:
            raise DmlError("DELETE edge requires a single edge type")
        et = graph.edges[b.label]
        pairs = frame.df.select(
            F.col(_ncol(var, SRC)).alias("__s"), F.col(_ncol(var, DST)).alias("__d")
        ).distinct()
        kept = et.df.join(
            pairs, (et.df[SRC] == F.col("__s")) & (et.df[DST] == F.col("__d")),
            "left_anti",
        )
        et.df, seen = _commit(kept, tally=pairs)
        return seen["tally"]
    if b.label is None:
        raise DmlError("DELETE target must have a known label")
    ids = frame.df.select(F.col(_ncol(var, ID)).alias("__tid")).distinct()
    label = b.label
    # each edge type with an endpoint of this label: commit it without
    # the incident edges; the edges it had (tally) minus the rows it
    # keeps (probe) say whether any were incident
    cut = {}
    for ename, et in graph.edges.items():
        sides = [c for c, end in ((SRC, et.src_label), (DST, et.dst_label))
                 if end == label]
        if not sides:
            continue
        kept = et.df
        for c in sides:
            kept = kept.join(ids, kept[c] == F.col("__tid"), "left_anti")
        table, seen = _commit(kept, tally=et.df, probe=F.lit(True))
        if seen["tally"] > seen["probe"]:
            cut[ename] = table
    if cut and not detach:
        raise DmlError(
            f"cannot DELETE {var}: incident edges exist "
            f"({sorted(cut)}); use DETACH DELETE"
        )
    for ename, table in cut.items():
        graph.edges[ename].df = table
    nodes = graph.nodes[label]
    graph.nodes[label], seen = _commit(
        nodes.join(ids, nodes[ID] == F.col("__tid"), "left_anti"), tally=ids)
    return seen["tally"]
