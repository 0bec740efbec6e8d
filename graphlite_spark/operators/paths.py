"""Graph-index operations: BFS shortest paths, reachability, components.

Spark-first analogues of the reference's GraphIndexScan operations
(FindNeighbors / ShortestPath / IsReachable / PatternMatch — GraphLite
`graphlite/src/plan/operators/physical.rs:42-67`,
`storage/indexes/manager.rs:16-130`; mostly roadmap-stubbed there).

Implemented as iterative DataFrame joins: each hop is one equi-join on
the edge table, frontier deduped per iteration, lineage cut with
localCheckpoint so plans stay bounded at high iteration counts — the
standard Pregel-without-Pregel pattern that scales with the shuffle
machinery (AQE handles frontier skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, PropertyGraph
from .common import fits_broadcast

_CHECKPOINT_EVERY = 4

# salt fan for the wedge-closure join when the closing-edge side is
# too big to broadcast: a boilerplate-heavy 100 TB graph has hot
# (b, c) pairs whose wedge rows would otherwise land on ONE reducer
# (AQE's skew split cannot divide a single key — guide §2.5). 16 ways
# bounds the per-task slice at 1/16 of the hottest pair for the cost
# of replicating the EDGE side 16x — noise next to the Σdeg² wedge
# set. Module-level so the planted-hot-key pytest can exercise the
# salted regime on a small graph.
_WEDGE_SALT = 16
_WEDGE_BROADCAST_MAX_EDGES = 4_000_000


def _ck_cut_stats(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint that also RESETS Catalyst's size stats.

    ``localCheckpoint`` truncates lineage but PRESERVES the optimized
    plan's statistics on the new ``LogicalRDD`` leaf (``originStats``).
    The default (non-CBO) stats visitor estimates every non-semi join
    as the PRODUCT of its children's sizeInBytes, so an iterative
    round whose plan references the previous round's frame through k
    multiplicative joins inflates the estimate to ``prev^k`` — the
    BigInt's digit count multiplies by k per round, and after a few
    dozen rounds the driver spends its entire time in million-digit
    BigInteger multiplication inside stats visits (measured: louvain
    level-2 rounds 1.0s -> 1.9 -> 7.2 -> 28.1s with constant plan
    size, jobs, and data; thread dump pinned in BigInteger.multiply).
    Re-wrapping the checkpointed RDD in a fresh LogicalRDD WITHOUT
    originStats resets the leaf to the scalar default, keeping stats
    arithmetic O(1) per round. AQE still picks broadcast/skew
    strategies from runtime shuffle sizes, so plan quality at scale is
    unaffected. Falls back to the plain checkpoint on non-classic
    sessions where the internal constructor is unavailable.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        spark = ck.sparkSession
        jdf = ck._jdf
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False)
        return DataFrame(new_jdf, spark)
    except Exception:  # pragma: no cover - non-classic sessions
        return ck


def _ck_observe(df: DataFrame, *metrics):
    """Eager stats-cutting checkpoint that ALSO computes scalar
    metrics in the same materialization pass, via an ``observe`` node
    (CollectMetrics): returns (checkpointed frame, {name: value}).

    Every iterative loop in this module pays a fixed per-ACTION
    overhead (job submission + AQE re-planning, ~60-100 ms on the
    bench box) and previously ran TWO actions per round — the eager
    round checkpoint plus a convergence probe (an isEmpty / one-row
    collect over the materialized RDD). The observation rides the
    checkpoint job, so the probe job disappears: one action per round
    (guide §1.2 step 1 / §2.4 — the r11 verdict measured this family
    per-round fixed-overhead bound, not data bound). Aggregates must
    be Observation-legal (no distinct); empty frames yield count 0 /
    NULL extrema, matching what the separate probes saw.
    """
    from pyspark.sql import Observation

    obs = Observation()
    ck = _ck_cut_stats(df.observe(obs, *metrics))
    return ck, obs.get


def _ck_observe_keep_stats(df: DataFrame, *metrics):
    """Like _ck_observe but a PLAIN eager localCheckpoint: Catalyst's
    size estimate (originStats) survives the cut. For frames that are
    (a) materialized once per call — so the compounding-stats disease
    _ck_cut_stats exists for cannot start — and (b) deliberately left
    visible to the join planner so it can pick the broadcast regime
    (the BFS adjacency: every per-level join broadcasts it when it
    fits). _ck_cut_stats here would reset the leaf to the scalar
    default (Long.Max), silently flipping every per-level join to
    sort-merge at ANY scale."""
    from pyspark.sql import Observation

    obs = Observation()
    ck = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return ck, obs.get


def _fits_auto_broadcast(df: DataFrame, n_rows: int) -> bool:
    """True when a frame with a MEASURED row count is within the
    session's autoBroadcastJoinThreshold by the column-width estimate
    (mirrors the planner's own size gate, so callers can predict which
    join regime their per-level joins will run in)."""
    from .common import _parse_bytes, est_row_bytes

    try:
        thr = _parse_bytes(df.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"))
    except Exception:
        thr = 10 * 1024 * 1024
    if thr <= 0:
        return False
    return n_rows * est_row_bytes(df.schema) <= thr


def _sorted_adjacency_if_big(e: DataFrame, n_rows: int) -> DataFrame:
    """Adjacency layout for per-level BFS joins, switched on the
    MEASURED edge count: under the auto-broadcast threshold the frame
    is returned as-is (the planner broadcasts it once and every level
    is a hash probe — re-laying it out would be a pure added exchange,
    the bench-scale regime); above it — the 100 TB regime where each
    per-level join is an SMJ — the frame is hash-distributed and
    sorted by the join key and re-cut, so localCheckpoint's preserved
    outputPartitioning/outputOrdering let every level's SMJ read the
    edge side with no exchange and no re-sort (guide §2.4)."""
    if _fits_auto_broadcast(e, n_rows):
        return e
    return e.repartition("_a").sortWithinPartitions("_a") \
        .localCheckpoint(eager=True)


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 10,
    directed: bool = True,
    batch_hops: int = 8,
    max_batch_hops: int = 64,
    grow_threshold: int = 1024,
    dedup_every: int = 4,
) -> DataFrame:
    """(root, node, dist) for every node within max_hops of each source.

    edges: (_src, _dst); sources: single-column id frame. dist is the
    minimum hop count (BFS level). Self rows (root, root, 0) included.

    ``batch_hops`` levels expand between materialization rounds: on
    high-diameter graphs (long chains) per-round fixed cost — job
    scheduling, checkpoint, emptiness probe — dominates wall time, so
    probing every level makes BFS latency-bound. Within a batch levels
    chain lazily with dist+1 arithmetic; the batch end takes the
    per-(root, node) MIN dist, anti-joins the visited set, checkpoints
    and probes once. A node first reached mid-batch may be re-expanded
    once in the next batch — bounded redundancy, exact min-dist.

    ADAPTIVE GROWTH: when a whole batch discovers fewer than
    ``grow_threshold`` new (root, node) rows, the graph is in its
    long-tail chain regime — wall time is round-count-bound, not
    data-bound — so the batch size doubles (capped at
    ``max_batch_hops``). The exact-min-dist argument is batch-size
    independent, so results are identical; a 1000-level chain finishes
    in O(log) rounds instead of max_hops / batch_hops.

    Within a batch, per-(root, node) dedup runs every
    ``dedup_every`` levels (fused with the lazy lineage cut), not
    every level: each dedup is a full shuffle stage, and on sparse
    frontiers it costs more than the duplicates it removes (measured
    ~2x closeness wall time at cadence 1 vs 4). The dedup cadence is
    decoupled from batch size, so growth never widens the
    duplicate-blowup window — it stays <= out_degree^dedup_every
    regardless of batch. Dense cyclic graphs can pass dedup_every=1.
    """
    id_col = sources.columns[0]
    e = edges.select(F.col(SRC).alias("_a"), F.col(DST).alias("_b"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(DST).alias("_a"), F.col(SRC).alias("_b"))
        ).distinct()
    # materialize the adjacency ONCE (the GraphX/Pregel cache-the-graph
    # discipline): every level of every batch joins e, and a derived
    # edge lineage (the chains entries build edges with a window lead()
    # over the event table; sampled-centrality callers add a reverse
    # projection) re-executes per level otherwise. Plain localCheckpoint
    # keeps the size estimate for the join planner (the bench-scale
    # regime: the edge side broadcasts once and every level is a
    # build-free hash probe). When the MEASURED edge frame is too big
    # to broadcast — the 100 TB regime, where each per-level join
    # becomes an SMJ that would re-sort the edge side inside every
    # batch plan — re-lay it out hash-distributed AND sorted by the
    # join key before the cut: localCheckpoint preserves
    # outputPartitioning and outputOrdering, so each level's SMJ reads
    # the edge side with no exchange and no re-sort (guide §2.4; one
    # exchange+sort at entry buys levels × sort(|E|) back). The count
    # rides the materialization job (_ck_observe_keep_stats — the
    # planner must keep seeing the true size estimate).
    e, _est = _ck_observe_keep_stats(e, F.count(F.lit(1)).alias("n"))
    e = _sorted_adjacency_if_big(e, int(_est["n"] or 0))
    visited = sources.select(
        F.col(id_col).alias("root"),
        F.col(id_col).alias("node"),
        F.lit(0).alias("dist"),
    )
    frontier = visited
    depth = 0
    cur_batch = batch_hops
    while depth < max_hops:
        lvl = frontier
        levels = []
        for i in range(min(cur_batch, max_hops - depth)):
            depth += 1
            lvl = lvl.join(e, lvl["node"] == e["_a"], "inner").select(
                F.col("root"), F.col("_b").alias("node"),
                (F.col("dist") + 1).alias("dist"),
            )
            # every dedup_every levels: shuffle-dedup the in-flight
            # frontier AND lazily cut lineage. Without the cut the
            # batch's union holds O(batch^2) join nodes (level j
            # chains j joins) and Catalyst planning dominates at
            # batch sizes >= 32. Lazy (eager=False) materializes
            # inside the SAME job — no extra driver barrier.
            if (i + 1) % dedup_every == 0:
                lvl = lvl.dropDuplicates(["root", "node"]) \
                         .localCheckpoint(eager=False)
            levels.append(lvl)
        block = levels[0]
        for extra in levels[1:]:
            block = block.unionByName(extra)
        nxt = (
            block.groupBy("root", "node")
            .agg(F.min("dist").alias("dist"))
            .join(visited.select("root", "node"), ["root", "node"], "left_anti")
        )
        # materialize each batch once, with the stats riding the
        # checkpoint's materialization pass (_ck_observe): ONE job
        # yields the emptiness probe, the adaptive-growth signal AND
        # the mid-batch-death signal — the separate one-row collect
        # per batch is gone (r12, same device as _bfs_sigma)
        nxt, stats = _ck_observe(
            nxt, F.count(F.lit(1)).alias("n"), F.max("dist").alias("md"))
        n_new = int(stats["n"] or 0)
        if n_new == 0:
            break
        visited = visited.unionByName(nxt)
        # BFS level property: a node at level L+1 needs a predecessor
        # at level L, so if the batch's FINAL level discovered nothing
        # the frontier died mid-batch and every deeper level is empty —
        # stop now instead of running one more (possibly 64-level)
        # all-empty round. Matters after growth: overshoot past a
        # chain's end was the dominant cost of small-source BFS.
        if int(stats["md"]) < depth:
            break
        frontier = nxt
        if n_new < grow_threshold and cur_batch < max_batch_hops:
            cur_batch = min(cur_batch * 2, max_batch_hops)
    return visited


def shortest_path_pair(
    edges: DataFrame,
    source,
    target,
    max_hops: int = 20,
    directed: bool = True,
    batch_hops: int = 2,
    dedup_every: int = 4,
    max_batch_hops: int = 64,
    grow_threshold: int = 1024,
) -> DataFrame:
    """One-row (dist) frame: the shortest hop count source -> target
    (empty if unreachable within max_hops).

    Bidirectional BFS — the point-query companion to bfs_distances:
    two balls grow from both endpoints, ALTERNATING on the smaller
    frontier, and the search stops at the first meeting. On a
    branching-factor-b graph each ball explores O(b^(d/2)) nodes
    instead of one ball's O(b^d) — at 100 TB graph scale this is the
    difference between a point query and an all-pairs-sized job.

    Exactness at first meeting: suppose the true distance d were
    smaller than the best meeting sum. The node on a shortest path at
    forward radius rf has backward distance d - rf; if d <= rf + rb it
    lies in BOTH balls and bounds the meeting sum by d — so a meeting
    sum > d forces d > rf + rb >= (that sum), a contradiction. Both
    visited sets hold exact min-dists (level-order expansion with
    anti-join), so the returned value is exact, batch size
    notwithstanding.

    source/target: python ints or single-column one-row DataFrames
    (frame form avoids a driver round-trip when endpoints come from a
    query). Driver probes are O(1) counters per round, the repo
    discipline for iterative operators.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(SRC).alias("_a"), F.col(DST).alias("_b"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(DST).alias("_a"), F.col(SRC).alias("_b"))
        ).distinct()
    # cache the adjacency once (the bfs_distances discipline): every
    # level of every batch joins e, and the deep-chain entry derives
    # edges from a window lead() that would re-execute per level. Past
    # the broadcast cap, both directions additionally get their own
    # key-sorted layout before the cut so per-level SMJs never re-sort
    # the edge side (see bfs_distances, r12).
    e, _est = _ck_observe_keep_stats(e, F.count(F.lit(1)).alias("n"))
    _n_e = int(_est["n"] or 0)
    e = _sorted_adjacency_if_big(e, _n_e)
    # backward ball walks edges REVERSED so dist_b is distance TO target
    e_rev = e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
    if not _fits_auto_broadcast(e, _n_e):
        e_rev = e_rev.repartition("_a").sortWithinPartitions("_a") \
            .localCheckpoint(eager=True)

    def _one(v) -> DataFrame:
        if isinstance(v, DataFrame):
            c = v.columns[0]
            # materialize the endpoint once: it seeds the visited set,
            # whose union lineage is re-read by EVERY probe and meet
            # check — an un-cut endpoint plan (often an orderBy+limit
            # over a full table) would re-execute each time
            return v.select(F.col(c).alias("node")).limit(1) \
                .localCheckpoint(eager=False)
        return spark.createDataFrame([(v,)], "node: long")

    sides = {
        "f": {"visited": _one(source).withColumn("dist", F.lit(0)),
              "edges": e},
        "b": {"visited": _one(target).withColumn("dist", F.lit(0)),
              "edges": e_rev},
    }
    for s in sides.values():
        s["frontier"] = s["visited"]
        s["n"] = 1
        s["radius"] = 0
        s["alive"] = True
        s["batch"] = batch_hops

    def _meet() -> int | None:
        m = (sides["f"]["visited"].select("node", F.col("dist").alias("_df"))
             .join(sides["b"]["visited"]
                   .select("node", F.col("dist").alias("_db")), "node")
             .agg(F.min(F.col("_df") + F.col("_db")).alias("d"))
             .collect()[0]["d"])
        return None if m is None else int(m)

    best = _meet()  # source == target -> 0 immediately
    while best is None:
        live = [s for s in sides.values() if s["alive"]]
        if not live:
            return spark.createDataFrame([], "dist: long")
        side = min(live, key=lambda s: s["n"])
        other = sides["b"] if side is sides["f"] else sides["f"]
        if side["radius"] + other["radius"] >= max_hops:
            return spark.createDataFrame([], "dist: long")
        lvl = side["frontier"]
        levels = []
        steps = min(side["batch"],
                    max_hops - side["radius"] - other["radius"])
        for i in range(steps):
            side["radius"] += 1
            lvl = lvl.join(side["edges"], lvl["node"] == side["edges"]["_a"],
                           "inner").select(
                F.col("_b").alias("node"),
                (F.col("dist") + 1).alias("dist"))
            # dedup + lineage cut on a cadence, not per level — each is
            # a full shuffle stage and on sparse frontiers (chains:
            # ONE node) the fixed stage cost dwarfs the duplicates it
            # removes (the bfs_distances lesson). Measured r11: cadences
            # LONGER than 4 (16 un-cut chained joins) blow up plan size
            # and made the deep-chain point query 2-4x slower, so the
            # cadence stays at dedup_every.
            if (i + 1) % dedup_every == 0:
                lvl = lvl.dropDuplicates(["node"]) \
                    .localCheckpoint(eager=False)
            levels.append(lvl)
        block = levels[0]
        for extra in levels[1:]:
            block = block.unionByName(extra)
        nxt = (
            block.groupBy("node").agg(F.min("dist").alias("dist"))
            .join(side["visited"].select("node"), ["node"], "left_anti")
        )
        # the probe — frontier size AND the best meeting sum among the
        # newly reached nodes (new meetings only arise from nxt) — now
        # rides the round checkpoint's materialization pass: the
        # other-ball lookup joins INTO the checkpointed frame (one
        # extra int column, projected back off below) and the metrics
        # are observed on it, so the separate probe job per round is
        # gone (r12, _ck_observe). The left join preserves nxt's row
        # count — other visited holds one row per node (min-dist set).
        with_meet, probe = _ck_observe(
            nxt.join(other["visited"]
                     .select("node", F.col("dist").alias("_do")),
                     ["node"], "left"),
            F.count(F.lit(1)).alias("n"),
            F.min(F.col("dist") + F.col("_do")).alias("meet"),
        )
        nxt = with_meet.select("node", "dist")
        side["n"] = int(probe["n"] or 0)
        if side["n"] == 0:
            side["alive"] = False
            # an exhausted ball with no meeting means unreachable
            return spark.createDataFrame([], "dist: long")
        side["visited"] = side["visited"].unionByName(nxt)
        side["frontier"] = nxt
        # sparse frontier = round-count-bound regime (long chains):
        # double the batch like bfs_distances; exactness is batch-size
        # independent
        if side["n"] < grow_threshold and side["batch"] < max_batch_hops:
            side["batch"] = min(side["batch"] * 2, max_batch_hops)
        if probe["meet"] is not None:
            best = int(probe["meet"])
    if best > max_hops:
        return spark.createDataFrame([], "dist: long")
    return spark.createDataFrame([(best,)], "dist: long")


def closeness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 50,
    directed: bool = True,
    harmonic: bool = False,
) -> DataFrame:
    """(node, n_reachable, closeness) with closeness = (reachable - 1)
    / sum(dist) over each source's reachable set (the standard
    Wasserman-Faust numerator without the disconnected-graph rescale;
    nodes reaching nothing score 0.0). ``harmonic=True`` returns
    harmonic centrality sum(1/dist) instead — well-defined on
    disconnected graphs (unreachable nodes contribute 0, not a skewed
    denominator).

    Runs one hop-batched multi-source BFS (bfs_distances) from
    ``sources`` — pass every node for exact centrality on
    analysis-sized graphs, or a hash_sample of nodes for the standard
    sampled approximation at corpus scale (cost scales with
    |sources| x reachable set, never all-pairs materialization beyond
    the per-source reach).
    """
    d = bfs_distances(edges, sources, max_hops=max_hops, directed=directed)
    if harmonic:
        per = d.groupBy("root").agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.when(F.col("dist") > 0, F.lit(1.0) / F.col("dist"))
                .otherwise(F.lit(0.0))
            ).alias("_h"),
        )
        return per.select(
            F.col("root").alias("node"),
            F.col("_n").cast("long").alias("n_reachable"),
            F.round(F.col("_h"), 6).alias("closeness"),
        )
    per = d.groupBy("root").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("dist").alias("_sum"),
    )
    return per.select(
        F.col("root").alias("node"),
        F.col("_n").cast("long").alias("n_reachable"),
        F.round(
            F.when(F.col("_sum") > 0,
                   (F.col("_n") - 1) / F.col("_sum")).otherwise(F.lit(0.0)),
            6,
        ).alias("closeness"),
    )


def closeness_sampled(
    edges: DataFrame,
    nodes: DataFrame,
    p: float,
    salt: int = 0,
    max_hops: int = 50,
    directed: bool = True,
    harmonic: bool = True,
) -> DataFrame:
    """Sampled-TARGET estimate of harmonic/closeness centrality — the
    EXECUTABLE scale posture for the all-sources form (exact
    closeness_centrality runs |V| BFS reaches; the Eppstein-Wang
    estimator runs them from a uniform sample and scales by |V|/|S|;
    VERDICT r8 ask #2b — the betweenness_sampled replay template,
    paths.py:532, applied to the distance-sum family).

    Targets are chosen by the Knuth multiplicative hash
    ((node + salt) * 2654435761) mod 2^32 < floor(p * 2^32) — the
    deterministic, partition-insensitive sample BOTH engines compute,
    so the ESTIMATE itself is oracle-matchable, not just its
    expectation. One multi-source BFS runs from the sampled set over
    REVERSED edges (an s-rooted reverse-BFS distance d equals the
    forward distance v->s), so the per-node sums over sampled targets
    come out of a single groupBy:

      harmonic_hat(v)  = round((N/|S|) * sum_{s in S, d(v,s)>0}
                               1/d(v,s), 6)
      closeness uses the same scaled reach/distance sums in the
      Wasserman-Faust form ((n_hat-1)/sum_hat, 0.0 when nothing
      is reached).

    Distances are truncated at ``max_hops`` (contributes 0 beyond —
    the same bounded-reach convention betweenness_sampled documents;
    an oracle replays the bound as a join predicate). Error decays as
    1/sqrt(|S|); rel-err on the gate corpus is pinned in pytest.
    Raises if the sample is empty (raise p or change salt). Returns
    (node, n_reachable, closeness) with n_reachable = the SCALED
    reach estimate rounded to a long — schema-compatible with the
    exact operator.
    """
    if not 0.0 < p <= 1.0:
        raise ValueError(f"p must be in (0, 1], got {p}")
    from pyspark.sql.types import NumericType

    from .sampling import _bucket

    node_col = nodes.columns[0]
    cut = int(p * 4294967296.0)
    key = F.col(node_col)
    if not isinstance(nodes.schema[node_col].dataType, NumericType):
        key = F.xxhash64(key)
    sampled = nodes.filter(_bucket(key, salt) < F.lit(cut)) \
        .select(F.col(node_col).alias("_t"))
    if sampled.limit(1).count() == 0:
        raise ValueError(
            f"closeness_sampled: p={p} salt={salt} sampled 0 of the "
            "node universe; raise p or change salt")
    stats = (
        nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
        .crossJoin(sampled.agg(F.count(F.lit(1)).cast("double")
                               .alias("_s")))
    )
    # reverse-BFS from the sampled targets: root = target s,
    # node = v, dist = d(v, s) in the FORWARD graph
    rev = edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    d = bfs_distances(rev if directed else edges, sampled,
                      max_hops=max_hops, directed=directed)
    per = d.filter(F.col("dist") > 0).groupBy("node").agg(
        F.count(F.lit(1)).cast("double").alias("_reach"),
        F.sum(F.lit(1.0) / F.col("dist")).alias("_h"),
        F.sum("dist").cast("double").alias("_sum"),
    )
    # every node is its own 0-distance row ONLY if sampled; emit the
    # full node universe so unreached nodes score 0.0 like the exact
    # operator's never-reaching sources
    base = nodes.select(F.col(node_col).alias("node")) \
        .join(per, "node", "left").crossJoin(F.broadcast(stats))
    scale = F.col("_n") / F.col("_s")
    # reach_hat estimates |{u != v : d(v,u) in (0, max_hops]}|; the
    # reported n_reachable adds the self row back so p=1.0 reproduces
    # the exact operator's count-including-self EXACTLY (pytest-pinned)
    reach_hat = F.coalesce(F.col("_reach"), F.lit(0.0)) * scale
    if harmonic:
        val = F.round(F.coalesce(F.col("_h"), F.lit(0.0)) * scale, 6)
    else:
        sum_hat = F.coalesce(F.col("_sum"), F.lit(0.0)) * scale
        val = F.round(
            F.when(sum_hat > 0, reach_hat / sum_hat)
            .otherwise(F.lit(0.0)), 6)
    return base.select(
        "node",
        (F.round(reach_hat, 0).cast("long") + 1).alias("n_reachable"),
        val.alias("closeness"),
    )


def eccentricity_sampled(
    edges: DataFrame,
    nodes: DataFrame,
    p: float,
    salt: int = 0,
    max_hops: int = 50,
    directed: bool = True,
) -> DataFrame:
    """Sampled-target eccentricity LOWER BOUND for every node — the
    scale posture of all-sources eccentricity (the closeness_sampled
    / betweenness_sampled replay family): targets are the Knuth-hash
    p-fraction of nodes, one reverse multi-source BFS computes
    d(v, s) for every v, and

        ecc_hat(v) = max_{s in S} d(v, s)  <=  ecc(v)

    — the standard sampled bound (max over a subset can never exceed
    the max over all targets; pytest-pinned, with p=1.0 reproducing
    the exact operator on the same truncation bound). No |V|/|S|
    scaling: a max, unlike a sum, estimates by inclusion, so the
    bound is exact-from-below and deterministic (oracle replays the
    sample). Distances truncate at ``max_hops``; nodes reaching no
    sampled target score 0 with n_reachable 0 (the exact operator's
    reaching-nothing convention). Returns (node, eccentricity,
    n_reachable) — n_reachable counts SAMPLED targets reached, a
    coverage diagnostic, not a scaled estimate."""
    if not 0.0 < p <= 1.0:
        raise ValueError(f"p must be in (0, 1], got {p}")
    from pyspark.sql.types import NumericType

    from .sampling import _bucket

    node_col = nodes.columns[0]
    cut = int(p * 4294967296.0)
    key = F.col(node_col)
    if not isinstance(nodes.schema[node_col].dataType, NumericType):
        key = F.xxhash64(key)
    sampled = nodes.filter(_bucket(key, salt) < F.lit(cut)) \
        .select(F.col(node_col).alias("_t"))
    if sampled.limit(1).count() == 0:
        raise ValueError(
            f"eccentricity_sampled: p={p} salt={salt} sampled 0 of "
            "the node universe; raise p or change salt")
    rev = edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    d = bfs_distances(rev if directed else edges, sampled,
                      max_hops=max_hops, directed=directed)
    per = d.filter(F.col("dist") > 0).groupBy("node").agg(
        F.max("dist").alias("_e"),
        F.count(F.lit(1)).alias("_r"),
    )
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(per, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("_e"), F.lit(0)).cast("long")
            .alias("eccentricity"),
            F.coalesce(F.col("_r"), F.lit(0)).cast("long")
            .alias("n_reachable"),
        )
    )


def _bfs_sigma(
    e: DataFrame,
    sources: DataFrame,
    max_hops: int,
    batch_hops: int = 8,
    dedup_every: int = 4,
) -> tuple[DataFrame, int]:
    """((root, node, dist, sigma), max dist reached): min-dist BFS
    that also counts the number of distinct shortest paths (Brandes'
    sigma) — the forward pass of betweenness. Same hop-batched
    structure as bfs_distances; the per-level dedup becomes a
    (root, node, dist) SUM (merging same-length path bundles IS path
    counting), and the batch end keeps, per (root, node), the minimum
    dist with sigma summed over exactly that dist. The reached-depth
    maximum is tracked from the per-batch observed stats, so the
    caller's backward sweep needs no extra scan of the visited union.
    e: (_a, _b) prepared edge frame.

    Correctness of batching: all predecessors of a node at true dist
    d-1 are discovered in the same batch (batch depth ranges are
    contiguous), so every shortest-path bundle into a node aggregates
    in one batch-end window — no cross-batch sigma is lost.
    """
    from pyspark.sql import Window

    id_col = sources.columns[0]
    visited = sources.select(
        F.col(id_col).alias("root"),
        F.col(id_col).alias("node"),
        F.lit(0).alias("dist"),
        F.lit(1.0).alias("sigma"),
    )
    frontier = visited
    depth = 0
    dmax = 0
    while depth < max_hops:
        lvl = frontier
        levels = []
        for i in range(min(batch_hops, max_hops - depth)):
            depth += 1
            lvl = lvl.join(e, lvl["node"] == e["_a"], "inner").select(
                F.col("root"), F.col("_b").alias("node"),
                (F.col("dist") + 1).alias("dist"), F.col("sigma"),
            )
            if (i + 1) % dedup_every == 0:
                lvl = (
                    lvl.groupBy("root", "node", "dist")
                    .agg(F.sum("sigma").alias("sigma"))
                    .localCheckpoint(eager=False)
                )
            levels.append(lvl)
        block = levels[0]
        for extra in levels[1:]:
            block = block.unionByName(extra)
        per_dist = block.groupBy("root", "node", "dist").agg(
            F.sum("sigma").alias("sigma")
        )
        w = Window.partitionBy("root", "node")
        nxt = (
            per_dist.withColumn("_dmin", F.min("dist").over(w))
            .filter(F.col("dist") == F.col("_dmin"))
            .drop("_dmin")
            .join(visited.select("root", "node"), ["root", "node"],
                  "left_anti")
        )
        # batch stats ride the checkpoint job (_ck_observe) instead of
        # a separate one-row collect per batch
        nxt, stats = _ck_observe(
            nxt,
            F.count(F.lit(1)).alias("n"), F.max("dist").alias("md"))
        if int(stats["n"] or 0) == 0:
            break
        visited = visited.unionByName(nxt)
        dmax = max(dmax, int(stats["md"]))
        if int(stats["md"]) < depth:
            break  # frontier died mid-batch (see bfs_distances)
        frontier = nxt
    return visited, dmax


def betweenness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 8,
    directed: bool = True,
    batch_levels: int = 8,
) -> DataFrame:
    """(node, betweenness): Brandes' algorithm, sampled sources and a
    bounded horizon — the distributed form of "k-betweenness".

    bc(v) = sum over source s in ``sources``, target t (both != v, t
    within ``max_hops`` of s) of the fraction of shortest s->t paths
    passing through v. Pass every node as sources for the exact
    (bounded-horizon) score, or a hash_sample for the standard Brandes
    sampling estimate (scale by n/|sources| downstream).

    Two distributed passes, both hop-batched:
    - forward: _bfs_sigma — per (root, node) min dist + shortest-path
      counts.
    - backward: dependency accumulation delta(v) = sum over DAG
      successors w (dist_w = dist_v + 1) of sigma_v / sigma_w *
      (1 + delta(w)), swept from the deepest level toward the sources
      — level d depends only on level d+1; each level is one
      dag-slice join + partial-aggregated groupBy over the
      materialized DAG, eagerly checkpointed so the final union reads
      every level exactly once (``batch_levels`` is retained for
      signature compatibility; lazily chaining levels re-executed all
      deeper levels per union branch, measured O(levels^2) joins).

    The horizon bounds both work (|sources| x reach) and the backward
    sweep's level count — the 100 TB posture for a metric whose exact
    form is inherently all-pairs.
    """
    e = edges.select(F.col(SRC).alias("_a"), F.col(DST).alias("_b"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(DST).alias("_a"), F.col(SRC).alias("_b"))
        ).distinct()
    # materialize the edge frame ONCE: it feeds every forward BFS level
    # AND the DAG join, and a derived edge lineage (the chains entries
    # build edges with a window lead() over the event table) would
    # re-execute that window + its exchange once per level. Plain
    # localCheckpoint (not _ck_cut_stats) on purpose: e is checkpointed
    # once, so there is no round-compounding stats blowup, and keeping
    # its size estimate lets the per-level frontier⋈edges join go
    # broadcast when the edge set fits (guide §3.1) while staying a
    # shuffle join at scale.
    e = e.localCheckpoint(eager=True)
    vis, dmax = _bfs_sigma(e, sources, max_hops)

    # shortest-path DAG: consecutive-dist pairs, with both endpoints'
    # sigma. Reused by every backward level -> checkpoint once.
    va = vis.select(
        F.col("root"), F.col("node").alias("_v"),
        F.col("dist").alias("_dv"), F.col("sigma").alias("_sv"),
    )
    wb = vis.select(
        F.col("root"), F.col("node").alias("_w"),
        F.col("dist").alias("_dw"), F.col("sigma").alias("_sw"),
    )
    dag = (
        va.join(e, va["_v"] == e["_a"], "inner")
        .select("root", "_v", "_dv", "_sv", F.col("_b").alias("_w"))
        .join(wb, ["root", "_w"], "inner")
        .filter(F.col("_dw") == F.col("_dv") + 1)
        .select("root", "_v", "_dv", "_sv", "_w", "_sw")
        .localCheckpoint(eager=True)
    )
    # dmax was tracked from the per-batch observed stats — no extra
    # scan of the visited union (r12)
    if dmax == 0:
        return sources.select(
            F.col(sources.columns[0]).alias("node")
        ).limit(0).withColumn("betweenness", F.lit(0.0))

    # backward sweep: prev = delta at level d+1 (deepest level has no
    # successors -> delta None = all-zero). Each level is ONE
    # dag-slice join + groupBy, EAGERLY checkpointed: the recurrence
    # is sequential in d, and the final union re-reads every level's
    # frame — without the per-level cut each union branch recomputed
    # all deeper levels from scratch (O(dmax^2) shuffle joins; the
    # measured r11 backward sweep was 12-16s of the 16.7s total on
    # the chains entry). A node absent from a level's contrib has
    # delta 0, which the coalesce on the NEXT level's join treats
    # identically — so the old per-level zero-fill join against vis
    # is folded into ONE zero-fill at the end (same output rows).
    prev = None
    prev_n = 0
    acc: list[DataFrame] = []
    for d in range(dmax - 1, 0, -1):
        lvl = dag.filter(F.col("_dv") == d)
        if prev is None:
            contrib = lvl.groupBy("root", "_v").agg(
                F.sum(F.col("_sv") / F.col("_sw")).alias("_delta"))
        else:
            # the previous level's delta frame is (root, node, delta)
            # with an OBSERVED row count: broadcast it when it fits so
            # the dag slice — a shuffle-free filter over the
            # materialized dag RDD — never hits an exchange for this
            # join and the level runs in ONE exchange (the groupBy).
            # Deep/wide graphs past the cap keep the shuffle join.
            prev_b = (F.broadcast(prev)
                      if fits_broadcast(prev_n, prev.schema,
                                        max_rows=2_000_000) else prev)
            contrib = (
                lvl.join(prev_b, ["root", "_w"], "left")
                .groupBy("root", "_v")
                .agg(
                    F.sum(
                        (F.col("_sv") / F.col("_sw"))
                        * (F.lit(1.0)
                           + F.coalesce(F.col("_delta"), F.lit(0.0)))
                    ).alias("_delta")
                )
            )
        contrib, cst = _ck_observe(
            contrib, F.count(F.lit(1)).alias("n"))
        prev_n = int(cst["n"] or 0)
        acc.append(contrib)
        prev = contrib.select("root", F.col("_v").alias("_w"), "_delta")

    # output node set: every node some root reaches at dist >= 1 (the
    # set the old per-level vis zero-fill produced), scores summed
    # over the checkpointed level slices
    reached = vis.filter(F.col("dist") >= 1).select("node").distinct()
    if not acc:
        return reached.withColumn("betweenness", F.lit(0.0))
    deltas = acc[0]
    for extra in acc[1:]:
        deltas = deltas.unionByName(extra)
    scores = deltas.groupBy(F.col("_v").alias("node")).agg(
        F.sum("_delta").alias("_s"))
    return reached.join(scores, "node", "left").select(
        "node",
        F.round(F.coalesce(F.col("_s"), F.lit(0.0)), 6)
        .alias("betweenness"),
    )


def betweenness_sampled(
    edges: DataFrame,
    nodes: DataFrame,
    p: float,
    salt: int = 0,
    max_hops: int = 8,
    directed: bool = True,
    batch_levels: int = 8,
) -> DataFrame:
    """Sampled-source Brandes estimate — the EXECUTABLE scale posture
    for betweenness (running every node as a source is |V| x reach
    work; the standard estimator runs a uniform source sample and
    scales by |V| / |S|, Brandes-Pich 2007).

    Sources are chosen by the Knuth multiplicative hash
    ((node + salt) * 2654435761) mod 2^32 < floor(p * 2^32) — the
    deterministic sampling BOTH engines can compute (the DOULION
    replay device, memory-free and partition-insensitive), so even
    the sampled estimate is oracle-matchable: the oracle samples
    identically and reproduces the estimate exactly, not just in
    expectation. Returns (node, betweenness) with betweenness =
    round(bc_sampled * |V|/|S|, 6); the scale ratio rides as a
    broadcast 1x1 frame (no driver collect). Raises if the sample is
    empty (raise p or change salt). Estimator error decays as
    1/sqrt(|S|) — rel-err at the gate corpus is pinned in pytest.
    """
    if not 0.0 < p <= 1.0:
        raise ValueError(f"p must be in (0, 1], got {p}")
    node_col = nodes.columns[0]
    cut = int(p * 4294967296.0)
    # sampling._bucket = the SAME (node + salt) * KNUTH mod 2^32 value
    # via the 16/16-split multiply — a naive long multiply raises
    # ARITHMETIC_OVERFLOW under ANSI for ids above ~3.47e9 (any
    # 64-bit/xxhash64 id); congruence mod 2^32 keeps oracle replays
    # on small ids byte-identical. NON-numeric ids (string content
    # hashes from pure-GQL graphs) pre-hash through xxhash64 — still
    # deterministic and partition-insensitive, just engine-internal
    # (an oracle would replay the numeric form only)
    from pyspark.sql.types import NumericType

    from .sampling import _bucket

    key = F.col(node_col)
    if not isinstance(nodes.schema[node_col].dataType, NumericType):
        key = F.xxhash64(key)
    sampled = nodes.filter(_bucket(key, salt) < F.lit(cut))
    stats = (
        nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
        .crossJoin(sampled.agg(F.count(F.lit(1)).cast("double")
                               .alias("_s")))
    )
    bc = betweenness_centrality(edges, sampled, max_hops=max_hops,
                                directed=directed,
                                batch_levels=batch_levels)
    out = bc.crossJoin(F.broadcast(stats))
    # fail fast on an empty sample: scaling by n/0 would silently
    # produce Infinity rows under non-ANSI configs
    if sampled.limit(1).count() == 0:
        raise ValueError(
            f"betweenness_sampled: p={p} salt={salt} sampled 0 of the "
            "source universe; raise p or change salt")
    return out.select(
        "node",
        F.round(F.col("betweenness") * F.col("_n") / F.col("_s"), 6)
        .alias("betweenness"),
    )


def weighted_sssp(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "weight",
    max_iters: int = 20,
    directed: bool = True,
) -> DataFrame:
    """Weighted single/multi-source shortest distances via distributed
    Bellman-Ford (iterative relaxation).

    edges: (_src, _dst, weight >= 0); sources: single-column id frame.
    Returns (node, dist): after k rounds dist is the minimum weight over
    paths of <= k edges, so with max_iters >= the optimal path's hop
    count (or when the frontier drains early) this is exact SSSP. The
    reference's ShortestPath graph-index op is unweighted and stubbed
    (storage/indexes/manager.rs:16-130); weighted variants there would
    be per-pair Dijkstra on the driver.

    Scale: each round is one equi-join frontier⋈edges + a min-groupBy —
    the same shuffle profile as BFS, with per-round localCheckpoint to
    keep lineage flat. Only *improved* nodes re-enter the frontier, so
    rounds shrink as distances converge (delta-stepping's win without
    its bucketing machinery; AQE absorbs frontier skew).
    """
    id_col = sources.columns[0]
    e = edges.select(
        F.col(SRC).alias("_a"), F.col(DST).alias("_b"),
        F.col(weight_col).cast("double").alias("_w"),
    )
    if not directed:
        e = e.unionByName(
            edges.select(
                F.col(DST).alias("_a"), F.col(SRC).alias("_b"),
                F.col(weight_col).cast("double").alias("_w"),
            )
        )
    # cache the adjacency once — every relaxation round joins it (see
    # bfs_distances)
    e = e.localCheckpoint(eager=True)
    dist = sources.select(
        F.col(id_col).alias("node"), F.lit(0.0).alias("dist")
    ).localCheckpoint(eager=True)
    frontier = dist
    # relaxation rounds batch (same rationale as bfs_distances
    # batch_hops): inner rounds chain lazily against the batch-start
    # dist snapshot — extra relaxations are harmless in Bellman-Ford —
    # and each batch pays ONE checkpoint + probe + dist merge. dist
    # after it inner rounds is still exactly min over <= it edges.
    batch = 4
    it = 0
    while it < max_iters:
        fr = frontier
        rounds = []
        for _ in range(min(batch, max_iters - it)):
            it += 1
            cand = (
                fr.join(e, fr["node"] == e["_a"], "inner")
                .select(F.col("_b").alias("node"),
                        (F.col("dist") + F.col("_w")).alias("dist"))
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )
            fr = (
                cand.join(dist.withColumnRenamed("dist", "_old"),
                          "node", "left_outer")
                .filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
                .select("node", "dist")
            )
            rounds.append(fr)
        allimp = rounds[0]
        for r in rounds[1:]:
            allimp = allimp.unionByName(r)
        # the emptiness probe rides the checkpoint's materialization
        # pass (_ck_observe) — one action per batch (r12)
        improved, st = _ck_observe(
            allimp.groupBy("node").agg(F.min("dist").alias("dist"))
            .join(dist.withColumnRenamed("dist", "_old"), "node", "left_outer")
            .filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .select("node", "dist"),
            F.count(F.lit(1)).alias("n"),
        )
        if int(st["n"] or 0) == 0:
            break
        dist = _ck_cut_stats(
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        frontier = improved
    return dist


def shortest_path_lengths(
    graph: PropertyGraph,
    edge_label: str,
    sources: DataFrame,
    max_hops: int = 10,
    directed: bool = True,
) -> DataFrame:
    """ShortestPath over one edge type: (root, node, dist), dist >= 1."""
    et = graph.edge_type(edge_label)
    out = bfs_distances(et.df, sources, max_hops, directed)
    return out.filter(F.col("dist") > 0)


def is_reachable(
    graph: PropertyGraph,
    edge_label: str,
    sources: DataFrame,
    targets: DataFrame,
    max_hops: int = 10,
) -> DataFrame:
    """IsReachable: (root, node) pairs where node (in targets) is reachable
    from root within max_hops."""
    t_col = targets.columns[0]
    d = bfs_distances(graph.edge_type(edge_label).df, sources, max_hops)
    return d.join(
        targets.select(F.col(t_col).alias("node")), "node", "left_semi"
    ).select("root", "node", "dist")


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """(node, component): hash-min label propagation over undirected edges.

    component = min node id in the component. Each round combines
    neighbor-min propagation with pointer jumping (comp := comp[comp]),
    giving O(log diameter) convergence — the small-star/large-star trick
    from the MapReduce CC literature, as DataFrame joins.
    """
    id_col = nodes.columns[0]
    # checkpoint the INPUTS once: edges/nodes may carry an expensive
    # derived lineage (e.g. dedup_clusters feeds PPJoin pair output) —
    # without this every round's join re-executes that upstream plan
    e = (
        edges.select(F.col(SRC).alias("_a"), F.col(DST).alias("_b"))
        .unionByName(edges.select(F.col(DST).alias("_a"), F.col(SRC).alias("_b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("comp")
    ).localCheckpoint(eager=False)
    for it in range(max_iter):
        nbr_min = (
            labels.join(e, labels["node"] == e["_a"], "inner")
            .select(F.col("_b").alias("node"), F.col("comp"))
            .groupBy("node")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("comp").alias("_oc"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
        )
        # pointer jumping: comp := comp[comp] (path compression),
        # applied TWICE per round plan from round 2 on (r12): each
        # round is one action whose fixed overhead dominates at bench
        # scale, and a second in-plan jump squares the compression per
        # action — long chains/rings converge in roughly half the
        # rounds for two extra joins inside the same job (the fixpoint
        # — comp = min component id — is schedule-independent, so
        # results are unchanged). Rounds 1-2 keep the single jump:
        # shallow graphs (the common CC-inside-an-operator case)
        # converge in 1-2 rounds and would pay the extra joins for no
        # round saved. Convergence rides IN the round frame: the old
        # label is carried through and compared in-plan.
        cur = stepped
        for _jump in range(2 if it >= 2 else 1):
            m = cur.select(
                F.col("node").alias("_mn"), F.col("comp").alias("_mc")
            )
            cur = (
                cur.join(m, cur["comp"] == m["_mn"], "left")
                .select(
                    "node",
                    "_oc",
                    F.least(
                        F.col("comp"),
                        F.coalesce(F.col("_mc"), F.col("comp")),
                    ).alias("comp"),
                )
            )
        new_labels = cur.select(
            "node", "comp",
            (F.col("comp") != F.col("_oc")).alias("_chg"),
        )
        # checkpoint every round, with the convergence count computed
        # IN the materialization pass (_ck_observe — one action per
        # round; the separate probe job is gone). _ck_cut_stats is
        # still load-bearing underneath: the round references labels
        # through THREE multiplicative joins, so a preserved
        # originStats estimate compounds as prev^3 per round (529k-
        # digit BigInts measured after ~15 pointer-jumping rounds on a
        # 30k chain)
        new_labels, st = _ck_observe(
            new_labels,
            F.sum(F.col("_chg").cast("long")).alias("n_chg"))
        labels = new_labels.select("node", "comp")
        if int(st["n_chg"] or 0) == 0:
            break
    return labels


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    num_iter: int = 10,
    damping: float = 0.85,
    weight_col: str | None = None,
    reset: DataFrame | None = None,
) -> DataFrame:
    """(node, rank): power-iteration PageRank over directed edges,
    sum of ranks normalized to 1. Beyond the reference's operation set
    (its GraphIndexScan stops at reachability); included because rank
    is the standard companion to components in pipeline curation.

    ``weight_col``: out-neighbor shares become w/Σw instead of
    1/out-degree (weights must be positive; non-positive edges are
    dropped). ``reset``: a single-column seed frame switches to
    PERSONALIZED PageRank — teleport AND dangling mass go to the seed
    set uniformly (t(v) = 1/|S| on seeds, 0 elsewhere; init = t), the
    random-walk-with-restart used for seed-centric recommendation.

    Each round is two shuffles (contribution groupBy + rank join).
    No driver barrier anywhere in the loop: node count / seed count
    and per-round dangling mass are 1x1 aggregate frames
    broadcast-crossJoined into the rank update (the same hoist the
    compiler applies to scalar subqueries), and lineage is cut with
    LAZY localCheckpoint — each round materializes exactly once when
    the final action runs, not as 10 sequential driver jobs.
    """
    from pyspark.sql.functions import broadcast

    id_col = nodes.columns[0]
    if weight_col is None:
        e = edges.select(F.col(SRC).alias("_a"), F.col(DST).alias("_b"),
                         F.lit(1.0).alias("_w"))
    else:
        e = edges.select(
            F.col(SRC).alias("_a"), F.col(DST).alias("_b"),
            F.col(weight_col).cast("double").alias("_w"),
        ).filter(F.col("_w") > 0)
    deg = e.groupBy("_a").agg(F.sum("_w").alias("_deg"))
    # 1x1 node-count frame (replaces a driver-side nodes.count())
    n_tot = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    base = nodes.select(F.col(id_col).alias("node"))
    if reset is None:
        # uniform teleport: t(v) = 1/n for every node
        tvec = base.crossJoin(broadcast(n_tot)) \
            .select("node", (F.lit(1.0) / F.col("_n")).alias("_t"))
    else:
        # normalize over the seeds that EXIST in nodes: counting raw
        # seeds while only node-joined rows get mass would silently
        # break the sum-to-1 invariant (all-zero ranks when no seed
        # matches). Seeds are small by contract, so the intersection
        # count is a cheap fail-fast job.
        seeds = reset.select(
            F.col(reset.columns[0]).alias("node")).distinct() \
            .join(base, "node", "left_semi")
        n_seeds = seeds.count()
        if n_seeds == 0:
            raise ValueError(
                "pagerank: reset seed set shares no ids with nodes — "
                "personalized teleport would be all-zero")
        tvec = (
            base.join(seeds.withColumn("_is", F.lit(1)), "node", "left")
            .select("node", F.when(F.col("_is").isNotNull(),
                                   F.lit(1.0) / F.lit(float(n_seeds)))
                    .otherwise(F.lit(0.0)).alias("_t"))
        )
    tvec = tvec.localCheckpoint(eager=False)
    ranks = tvec.select("node", F.col("_t").alias("rank"))
    for _ in range(num_iter):
        with_deg = ranks.join(deg, ranks["node"] == deg["_a"], "left").drop("_a")
        # dangling mass: ranks of nodes with no out-edges, spread over
        # the teleport vector. Stays distributed as a broadcast 1x1.
        dangling = (
            with_deg.filter(F.col("_deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        contribs = (
            with_deg.filter(F.col("_deg").isNotNull())
            .join(e, with_deg["node"] == e["_a"], "inner")
            .select(F.col("_b").alias("node"),
                    (F.col("rank") * F.col("_w") / F.col("_deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_rank"))
        )
        ranks = (
            tvec.join(contribs, "node", "left")
            .crossJoin(broadcast(dangling))
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(damping)) * F.col("_t")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_rank"), F.lit(0.0))
                        + F.col("_dang") * F.col("_t")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def k_core(
    edges: DataFrame,
    k: int,
    max_iters: int = 20,
) -> DataFrame:
    """(node, degree) after k-core peeling (bounded to max_iters rounds).

    Treats `edges` (_src, _dst) as an undirected simple graph
    (canonicalized + deduped, self-loops dropped). Each round removes
    nodes of degree < k and their incident edges; with max_iters >= the
    peel depth (or when a round removes nothing) this is the exact
    k-core. Beyond the reference's operation set — degeneracy pruning is
    a standard curation step before clique/community mining.

    Scale: a round is one degree groupBy + two semi-joins; each round's
    edge set shrinks monotonically and is checkpointed, so lineage stays
    flat and later rounds touch only the surviving subgraph.
    """
    lo, hi = F.least(F.col(SRC), F.col(DST)), F.greatest(F.col(SRC), F.col(DST))
    canon = (
        edges.select(lo.alias("_lo"), hi.alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .distinct()
    )
    und = canon.select(F.col("_lo").alias("_a"), F.col("_hi").alias("_b")).unionByName(
        canon.select(F.col("_hi").alias("_a"), F.col("_lo").alias("_b"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        # materialize the degree frame ONCE per round with the
        # below-k count observed IN the materialization pass
        # (_ck_observe) — the probe was a separate action per round
        deg, st = _ck_observe(
            und.groupBy("_a").agg(F.count(F.lit(1)).alias("deg")),
            F.sum((F.col("deg") < k).cast("long")).alias("n_below"))
        if int(st["n_below"] or 0) == 0:
            break
        keep = deg.filter(F.col("deg") >= k).select("_a")
        und = _ck_cut_stats(
            und.join(keep, "_a", "left_semi")
            .join(keep.withColumnRenamed("_a", "_b"), "_b", "left_semi")
        )
    return (
        und.groupBy("_a")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("_a").alias("node"), "degree")
    )


def core_decomposition(
    edges: DataFrame,
    max_coreness: int = 64,
    max_iters: int = 64,
) -> DataFrame:
    """(node, coreness): FULL core decomposition — every node's
    degeneracy (the largest k for which it survives k-core peeling),
    the standard per-node density signal k_core's boolean membership
    can't give. Isolated-in-simple-view nodes (only self-loops) get
    coreness 0.

    Batagelj-Zaversnik as distributed peeling: for k = 1, 2, ... peel
    the current subgraph to its k-core (the same degree-groupBy +
    two-semi-join round as k_core, monotone shrinking, stats-cut
    checkpoints); nodes removed while peeling at k have coreness k-1.
    The outer loop runs max-coreness times — bounded by sqrt(2m) and
    in practice tiny next to the peel rounds; RAISES past
    ``max_coreness``/``max_iters`` like the other iterative operators
    rather than returning a wrong partial answer.
    """
    if max_coreness < 1:
        raise ValueError(f"max_coreness must be >= 1, got {max_coreness}")
    lo = F.least(F.col(SRC), F.col(DST))
    hi = F.greatest(F.col(SRC), F.col(DST))
    canon = (
        edges.select(lo.alias("_lo"), hi.alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .distinct()
    )
    all_nodes = (
        edges.select(F.col(SRC).alias("node"))
        .unionByName(edges.select(F.col(DST).alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    und = canon.select(F.col("_lo").alias("_a"), F.col("_hi").alias("_b")) \
        .unionByName(canon.select(F.col("_hi").alias("_a"),
                                  F.col("_lo").alias("_b"))) \
        .localCheckpoint(eager=True)
    # nodes with no simple-view edge at all: coreness 0
    out_parts = [
        all_nodes.join(und.select(F.col("_a").alias("node")), "node",
                       "left_anti")
        .select("node", F.lit(0).alias("coreness"))
    ]
    survivors = und.select(F.col("_a").alias("node")).distinct() \
        .localCheckpoint(eager=False)
    for k in range(1, max_coreness + 2):
        if k == max_coreness + 1:
            raise RuntimeError(
                f"core_decomposition: graph still non-empty past "
                f"max_coreness={max_coreness}; raise the bound")
        n_edges = None
        for _ in range(max_iters):
            # one action per peel round: the below-k count rides the
            # degree checkpoint (_ck_observe; see k_core), and the
            # kept-edge checkpoint observes the residual edge count so
            # the end-of-level isEmpty probe below is free too
            deg, st = _ck_observe(
                und.groupBy("_a").agg(F.count(F.lit(1)).alias("deg")),
                F.sum((F.col("deg") < k).cast("long")).alias("n_below"))
            if int(st["n_below"] or 0) == 0:
                break
            keep = deg.filter(F.col("deg") >= k).select("_a")
            und, est = _ck_observe(
                und.join(keep, "_a", "left_semi")
                .join(keep.withColumnRenamed("_a", "_b"), "_b",
                      "left_semi"),
                F.count(F.lit(1)).alias("n"))
            n_edges = int(est["n"] or 0)
        else:
            raise RuntimeError(
                f"core_decomposition: k={k} peel did not drain within "
                f"max_iters={max_iters}; raise the bound")
        kcore_nodes = und.select(F.col("_a").alias("node")).distinct() \
            .localCheckpoint(eager=False)
        peeled = survivors.join(kcore_nodes, "node", "left_anti")
        out_parts.append(
            peeled.select("node", F.lit(k - 1).alias("coreness")))
        survivors = kcore_nodes
        if (n_edges == 0) if n_edges is not None else und.isEmpty():
            break
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out


def _oriented_triangle_triples(
    edges: DataFrame, src: str = SRC, dst: str = DST,
    assume_canonical: bool = False,
    n_edges: int | None = None,
) -> DataFrame:
    """(a, b, c) — every triangle of the undirected simple view
    exactly once, found via the degree-oriented wedge closure (shared
    by triangle_count and triangles_per_vertex).

    ``assume_canonical``: the caller guarantees (src < dst, distinct,
    lineage already cut) — iterative peelers (k_truss /
    truss_decomposition) re-enumerate every round, and re-running the
    least/greatest + distinct shuffle on an already-canonical set
    wasted a full edge-set shuffle per round."""
    a, b = F.col(src), F.col(dst)
    if assume_canonical:
        und = edges.select(a.alias("_lo"), b.alias("_hi"))
    else:
        # checkpoint: the canonical edge set feeds three join sides, and
        # its lineage may hold an expensive upstream projection (e.g. the
        # co-purchase self-join) — without the cut it executes 3x
        und = (
            edges.select(
                F.least(a, b).alias("_lo"), F.greatest(a, b).alias("_hi")
            )
            .filter(F.col("_lo") != F.col("_hi"))
            .distinct()
            .localCheckpoint(eager=False)
        )
    # degree orientation (the power-law refinement, now actually done):
    # orient every edge from its lower-(degree, id) endpoint to the
    # higher one. Wedges then open only at a triangle's MINIMUM-degree
    # corner, so per-vertex join fan-out is bounded by out-degree in
    # the orientation (<= sqrt(2m) for any graph) instead of raw degree
    # — the difference between a hub exploding the wedge join and not.
    deg = (
        und.select(F.col("_lo").alias("_n"))
        .unionByName(und.select(F.col("_hi").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    dl = deg.select(F.col("_n").alias("_lo"), F.col("_d").alias("_dlo"))
    dh = deg.select(F.col("_n").alias("_hi"), F.col("_d").alias("_dhi"))
    # the degree frame is node-scale (two narrow columns, <= 2
    # rows per edge): when the measured edge count fits, broadcast it
    # to both orientation joins so the edge frame itself never hits an
    # exchange (r12; the iterative peelers pay these joins per round).
    # First call (n_edges unknown) keeps the shuffle joins — the
    # count is only measured after orientation.
    if n_edges is not None and fits_broadcast(
            n_edges, deg.schema, max_rows=_WEDGE_BROADCAST_MAX_EDGES):
        dl, dh = F.broadcast(dl), F.broadcast(dh)
    keyed = und.join(dl, "_lo").join(dh, "_hi")
    klo = F.struct(F.col("_dlo").alias("d"), F.col("_lo").alias("n"))
    khi = F.struct(F.col("_dhi").alias("d"), F.col("_hi").alias("n"))
    # The measured edge count drives the closure-join strategy below.
    # Iterative callers (the truss peelers) already track their edge
    # count per round and pass ``n_edges``, skipping the extra
    # materialize+count jobs a per-round call would pay. The oriented
    # frame is hash-distributed by its wedge corner BEFORE the
    # lineage cut: plain localCheckpoint preserves outputPartitioning,
    # so the e1 ⋈ e2 wedge self-join below needs NO exchange on
    # either side (two shuffles of the edge set per call/round gone;
    # one repartition added — guide §2.4).
    oriented = keyed.select(
        F.when(klo < khi, F.col("_lo")).otherwise(F.col("_hi")).alias("u"),
        F.when(klo < khi, F.col("_hi")).otherwise(F.col("_lo")).alias("v"),
        F.when(klo < khi, khi).otherwise(klo).alias("kv"),
    ).repartition("u").localCheckpoint(eager=n_edges is None)
    if n_edges is None:
        n_edges = oriented.count()
    e1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"),
                         F.col("kv").alias("kb"))
    e2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"),
                         F.col("kv").alias("kc"))
    # wedge at the min corner a; order the two tips so the closing edge
    # (b -> c) matches its stored orientation exactly once
    wedges = (
        e1.join(e2, "a")
        .filter(F.col("kb") < F.col("kc"))
        .select("a", "b", "c")
    )
    e3 = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    # the wedge set is Σ out-deg² rows — orders of magnitude bigger
    # than the edge set (41M wedges from 1.2M edges on the sf0.1
    # co-purchase graph). Shuffling it by (b, c) for the closure join
    # dominated the operator, so when the MEASURED edge count fits a
    # broadcast (row cap AND estimated bytes — fits_broadcast) the
    # closing edges ship to the wedge side and the wedges never hit an
    # exchange (guide §3.1; the checkpoint erases size stats, so
    # auto-broadcast cannot make this call). Above the cap the closure
    # is a SALTED shuffle join (guide §2.5): wedge rows scatter over
    # _WEDGE_SALT deterministic salts and the edge side replicates,
    # so a hot (b, c) pair — which AQE's skew split cannot divide, it
    # is a single key — is bounded at 1/salt of its rows per task.
    if fits_broadcast(n_edges, e3.schema,
                      max_rows=_WEDGE_BROADCAST_MAX_EDGES):
        return wedges.join(F.broadcast(e3), ["b", "c"]) \
            .select("a", "b", "c")
    w_s = wedges.withColumn(
        "_salt", F.pmod(F.xxhash64("a", "b", "c"), F.lit(_WEDGE_SALT)))
    e3_s = e3.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i) for i in range(_WEDGE_SALT)])))
    return w_s.join(e3_s, ["b", "c", "_salt"]).select("a", "b", "c")


def triangle_count(
    edges: DataFrame, src: str = SRC, dst: str = DST
) -> DataFrame:
    """Global triangle count over an undirected view of `edges`.

    Classic distributed formulation (the reference has no triangle
    operator; this is beyond-reference analytics): canonicalize each
    edge to (lo, hi), dedupe, DEGREE-ORIENT (wedges open only at a
    triangle's minimum-degree corner — fan-out bounded by sqrt(2m)
    instead of raw hub degree), then close the wedge with two
    equi-joins so every triangle is counted exactly once. Both joins
    shuffle on a single vertex key.

    Returns a 1-row DataFrame: (n_triangles BIGINT).
    """
    return _oriented_triangle_triples(edges, src, dst).agg(
        F.count(F.lit(1)).alias("n_triangles"))


def triangles_per_vertex(
    edges: DataFrame, src: str = SRC, dst: str = DST
) -> DataFrame:
    """Per-vertex triangle participation counts: (node, n_triangles).

    r6: now rides triangle_count's DEGREE-ORIENTED wedge pipeline
    (previously id-oriented — a low-id hub's wedge fan-out was its raw
    degree squared; degree orientation bounds it by sqrt(2m)). Each
    (a, b, c) triangle is found exactly once and credits all three
    corners (one explode, one map-side-combined groupBy)."""
    # reuse the oriented pipeline by rebuilding it through
    # triangle_count's body up to the triple set: call the internal
    # plan via a small duplication-free trampoline
    tris = _oriented_triangle_triples(edges, src, dst)
    return (
        tris.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def triangle_count_approx(
    edges: DataFrame,
    p: float = 0.25,
    salt: int = 0,
    src: str = SRC,
    dst: str = DST,
) -> DataFrame:
    """DOULION-style approximate triangle count (Tsourakakis et al.,
    KDD'09): keep each undirected edge with probability ``p``, count
    triangles on the sparsified graph with the same degree-oriented
    wedge closure as triangle_count, scale by 1/p^3. Unbiased
    (E[est] = true count); variance falls as triangles survive with
    p^3, so p = 0.1-0.5 gives low single-digit-% error on graphs with
    millions of triangles while cutting the wedge join's work by
    ~1/p^2 — exact enumeration's m^1.5 is the wrong tool at 100 TB
    (copurchase exact DNF'd at sf10; this is its scale path).

    Edge selection is the DETERMINISTIC Knuth double-bucket of the
    canonical (lo, hi) pair — the same repartition-insensitive
    ``sampling._bucket`` family, chained so both endpoints mix — so
    the estimate is reproducible across runs/partitionings AND the
    whole operator (sampling included) is closed-form in ANSI SQL for
    cross-engine oracles.

    Returns one row: (n_sampled_triangles BIGINT, n_triangles_est
    DOUBLE, p DOUBLE).
    """
    from .sampling import _M32, _bucket

    if not 0.0 < p <= 1.0:
        raise ValueError(f"p must be in (0, 1], got {p}")
    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(
            F.least(a, b).alias("_lo"), F.greatest(a, b).alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
    )
    # chain two Knuth buckets so BOTH endpoints drive the decision:
    # key2 = (bucket(lo) + hi) mod 2^32 stays ANSI-overflow-safe
    # (bucket < 2^32, hi reduced mod 2^32 inside _bucket's own pmod).
    # The filter runs BEFORE any dedup (the bucket is a pure function
    # of (lo, hi), so it commutes with distinct): the heaviest shuffle
    # — _oriented_triangle_triples' canonical distinct — then runs on
    # the 1/p-sparser stream instead of the full edge multiset
    # (r7 review fix: a pre-filter distinct here was redundant full-
    # size work the sampler exists to avoid).
    key2 = F.pmod(
        _bucket(F.col("_lo"), salt)
        + F.pmod(F.col("_hi").cast("long"), F.lit(_M32)),
        F.lit(_M32),
    )
    kept = und.filter(_bucket(key2, salt) < F.lit(int(p * _M32)))
    return (
        _oriented_triangle_triples(kept, "_lo", "_hi")
        .agg(F.count(F.lit(1)).alias("n_sampled_triangles"))
        .select(
            "n_sampled_triangles",
            F.round(F.col("n_sampled_triangles") / F.lit(p ** 3), 6)
            .alias("n_triangles_est"),
            F.lit(float(p)).alias("p"),
        )
    )


def random_walks(
    edges: DataFrame,
    start_nodes: DataFrame | None = None,
    n_walks: int = 1,
    length: int = 10,
    salt: int = 0,
    directed: bool = True,
    src: str = SRC,
    dst: str = DST,
) -> DataFrame:
    """(start, walk_id, step, node): deterministic uniform random
    walks — the sampling pass DeepWalk/node2vec-style graph-embedding
    training consumes. Beyond-reference analytics.

    Each step picks uniformly among the current node's SORTED
    neighbors by the Knuth multiplicative hash of
    (cur mod 1000003)*131071 + walk_id*1031 + step (through
    sampling._bucket's overflow-safe split multiply), so walks are
    reproducible on any cluster/partitioning with no RNG state, and —
    the DOULION replay device — an oracle can regenerate the walks
    EXACTLY (DuckDB: same arithmetic over list(dst ORDER BY dst) in a
    recursive CTE), making even the randomness hash-checkable. The
    seed folds cur mod 1000003, so step choices are pseudo-, not
    cryptographically, independent — the standard bar for embedding
    samplers. n_walks <= 127 and length <= 1000 keep the seed terms
    disjoint (validated).

    Dead ends terminate a walk early (rows up to the dead end are
    kept). Distributed shape: the neighbor table (node, sorted
    neighbor array) is ONE groupBy; each step is one equi-join of the
    |starts| x n_walks walk frontier against it — length-bounded
    linear plans with lazy cuts every few steps, no driver-side
    stepping.
    """
    if not 1 <= n_walks <= 127:
        raise ValueError(f"n_walks must be in [1, 127], got {n_walks}")
    if not 1 <= length <= 1000:
        raise ValueError(f"length must be in [1, 1000], got {length}")
    from pyspark.sql.types import NumericType

    from .sampling import _bucket

    # non-numeric node ids (string content hashes from pure-GQL
    # graphs) fold through xxhash64 for the SEED arithmetic only — the
    # walks themselves carry the original ids; same convention as
    # betweenness_sampled (numeric ids stay oracle-replayable)
    numeric_ids = isinstance(edges.schema[src].dataType, NumericType)

    def _seed_base(col):
        return F.pmod(col if numeric_ids else F.xxhash64(col),
                      F.lit(1000003))

    e = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("_a"), F.col(src).alias("_b"))
        ).distinct()
    nbrs = (
        e.groupBy(F.col("_a").alias("_cur"))
        .agg(F.sort_array(F.collect_set("_b")).alias("_nb"))
        .localCheckpoint(eager=False)
    )
    if start_nodes is None:
        starts = e.select(F.col("_a").alias("start")).distinct()
    else:
        starts = start_nodes.select(
            F.col(start_nodes.columns[0]).alias("start"))
    frontier = starts.select(
        "start",
        F.explode(F.array(*[F.lit(w) for w in range(n_walks)]))
        .alias("walk_id"),
        F.array(F.col("start")).alias("_walk"),
        F.col("start").alias("_cur"),
    )
    for t in range(1, length + 1):
        seed = (_seed_base(F.col("_cur")) * F.lit(131071)
                + F.col("walk_id") * F.lit(1031) + F.lit(t))
        step = (
            frontier.join(nbrs, "_cur", "left")
            .select(
                "start", "walk_id",
                F.when(
                    F.col("_nb").isNotNull(),
                    F.concat("_walk", F.array(F.element_at(
                        "_nb",
                        F.pmod(_bucket(seed, salt),
                               F.size("_nb")).cast("int") + 1)))
                ).otherwise(F.col("_walk")).alias("_walk"),
                F.when(F.col("_nb").isNotNull(),
                       F.element_at(
                           "_nb",
                           F.pmod(_bucket(seed, salt),
                                  F.size("_nb")).cast("int") + 1))
                .alias("_cur"),  # NULL at a dead end: joins stop
            )
        )
        frontier = step.localCheckpoint(eager=False) \
            if t % 8 == 0 else step
    return frontier.select(
        "start", "walk_id",
        F.posexplode("_walk").alias("step", "node"),
    )


def node2vec_walks(
    edges: DataFrame,
    start_nodes: DataFrame | None = None,
    n_walks: int = 1,
    length: int = 10,
    p: float | str = 1,
    q: float | str = 1,
    salt: int = 0,
    directed: bool = True,
    src: str = SRC,
    dst: str = DST,
) -> DataFrame:
    """(start, walk_id, step, node): deterministic node2vec
    second-order biased walks (Grover & Leskovec 2016) — random_walks'
    sampler with the return/in-out bias. At node v coming from u, the
    unnormalized weight of neighbor x is 1/p when x == u (return), 1
    when x is also a neighbor of u (BFS-ish), else 1/q (DFS-ish); the
    first step is uniform.

    Determinism + oracle replay: p and q are taken as EXACT rationals
    (Fraction of the string form — pass '0.5', 2, '1/3') and the three
    weights scale to integers, so the pick is `seed_bucket mod
    total_weight` walked through the SORTED neighbor list's cumulative
    integer weights — the DOULION device again: an oracle replays the
    biased randomness exactly, no floating-point tie ambiguity. Seed
    arithmetic is identical to random_walks.

    Distributed shape: the one extra cost over uniform walks is
    carrying the PREVIOUS node's sorted neighbor array on the walk
    frontier (it is exactly the array the previous step already
    joined — no second join, no u-x adjacency shuffle); the
    membership test is a binary array_contains over that array,
    map-side. Unweighted edges (the paper's alpha without w_uv);
    dead ends terminate early, same as random_walks.
    """
    if not 1 <= n_walks <= 127:
        raise ValueError(f"n_walks must be in [1, 127], got {n_walks}")
    if not 1 <= length <= 1000:
        raise ValueError(f"length must be in [1, 1000], got {length}")
    import math as _math
    from fractions import Fraction

    P, Q = Fraction(str(p)), Fraction(str(q))
    if P <= 0 or Q <= 0:
        raise ValueError(f"p and q must be > 0, got p={p} q={q}")
    w_ret, w_in, w_out = 1 / P, Fraction(1), 1 / Q
    scale = _math.lcm(w_ret.denominator, w_out.denominator)
    W_RET, W_IN, W_OUT = (int(w_ret * scale), int(scale),
                          int(w_out * scale))
    if max(W_RET, W_IN, W_OUT) > (1 << 20):
        raise ValueError(
            f"p/q denominators too fine (scaled weights "
            f"{W_RET}/{W_IN}/{W_OUT} > 2^20): the mod-total pick "
            f"needs total weight << 2^32")
    from pyspark.sql.types import NumericType

    from .sampling import _bucket

    node_t = edges.schema[src].dataType
    numeric_ids = isinstance(node_t, NumericType)

    def _seed_base(col):
        return F.pmod(col if numeric_ids else F.xxhash64(col),
                      F.lit(1000003))

    e = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("_a"), F.col(src).alias("_b"))
        ).distinct()
    nbrs = (
        e.groupBy(F.col("_a").alias("_cur"))
        .agg(F.sort_array(F.collect_set("_b")).alias("_nb"))
        .localCheckpoint(eager=False)
    )
    if start_nodes is None:
        starts = e.select(F.col("_a").alias("start")).distinct()
    else:
        starts = start_nodes.select(
            F.col(start_nodes.columns[0]).alias("start"))
    frontier = starts.select(
        "start",
        F.explode(F.array(*[F.lit(w) for w in range(n_walks)]))
        .alias("walk_id"),
        F.array(F.col("start")).alias("_walk"),
        F.col("start").alias("_cur"),
        F.lit(None).cast(node_t).alias("_prev"),
        F.lit(None).cast(f"array<{node_t.simpleString()}>").alias("_pnb"),
    )
    for t in range(1, length + 1):
        seed = (_seed_base(F.col("_cur")) * F.lit(131071)
                + F.col("walk_id") * F.lit(1031) + F.lit(t))
        j = frontier.join(nbrs, "_cur", "left")
        wts = F.when(
            F.col("_prev").isNull(),
            F.transform(F.col("_nb"), lambda x: F.lit(1).cast("long")),
        ).otherwise(
            F.transform(
                F.col("_nb"),
                lambda x: F.when(x == F.col("_prev"),
                                 F.lit(W_RET).cast("long"))
                .when(F.array_contains(F.col("_pnb"), x),
                      F.lit(W_IN).cast("long"))
                .otherwise(F.lit(W_OUT).cast("long")),
            )
        )
        j = j.select("start", "walk_id", "_walk", "_cur", "_nb",
                     wts.alias("_wt"))
        total = F.aggregate(F.col("_wt"), F.lit(0).cast("long"),
                            lambda a, v: a + v)
        r = F.pmod(_bucket(seed, salt), total)
        pairs = F.zip_with(
            F.col("_nb"), F.col("_wt"),
            lambda x, w: F.struct(x.alias("x"), w.alias("w")))
        zero = F.struct(r.alias("rem"),
                        F.lit(None).cast(node_t).alias("x"))
        pick = F.aggregate(
            pairs, zero,
            lambda acc, ele: F.when(
                acc.getField("x").isNotNull(), acc
            ).otherwise(
                F.when(
                    ele.getField("w") > acc.getField("rem"),
                    F.struct(acc.getField("rem").alias("rem"),
                             ele.getField("x").alias("x")),
                ).otherwise(
                    F.struct(
                        (acc.getField("rem") - ele.getField("w"))
                        .alias("rem"),
                        acc.getField("x").alias("x"),
                    )
                )
            ),
        ).getField("x")
        alive = F.col("_nb").isNotNull() & (F.size("_nb") > 0)
        step = j.select(
            "start", "walk_id",
            F.when(alive, F.concat("_walk", F.array(pick)))
            .otherwise(F.col("_walk")).alias("_walk"),
            F.when(alive, pick).alias("_cur"),  # NULL at a dead end
            F.when(alive, F.col("_cur")).alias("_prev"),
            F.when(alive, F.col("_nb")).alias("_pnb"),
        )
        frontier = step.localCheckpoint(eager=False) \
            if t % 8 == 0 else step
    return frontier.select(
        "start", "walk_id",
        F.posexplode("_walk").alias("step", "node"),
    )


def _canon_simple_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical (_lo < _hi) distinct simple edges, lineage-cut."""
    a, b = F.col(src), F.col(dst)
    return _ck_cut_stats(
        edges.select(F.least(a, b).alias("_lo"),
                     F.greatest(a, b).alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .distinct()
    )


def _truss_peel_fixpoint(und: DataFrame, need: int, max_iters: int,
                         n_cur: int, what: str):
    """Shared truss peel (k_truss AND truss_decomposition — one
    implementation so they can never desync): drop edges whose
    within-subgraph triangle support is below ``need`` until the
    fixpoint (nothing dropped, or empty). Input must be canonical and
    lineage-cut with a known count ``n_cur`` (carried forward so each
    round runs exactly ONE count job). Returns (und, n). RAISES if the
    level does not drain within max_iters.

    The orientation is fixed ONCE per level (r12): every edge points
    from its lower-(degree, id) endpoint under the ENTRY subgraph's
    degrees, and the loop state is the ORIENTED frame itself.
    Exactness does not need fresh degrees — any fixed total order on
    nodes gives every triangle a unique minimum corner, so wedges
    still enumerate each triangle exactly once; staleness only loosens
    the sqrt(2m) fan-out bound as the peel shrinks the graph (bounded
    by the level's entry graph, re-tightened at the next level's
    re-orientation). This removes, from EVERY round, the degree
    groupBy shuffle, both orientation joins and their broadcast
    builds that the previous shape (re-calling the one-shot
    _oriented_triangle_triples) paid (guide §2.4/§1.2)."""
    if n_cur == 0:
        return und, 0
    deg = (
        und.select(F.col("_lo").alias("_n"))
        .unionByName(und.select(F.col("_hi").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    dl = deg.select(F.col("_n").alias("_lo"), F.col("_d").alias("_dlo"))
    dh = deg.select(F.col("_n").alias("_hi"), F.col("_d").alias("_dhi"))
    if fits_broadcast(n_cur, deg.schema,
                      max_rows=_WEDGE_BROADCAST_MAX_EDGES):
        dl, dh = F.broadcast(dl), F.broadcast(dh)
    klo = F.struct(F.col("_dlo").alias("d"), F.col("_lo").alias("n"))
    khi = F.struct(F.col("_dhi").alias("d"), F.col("_hi").alias("n"))
    cur = _ck_cut_stats(
        und.join(dl, "_lo").join(dh, "_hi").select(
            F.when(klo < khi, F.col("_lo")).otherwise(F.col("_hi"))
            .alias("u"),
            F.when(klo < khi, F.col("_hi")).otherwise(F.col("_lo"))
            .alias("v"),
            F.when(klo < khi, khi).otherwise(klo).alias("kv"),
        ))
    for _ in range(max_iters):
        small = fits_broadcast(n_cur, cur.schema,
                               max_rows=_WEDGE_BROADCAST_MAX_EDGES)
        src_frame = cur if small else \
            cur.repartition("u").localCheckpoint(eager=False)
        e1 = src_frame.select(F.col("u").alias("a"),
                              F.col("v").alias("b"),
                              F.col("kv").alias("kb"))
        e2 = src_frame.select(F.col("u").alias("a"),
                              F.col("v").alias("c"),
                              F.col("kv").alias("kc"))
        e3 = src_frame.select(F.col("u").alias("b"), F.col("v").alias("c"))
        if small:
            # broadcast regime: wedge AND closure joins build on the
            # (measured-small) edge frame — the whole enumeration is
            # map-side off the checkpointed RDD, zero exchanges before
            # the support aggregation
            wedges = e1.join(F.broadcast(e2), "a") \
                .filter(F.col("kb") < F.col("kc")).select("a", "b", "c")
            tris = wedges.join(F.broadcast(e3), ["b", "c"]) \
                .select("a", "b", "c")
        else:
            # at-scale regime: one hash pass by the wedge corner (the
            # checkpoint preserves it for both self-join sides), salted
            # closure so a hot (b, c) pair can't pin one reducer
            wedges = e1.join(e2, "a") \
                .filter(F.col("kb") < F.col("kc")).select("a", "b", "c")
            w_s = wedges.withColumn(
                "_salt",
                F.pmod(F.xxhash64("a", "b", "c"), F.lit(_WEDGE_SALT)))
            e3_s = e3.withColumn(
                "_salt",
                F.explode(F.array(*[F.lit(i)
                                    for i in range(_WEDGE_SALT)])))
            tris = w_s.join(e3_s, ["b", "c", "_salt"]) \
                .select("a", "b", "c")
        tri_edges = tris.select(
            F.explode(F.array(
                F.struct(F.least("a", "b").alias("_lo"),
                         F.greatest("a", "b").alias("_hi")),
                F.struct(F.least("a", "c").alias("_lo"),
                         F.greatest("a", "c").alias("_hi")),
                F.struct(F.least("b", "c").alias("_lo"),
                         F.greatest("b", "c").alias("_hi")),
            )).alias("_e")
        ).select("_e._lo", "_e._hi")
        supp = tri_edges.groupBy("_lo", "_hi").agg(
            F.count(F.lit(1)).alias("_s"))
        # the support frame is edge-bounded (<= n_cur rows of two ids
        # + a count): ship it to the surviving-edge side when it fits
        # so the edge frame never hits an exchange for the keep join
        # (guide §3.1); the surviving-edge count rides the checkpoint
        # job (_ck_observe)
        if fits_broadcast(n_cur, supp.schema, max_rows=4_000_000):
            supp = F.broadcast(supp)
        kept, st = _ck_observe(
            src_frame
            .withColumn("_lo", F.least("u", "v"))
            .withColumn("_hi", F.greatest("u", "v"))
            .join(supp, ["_lo", "_hi"], "left")
            .filter(F.coalesce(F.col("_s"), F.lit(0)) >= need)
            .select("u", "v", "kv"),
            F.count(F.lit(1)).alias("n"),
        )
        n_after = int(st["n"] or 0)
        dropped = n_cur - n_after
        cur, n_cur = kept, n_after
        if dropped == 0 or n_cur == 0:
            return cur.select(F.least("u", "v").alias("_lo"),
                              F.greatest("u", "v").alias("_hi")), n_cur
    raise RuntimeError(
        f"{what}: support-{need} peel did not reach a fixpoint within "
        f"max_iters={max_iters}; raise the bound")


def k_truss(
    edges: DataFrame,
    k: int,
    max_iters: int = 50,
    src: str = SRC,
    dst: str = DST,
) -> DataFrame:
    """(src, dst) — the canonical surviving edges of the k-truss: the
    maximal subgraph in which every edge participates in >= k-2
    triangles WITHIN the subgraph (Cohen 2008). The edge analog of
    k-core — the standard cohesive-subgraph primitive a community/
    fraud pipeline runs when k-core is too permissive (a star passes
    k-core reasoning at its hub; a truss requires actual triangle
    density). Beyond-reference analytics, same family as
    triangle_count (no reference counterpart).

    Distributed peeling fixpoint, same round discipline as k_core:
    per round, enumerate the CURRENT subgraph's triangles through the
    degree-oriented wedge closure (_oriented_triangle_triples — fanout
    bounded by sqrt(2m), two single-key shuffles), explode each
    triangle into its three canonical edges, one map-side-combined
    groupBy for per-edge support, and drop edges below k-2. A dropped
    edge can break other edges' triangles, so iterate to the fixpoint;
    rounds are bounded and non-convergence RAISES (house contract).
    Per-round lineage is cut with the stats-resetting checkpoint
    (_ck_cut_stats) so driver stats stay O(1) per round. 2-truss = the
    whole simple graph (support >= 0 always holds): returns it after
    one verification round.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    und = _canon_simple_edges(edges, src, dst)
    if k == 2:
        # every simple edge is a 2-truss member — no enumeration needed
        return und.select(F.col("_lo").alias(src), F.col("_hi").alias(dst))
    und, _ = _truss_peel_fixpoint(und, k - 2, max_iters, und.count(),
                                  "k_truss")
    return und.select(F.col("_lo").alias(src), F.col("_hi").alias(dst))


def truss_decomposition(
    edges: DataFrame,
    max_trussness: int = 64,
    max_iters: int = 50,
    src: str = SRC,
    dst: str = DST,
) -> DataFrame:
    """(src, dst, trussness): FULL truss decomposition — each
    canonical edge's largest k for which it survives k-truss peeling
    (an s-clique's edges have trussness s). The edge-granular sibling
    of core_decomposition, same outer-loop discipline: for k = 3, 4,
    ... peel the surviving subgraph to its k-truss (the k_truss round:
    degree-oriented triangle enumeration + per-edge support + drop
    below k-2), edges removed while peeling at k get trussness k-1;
    triangle-free edges get trussness 2 (every simple edge is a
    2-truss member). Bounds RAISE rather than return a wrong partial
    answer. Outer iterations are bounded by the max clique-ish density
    (tiny next to the peel rounds at any real skew)."""
    if max_trussness < 2:
        raise ValueError(
            f"max_trussness must be >= 2, got {max_trussness}")
    und = _canon_simple_edges(edges, src, dst)
    n = und.count()
    out_parts = []
    # the k=3 peel labels trussness-2 edges, so peels run for k up to
    # max_trussness + 1 (labeling trussness max_trussness); only edges
    # surviving ALL allowed peels exceed the bound
    for k in range(3, max_trussness + 2):
        before = und
        und, n = _truss_peel_fixpoint(und, k - 2, max_iters, n,
                                      "truss_decomposition")
        peeled = before.join(und, ["_lo", "_hi"], "left_anti")
        out_parts.append(
            peeled.select("_lo", "_hi", F.lit(k - 1).alias("trussness")))
        if n == 0:
            break
    else:
        raise RuntimeError(
            f"truss_decomposition: edges remain past "
            f"max_trussness={max_trussness}; raise the bound")
    out = out_parts[0]
    for part in out_parts[1:]:
        out = out.unionByName(part)
    return out.select(F.col("_lo").alias(src), F.col("_hi").alias(dst),
                      "trussness")


def maximal_independent_set(
    edges: DataFrame,
    nodes: DataFrame,
    salt: int = 0,
    max_rounds: int = 50,
) -> DataFrame:
    """(node) — a maximal independent set by Luby's algorithm with
    DETERMINISTIC hash priorities (Luby 1986, the parallel-MIS
    classic; the base primitive for parallel matching, coloring, and
    scheduling).

    Each round, every undecided node whose priority
    (fmix32(node, salt), node) is strictly smaller than all undecided
    neighbors' joins the set; winners' neighbors are knocked out; the
    edge set shrinks to undecided-undecided pairs and the loop repeats
    until no edges remain (leftover isolated nodes all join). Expected
    O(log n) rounds; the hash tie-break by node id makes every round
    — and therefore the SET ITSELF — a pure function of (graph, salt),
    so the oracle replays the rounds as unrolled generated SQL.
    Independence and maximality hold by construction (a winner has no
    undecided smaller-priority neighbor; a knocked-out node has a
    neighbor in the set; a surviving isolated node joins).

    Scale shape per round: ONE plan with three keyed window passes
    over the CURRENT edge set (win flags + dead flags for both
    endpoints — no joins at all), eagerly checkpointed; the round's
    winners and the next round's edge set are FILTERS over that
    checkpoint. The emptiness probe scans the materialized RDD
    without a shuffle. (The earlier form — a min-priority groupBy
    plus four semi/anti joins across three lazily-checkpointed
    frames — spent ~20 Spark jobs per round on scheduling alone;
    this shape is ~5. Guide §2.4: remove shuffles outright.)
    Bounded rounds RAISE (the repo's iterative-operator discipline).
    """
    from pyspark.sql import Window

    from .sketches import _attach_mix32

    id_col = nodes.columns[0]
    lo = F.least(F.col(SRC), F.col(DST))
    hi = F.greatest(F.col(SRC), F.col(DST))
    canon = (
        edges.select(lo.alias("_lo"), hi.alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .distinct()
    )
    nodes_f = nodes.select(F.col(id_col).alias("node")).distinct() \
        .localCheckpoint(eager=False)
    und = canon.select(
        F.col("_lo").alias("_a"), F.col("_hi").alias("_b")
    ).unionByName(
        canon.select(F.col("_hi").alias("_a"), F.col("_lo").alias("_b"))
    )
    # neighbors outside the node frame carry no priority (the old
    # inner pri-join made them invisible) — restrict once up front
    und = und.join(nodes_f.select(F.col("node").alias("_a")), "_a",
                   "left_semi") \
        .join(nodes_f.select(F.col("node").alias("_b")), "_b", "left_semi")
    # string ids (pure-GQL content hashes) fold through xxhash64 for
    # the PRIORITY arithmetic only — the set carries original ids (the
    # random_walks discipline); numeric ids stay oracle-replayable.
    # Priorities are PURE ARITHMETIC of the endpoint id, so they ride
    # on the edge rows directly — no node-frame join per round.
    id_dtype = dict(nodes.dtypes)[id_col]
    numeric = id_dtype in ("tinyint", "smallint", "int", "bigint")
    a_key = F.col("_a") if numeric else F.xxhash64(F.col("_a"))
    b_key = F.col("_b") if numeric else F.xxhash64(F.col("_b"))
    und = _attach_mix32(und, a_key, salt, "_apri")
    und = _attach_mix32(und, b_key, salt, "_bpri") \
        .localCheckpoint(eager=False)
    rounds = _luby_mis_rounds(und, max_rounds, "maximal_independent_set")
    # every node never knocked out (nor a winner) is isolated in the
    # residual graph and joins the set
    node_cast = F.col("node").cast(id_dtype)
    if not rounds:
        return nodes_f.select("node")
    winners = rounds[0].where("_awin").select(F.col("_a").alias("node"))
    deads = rounds[0].where("_adead").select(F.col("_a").alias("node"))
    for t in rounds[1:]:
        winners = winners.unionByName(
            t.where("_awin").select(F.col("_a").alias("node")))
        deads = deads.unionByName(
            t.where("_adead").select(F.col("_a").alias("node")))
    leftovers = nodes_f.join(deads, "node", "left_anti")
    return winners.select(node_cast.alias("node")) \
        .dropDuplicates(["node"]).unionByName(leftovers.select("node"))


def _luby_mis_rounds(und: DataFrame, max_rounds: int,
                     who: str) -> list[DataFrame]:
    """Run Luby rounds over a prepared both-direction prioritized edge
    frame (_a, _b, _apri, _bpri) until no undecided-undecided edge
    remains; returns the per-round checkpointed flag frames (_awin,
    _bwin, _adead, _bdead added). Bounded rounds RAISE."""
    from pyspark.sql import Window

    w_a = Window.partitionBy("_a")
    w_b = Window.partitionBy("_b")
    apk = F.struct(F.col("_apri"), F.col("_a"))
    bpk = F.struct(F.col("_bpri"), F.col("_b"))
    rounds: list[DataFrame] = []
    # round 0 probes the prepared frame once; every later round's
    # residual edge count was already observed on the previous round's
    # checkpoint (_ck_observe), so the per-round isEmpty job is gone
    alive: int | None = None
    for _ in range(max_rounds):
        if (alive == 0) if alive is not None else und.isEmpty():
            break
        # both-direction edge rows: partition by _a = all neighbors
        # of a, partition by _b = all neighbors of b. A node wins
        # when its (hash, id) priority beats every undecided
        # neighbor's; winners' neighbors die with them.
        t, st = _ck_observe(
            und.withColumn("_awin", apk < F.min(bpk).over(w_a))
            .withColumn("_bwin", bpk < F.min(apk).over(w_b))
            .withColumn("_bdead",
                        F.col("_bwin") | F.max(F.col("_awin")).over(w_b))
            .withColumn("_adead",
                        F.col("_awin") | F.max(F.col("_bwin")).over(w_a)),
            F.sum(((~F.col("_adead")) & (~F.col("_bdead"))).cast("long"))
            .alias("alive"),
        )
        rounds.append(t)
        alive = int(st["alive"] or 0)
        und = t.where(~F.col("_adead") & ~F.col("_bdead")) \
            .select("_a", "_b", "_apri", "_bpri")
    else:
        raise RuntimeError(
            f"{who}: not done after {max_rounds} rounds — raise max_rounds")
    return rounds


def is_bipartite(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 30,
) -> DataFrame:
    """(comp, bipartite, n_nodes) — 2-colorability per connected
    component, as ONE parity-carrying hash-min CC fixpoint (the
    single-fixpoint form the earlier two-fixpoint composition's
    docstring promised; VERDICT r8 ask #2a).

    Each node carries (comp, par): comp = the smallest id it has a
    walk to, par = the parity of SOME such walk. Propagation flips
    parity across an edge; pointer jumping (comp := comp[comp])
    composes parities by XOR. Convergence is on comp ONLY — in a
    non-bipartite component walk parities to the representative can
    keep flipping forever (there is no consistent 2-coloring), and
    that is exactly the signal: after comps converge, ONE edge join
    checks for a same-parity edge inside a component. If none exists,
    par IS a proper 2-coloring (edge endpoints differ) => bipartite;
    if the component has an odd cycle, no parity assignment can make
    all edges differ => the check necessarily finds a conflict. Either
    way ONE final join decides, with no parity-convergence wait.

    vs the old composition (CC then multi-source BFS from the
    representatives): BFS parity is DIAMETER-bound — ~45s on the
    sf0.1 event chains — while this form inherits CC's pointer
    jumping, so rounds are O(log diameter).
    """
    id_col = nodes.columns[0]
    # materialize the edge frame once: it feeds every round's
    # propagation join plus the final conflict join, and a derived
    # lineage (window lead(), unions) would re-execute each round
    e = (
        edges.select(F.col(SRC).alias("_a"), F.col(DST).alias("_b"))
        .unionByName(edges.select(F.col(DST).alias("_a"),
                                  F.col(SRC).alias("_b")))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("comp"),
        F.lit(0).alias("par"),
    ).localCheckpoint(eager=False)
    for _it in range(max_iter):
        # neighbor propagation: a walk u->c of parity x gives the
        # neighbor v a walk v->c of parity x^1. min(struct) picks the
        # smallest comp and, among ties, the smaller parity —
        # deterministic, any walk parity is equally valid evidence.
        nbr = (
            labels.join(e, labels["node"] == e["_a"], "inner")
            .select(F.col("_b").alias("node"), F.col("comp"),
                    (F.lit(1) - F.col("par")).alias("par"),
                    F.lit(None).cast(dict(labels.dtypes)["comp"])
                    .alias("_oc"))
        )
        # each node's OWN row carries its previous comp (_oc); the
        # groupBy max() recovers it alongside the min-struct step, so
        # the convergence flag can be computed in-plan downstream
        # without a separate new⋈old join per round
        stepped = (
            labels.select("node", "comp", "par",
                          F.col("comp").alias("_oc"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(F.min(F.struct("comp", "par")).alias("_s"),
                 F.max("_oc").alias("_ocomp"))
            .select("node", F.col("_s.comp").alias("comp"),
                    F.col("_s.par").alias("par"), "_ocomp")
        )
        # pointer jumping with parity composition: node->c parity x,
        # c->c2 parity y => node->c2 parity x^y. Applied TWICE per
        # round plan (r12, see connected_components): the second
        # in-plan jump squares the compression per action, halving
        # rounds on long rings/chains; parity composition applies
        # identically at each jump, so every carried parity remains a
        # valid walk parity and the final conflict check — the only
        # consumer of par — is schedule-independent. Rounds 1-2 keep the
        # single jump (see connected_components).
        cur = stepped
        for _jump in range(2 if _it >= 2 else 1):
            m = cur.select(F.col("node").alias("_mn"),
                           F.col("comp").alias("_mc"),
                           F.col("par").alias("_mp"))
            _jc = F.coalesce(F.col("_mc"), F.col("comp"))
            _jp = F.pmod(F.col("par") + F.coalesce(F.col("_mp"), F.lit(0)),
                         F.lit(2))
            cur = (
                cur.join(m, cur["comp"] == m["_mn"], "left")
                .select(
                    "node",
                    "_ocomp",
                    F.least(F.col("comp"), _jc).alias("_nc"),
                    F.when(_jc < F.col("comp"), _jp)
                    .when(F.col("comp") < _jc, F.col("par"))
                    .otherwise(F.least(F.col("par"), _jp))
                    .alias("par"),
                )
                .withColumnRenamed("_nc", "comp")
            )
        # convergence is on comp ONLY (see docstring); the old comp
        # rides in-plan so the probe below is observed on the
        # checkpoint, not a new⋈old join
        new_labels = cur.select(
            "node", "comp", "par",
            (F.col("comp") != F.col("_ocomp")).alias("_chg"),
        )
        # one action per round: the changed-count rides the checkpoint
        # job (_ck_observe) instead of a separate isEmpty probe
        new_labels, st = _ck_observe(
            new_labels,
            F.sum(F.col("_chg").cast("long")).alias("n_chg"))
        labels = new_labels.select("node", "comp", "par")
        if int(st["n_chg"] or 0) == 0:
            break
    conflicts = (
        e.join(labels.select(F.col("node").alias("_a"),
                             F.col("comp"),
                             F.col("par").alias("_pa")), "_a")
        .join(labels.select(F.col("node").alias("_b"),
                            F.col("par").alias("_pb")), "_b")
        .where(F.col("_pa") == F.col("_pb"))
        .groupBy("comp").agg(F.count(F.lit(1)).alias("_bad"))
    )
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        sizes.join(conflicts, "comp", "left")
        .select("comp",
                (F.coalesce(F.col("_bad"), F.lit(0)) == 0)
                .alias("bipartite"),
                "n_nodes")
    )


def greedy_coloring(
    edges: DataFrame,
    nodes: DataFrame,
    salt: int = 0,
    max_colors: int = 64,
    mis_rounds: int = 50,
) -> DataFrame:
    """(node, color) — a proper coloring by MIS waves: color k is a
    maximal independent set of the residual graph (Luby-wave
    coloring). Every wave empties a maximal independent set, so the
    wave count is bounded by the degeneracy-ish structure (<= Delta+1
    in practice; chains take 2-3); ``max_colors`` RAISES if exceeded.

    Deterministic: each wave is the ``maximal_independent_set`` round
    loop with the same salt, so the full coloring is a pure function
    of (graph, salt) and replays as nested unrolled SQL. Proper by
    construction (a wave is independent); total (every node colored:
    leftover isolated nodes join their wave's set).

    Perf shape: the prioritized both-direction edge frame is built
    ONCE (hash priorities don't change between waves); each wave runs
    the shared window-form Luby rounds on the residual and trims it
    with two semi-joins — no per-wave re-canonicalization, no
    per-wave node-frame rebuild (was ~6 extra jobs per wave).
    """
    from .sketches import _attach_mix32

    id_col = nodes.columns[0]
    id_dtype = dict(nodes.dtypes)[id_col]
    remaining = nodes.select(F.col(id_col).alias("node")).distinct() \
        .localCheckpoint(eager=False)
    lo = F.least(F.col(SRC), F.col(DST))
    hi = F.greatest(F.col(SRC), F.col(DST))
    canon = (
        edges.select(lo.alias("_lo"), hi.alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .distinct()
    )
    und = canon.select(
        F.col("_lo").alias("_a"), F.col("_hi").alias("_b")
    ).unionByName(
        canon.select(F.col("_hi").alias("_a"), F.col("_lo").alias("_b"))
    )
    und = und.join(remaining.select(F.col("node").alias("_a")), "_a",
                   "left_semi") \
        .join(remaining.select(F.col("node").alias("_b")), "_b",
              "left_semi")
    numeric = id_dtype in ("tinyint", "smallint", "int", "bigint")
    a_key = F.col("_a") if numeric else F.xxhash64(F.col("_a"))
    b_key = F.col("_b") if numeric else F.xxhash64(F.col("_b"))
    und = _attach_mix32(und, a_key, salt, "_apri")
    und = _attach_mix32(und, b_key, salt, "_bpri") \
        .localCheckpoint(eager=False)
    node_cast = F.col("node").cast(id_dtype)
    colored = None
    # wave 0 probes the lazy remaining frame once; each later wave's
    # residual count was observed on that wave's remaining checkpoint
    # (_ck_observe below), so the per-wave isEmpty job is gone (r12)
    n_remaining: int | None = None
    for color in range(max_colors):
        if (n_remaining == 0) if n_remaining is not None \
                else remaining.isEmpty():
            break
        rounds = _luby_mis_rounds(und, mis_rounds, "greedy_coloring")
        if not rounds:
            # residual has no edges: every remaining node is isolated
            # — they all take this color and the coloring is total
            wave = remaining.select("node")
            colored_w = wave.select("node", F.lit(color).alias("color"))
            colored = colored_w if colored is None \
                else colored.unionByName(colored_w)
            break
        winners = rounds[0].where("_awin").select(
            F.col("_a").alias("node"))
        deads = rounds[0].where("_adead").select(F.col("_a").alias("node"))
        for t in rounds[1:]:
            winners = winners.unionByName(
                t.where("_awin").select(F.col("_a").alias("node")))
            deads = deads.unionByName(
                t.where("_adead").select(F.col("_a").alias("node")))
        winners = winners.select(node_cast.alias("node")) \
            .dropDuplicates(["node"])
        deads = deads.select(node_cast.alias("node")) \
            .dropDuplicates(["node"])
        wave = winners.unionByName(
            remaining.join(deads, "node", "left_anti").select("node"))
        colored_w = wave.select("node", F.lit(color).alias("color"))
        colored = colored_w if colored is None \
            else colored.unionByName(colored_w)
        # next residual: knocked-out non-winners, and the edges
        # between them (monotone shrink of the current frame); its
        # node count rides the checkpoint job
        remaining, rst = _ck_observe(
            deads.join(winners, "node", "left_anti"),
            F.count(F.lit(1)).alias("n"))
        n_remaining = int(rst["n"] or 0)
        und = (
            und.join(remaining.select(F.col("node").alias("_a")), "_a",
                     "left_semi")
            .join(remaining.select(F.col("node").alias("_b")), "_b",
                  "left_semi")
            .localCheckpoint(eager=False)
        )
    else:
        raise RuntimeError(
            f"greedy_coloring: not done after {max_colors} colors —"
            f" raise max_colors")
    if colored is None:
        return nodes.sparkSession.createDataFrame(
            [], f"node: {id_dtype}, color: int")
    return colored


def maximal_matching(
    edges: DataFrame,
    salt: int = 0,
    max_rounds: int = 60,
    weight_col: str | None = None,
) -> DataFrame:
    """(node_u, node_v[, weight]) — a maximal matching by parallel
    pointer rounds (Israeli & Itai 1986 style): every node points at
    its best incident edge; an edge whose BOTH endpoints point at it
    is matched; matched endpoints drop out and the edge set shrinks.
    The assignment/pairing primitive (dedup pairing, greedy 1-1
    linkage) — MIS's sibling.

    Unweighted: edge priority = (fmix32((fmix32(lo)+hi) mod 2^32),
    lo, hi) — deterministic and unique, so the MATCHING is a pure
    function of (graph, salt) and the oracle replays the rounds as
    unrolled SQL. With ``weight_col``, "best" means locally HEAVIEST
    (priority = (-w, lo, hi); max weight kept per parallel edge) —
    Preis 1999: matching locally-heaviest edges guarantees total
    weight >= 1/2 of the maximum-weight matching, and stays fully
    deterministic (ties by edge id), so it replays the same way.

    The best edge in any residual component is pointed at from both
    sides, so every round matches >= 1 edge per component; bounded
    rounds RAISE. String ids fold through xxhash64 for the hash
    priority only (the random_walks discipline).

    Per round: ONE plan with three keyed window passes over the
    doubled (both-direction) edge rows — each node's best incident
    edge, the matched flag, and both endpoints' dead flags, with no
    joins — eagerly checkpointed; the round's matches and the next
    round's edge set are FILTERS over that checkpoint, and the
    emptiness probe scans the materialized RDD without a shuffle.
    (The earlier groupBy + two candidate joins + two anti-joins form
    cost ~20 Spark jobs per round in scheduling; this is ~5. Guide
    §2.4.) Lineage cut per round; bounded rounds RAISE.
    """
    from pyspark.sql import Window

    from .sketches import _attach_mix32, _M32

    lo = F.least(F.col(SRC), F.col(DST))
    hi = F.greatest(F.col(SRC), F.col(DST))
    if weight_col is not None:
        canon = (
            edges.select(lo.alias("_lo"), hi.alias("_hi"),
                         F.col(weight_col).cast("double").alias("_w"))
            .filter(F.col("_lo") != F.col("_hi"))
            .groupBy("_lo", "_hi").agg(F.max("_w").alias("_w"))
            .withColumn("_pri", -F.col("_w"))
        )
    else:
        canon = (
            edges.select(lo.alias("_lo"), hi.alias("_hi"))
            .filter(F.col("_lo") != F.col("_hi"))
            .distinct()
        )
        dtypes = {t for _, t in canon.dtypes}
        numeric = dtypes <= {"tinyint", "smallint", "int", "bigint"}
        lo_k = F.col("_lo") if numeric else F.xxhash64(F.col("_lo"))
        hi_k = F.col("_hi") if numeric else F.xxhash64(F.col("_hi"))
        canon = _attach_mix32(canon, lo_k, salt, "_m1")
        canon = _attach_mix32(
            canon, F.pmod(F.col("_m1") + hi_k, F.lit(_M32)), salt, "_pri",
        ).drop("_m1")
    wcols = ["_w"] if weight_col is not None else []
    # doubled rows: partition by _u sees every incident edge of u
    cur = canon.select(F.col("_lo").alias("_u"), F.col("_hi").alias("_v"),
                       "_pri", *wcols).unionByName(
        canon.select(F.col("_hi").alias("_u"), F.col("_lo").alias("_v"),
                     "_pri", *wcols)
    ).localCheckpoint(eager=False)
    w_u = Window.partitionBy("_u")
    w_v = Window.partitionBy("_v")
    ek = F.struct(F.col("_pri"), F.least(F.col("_u"), F.col("_v")),
                  F.greatest(F.col("_u"), F.col("_v")))
    rounds: list[DataFrame] = []
    # round 0 probes the prepared frame once; every later round's
    # residual edge count was observed on the previous round's
    # checkpoint (_ck_observe), so the per-round isEmpty job is gone
    # (r12, same device as _luby_mis_rounds)
    alive: int | None = None
    for _ in range(max_rounds):
        if (alive == 0) if alive is not None else cur.isEmpty():
            break
        # an edge is matched when it is the best incident edge of
        # BOTH endpoints; matched endpoints drop out
        t, st = _ck_observe(
            cur.withColumn("_cu", F.min(ek).over(w_u))
            .withColumn("_m", (ek == F.col("_cu"))
                        & (ek == F.min(ek).over(w_v)))
            .withColumn("_vdead", F.max(F.col("_m")).over(w_v))
            .withColumn("_udead", F.max(F.col("_m")).over(w_u)),
            F.sum(((~F.col("_udead")) & (~F.col("_vdead"))).cast("long"))
            .alias("alive"),
        )
        rounds.append(t)
        alive = int(st["alive"] or 0)
        cur = t.where(~F.col("_udead") & ~F.col("_vdead")) \
            .select("_u", "_v", "_pri", *wcols)
    else:
        raise RuntimeError(
            f"maximal_matching: not done after {max_rounds} rounds —"
            f" raise max_rounds")
    spark = edges.sparkSession
    if not rounds:
        schema_t = dict(canon.dtypes)["_lo"]
        extra = ", weight: double" if weight_col is not None else ""
        return spark.createDataFrame(
            [], f"node_u: {schema_t}, node_v: {schema_t}{extra}")
    # matched edges appear on both directed rows; keep the canonical
    # orientation (_u < _v)
    matched = rounds[0].where(F.col("_m") & (F.col("_u") < F.col("_v")))
    for t in rounds[1:]:
        matched = matched.unionByName(
            t.where(F.col("_m") & (F.col("_u") < F.col("_v"))))
    out_cols = [F.col("_u").alias("node_u"),
                F.col("_v").alias("node_v")]
    if weight_col is not None:
        out_cols.append(F.col("_w").alias("weight"))
    return matched.select(*out_cols)


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    num_iter: int = 5,
) -> DataFrame:
    """(node, label) after `num_iter` rounds of synchronous label
    propagation over the undirected simple view of `edges` — community
    detection, the curation companion to connected_components (which it
    refines: LPA splits weakly-joined components that CC merges).

    Deterministic: labels initialize to node id; each round every node
    adopts the most frequent neighbor label, ties broken by smallest
    label; isolated nodes keep their label. Beyond the reference's
    operation set.

    Scale shape per round: one vote groupBy on (node, label) with
    map-side partial counts, then a max_by AGGREGATE for the argmax —
    partial-aggregated map-side, so a celebrity node's votes never
    gather into one un-splittable window partition — and one left join
    back, all keyed on node id, lineage cut with lazy localCheckpoint.
    No driver barriers.
    """
    id_col = nodes.columns[0]
    lo, hi = F.least(F.col(SRC), F.col(DST)), F.greatest(F.col(SRC), F.col(DST))
    canon = (
        edges.select(lo.alias("_lo"), hi.alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .distinct()
    )
    und = canon.select(F.col("_lo").alias("_a"), F.col("_hi").alias("_b")).unionByName(
        canon.select(F.col("_hi").alias("_a"), F.col("_lo").alias("_b"))
    ).localCheckpoint(eager=False)
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).cast("long").alias("label")
    )
    n_nodes = labels.count()
    changed = None  # round 1 votes everywhere (every label is fresh)
    for it in range(num_iter):
        # FRONTIER-DELTA (r7): a node's vote multiset is exactly its
        # neighbors' labels, so a node NONE of whose neighbors changed
        # last round provably re-elects the same label — skip it. Vote
        # only at nodes with >= 1 changed neighbor: two semi-joins on
        # 8-byte node ids restrict the vote join's edge side to the
        # active region, so late rounds cost O(active subgraph), not
        # O(E). (Recomputation is idempotent — the argmax is
        # deterministic — so skipping can never change results; the
        # full-recompute and delta paths are bit-identical.)
        # The delta path engages only once the measured change
        # fraction drops below half: early rounds change ~everything
        # (measured 100% after round 1 on the FOLLOWS graph — labels
        # start at own id, so any non-isolated node adopts), and
        # restricting to an ~all-node candidate set is two extra
        # edge-table semi-join shuffles for nothing.
        if changed is None:
            cand_edges = und
            vote_labels = labels
        else:
            # every step BROADCASTS the small side so the edge and
            # label tables are only map-scanned, never exchanged: a
            # plain semi-join here would shuffle the full edge table
            # by _b each round — O(E) exchange work that erases the
            # delta win (measured: the shuffle variant was SLOWER
            # than full recompute even at delta ~ 0). The changed SET
            # is capped, but its NEIGHBORHOOD is not — one celebrity
            # in the delta inflates cand/needed to its follower count
            # — so each broadcast frame is size-CHECKED first and the
            # round falls back to the full vote when the neighborhood
            # outgrows broadcastability (r7 review fix).
            cand = _ck_cut_stats(
                und.join(F.broadcast(
                    changed.select(F.col("node").alias("_b"))),
                    "_b", "left_semi")
                .select("_a").distinct()
            )
            if cand.count() > 2_000_000:
                cand_edges = und
                vote_labels = labels
            else:
                cand_edges = und.join(F.broadcast(cand), "_a", "left_semi")
                needed = _ck_cut_stats(
                    cand_edges.select(F.col("_b").alias("node")).distinct())
                if needed.count() > 2_000_000:
                    cand_edges = und
                    vote_labels = labels
                else:
                    vote_labels = labels.join(F.broadcast(needed), "node",
                                              "left_semi")
        votes = (
            cand_edges.join(vote_labels,
                            cand_edges["_b"] == vote_labels["node"],
                            "inner")
            .groupBy("_a", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # argmax by (n desc, label asc) as one combinable aggregate:
        # max of struct(n, -label) picks the highest count, ties to the
        # smallest label (ids are positive longs, so -label is safe)
        best = (
            votes.groupBy("_a")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("n"), (-F.col("label")).alias("_t"))
                ).alias("_new")
            )
            .select(F.col("_a").alias("node"), "_new")
        )
        # the changed-count rides the round checkpoint's
        # materialization job (_ck_observe) — the separate count
        # action per round is gone (r12)
        upd, st = _ck_observe(
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("_new", "label").alias("label"),
                (F.col("_new").isNotNull()
                 & (F.col("_new") != F.col("label"))).alias("_chg"),
            ),
            F.sum(F.col("_chg").cast("long")).alias("n_chg"),
        )
        labels = upd.select("node", "label")
        if it == num_iter - 1:
            break
        n_chg = int(st["n_chg"] or 0)
        # engage only when the changed set is broadcastable AND well
        # under half the graph — otherwise the restriction machinery
        # costs more than the full vote
        changed = (
            upd.filter(F.col("_chg")).select("node")
            if n_chg * 2 < n_nodes and n_chg <= 2_000_000 else None
        )
    return labels


def _canon_undirected_weighted(edges: DataFrame,
                               weight_col: str | None) -> DataFrame:
    """Canonical undirected (_lo, _hi, w) view shared by the
    modularity family: self-loops dropped; unweighted edges dedupe to
    w=1 simple edges, weighted ones SUM parallel-edge weights
    (multigraph semantics — an edge listed twice counts double, the
    standard weighted-modularity reading)."""
    lo = F.least(F.col(SRC), F.col(DST))
    hi = F.greatest(F.col(SRC), F.col(DST))
    if weight_col is None:
        return (
            edges.select(lo.alias("_lo"), hi.alias("_hi"))
            .filter(F.col("_lo") != F.col("_hi"))
            .distinct()
            .select("_lo", "_hi", F.lit(1.0).alias("w"))
            .localCheckpoint(eager=False)
        )
    return (
        edges.select(lo.alias("_lo"), hi.alias("_hi"),
                     F.col(weight_col).cast("double").alias("w"))
        .filter(F.col("_lo") != F.col("_hi"))
        .groupBy("_lo", "_hi")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=False)
    )


def modularity_communities(
    edges: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 20,
    weight_col: str | None = None,
) -> DataFrame:
    """(node, community): quality-function community detection — one
    Louvain level of synchronous modularity-gain moves over the
    undirected simple view (Blondel et al. 2008's local-moving phase,
    made deterministic and distributed). Complements LPA: LPA's
    majority vote has no objective and oscillates on chain graphs;
    these moves maximize modularity, so bridged cliques/rings settle
    into their planted communities. Beyond-reference analytics.

    Each round every node i simultaneously evaluates its neighboring
    communities c (and staying put) by the standard gain criterion
    ΔQ(i→c) ∝ e_{i,c} - k_i·Σtot(c\\i)/(2m) — e_{i,c} edges from i
    into c, k_i degree, Σtot community degree sum (own degree removed
    when c is i's current community), m total edges — and adopts the
    argmax, ties broken to the SMALLEST community id (deterministic;
    a strictly-positive epsilon guard keeps equal-value moves from
    churning). Communities are node-id labels; the result relabels
    each to its minimum member id.

    Fully synchronous moves oscillate structurally (two mutually-
    attracted nodes swap communities forever — measured immediately on
    a bridged-triangle pair), so each round applies a cycle-free
    SUBSET of intending movers, DOWNHILL-FIRST: every move whose
    target label is smaller than its current one applies in parallel
    (a synchronous swap cycle would need a strictly decreasing label
    loop — impossible — and ties already resolve to the smallest
    community id, so this is nearly all movers: whole cliques fold in
    one round). Only when no downhill mover exists does the round fall
    back to the Luby local-minimum independent set (a mover lands iff
    its id is smaller than every neighboring mover's), which breaks
    uphill re-balancing symmetries; the earlier always-Luby schedule
    serialized id-ordered planted graphs to O(1) applied moves per
    round (measured: 10/round on a 10k-node graph with 9.9k intending
    movers). Deterministic, and every round with any mover applies at
    least one, so progress is guaranteed while the bound holds.

    Per round: one (node, neighbor-community) count aggregate, one
    community degree-sum aggregate, a mover-neighborhood min join and
    one argmax — all keyed on node/community ids, map-side partial
    aggregation everywhere, lineage cut per round, one O(1) mover
    count as the convergence probe. Pathological cases can still
    cycle, so rounds are BOUNDED: non-convergence within
    ``max_rounds`` RAISES like strongly_connected_components rather
    than returning an unconverged partition.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    id_col = nodes.columns[0]
    canon = _canon_undirected_weighted(edges, weight_col)
    node_ids = nodes.select(
        F.col(id_col).cast("long").alias("node")).distinct()
    m = canon.agg(F.sum("w")).collect()[0][0]
    if m is None:
        return node_ids.select("node", F.col("node").alias("community"))
    selfw = node_ids.select("node", F.lit(0.0).alias("sw")).limit(0)
    comm, _moved = _modularity_local_moves(
        canon, selfw, node_ids, float(2 * m), max_rounds,
        "modularity_communities")
    canonical = comm.groupBy("c").agg(F.min("node").alias("community"))
    return comm.join(canonical, "c").select("node", "community")


def _modularity_local_moves(
    canon: DataFrame,
    selfw: DataFrame,
    node_ids: DataFrame,
    two_m: float,
    max_rounds: int,
    opname: str,
):
    """The WEIGHTED local-moving core shared by modularity_communities
    (level 1, w=1, no self-loops) and louvain_communities (aggregated
    levels: inter-community weights + intra-community self-loops).
    canon: (_lo, _hi, w) canonical undirected edges (no self rows);
    selfw: (node, sw) self-loop weights; k_i = sum_j w_ij + 2*sw_i.
    Returns (comm (node, c), any_moved). Raises on oscillation past
    ``max_rounds`` (see modularity_communities docstring).
    """
    und = canon.select(F.col("_lo").alias("_a"), F.col("_hi").alias("_b"),
                       "w") \
        .unionByName(
            canon.select(F.col("_hi").alias("_a"),
                         F.col("_lo").alias("_b"), "w")
        ).localCheckpoint(eager=False)
    # deg stays a LAZY plan (r12): after the r11 k-carrying change it
    # has exactly ONE consumer — the comm seed below — so its eager
    # checkpoint was a whole extra action per call; it now executes
    # once inside comm's materialization job
    deg = (
        und.groupBy(F.col("_a").alias("node"))
        .agg(F.sum("w").alias("_kw"))
        .join(selfw, "node", "outer")
        .select(
            "node",
            (F.coalesce("_kw", F.lit(0.0))
             + 2.0 * F.coalesce("sw", F.lit(0.0))).alias("k"),
        )
    )
    # the assignment frame CARRIES each node's degree k: k never
    # changes within the call, so folding it onto comm kills the two
    # per-round deg joins (tot, scored) the earlier shape paid — tot
    # becomes a plain groupBy and scored needs ONE node-keyed join
    # for (_cur, k) together (guide §2.4: fewer exchanges per round).
    # The node count rides the seed checkpoint job (_ck_observe)
    # instead of a separate count action.
    comm, cst = _ck_observe(
        node_ids.select("node", F.col("node").alias("c"))
        .join(deg, "node", "left")
        .select("node", "c", F.coalesce("k", F.lit(0.0)).alias("k")),
        F.count(F.lit(1)).alias("n"),
    )
    # data-adaptive broadcast regime (guide §3.1): node-scale frames
    # (assignment, community totals) broadcast when the MEASURED node
    # count fits comfortably in an executor — then the edge frame is
    # never shuffled by the per-round joins and a round is ~4
    # exchanges instead of ~11 (the per-round fixed job overhead
    # dominated these iterative planted-graph entries). Big graphs
    # keep the shuffle joins; the threshold is row-count-based, not a
    # local[32]-tuned config. Aggregated Louvain levels shrink, so
    # later levels of a huge run re-enter the broadcast regime
    # naturally (the count is re-measured per call).
    n_nodes = int(cst["n"] or 0)
    small = fits_broadcast(n_nodes, comm.schema, max_rows=2_000_000)
    b = F.broadcast if small else (lambda df: df)
    any_moved = False
    for _round in range(max_rounds):
        tot = comm.groupBy("c").agg(F.sum("k").alias("tot"))
        # weight from i into each neighboring community, under the
        # PREVIOUS round's assignment (synchronous). The stay row
        # (cand = current community, weight 0) is unioned BEFORE the
        # (node, cand) aggregation so e_ic and the stay-candidate
        # injection share ONE exchange (r11 paid two: a groupBy for
        # e_ic, then a second groupBy over the union — guide §2.4).
        # sum(w ∪ {0}) == the old max(e_ic, stay 0) because community
        # weights are nonnegative (w >= 0, the weighted-modularity
        # domain), and for cand != current the 0-row doesn't exist.
        raw = (
            und.join(b(comm.select(F.col("node").alias("_b"),
                                   F.col("c").alias("_cb"))), "_b")
            .select(F.col("_a").alias("node"), F.col("_cb").alias("cand"),
                    "w")
        )
        stay = comm.select("node", F.col("c").alias("cand"),
                           F.lit(0.0).alias("w"))
        pooled = raw.unionByName(stay)
        if small:
            # broadcast regime: hash-partition by node ONCE — node
            # partitioning satisfies the clustering of BOTH downstream
            # aggregations ((node, cand) here and (node, _cur, k) in
            # the argmax), so the whole round runs in one exchange
            # where the grouped forms paid two. Big graphs keep the
            # (node, cand) partial aggregation instead: there the
            # map-side combine (edge-scale -> (node, cand)-scale rows)
            # is worth more than the saved exchange (guide §2.3).
            pooled = pooled.repartition("node")
        cands = (
            pooled.groupBy("node", "cand")
            .agg(F.sum("w").alias("e"))
        )
        scored = (
            cands.join(b(comm.select("node", F.col("c").alias("_cur"),
                                     "k")), "node")
            .join(b(tot.select(F.col("c").alias("cand"), "tot")), "cand")
            .select(
                "node", "cand", "_cur", "k",
                (
                    F.col("e")
                    - F.col("k")
                    * (F.col("tot")
                       - F.when(F.col("cand") == F.col("_cur"),
                                F.col("k"))
                       .otherwise(F.lit(0.0)))
                    / F.lit(two_m)
                ).alias("val"),
            )
        )
        # argmax with epsilon preference for the CURRENT community:
        # a move must beat staying by > 1e-12, and equal-gain
        # alternatives resolve to the smallest community id (min_by
        # over (-value, cand) — id-type-generic: string content-hash
        # ids order fine where the earlier -cand negation could not).
        # The round is ONE eagerly-checkpointed frame: the DOWNHILL
        # schedule (below) is applied IN-PLAN (c = _new when
        # _new < _cur), so the common round pays one heavy job + one
        # shuffle-free probe over the materialized RDD, where the
        # earlier movers-frame + separate comm-update paid two heavy
        # jobs and an extra join per round (measured r11: ~24 AQE
        # jobs and ~0.8-1.4s per round on a 2.4k-node planted graph —
        # fixed overhead, not data).
        # the mover/downhill counts ride the round checkpoint's
        # materialization job (_ck_observe) — the earlier separate
        # one-row collect was a whole extra action per round
        nxt, st = _ck_observe(
            scored.groupBy("node", "_cur", "k")
            .agg(
                F.min_by(
                    "cand",
                    F.struct(
                        (-(F.col("val")
                           + F.when(F.col("cand") == F.col("_cur"),
                                    F.lit(1e-12)).otherwise(F.lit(0.0)))
                         ).alias("v"),
                        F.col("cand").alias("t"),
                    ),
                ).alias("_new")
            )
            .select(
                "node", "_cur", "_new", "k",
                F.when(F.col("_new") < F.col("_cur"), F.col("_new"))
                .otherwise(F.col("_cur")).alias("c"),
            ),
            F.sum((F.col("_new") != F.col("_cur")).cast("int")).alias("n"),
            F.sum((F.col("_new") < F.col("_cur")).cast("int")).alias("nd"),
        )
        if int(st["n"] or 0) == 0:
            return comm, any_moved
        any_moved = True
        # DOWNHILL-FIRST schedule: every move whose target label is
        # SMALLER than the current one applies in parallel — a
        # synchronous oscillation needs a cycle u1->c(u2)->...->c(u1),
        # which under tgt < cur would require a strictly decreasing
        # label loop, impossible. This is the common case (equal-gain
        # ties already resolve to the smallest community id), so whole
        # cliques fold in one round; the previous neighbor-minimum
        # (Luby) restriction serialized to O(1) applied moves per
        # round on id-ordered planted graphs (measured: 10 moves/round
        # on a 10k-node graph where 9.9k wanted to move). Only when NO
        # downhill mover exists (pure uphill re-balancing) do we fall
        # back to the Luby local-minimum set, whose independence keeps
        # liveness without cycles.
        if int(st["nd"] or 0) > 0:
            comm = nxt.select("node", "c", "k")
        else:
            # Luby's ACTUAL randomized rule, derandomized with a
            # round-salted hash: a mover applies iff its (hash, id)
            # key is smaller than every mover-neighbor's — an
            # independent set, so synchronous application cannot
            # oscillate, and an expected constant fraction applies
            # per round. (Comparing RAW ids here serialized to one
            # move per round on id-ordered mover chains — the planted
            # two-scale graph's 20 bridge nodes took 20 rounds;
            # VERDICT r9 #4. The hash breaks the adversarial id
            # order; the round salt breaks repeats across rounds.)
            # The mover count is KNOWN from the probe: small mover
            # sets broadcast explicitly (guide §3.1 — _ck_cut_stats
            # resets size stats, so auto-broadcast cannot see how
            # tiny these frames are), keeping the full edge frame
            # unshuffled in the fallback; big mover sets keep the
            # shuffle join.
            movers = nxt.filter(F.col("_new") != F.col("_cur"))
            mh = movers.select(
                "node",
                F.xxhash64(F.col("node").cast("string"),
                           F.lit(int(_round))).alias("_mh"))
            small = int(st["n"]) <= 1_000_000
            mh_b = F.broadcast(mh) if small else mh
            nbr_min = (
                und.join(mh_b.select(F.col("node").alias("_b"),
                                     F.col("_mh").alias("_bh")), "_b")
                .join(mh_b.select(F.col("node").alias("_a")), "_a",
                      "left_semi")
                .groupBy(F.col("_a").alias("node"))
                .agg(F.min(F.struct(F.col("_bh").alias("h"),
                                    F.col("_b").alias("t"))).alias("_nm"))
            )
            nbr_min_b = F.broadcast(nbr_min) if small else nbr_min
            applied = (
                movers.join(mh, "node")
                .join(nbr_min_b, "node", "left")
                .filter(F.col("_nm").isNull()
                        | (F.struct(F.col("_mh").alias("h"),
                                    F.col("node").alias("t"))
                           < F.col("_nm")))
                .select("node", "_new")
            )
            comm = _ck_cut_stats(
                nxt.select("node", F.col("_cur").alias("c"), "k")
                .join(applied, "node", "left")
                .select("node", F.coalesce("_new", "c").alias("c"), "k")
            )
    raise RuntimeError(
        f"{opname}: no stable partition within "
        f"max_rounds={max_rounds} (synchronous moves are oscillating); "
        f"raise the bound")


def louvain_communities(
    edges: DataFrame,
    nodes: DataFrame,
    max_levels: int = 3,
    max_rounds: int = 20,
    weight_col: str | None = None,
) -> DataFrame:
    """(node, community): FULL multi-level Louvain — repeat [weighted
    local moves -> aggregate communities into supernodes] until a
    level makes no move or ``max_levels`` is reached. Level 1 equals
    modularity_communities; aggregation sums inter-community edge
    weights and folds intra-community weight into supernode SELF-LOOPS
    (which feed k_i = sum_j w_ij + 2*sw_i — the standard weighted-
    modularity bookkeeping), so later levels merge whole communities
    where the gain criterion supports it. Two-scale structure
    (cliques-of-cliques) resolves to the COARSE partition, which one
    level cannot see. Labels are the minimum ORIGINAL member id.

    Aggregation is two groupBys on community ids (graph shrinks
    per level); determinism, the Luby mover restriction and the
    bounded-rounds RAISE are inherited from the shared core.
    """
    if max_levels < 1:
        raise ValueError(f"max_levels must be >= 1, got {max_levels}")
    id_col = nodes.columns[0]
    canon = _canon_undirected_weighted(edges, weight_col)
    orig = nodes.select(F.col(id_col).cast("long").alias("node")).distinct()
    selfw = orig.select("node", F.lit(0.0).alias("sw")).limit(0)
    totals = canon.agg(F.sum("w")).collect()[0][0]
    if totals is None:
        return orig.select("node", F.col("node").alias("community"))
    node_ids = orig
    # per-level comm frames (checkpointed RDDs); the node -> community
    # mapping is composed from them ONCE at the end instead of an
    # eager mapping checkpoint per level (r12: one action per level
    # saved; the fold is <= max_levels lazy joins over materialized
    # RDDs inside the single final materialization)
    maps: list[DataFrame] = []
    sw_sum, w_sum = 0.0, float(totals)
    for _level in range(max_levels):
        # level > 0 totals were OBSERVED on the previous level's
        # selfw/canon checkpoints — no per-level scalar collect
        two_m = float(2 * (w_sum + sw_sum))
        comm, moved = _modularity_local_moves(
            canon, selfw, node_ids, two_m, max_rounds,
            "louvain_communities")
        if not moved:
            break
        maps.append(comm)
        # aggregate: intra-community weight -> self-loops, inter ->
        # canonical supernode edges
        lab = comm.select(F.col("node").alias("_n"), F.col("c").alias("_c"))
        tagged = (
            canon.join(lab.select(F.col("_n").alias("_lo"),
                                  F.col("_c").alias("_c1")), "_lo")
            .join(lab.select(F.col("_n").alias("_hi"),
                             F.col("_c").alias("_c2")), "_hi")
        )
        intra = (
            tagged.filter(F.col("_c1") == F.col("_c2"))
            .groupBy(F.col("_c1").alias("node"))
            .agg(F.sum("w").alias("sw"))
        )
        # EAGER stats-cutting level-boundary checkpoints: these frames
        # seed every plan of the next level; lazy checkpoints embed the
        # whole multi-level lineage into each plan build, and plain
        # eager ones carry the compounded sizeInBytes estimate across
        # levels (see _ck_cut_stats). The NEXT level's totals ride
        # these checkpoints' materialization jobs (_ck_observe).
        selfw, sst = _ck_observe(
            selfw.join(lab.select(F.col("_n").alias("node"),
                                  F.col("_c").alias("_c")), "node")
            .groupBy(F.col("_c").alias("node"))
            .agg(F.sum("sw").alias("sw"))
            .unionByName(intra)
            .groupBy("node")
            .agg(F.sum("sw").alias("sw")),
            F.sum("sw").alias("_sw"),
        )
        canon, wst = _ck_observe(
            tagged.filter(F.col("_c1") != F.col("_c2"))
            .select(
                F.least("_c1", "_c2").alias("_lo"),
                F.greatest("_c1", "_c2").alias("_hi"),
                "w",
            )
            .groupBy("_lo", "_hi")
            .agg(F.sum("w").alias("w")),
            F.sum("w").alias("_w"),
        )
        sw_sum = float(sst["_sw"] or 0.0)
        w_sum = float(wst["_w"] or 0.0)
        # lazy: one distinct over the checkpointed comm, consumed
        # exactly once when the next level seeds its assignment
        node_ids = comm.select(F.col("c").alias("node")).distinct()
    mapping = orig.select("node", F.col("node").alias("cur"))
    for cm in maps:
        mapping = mapping.join(
            cm.select(F.col("node").alias("cur"), F.col("c").alias("_nc")),
            "cur").select("node", F.col("_nc").alias("cur"))
    if maps:
        # materialized once: the canonical groupBy AND the final join
        # both read the fold (two consumers of one composed plan)
        mapping = _ck_cut_stats(mapping)
    canonical = mapping.groupBy("cur").agg(F.min("node").alias("community"))
    return mapping.join(canonical, "cur").select("node", "community")


def _refine_connected(canon: DataFrame, comm: DataFrame) -> DataFrame:
    """Leiden refinement kernel: split every community into the
    CONNECTED COMPONENTS of its induced subgraph. Edges between two
    parts of a split community do not exist by definition, so after
    aggregation the parts are non-adjacent supernodes and can never
    silently re-fuse — each must independently join a community it
    actually touches. Returns (node, c) with c = min member id per
    part (connected_components' canonical label), so refinement of an
    already-connected partition is a pure relabel-to-min no-op."""
    lab = comm.select(F.col("node").alias("_n"), F.col("c").alias("_c"))
    intra = (
        canon.join(lab.select(F.col("_n").alias("_lo"),
                              F.col("_c").alias("_c1")), "_lo")
        .join(lab.select(F.col("_n").alias("_hi"),
                         F.col("_c").alias("_c2")), "_hi")
        .filter(F.col("_c1") == F.col("_c2"))
        .select(F.col("_lo").alias("_src"), F.col("_hi").alias("_dst"))
    )
    cc = connected_components(intra, comm.select("node"))
    return cc.select("node", F.col("comp").alias("c"))


def leiden_communities(
    edges: DataFrame,
    nodes: DataFrame,
    max_levels: int = 3,
    max_rounds: int = 20,
    weight_col: str | None = None,
    resolution: float = 1.0,
) -> DataFrame:
    """(node, community): Louvain with Leiden's connectivity
    refinement (Traag, Waltman & van Eck 2019, "From Louvain to
    Leiden") — VERDICT r8 ask #4. Louvain's known defect: when a
    bridge node moves OUT of its community, the nodes left behind
    keep the old label even if nothing connects them anymore, so
    communities can be internally DISCONNECTED (the paper's Fig. 2;
    planted and pytest-pinned here). Leiden inserts a refinement
    phase between local moving and aggregation: each community is
    split into well-connected subcommunities and aggregation runs on
    the REFINED partition.

    This implementation's refinement is the connectivity kernel
    (_refine_connected): each community splits into the connected
    components of its induced subgraph — the exact invariant the
    paper proves for Leiden (their Theorem: every community is
    connected) enforced directly, rather than the paper's randomized
    gamma-well-connectedness merging (deterministic here by design:
    every stage is a pure function of the graph, like the rest of
    this module's parallel fixpoints). Inductively every supernode at
    every level represents a connected set of original nodes —
    level-N communities are unions of ADJACENT supernodes (local
    moves only ever adopt a neighboring community's label), so the
    returned partition always induces connected subgraphs
    (pytest-pinned invariant).

    Machinery (local-moving core, weighted aggregation with
    self-loops, bounded-rounds RAISE, per-level lineage cuts) is
    shared with louvain_communities; refinement adds one
    intra-community edge filter + one hash-min CC per level.

    ``resolution``: the Reichardt-Bornholdt gamma (the Leiden paper's
    resolution knob) — gamma > 1 penalizes community size harder
    (more, smaller communities; counters modularity's resolution
    limit), gamma < 1 coarsens; 1.0 is plain modularity. Folds into
    the 2m normalizer, so every determinism/replay property is
    unchanged (monotone-refinement pytest).
    """
    if max_levels < 1:
        raise ValueError(f"max_levels must be >= 1, got {max_levels}")
    if resolution <= 0:
        raise ValueError(f"resolution must be > 0, got {resolution}")
    from pyspark.sql.types import NumericType

    id_col = nodes.columns[0]
    canon = _canon_undirected_weighted(edges, weight_col)
    # id-type-generic: numeric ids canonicalize to long; string ids
    # (pure-GQL content-hash graphs) stay strings — every stage below
    # only joins/compares/mins ids, all of which order strings fine
    _key = (F.col(id_col).cast("long")
            if isinstance(nodes.schema[id_col].dataType, NumericType)
            else F.col(id_col))
    orig = nodes.select(_key.alias("node")).distinct()
    selfw = orig.select("node", F.lit(0.0).alias("sw")).limit(0)
    totals = canon.agg(F.sum("w")).collect()[0][0]
    if totals is None:
        return orig.select("node", F.col("node").alias("community"))
    node_ids = orig
    # per-level refined comm frames; the node -> community mapping is
    # composed once at the end (see louvain_communities — one eager
    # checkpoint per level saved), and level > 0 totals ride the
    # selfw/canon checkpoints' materialization jobs (_ck_observe)
    maps: list[DataFrame] = []
    sw_sum, w_sum = 0.0, float(totals)
    for _level in range(max_levels):
        # the Reichardt-Bornholdt resolution parameter folds into the
        # normalizer: gain = e_ic - gamma*k_i*tot/2m = e_ic -
        # k_i*tot/(2m/gamma), so the shared core runs UNCHANGED on an
        # effective 2m/gamma (gamma > 1 -> stronger penalty -> more,
        # smaller communities; the Leiden paper's resolution knob)
        two_m = float(2 * (w_sum + sw_sum)) / float(resolution)
        comm, moved = _modularity_local_moves(
            canon, selfw, node_ids, two_m, max_rounds,
            "leiden_communities")
        if not moved:
            break
        # ---- the Leiden step: refine BEFORE aggregating ----
        comm = _ck_cut_stats(_refine_connected(canon, comm))
        maps.append(comm)
        lab = comm.select(F.col("node").alias("_n"), F.col("c").alias("_c"))
        tagged = (
            canon.join(lab.select(F.col("_n").alias("_lo"),
                                  F.col("_c").alias("_c1")), "_lo")
            .join(lab.select(F.col("_n").alias("_hi"),
                             F.col("_c").alias("_c2")), "_hi")
        )
        intra = (
            tagged.filter(F.col("_c1") == F.col("_c2"))
            .groupBy(F.col("_c1").alias("node"))
            .agg(F.sum("w").alias("sw"))
        )
        selfw, sst = _ck_observe(
            selfw.join(lab.select(F.col("_n").alias("node"),
                                  F.col("_c").alias("_c")), "node")
            .groupBy(F.col("_c").alias("node"))
            .agg(F.sum("sw").alias("sw"))
            .unionByName(intra)
            .groupBy("node")
            .agg(F.sum("sw").alias("sw")),
            F.sum("sw").alias("_sw"),
        )
        canon, wst = _ck_observe(
            tagged.filter(F.col("_c1") != F.col("_c2"))
            .select(
                F.least("_c1", "_c2").alias("_lo"),
                F.greatest("_c1", "_c2").alias("_hi"),
                "w",
            )
            .groupBy("_lo", "_hi")
            .agg(F.sum("w").alias("w")),
            F.sum("w").alias("_w"),
        )
        sw_sum = float(sst["_sw"] or 0.0)
        w_sum = float(wst["_w"] or 0.0)
        # lazy: one distinct over the checkpointed comm, consumed
        # exactly once when the next level seeds its assignment
        node_ids = comm.select(F.col("c").alias("node")).distinct()
    mapping = orig.select("node", F.col("node").alias("cur"))
    for cm in maps:
        mapping = mapping.join(
            cm.select(F.col("node").alias("cur"), F.col("c").alias("_nc")),
            "cur").select("node", F.col("_nc").alias("cur"))
    if maps:
        mapping = _ck_cut_stats(mapping)
    canonical = mapping.groupBy("cur").agg(F.min("node").alias("community"))
    return mapping.join(canonical, "cur").select("node", "community")


def strongly_connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 20,
    max_color_iter: int = 30,
    confirm_dedup_every: int = 4,
) -> DataFrame:
    """(node, scc): DIRECTED strongly connected components — the
    directed sibling connected_components (undirected hash-min)
    cannot express. Beyond-reference analytics (the reference has no
    SCC operator). scc = max node id in the component.

    Distributed coloring algorithm (Orzan's FB-coloring shape):
    each outer round
      1. TRIM: iteratively peel nodes with no remaining in-edges or
         no remaining out-edges — each is its own singleton SCC (this
         disposes of DAG tails/chains cheaply before any coloring);
      2. COLOR: propagate color[v] = max(color of any predecessor,
         own) to fixpoint — color(v) = max id that reaches v;
      3. CONFIRM: backward-propagate a marker from each color root c
         along REVERSED edges restricted to same-color nodes; marked
         nodes of color c are exactly SCC(c). All color classes
         resolve one SCC each, simultaneously.
    Resolved nodes leave the edge set; repeat. Every stage is
    joins/aggregates on node ids with lazy localCheckpoints and O(1)
    convergence counters — no driver-side data.

    Scale posture (honest): cycle-rich graphs resolve in a few outer
    rounds; adversarial DAG-of-SCCs chains need up to one round per
    chain link beyond what TRIM removes, so rounds are BOUNDED by
    ``max_rounds`` and the operator raises if structure remains —
    the caller chooses a bigger bound, like kcore/bfs bounds.

    When COLOR exhausts ``max_color_iter`` while TRIM is still
    peeling, the round falls back to MORE TRIMMING instead of raising
    (r7 review fix): a deep DAG chain whose ids DESCEND along edges
    is color-deep (the max-id head floods the whole chain) but
    trim-shallow, and r6's trim-to-fixpoint handled it; the raise is
    reserved for structure that neither trim nor the color bound can
    resolve (true long cycles — same contract as r6).

    ``confirm_dedup_every``: dedup cadence of CONFIRM's backward
    frontier (mirrors bfs_distances' dedup_every): each dedup is a
    full shuffle stage, so sparse graphs want the default 4; a DENSE
    SCC (high in-degree community) multiplies frontier duplicates by
    ~in-degree per un-deduped hop — pass 1 there.
    """
    id_col = nodes.columns[0]
    # the node count rides the seed materialization (r12): every
    # residual frame below is checkpointed with its count observed, so
    # no round ever runs a separate emptiness probe
    remaining, _rs = _ck_observe(
        nodes.select(F.col(id_col).alias("node")).distinct(),
        F.count(F.lit(1)).alias("n"))
    n_remaining = int(_rs["n"] or 0)
    e = edges.select(F.col(SRC).alias("src"), F.col(DST).alias("dst")) \
        .filter(F.col("src") != F.col("dst")).distinct() \
        .localCheckpoint(eager=False)
    out_parts = []
    tbatch = 2
    for _round in range(max_rounds):
        if n_remaining == 0:
            break
        # --- TRIM: peel no-in / no-out nodes — each is its own
        # singleton SCC. ONE hop-batched peel per outer round (r6
        # probed isEmpty after every single peel AND ran trim to its
        # own fixpoint, which made deep DAG tails trim-bound: a
        # depth-5000 chain blocked 2500 times and serialized ~5000
        # shuffle stages before coloring ever ran): `tbatch` peels
        # chain lazily, ONE emptiness probe, and the batch doubles
        # across rounds while peeling stays productive. Trim no longer
        # owns a fixpoint — COLOR+CONFIRM resolve whatever it leaves
        # (a DAG region whose ids increase along edges resolves in one
        # coloring round: every node is its own color root), so trim
        # is purely the cheap disposal path and never the bottleneck.
        # Peeling an already-stable edge set is a no-op, so the fixed
        # batch size can't change results.
        rem_before, n_before = remaining, n_remaining
        for t in range(tbatch):
            srcs = e.select(F.col("src").alias("node")).distinct()
            dsts = e.select(F.col("dst").alias("node")).distinct()
            interior = srcs.join(dsts, "node", "inner")
            remaining = remaining.join(interior, "node", "left_semi")
            e = (
                e.join(remaining.select(F.col("node").alias("src")),
                       "src", "left_semi")
                .join(remaining.select(F.col("node").alias("dst")),
                      "dst", "left_semi")
            )
            if (t + 1) % _CHECKPOINT_EVERY == 0 or t == tbatch - 1:
                remaining = remaining.localCheckpoint(eager=False)
                e = e.localCheckpoint(eager=False)
        # ONE action certifies the whole trim batch (r12): the
        # surviving count rides the batch-end checkpoint, and trim
        # productivity is the count delta — the old trimmed.isEmpty()
        # and remaining.isEmpty() probe jobs are gone (trim only ever
        # removes nodes, so n_after < n_before <=> trimmed nonempty)
        remaining, _ts = _ck_observe(
            remaining, F.count(F.lit(1)).alias("n"))
        n_remaining = int(_ts["n"] or 0)
        trim_productive = n_remaining < n_before
        if trim_productive:
            trimmed = rem_before.join(remaining.select("node"), "node",
                                      "left_anti")
            out_parts.append(trimmed.select(
                "node", F.col("node").alias("scc")))
            tbatch = min(tbatch * 2, 512)
        if n_remaining == 0:
            break
        # --- COLOR: forward max propagation to fixpoint, HOP-BATCHED
        # (same adaptive shape as bfs_distances/dag_layers — r6 ran one
        # hop per blocking probe, so a depth-D condensation chain paid
        # D full Spark jobs whose only yield was one hop + an O(1)
        # probe; now `cbatch` propagation steps chain lazily before ONE
        # convergence count and the batch doubles while the fixpoint is
        # far, so blocking rounds scale with log(depth)). The update is
        # monotone (colors only grow) so batching cannot change the
        # fixpoint. MUST reach the fixpoint: stopping early would leave
        # interior nodes as spurious roots and silently fragment long
        # cycles into fake singleton SCCs — so non-convergence RAISES
        # like max_rounds; max_color_iter bounds TOTAL steps.
        colors = remaining.select("node", F.col("node").alias("color"))
        steps = 0
        cbatch = 2
        converged = False
        while steps < max_color_iter and not converged:
            # _lc = the global step at which this node's color LAST
            # changed. Monotone propagation means a step that changes
            # nothing is the fixpoint — so if max(_lc) over the batch
            # is below the batch's final step, convergence is
            # certified WITHIN the batch (no extra all-quiet batch
            # needed, and a fixpoint at true depth D certifies within
            # a max_color_iter barely above D).
            updated = colors.select(
                "node", "color", F.lit(steps).alias("_lc"))
            for i in range(min(cbatch, max_color_iter - steps)):
                steps += 1
                incoming = (
                    e.join(updated.select(F.col("node").alias("src"),
                                          F.col("color").alias("_pc")),
                           "src")
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.max("_pc").alias("_mx"))
                )
                updated = (
                    updated.join(incoming, "node", "left")
                    .select(
                        "node",
                        F.greatest(
                            F.col("color"), F.coalesce("_mx", F.col("color"))
                        ).alias("color"),
                        F.when(
                            F.coalesce("_mx", F.col("color"))
                            > F.col("color"),
                            F.lit(steps),
                        ).otherwise(F.col("_lc")).alias("_lc"),
                    )
                )
                if (i + 1) % _CHECKPOINT_EVERY == 0:
                    updated = updated.localCheckpoint(eager=False)
            # convergence certificate rides the checkpoint job (r12)
            updated, cst = _ck_observe(
                updated, F.max("_lc").alias("lc"))
            last_change = cst["lc"]
            colors = updated.select("node", "color")
            converged = last_change is None or int(last_change) < steps
            if not converged:
                cbatch = min(cbatch * 2, 64)
        if not converged:
            if trim_productive:
                # the region is color-deep but trim is still peeling
                # (descending-id DAG chains): spend the round on more
                # trimming instead of failing — tbatch keeps growing,
                # so chain disposal accelerates geometrically
                continue
            raise RuntimeError(
                f"strongly_connected_components: coloring did not "
                f"converge within max_color_iter={max_color_iter} "
                f"(graph has reachability chains longer than the bound "
                f"— raise it)")
        # --- CONFIRM: backward marker from each color root within its
        # color class; marked nodes form SCC(color). HOP-BATCHED like
        # COLOR: `kbatch` backward hops chain lazily (anti-joins see
        # the in-flight marks), then ONE eager cut + stats probe per
        # batch. Expanding an already-empty frontier yields empty, so
        # batching cannot over- or under-mark; the mid-batch-death
        # signal (max hop index seen < last hop) stops the overshoot
        # round, same as bfs_distances.
        marked = colors.filter(F.col("node") == F.col("color")) \
            .select("node", "color").localCheckpoint(eager=False)
        frontier = marked
        kbatch = 2
        while True:
            parts = []
            for i in range(kbatch):
                # predecessors in the SAME color class. No per-hop
                # anti-join against `marked` — that would make hop i's
                # plan reference an i-piece union (O(batch^2) plan
                # nodes, the blowup bfs_distances avoids); already-
                # marked nodes get re-expanded within the batch
                # (bounded redundancy) and are dropped once at the
                # batch-end anti-join.
                preds = (
                    e.join(frontier.select(F.col("node").alias("dst"),
                                           F.col("color").alias("_fc")),
                           "dst")
                    .select(F.col("src").alias("node"), F.col("_fc"))
                    .join(colors, "node")
                    .filter(F.col("color") == F.col("_fc"))
                    .select("node", F.col("_fc").alias("color"))
                )
                if (i + 1) % confirm_dedup_every == 0:
                    preds = preds.dropDuplicates(["node", "color"]) \
                                 .localCheckpoint(eager=False)
                parts.append(
                    preds.select("node", "color", F.lit(i).alias("_hop")))
                frontier = preds
            block = parts[0]
            for p in parts[1:]:
                block = block.unionByName(p)
            # batch stats ride the checkpoint job (_ck_observe, r12)
            nxt, stats = _ck_observe(
                block.groupBy("node", "color")
                .agg(F.min("_hop").alias("_hop"))
                .join(marked, ["node", "color"], "left_anti"),
                F.count(F.lit(1)).alias("n"), F.max("_hop").alias("mh"),
            )
            n_new = int(stats["n"] or 0)
            if n_new == 0:
                break
            marked = marked.unionByName(nxt.select("node", "color")) \
                .localCheckpoint(eager=False)
            # mid-batch death: nothing newly marked by the batch's
            # final hop means deeper hops are provably empty
            if int(stats["mh"]) < kbatch - 1:
                break
            frontier = nxt.select("node", "color")
            kbatch = min(kbatch * 2, 64)
        out_parts.append(marked.select("node", F.col("color").alias("scc")))
        # residual count rides the round-end checkpoint (r12) — the
        # next round's loop-top probe is a counter compare
        remaining, _cs = _ck_observe(
            remaining.join(marked.select("node"), "node", "left_anti"),
            F.count(F.lit(1)).alias("n"))
        n_remaining = int(_cs["n"] or 0)
        e = (
            e.join(remaining.select(F.col("node").alias("src")),
                   "src", "left_semi")
            .join(remaining.select(F.col("node").alias("dst")),
                  "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
    else:
        if n_remaining != 0:
            raise RuntimeError(
                f"strongly_connected_components: structure remains after "
                f"max_rounds={max_rounds}; raise the bound")
    if not out_parts:  # empty node set -> empty result frame
        return nodes.select(
            F.col(id_col).alias("node"), F.col(id_col).alias("scc"))
    result = out_parts[0]
    for p in out_parts[1:]:
        result = result.unionByName(p)
    return result


def dag_layers(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 2048,
    batch: int = 8,
    max_batch: int = 64,
) -> DataFrame:
    """(node, layer): longest-path topological layering of a DAG —
    layer(v) = 0 for roots (no in-edges), else 1 + max(layer(pred)).
    The level-scheduling primitive (dependency waves a pipeline/build
    DAG executes in; also the longest-chain depth report for lineage
    graphs). Beyond-reference analytics.

    Forward max-propagation with BFS-style HOP BATCHING: deep chains
    make per-level convergence probes latency-bound (a depth-700
    lineage chain would block 700 times), so ``batch`` propagation
    steps chain lazily (lineage cut every few levels) before ONE
    convergence count, and the batch doubles (capped at
    ``max_batch``) while the fixpoint is far — probes scale with
    log(depth), not depth. The update is monotone (layers only grow)
    so batching cannot change the fixpoint. A CYCLE never converges —
    total steps are bounded by ``max_iter`` and the operator RAISES
    (never returns wrong layers).
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    layers = nodes.select(
        F.col(nodes.columns[0]).alias("node"), F.lit(0).alias("layer"))
    e = edges.select(F.col(SRC).alias("src"), F.col(DST).alias("dst")) \
        .filter(F.col("src") != F.col("dst")).distinct() \
        .localCheckpoint(eager=False)
    steps = 0
    cur_batch = batch
    while steps < max_iter:
        # _lc = global step of this node's LAST layer change: monotone
        # propagation means a step that changes nothing is the
        # fixpoint, so max(_lc) < the batch's final step certifies
        # convergence WITHIN the batch (no extra all-quiet batch, and
        # no join-against-previous-state probe — one 1-row agg)
        updated = layers.select("node", "layer", F.lit(steps).alias("_lc"))
        for i in range(min(cur_batch, max_iter - steps)):
            steps += 1
            incoming = (
                e.join(updated.select(F.col("node").alias("src"),
                                      F.col("layer").alias("_pl")), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg((F.max("_pl") + 1).alias("_nl"))
            )
            updated = (
                updated.join(incoming, "node", "left")
                .select(
                    "node",
                    F.greatest(
                        F.col("layer"), F.coalesce("_nl", F.col("layer"))
                    ).alias("layer"),
                    F.when(
                        F.coalesce("_nl", F.col("layer")) > F.col("layer"),
                        F.lit(steps),
                    ).otherwise(F.col("_lc")).alias("_lc"),
                )
            )
            if (i + 1) % _CHECKPOINT_EVERY == 0:
                updated = updated.localCheckpoint(eager=False)
        # the convergence certificate (max last-change step) rides the
        # batch checkpoint's materialization job (_ck_observe) — the
        # separate 1-row agg per batch is gone (r12)
        updated, st = _ck_observe(
            updated, F.max("_lc").alias("lc"))
        last_change = st["lc"]
        layers = updated.select("node", "layer")
        if last_change is None or int(last_change) < steps:
            return layers
        if cur_batch < max_batch:
            cur_batch = min(cur_batch * 2, max_batch)
    raise RuntimeError(
        f"dag_layers: no fixpoint within max_iter={max_iter} steps — the "
        f"graph has a cycle or a path longer than the bound; raise "
        f"max_iter for deep DAGs")


def _canonical_undirected(
    edges: DataFrame, src: str = SRC, dst: str = DST
) -> DataFrame:
    """Canonical simple undirected view: (_lo < _hi), distinct,
    lineage cut (the edge frame feeds several join sides downstream)."""
    a, b = F.col(src), F.col(dst)
    return (
        edges.select(F.least(a, b).alias("_lo"), F.greatest(a, b).alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def link_prediction(
    edges: DataFrame,
    src: str = SRC,
    dst: str = DST,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Link-prediction scores for every UNLINKED pair at distance 2
    (≥1 common neighbor, no direct edge) of the simple undirected view
    — the classic neighborhood-overlap family (Liben-Nowell & Kleinberg
    2003; beyond-reference analytics, the standard companion to
    components/pagerank for graph-based candidate generation):

    - common_neighbors  |N(u) ∩ N(v)|
    - jaccard           |N(u) ∩ N(v)| / |N(u) ∪ N(v)|
    - adamic_adar       Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w)
    - resource_allocation  Σ_{w} 1/deg(w)
    - preferential_attachment  deg(u)·deg(v)

    Distributed shape: one canonical-edge distinct, one degree groupBy,
    then the wedge self-join OPENED AT THE CENTER w — every common
    neighbor of (u, v) produces exactly one (u, v, deg_w) row, so the
    per-pair aggregate is a single map-side-combinable groupBy and the
    existing-edge exclusion one left_anti join on the canonical key.
    Unlike the triangle closure this CANNOT be degree-oriented away:
    the OUTPUT itself is Σ_w deg(w)² candidate pairs, so a hub center
    is inherent work, not join-plan waste. ``max_center_degree`` is
    the documented estimator for skewed graphs: wedge centers above
    the cap are dropped (a w with deg 10⁶ contributes ≤1/ln(10⁶) ≈
    0.07 per pair anyway — the standard production cut that bounds
    the blow-up at 100 TB; scores become lower bounds).

    deg(w) ≥ 2 for every wedge center by construction (a degree-1 node
    has no second neighbor), so 1/ln(deg) never divides by zero.

    Returns (node_u, node_v, common_neighbors BIGINT, jaccard,
    adamic_adar, resource_allocation, preferential_attachment BIGINT)
    with node_u < node_v; float scores rounded to 6 (jaccard/RA —
    exact rationals) and 4 (adamic-adar — libm ln) digits so the
    frame is cross-engine comparable.
    """
    und = _canonical_undirected(edges, src, dst)
    deg = (
        und.select(F.col("_lo").alias("_n"))
        .unionByName(und.select(F.col("_hi").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    adj = (
        und.select(F.col("_lo").alias("_w"), F.col("_hi").alias("_x"))
        .unionByName(
            und.select(F.col("_hi").alias("_w"), F.col("_lo").alias("_x")))
    )
    adjd = adj.join(deg.select(F.col("_n").alias("_w"),
                               F.col("_d").alias("_dw")), "_w")
    if max_center_degree is not None:
        if max_center_degree < 2:
            raise ValueError(
                f"max_center_degree must be >= 2, got {max_center_degree}")
        adjd = adjd.filter(F.col("_dw") <= F.lit(int(max_center_degree)))
    a2 = adjd.select(F.col("_w"), F.col("_x").alias("_v"))
    pairs = (
        adjd.join(a2, "_w")
        .filter(F.col("_x") < F.col("_v"))
        .groupBy(F.col("_x").alias("node_u"), F.col("_v").alias("node_v"))
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(F.lit(1.0) / F.log(F.col("_dw"))).alias("_aa"),
            F.sum(F.lit(1.0) / F.col("_dw")).alias("_ra"),
        )
    )
    unlinked = pairs.join(
        und.select(F.col("_lo").alias("node_u"), F.col("_hi").alias("node_v")),
        ["node_u", "node_v"], "left_anti",
    )
    du = deg.select(F.col("_n").alias("node_u"), F.col("_d").alias("_du"))
    dv = deg.select(F.col("_n").alias("node_v"), F.col("_d").alias("_dv"))
    return (
        unlinked.join(du, "node_u").join(dv, "node_v")
        .select(
            "node_u", "node_v", "common_neighbors",
            F.round(
                F.col("common_neighbors")
                / (F.col("_du") + F.col("_dv") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
            F.round(F.col("_aa"), 4).alias("adamic_adar"),
            F.round(F.col("_ra"), 6).alias("resource_allocation"),
            (F.col("_du") * F.col("_dv")).cast("long")
            .alias("preferential_attachment"),
        )
    )


def clustering_coefficient(
    edges: DataFrame, src: str = SRC, dst: str = DST
) -> DataFrame:
    """Per-node local clustering coefficient of the simple undirected
    view: lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), 0.0 when deg < 2
    (Watts-Strogatz 1998; beyond-reference analytics). Rides the same
    degree-oriented wedge closure as triangle_count — T(v) per node is
    one explode + map-side-combined groupBy over the triple set — plus
    the degree groupBy; every node of the graph appears, triangle-free
    ones with n_triangles = 0.

    Returns (node, degree BIGINT, n_triangles BIGINT, clustering)
    with clustering rounded to 6 digits (exact rational)."""
    und = _canonical_undirected(edges, src, dst)
    deg = (
        und.select(F.col("_lo").alias("node"))
        .unionByName(und.select(F.col("_hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = (
        _oriented_triangle_triples(und, "_lo", "_hi", assume_canonical=True)
        .select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tri, "node", "left")
        .select(
            "node", "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long")
            .alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0 * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("clustering"),
        )
    )


def transitivity(
    edges: DataFrame, src: str = SRC, dst: str = DST
) -> DataFrame:
    """Global transitivity (one row): 3·triangles / wedges, where
    wedges = Σ_v deg(v)·(deg(v)−1)/2 over the simple undirected view;
    0.0 on wedge-free graphs. The corpus-level closure ratio that
    complements the per-node clustering_coefficient report."""
    und = _canonical_undirected(edges, src, dst)
    tri = _oriented_triangle_triples(und, "_lo", "_hi",
                                     assume_canonical=True).agg(
        F.count(F.lit(1)).alias("n_triangles"))
    wed = (
        und.select(F.col("_lo").alias("node"))
        .unionByName(und.select(F.col("_hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_d"))
        .agg((F.sum(F.col("_d") * (F.col("_d") - 1)) / 2).cast("long")
             .alias("n_wedges"))
    )
    return tri.crossJoin(wed).select(
        "n_triangles", "n_wedges",
        F.when(F.col("n_wedges") > 0,
               F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6))
        .otherwise(F.lit(0.0)).alias("transitivity"),
    )


def hits(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    num_iter: int = 10,
    norm: str = "l2",
    src: str = SRC,
    dst: str = DST,
) -> DataFrame:
    """(node, hub, authority): HITS / hubs-and-authorities (Kleinberg
    1999) over directed edges — authority(v) = Σ_{u→v} hub(u),
    hub(u) = Σ_{u→v} authority(v), each renormalized per half-step
    (``norm='l2'`` — Kleinberg's choice — or ``'l1'``). The companion
    centrality to pagerank for bipartite-ish citation / endorsement
    graphs, where "points at good pages" and "is pointed at by good
    pages" are distinct roles.

    Same execution discipline as pagerank: each half-step is one
    edge join + one map-side-combined groupBy; the normalizer is a
    1×1 aggregate broadcast-crossJoined back (no driver barrier
    anywhere in the loop); the (node, hub, auth) frame is ONE frame
    per round, lineage cut lazily. ``nodes`` defaults to the edge
    endpoints; pass a frame to include isolated nodes (their scores
    are 0). Multi-edges count with multiplicity — pre-distinct the
    edge frame to ignore them.
    """
    from pyspark.sql.functions import broadcast

    if norm not in ("l1", "l2"):
        raise ValueError(f"norm must be 'l1' or 'l2', got {norm!r}")
    if num_iter < 1:
        raise ValueError(f"num_iter must be >= 1, got {num_iter}")
    e = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b")) \
        .localCheckpoint(eager=False)
    if nodes is None:
        base = (
            e.select(F.col("_a").alias("node"))
            .unionByName(e.select(F.col("_b").alias("node")))
            .distinct()
        )
    else:
        base = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
    base = base.localCheckpoint(eager=False)

    def _normed(frame: DataFrame, col: str) -> DataFrame:
        mass = F.sum(F.col(col) * F.col(col)) if norm == "l2" \
            else F.sum(F.abs(F.col(col)))
        tot = frame.agg(
            (F.sqrt(mass) if norm == "l2" else mass).alias("_z"))
        return (
            frame.crossJoin(broadcast(tot))
            .select(
                "node",
                F.when(F.col("_z") > 0, F.col(col) / F.col("_z"))
                .otherwise(F.lit(0.0)).alias(col),
            )
        )

    scores = base.select("node", F.lit(1.0).alias("hub"))
    for _ in range(num_iter):
        auth_in = (
            e.join(scores.select(F.col("node").alias("_a"), "hub"), "_a")
            .groupBy(F.col("_b").alias("node"))
            .agg(F.sum("hub").alias("authority"))
        )
        auth = _normed(
            base.join(auth_in, "node", "left")
            .select("node", F.coalesce("authority", F.lit(0.0))
                    .alias("authority")),
            "authority",
        )
        hub_in = (
            e.join(auth.select(F.col("node").alias("_b"), "authority"), "_b")
            .groupBy(F.col("_a").alias("node"))
            .agg(F.sum("authority").alias("hub"))
        )
        hub = _normed(
            base.join(hub_in, "node", "left")
            .select("node", F.coalesce("hub", F.lit(0.0)).alias("hub")),
            "hub",
        )
        scores = hub.join(auth, "node").localCheckpoint(eager=False)
    return scores.select("node", "hub", "authority")


def eccentricity(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 50,
    directed: bool = True,
    src: str = SRC,
    dst: str = DST,
) -> DataFrame:
    """(node, eccentricity, n_reachable): each source's eccentricity —
    the maximum FINITE distance to any node it reaches (the standard
    disconnected-graph convention; a node reaching nothing scores 0).
    One hop-batched multi-source BFS + a groupBy max; pass every node
    for exact values on analysis-sized graphs or a hash_sample for
    the sampled bound at corpus scale (cost = |sources| x reach, the
    closeness/betweenness posture)."""
    e = edges.select(F.col(src).alias(SRC), F.col(dst).alias(DST))
    d = bfs_distances(e, sources, max_hops=max_hops, directed=directed)
    return (
        d.groupBy("root")
        .agg(F.max("dist").alias("eccentricity"),
             F.count(F.lit(1)).alias("n_reachable"))
        .select(F.col("root").alias("node"),
                F.col("eccentricity").cast("long").alias("eccentricity"),
                F.col("n_reachable").cast("long").alias("n_reachable"))
    )


def graph_diameter(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 50,
    directed: bool = True,
    src: str = SRC,
    dst: str = DST,
) -> DataFrame:
    """1-row (diameter): max eccentricity over ``sources`` — EXACT when
    sources = every node, a lower bound under sampling (document which
    you passed). Same BFS machinery; the final max is a 1-row
    aggregate."""
    return eccentricity(edges, sources, max_hops=max_hops,
                        directed=directed, src=src, dst=dst).agg(
        F.max("eccentricity").cast("long").alias("diameter"))


def feature_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = True,
    directed: bool = True,
    src: str = SRC,
    dst: str = DST,
) -> DataFrame:
    """(id, vector): GraphSAGE-mean / LightGCN-style feature smoothing
    — each round every node's vector becomes the per-dimension MEAN of
    its in-neighbors' vectors (plus its own when ``include_self``).
    The standard label/feature-propagation step graph-ML pipelines run
    before or instead of training a GNN; k rounds mix k-hop
    neighborhoods. Nodes receiving no messages keep their current
    vector (smoothing must not erase isolated nodes).

    Scale shape per round: one join of the edge list against the
    feature frame (message creation), then a POSEXPLODE to
    (node, dim, value) rows aggregated by avg — deliberately the
    d-times-taller NARROW shuffle rather than collect_list of whole
    vectors, because per-(node,dim) avg gets map-side partial
    aggregation and never materializes a hub's full inbox in memory
    (a celebrity node with 10M in-edges aggregates incrementally;
    collect_list would hold 10M×d doubles in one group). Reassembly
    is a sort of d structs per node. Bounded ``rounds`` with a
    lineage cut per round.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    from .similarity import _as_double

    feat = nodes.select(F.col(id_col).alias("_n"),
                        _as_double(F.col(vec_col)).alias("_v"))
    e = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("_a"), F.col(src).alias("_b"))
        ).distinct()
    for _ in range(rounds):
        msgs = (
            e.join(feat, e["_a"] == feat["_n"], "inner")
            .select(F.col("_b").alias("_n"), "_v")
        )
        if include_self:
            msgs = msgs.unionByName(feat)
        dims = msgs.select(
            "_n", F.posexplode("_v").alias("_p", "_x"))
        agg = dims.groupBy("_n", "_p").agg(F.avg("_x").alias("_m"))
        mixed = (
            agg.groupBy("_n")
            .agg(F.array_sort(
                F.collect_list(F.struct("_p", "_m"))).alias("_pv"))
            .select(
                "_n",
                F.transform("_pv", lambda s: s.getField("_m"))
                .alias("_v2"))
        )
        feat = _ck_cut_stats(
            feat.join(mixed, "_n", "left")
            .select("_n", F.coalesce("_v2", "_v").alias("_v"))
        ).localCheckpoint(eager=False)
    return feat.select(F.col("_n").alias(id_col),
                       F.col("_v").alias(vec_col))


def katz_centrality(
    edges: DataFrame,
    nodes: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    num_iter: int = 10,
    src: str = SRC,
    dst: str = DST,
) -> DataFrame:
    """(node, katz): Katz centrality by fixed-budget iteration —
    x_{t+1}(v) = beta + alpha * sum over in-edges (u -> v) of x_t(u),
    x_0 = beta. Counts walks of every length damped by alpha^len;
    unlike PageRank it does not normalize by out-degree, so prolific
    pointers pass full weight (the citation/influence convention).
    Caller guarantees alpha < 1/lambda_max for convergence (the
    standard contract); the fixed unrolled budget keeps runs
    deterministic and lets a closed-form oracle replay chains exactly.

    Per round: one equi-join of the edge list against the score frame
    + one map-side-combined groupBy on dst — the PageRank loop shape
    without the degree division; lineage cut per round, zero driver
    barriers.
    """
    if num_iter < 1:
        raise ValueError(f"num_iter must be >= 1, got {num_iter}")
    id_col = nodes.columns[0]
    x = nodes.select(F.col(id_col).alias("_n"),
                     F.lit(float(beta)).alias("_x"))
    e = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b")) \
        .localCheckpoint(eager=False)
    for _ in range(num_iter):
        contrib = (
            e.join(x, e["_a"] == x["_n"], "inner")
            .groupBy(F.col("_b").alias("_n"))
            .agg(F.sum("_x").alias("_in"))
        )
        x = _ck_cut_stats(
            x.select("_n").join(contrib, "_n", "left")
            .select("_n",
                    (F.lit(float(beta))
                     + F.lit(float(alpha))
                     * F.coalesce(F.col("_in"), F.lit(0.0))).alias("_x"))
        ).localCheckpoint(eager=False)
    return x.select(F.col("_n").alias("node"),
                    F.round("_x", 6).alias("katz"))


def degree_assortativity(
    edges: DataFrame,
    directed: bool = False,
    src: str = SRC,
    dst: str = DST,
) -> DataFrame:
    """1-row (assortativity, n_edges): the Pearson correlation of
    endpoint degrees across edges (Newman 2002) — positive means hubs
    link to hubs (social nets), negative means hubs link to leaves
    (the internet, most engineered graphs). Undirected: each edge
    contributes both orientations over total degrees; directed:
    (out-degree of src, in-degree of dst) per edge.

    Scale shape: two degree groupBys + one edge join per side + one
    corr aggregate — no quadratic stage; the corr is Spark's built-in
    (one pass, map-side-combinable moments)."""
    e = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b")) \
        .filter(F.col(src) != F.col(dst))
    if directed:
        dsrc = e.groupBy(F.col("_a").alias("_n")).agg(
            F.count(F.lit(1)).cast("double").alias("_da"))
        ddst = e.groupBy(F.col("_b").alias("_n")).agg(
            F.count(F.lit(1)).cast("double").alias("_db"))
        pairs = (
            e.join(dsrc, e["_a"] == dsrc["_n"]).drop("_n")
            .join(ddst, e["_b"] == ddst["_n"]).drop("_n")
            .select(F.col("_da").alias("_x"), F.col("_db").alias("_y"))
        )
    else:
        und = e.unionByName(
            e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))
        deg = und.groupBy(F.col("_a").alias("_n")).agg(
            F.count(F.lit(1)).cast("double").alias("_d"))
        pairs = (
            und.join(deg.withColumnRenamed("_d", "_x"),
                     und["_a"] == F.col("_n")).drop("_n")
            .join(deg.withColumnRenamed("_d", "_y"),
                  F.col("_b") == F.col("_n")).drop("_n")
            .select("_x", "_y")
        )
    # Pearson from explicit moments: ANSI-mode F.corr RAISES
    # DIVIDE_BY_ZERO on zero variance (regular graphs — every cycle);
    # the guarded form returns NULL there, matching ANSI engines'
    # corr() and keeping the operator total
    mom = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    vx = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    cov = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    return mom.select(
        F.round(
            F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)), 6
        ).alias("assortativity"),
        (F.col("_n") / (1 if directed else 2)).cast("long")
        .alias("n_edges"),
    )
