"""Batch graph algorithms — SURVEY §2.11 (Gelly, low priority) and
the DataSet iteration model (DataSet.iterate/iterateDelta,
DataSet.java:1131,1179).

Reference: flink-libraries/flink-gelly/.../library/
{ConnectedComponents,PageRank}. Gelly runs these as delta iterations
inside the engine; Spark's equivalent is a driver-side loop over
DataFrames — each iteration is one join+aggregate stage, and
checkpoint/persist truncates the lineage so the plan doesn't grow
unboundedly (the scale concern for iteration on Spark).

Every driver loop — PageRank, label propagation, HITS, ``pregel``,
``k_core_pairs``, and outside this module ``pca.power_top1`` and
``quality_clf.logreg_fit`` — runs through ONE superstep driver,
``_Loop`` (the role DataSet.iterate/iterateDelta play for Gelly): an
algorithm supplies its initial state, a step function and, for a
fixpoint loop, a pending-work count; the driver owns the round loop,
the ``_superstep`` barrier, the fixpoint check with its
not-converged warning, and the loop's storage. Frontier-delta loops
(connected components, SSSP) are calls into ``pregel`` (Gelly's
VertexCentricIteration). ``_loop_edges`` is the single owner of a
loop's edge cache: width from input stats, persisted and released by
the helper, never the caller's frame.

Determinism: rank sums accumulate in DECIMAL and round to 9 digits
per iteration so results replay exactly in the SQL oracle.
"""

from __future__ import annotations

import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .._sizing import loop_width

DEC = "decimal(38,10)"


def _warn_not_converged(algo: str, max_iter: int) -> None:
    """A fixpoint loop (``pregel``, ``k_core_pairs``) stopped at its
    round cap with work still pending: the result is NOT a fixed point
    (a component of diameter > max_iter keeps distinct labels, a peel
    cascade stops half-way). Silent truncation here diverged from
    full-closure oracles; make it loud. ``stacklevel`` points at the
    algorithm's caller (warn <- _Loop.run <- algorithm <- caller)."""
    warnings.warn(
        f"{algo}: hit max_iter={max_iter} before convergence — "
        f"results are not a fixed point; raise max_iter",
        RuntimeWarning, stacklevel=4)


def _superstep(df: DataFrame) -> DataFrame:
    """Superstep barrier: compute the round and TRUNCATE LINEAGE.

    DataSet.iterate materializes each superstep; the Spark analogue is
    localCheckpoint (plan becomes a LogicalRDD scan). persist() is NOT
    enough: every round references the previous labels twice (directly
    and via the per-round delta), so the analyzed logical tree doubles
    each round — 2^rounds subtrees — and analysis alone OOMs near
    round 10 even though execution would hit the cache. On a real
    cluster swap for df.checkpoint() (reliable storage) if executor
    loss during a long iteration must be recoverable.

    eager=False: the plan is truncated IMMEDIATELY (the DataFrame
    wraps the to-be-checkpointed RDD either way), but materialization
    waits for the round's convergence count — ONE job per round
    instead of two. Loops without a per-round action (pagerank's
    fixed iterations) collapse further: the whole chain executes in
    the final action, each level persisting as it computes.

    This is the one barrier: ``_Loop.run`` calls it once per round
    (and ``_Loop`` owners call it for their loop-invariant frames),
    always through this module global, so a wrapper installed on the
    attribute sees every superstep.
    """
    return df.localCheckpoint(eager=False)


def _rdd(df: DataFrame):
    """The RDD under a checkpointed frame (its plan is one LogicalRDD),
    None for any other frame."""
    plan = df._jdf.queryExecution().logical()
    return plan.rdd() if plan.nodeName() == "LogicalRDD" else None


class _Loop:
    """The one superstep driver: a driver loop's rounds, its fixpoint
    check and its storage (DataSet.iterate/iterateDelta,
    DataSet.java:1131,1179, own the same three for Gelly).

    Use as a context manager. ``own(df)`` registers a loop-invariant
    frame the algorithm persisted or checkpointed; ``run`` registers
    every round's checkpoint. On exit, on error too, every registered
    frame is released except ``run``'s result — so a loop leaves at
    most its result behind, and never touches a caller's frame, which
    is never registered.

    Releasing earlier rounds is safe because ``run`` materializes its
    result first: materializing a local checkpoint truncates its
    lineage, so nothing reads the earlier rounds again (State
    Management in Apache Flink, VLDB'17: state is scoped to the
    operator that made it, and the runtime clears it).
    """

    def __enter__(self) -> _Loop:
        self._owned: list[DataFrame] = []
        self._result = None
        return self

    def __exit__(self, *exc) -> None:
        for df in self._owned:
            if df is self._result:
                continue
            if df.is_cached:  # persisted by the algorithm
                df.unpersist()
            else:  # a checkpoint: drop its RDD
                _rdd(df).unpersist(False)

    def own(self, df: DataFrame) -> DataFrame:
        self._owned.append(df)
        return df

    def run(self, state: DataFrame, step, rounds: int, pending=None,
            batch=None, algo: str = "loop") -> DataFrame:
        """Up to ``rounds`` supersteps ``state = _superstep(step(state,
        n))``; returns the last state, materialized.

        pending: ``fn(state) -> int``, the fixpoint check — one action
            counting the work left; 0 stops the loop. Without it the
            loop runs exactly ``rounds`` rounds. A loop that ends with
            work pending warns (_warn_not_converged).
        batch: ``fn(n) -> int``, rounds to chain before the next check
            when the last one counted ``n``; the first check then runs
            before round 1. Without it every round is checked after it
            runs — no check before round 1, so an every-round loop
            runs one action per round and no more.
        n: the last check's count (None before the first check) — the
            exact size of the work a round starts from right after a
            check, an upper bound past it.
        """
        n = pending(state) if batch else None
        done = due = 0
        while done < rounds and n != 0:
            if due == 0:
                due = batch(n) if batch else 1
            state = self.own(_superstep(step(state, n)))
            done, due = done + 1, due - 1
            if pending and (due == 0 or done == rounds):
                n = pending(state)
        if n:
            _warn_not_converged(algo, rounds)
        if _rdd(state) is None:  # no round ran: pin the initial state
            state = self.own(_superstep(state))
        if not _rdd(state).isCheckpointed():
            _rdd(state).count()
        self._result = state
        return state


@contextmanager
def _loop_edges(edges: DataFrame):
    """The loop's edge table, partitioned on ``src`` and cached for
    the ``with`` block. Width is ``_sizing.loop_width``, from the
    optimizer's free size estimate, not the session shuffle width
    (32-task stages over 1.3k rows cost ~1.2s/round at sf0.1). Unknown
    stats (the Long.MaxValue sentinel of RDD-backed input, or a joined
    input, whose estimate is a product: est_input_bytes) fall back to
    by-column repartition, which AQE can coalesce, instead of a
    200k-task loop. Only the frame made here is persisted, and a
    ``_Loop`` releases it when the block exits, on error too; the
    caller's frame is never persisted or unpersisted, so a caller's
    cache survives the loop.
    """
    n_part = loop_width(edges)
    with _Loop() as loop:
        yield loop.own((edges.repartition(n_part, "src") if n_part
                        else edges.repartition("src")).persist())


def cooccurrence_pairs(df: DataFrame, group_col: str,
                       item_col: str) -> DataFrame:
    """Unordered co-occurrence pairs (a < b) of items sharing a group —
    the edge build behind co-purchase graphs and market-basket rules
    (Gelly examples build the same projection with a reduce-on-order +
    cross within group; reference flink-gelly Graph.fromDataSet usage
    in the library examples).

    ONE shuffle: groupBy(group) -> array_sort(collect_set(item)) ->
    map-side pair expansion with higher-order array functions. The
    naive self-join on the group key shuffles the input TWICE (both
    join sides) and then joins; at 10x data that build dominated
    graph_k_core's scale ratio. Output: (group, a, b), one row per
    distinct pair per group — callers .distinct() for a graph edge
    set or count for association rules.

    Skew bound: a group of B distinct items expands to B(B-1)/2 pairs
    on ONE row of the grouped table, so the group-size distribution
    bounds task skew (TPC-H orders: <= 13 lineitems; document this
    bound before reusing on power-law baskets — a 100k-item group
    would put 5e9 pairs on one task, where the self-join build, which
    spreads them, is the right tool again).
    """
    return (df.groupBy(F.col(group_col).alias("__g"))
            .agg(F.array_sort(F.collect_set(item_col)).alias("__items"))
            .select(F.col("__g").alias(group_col),
                    F.explode(pair_expand("__items")).alias("__p"))
            .select(group_col, F.col("__p.a").alias("a"),
                    F.col("__p.b").alias("b")))


def pair_expand(array_col: str):
    """Column expression: all ordered-position pairs struct(a, b) from
    a SORTED array — the map-side kernel of cooccurrence_pairs,
    exposed so callers that already hold grouped item sets (e.g.
    market-basket arrays) expand pairs with zero extra shuffles.
    Pure higher-order array functions — stays in codegen, no UDF."""
    return F.expr(
        f"flatten(transform({array_col}, (x, i) -> "
        f"transform(slice({array_col}, i + 2, size({array_col})), "
        f"y -> struct(x AS a, y AS b))))")


def pagerank(edges: DataFrame, iterations: int = 3,
             damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank: rank = (1-d) + d·Σ contrib(in-nbrs).

    edges: (src, dst) directed. Simple variant (dangling mass
    dropped), rank rounded to 9 digits per iteration for
    engine-exact replay. Each iteration: one join + one aggregate.
    """
    with _Loop() as loop:
        out_deg = loop.own(edges.groupBy(F.col("src").alias("n"))
                           .agg(F.count("*").alias("deg")).persist())
        nodes = loop.own(edges.select(F.col("src").alias("node"))
                         .union(edges.select(F.col("dst").alias("node")))
                         .distinct().persist())

        def step(ranks: DataFrame, _) -> DataFrame:
            contribs = (edges.join(ranks, edges.src == ranks.node)
                        .join(out_deg, edges.src == out_deg.n)
                        .select("dst", (F.col("rank") / F.col("deg"))
                                .alias("contrib")))
            summed = (contribs.groupBy(F.col("dst").alias("node2"))
                      .agg(F.sum(F.col("contrib").cast(DEC)).cast("double")
                           .alias("inflow")))
            return (nodes.join(summed, nodes.node == F.col("node2"), "left")
                    .select("node", F.round(F.lit(1.0) - damping + damping
                                            * F.coalesce("inflow", F.lit(0.0)),
                                            9).alias("rank")))

        # no per-round action: the driver's closing materialization
        # runs the whole chain ONCE, while out_deg/nodes are still
        # cached
        return loop.run(nodes.withColumn("rank", F.lit(1.0)), step,
                        iterations)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Count triangles — Gelly TriangleEnumerator.java re-expressed
    relationally: orient every undirected edge a<b (each triangle
    once), enumerate wedges a<b<c with one self-join, close them with
    a second. Two shuffles total; at scale, pre-filter to the
    lower-degree endpoint orientation (standard degree-ordering trick)
    to bound wedge explosion on hubs.
    """
    und = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    canon = (und.where(F.col("src") < F.col("dst"))
             .select(F.col("src").alias("a"), F.col("dst").alias("b"))
             .distinct())
    e2 = canon.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    wedges = canon.join(e2, canon.b == e2.b2)
    e3 = canon.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    closed = wedges.join(e3, (wedges.a == e3.a3) & (wedges.c == e3.c3))
    return closed.agg(F.count("*").alias("n_triangles"))


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Community detection by synchronous label propagation — Gelly's
    library algorithm (flink-gelly/.../library/LabelPropagation.java):
    every node starts with its own id as label; each round it adopts
    the MOST FREQUENT label among its neighbors, ties broken to the
    smallest label (deterministic, engine-replayable). Fixed iteration
    count so the oracle can unroll the identical rounds.

    Per round: one join (edges x labels), one (node, label) count with
    map-side partial aggregation, one per-node top-1 window — the
    DataSet.iterate superstep shape, lineage truncated per round
    (_superstep). Shuffle volume per round is |E| label pairs.

    Simple-graph semantics: the undirected edge set is DISTINCT-ed, so
    parallel edges do not weight a neighbor's label frequency. Gelly
    sends one message per edge (multigraph multiplicity counts); this
    matches the repo's SQL oracle instead (UNION dedupes) — alongside
    the smallest-label tie-break, the documented deviation.
    """
    und = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"),
                     F.col("src").alias("dst"))).distinct()

    def step(labels: DataFrame, _) -> DataFrame:
        freq = (und.join(labels, und.dst == labels.node)
                .groupBy(F.col("src").alias("n2"), "lbl")
                .agg(F.count("*").alias("c")))
        rn = F.row_number().over(
            Window.partitionBy("n2").orderBy(F.desc("c"), "lbl"))
        return (freq.withColumn("rn", rn).where(F.col("rn") == 1)
                .select(F.col("n2").alias("node"), "lbl"))

    with _Loop() as loop:
        return loop.run(und.select(F.col("src").alias("node")).distinct()
                        .withColumn("lbl", F.col("node")), step, iterations)


def salted_wedge_pairs(df: DataFrame, center: str, endpoint: str,
                       cap: int = 2048) -> DataFrame:
    """Wedge enumeration with hub salting: one row per (unordered
    endpoint pair, shared center vertex) — columns (a, b, center,
    center_degree), a < b.

    The naive self-join keyed by the center puts ALL d^2 candidate
    pairs of a degree-d hub on one task. Gelly caps this with
    adjacency-group splitting (flink-gelly/.../library/similarity/
    JaccardIndex.java — its GenerateGroupSpans/setGroupSize machinery);
    the Spark-first equivalent here is a bucket-pair block join: each
    (center, endpoint) row hashes into one of nb = ceil(d / cap)
    buckets, the left side replicates to block keys (i, j>=i) and the
    right to (i<=j, j), and the join shuffles on (center, i, j) — so a
    task sees at most ~cap^2 candidates and a hub's pair space spreads
    over nb(nb+1)/2 tasks. Same total work, no single-task hotspot.

    Pair-once proof: endpoints live in fixed buckets (hash of the
    value), so an unordered pair {x, y} with buckets bi < bj matches
    exactly the (bi, bj) block in exactly one orientation; equal
    buckets match both orientations and the va < vb predicate keeps
    one. Assumes a simple graph: (center, endpoint) rows are distinct.

    At testdata degrees nb == 1, so the plan degenerates to the plain
    wedge self-join; the cap path is pinned by tests with tiny caps.
    """
    e = df.select(F.col(center).alias("c"), F.col(endpoint).alias("v"))
    cdeg = e.groupBy("c").agg(F.count("*").alias("cd"))
    ann = (e.join(cdeg, "c")
           .withColumn("nb", F.greatest(
               F.lit(1), F.ceil(F.col("cd") / cap)).cast("int"))
           .withColumn("bk", F.pmod(F.xxhash64("v"),
                                    F.col("nb")).cast("int")))
    left = ann.select(
        "c", "cd", F.col("v").alias("va"), F.col("bk").alias("i"),
        F.explode(F.sequence(F.col("bk"), F.col("nb") - 1)).alias("j"))
    right = ann.select(
        F.col("c").alias("c2"), F.col("v").alias("vb"),
        F.explode(F.sequence(F.lit(0), F.col("bk"))).alias("i2"),
        F.col("bk").alias("j2"))
    pairs = left.join(
        right,
        (left.c == right.c2) & (left.i == right.i2)
        & (left.j == right.j2)
        & ((left.i < left.j) | (left.va < right.vb)))
    return pairs.select(
        F.least("va", "vb").alias("a"),
        F.greatest("va", "vb").alias("b"),
        F.col("c").alias("center"),
        F.col("cd").alias("center_degree"))


def hits(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """HITS (hubs & authorities) — Gelly's link-analysis library
    algorithm (flink-gelly/.../library/linkanalysis/HITS.java:66):
    authority(v) = sum of hub over in-neighbors, hub(v) = sum of
    authority over out-neighbors, each score vector L2-normalized
    per iteration. Fixed iteration count; every reduction is a
    DECIMAL sum and every iterate rounds (12 dp raw / 9 dp
    normalized), so the trajectory replays bit-exactly in the SQL
    oracle. Returns (node, hub, authority).

    Scale: per iteration two |E|-row join+aggregate stages and two
    1-row L2 norms broadcast back — the same superstep shape as
    pagerank; no .collect(), lineage truncated per round.

    Loop parallelism derives from the INPUT's size (_loop_edges, the
    stats-derived width every frontier loop shares, guide §2.2):
    without it every one of the six phase joins/aggregates inherited
    the session shuffle width — 32-task stages over a 1.3k-edge graph,
    pure scheduler overhead (measured 3.9 -> 2.4s best-of-7 at sf0.1
    from the width + the edge persist). The edge table is also
    persisted: each phase otherwise re-plans the full scan+union
    subtree, six scans of the fact tables per call. At 100 TB the
    stats-derived width keeps the loop thousands of partitions wide
    and the persist holds one |E|-row table that six consumers reuse.
    The edge cache, the checkpointed start state and every phase but
    the last are released on exit, on error too; the caller's
    ``edges`` frame is never unpersisted.

    One superstep is one phase, so the loop runs 2 x ``iterations``
    rounds over ONE state frame (node, hub, auth): a phase recomputes
    the score the previous phase did not (the state's last column
    names the one it did) and carries the other along, so the last
    state already holds the final hub and authority side by side —
    no closing join.
    """
    with _loop_edges(edges) as edges, _Loop() as loop:
        def phase(scores: DataFrame, _) -> DataFrame:
            score_col = scores.columns[-1]
            out_col, edge_from, edge_to = (
                ("auth", "src", "dst") if score_col == "hub"
                else ("hub", "dst", "src"))
            raw = (edges.join(scores, edges[edge_from] == scores.node)
                   .groupBy(F.col(edge_to).alias("n2"))
                   .agg(F.round(F.sum(F.col(score_col).cast(DEC)), 12)
                        .cast("double").alias("raw")))
            filled = (scores.join(raw, scores.node == F.col("n2"), "left")
                      .select("node", score_col,
                              F.coalesce("raw", F.lit(0.0)).alias("raw")))
            nrm = filled.agg(
                F.round(F.sqrt(F.round(F.sum(
                    (F.col("raw") * F.col("raw")).cast(DEC)), 12)
                    .cast("double")), 12).alias("nrm"))
            return (filled.crossJoin(F.broadcast(nrm))
                    .select("node", score_col,
                            F.round(F.col("raw") / F.col("nrm"), 9)
                            .alias(out_col)))

        start = loop.own(_superstep(
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node"))).distinct()
            .select("node", F.lit(1.0).alias("auth"),
                    F.lit(1.0).alias("hub"))))
        out = loop.run(start, phase, 2 * iterations)
    return out.select("node", "hub", F.col("auth").alias("authority"))


def summarize(edges: DataFrame, groups: DataFrame) -> dict:
    """Graph summarization — Gelly's Summarization library algorithm
    (flink-gelly/.../library/Summarization.java:70): collapse every
    vertex into its group value; emit one summary vertex per group
    with its member count and one summary edge per (source group,
    target group) with the count of original edges it represents.

    groups: (node, grp). Returns {'vertices': DF(grp, n_members),
    'edges': DF(src_grp, dst_grp, n_edges)} — two broadcast joins
    (the group map is vertex-sized but grp cardinality is small;
    at 100 TB keep it a plain shuffle join if the map outgrows
    broadcast) and two aggregates.
    """
    vertices = groups.groupBy("grp").agg(F.count("*").alias("n_members"))
    g1 = groups.select(F.col("node").alias("ns"), F.col("grp").alias("src_grp"))
    g2 = groups.select(F.col("node").alias("nd"), F.col("grp").alias("dst_grp"))
    sedges = (edges.join(g1, edges.src == F.col("ns"))
              .join(g2, edges.dst == F.col("nd"))
              .groupBy("src_grp", "dst_grp")
              .agg(F.count("*").alias("n_edges")))
    return {"vertices": vertices, "edges": sedges}


def pregel(edges: DataFrame, initial: DataFrame, send_msg,
           merge_msg, update, max_iter: int = 20,
           algo: str = "pregel") -> DataFrame:
    """Vertex-centric (Pregel / scatter-gather) iteration — the
    abstraction Gelly's library algorithms are built ON
    (flink-gelly/.../pregel/VertexCentricIteration.java:88 and
    spi/ScatterGatherIteration.java:90), re-expressed as a
    frontier-delta DataFrame loop.

    edges   : (src, dst, ...payload) directed.
    initial : (node, value) — the initially-active vertex set.
    send_msg: Column over the scatter join (edge payload columns +
              the source vertex's `value`) — the message sent to dst.
    merge_msg: aggregation fn, e.g. ``lambda c: F.min(c)`` — the
              combiner applied per destination (runs map-side too).
    update  : fn(old_value, merged_msg) -> new value Column; old is
              NULL on first activation. Invoked ONLY for vertices
              whose merged inbox is non-null (the Pregel contract:
              compute() runs where messages arrived); a vertex with
              no inbound message keeps its old value untouched, so
              non-null-identity updates (sum-accumulate, last-writer)
              are safe. Messages themselves must be non-null — a
              null merged message is indistinguishable from "no
              message" and is treated as such.
    Per superstep: ONLY vertices whose value changed scatter (the
    delta-iteration workset contract, DataSet.iterateDelta /
    DataSet.java:1179) — one |frontier-out-edges| join + one
    combiner-aggregated shuffle + one state merge; lineage truncated
    per round. Terminates when the frontier empties (or max_iter,
    loudly).

    The loop state is the round's merge, (node, __old, value): the
    frontier is its changed rows, so the driver's fixpoint check — one
    ``limit(1)`` count per round — is the frontier-empty test. The
    start state has a NULL ``__old``, so every initial vertex scatters.
    """
    def changed(merged: DataFrame) -> DataFrame:
        return (merged.where(F.col("__old").isNull()
                             | (F.col("value") != F.col("__old")))
                .select(F.col("node").alias("__s"), "value"))

    def step(merged: DataFrame, _) -> DataFrame:
        msgs = (edges.join(changed(merged), edges.src == F.col("__s"))
                .select(F.col("dst").alias("node"),
                        send_msg.alias("msg")))
        inbox = msgs.groupBy("node").agg(merge_msg(F.col("msg"))
                                         .alias("msg"))
        return (merged.select("node", "value")
                .join(inbox, "node", "full")
                .select("node",
                        F.col("value").alias("__old"),
                        F.when(F.col("msg").isNull(), F.col("value"))
                        .otherwise(update(F.col("value"), F.col("msg")))
                        .alias("value")))

    start = initial.select("node", F.lit(None).alias("__old"), "value")
    with _Loop() as loop:
        out = loop.run(start, step, max_iter, algo=algo,
                       pending=lambda m: changed(m).limit(1).count())
    return out.select("node", "value")


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Min-label connected components — Gelly ConnectedComponents as
    one ``pregel`` call: each vertex starts with its own id, scatters
    it along the undirected edges and keeps the minimum it hears; only
    changed vertices scatter next round (the iterateDelta workset).

    edges: (src bigint, dst bigint), treated as undirected. Returns
    (node, component = min node id reachable). Initial labels come
    from the cached edge frame, so the distinct reads the cache.
    """
    und = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    with _loop_edges(und) as e:
        initial = (e.select(F.col("src").alias("node")).distinct()
                   .withColumn("value", F.col("node")))
        out = pregel(e, initial, send_msg=F.col("value"), merge_msg=F.min,
                     update=F.least, max_iter=max_iter,
                     algo="connected_components")
    return out.select("node", F.col("value").alias("component"))


def k_core_pairs(pairs: DataFrame, k: int, max_iter: int = 30) -> DataFrame:
    """k-core for a fixed k: peel vertices of in-subgraph degree < k
    to a fixpoint — Gelly's vertex-removal pattern (filterOnVertices
    under DataSet.iterateDelta, DataSet.java:1179). Degrees aggregate
    once; each round decrements survivors by the edges incident to
    the peeled delta, so the final counters ARE the in-core degrees.
    Returns (node, core_degree) for the k-core's vertices.

    ``pairs`` is the HALF-representation: each undirected edge ONCE
    as (a, b), already distinct — |E| checkpointed rows instead of
    2|E| (that write dominated the full-orientation form's 10x cost).

    Per-round work, minimized two ways vs the r12 shape:

    - ONE pass over the cached half-edge list per round: both
      orientations come out of a single explode scan probed against
      the broadcast peel delta (the r12 shape ran two separate
      broadcast joins — two full cache scans — for the same 2|E|
      probes). The |E| cache scan is the dominant linear cost of a
      round, so this halves it.
    - The per-round driver action is FOLDED into the peel: a peel is
      idempotent past its fixpoint (removing nothing decrements
      nothing), so the driver chains up to ``peels_per_check`` = 4
      rounds LAZILY (_superstep eager=False keeps each round's plan
      flat) and ONE count after the batch both materializes the whole
      chain and answers the convergence question (``_Loop.run``'s
      ``batch``). Speculative rounds inside a batch never see an
      exact delta size, so they only run while the PROVABLE bound
      fits the broadcast budget: a peeled vertex has in-subgraph
      degree < k, so the next delta — a subset of the peeled set's
      alive neighbors — has at most |delta| * (k-1) rows. Batch
      entry sizes are exact (counted at the previous check, the
      first one before round 1); a first round that peels half the
      graph shuffle-joins instead of broadcasting, alone in its batch.

    Trailing speculative rounds past the fixpoint are no-ops (empty
    build side; AQE's empty-relation propagation skips the edge
    scan), costing only the |V_alive| degree-table rewrite — which is
    exactly what lets the SQL oracle unroll a fixed round count.
    """
    broadcast_rows, peels_per_check, grow = 5_000_000, 4, max(k - 1, 1)

    def below(deg: DataFrame) -> DataFrame:
        return deg.where(F.col("d") < k).select("node")

    def batch(n: int) -> int:
        # the exact count n, then n * (k-1)^j bounds the j-th
        # speculative delta: chain rounds while it fits the broadcast
        return 1 + sum(n * grow ** j <= broadcast_rows
                       for j in range(1, peels_per_check))

    with _Loop() as loop:
        pairs = loop.own(_superstep(pairs.select("a", "b")))

        def peel(deg: DataFrame, n: int) -> DataFrame:
            # single scan of the half cache: explode both orientations,
            # probe the peel delta, count decrements per survivor
            rem = (F.broadcast(below(deg)) if n <= broadcast_rows
                   else below(deg))
            exp = (pairs.select(F.explode(F.array(
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
            )).alias("e")).select("e.u", "e.v"))
            dec = (exp.join(rem, exp.u == rem.node)
                   .groupBy(F.col("v").alias("node"))
                   .agg(F.count("*").alias("__dec")))
            return (deg.where(F.col("d") >= k)
                    .join(dec, "node", "left")
                    .select("node", (F.col("d") - F.coalesce(
                        F.col("__dec"), F.lit(0))).alias("d")))

        deg = loop.own(_superstep(
            pairs.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node").agg(F.count("*").alias("d"))))
        out = loop.run(deg, peel, max_iter, algo="k_core",
                       pending=lambda deg: below(deg).count(), batch=batch)
    return out.select("node",
                      F.col("d").cast("bigint").alias("core_degree"))
