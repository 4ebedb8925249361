"""Graph operators over edge DataFrames (SURVEY §2.10 M6 + the dedup
clustering completion).

Reference citations:
- M6 neighborhood subgraph — algorithms/graph/light/proximity_graph.py:70-120
  (NetworkX ego-graph on the driver; here: iterative frontier expansion
  over the edge DataFrame — distributed, any graph size).

connected_components implements iterative min-label propagation — the
exact clustering that representative-based dedup approximates. Each
iteration is one join + one aggregation (the simple variant of the
large-star/small-star map-reduce CC algorithm); iterations ≈ graph
diameter, convergence detected via a cheap change-count.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    fwd = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    return fwd.unionAll(fwd.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()


def _release(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Unpersist the checkpoint under each of ``frames`` that ``result``
    does not read; return ``result``. Unreleased, a checkpoint lives until
    Python GC happens to let Spark's ContextCleaner reclaim it."""

    def rdd(plan):  # a checkpoint's plan is a LogicalRDD over its RDD
        return plan.rdd() if plan.getClass().getSimpleName() == "LogicalRDD" else None

    leaves = result._jdf.queryExecution().logical().collectLeaves()
    read = {rdd(leaves.apply(i)) for i in range(leaves.size())}
    read = {r.id() for r in read if r is not None}
    for df in frames:
        r = rdd(df._jdf.queryExecution().logical())
        if r is not None and r.id() not in read:
            r.unpersist(False)
    return result


def _iterate(
    state: DataFrame, step: Callable, max_iter: int, converged: Callable | None = None
) -> DataFrame:
    """The fixpoint loop of every iterative operator here: ``state =
    step(state, i)`` for i < max_iter, each round localCheckpoint'ed so
    lineage stays one round deep; returns the last round.

    With a ``converged(state, i)`` probe, rounds are checkpointed eagerly
    FIRST and probed materialized (probing the raw plan runs the round
    twice); True stops the loop. Without one, rounds are checkpointed
    lazily (no eager job per round) and the last one eagerly. A round is
    released once a later one is materialized, not before: under AQE a
    lazy checkpoint runs its shuffle stages but never becomes
    isCheckpointed(), so later rounds may recompute through it. The
    initial state is the caller's and is never released."""
    earlier: list[DataFrame] = []
    for i in range(max_iter):
        eager = converged is not None or i == max_iter - 1
        state = step(state, i).localCheckpoint(eager=eager)
        stop = converged is not None and converged(state, i)
        if eager:  # state is marked checkpointed: no earlier round is read
            _release(state, *earlier)
            earlier = []
        earlier.append(state)
        if stop:
            break
    return state


def k_hop_neighborhood(
    edges: DataFrame,
    start_ids: list,
    hops: int = 1,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """M6 — node ids within ``hops`` undirected hops of the start set.
    Output: (node, hop) with the minimal hop distance (start nodes = 0).
    Each hop is one broadcast-able join of the (small) frontier — the
    visited rows at hop h-1 — against the edge list."""
    # materialize the symmetric edge list ONCE: it sits inside every
    # hop's join, and its distinct carries a shuffle — without the
    # checkpoint the whole union+distinct re-executes per hop
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)

    def step(visited: DataFrame, i: int) -> DataFrame:
        frontier = visited.filter(F.col("hop") == i).select(F.col("node").alias("s"))
        new_nodes = (
            und.join(F.broadcast(frontier), "s")
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        # new rows first: the probe finds them in the leading partition
        return new_nodes.withColumn("hop", F.lit(i + 1)).unionAll(visited)

    visited = _iterate(
        edges.sparkSession.createDataFrame(
            [(i, 0) for i in start_ids], "node long, hop int"
        ),
        step,
        hops,
        converged=lambda v, i: v.filter(F.col("hop") == i + 1).isEmpty(),
    )
    return _release(visited, und)


def neighborhood_subgraph(
    edges: DataFrame,
    start_ids: list,
    hops: int = 1,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """M6 — the induced edge set among the k-hop neighborhood (the
    reference's ego-graph, proximity_graph.py:70-120)."""
    nodes = k_hop_neighborhood(edges, start_ids, hops, src, dst).select("node")
    return (
        edges.join(F.broadcast(nodes.withColumnRenamed("node", src)), src, "left_semi")
        .join(F.broadcast(nodes.withColumnRenamed("node", dst)), dst, "left_semi")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    method: str = "label",
) -> DataFrame:
    """Connected components. Output: (node, component) with component =
    min node id in the component.

    method='label' (default): min-label propagation — every node starts
    labeled with its own id; each iteration assigns min(own, neighbors')
    label; stop when no label changes. One shuffle join + one groupBy per
    iteration, iterations ≈ component DIAMETER. Near-dup clusters are
    tiny-diameter, so 2-3 iterations in the dedup use case — the right
    default there.

    method='star': alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) —
    O(log² n) rounds on ANY graph shape, each round two combiner-friendly
    groupBy-min + equi-join passes over the edge list (no per-node
    windows — see _connected_components_star). The 100 TB path when
    components can be long chains (e.g. transitive URL redirects,
    co-citation graphs) where label propagation would need diameter≈n
    iterations.
    """
    if method == "star":
        return _connected_components_star(edges, src, dst, max_iter)
    # materialize the symmetric edge list ONCE: the caller's edge lineage
    # is typically an expensive candidate-pair plan (n-gram Jaccard
    # inverted-index self-join, LSH banding) that every round joins
    # (measured 30-40s -> 9s on dedup_leakage_safe_split at sf0.001).
    # Tagged self-loops make the update ONE join + ONE map-side-combinable
    # groupBy: min over Γ(v) ∪ {v} of labels IS the new label, and the
    # self row's label recovers the old one for the change flag.
    und = _undirected(edges, src, dst)
    nodes = und.select(F.col("s").alias("node")).distinct()
    ej = (
        und.select("s", "d", F.lit(False).alias("__self"))
        .unionAll(
            nodes.select(
                F.col("node").alias("s"),
                F.col("node").alias("d"),
                F.lit(True).alias("__self"),
            )
        )
        .localCheckpoint(eager=True)
    )

    def step(labels: DataFrame, _: int) -> DataFrame:
        return (
            ej.join(labels.select(F.col("node").alias("d"), "component"), "d")
            .groupBy(F.col("s").alias("node"))
            .agg(
                F.min("component").alias("component"),
                # the old label rides the tagged self row — no second
                # join; label changed iff the new min is strictly smaller
                F.min(F.when(F.col("__self"), F.col("component"))).alias("__old"),
            )
            .select(
                "node",
                "component",
                (F.col("component") < F.col("__old")).alias("__chg"),
            )
        )

    labels = _iterate(
        ej.filter("__self").select(
            F.col("s").alias("node"), F.col("s").alias("component")
        ),
        step,
        max_iter,
        converged=lambda lab, _: lab.filter(F.col("__chg")).limit(1).isEmpty(),
    )
    return _release(labels.select("node", "component"), ej)


def _connected_components_star(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Alternating large-star/small-star CC (Kiveris 2014 §3).

    Each round:
      large-star — for every node u with neighborhood Γ(u) in the
        symmetric edge set, connect each strictly-larger neighbor v>u to
        m = min(Γ(u) ∪ {u}).
      small-star — direct each edge from its larger endpoint to the
        smaller; for every node u, connect u and its smaller neighbors
        to their minimum.
    Both stars compute a per-node neighbor minimum as a PARTIAL-AGGREGABLE
    groupBy-min joined back onto the edges (map-side combine) — not a
    window over the node: hub nodes in near-dup graphs have corpus-sized
    neighbor lists (a boilerplate clique makes every member a hub), and a
    window would buffer one whole hot partition per task. A round is two
    grouped shuffles + two co-partitioned equi-joins of O(E) rows.
    Convergence: the canonical edge multiset stops changing, detected by
    an order-insensitive (count, xor-of-hashes) fingerprint (ANSI-safe
    — a SUM of xxhash64 overflows long under Spark 4 ANSI mode) — one cheap
    action per round. At the fixpoint the edge set is a star forest:
    every node points at its component minimum.
    """
    nodes = (
        _undirected(edges, src, dst).select(F.col("s").alias("node")).distinct()
    )
    # canonical (hi, lo) pairs, self-loops dropped
    e0 = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
            F.least(F.col(src), F.col(dst)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def fingerprint(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(hi, lo))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    fp = fingerprint(e0)

    def unchanged(e: DataFrame, _: int) -> bool:
        nonlocal fp
        prev, fp = fp, fingerprint(e)
        return fp == prev

    def step(e: DataFrame, _: int) -> DataFrame:
        # ---- large-star over the symmetric neighborhood
        sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionAll(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("__mn"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("hi"),
                F.least(F.col("__mn"), F.col("u")).alias("lo"),
            )
        )
        # ---- small-star over larger→smaller directed edges
        lsd = ls.filter(F.col("hi") != F.col("lo")).distinct()
        mins2 = lsd.groupBy("hi").agg(F.min("lo").alias("m"))
        return (
            lsd.join(mins2, "hi")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("hi").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("lo").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("hi"), F.col("e.b").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )

    e = _iterate(e0, step, max_iter, converged=unchanged)
    # star forest → labels; roots never appear as 'hi', so coalesce to self
    comp = e.groupBy(F.col("hi").alias("node")).agg(F.min("lo").alias("__c"))
    return _release(
        nodes.join(comp, "node", "left").select(
            "node", F.coalesce("__c", F.col("node")).alias("component")
        ),
        e0,
    )


def dedup_clusters_exact(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Exact near-dup clustering from a pair list (e.g. minhash_lsh_pairs
    output): connected components over the pair graph. Output:
    (node, component); survivors = rows where node == component."""
    return connected_components(pairs, id_a, id_b)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: tuple[int, int] = (85, 100),
    scale: int = 10**12,
) -> DataFrame:
    """PageRank (Brin & Page 1998) over a directed edge DataFrame, in
    FIXED-POINT integer arithmetic. Output: (node, rank_scaled BIGINT)
    where rank_scaled ≈ rank · scale; nodes = every distinct endpoint.

    Web-corpus curation use: rank domains/URLs by link authority so the
    admission pipeline (web.domain_cap, url_dedup_incremental) can prefer
    authoritative sources — the classic quality prior for crawl data.

    Why integers: per-edge contributions are r(u) div deg(u) (floor) and
    every update is integer ops, so the shuffled SUMs are associative and
    order-independent — a DuckDB oracle replays the whole iteration
    bit-for-bit (float PageRank can't hash-match across engines: partial
    aggregation order perturbs the low bits). floor-division mass leakage
    per node per iteration is < deg(u)/scale ≈ 1e-12 — far below the
    estimator's own damped-iteration truncation error at iters=10.

    Update (all integer):
        share(u)   = r_t(u) div deg(u)                (per-node, once)
        contrib(v) = Σ_{u→v} share(u)                 (edge join + groupBy)
        D          = Σ_{deg(u)=0} r_t(u)              (dangling mass)
        r_{t+1}(v) = base + d_num·(contrib(v) + D div N) div d_den
        base       = ((d_den − d_num)·scale div d_den) div N

    Plan shape at 100 TB: the edge list and out-degrees are materialized
    ONCE (localCheckpoint, the iterative-algorithm shape shared with
    connected_components); each iteration is ONE equi-join of the edge
    list onto the share frame plus ONE map-side-combinable groupBy(dst)
    sum, ONE join of the degree table onto the aggregated contributions
    and a broadcast 1-row dangling-mass aggregate — no windows, no cross
    products. The rank frame CARRIES the static out-degree, so there is
    no per-iteration ranks⋈degrees join. Rounds run through _iterate:
    lazily localCheckpoint'ed (lineage one round deep, no eager
    per-round job), the last one eagerly. Skewed in-degree
    (hub pages) is a groupBy-sum, which AQE + partial aggregation absorb
    (combiner shrinks hot keys map-side). iters is fixed (no convergence
    action): PageRank error decays as d^t, so t=10 at d=0.85 gives ~0.2%
    — the usual production setting."""
    d_num, d_den = damping
    if not (0 < d_num < d_den):
        raise ValueError(f"damping must be a proper fraction, got {damping}")
    fwd = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).localCheckpoint(
        eager=True
    )
    # node frame with out-degree (0 = dangling), reused every iteration:
    # distinct-nodes and out-degree come out of ONE groupBy (union tags
    # src rows 1, dst rows 0; the sum of tags IS the out-degree and
    # grouping IS the distinct)
    nd = (
        fwd.select(F.col("s").alias("node"), F.lit(1).alias("__one"))
        .unionAll(fwd.select(F.col("d").alias("node"), F.lit(0).alias("__one")))
        .groupBy("node")
        .agg(F.sum("__one").cast("long").alias("__deg"))
        .localCheckpoint(eager=True)
    )
    n = nd.count()
    if n == 0:
        return _release(
            nd.select("node", F.lit(0).cast("long").alias("rank_scaled")), fwd, nd
        )
    base = ((d_den - d_num) * scale // d_den) // n

    # ranks carries __deg (static per node): no per-iteration ranks ⋈
    # degrees join; the share projection and the dangling broadcast both
    # read the previous round's checkpointed rows
    def step(ranks: DataFrame, _: int) -> DataFrame:
        shares = ranks.filter(F.col("__deg") > 0).select(
            F.col("node").alias("s"), F.expr("rank_scaled div __deg").alias("__v")
        )
        contrib = (
            fwd.join(shares, "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum("__v").alias("__contrib"))
        )
        # 1-row dangling share over the MATERIALIZED rank frame
        dang = (
            ranks.filter(F.col("__deg") == 0)
            .agg(F.coalesce(F.sum("rank_scaled"), F.lit(0)).alias("__d"))
            .select(F.expr(f"__d div {n}").alias("__dang_share"))
        )
        return (
            nd.join(contrib, "node", "left")
            .join(F.broadcast(dang))
            .select(
                "node",
                "__deg",
                (
                    F.lit(base)
                    + F.expr(
                        f"({d_num} * (coalesce(__contrib, 0L) + __dang_share))"
                        f" div {d_den}"
                    )
                ).cast("long").alias("rank_scaled"),
            )
        )

    ranks = _iterate(
        nd.select("node", "__deg", F.lit(scale // n).cast("long").alias("rank_scaled")),
        step,
        iters,
    )
    return _release(ranks.select("node", "rank_scaled"), fwd, nd)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    scale: int = 10**9,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed edge
    DataFrame, in FIXED-POINT integer arithmetic. Output:
    (node, hub_scaled, authority_scaled), each score ≈ score · scale,
    L1-normalized per phase (Σ = scale up to floor loss).

    Web-corpus curation use: the complement of :func:`pagerank` —
    authority flags pages many good hubs point AT (quality prior), hub
    flags pages that point at many authorities (directories and, at the
    adversarial extreme, link farms worth down-weighting).

    Why integers: same rationale as pagerank — every mutual-reinforcement
    update a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v} a(v) is an integer SUM
    (order-independent), and each L1 normalization is one integer
    x·scale div Σ projection, so a DuckDB oracle replays all iterations
    bit-for-bit. scale=1e9 keeps every product under int64: a raw sum is
    ≤ Σh = scale, so x·scale ≤ 1e18 < 2^63.

    Plan shape at 100 TB: per iteration TWO edge equi-joins + TWO
    map-side-combinable groupBy sums + two 1-row totals — no windows, no
    cross products beyond the broadcast 1-row normalizers; lineage
    truncated per iteration (the iterative shape shared with pagerank
    and connected_components)."""
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    fwd = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).localCheckpoint(
        eager=True
    )
    nodes = (
        fwd.select(F.col("s").alias("node"))
        .unionAll(fwd.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the count is the node frame's first reader: it materializes the lazy
    # checkpoint, with no separate eager job
    n = nodes.count()
    if n == 0:
        zero = F.lit(0).cast("long")
        out = nodes.select("node", zero.alias("hub_scaled"), zero.alias("authority_scaled"))
        return _release(out, fwd, nodes)

    def phase(scores: DataFrame, via: str, to: str, out: str, dense: bool) -> DataFrame:
        """One phase: raw(x) = Σ ``scores`` over the edges whose ``to`` end
        is x, joined on their ``via`` end; then (raw*scale) div Σraw.
        dense=True left-joins from the full node frame (zero-score nodes
        included — the output contract and the oracle's CTE shape).
        Mid-loop frames stay SPARSE: a zero-score node adds exactly 0 to
        the next phase's SUM whether present or absent, so the O(V) nodes
        LEFT JOIN is needed only on the final round."""
        raw = (
            fwd.join(scores.toDF(via, "__x"), via)
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum("__x").alias("__raw"))
        )
        tot = raw.agg(F.coalesce(F.sum("__raw"), F.lit(1)).alias("__tot"))
        side = nodes.join(raw, "node", "left") if dense else raw
        return side.join(F.broadcast(tot)).select(
            "node",
            F.expr(f"(coalesce(__raw, 0L) * {scale}) div __tot")
            .cast("long")
            .alias(out),
        )

    # a round: authorities a(v) = Σ_{u→v} h(u), then hubs h(u) = Σ_{u→v} a(v)
    hubs = _iterate(
        nodes.select("node", F.lit(scale // n).cast("long").alias("h")),
        lambda h, _: phase(phase(h, "s", "d", "a", False), "d", "s", "h", False),
        iters - 1,
    )
    # the final round is dense, and the output reads both of its frames
    auths = phase(hubs, "s", "d", "a", dense=True).localCheckpoint(eager=True)
    last = phase(auths, "d", "s", "h", dense=True).localCheckpoint(eager=True)
    return _release(
        last.join(auths, "node").select(
            "node",
            F.col("h").alias("hub_scaled"),
            F.col("a").alias("authority_scaled"),
        ),
        fwd,
        nodes,
        hubs,
    )
