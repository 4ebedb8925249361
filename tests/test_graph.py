"""Graph operator tests: k-hop neighborhoods, connected components,
exact dedup clustering over MinHash pair output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from workbench_spark.session import get_spark

    return get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})


@pytest.fixture(scope="session")
def chain_edges(spark):
    # two components: a chain 0-1-2-3-4 and a triangle 10-11-12
    rows = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10)]
    return spark.createDataFrame(rows, "src long, dst long")


def test_k_hop_neighborhood(spark, chain_edges):
    from workbench_spark.operators.graph import k_hop_neighborhood

    out = {r["node"]: r["hop"] for r in k_hop_neighborhood(chain_edges, [0], hops=2).collect()}
    assert out == {0: 0, 1: 1, 2: 2}
    full = {r["node"] for r in k_hop_neighborhood(chain_edges, [0], hops=10).collect()}
    assert full == {0, 1, 2, 3, 4}  # stops at the component boundary


def test_neighborhood_subgraph(spark, chain_edges):
    from workbench_spark.operators.graph import neighborhood_subgraph

    sub = {(r["src"], r["dst"]) for r in neighborhood_subgraph(chain_edges, [0], hops=2).collect()}
    assert sub == {(0, 1), (1, 2)}


def test_connected_components(spark, chain_edges):
    from workbench_spark.operators.graph import connected_components

    cc = {r["node"]: r["component"] for r in connected_components(chain_edges).collect()}
    assert all(cc[n] == 0 for n in (0, 1, 2, 3, 4))
    assert all(cc[n] == 10 for n in (10, 11, 12))


def test_exact_dedup_clusters_from_minhash(spark):
    from workbench_spark.operators.dedup import minhash_lsh_pairs
    from workbench_spark.operators.graph import dedup_clusters_exact

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, n_hashes=64, bands=16, verify_threshold=0.6)
    clusters = dedup_clusters_exact(pairs)
    rows = clusters.collect()
    by_node = {r["node"]: r["component"] for r in rows}
    # component labels are the min id of each cluster and transitive:
    # every paired doc shares its component with its partner
    for p in pairs.collect():
        assert by_node[p["id_a"]] == by_node[p["id_b"]]
        assert by_node[p["id_a"]] <= min(p["id_a"], p["id_b"])


def test_connected_components_star_matches_label(spark, chain_edges):
    from workbench_spark.operators.graph import connected_components

    star = {
        r["node"]: r["component"]
        for r in connected_components(chain_edges, method="star").collect()
    }
    label = {
        r["node"]: r["component"] for r in connected_components(chain_edges).collect()
    }
    assert star == label


def test_connected_components_star_random_graph(spark):
    """Star CC ≡ ground-truth union-find on a seeded random graph."""
    import random

    from workbench_spark.operators.graph import connected_components

    rng = random.Random(42)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [e for e in edges if e[0] != e[1]]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {}
    for a, b in edges:
        truth[a] = find(a)
        truth[b] = find(b)

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, method="star", max_iter=30).collect()
    }
    assert got == truth


def test_connected_components_star_long_chain(spark):
    """A 64-node path: diameter 63, label propagation would need ~63
    rounds; star must finish well inside max_iter=10 (O(log^2 n))."""
    from workbench_spark.operators.graph import connected_components

    edges = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = connected_components(df, method="star", max_iter=10)
    assert {r["component"] for r in got.collect()} == {0}
    assert got.count() == 64


def _pagerank_py(edges, iters=10, d_num=85, d_den=100, scale=10**12):
    """Pure-Python twin of graph.pagerank's fixed-point iteration."""
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    base = ((d_den - d_num) * scale // d_den) // n
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0 for v in nodes}
        for s, d in edges:
            contrib[d] += r[s] // deg[s]
        dang = sum(r[v] for v in nodes if deg.get(v, 0) == 0)
        r = {v: base + (d_num * (contrib[v] + dang // n)) // d_den for v in nodes}
    return r


def test_pagerank_matches_python_replay_exactly(spark):
    """Fixed-point integer arithmetic means the distributed result is
    BIT-IDENTICAL to a sequential replay — no float-order tolerance."""
    from workbench_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (1, 4)]  # 4 = dangling
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_scaled"] for r in pagerank(df, iters=10).collect()}
    assert got == _pagerank_py(edges)


def test_pagerank_mass_conserved_and_hub_ranks_highest(spark):
    from workbench_spark.operators.graph import pagerank

    # star: every spoke points at the hub; hub points at spoke 1
    edges = [(i, 99) for i in range(1, 20)] + [(99, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = pagerank(df, iters=10).collect()
    ranks = {r["node"]: r["rank_scaled"] for r in rows}
    # the hub and its sole out-target trade the bulk of the mass each
    # iteration (hub dumps everything to spoke 1) — both must dominate
    # every other spoke
    top2 = sorted(ranks, key=ranks.get)[-2:]
    assert set(top2) == {99, 1}
    other = max(v for k, v in ranks.items() if k not in (99, 1))
    assert min(ranks[99], ranks[1]) > 3 * other
    # total mass stays ~ scale (floor-division leakage < n*iters ulps)
    assert abs(sum(ranks.values()) - 10**12) < 10**6


def test_pagerank_partition_invariance(spark):
    """Shuffle layout must not change a single bit of the result."""
    from workbench_spark.operators.graph import pagerank

    edges = [(i, (i * 7 + 3) % 40) for i in range(40)] + [(5, 11), (11, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, pagerank(df, iters=6).collect()))
    b = sorted(map(tuple, pagerank(df.repartition(13), iters=6).collect()))
    assert a == b


def _hits_py(edges, iters=5, scale=10**9):
    """Pure-Python twin of graph.hits' fixed-point iteration."""
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    h = {v: scale // n for v in nodes}
    a = None
    for _ in range(iters):
        araw = {v: 0 for v in nodes}
        for s, d in edges:
            araw[d] += h[s]
        tot = sum(araw.values()) or 1
        a = {v: (araw[v] * scale) // tot for v in nodes}
        hraw = {v: 0 for v in nodes}
        for s, d in edges:
            hraw[s] += a[d]
        tot = sum(hraw.values()) or 1
        h = {v: (hraw[v] * scale) // tot for v in nodes}
    return {v: (h[v], a[v]) for v in nodes}


def test_hits_matches_python_replay_exactly(spark):
    from workbench_spark.operators.graph import hits

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (1, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["hub_scaled"], r["authority_scaled"])
        for r in hits(df, iters=5).collect()
    }
    assert got == _hits_py(edges)


def test_hits_identifies_planted_hub_and_authority(spark):
    from workbench_spark.operators.graph import hits

    # node 100 points at every authority 0..9; each authority also gets
    # one incidental in-link from a chain so the graph isn't bipartite
    edges = [(100, i) for i in range(10)] + [(i, i + 1) for i in range(9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = hits(df, iters=10).collect()
    hubs = {r["node"]: r["hub_scaled"] for r in rows}
    auths = {r["node"]: r["authority_scaled"] for r in rows}
    assert max(hubs, key=hubs.get) == 100
    assert hubs[100] > 2 * max(v for k, v in hubs.items() if k != 100)
    # the planted hub itself is no authority (nothing points at it)
    assert auths[100] == 0


def test_graph_ops_degenerate_inputs(spark):
    from workbench_spark.operators.graph import hits, pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty).count() == 0
    assert hits(empty).count() == 0
    with pytest.raises(ValueError, match="iters"):
        hits(spark.createDataFrame([(0, 1)], "src long, dst long"), iters=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(
            spark.createDataFrame([(0, 1)], "src long, dst long"),
            damping=(100, 100),
        )
    # self-loop-only graph: well-defined, mass conserved
    solo = pagerank(spark.createDataFrame([(7, 7)], "src long, dst long"), iters=3)
    assert {r["node"]: r["rank_scaled"] for r in solo.collect()} == {7: 10**12}


# ---------------------------------------------------------------------------
# Checkpoint release and job counts
# ---------------------------------------------------------------------------


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _rdds_read(df) -> set:
    """Ids of the checkpointed RDDs ``df``'s logical plan scans."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return {
        leaf.rdd().id()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    }


def _assert_released(spark, build, calls=3):
    """``build()`` ``calls`` times with every result kept alive: the only
    RDDs left registered are the checkpoints those results read."""
    before = _persisted(spark)
    results = [build() for _ in range(calls)]
    read = set().union(*(_rdds_read(df) for df in results))
    leaked = _persisted(spark) - before - read
    assert not leaked, f"{len(leaked)} checkpoints outlive their operator call"
    return results


def test_k_hop_releases_its_checkpoints(spark):
    from workbench_spark.operators.graph import k_hop_neighborhood

    path = spark.createDataFrame([(i, i + 1) for i in range(12)], "src long, dst long")
    (out,) = _assert_released(spark, lambda: k_hop_neighborhood(path, [0], hops=10), 1)
    assert {r["node"]: r["hop"] for r in out.collect()} == {i: i for i in range(11)}


# Spark jobs per graph registry entry at sf0.001 under this module's
# session — the builder plus one full read of the result (the
# [rows, sum xxhash64(struct)] aggregate) — as measured before the loops
# moved onto graph._iterate; the shared loop must add none
_ENTRY_JOBS = {
    "graph_pagerank_authority": 71,
    "graph_hits_hubs_authorities": 71,
    "dedup_cc_membership": 47,
    "dedup_leakage_safe_split": 50,
    "dedup_cluster_representatives": 53,
    "dedup_star_invariants": 118,
}
_RELEASE_CHECKED = {
    "graph_pagerank_authority",
    "graph_hits_hubs_authorities",
    "dedup_cc_membership",
    "dedup_leakage_safe_split",
}


@pytest.mark.parametrize("name", sorted(_ENTRY_JOBS))
def test_graph_entry_jobs_and_released_checkpoints(spark, name):
    from workbench_spark.queries import queries

    build = queries()[name]
    sc = spark.sparkContext

    def run():
        df = build(spark, SF_DIR)
        df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(F.struct(*df.columns)))).collect()
        return df

    if name in _RELEASE_CHECKED:
        _assert_released(spark, run)
    else:
        run()  # warm-up, as the job pins were measured
    group = f"test_graph:{name}"
    sc.setJobGroup(group, name)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= _ENTRY_JOBS[name], f"{name}: {jobs} jobs > {_ENTRY_JOBS[name]}"
