"""Invariant tests for dedup operators whose signatures (xxhash64) have no
DuckDB oracle: MinHash estimates must track exact Jaccard; SimHash must
catch planted near-duplicates; exact dedup must be idempotent."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

_SLOW_GATE = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SLOW_TESTS"),
    reason="by-design-slow certification tier (SPARK_GRAFT_SLOW_TESTS=1, "
    "run at round close with the other gated tiers; r16 suite-time cut — "
    "the default suite stopped fitting the driver's pytest window)",
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from workbench_spark.session import get_spark

    return get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})


@pytest.fixture(scope="session")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def docs_with_planted_dups(spark, docs):
    """Corpus + near-duplicates: copy of each doc_id<10 with a tiny edit."""
    base = docs.select("doc_id", "text")
    dups = (
        docs.filter(F.col("doc_id") < 10)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra tail token")).alias("text"),
        )
    )
    return base.unionAll(dups)


def test_minhash_estimates_track_exact_jaccard(spark, docs_with_planted_dups):
    from workbench_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    d = docs_with_planted_dups
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            d, n_hashes=64, bands=16, verify_threshold=0.3
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(d, threshold=0.3).collect()
    }
    # every planted pair must be found by LSH with 64 hashes / 16 bands
    planted = [(i, i + 1_000_000) for i in range(10)]
    for p in planted:
        assert p in est, f"planted near-dup {p} missed by MinHash LSH"
        assert p in exact
        assert abs(est[p] - exact[p]) < 0.25, (p, est[p], exact[p])


def test_minhash_high_estimates_are_real_dups(spark, docs):
    """The synthetic corpus ships with planted near-duplicates; every pair
    MinHash estimates above 0.9 must be a genuine high-Jaccard pair."""
    from workbench_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    est_pairs = minhash_lsh_pairs(docs, n_hashes=64, bands=8, verify_threshold=0.9).collect()
    assert len(est_pairs) > 0  # the corpus does contain planted near-dups
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    for r in est_pairs:
        key = (r["id_a"], r["id_b"])
        assert key in exact and exact[key] > 0.7, (key, r["est_jaccard"], exact.get(key))


def test_simhash_catches_planted_dups(spark, docs_with_planted_dups):
    from workbench_spark.operators.dedup import simhash_near_pairs

    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(
            docs_with_planted_dups, max_hamming=6, n_bands=8
        ).collect()
    }
    # 8 bands of 8 bits guarantee every pair at hamming <= 7 is a candidate
    found = sum((i, i + 1_000_000) in pairs for i in range(10))
    assert found == 10, f"only {found}/10 planted near-dups at hamming<=6: {sorted(pairs)[:20]}"


def test_simhash_identical_text_distance_zero(spark, docs):
    from workbench_spark.operators.dedup import simhash

    a = simhash(docs).withColumnRenamed("simhash", "h1")
    b = simhash(docs.select("doc_id", F.col("text"))).withColumnRenamed("simhash", "h2")
    j = a.join(b, "doc_id")
    assert j.filter(F.col("h1") != F.col("h2")).count() == 0


def test_exact_dedup_idempotent(spark, docs):
    from workbench_spark.operators.dedup import exact_dedup

    d = docs.select("doc_id", F.substring("text", 1, 40).alias("text"))
    once = exact_dedup(d)
    twice = exact_dedup(once)
    assert once.count() == twice.count()
    # survivors have unique normalized content
    from workbench_spark.operators.dedup import normalize_text

    n_hash = once.select(F.md5(normalize_text(F.col("text"))).alias("h")).distinct().count()
    assert n_hash == once.count()


def test_minhash_dedup_removes_planted(spark, docs_with_planted_dups):
    from workbench_spark.operators.dedup import minhash_lsh_dedup

    d = docs_with_planted_dups
    survivors = minhash_lsh_dedup(d, n_hashes=64, bands=16, verify_threshold=0.5)
    # planted copies (higher ids) should be dropped, originals kept
    remaining_planted = survivors.filter(F.col("doc_id") >= 1_000_000).count()
    assert remaining_planted <= 2  # allow a couple of LSH misses
    # the corpus itself contains ~24 planted native near-dup pairs, so
    # survivors < 500; anything far below that would mean over-deletion
    n_base = survivors.filter(F.col("doc_id") < 1_000_000).count()
    assert 460 <= n_base < 500, n_base


def test_ngram_df_cap_bounds_hot_shingle_candidates(spark):
    """Skew guard: one shingle present in 50% of docs must not create a
    quadratic candidate bucket when df_cap is set."""
    from workbench_spark.operators.dedup import ngram_jaccard_pairs

    n_docs = 200
    rows = []
    for i in range(n_docs):
        # every even doc shares the hot phrase; unique tail keeps docs distinct
        hot = "the quick brown fox jumps " if i % 2 == 0 else ""
        rows.append((i, hot + f"unique payload {i} " + " ".join(
            f"tok{i}_{j}" for j in range(20)
        )))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = ngram_jaccard_pairs(
        docs, n=3, threshold=0.0, df_cap=10
    )
    uncapped = ngram_jaccard_pairs(docs, n=3, threshold=0.0)
    n_capped, n_uncapped = capped.count(), uncapped.count()
    # the hot shingle alone makes C(100,2)=4950 candidate pairs; the cap
    # must eliminate that bucket (only genuinely-similar pairs remain)
    assert n_uncapped >= 4950
    assert n_capped < 100
    # exact semantics preserved when df_cap=None: jaccard values of capped
    # pairs are a subset computed over full shingle sets (denominator
    # unchanged), so every capped pair also appears uncapped
    cap_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    unc_pairs = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    assert cap_pairs <= unc_pairs


def test_lsh_embedding_candidates_empty_frame(spark):
    """Empty input must yield an empty pairs frame, not TypeError on
    first() (r2 ADVICE)."""
    from pyspark.sql import types as T

    from workbench_spark.operators.dedup import embedding_near_dup_pairs

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    empty = spark.createDataFrame([], schema)
    out = embedding_near_dup_pairs(empty, threshold=0.9, use_lsh=True)
    assert out.count() == 0
    assert set(out.columns) == {"id_a", "id_b", "cosine_sim"}


def test_blas_embedding_pairs_auto_route_to_lsh(spark):
    """Past the driver-matrix bound, method='blas' must route to the LSH
    path (warning emitted) instead of collecting to the driver."""
    import warnings

    from workbench_spark.operators.dedup import embedding_near_dup_pairs
    from workbench_spark.operators.similarity import DRIVER_MATRIX_CONF

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    spark.conf.set(DRIVER_MATRIX_CONF, "1024")
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            out = embedding_near_dup_pairs(
                emb, threshold=0.95, method="blas", dim=len(
                    emb.select("embedding").first()[0]
                ),
            )
            rows = out.count()
        assert any("routing to the hyperplane-LSH" in str(x.message) for x in w)
        assert rows >= 0  # LSH path executed without driver materialization
    finally:
        spark.conf.unset(DRIVER_MATRIX_CONF)


@pytest.fixture(scope="session")
def docs_with_mega_cluster(spark, docs):
    """Corpus + a planted boilerplate mega-cluster: 60 clones of one doc
    (ids 2_000_000..2_000_059) — the skew shape star emission exists for."""
    base = docs.select("doc_id", "text")
    boiler = " ".join(f"boilerplate footer token{i % 17} qq{i}" for i in range(40))
    clones = spark.createDataFrame(
        [(2_000_000 + i, boiler) for i in range(60)], ["doc_id", "text"]
    )
    return base.unionAll(clones)


def _components(spark, edges):
    from workbench_spark.operators.graph import connected_components

    comp = connected_components(
        spark.createDataFrame(edges, ["src", "dst"])
        if isinstance(edges, list)
        else edges.selectExpr("id_a as src", "id_b as dst")
    )
    groups = {}
    for r in comp.collect():
        groups.setdefault(r["component"], set()).add(r["node"])
    return {frozenset(g) for g in groups.values() if len(g) > 1}


def test_minhash_star_components_equal_all_pairs(spark, docs_with_mega_cluster):
    """pair_mode='star' must yield IDENTICAL connected components to
    pair_mode='all' (verify_threshold=None: the provable-equality regime),
    while emitting linearly many candidates on the mega-cluster."""
    from workbench_spark.operators.dedup import minhash_lsh_pairs

    d = docs_with_mega_cluster
    kw = dict(n_hashes=64, bands=16, verify_threshold=None)
    all_pairs = minhash_lsh_pairs(d, pair_mode="all", **kw)
    star_pairs = minhash_lsh_pairs(d, pair_mode="star", **kw)
    assert _components(spark, all_pairs) == _components(spark, star_pairs)
    # candidate-volume reduction: the 60-clone cluster alone is C(60,2)
    # = 1770 all-mode pairs vs 59 star-mode edges
    in_cluster = lambda df: df.filter(
        (F.col("id_a") >= 2_000_000) & (F.col("id_b") >= 2_000_000)
    ).count()
    n_all, n_star = in_cluster(all_pairs), in_cluster(star_pairs)
    assert n_all == 1770 and n_star == 59, (n_all, n_star)


def test_simhash_star_components_equal_all_pairs(spark, docs_with_mega_cluster):
    """SimHash star mode: same components as all-pairs on the planted
    mega-cluster (exact clones — every hub edge has hamming 0), B-1 edges."""
    from workbench_spark.operators.dedup import simhash_near_pairs

    d = docs_with_mega_cluster
    all_pairs = simhash_near_pairs(d, max_hamming=3, n_bands=4, pair_mode="all")
    # star + a hamming cap voids the CC guarantee in general (r11 guard
    # warns loudly); here every clone is exact (hamming 0 to the hub), so
    # the components still match — the warning is the asserted contract
    with pytest.warns(UserWarning, match="VOIDS the connected-components"):
        star_pairs = simhash_near_pairs(d, max_hamming=3, n_bands=4, pair_mode="star")
    in_cluster = lambda df: {
        (r["id_a"], r["id_b"])
        for r in df.filter(
            (F.col("id_a") >= 2_000_000) & (F.col("id_b") >= 2_000_000)
        ).collect()
    }
    c_all, c_star = in_cluster(all_pairs), in_cluster(star_pairs)
    assert len(c_all) == 1770 and len(c_star) == 59, (len(c_all), len(c_star))
    # star edges all attach to the bucket-min hub (2_000_000)
    assert all(a == 2_000_000 for a, _ in c_star)
    assert _components(spark, list(c_all)) == _components(spark, list(c_star))


def test_pair_mode_validation(spark, docs):
    from workbench_spark.operators.dedup import minhash_lsh_pairs, simhash_near_pairs

    with pytest.raises(ValueError, match="pair_mode"):
        minhash_lsh_pairs(docs, pair_mode="clique")
    with pytest.raises(ValueError, match="pair_mode"):
        simhash_near_pairs(docs, pair_mode="hub")


def test_expr_embedding_pairs_default_auto_routes_to_lsh(spark):
    """Past the driver-matrix bound, the DEFAULT method='expr' call must
    route to the LSH path (warning emitted) instead of building an
    unbounded O(N²) broadcast cross join (r9 VERDICT weak item)."""
    import warnings

    from workbench_spark.operators.dedup import embedding_near_dup_pairs
    from workbench_spark.operators.similarity import DRIVER_MATRIX_CONF

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    spark.conf.set(DRIVER_MATRIX_CONF, "1024")
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            # bare-defaults call: the footgun invocation the guard exists for
            out = embedding_near_dup_pairs(emb, threshold=0.95)
            plan = out._jdf.queryExecution().executedPlan().toString()
            rows = out.count()
        assert any(
            "method='expr'" in str(x.message)
            and "routing to the hyperplane-LSH" in str(x.message)
            for x in w
        )
        # the executed plan must be the LSH equi-join shape, not a BNLJ cross
        assert "BroadcastNestedLoopJoin" not in plan
        assert rows >= 0
    finally:
        spark.conf.unset(DRIVER_MATRIX_CONF)


def test_expr_embedding_pairs_on_overflow_raise(spark):
    """on_overflow='raise' (r11, ADVICE): callers whose pipeline REQUIRES
    the exact pair set get a hard error past the bound instead of a
    silently lossier LSH result when a warnings filter eats the notice."""
    from workbench_spark.operators.dedup import embedding_near_dup_pairs
    from workbench_spark.operators.similarity import DRIVER_MATRIX_CONF

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    spark.conf.set(DRIVER_MATRIX_CONF, "1024")
    try:
        with pytest.raises(RuntimeError, match="exact path was explicitly required"):
            embedding_near_dup_pairs(emb, threshold=0.95, on_overflow="raise")
        with pytest.raises(RuntimeError, match="exact path was explicitly required"):
            embedding_near_dup_pairs(
                emb, threshold=0.95, method="blas", on_overflow="raise"
            )
    finally:
        spark.conf.unset(DRIVER_MATRIX_CONF)
    with pytest.raises(ValueError, match="on_overflow"):
        embedding_near_dup_pairs(emb, on_overflow="explode")


def test_minhash_star_with_threshold_warns(spark, docs):
    """star + verify_threshold voids the CC-equality guarantee the mode
    exists for (r11 footgun guard): the call must warn loudly."""
    from workbench_spark.operators.dedup import minhash_lsh_pairs

    with pytest.warns(UserWarning, match="VOIDS the connected-components"):
        minhash_lsh_pairs(docs, pair_mode="star", verify_threshold=0.5)


def test_star_with_threshold_strict_raises(spark, docs):
    """r12: strict mode (kwarg or spark.workbench.dedup.strict conf)
    upgrades the star+threshold warning to a ValueError, mirroring the
    on_overflow='raise' precedent — warning-suppressing pipelines can't
    silently lose CC equality."""
    from workbench_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
    )

    with pytest.raises(ValueError, match="VOIDS the connected-components"):
        minhash_lsh_pairs(docs, pair_mode="star", verify_threshold=0.5, strict=True)
    with pytest.raises(ValueError, match="VOIDS the connected-components"):
        simhash_near_pairs(docs, pair_mode="star", max_hamming=3, strict=True)
    # conf-driven strict, no kwarg at the call site
    spark.conf.set("spark.workbench.dedup.strict", "true")
    try:
        with pytest.raises(ValueError, match="strict mode"):
            minhash_lsh_pairs(docs, pair_mode="star", verify_threshold=0.5)
        # explicit strict=False overrides the conf back to a warning
        with pytest.warns(UserWarning, match="VOIDS the connected-components"):
            minhash_lsh_pairs(
                docs, pair_mode="star", verify_threshold=0.5, strict=False
            )
        # the safe regime never trips strict mode
        minhash_lsh_pairs(docs, pair_mode="star", verify_threshold=None)
    finally:
        spark.conf.unset("spark.workbench.dedup.strict")


def test_simhash_star_threshold_free_no_warning(spark, docs):
    """The safe regime (max_hamming >= total bits) stays silent."""
    import warnings

    from workbench_spark.operators.dedup import simhash_near_pairs

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        simhash_near_pairs(
            docs, max_hamming=60, n_bands=10, portable=True, pair_mode="star"
        )
    assert not any("VOIDS" in str(x.message) for x in w)


def test_expr_embedding_pairs_under_bound_stays_exact(spark):
    """Under the bound the default path is unchanged: exact all-pairs with
    the oracle-grade sequential-fold scoring (no warning, no rerouting)."""
    import warnings

    from workbench_spark.operators.dedup import embedding_near_dup_pairs

    rows = [(i, [1.0, 0.0, float(i % 2) * 1e-6]) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pairs = embedding_near_dup_pairs(df, threshold=0.999).collect()
    assert not any("routing to the hyperplane-LSH" in str(x.message) for x in w)
    assert len(pairs) == 15  # C(6,2): all near-identical vectors pair up


def test_lsh_embedding_null_first_row_uses_real_dim(spark):
    """A NULL first embedding must not collapse signatures to one bucket
    (r3 review: dim=1 fallback made the candidate join a cross product)."""
    from pyspark.sql import types as T

    from workbench_spark.operators.dedup import embedding_near_dup_pairs

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    rows = [(0, None)] + [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(1, 40)]
    df = spark.createDataFrame(rows, schema).coalesce(1)
    out = embedding_near_dup_pairs(df, threshold=0.999, use_lsh=True)
    # must run (dim probed from a non-null row) and produce sane pairs
    pairs = out.collect()
    assert all(r["cosine_sim"] >= 0.999 for r in pairs)


def test_incremental_dedup_blocks_corpus_clones(spark, docs):
    """A new batch containing clones of corpus docs must lose exactly the
    clones; novel docs must survive; the corpus is never touched."""
    from workbench_spark.operators.dedup import (
        banded_minhash,
        minhash_incremental_dedup,
        minhash_incremental_pairs,
    )

    corpus = docs.select("doc_id", "text").filter(F.col("doc_id") < 400)
    clones = (
        corpus.filter(F.col("doc_id") < 5)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    novel = spark.createDataFrame(
        [(200000 + i, f"entirely novel document number {i} with unique words "
          f"zebra-{i} quasar-{i} lattice-{i}") for i in range(5)],
        "doc_id long, text string",
    )
    batch = clones.unionByName(novel)
    pairs = minhash_incremental_pairs(batch, corpus, verify_threshold=0.5)
    matched = {r["new_id"] for r in pairs.select("new_id").distinct().collect()}
    assert matched == {100000, 100001, 100002, 100003, 100004}
    survivors = minhash_incremental_dedup(batch, corpus, verify_threshold=0.5)
    ids = {r["doc_id"] for r in survivors.collect()}
    assert ids == {200000, 200001, 200002, 200003, 200004}
    # precomputed banded corpus gives identical pairs
    banded = banded_minhash(corpus)
    pairs2 = minhash_incremental_pairs(
        batch, banded, verify_threshold=0.5, corpus_is_banded=True
    )
    assert sorted(map(tuple, pairs.select("new_id", "corpus_id").collect())) == \
        sorted(map(tuple, pairs2.select("new_id", "corpus_id").collect()))


def test_cluster_representatives_hand_computed(spark):
    """Two clusters + a singleton: the highest-quality member wins, ties
    go to the smallest id, singletons keep themselves."""
    from workbench_spark.operators.dedup import cluster_representatives

    docs = spark.createDataFrame(
        [
            (1, 5.0), (2, 9.0), (3, 9.0),   # cluster {1,2,3}: tie 2 vs 3 -> 2
            (10, 4.0), (11, 3.0),           # cluster {10,11} -> 10
            (99, 1.0),                      # singleton -> itself
        ],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r for r in
           cluster_representatives(docs, pairs, "q").collect()}
    assert len(out) == 6
    assert out[2]["keep"] and not out[1]["keep"] and not out[3]["keep"]
    assert out[10]["keep"] and not out[11]["keep"]
    assert out[99]["keep"] and out[99]["component"] == 99
    assert out[1]["component"] == out[2]["component"] == out[3]["component"] == 1


def test_semdedup_planted_groups(spark):
    """SemDeDup keep-rule on planted duplicate groups: one survivor per
    group (the member farthest from its centroid), singletons untouched,
    deterministic across partitionings."""
    import math

    from pyspark.sql import functions as F
    from workbench_spark.operators.dedup import semdedup

    def unit(theta):
        # 4-dim vectors on a circle in dims (0,1) + noise dims zero
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = []
    # group A: three near-identical vectors (cos >= ~0.9999)
    for i, t in enumerate([0.00, 0.005, 0.010]):
        rows.append((i, unit(t)))
    # group B: two near-identical vectors far from A
    for i, t in enumerate([2.0, 2.004], start=10):
        rows.append((i, unit(t)))
    # singletons scattered
    for i, t in enumerate([0.7, 1.3, 2.9], start=20):
        rows.append((i, unit(t)))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = semdedup(df, n_clusters=3, eps=0.001, seed=7)
    got = {r["id"]: r for r in out.collect()}
    assert len(got) == len(rows)
    # one survivor per planted group
    assert sum(got[i]["kept"] for i in (0, 1, 2)) == 1
    assert sum(got[i]["kept"] for i in (10, 11)) == 1
    # all singletons kept
    assert all(got[i]["kept"] for i in (20, 21, 22))
    # determinism under repartition
    again = {
        r["id"]: r["kept"]
        for r in semdedup(df.repartition(5), n_clusters=3, eps=0.001, seed=7).collect()
    }
    assert again == {i: r["kept"] for i, r in got.items()}


def test_leakage_safe_split_clusters_never_straddle(spark):
    """Every pair-connected group lands in ONE split; proportions are
    roughly honored over many singleton components; deterministic."""
    from pyspark.sql import functions as F
    from workbench_spark.operators.dedup import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(300)], "doc_id int")
    # chains {0,1,2}, {10,11}, rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a int, id_b int"
    )
    out = leakage_safe_split(docs, pairs)
    got = {r["doc_id"]: (r["component"], r["split"]) for r in out.collect()}
    assert len(got) == 300
    assert got[0] == got[1] == got[2]      # whole chain, one split
    assert got[10] == got[11]
    splits = [s for _, s in got.values()]
    frac_train = splits.count("train") / len(splits)
    assert 0.7 < frac_train < 0.9          # hash draw honors ~80%
    assert set(splits) == {"train", "val", "test"}
    again = {r["doc_id"]: r["split"] for r in leakage_safe_split(docs.repartition(7), pairs).collect()}
    assert again == {i: s for i, (_, s) in got.items()}


def test_jaccard_prefix_pairs_equals_brute_force(spark):
    """The prefix+length filters must lose ZERO pairs (PPJoin theorem):
    same pair set as the full-inverted-index ngram_jaccard_pairs, with
    exact integer intersection/union sizes."""
    from workbench_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pp = {
        (r["id_a"], r["id_b"]): (r["inter"], r["union_sz"])
        for r in jaccard_prefix_pairs(d, threshold=(1, 4)).collect()
    }
    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(d, threshold=0.25).collect()
    }
    assert set(pp) == set(brute)
    for k, (inter, union) in pp.items():
        assert abs(inter / union - brute[k]) < 1e-12


def test_jaccard_prefix_pairs_planted_twin(spark):
    from workbench_spark.operators.dedup import jaccard_prefix_pairs

    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "the quick brown fox jumps over the lazy dog tonight!"),  # twin
        (2, "entirely different content about distributed sketches"),
        (3, "short"),  # shorter than one shingle after normalization
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in jaccard_prefix_pairs(d, threshold=(4, 5)).collect()}
    assert got == {(0, 1)}


def test_containment_pairs_equals_brute_force_and_is_directional(spark):
    """Containment prefix+length filters lose ZERO directed pairs, and
    an embedded document is flagged in the contained->container
    direction only."""
    from workbench_spark.operators.dedup import containment_pairs, shingle_frame

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r["id_contained"], r["id_container"]): (r["inter"], r["sz_contained"])
        for r in containment_pairs(d, threshold=(3, 5)).collect()
    }
    sh = (
        shingle_frame(d, "text", "doc_id", 5, "sh")
        .withColumnRenamed("doc_id", "id")
        .withColumn("sz", F.size("sh"))
    )
    ex = sh.select("id", "sz", F.explode("sh").alias("g"))
    brute = {
        (r["ia"], r["ib"]): (r["inter"], r["sza"])
        for r in (
            ex.alias("a")
            .join(ex.alias("b"), "g")
            .filter(F.col("a.id") != F.col("b.id"))
            .groupBy(
                F.col("a.id").alias("ia"),
                F.col("b.id").alias("ib"),
                F.col("a.sz").alias("sza"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
            .filter(F.col("inter") * 5 >= 3 * F.col("sza"))
        ).collect()
    }
    assert got == brute

    # planted: short doc embedded verbatim in a much longer one — the
    # Jaccard between them is low, but containment fires A -> B only
    rows = [
        (9000, "the quick brown fox jumps over the lazy dog"),
        (
            9001,
            "preamble text here. the quick brown fox jumps over the lazy "
            "dog. plus a long appendix of unrelated words follows now for "
            "padding purposes making the container much longer",
        ),
        (9002, "completely unrelated content about streaming sketches"),
    ]
    d2 = spark.createDataFrame(rows, "doc_id long, text string")
    got2 = {
        (r["id_contained"], r["id_container"])
        for r in containment_pairs(d2, threshold=(9, 10)).collect()
    }
    assert got2 == {(9000, 9001)}


def test_embedding_incremental_dedup_blocks_corpus_clones(spark):
    """A new embedding batch containing clones of corpus vectors loses
    exactly the clones; novel directions survive; the signed-corpus
    artifact path is identical to signing inline."""
    from workbench_spark.operators.dedup import (
        embedding_incremental_dedup,
        embedding_incremental_pairs,
        embedding_signatures,
    )

    corpus = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(corpus.select("embedding").first()[0])
    # batch: exact clones of two corpus vectors + one orthogonal-ish novel
    twins = corpus.filter(F.col("vec_id").isin(3, 7)).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    novel = spark.createDataFrame(
        [(2_000_000, [float(i == 0) for i in range(dim)])],
        "vec_id long, embedding array<double>",
    )
    batch = twins.unionAll(novel)
    kw = dict(threshold=0.999, n_planes=8, n_tables=6, seed=42, dim=dim)
    pairs = embedding_incremental_pairs(batch, corpus, **kw)
    got = {(r["new_id"], r["corpus_id"]) for r in pairs.collect()}
    assert (1_000_003, 3) in got and (1_000_007, 7) in got
    assert all(n != 2_000_000 for n, _ in got)
    survivors = {r["vec_id"] for r in embedding_incremental_dedup(batch, corpus, **kw).collect()}
    assert survivors == {2_000_000}
    # precomputed signed-corpus artifact: identical pair set
    signed = embedding_signatures(corpus, n_planes=8, n_tables=6, seed=42, dim=dim)
    got2 = {
        (r["new_id"], r["corpus_id"])
        for r in embedding_incremental_pairs(
            batch, signed, corpus_is_signed=True, **kw
        ).collect()
    }
    assert got2 == got


def test_lsh_auto_planes_capacity_rule():
    """The capacity rule as code: planes floor at 8, then grow with
    log2(N/target) — each 10x corpus adds ~3.3 planes, holding expected
    bucket occupancy (and therefore candidate fan-in) constant."""
    from workbench_spark.operators.dedup import lsh_auto_planes

    assert lsh_auto_planes(0) == 8
    assert lsh_auto_planes(1000) == 8          # small corpus: floor
    assert lsh_auto_planes(64 * 2**8) == 8     # exactly at floor capacity
    assert lsh_auto_planes(64 * 2**8 + 1) == 9
    assert lsh_auto_planes(180_000) == 12      # the sf10 ladder corpus
    assert lsh_auto_planes(64 * 2**20) == 20
    # occupancy stays bounded: n / 2^planes <= target for n above floor cap
    for n in (10**5, 10**6, 10**7, 10**9):
        assert n / 2 ** lsh_auto_planes(n) <= 64


def test_embedding_lsh_auto_matches_explicit(spark):
    """n_planes='auto' resolves to lsh_auto_planes(corpus) and yields the
    IDENTICAL pair set as passing that number explicitly; the pre-signed
    corpus path refuses 'auto' (its plane count was fixed at
    artifact-build time)."""
    import pytest as _pytest

    from workbench_spark.operators.dedup import (
        embedding_incremental_pairs,
        embedding_near_dup_pairs,
        embedding_signatures,
        lsh_auto_planes,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    batch = e.filter(F.col("vec_id") % 10 == 0)
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    n_auto = lsh_auto_planes(corpus.count())
    a = embedding_incremental_pairs(batch, corpus, threshold=0.5, n_planes="auto", dim=64)
    b = embedding_incremental_pairs(batch, corpus, threshold=0.5, n_planes=n_auto, dim=64)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # self-corpus auto path runs and stays equi-join-shaped (no cartesian)
    pairs = embedding_near_dup_pairs(e, threshold=0.5, use_lsh=True, n_planes="auto", dim=64)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert pairs.count() >= 0
    signed = embedding_signatures(corpus, "vec_id", "embedding", 8, 4, 42, 64)
    with _pytest.raises(ValueError, match="auto"):
        embedding_incremental_pairs(
            batch, signed, n_planes="auto", corpus_is_signed=True, dim=64
        )


@_SLOW_GATE  # measured 25.1s on the r16 baseline run
def test_semdedup_auto_clusters(spark):
    """n_clusters='auto' (the third capacity knob) resolves to
    clamp(N/250, 8, 4096) and yields the identical verdict frame as the
    explicit k."""
    from workbench_spark.operators.dedup import semdedup

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    n = e.count()
    k = max(8, min(n // 250, 4096))
    a = semdedup(e, "vec_id", "embedding", n_clusters="auto", eps=0.08,
                 exact=True, dim=64)
    b = semdedup(e, "vec_id", "embedding", n_clusters=k, eps=0.08,
                 exact=True, dim=64)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert a.count() == n


def test_semdedup_invariants_leaves_no_cache(spark):
    """The invariants entry caches its verdict frame and its pair frame
    while it computes three booleans on the driver; it must unpersist
    both before returning its driver-built 1-row result."""
    from workbench_spark.queries import queries

    spark.catalog.clearCache()
    queries()["dedup_semdedup_invariants"](spark, SF_DIR).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
