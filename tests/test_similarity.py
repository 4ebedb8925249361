"""Invariant tests for similarity operators without SQL oracles:
LSH recall vs brute force, plan-shape checks (broadcast on the small side)."""

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
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_lsh_knn_recall_vs_bruteforce(spark, emb):
    from workbench_spark.operators.similarity import cosine_knn, lsh_cosine_knn

    exact = cosine_knn(emb, k=5)
    approx = lsh_cosine_knn(emb, k=5, n_planes=6, n_tables=6, dim=64)
    e = {(r["id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["id"], r["neighbor_id"]): r["cosine_sim"] for r in approx.collect()}
    recall = len(e & set(a)) / len(e)
    # i.i.d. random 64-dim vectors are the worst case for hyperplane LSH
    # (neighbors barely closer than random); the operator's value shows on
    # clustered real embeddings — here we just require better-than-chance
    # (chance for k=5 of 499: ~0.01) and exact scores on returned pairs
    assert recall > 0.15, f"LSH recall {recall:.3f} too low"
    exact_scores = {
        (r["id"], r["neighbor_id"]): r["cosine_sim"]
        for r in cosine_knn(emb, k=499).collect()
    }
    for pair, sim in list(a.items())[:50]:
        assert abs(exact_scores[pair] - sim) < 1e-9  # candidates scored exactly


def test_lsh_deterministic_under_seed(spark, emb):
    from workbench_spark.operators.similarity import lsh_cosine_knn

    a = sorted(map(tuple, lsh_cosine_knn(emb, k=3, seed=7, dim=64).collect()))
    b = sorted(map(tuple, lsh_cosine_knn(emb, k=3, seed=7, dim=64).collect()))
    assert a == b


def test_knn_self_excluded_and_k_rows(spark, emb):
    from workbench_spark.operators.similarity import cosine_knn

    q = emb.filter(F.col("vec_id") < 10)
    out = cosine_knn(emb, queries=q, k=5)
    rows = out.collect()
    assert all(r["id"] != r["neighbor_id"] for r in rows)
    counts = out.groupBy("id").count().collect()
    assert all(r["count"] == 5 for r in counts)


def test_knn_broadcasts_query_side(spark, emb):
    """The query side must broadcast — the reference set must never shuffle."""
    from workbench_spark.operators.similarity import cosine_knn

    q = emb.filter(F.col("vec_id") < 10)
    plan = cosine_knn(emb, queries=q, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_ivf_knn_recall(spark, emb):
    from workbench_spark.operators.similarity import cosine_knn, ivf_cosine_knn

    exact = cosine_knn(emb, k=5)
    approx = ivf_cosine_knn(emb, k=5, n_cells=8, n_probe=4)
    e = {(r["id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # probing half the cells on near-random vectors: recall tracks the
    # probed fraction; must beat LSH-at-similar-cost and chance by far
    assert recall > 0.4, f"IVF recall {recall:.3f}"


def test_bucketed_euclidean_recall_and_plan(spark):
    """The BRP-LSH path must (a) recall most true neighbors on clustered
    data, (b) contain NO full-set broadcast-nested-loop / cartesian join —
    candidates must come from a bucket equi-join (VERDICT r1 ask)."""
    from workbench_spark.operators.similarity import (
        euclidean_knn_bucketed,
        euclidean_knn_standardized,
    )

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    feats = ["c_acctbal", "c_nationkey"]
    exact = euclidean_knn_standardized(cust, feats, "c_custkey", k=3)
    approx = euclidean_knn_bucketed(
        cust, feats, "c_custkey", k=3, bucket_length=2.0, num_hash_tables=6
    )
    e = {(r["id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.6, f"bucketed euclidean recall {recall:.3f}"

    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # broadcast-nested-loop is allowed ONLY for the 1-row z-score stats
    # frame (join condition references the exact-sum __s/__qq/__n aliases
    # of _zscore_frame); a BNLJ without that marker would be a full-set
    # broadcast — the thing this path exists to avoid
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert "__s" in frag.split("\n")[0] or "__s" in frag[:2000], frag[:500]
    # candidate generation must be a real equi-join (hash or sort-merge)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_bucketed_euclidean_distances_exact_on_found(spark):
    """Distances on returned pairs must equal the exact operator's (the
    approximation only prunes candidates, never perturbs the metric)."""
    from workbench_spark.operators.similarity import (
        euclidean_knn_bucketed,
        euclidean_knn_standardized,
    )

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    feats = ["c_acctbal", "c_nationkey"]
    exact_all = {
        (r["id"], r["neighbor_id"]): r["distance"]
        for r in euclidean_knn_standardized(cust, feats, "c_custkey", k=20).collect()
    }
    approx = euclidean_knn_bucketed(
        cust, feats, "c_custkey", k=3, bucket_length=2.0, num_hash_tables=4
    )
    for r in approx.collect()[:100]:
        pair = (r["id"], r["neighbor_id"])
        if pair in exact_all:
            assert abs(exact_all[pair] - r["distance"]) < 1e-6


def test_embedding_dedup_drops_planted(spark, emb):
    from pyspark.sql import functions as F2

    from workbench_spark.operators.dedup import embedding_dedup

    # plant exact duplicates of 5 vectors under new ids
    dups = emb.filter(F2.col("vec_id") < 5).select(
        (F2.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    with_dups = emb.unionByName(dups)
    survivors = embedding_dedup(with_dups, threshold=0.999)
    assert survivors.filter(F2.col("vec_id") >= 1_000_000).count() == 0
    assert survivors.filter(F2.col("vec_id") < 1_000_000).count() == emb.count()


def test_dense_cluster_all_pairs_no_cap(spark, emb):
    """60 clones of one vector must yield ALL C(60,2)=1770 pairs — the
    round-1 k=50 KNN cap silently dropped pairs past 50 neighbors. Every
    enumeration mode (expr / blas / lsh) must be threshold-driven."""
    from workbench_spark.operators.dedup import embedding_near_dup_pairs

    base = emb.filter(F.col("vec_id") == 0).select("embedding")
    clones = (
        spark.range(1_000_000, 1_000_060)
        .withColumnRenamed("id", "vec_id")
        .crossJoin(base)
    )
    corpus = emb.filter(F.col("vec_id") >= 100).select("vec_id", "embedding").unionByName(clones)
    expected = 60 * 59 // 2

    for kwargs in ({"method": "expr"}, {"method": "blas"}, {"use_lsh": True, "n_tables": 6}):
        pairs = embedding_near_dup_pairs(corpus, threshold=0.999, **kwargs)
        planted = pairs.filter(
            (F.col("id_a") >= 1_000_000) & (F.col("id_b") >= 1_000_000)
        )
        assert planted.count() == expected, f"{kwargs}: missing planted pairs"


def test_blas_threshold_pairs_match_expr(spark, emb):
    """blas mode float sums differ in order only — same pair set, ~1e-9 sims."""
    from workbench_spark.operators.dedup import embedding_near_dup_pairs

    a = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in embedding_near_dup_pairs(emb, threshold=0.2, method="expr").collect()
    }
    b = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in embedding_near_dup_pairs(emb, threshold=0.2, method="blas").collect()
    }
    # pairs sitting exactly at the threshold may flip under float reorder;
    # everything clearly above it must agree
    core = {p for p, s in a.items() if s > 0.2 + 1e-6}
    assert core <= set(b)
    for pair in core:
        assert abs(a[pair] - b[pair]) < 1e-9


def test_blas_knn_matches_expression_knn(spark, emb):
    from workbench_spark.operators.similarity import cosine_knn, cosine_knn_blas

    a = {
        (r["id"], r["neighbor_id"]): r["cosine_sim"]
        for r in cosine_knn(emb, k=5).collect()
    }
    b = {
        (r["id"], r["neighbor_id"]): r["cosine_sim"]
        for r in cosine_knn_blas(emb, k=5).collect()
    }
    assert set(a) == set(b)
    for pair in a:
        assert abs(a[pair] - b[pair]) < 1e-9


def test_driver_matrix_gate_raises_and_is_configurable(spark, emb):
    """The blas exact path must refuse (with a routing hint) to collect a
    query matrix past the configured bound — gate in code, not docs."""
    from workbench_spark.operators.similarity import (
        DRIVER_MATRIX_CONF,
        cosine_knn_blas,
        driver_matrix_check,
    )

    spark.conf.set(DRIVER_MATRIX_CONF, "1024")  # 1 KiB: everything too big
    try:
        fits, est, limit = driver_matrix_check(emb, "embedding")
        assert not fits and est > limit == 1024
        with pytest.raises(ValueError, match="lsh_cosine_knn"):
            cosine_knn_blas(emb, k=5)
    finally:
        spark.conf.unset(DRIVER_MATRIX_CONF)
    fits, _, _ = driver_matrix_check(emb, "embedding")
    assert fits  # default 256 MiB bound admits the test-scale frame


def _null_first_vectors(spark):
    """40 rows of 8-dim vectors whose FIRST row's vector is NULL."""
    import random

    rng = random.Random(0)
    rows = [(0, None)] + [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(1, 40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert vecs.first()["embedding"] is None
    return vecs


def test_lsh_knn_dim_probe_skips_null_first_row(spark):
    """With dim=None the vector length is probed from the first NON-NULL
    row, so a NULL first vector neither crashes the probe nor changes the
    result: it equals the explicit dim=8 call."""
    from workbench_spark.operators.similarity import lsh_cosine_knn

    vecs = _null_first_vectors(spark)
    explicit = sorted(map(tuple, lsh_cosine_knn(vecs, k=3, dim=8).collect()))
    probed = sorted(map(tuple, lsh_cosine_knn(vecs, k=3).collect()))
    assert explicit and probed == explicit


def test_driver_matrix_gate_sees_past_null_first_row(spark):
    """A NULL first vector must not read as dim 0 (a 0-byte estimate that
    passes any corpus): the gate estimates 40 rows x 8 dims x 8 bytes."""
    from workbench_spark.operators.similarity import driver_matrix_check

    vecs = _null_first_vectors(spark)
    assert driver_matrix_check(vecs, "embedding", max_bytes=100) == (False, 2560, 100)


def test_pq_train_skips_null_vectors(spark):
    """NULL vectors never reach the numpy training sample (a ragged
    np.array raised ValueError): codebooks trained on a frame whose first
    vector is NULL equal those trained on the frame without that row."""
    from workbench_spark.operators.similarity import pq_train

    vecs = _null_first_vectors(spark)
    books = pq_train(vecs, m=2, k=4, dim=8)
    assert books == pq_train(vecs.filter(F.col("vec_id") > 0), m=2, k=4, dim=8)


def test_quantize_roundtrip_error_bound(spark):
    """int8 quantization invariants: codes in [-127, 127], per-component
    reconstruction error <= scale/2 + ulp, zero vectors stay zero, and
    cosine similarity survives quantization to ~1e-2."""
    from workbench_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )
    from workbench_spark.session import read_table

    e = read_table(spark, SF_DIR, "embeddings").limit(50)
    q = dequantize_embeddings(quantize_embeddings(e))
    rows = q.select("vec_id", "embedding", "q_embedding", "q_scale",
                    "embedding_approx").collect()
    assert rows
    for r in rows:
        s = r["q_scale"]
        assert all(-127 <= c <= 127 for c in r["q_embedding"])
        for orig, approx in zip(r["embedding"], r["embedding_approx"]):
            assert abs(float(orig) - approx) <= s / 2 + 1e-9
    import math

    zero = spark.createDataFrame([(1, [0.0] * 8)], "vec_id int, embedding array<float>")
    zr = quantize_embeddings(zero).collect()[0]
    assert zr["q_scale"] == 0.0 and set(zr["q_embedding"]) == {0}
    # cosine between original and dequantized stays ~1
    def cos(a, b):
        num = sum(float(x) * y for x, y in zip(a, b))
        return num / (math.sqrt(sum(float(x) ** 2 for x in a))
                      * math.sqrt(sum(y ** 2 for y in b)))
    for r in rows[:10]:
        assert cos(r["embedding"], r["embedding_approx"]) > 0.999


def _candidate_shuffle_is_int8(df):
    """True when the candidate-generation joins carry the int8 code array
    and NOT the float64 embedding: in the analyzed plan, every join ABOVE
    the rescore boundary references __lq/__rq (array<int>) and the fp
    column appears only in the rescore projections."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return "__lq" in plan and "__rq" in plan


def test_int8_scan_frame_dtypes(spark, emb):
    """The scan payload really is int codes: (id, array<int>, double)."""
    from workbench_spark.operators.similarity import _int8_scan_frame

    scan = _int8_scan_frame(emb, "vec_id", "embedding")
    assert dict(scan.dtypes) == {
        "id": "bigint", "__qv": "array<int>", "__qn": "double",
    }, scan.dtypes


def test_lsh_quantized_scan_and_recall(spark, emb):
    """quantized=True: (a) the candidate shuffle payload is the int8 code
    array (plan assertion), (b) the survivors are rescored exactly — every
    returned score equals the full-precision cosine, (c) recall vs the
    fp LSH path at the same parameters is unchanged (same buckets, and the
    int8 ranking error is far below the rescore margin)."""
    from workbench_spark.operators.similarity import cosine_knn, lsh_cosine_knn

    fp = lsh_cosine_knn(emb, k=5, n_planes=6, n_tables=6, dim=64)
    q8 = lsh_cosine_knn(emb, k=5, n_planes=6, n_tables=6, dim=64, quantized=True)
    assert _candidate_shuffle_is_int8(q8)

    fp_pairs = {(r["id"], r["neighbor_id"]) for r in fp.collect()}
    q8_rows = {(r["id"], r["neighbor_id"]): r["cosine_sim"] for r in q8.collect()}
    # identical buckets + rescore_k=3k headroom -> the same top-k survives
    overlap = len(fp_pairs & set(q8_rows)) / len(fp_pairs)
    assert overlap >= 0.999, f"quantized LSH diverged: overlap {overlap:.4f}"
    # returned scores are exact full-precision cosines
    exact_scores = {
        (r["id"], r["neighbor_id"]): r["cosine_sim"]
        for r in cosine_knn(emb, k=499).collect()
    }
    for pair, sim in list(q8_rows.items())[:50]:
        assert abs(exact_scores[pair] - sim) < 1e-9


def test_ivf_quantized_scan_and_recall(spark, emb):
    from workbench_spark.operators.similarity import ivf_cosine_knn

    fp = ivf_cosine_knn(emb, k=5, n_cells=8, n_probe=4)
    q8 = ivf_cosine_knn(emb, k=5, n_cells=8, n_probe=4, quantized=True)
    assert _candidate_shuffle_is_int8(q8)
    fp_pairs = {(r["id"], r["neighbor_id"]) for r in fp.collect()}
    q8_pairs = {(r["id"], r["neighbor_id"]) for r in q8.collect()}
    overlap = len(fp_pairs & q8_pairs) / len(fp_pairs)
    assert overlap >= 0.999, f"quantized IVF diverged: overlap {overlap:.4f}"


def test_pq_roundtrip_and_determinism(spark, emb):
    """PQ contract: codes in [0, k); deterministic under seed; relative
    reconstruction error well below the zero-information baseline (1.0)
    and monotone improving with k."""
    from workbench_spark.operators.similarity import pq_decode, pq_encode, pq_train

    def rel_err(books):
        codes = pq_encode(emb, books)
        dec = pq_decode(codes.join(emb, "vec_id"), books)
        r = dec.select(
            F.expr(
                "aggregate(zip_with(embedding, embedding_approx,"
                " (x,y)->(cast(x as double)-y)*(cast(x as double)-y)),"
                " 0.0D, (a,x)->a+x)"
            ).alias("se"),
            F.expr(
                "aggregate(embedding, 0.0D, (a,x)->a+cast(x as double)*x)"
            ).alias("nn"),
        ).agg(F.avg("se").alias("mse"), F.avg("nn").alias("mnn")).collect()[0]
        return r["mse"] / r["mnn"]

    b16 = pq_train(emb, m=8, k=16, sample_n=400, seed=7)
    b64 = pq_train(emb, m=8, k=64, sample_n=400, seed=7)
    e16, e64 = rel_err(b16), rel_err(b64)
    assert e16 < 0.75, e16      # far below the zero-code baseline 1.0
    assert e64 < e16            # more centroids -> less distortion
    # deterministic codebooks under the same seed
    b16b = pq_train(emb, m=8, k=16, sample_n=400, seed=7)
    assert b16 == b16b
    # codes are valid indices
    codes = pq_encode(emb, b16)
    bad = codes.filter(
        F.exists("pq_codes", lambda c: (c < 0) | (c >= 16))
    ).count()
    assert bad == 0
    assert codes.select(F.size("pq_codes")).distinct().collect()[0][0] == 8


def test_pq_knn_planted_twin_recall(spark, emb):
    """ADC retrieval through the m-byte code scan must still find the
    planted twin (cosine ~0.9995 vs background ~0.51) for EVERY query,
    and returned scores are exact full-precision cosines (rescore)."""
    from workbench_spark.operators.similarity import cosine_knn, pq_knn

    qv = F.expr(
        "transform(sequence(1, 64), i -> cast(element_at(embedding, i) as double)"
        " + 0.03d * cast(element_at(embedding, 65 - i) as double))"
    )
    q = emb.select("vec_id", qv.alias("embedding"))
    res = pq_knn(emb, q, k=1, m=8, n_codes=16).collect()
    assert len(res) == emb.count()
    assert all(r["id"] == r["neighbor_id"] for r in res)  # recall@1 = 1
    for r in res[:20]:
        assert r["cosine_sim"] > 0.99


@_SLOW_GATE  # measured 18.9s on the r16 baseline run
def test_ivf_pq_scan_path(spark, emb):
    """IVF-PQ (quantized='pq'): the cell join carries m-byte PQ codes and
    pairs score via SDC dot tables. On worst-case i.i.d. vectors the
    double-quantized ranking is coarse, so (a) assert a floor on overlap
    vs the fp IVF at the same parameters (the wide rescore recovers most
    of it), and (b) assert the retrieval workload that matters: planted
    twins at cosine ~0.9995 are mutual top-1 through the PQ scan."""
    from workbench_spark.operators.similarity import ivf_cosine_knn

    fp = {(r["id"], r["neighbor_id"]) for r in
          ivf_cosine_knn(emb, k=5, n_cells=8, n_probe=4).collect()}
    pq = {(r["id"], r["neighbor_id"]) for r in
          ivf_cosine_knn(emb, k=5, n_cells=8, n_probe=4, quantized="pq").collect()}
    overlap = len(fp & pq) / len(fp)
    assert overlap >= 0.75, f"IVF-PQ overlap {overlap:.3f}"

    # plant near-identical twins under new ids; self-KNN top-1 must pair them
    twins = emb.filter(F.col("vec_id") < 60).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64), i -> cast(element_at(embedding, i) as double)"
            " + 0.03d * cast(element_at(embedding, 65 - i) as double))"
        ).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    ).unionByName(twins)
    top1 = {
        r["id"]: r["neighbor_id"]
        for r in ivf_cosine_knn(
            corpus, k=1, n_cells=8, n_probe=6, quantized="pq"
        ).collect()
    }
    hits = sum(1 for q in range(60) if top1.get(1_000_000 + q) == q)
    assert hits >= 58, f"twin recall {hits}/60 through the PQ scan"


def test_lsh_knn_auto_planes(spark):
    """lsh_cosine_knn(n_planes='auto') sizes planes from the corpus count
    (the r13 capacity rule) and returns the same frame as the explicit
    number; recall on the planted twin stays 1 at this scale."""
    from pyspark.sql import functions as F

    from workbench_spark.operators.dedup import lsh_auto_planes
    from workbench_spark.operators.similarity import lsh_cosine_knn

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    qv = F.expr(
        "transform(sequence(1, 64), i -> cast(element_at(embedding, i) as double)"
        " + 0.03d * cast(element_at(embedding, 65 - i) as double))"
    )
    q = e.select("vec_id", qv.alias("embedding"))
    n_auto = lsh_auto_planes(e.count())
    a = lsh_cosine_knn(e, queries=q, k=1, n_planes="auto", n_tables=6, dim=64)
    b = lsh_cosine_knn(e, queries=q, k=1, n_planes=n_auto, n_tables=6, dim=64)
    ra = sorted(map(tuple, a.collect()))
    assert ra == sorted(map(tuple, b.collect()))
    # planted twin is rank-1 for every query (recall@1 = 1 at this sf)
    hits = sum(1 for (qid, nid, _s) in ra if qid == nid)
    assert hits == len(ra) == e.count()
