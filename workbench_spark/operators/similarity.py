"""Similarity / nearest-neighbor operators (SURVEY §2.3 J5-J7 + the
LLM-pipeline ANN extension).

Reference semantics (sklearn NearestNeighbors, single-node):
- J5 KNN in feature space — algorithms/dataframe/proximity.py:100-271,
  feature_space_proximity.py:17-112 (standardized Euclidean; canonical
  result frame (id, neighbor_id, distance, ...)).
- J7 neighbors for novel queries — proximity.py:159-195.

Spark-first design:
- Exact brute-force cosine/euclidean top-k: block-nested-loop join
  (broadcast the query side), rank window per query id. Right-sized when
  queries ≪ reference set — the reference set streams by, never shuffles.
- Scale path: LSH bucketing (random hyperplanes for cosine) so candidate
  pairs only form within buckets — candidate count O(N·bucket_occupancy)
  instead of O(N·Q). At 100 TB this is the difference between a feasible
  join and a cross product; band/row parameters trade recall for cost.
  MLlib's BucketedRandomProjectionLSH covers the euclidean case; the
  hyperplane variant here stays in pure DataFrame ops (no UDF) so Catalyst
  codegens the whole pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# The exact blas paths materialize a matrix on the driver (toPandas) and
# ship it to every partition. That is right-sized while the matrix fits a
# broadcast-style bound; past it, the code must route to an LSH path, not
# quietly OOM the driver at 100x the test scale. The bound is configurable
# per session (bytes); the check costs one count() + one first() — noise
# next to the toPandas it guards.
DRIVER_MATRIX_CONF = "spark.workbench.driverMatrix.maxBytes"
_DEFAULT_DRIVER_MATRIX_BYTES = 256 << 20  # 256 MiB of float64s


def driver_matrix_check(
    df: DataFrame,
    vec_col: str,
    *,
    dim: int | None = None,
    max_bytes: int | None = None,
) -> tuple[bool, int, int]:
    """Estimate the driver-side footprint of collecting ``df[vec_col]`` as
    a dense float64 matrix. Returns (fits, estimated_bytes, limit_bytes).
    max_bytes <= 0 disables the gate (always fits)."""
    if max_bytes is None:
        raw = df.sparkSession.conf.get(DRIVER_MATRIX_CONF, None)
        max_bytes = int(raw) if raw is not None else _DEFAULT_DRIVER_MATRIX_BYTES
    if max_bytes <= 0:
        return True, 0, max_bytes
    n = df.count()
    if dim is None:
        dim = _vector_dim(df, vec_col, empty=0)
    est = n * dim * 8
    return est <= max_bytes, est, max_bytes


def _vector_dim(df: DataFrame, vec_col: str, empty: int = 1) -> int:
    """Length of the first NON-NULL vector in ``vec_col``; ``empty`` for an
    empty or all-NULL frame. first() is a full Spark job at plan-build
    time — hot paths should pass dim explicitly. NULL rows are skipped: a
    NULL first row would otherwise crash len(), or read as a degenerate
    dim (every hyperplane signature collapses to one bucket and the
    candidate join becomes a cross product; the driver-matrix gate
    estimates 0 bytes and passes any corpus)."""
    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    return empty if row is None else len(row[0])


def _cosine(a: str, b: str, na: str, nb: str):
    """Exact cosine of vector columns ``a``/``b`` from their norm columns."""
    return _dot(F.col(a), F.col(b)) / (F.col(na) * F.col(nb))


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_knn(
    vectors: DataFrame,
    queries: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
) -> DataFrame:
    """Exact brute-force cosine top-k (J5/J7 baseline, ANN ground truth).

    queries=None → self-join KNN over ``vectors``. Output:
    (id, neighbor_id, cosine_sim) with k rows per id, ties broken by
    neighbor_id for determinism.

    Plan shape: broadcast(queries) × vectors → per-pair dot/norm (all
    JVM-side higher-order functions, no Python) → row_number window
    partitioned by query id. The big side is scanned once, never shuffled;
    the window shuffles only Q×N' candidate rows where N' already excludes
    nothing (exact mode). Use lsh_cosine_knn for the candidate-pruned path.
    """
    q = queries if queries is not None else vectors
    # norms are per-vector: compute them once per side, NOT per pair
    # (inside the pair expression they would re-fold 64 floats per pair)
    qd = q.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    rd = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__rv"),
        _norm(F.col(vec_col)).alias("__rn"),
    )
    pairs = F.broadcast(qd).crossJoin(rd)
    if not include_self:
        pairs = pairs.filter(F.col("id") != F.col("neighbor_id"))
    scored = pairs.select(
        "id",
        "neighbor_id",
        _safe_sim(_cosine("__qv", "__rv", "__qn", "__rn")).alias("cosine_sim"),
    )
    return _topk_finite(scored, k)


def _dlit(x: float) -> str:
    """A float as a Spark SQL DOUBLE literal (bare decimals parse as
    DECIMAL in Spark 4; exponent forms are already DOUBLE)."""
    r = repr(float(x))
    return r if ("e" in r or "E" in r or "n" in r) else r + "D"


def _sig_sql(vec_col: str, planes: list[list[float]]) -> str:
    """One signature (concat of sign bits) as a single SQL string:
    building the plane constants through the Column API costs a py4j
    round-trip per literal (planes × dim of them — measured seconds of
    pure plan-build time per query at 8×64), while an expr string is one
    round-trip total. Same fold shape either way."""
    bits = []
    for p in planes:
        arr = "array(" + ", ".join(_dlit(x) for x in p) + ")"
        bits.append(
            f"CASE WHEN aggregate(zip_with({vec_col}, {arr},"
            f" (x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (a, x) -> a + x)"
            f" >= 0.0D THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(bits) + ")"


def hyperplane_signature(
    df: DataFrame, vec_col: str, planes: list[list[float]], out_col: str = "lsh_sig"
) -> DataFrame:
    """Random-hyperplane LSH signature for cosine similarity: bit i = sign
    of dot(vec, plane_i). Pure DataFrame expression, no UDF (see
    _sig_sql for the build-cost note)."""
    return df.withColumn(out_col, F.expr(_sig_sql(vec_col, planes)))


def _stacked_signatures(
    df: DataFrame, id_col: str, vec_col: str, planes_per_table: list[list[list[float]]]
) -> DataFrame:
    """(tbl, sig, id, v, nrm) for ALL tables from ONE scan: every table's
    signature is computed in the same projection and fanned out with a
    stack() generator — versus a union of per-table branches, which
    re-scans the input once per table and multiplies the plan (measured:
    the 12-branch union dominated the query at 6 tables × 2 sides)."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    rows = ", ".join(
        f"{t}, {_sig_sql('v', planes)}" for t, planes in enumerate(planes_per_table)
    )
    return base.select(
        "id", "v", "nrm",
        F.expr(f"stack({len(planes_per_table)}, {rows}) as (tbl, sig)"),
    )


def _int8_scan_frame(
    vectors: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, __qv array<int>, __qn double) — the ONLY payload that crosses
    the candidate-generation shuffle on the quantized ANN path. Cosine is
    scale-invariant, so the per-vector quantization scale cancels:
    cos(v̂_a, v̂_b) = dot(q_a, q_b) / (|q_a|·|q_b|) — the int8 codes alone
    carry the approximate score, 4× less shuffle/scan IO than float64."""
    q = quantize_embeddings(vectors, id_col, vec_col, out_col="__qv")
    return q.select(
        F.col(id_col).alias("id"),
        F.col("__qv"),
        _norm(F.col("__qv")).alias("__qn"),
    )


def _finite_sims(df: DataFrame, col: str = "cosine_sim") -> DataFrame:
    """Drop non-finite similarity rows before the top-k window: NaN sims
    (NaN/Inf input vectors) sort ABOVE every real value in Spark ordering
    and would hijack every top-k they touch; NULL sims (zero-norm vectors
    under ANSI-off division) add junk rows. Finite inputs produce neither,
    so healthy results — and the DuckDB oracles — are unaffected (r12
    numeric-edge fuzz).

    NOTE (r15 opt): do NOT use this ahead of a pair-scoring window —
    Catalyst pushes the filter into the join condition and re-evaluates
    the interpreted higher-order cosine fold up to 3× per candidate pair
    (isnotnull + isnan in the condition, plus the projection). Use
    ``_safe_sim`` + ``_topk_finite`` instead, which evaluate the fold
    exactly once. This helper remains for frames whose sim column is
    already materialized (no fold to duplicate)."""
    return df.filter(F.col(col).isNotNull() & ~F.isnan(col))


def _safe_sim(sim):
    """NaN-safe similarity projection: nanvl evaluates its first arg ONCE
    and maps NaN → NULL (NULL stays NULL), so the downstream finite-guard
    can be a plain isNotNull — finite values pass through bit-identically
    (oracle hashes unchanged)."""
    return F.nanvl(sim, F.lit(None).cast("double"))


def _topk_finite(
    scored: DataFrame, k: int, sim_col: str = "cosine_sim",
    rn_name: str = "__rn",
) -> DataFrame:
    """Top-k per id by (sim DESC, neighbor_id ASC) with non-finite sims
    excluded, in the single-eval plan shape (r15 opt, guide §4.4 class).

    The old shape (`_finite_sims` BEFORE the window) let Catalyst push
    ``isNotNull & ~isnan(sim)`` into the join condition, evaluating the
    interpreted cosine fold 3× per candidate pair (measured: the
    knn_cosine_bruteforce BNLJ carried the whole fold twice in its join
    condition and once in the projection). New shape: the scoring
    projection wraps the fold in ``_safe_sim`` (single eval, NaN→NULL),
    the window orders sim DESC (Spark default NULLS LAST), and the
    finite filter runs AFTER row_number, where a predicate on a
    non-partition column cannot be pushed below the Window.

    Equivalence: every finite sim outranks every NULL in the window
    order, so {rn <= k AND sim IS NOT NULL} selects exactly the
    top-min(k, #finite) rows per id — the old `_finite_sims` result,
    including the NaN-hijack and zero-norm-junk contracts
    (test_numeric_edges)."""
    w = Window.partitionBy("id").orderBy(
        F.col(sim_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn(rn_name, F.row_number().over(w))
        .filter((F.col(rn_name) <= k) & F.col(sim_col).isNotNull())
        .drop(rn_name)
    )


def _rescore_topk(
    approx: DataFrame,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    r_k: int,
    queries: DataFrame | None = None,
    ascending: bool = False,
) -> DataFrame:
    """Shortlist, then full-precision rescore: keep the ``r_k`` best
    candidates per id by the approximate score ``__approx`` (a similarity,
    highest first — ``ascending=True`` for a distance; neighbor_id
    tiebreak), join the fp vectors back for both endpoints (equi-joins on
    id — only survivors touch float data), compute exact cosine, keep
    top-k per id. In novel-query mode the id side resolves against
    ``queries``."""
    score = F.col("__approx").asc() if ascending else F.col("__approx").desc()
    w = Window.partitionBy("id").orderBy(score, F.col("neighbor_id").asc())
    shortlist = (
        approx.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= r_k)
        .select("id", "neighbor_id")
    )
    fp = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    fp_q = (
        fp
        if queries is None
        else queries.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("nrm"),
        )
    )
    scored = (
        shortlist.join(fp_q, "id")
        .join(
            fp.select(
                F.col("id").alias("neighbor_id"),
                F.col("v").alias("__rv"),
                F.col("nrm").alias("__rn"),
            ),
            "neighbor_id",
        )
        .select(
            "id",
            "neighbor_id",
            _safe_sim(_cosine("v", "__rv", "nrm", "__rn")).alias("cosine_sim"),
        )
    )
    return _topk_finite(scored, k, rn_name="__rk")


def lsh_cosine_knn(
    vectors: DataFrame,
    queries: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int | str = 8,
    n_tables: int = 2,
    seed: int = 42,
    dim: int | None = None,
    quantized: bool = False,
    rescore_k: int | None = None,
) -> DataFrame:
    """Approximate KNN via hyperplane LSH: vectors sharing a signature
    in ANY of ``n_tables`` independent tables become candidates; exact
    cosine is computed only within buckets, then top-k per id.

    queries=None → self-KNN over ``vectors`` (self matches excluded).
    queries=DataFrame → J7 novel-query mode: the queries are signed with
    the SAME planes per table and probe the corpus buckets — per-query
    cost is O(n_tables · bucket occupancy), never a scan of the corpus.

    Scale analysis: with b bits per table, expected bucket size is N/2^b —
    candidate pairs per table ≈ N²/2^b, tunable to the cluster. The join is
    a shuffle on (table, signature): co-located, skew-handled by AQE.
    b (n_planes) is therefore a CAPACITY knob that must grow with the
    corpus — ceil(log2(N / target_bucket)) — not a fixed constant: the
    r13 second-decade ladder measured the sibling incremental path
    quadratic (exponent 2.19) at a frozen plane count, linear (0.70)
    once sized; n_tables buys recall at linear cost.
    Recall grows with n_tables (union of candidates), cost linearly.

    quantized=True routes the candidate scan through int8 codes
    (quantize_embeddings): the bucket shuffle carries array<int> codes
    instead of float64 vectors (4× less IO — cosine is scale-invariant so
    the codes alone rank candidates), the top ``rescore_k`` (default
    max(3k, k+8)) per query survive, and survivors are rescored at FULL
    precision before the final top-k — output contract identical.
    """
    from workbench_spark.operators.dedup import embedding_signatures, lsh_auto_planes

    if n_planes == "auto":
        n_planes = lsh_auto_planes(vectors.count())
    if dim is None:
        # one probe for both sides: queries sign with the corpus' planes
        dim = _vector_dim(vectors, vec_col)
    signed = embedding_signatures(vectors, id_col, vec_col, n_planes, n_tables, seed, dim)
    q_signed = (
        signed
        if queries is None
        else embedding_signatures(queries, id_col, vec_col, n_planes, n_tables, seed, dim)
    )
    if quantized:
        # int8 scan path: the candidate shuffle carries ONLY the codes
        # (4× less IO); survivors are rescored at full precision below
        scan = _int8_scan_frame(vectors, id_col, vec_col)
        scan_q = (
            scan if queries is None else _int8_scan_frame(queries, id_col, vec_col)
        )
        left = q_signed.select("tbl", "sig", "id").join(scan_q, "id").select(
            "tbl", "sig", "id",
            F.col("__qv").alias("__lq"), F.col("__qn").alias("__ln"),
        )
        right = signed.select("tbl", "sig", F.col("id").alias("neighbor_id")).join(
            scan.select(
                F.col("id").alias("neighbor_id"),
                F.col("__qv").alias("__rq"), F.col("__qn").alias("__rn8"),
            ),
            "neighbor_id",
        )
        cands = left.join(right, ["tbl", "sig"])
        if queries is None:
            cands = cands.filter(F.col("id") != F.col("neighbor_id"))
        cands = cands.dropDuplicates(["id", "neighbor_id"])
        approx = cands.select(
            "id", "neighbor_id", _cosine("__lq", "__rq", "__ln", "__rn8").alias("__approx")
        )
        r_k = rescore_k if rescore_k is not None else max(3 * k, k + 8)
        return _rescore_topk(approx, vectors, id_col, vec_col, k, r_k, queries=queries)
    left = q_signed.select(
        "tbl", "sig", F.col("id"), F.col("v").alias("__qv"), F.col("nrm").alias("__qn")
    )
    right = signed.select(
        "tbl", "sig", F.col("id").alias("neighbor_id"),
        F.col("v").alias("__rv"), F.col("nrm").alias("__rn"),
    )
    cands = left.join(right, ["tbl", "sig"])
    if queries is None:
        cands = cands.filter(F.col("id") != F.col("neighbor_id"))
    cands = cands.dropDuplicates(["id", "neighbor_id"])
    scored = cands.select(
        "id",
        "neighbor_id",
        _safe_sim(_cosine("__qv", "__rv", "__qn", "__rn")).alias("cosine_sim"),
    )
    return _topk_finite(scored, k)


def euclidean_knn_standardized(
    df: DataFrame,
    feature_cols: list[str],
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """J5 — the reference's standardized-Euclidean KNN (proximity.py:100-271):
    z-score each feature (global mean/std, one agg pass broadcast back),
    then exact top-k by euclidean distance. Output matches the reference's
    canonical frame: (id, neighbor_id, distance).

    Scale note: self-mode is an all-pairs broadcast — ground truth and
    oracle parity ONLY. Production at scale routes through
    euclidean_knn_bucketed (equi-join candidate generation)."""
    z = _zscore_frame(df, feature_cols, id_col)
    a = z.select(F.col(id_col).alias("id"), F.col("__z").alias("__za"))
    b = z.select(F.col(id_col).alias("neighbor_id"), F.col("__z").alias("__zb"))
    pairs = F.broadcast(a).crossJoin(b).filter(F.col("id") != F.col("neighbor_id"))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("__za", "__zb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = pairs.select("id", "neighbor_id", dist.alias("distance"))
    w = Window.partitionBy("id").orderBy(F.col("distance").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _zscore_frame(df: DataFrame, feature_cols: list[str], id_col: str) -> DataFrame:
    """(id, __z array) with globally standardized features — one agg pass
    broadcast back (stats frame is 1 row regardless of data size).

    mu/sd are computed from EXACT integer sums of micro-quantized values
    (Σq and Σq² with q = floor(x·1e6 + 0.5), DECIMAL-typed so they never
    overflow), then one fixed double-op sequence — NOT float avg/stddev.
    Float aggregation order perturbs mu/sd's low bits with the partition
    layout, and a z-score tie between two equal raw gaps then resolves
    differently run-to-run, flipping the k-th neighbor (r13: caught by
    the hostile-partitioning sweep on m4_uq_neighbors — acctbal's
    2-decimal grid makes such ties real). The exact sums are associative
    in any partitioning AND replayable in DuckDB (HUGEINT twins), so
    neighbor selection is deterministic and oracle-matched bit-for-bit.
    Quantization shifts each input by < 5e-7 — far inside the use case
    (standardized distances for neighborhood selection). Σq² headroom:
    fits decimal(38,0) while n·(x·1e6)² < 1e38 (|x| ≲ 1e10 over 1e6 rows);
    past it the sum NULLs silently under ANSI-off — see
    eda.descriptive_stats' exact-mode note."""
    q = {
        c: F.floor(F.col(c).cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
            "decimal(19,0)"
        )
        for c in feature_cols
    }
    stats = df.agg(
        *[F.sum(q[c]).cast("decimal(38,0)").alias(f"{c}__s") for c in feature_cols],
        *[
            F.sum((q[c] * q[c]).cast("decimal(38,0)")).alias(f"{c}__qq")
            for c in feature_cols
        ],
        *[F.count(q[c]).alias(f"{c}__n") for c in feature_cols],
    )
    def _mu(c):
        return F.col(f"{c}__s").cast("double") / F.col(f"{c}__n") / F.lit(1e6)

    def _sd(c):
        s_d = F.col(f"{c}__s").cast("double")
        qq_d = F.col(f"{c}__qq").cast("double")
        n = F.col(f"{c}__n")
        return (
            F.sqrt(
                F.greatest(
                    (qq_d - s_d * s_d / n) / (n - F.lit(1)), F.lit(0.0)
                )
            )
            / F.lit(1e6)
        )

    return df.crossJoin(F.broadcast(stats)).select(
        F.col(id_col),
        F.array(
            *[
                (
                    (F.col(c).cast("double") - _mu(c))
                    / F.when(_sd(c) > 0, _sd(c)).otherwise(F.lit(1.0))
                )
                for c in feature_cols
            ]
        ).alias("__z"),
    )


def euclidean_knn(
    df: DataFrame,
    feature_cols: list[str],
    id_col: str,
    k: int = 5,
    method: str = "exact",
    **bucketed_kwargs,
) -> DataFrame:
    """Dispatcher for standardized-Euclidean KNN — the single entry point
    the M1/M4/M6 operators route through. method='exact' (all-pairs
    broadcast, oracle/ground-truth), 'bucketed' (BRP-LSH equi-join, the
    scale path)."""
    if method == "exact":
        return euclidean_knn_standardized(df, feature_cols, id_col, k=k)
    if method == "bucketed":
        return euclidean_knn_bucketed(df, feature_cols, id_col, k=k, **bucketed_kwargs)
    raise ValueError(f"unknown euclidean KNN method {method!r}")


def euclidean_knn_bucketed(
    df: DataFrame,
    feature_cols: list[str],
    id_col: str,
    k: int = 5,
    bucket_length: float = 1.0,
    num_hash_tables: int = 4,
    distance_threshold: float = float("inf"),
    seed: int = 42,
) -> DataFrame:
    """J5 scale path (VERDICT r1 ask): standardized-Euclidean KNN whose
    candidate generation is an EQUI-JOIN on LSH bucket ids — no full-set
    broadcast, no cross product, survives N far beyond broadcast limits.

    Same output frame as euclidean_knn_standardized: (id, neighbor_id,
    distance), top-k per id, neighbor-id tiebreak — but approximate:
    a true neighbor is missed only if it lands in a different bucket in
    ALL ``num_hash_tables`` tables (P ≈ (1-p)^t, p rising as
    bucket_length grows). Recall dial = num_hash_tables / bucket_length.

    Plan shape: MLlib BucketedRandomProjectionLSH assigns each row
    ``num_hash_tables`` bucket ids map-side; candidates explode to
    (table, bucket) keys and join co-located (shuffle on the bucket key,
    skew handled by AQE); exact distances are computed only within
    buckets. This is the plan you want at 100 TB — the exact operator
    (euclidean_knn_standardized) broadcasts the whole set and is kept for
    oracle parity and ground truth only.

    Reference parity: proximity.py:100-271 (sklearn NearestNeighbors is
    exact; at reference scale ≤100k rows exact is fine — this operator is
    what replaces it when the row count has more digits).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    z = _zscore_frame(df, feature_cols, id_col).withColumn(
        "__vec", array_to_vector("__z")
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="__vec",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(z)
    joined = brp.approxSimilarityJoin(z, z, distance_threshold, distCol="distance")
    scored = joined.select(
        F.col(f"datasetA.{id_col}").alias("id"),
        F.col(f"datasetB.{id_col}").alias("neighbor_id"),
        F.col("distance"),
    ).filter(F.col("id") != F.col("neighbor_id"))
    w = Window.partitionBy("id").orderBy(F.col("distance").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_cosine_knn(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 3,
    seed: int = 42,
    quantized: bool | str = False,
    rescore_k: int | None = None,
    exact: bool = False,
    dim: int | None = None,
    iters: int = 3,
) -> DataFrame:
    """IVF (inverted-file) approximate KNN — the other scale path besides
    LSH: KMeans coarse quantizer partitions vectors into cells; each query
    scores only vectors in its ``n_probe`` nearest cells.

    ``exact=True`` (r12) swaps the MLlib quantizer for the fixed-point
    integer Lloyd twin (operators/kmeans_exact.py): cell assignment and
    probing become bit-identical across engines, making the whole IVF
    retrieval DuckDB-replayable (the oracle-grade mode — requires ``dim``).
    Candidate generation, scoring, and the top-k contract are unchanged.

    Scale shape: candidate generation is an equi-join on cell id
    (≈ N·k·n_probe/n_cells pairs instead of N²); the quantizer fits on a
    sample and assignment is a map-side MLlib transform. Recall rises with
    n_probe at linear cost. Output matches cosine_knn: (id, neighbor_id,
    cosine_sim), top-k per id, neighbor-id tiebreak.

    quantized=True is IVF-SQ8: cell assignment/probing stay on the fp
    vectors (map-side, index-build-time work), but the cell equi-join —
    where the shuffle IO lives — carries ONLY int8 codes; the top
    ``rescore_k`` (default max(3k, k+8)) survivors per query are rescored
    at full precision. Output contract identical.

    quantized='pq' is IVF-PQ (Jégou 2011): the cell join carries m-byte
    PQ codes (8 bytes/vector at the defaults — 8× less than SQ8, 32×
    less than float64) and pairs are scored symmetrically via the SDC
    dot tables; the rescore default widens to max(20k, 100) — BOTH pair
    sides are quantized (symmetric), so ranking is coarse, and the whole
    point of m-lookup scoring is that a wide shortlist is nearly free
    next to the scan savings (rescore cost stays k·20 rows/query).
    Same output contract.
    """
    if exact:
        if dim is None:
            raise ValueError("exact=True requires dim (quantization width)")
        from workbench_spark.operators.kmeans_exact import (
            centroid_scores,
            kmeans_fixed_point,
            quantize_array_col,
        )

        base = vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("nrm"),
        )
        z = quantize_array_col(base, "v", dim)
        assigned, cents = kmeans_fixed_point(z, k=n_cells, iters=iters)
        # probe the n_probe integer-nearest cells (dist, cell-idx tiebreak).
        # Fuse the probe shortlist INTO the assigned frame and materialize
        # once (r15 opt, CLAUDE.md single-eval rule): assigned feeds BOTH
        # join sides (query probes + corpus cells), so without the
        # checkpoint each side re-evaluates the k·dim-literal centroid
        # folds per row — 2× the scoring map work at scale, and 2× the
        # k·dim expression trees compiled per plan (the dominant cost at
        # small SF: 16.4–17.7 s cold → measured after: fold sites in the
        # retrieval plan 25 → 1). Same expressions evaluated once —
        # bit-identical cells/probes/output.
        assigned = (
            assigned.withColumn(
                "__probes",
                F.slice(F.array_sort(centroid_scores(cents)), 1, n_probe)["c"],
            )
            .select("id", "v", "nrm", "__cell", "__probes")
            .localCheckpoint(eager=False)
        )
        probes = assigned.withColumn("__probe", F.explode("__probes"))
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        vecs = vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("nrm"),
        ).withColumn(
            "__mlvec", array_to_vector(F.transform("v", lambda x: x.cast("double")))
        )
        km = KMeans(
            k=n_cells, seed=seed, featuresCol="__mlvec", predictionCol="__cell"
        ).fit(vecs)
        centers = [list(c) for c in km.clusterCenters()]

        # assign each vector to its cell (map-side)
        assigned = km.transform(vecs).drop("__mlvec")

        # each query probes its n_probe nearest cells: score distance to
        # every center via a literal array (n_cells is small by construction)
        def center_dot(c):
            arr = F.array(*[F.lit(float(x)) for x in c])
            return _dot(F.col("v"), arr) / (
                F.col("nrm") * F.lit(sum(x * x for x in c) ** 0.5)
            )

        cell_scores = F.array(
            *[
                F.struct(center_dot(c).alias("s"), F.lit(i).alias("cell"))
                for i, c in enumerate(centers)
            ]
        )
        # same single-eval fuse as the exact branch: assigned feeds both
        # join sides — materialize the cell/probe columns once instead of
        # re-running the model transform + k·dim-literal score fold per side
        assigned = (
            assigned.withColumn(
                "__probes",
                F.slice(F.reverse(F.array_sort(cell_scores)), 1, n_probe)["cell"],
            )
            .select("id", "v", "nrm", "__cell", "__probes")
            .localCheckpoint(eager=False)
        )
        probes = assigned.withColumn("__probe", F.explode("__probes"))
    if quantized == "pq":
        books = pq_train(vectors, id_col, vec_col, m=8, k=16, seed=seed)
        scan = pq_sdc_frame(vectors, books, id_col, vec_col).withColumnRenamed(
            id_col, "id"
        )
        left = probes.select(F.col("__probe").alias("cell"), "id").join(
            scan, "id"
        ).select(
            "cell", "id", F.col("__pqc").alias("__la"), F.col("__pqn").alias("__lan")
        )
        right = assigned.select(
            F.col("__cell").alias("cell"), F.col("id").alias("neighbor_id")
        ).join(
            scan.select(
                F.col("id").alias("neighbor_id"),
                F.col("__pqc").alias("__ra"), F.col("__pqn").alias("__ran"),
            ),
            "neighbor_id",
        )
        cands = (
            left.join(right, "cell")
            .filter(F.col("id") != F.col("neighbor_id"))
            .dropDuplicates(["id", "neighbor_id"])
        )
        approx = cands.select(
            "id",
            "neighbor_id",
            F.expr(
                _pq_pair_cos_sql(books, "__la", "__ra", "__lan", "__ran")
            ).alias("__approx"),
        )
        r_k = rescore_k if rescore_k is not None else max(20 * k, 100)
        return _rescore_topk(approx, vectors, id_col, vec_col, k, r_k)
    if quantized:
        scan = _int8_scan_frame(vectors, id_col, vec_col)
        left = probes.select(F.col("__probe").alias("cell"), "id").join(
            scan, "id"
        ).select(
            "cell", "id", F.col("__qv").alias("__lq"), F.col("__qn").alias("__ln")
        )
        right = assigned.select(
            F.col("__cell").alias("cell"), F.col("id").alias("neighbor_id")
        ).join(
            scan.select(
                F.col("id").alias("neighbor_id"),
                F.col("__qv").alias("__rq"), F.col("__qn").alias("__rn8"),
            ),
            "neighbor_id",
        )
        cands = (
            left.join(right, "cell")
            .filter(F.col("id") != F.col("neighbor_id"))
            .dropDuplicates(["id", "neighbor_id"])
        )
        approx = cands.select(
            "id", "neighbor_id", _cosine("__lq", "__rq", "__ln", "__rn8").alias("__approx")
        )
        r_k = rescore_k if rescore_k is not None else max(3 * k, k + 8)
        return _rescore_topk(approx, vectors, id_col, vec_col, k, r_k)
    left = probes.select(
        F.col("__probe").alias("cell"),
        F.col("id"),
        F.col("v").alias("__qv"),
        F.col("nrm").alias("__qn"),
    )
    right = assigned.select(
        F.col("__cell").alias("cell"),
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("__rv"),
        F.col("nrm").alias("__rn"),
    )
    cands = (
        left.join(right, "cell")
        .filter(F.col("id") != F.col("neighbor_id"))
        .dropDuplicates(["id", "neighbor_id"])
    )
    scored = cands.select(
        "id",
        "neighbor_id",
        _safe_sim(_cosine("__qv", "__rv", "__qn", "__rn")).alias("cosine_sim"),
    )
    return _topk_finite(scored, k, rn_name="__rn2")


def cosine_knn_blas(
    vectors: DataFrame,
    queries: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
) -> DataFrame:
    """Exact brute-force cosine top-k via BLAS: the query matrix (small
    side) ships to every partition; each partition computes a dense
    numpy matmul block (Q_norm @ R_norm^T) and emits its block-local
    top-k; a final window reduces to the global top-k.

    This is the production brute-force: per-pair higher-order-function
    dots evaluate one multiply at a time in the SQL interpreter, ~50x
    slower than a vectorized matmul at 5k x 5k. Results are identical up
    to float-summation order (use cosine_knn for bit-exact sequential
    folds when hash-matching an oracle).

    Scale: driver holds only the query matrix (Q x dim); the reference
    side streams through mapInPandas in Arrow batches. For huge Q,
    partition the queries and union.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q = queries if queries is not None else vectors
    fits, est, limit = driver_matrix_check(q, vec_col)
    if not fits:
        raise ValueError(
            f"cosine_knn_blas would collect ~{est >> 20} MiB of query vectors "
            f"onto the driver (limit {limit >> 20} MiB). Use lsh_cosine_knn / "
            f"ivf_cosine_knn for query sets this large, partition the queries "
            f"and union, or raise {DRIVER_MATRIX_CONF}."
        )
    q_pdf = q.select(id_col, vec_col).toPandas()
    q_ids = q_pdf[id_col].to_numpy()
    Q = np.stack(q_pdf[vec_col].to_numpy()).astype(np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    # preserve the caller's id type (string ids must survive — ADVICE r1)
    id_type = q.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("neighbor_id", vectors.schema[id_col].dataType),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    def block_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rids = pdf[id_col].to_numpy()
            R = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Rn = R / np.maximum(np.linalg.norm(R, axis=1, keepdims=True), 1e-300)
            sims = Qn @ Rn.T  # (nq, nr)
            if not include_self:
                same = q_ids[:, None] == rids[None, :]
                sims = np.where(same, -np.inf, sims)
            kk = min(k, sims.shape[1])
            idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            rows = []
            for qi in range(sims.shape[0]):
                for rj in idx[qi]:
                    s = sims[qi, rj]
                    if s != -np.inf:
                        rows.append((q_ids[qi], rids[rj], float(s)))
            yield pd.DataFrame(rows, columns=["id", "neighbor_id", "cosine_sim"])

    fanned = vectors.select(id_col, vec_col)
    cores = vectors.sparkSession.sparkContext.defaultParallelism
    if fanned.rdd.getNumPartitions() < cores:
        fanned = fanned.repartition(cores)
    block = fanned.mapInPandas(block_topk, schema=out_schema)
    w = Window.partitionBy("id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return (
        block.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def embedding_group_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    normalize: bool = False,
    exact: bool = False,
) -> DataFrame:
    """Per-group centroid of an embedding column: (group, centroid,
    n_vectors). The class-prototype primitive (nearest-centroid
    classification, cluster summaries, IVF coarse quantizer seeding).

    Plan shape: posexplode → per-(group, dim) avg (ONE shuffle, map-side
    combinable partials — never collect vectors) → re-assemble the array
    with sort_array(collect_list(struct(dim, avg))) per group. The second
    groupBy reuses the same group key; dims-per-group rows are tiny
    (n_groups × dim). ``normalize=True`` L2-normalizes the centroid
    (cosine-prototype form).

    ``exact=True`` (oracle mode — r15 ROUND(SUM) audit conversion): the
    per-dim mean is the quantized integer fold (floor(v·1e6+0.5) BIGINT
    sum, then ONE double division) instead of float AVG, whose
    accumulation-order low bits could flip the downstream d=4 rounding —
    float32 components have no decimal grid. Production default stays
    float AVG (full precision, one fewer projection). A non-finite
    component NULLs that (group, dim)'s WHOLE mean (the uq.qmean
    convention, r15 review — a dropped-term mean would be silently
    biased, and the ANSI-off cast would saturate instead of erroring);
    NULL components stay "missing" (excluded by the COUNT(v) divisor),
    matching float AVG. The DuckDB twin in queries_pipeline mirrors
    both rules."""
    exploded = df.select(
        F.col(group_col).alias("g"), F.posexplode(F.col(vec_col)).alias("d", "v")
    )
    if exact:
        v = F.col("v").cast("double")
        bad = v.isNotNull() & (
            F.isnan(v)
            | (v == F.lit(float("inf")))
            | (v == F.lit(float("-inf")))
        )
        q = F.when(~bad, F.floor(v * F.lit(1e6) + F.lit(0.5))).cast("long")
        n_bad = F.sum(F.when(bad, F.lit(1)).otherwise(F.lit(0)))
        per_dim = exploded.groupBy("g", "d").agg(
            F.when(n_bad > 0, F.lit(None).cast("double"))
            .otherwise(F.sum(q).cast("double") / F.count("v") / F.lit(1e6))
            .alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
    else:
        per_dim = exploded.groupBy("g", "d").agg(
            F.avg("v").alias("m"), F.count(F.lit(1)).alias("n")
        )
    out = per_dim.groupBy("g").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
        ).alias("centroid"),
        # max, not first: deterministic, and for ragged/partially-null
        # vectors it reports the true group membership count (the dim
        # every member has), where an unordered first() is arbitrary
        F.max("n").alias("n_vectors"),
    )
    if normalize:
        out = out.withColumn("__n", _norm(F.col("centroid"))).withColumn(
            "centroid",
            F.transform("centroid", lambda x: x / F.col("__n")),
        ).drop("__n")
    return out.select(
        F.col("g").alias(group_col), "centroid", "n_vectors"
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "q_embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization — the standard 4x storage/IO
    saver for large embedding tables (and the format ANN engines scan):
    per-vector scale = max|v| / 127, q_i = floor(v_i/scale + 0.5) clamped
    to [-127, 127]. Adds (q_embedding array<int>, q_scale double);
    dequantize_embeddings inverts with per-component error ≤ scale/2.

    floor(x + 0.5) rather than ROUND: deterministic across engines at the
    .5 boundaries (see queries_pipeline._fround) and one codegen'd
    expression per row — no UDF, no shuffle. All-zero vectors get scale 0
    and an all-zero code (guarded division)."""
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = amax / F.lit(127.0)
    q = F.transform(
        v,
        lambda x: F.least(
            F.greatest(
                F.floor(
                    F.try_divide(x.cast("double"), scale) + F.lit(0.5)
                ).cast("int"),
                F.lit(-127),
            ),
            F.lit(127),
        ),
    )
    zeros = F.transform(v, lambda x: F.lit(0))
    return df.withColumn("q_scale", scale).withColumn(
        out_col, F.when(scale > 0, q).otherwise(zeros)
    )


def dequantize_embeddings(
    df: DataFrame, q_col: str = "q_embedding", scale_col: str = "q_scale",
    out_col: str = "embedding_approx",
) -> DataFrame:
    """Inverse of quantize_embeddings: v̂_i = q_i · scale."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)),
    )


# ------------------------------------------------------------ product quant
def pq_train(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample_n: int = 4096,
    iters: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    vector into ``m`` contiguous subspaces and k-means each one to ``k``
    centroids. Returns codebooks[m][k][dim/m].

    The training sample is a DETERMINISTIC prefix of the non-NULL vectors
    (orderBy id, limit) — PQ codebooks only need the distribution, and
    determinism beats sampling finesse for replayability. The pull is gated by
    driver_matrix_check (FAISS trains PQ on a driver-side sample the
    same way); Lloyd runs seeded numpy on sample_n×(dim/m) blocks."""
    import numpy as np

    if dim is None:
        dim = _vector_dim(vectors, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sample = (
        vectors.filter(F.col(vec_col).isNotNull())
        .orderBy(F.col(id_col))
        .limit(sample_n)
        .select(vec_col)
    )
    fits, est, lim = driver_matrix_check(sample, vec_col, dim=dim)
    if not fits:
        raise ValueError(
            f"pq_train sample would need {est}B on the driver (limit {lim}B); "
            "lower sample_n"
        )
    X = np.array([r[0] for r in sample.collect()], dtype=np.float64)
    rng = np.random.default_rng(seed)
    d_sub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        S = X[:, j * d_sub:(j + 1) * d_sub]
        # k-means++-lite seeded init: k distinct sample rows
        idx = rng.choice(len(S), size=min(k, len(S)), replace=False)
        C = S[idx].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def _pq_cent_dist_sql(sub_col: str, cent: list[float]) -> str:
    """Squared L2 distance from a PROJECTED subvector column to ONE
    centroid, as a zip_with + aggregate fold over the centroid's array
    literal. Chosen over flat unrolled element_at sums for BOTH measured
    reasons: (1) m*k*d_sub flat terms in one fused WholeStageCodegen
    processNext exceed janino's 64 KB limit even when arranged as separate
    scalar expressions (locals-based WSCG input can't be method-split), so
    the stage fell back interpreted with ERROR CodeGenerator noise;
    (2) the r6 counter-cliff: dense numeric HOF folds over primitive
    arrays beat element_at-per-term by ~3x (element_at pays per-access
    bounds/null checks). Lambdas capture nothing outer — the centroid
    literal is an argument, the subvector is an attribute."""
    arr = "array(" + ", ".join(_dlit(c) for c in cent) + ")"
    return (
        f"aggregate(zip_with({sub_col}, {arr}, "
        f"(a, b) -> power(cast(a as double) - b, 2)), "
        f"cast(0 as double), (acc, x) -> acc + x)"
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode each vector as m one-byte codes (nearest centroid per
    subspace, first-index tiebreak): (id, pq_codes array<int>) — the
    m-byte-per-vector index payload (64-dim float64 → 8 bytes: 64×
    smaller scan). Two projections: the m distance arrays, then
    array_position(argmin) over those attributes — everything flat
    codegen-able arithmetic."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    # Stage 1: project each subvector ONCE (attribute rule — never re-slice
    # inside the k per-centroid folds). Stage 2: one small fold expression
    # per (subspace, centroid) — see _pq_cent_dist_sql for why folds, not
    # flat unrolled terms. Stage 3: assemble per-subspace arrays from the
    # scalar ATTRIBUTES and take argmin.
    subs = df.select(
        F.col(id_col),
        *[
            F.expr(f"slice({vec_col}, {j * d_sub + 1}, {d_sub})").alias(f"__s_{j}")
            for j in range(m)
        ],
    )
    staged = subs.select(
        F.col(id_col),
        *[
            F.expr(_pq_cent_dist_sql(f"__s_{j}", cent)).alias(f"__d_{j}_{c}")
            for j in range(m)
            for c, cent in enumerate(codebooks[j])
        ],
    )
    with_arrays = staged.select(
        F.col(id_col),
        *[
            F.array(*[F.col(f"__d_{j}_{c}") for c in range(len(codebooks[j]))]).alias(
                f"__d_{j}"
            )
            for j in range(m)
        ],
    )
    codes = F.array(
        *[
            (F.array_position(F.col(f"__d_{j}"), F.array_min(F.col(f"__d_{j}"))) - 1)
            .cast("int")
            .alias(f"c{j}")
            for j in range(m)
        ]
    )
    return with_arrays.select(F.col(id_col), codes.alias(out_col))


def pq_decode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    codes_col: str = "pq_codes",
    out_col: str = "embedding_approx",
) -> DataFrame:
    """Reconstruct the approximation: concatenate each subspace's coded
    centroid. Mean squared reconstruction error is the PQ distortion —
    it shrinks as k grows (tested) and, unlike scalar quantization, PQ
    exploits intra-subspace correlation when the data has any."""
    m = len(codebooks)
    arrs = []
    for j in range(m):
        lut = "array(" + ", ".join(
            "array(" + ", ".join(_dlit(x) for x in cent) + ")" for cent in codebooks[j]
        ) + ")"
        arrs.append(F.expr(f"element_at({lut}, element_at({codes_col}, {j + 1}) + 1)"))
    return df.withColumn(out_col, F.concat(*arrs))


def pq_knn(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    rescore_k: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """PQ-ADC nearest neighbors (Jégou 2011 asymmetric distance): encode
    the corpus once (m bytes/vector), build per-QUERY lookup tables
    (exact query-subvector → centroid distances, computed map-side on the
    small query frame), broadcast the queries, and score every corpus
    code by m table lookups — then rescore the top ``rescore_k``
    (default max(4k, k+16)) survivors at full precision and return exact
    top-k cosine per query, same output contract as cosine_knn.

    Scale shape: the corpus-side scan reads ONLY the m-byte codes (the
    same IO argument as quantized= in lsh/ivf, 32× stronger); the
    broadcast-queries × codes join is the allow-listed small-broadcast
    pattern (knn_cosine_bruteforce), with the per-pair work reduced from
    O(dim) float ops to m element_at lookups. Pair PQ with the IVF cell
    join when the query set itself scales."""
    if dim is None:
        dim = _vector_dim(vectors, vec_col)
    books = codebooks if codebooks is not None else pq_train(
        vectors, id_col, vec_col, m=m, k=n_codes, seed=seed, dim=dim
    )
    m = len(books)
    d_sub = len(books[0][0])
    codes = pq_encode(vectors, books, id_col, vec_col)
    # Subvector projection, then per-centroid fold scalars, then nested-
    # array assembly from attributes — same janino-64KB + fold rationale
    # as pq_encode (see _pq_cent_dist_sql).
    q_subs = queries.select(
        F.col(id_col).alias("id"),
        *[
            F.expr(f"slice({vec_col}, {j * d_sub + 1}, {d_sub})").alias(f"__qs_{j}")
            for j in range(m)
        ],
    )
    q_scal = q_subs.select(
        "id",
        *[
            F.expr(_pq_cent_dist_sql(f"__qs_{j}", cent)).alias(f"__l_{j}_{c}")
            for j in range(m)
            for c, cent in enumerate(books[j])
        ],
    )
    # LUTs as m FLAT per-subspace array columns and codes as m scalar int
    # columns — NOT one nested array<array> + element_at(pq_codes, j) per
    # pair (r15, measured interleaved at sf0.1: nested lookups + per-pair
    # array extracts ran the end-to-end query 10.7 s vs 6.1 s flat, ratio
    # 0.57 — a flat-attribute read costs one offset lookup where the
    # nested form pays array-header navigation twice per term, 8 terms
    # per pair). Both forms sum the same doubles in the same j-ascending
    # order, so __approx is bit-identical and the shortlist unchanged.
    q_luts = q_scal.select(
        "id",
        *[
            F.array(*[F.col(f"__l_{j}_{c}") for c in range(len(books[j]))]).alias(
                f"__lt_{j}"
            )
            for j in range(m)
        ],
    )
    codes_w = codes.select(
        F.col(id_col).alias("neighbor_id"),
        *[
            F.element_at("pq_codes", j + 1).cast("int").alias(f"__c_{j}")
            for j in range(m)
        ],
    )
    adc = " + ".join(f"element_at(__lt_{j}, __c_{j} + 1)" for j in range(m))
    # queries are a SEPARATE frame (J7 novel-query mode, like
    # lsh_cosine_knn queries=): a shared id space is coincidental, so no
    # self-exclusion — pass corpus rows as queries explicitly for self-KNN.
    # Project to the three pair columns IMMEDIATELY: the window exchange
    # and its sort buffers must never carry the ~1 KB of LUT doubles per
    # candidate pair.
    scored = (
        F.broadcast(q_luts)
        .crossJoin(codes_w)
        .select("id", "neighbor_id", F.expr(adc).alias("__approx"))
    )
    r_k = rescore_k if rescore_k is not None else max(4 * k, k + 16)
    return _rescore_topk(
        scored, vectors, id_col, vec_col, k, r_k, queries=queries, ascending=True
    )


def _pq_dot_table_sql(book_j: list[list[float]]) -> str:
    """k×k literal table of centroid dot products for one subspace — the
    symmetric-distance-computation (SDC) table of Jégou 2011 §III.A,
    adapted to dot products so cosine can be assembled from code pairs."""
    rows = []
    for ca in book_j:
        vals = ", ".join(
            _dlit(sum(x * y for x, y in zip(ca, cb))) for cb in book_j
        )
        rows.append(f"array({vals})")
    return "array(" + ", ".join(rows) + ")"


def pq_sdc_frame(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, __pqc array<int>, __pqn double): PQ codes plus the code-space
    norm ≈ |v̂| (from the per-subspace self dot products) — everything a
    SYMMETRIC pair scoring needs, m+8 bytes per vector. The norm is
    precomputed here so the pair expression references each dot table
    once (the tables are 2048 literals; repeating them per norm term
    would triple the plan size)."""
    m = len(codebooks)
    codes = pq_encode(vectors, codebooks, id_col, vec_col, out_col="__pqc")
    norm_sq = " + ".join(
        f"element_at(element_at({_pq_dot_table_sql(codebooks[j])},"
        f" element_at(__pqc, {j + 1}) + 1), element_at(__pqc, {j + 1}) + 1)"
        for j in range(m)
    )
    return codes.withColumn("__pqn", F.expr(f"sqrt({norm_sq})"))


def _pq_pair_cos_sql(codebooks: list[list[list[float]]], a: str, b: str,
                     an: str, bn: str) -> str:
    """Approximate cosine between two PQ code arrays via the SDC dot
    tables: Σ_j T_j[a_j][b_j] / (|â|·|b̂|) — m element_at lookups per
    pair, each literal table referenced exactly once."""
    m = len(codebooks)
    dot = " + ".join(
        f"element_at(element_at({_pq_dot_table_sql(codebooks[j])},"
        f" element_at({a}, {j + 1}) + 1), element_at({b}, {j + 1}) + 1)"
        for j in range(m)
    )
    return f"({dot}) / ({an} * {bn})"


def embedding_space_audit(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Embedding-space quality audit — the standard pre-index panel
    (Ethayarajh 2019 anisotropy / "cone effect"): one row with
    (n_vecs, dim, mean_norm, std_norm, anisotropy) where anisotropy =
    ||E[v/||v||]||², the squared norm of the mean DIRECTION — 0 for an
    isotropic cloud, →1 when all vectors share a cone. High anisotropy
    means cosine scores compress and LSH/IVF recall dials need retuning.

    Engine-exactness: per-row norms are sequential within-row folds (the
    cosine-oracle idiom); every CROSS-ROW sum is quantized to integer
    units first (norms at 1e6 for the mean, 1e4 for the square-sum so a
    billion-row corpus of norm ≲ 3e5/1e4 stays inside BIGINT; normalized
    components at 1e6; per-dim squared means at 1e12), so the folds are
    commutative and a SQL oracle hash-matches bit-for-bit.

    Scale: one projection pass + one (dim)-keyed groupBy (64-4096 groups)
    + two scalar aggregations — no joins, no windows, no driver arrays."""
    base = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(vec_col).alias("__v"))
        .withColumn("__nrm", _norm(F.col("__v")))
        # non-finite norms (NaN/Inf components): NULL the norm so the row
        # drops out of every fold instead of poisoning it — under ANSI-off
        # cast(NaN as long) is 0 and cast(Inf as long) saturates, either of
        # which would silently corrupt the quantized sums (r12 fuzz)
        .withColumn(
            "__nrm",
            F.when(
                F.isnan("__nrm") | (F.abs("__nrm") == F.lit(float("inf"))), None
            ).otherwise(F.col("__nrm")),
        )
    )
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")
    q4 = lambda c: F.floor(c * F.lit(1e4) + F.lit(0.5)).cast("long")
    scalars = base.select(
        q6(F.col("__nrm")).alias("__q6"),
        q4(F.col("__nrm")).alias("__q4"),
        F.size("__v").alias("__d"),
    ).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.max("__d").alias("dim"),
        F.sum("__q6").alias("s1"),
        F.sum(F.col("__q4") * F.col("__q4")).alias("s2"),
    )
    # per-dim sums of quantized normalized components (map-side combinable)
    comps = base.select(
        F.posexplode(
            F.transform(F.col("__v"), lambda x: x.cast("double") / F.col("__nrm"))
        ).alias("dim_i", "c")
    ).select("dim_i", q6(F.col("c")).alias("qc"))
    per_dim = comps.groupBy("dim_i").agg(F.sum("qc").alias("sd"))
    fr = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    n_b = scalars.select("n_vecs")
    aniso = (
        per_dim.crossJoin(F.broadcast(n_b))
        .select(
            F.floor(
                F.pow(
                    F.col("sd").cast("double")
                    / F.col("n_vecs").cast("double")
                    / F.lit(1e6),
                    F.lit(2.0),
                )
                * F.lit(1e12)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").alias("st"))
    )
    mean_norm = F.col("s1").cast("double") / F.col("n_vecs") / F.lit(1e6)
    var_norm = (
        F.col("s2").cast("double") / F.lit(1e8) / F.col("n_vecs")
        - (F.col("s1").cast("double") / F.col("n_vecs") / F.lit(1e6))
        * (F.col("s1").cast("double") / F.col("n_vecs") / F.lit(1e6))
    )
    return scalars.crossJoin(F.broadcast(aniso)).select(
        "n_vecs",
        "dim",
        fr(mean_norm).alias("mean_norm"),
        fr(F.sqrt(F.greatest(var_norm, F.lit(0.0)))).alias("std_norm"),
        fr(F.col("st").cast("double") / F.lit(1e12)).alias("anisotropy"),
    )
