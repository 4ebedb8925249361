"""Deduplication operators for large-scale text corpora (LLM-pipeline
extension mandated alongside SURVEY §2; the reference's own dedup surface
is dropDuplicates-style — utils/pandas_utils.py:731-744 and
canonical-SMILES dedup, mol_standardize.py:209-540).

Four tiers, in increasing fuzziness:
- exact_dedup: hash-groupBy on normalized content. One shuffle on the
  content hash; at 100 TB this is the cheapest possible dedup (hash is
  computed map-side, the shuffle moves only (hash, id)).
- ngram_jaccard_pairs: exact Jaccard over character-shingle sets for
  candidate pairs (inverted-index join — shingle → doc, pairs form only on
  shared shingles, never a cross product).
- minhash_lsh_dedup: MinHash signatures + banding → near-dup buckets.
  The 100 TB path: signature is O(n_hashes) per doc computed map-side;
  the only shuffle is on (band_id, band_hash). Verification joins happen
  within buckets only.
- simhash_dedup: 64-bit SimHash over token hashes; Hamming-near dups via
  band rotation. Fully JVM-side (xxhash64 + bit ops), no Python.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ----------------------------------------------------------------- exact


def normalize_text(col, lowercase: bool = True, collapse_ws: bool = True):
    """Canonicalization before hashing (mirrors the reference's
    canonicalize-then-dedup pattern for SMILES)."""
    out = col
    if lowercase:
        out = F.lower(out)
    if collapse_ws:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", keep: str = "min"
) -> DataFrame:
    """Exact dedup on normalized text: keep one representative id per
    content hash (min id → deterministic). Returns the surviving rows.

    Plan: md5 map-side → min(id) groupBy on hash → semi-join back. The
    semi-join shuffles only (hash, id) pairs, not document bodies.
    """
    agg_fn = F.min if keep == "min" else F.max
    hashed = df.withColumn("__h", F.md5(normalize_text(F.col(text_col))))
    keepers = hashed.groupBy("__h").agg(agg_fn(F.col(id_col)).alias(id_col))
    return hashed.join(keepers, [ "__h", id_col], "left_semi").drop("__h")


def duplicate_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-dup cluster report: (content_hash, n_dups, representative_id)
    for every hash appearing more than once."""
    hashed = df.select(
        F.md5(normalize_text(F.col(text_col))).alias("content_hash"),
        F.col(id_col),
    )
    return (
        hashed.groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("representative_id"))
        .filter(F.col("n_dups") > 1)
    )


# ----------------------------------------------------------------- shingles


def _shingle_sql(attr: str, n: int) -> str:
    """Shingle-extraction SQL over a plain column ATTRIBUTE. Performance
    contract: the lambda body must reference an attribute, not an embedded
    expression — embedding the normalize_text() expression inside the
    per-element lambda makes Catalyst re-evaluate the regex per element
    (measured 8-30x slowdown at ~300 shingles/doc)."""
    return (
        f"array_distinct(filter(transform("
        f"sequence(1, greatest(length({attr}) - {n - 1}, 1)),"
        f" i -> substring({attr}, i, {n})), s -> length(s) = {n}))"
    )


def shingle_frame(
    df: DataFrame, text_col: str, id_col: str, n: int = 5, out_col: str = "__sh",
    min_len: int | None = None,
) -> DataFrame:
    """(id, shingles array) — normalization projected to a column first,
    shingles computed from the attribute (see _shingle_sql note).

    Small inputs are fanned out to the cluster's parallelism before the
    hash-heavy downstream work: a compact parquet corpus arrives as 1-2
    partitions and would otherwise single-thread every signature op (the
    shuffle moves only (id, text) — cheap relative to the compute).

    ``min_len`` (r15 opt): drop rows whose NORMALIZED text is shorter
    than ``min_len`` BEFORE the shingle projection. With min_len=n this
    is exactly the old callers' post-hoc ``size(shingles) > 0`` filter
    (a shingle exists iff length(__norm) >= n), but that filter
    collapsed into the shingle expression under predicate pushdown and
    re-evaluated the whole interpreted transform per row in filter
    context — measured 0.3s → 12.3s on the sf0.1 corpus (guide §4.4
    duplication class). Filtering on the cheap length predicate keeps
    the shingle transform single-eval."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(F.col(id_col), F.col(text_col))
    if src.rdd.getNumPartitions() < cores:
        src = src.repartition(cores)
    normed = src.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("__norm")
    )
    if min_len is not None:
        normed = normed.filter(F.length("__norm") >= min_len)
    return normed.select(
        F.col(id_col), F.expr(_shingle_sql("__norm", n)).alias(out_col)
    )


def char_shingles(col, n: int = 5):
    """Distinct character n-grams of normalized text as a Column expression.
    Compatibility surface for callers with a materialized text column —
    prefer shingle_frame() in operators (attribute-reference fast path)."""
    norm = normalize_text(col)
    return F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
                lambda i: norm.substr(i, F.lit(n)),
            ),
            lambda s: F.length(s) == n,
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle:
    inverted-index self-join (shingle → doc), count shared shingles per
    pair, |A∩B| / (|A|+|B|-|A∩B|). Output: (id_a, id_b, jaccard), id_a<id_b.

    Scale: the explode shuffles (shingle, id) — linear in corpus size; the
    pair-count groupBy only sees co-occurring pairs. Hot shingles (stop-
    shingles) create quadratic skew buckets: ``df_cap`` drops shingles whose
    document frequency exceeds the cap BEFORE the self-join, the same way
    search engines drop stopwords. A dropped shingle still counts in the
    |A| / |B| denominators but cannot contribute to the intersection, so
    jaccard is a (slight) underestimate for pairs sharing hot shingles —
    df_cap=None (default) keeps the exact semantics for oracle comparison.
    """
    sh = shingle_frame(df, text_col, id_col, n, "sh").withColumnRenamed(
        id_col, "id"
    ).withColumn("sz", F.size("sh"))
    sizes = sh.select("id", "sz")
    exploded = sh.select("id", F.explode("sh").alias("g"))
    if df_cap is not None:
        # hot-shingle set is tiny (only shingles above the cap) → the
        # left_anti join broadcasts; the candidate stream per shingle is
        # then bounded by df_cap docs → ≤ df_cap² pairs per shingle.
        hot = (
            exploded.groupBy("g")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > df_cap)
            .select("g")
        )
        exploded = exploded.join(F.broadcast(hot), "g", "left_anti")
    pairs = (
        exploded.alias("a")
        .join(exploded.alias("b"), "g")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def _ppjoin_prefix(
    df: DataFrame, text_col: str, id_col: str, n: int, threshold: tuple[int, int]
) -> tuple[int, int, DataFrame, DataFrame]:
    """PPJoin prefix stage shared by jaccard_prefix_pairs and
    containment_pairs. Returns (t_num, t_den, ordered, prefix): the
    validated threshold fraction, the per-doc canonical-order frame
    (id, sz, __ord, __plen) and its prefix explode (id, sz, p, g) with
    p the 1-based canonical position of shingle g."""
    t_num, t_den = threshold
    if not (0 < t_num <= t_den):
        raise ValueError(f"threshold must be a proper fraction, got {threshold}")
    sh = (
        shingle_frame(df, text_col, id_col, n, "sh", min_len=n)
        .withColumnRenamed(id_col, "id")
        .withColumn("sz", F.size("sh"))
    )
    exploded = sh.select("id", "sz", F.explode("sh").alias("g"))
    dfreq = exploded.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    # per-doc shingle list in the global (df, shingle) canonical order;
    # prefix = the first sz - ceil(t*sz) + 1 entries (rarest first)
    # The ordered frame feeds FOUR consumers (the two prefix-join sides —
    # the containment index is the second one — and both verify sides)
    # and its lineage holds the shingle pipeline plus TWO shuffles (dfreq
    # join + collect_list groupBy); Spark self-joins never reuse a
    # subtree, so without materialization the whole pipeline executed 4×
    # per query (plan before r15: 8 Generate nodes, 4 parquet scans).
    # localCheckpoint = the documented shape for multi-consumed
    # shuffle-bearing frames (repo build notes); lazy (the first action
    # materializes it once, no extra barrier job).
    ordered = (
        exploded.join(dfreq, "g")
        .groupBy("id", "sz")
        .agg(F.array_sort(F.collect_list(F.struct("__df", "g"))).alias("__ord"))
        .withColumn(
            "__plen",
            F.col("sz")
            - F.expr(f"(({t_num} * sz + {t_den - 1}) div {t_den})")
            + F.lit(1),
        )
        .localCheckpoint(eager=False)
    )
    prefix = ordered.select(
        "id",
        "sz",
        F.posexplode(F.expr("slice(__ord, 1, __plen)")).alias("__p", "__e"),
    ).select(
        "id", "sz", (F.col("__p") + 1).alias("p"), F.col("__e.g").alias("g")
    )
    return t_num, t_den, ordered, prefix


def _ppjoin_verify(
    ordered: DataFrame, cand: DataFrame, id_a: str, id_b: str, sizes: list[str]
) -> DataFrame:
    """Exact intersection of the prefix candidates ``cand`` (id_a, id_b,
    *sizes, __alpha, __pam): returns (id_a, id_b, *sizes, inter).

    The count runs over the candidates' FULL shingle sets — __ord holds
    every shingle of the doc exactly once (shingle sets are
    array_distinct), so the verify sides re-explode the CHECKPOINTED
    frame instead of re-running the shingle pipeline. r16: the first
    α−1 common tokens are already counted by the prefix join, and the
    common tokens NOT yet counted are exactly those with A-position
    ≥ pa_α (positions increase with canonical rank, so pos_A ≤ pa_α ⟺
    first α common tokens) — the A side keeps only the tail at/after
    pa_α (the α-th token itself stays, guaranteeing ≥1 verify row per
    candidate), and inter = (α−1) + count."""
    ea = ordered.select(
        F.col("id").alias(id_a), F.posexplode("__ord.g").alias("__pa0", "g")
    ).select(id_a, (F.col("__pa0") + 1).alias("pa"), "g")
    eb = ordered.select(F.col("id").alias(id_b), F.explode("__ord.g").alias("g"))
    return (
        cand.join(ea, id_a)
        .filter(F.col("pa") >= F.col("__pam"))
        .join(eb, [id_b, "g"])
        .groupBy(id_a, id_b, *sizes, "__alpha")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .select(
            id_a, id_b, *sizes, (F.col("__alpha") - 1 + F.col("__cnt")).alias("inter")
        )
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: tuple[int, int] = (1, 2),
) -> DataFrame:
    """EXACT Jaccard similarity join with PPJoin-style prefix + length
    filtering (Chaudhuri et al. ICDE 2006 prefix filter; Xiao et al.
    WWW 2008). Output: (id_a, id_b, inter, union_sz), id_a < id_b, for
    every pair with shingle-Jaccard ≥ t — the same pair set as
    ngram_jaccard_pairs(threshold=t, df_cap=None), with NO false
    negatives by theorem, but the inverted index holds only each doc's
    PREFIX instead of all its shingles.

    Prefix filter: order all shingles by one global canonical order
    (ascending document frequency, ties by shingle — rarest first); if
    J(A,B) ≥ t, the first |A| − ⌈t·|A|⌉ + 1 shingles of A and the
    corresponding prefix of B must intersect. At t=0.8 the index keeps
    ~20% of each doc's shingles — and because prefixes hold the RAREST
    shingles, the quadratic hot-shingle buckets that force df_cap's
    approximation in ngram_jaccard_pairs never enter the index at all.
    Length filter: t·max(|A|,|B|) ≤ min(|A|,|B|) prunes candidates
    before the verify join.

    ``threshold`` is a FRACTION (t_num, t_den) and every test is integer
    cross-multiplication (⌈t·sz⌉ = (t_num·sz + t_den − 1) div t_den;
    J ≥ t ⟺ inter·t_den ≥ t_num·union), so the operator is exactly
    replayable — the DuckDB oracle certifies algorithm EQUIVALENCE
    against a brute-force pairwise Jaccard, not a step replay.

    Plan shape at 100 TB: df-rank join (token equi-join), one
    groupBy(id) collect_list over per-doc shingle sets (bounded by doc
    length), prefix self-equi-join on the shingle, then the verify
    phase touches only surviving candidates (candidate × doc-shingles
    equi-joins + one combinable count). No windows, no cross products.
    """
    t_num, t_den, ordered, prefix = _ppjoin_prefix(df, text_col, id_col, n, threshold)
    # PPJoin positional filter, accumulated-overlap form (Xiao et al.
    # 2008 §4; r16 — tightens the r15 first-match bound). Common tokens
    # of A and B appear in the same relative order in both lists (one
    # global canonical order), so the prefix×prefix matches of a pair
    # are exactly the FIRST α common tokens, and max(pa)/max(pb) are the
    # α-th common token's positions. Every further common token sits
    # strictly after BOTH, hence
    #   |A∩B| ≤ α + min(|A|−pa_α, |B|−pb_α)
    # — never looser than the first-match bound 1 + min(|A|−pa₁,|B|−pb₁)
    # (positions strictly increase, so pa_α ≥ pa₁+α−1), strictly tighter
    # whenever the α matches are non-consecutive. J ≥ t needs
    # inter·(t_num+t_den) ≥ t_num·(|A|+|B|); the bound upper-bounds
    # inter, so qualifying pairs always pass — no false negatives. The
    # groupBy replaces the old pair .distinct() at the same shuffle
    # shape and prunes the verify joins' input BEFORE they run
    # (r15 first-match form cut 23.6% of candidates at sf0.1 t=1/2).
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "g")
        .filter(
            (F.col("a.id") < F.col("b.id"))
            & (
                F.lit(t_num) * F.greatest("a.sz", "b.sz")
                <= F.lit(t_den) * F.least("a.sz", "b.sz")
            )
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("__alpha"),
            F.max(F.col("a.p")).alias("__pam"),
            F.max(F.col("b.p")).alias("__pbm"),
        )
        .filter(
            (
                F.col("__alpha")
                + F.least(
                    F.col("sz_a") - F.col("__pam"),
                    F.col("sz_b") - F.col("__pbm"),
                )
            )
            * F.lit(t_num + t_den)
            >= F.lit(t_num) * (F.col("sz_a") + F.col("sz_b"))
        )
        .drop("__pbm")
    )
    inter = _ppjoin_verify(ordered, cand, "id_a", "id_b", ["sz_a", "sz_b"])
    return inter.select(
        "id_a",
        "id_b",
        F.col("inter").cast("long").alias("inter"),
        (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("long").alias("union_sz"),
    ).filter(F.col("inter") * t_den >= t_num * F.col("union_sz"))


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: tuple[int, int] = (4, 5),
) -> DataFrame:
    """EXACT directional containment join: (id_contained, id_container,
    inter, sz_contained) for every ORDERED pair with shingle containment
    C(A,B) = |A∩B| / |A| ≥ t — the quote / subset / superset-version
    detector. Symmetric Jaccard misses A ⊂ B when B is much longer
    (J = |A|/|B| is small); containment is the right test for "document
    A is embedded in B" (boilerplate wrappers, quoted articles,
    expanded re-releases).

    Prefix filter, containment form: C(A,B) ≥ t ⟹ A's first
    |A| − ⌈t·|A|⌉ + 1 shingles in the global (df, shingle) order must
    intersect B's FULL set — so only the CONTAINED side's prefix is
    indexed (its rarest shingles), joined against the full inverted
    index; hot shingles enter a prefix only for docs where they are
    among the rarest, so the quadratic hot-bucket blowup stays on the
    low-fan-out side. Length filter: |B| ≥ ⌈t·|A|⌉. No false negatives
    by the same theorem as :func:`jaccard_prefix_pairs`; thresholds are
    integer fractions, every test an integer cross-multiplication —
    oracle = brute force (algorithm equivalence).

    Self-pairs are excluded; both directions of a near-identical pair
    legitimately both qualify."""
    t_num, t_den, ordered, prefix = _ppjoin_prefix(df, text_col, id_col, n, threshold)
    full = ordered.select(
        F.col("id").alias("id_container"),
        F.col("sz").alias("sz_container"),
        F.posexplode("__ord.g").alias("__pb", "g"),
    ).withColumn("pb", F.col("__pb") + 1)
    # PPJoin positional filter, containment accumulated-overlap form
    # (Xiao et al. 2008 §4; r16 — tightens the r15 first-match bound).
    # The (prefix-A × full-B) matches of a pair are exactly the common
    # tokens inside A's prefix — a PREFIX of the common-token sequence
    # in the canonical order (common tokens appear in the same relative
    # order in both lists) — so α = |matches| and max(p)/max(pb) are
    # the α-th common token's positions in A and B. Every further
    # common token sits strictly after both:
    #   |A∩B| ≤ α + min(sz_A−p_α, sz_B−pb_α).
    # C(A,B) ≥ t needs inter·t_den ≥ t_num·sz_A — the bound
    # upper-bounds inter, so qualifying pairs always pass (no false
    # negatives); groupBy replaces the old .distinct() at the same
    # shuffle shape and prunes the verify joins' input.
    cand = (
        prefix.join(full, "g")
        .filter(
            (F.col("id") != F.col("id_container"))
            & (
                F.lit(t_den) * F.col("sz_container")
                >= F.lit(t_num) * F.col("sz")
            )
        )
        .groupBy(
            F.col("id").alias("id_contained"),
            F.col("id_container"),
            F.col("sz").alias("sz_contained"),
        )
        .agg(
            F.count(F.lit(1)).alias("__alpha"),
            F.max(F.col("p")).alias("__pam"),
            F.max(F.col("pb")).alias("__pbm"),
            # constant per id_container — carried as an aggregate, NOT a
            # grouping key, so the output partitioning stays the verify
            # groupBy's exact key set (a 4th key re-adds an Exchange)
            F.first(F.col("sz_container")).alias("__szb"),
        )
        .filter(
            (
                F.col("__alpha")
                + F.least(
                    F.col("sz_contained") - F.col("__pam"),
                    F.col("__szb") - F.col("__pbm"),
                )
            )
            * F.lit(t_den)
            >= F.lit(t_num) * F.col("sz_contained")
        )
        .select("id_contained", "id_container", "sz_contained", "__alpha", "__pam")
    )
    inter = _ppjoin_verify(ordered, cand, "id_contained", "id_container", ["sz_contained"])
    return inter.select(
        "id_contained",
        "id_container",
        F.col("inter").cast("long").alias("inter"),
        F.col("sz_contained").cast("long").alias("sz_contained"),
    ).filter(F.col("inter") * t_den >= t_num * F.col("sz_contained"))


# ----------------------------------------------------------------- minhash


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    shingle_n: int = 5,
) -> DataFrame:
    """MinHash signature: sig[i] = min over shingles of h_i(shingle), with
    h_i(x) = xxhash64(x, seed=i). All map-side (higher-order functions over
    the shingle array), O(n_hashes) per doc, no shuffle."""
    sh = shingle_frame(df, text_col, id_col, shingle_n, "__sh")
    # Two-stage hashing: the variable-length string hash is the expensive
    # part (bytes -> long), so compute it ONCE per shingle (__h) and derive
    # h_i(x) = xxhash64(__h, seed=i) — an 8-byte fixed-width rehash, ~2x
    # faster end-to-end than n_hashes full string hashes at the same
    # estimator quality (minhash_vs_exact_jaccard invariant stays green).
    # (An affine a*h+b family would be cheaper still but overflows under
    # ANSI mode, Spark 4's default.)
    # Codegen contracts (all measured):
    # - the seed is a literal baked per-transform (a nested transform over
    #   sequence(0,n) captures the outer lambda var and falls off codegen:
    #   ~100x slower);
    # - __sh / __h are multi-referenced attributes from their own
    #   projections (CollapseProject keeps them un-inlined because they are
    #   non-cheap and referenced n_hashes times);
    # - the whole array is ONE SQL string: n_hashes transforms through the
    #   Column API cost ~1.5s of py4j round-trips per query build.
    hashed = sh.select(
        F.col(id_col), F.expr("transform(__sh, s -> xxhash64(s))").alias("__h")
    )
    sig = F.expr(
        "array("
        + ", ".join(
            f"array_min(transform(__h, h -> xxhash64(h, {i})))"
            for i in range(n_hashes)
        )
        + ")"
    )
    return hashed.select(F.col(id_col), sig.alias("minhash"))


def _band_hash_sql(bands: int, r: int) -> str:
    """array(xxhash64(minhash[0..r-1]), ...) as one SQL string — SQL array
    indexing is 0-based (GetArrayItem), unlike element_at."""
    return (
        "array("
        + ", ".join(
            "xxhash64(" + ", ".join(f"minhash[{b * r + j}]" for j in range(r)) + ")"
            for b in range(bands)
        )
        + ")"
    )


def _agreement(sig_a: str, sig_b: str, n_hashes: int):
    """Estimated Jaccard of two MinHash signature columns: the fraction
    of the ``n_hashes`` slots on which they agree."""
    return F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(n_hashes)


def _star_threshold_guard(message: str, df: DataFrame, strict: bool | None) -> None:
    """The star+threshold footgun gate: warn by default, raise in strict
    mode (mirroring embedding_near_dup_pairs' on_overflow='raise'
    precedent) so warning-suppressing pipelines can't silently lose the
    CC-equality guarantee. strict=None reads the session conf
    ``spark.workbench.dedup.strict`` (default false)."""
    if strict is None:
        strict = str(
            df.sparkSession.conf.get("spark.workbench.dedup.strict", "false")
        ).lower() in ("true", "1")
    if strict:
        raise ValueError(message + " (strict mode: spark.workbench.dedup.strict)")
    import warnings

    warnings.warn(message, stacklevel=3)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    verify_threshold: float | None = 0.5,
    persist_signatures: bool = False,
    pair_mode: str = "all",
    strict: bool | None = None,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs: split the signature into
    ``bands`` bands of r = n_hashes/bands rows; docs matching on any whole
    band become candidates; optionally verify with estimated Jaccard
    (fraction of agreeing signature positions). Output:
    (id_a, id_b, est_jaccard), id_a < id_b.

    The S-curve: P(candidate) = 1-(1-s^r)^b — with 32 hashes / 8 bands
    (r=4), s=0.8 → ~0.93, s=0.3 → ~0.06. Tune bands to the target
    threshold. Only (band_id, band_hash) shuffles; verification joins the
    two signatures for candidates only.

    pair_mode:
    - 'all' (default): every intra-bucket pair — the pair-SCORING shape.
      Candidate volume is quadratic in bucket size: a boilerplate
      mega-cluster of B near-identical docs in one (band, bh) bucket emits
      ~B²/2 pairs × bands — the dominant skew/straggler at web scale.
    - 'star': each bucket emits only (bucket-min-id → member) edges, B-1
      per bucket instead of C(B,2) — the dedup/CC-consumer shape. With
      verify_threshold=None the connected components of the star edge set
      are PROVABLY identical to 'all' (within a bucket, a star on the
      members and a clique on the members connect exactly the same set;
      components are unions of bucket groups either way). With a verify
      threshold, star keeps only member↔hub edges that clear it, so a
      member whose est vs the hub is sub-threshold can split off even if
      it chains through other members — use verify_threshold=None (or a
      threshold comfortably below the cluster's internal similarity) when
      feeding connected components.

    ``max_band_bucket`` (r12, pair-scoring scale valve): in 'all' mode,
    (band, bh) buckets LARGER than the cap are skipped before pairing.
    Rationale — measured in the r12 sf1 scale smoke: on a corpus with a
    dense moderate-similarity background (the driver's 31-word-vocab
    documents: typical cross-pair 5-gram Jaccard ≈ 0.2-0.3), candidate
    volume is Σ C(bucket, 2) and the sf0.1→sf1 exponent of the UNCAPPED
    r=2 oracle-grade run was 2.04 (23.7 s → 2592 s at 10× rows) — the
    S-curve admits nearly all pairs at that background similarity, so
    candidates ≈ N². Hot buckets are template families: their PAIR
    enumeration is what explodes, while their membership is exactly what
    'star' mode / exact-dup clustering handles linearly. Semantics: pairs
    whose every colliding band is over-cap are lost (recall trade
    documented at the call site); leave None (default) for the
    recall-certified oracle entries. The cap check is one count window on
    the same (band, bh) key the join shuffles on — no extra shuffle.

    ``persist_signatures=True`` materializes the banded signature frame
    once with an eager localCheckpoint before the pair join, so the two
    join sides read stored blocks instead of each recomputing the
    signatures; False (default) leaves the frame lazy.
    """
    if pair_mode not in ("all", "star"):
        raise ValueError(f"pair_mode must be 'all' or 'star', got {pair_mode!r}")
    if pair_mode == "star" and verify_threshold is not None:
        # The CC-equality guarantee star exists for holds ONLY
        # threshold-free: filtering hub edges can split a component whose
        # member clears the threshold against another member but not
        # against the hub (provably splits on the test corpus — see
        # dedup_star_invariants). Loud, because a silent lossier pair set
        # is exactly the failure mode star was built to avoid; strict mode
        # (kwarg or spark.workbench.dedup.strict) upgrades it to an error.
        _star_threshold_guard(
            "minhash_lsh_pairs(pair_mode='star', verify_threshold="
            f"{verify_threshold}): filtering star (hub) edges VOIDS the "
            "connected-components equality guarantee — a member can split "
            "off even though it chains through other members. For CC/dedup "
            "consumers use verify_threshold=None; for scored pairs use "
            "pair_mode='all'.",
            df,
            strict,
        )
    banded = banded_minhash(df, text_col, id_col, n_hashes, bands, shingle_n)
    # Self-join: Spark's alias dedup re-keys one side's attributes, so the
    # two shuffle inputs never canonicalize identically and the signature
    # pipeline is computed once per side (verified: no ReusedExchange) —
    # a constant 2x on a map-side-cheap stage. persist_signatures=True
    # removes it with an eager localCheckpoint: the banded signatures are
    # materialized ONCE and lineage is truncated, so the self-join
    # provably scans the stored blocks instead of recomputing the 32-hash
    # signature pipeline per side (persist() alone left both sides
    # computing, and bench.py showed the 2x never went away).
    # Unlike persist(), the blocks are released by the ContextCleaner when
    # the frame is GC'd — no session-lifetime cache leak. Tradeoff: an
    # executor loss after the checkpoint fails the job (localCheckpoint
    # blocks do not recompute from lineage) — right for bench/batch runs.
    if persist_signatures:
        banded = banded.localCheckpoint(eager=True)
    if pair_mode == "star":
        # One shuffle on (band, bh) + per-bucket min — candidate volume
        # linear in bucket size (B-1 vs C(B,2)). min(struct(id, minhash))
        # carries the hub's signature through the same window pass, so est
        # needs no second join. No self-join → no 2x-signature-compute
        # problem, persist_signatures is unnecessary on this path.
        from pyspark.sql.window import Window

        hub = F.min(F.struct(F.col("id"), F.col("minhash"))).over(
            Window.partitionBy("band", "bh")
        )
        starred = banded.select("id", "minhash", "band", "bh").withColumn(
            "__hub", hub
        )
        out = starred.filter(F.col("id") != F.col("__hub.id")).select(
            F.col("__hub.id").alias("id_a"),
            F.col("id").alias("id_b"),
            _agreement("minhash", "__hub.minhash", n_hashes).alias("est_jaccard"),
        )
        if verify_threshold is not None:
            out = out.filter(F.col("est_jaccard") >= verify_threshold)
        return out.dropDuplicates(["id_a", "id_b"])
    if max_band_bucket is not None:
        from pyspark.sql.window import Window

        wsz = Window.partitionBy("band", "bh")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(wsz))
            .filter(F.col("__bsz") <= max_band_bucket)
            .drop("__bsz")
        )
    a, b = banded.alias("a"), banded.alias("b")
    est = _agreement("a.minhash", "b.minhash", n_hashes)
    # est is computed BEFORE the pair dedupe: a near-exact dup matches on
    # ~all bands, so the pre-dedupe stream is up to `bands`x the pair count
    # — but est is a 32-slot scalar fold, while deduping first would carry
    # both 32-long signature arrays through the dropDuplicates shuffle.
    # Scalar-carrying shuffle beats array-carrying shuffle.
    out = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        est.alias("est_jaccard"),
    )
    # filter BEFORE the pair dedupe: est is deterministic per pair, and a
    # near-dup matches on ~all bands, so filtering first shrinks the
    # dropDuplicates shuffle by up to `bands`x
    if verify_threshold is not None:
        out = out.filter(F.col("est_jaccard") >= verify_threshold)
    return out.dropDuplicates(["id_a", "id_b"])


def minhash_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH candidate generation with an EXACT n-gram Jaccard
    recheck: candidates form only on (band, band_hash) equality (the 100 TB
    shape — never a cross product), then each candidate pair joins back to
    its two shingle sets and is kept only when the exact Jaccard clears
    ``threshold``. Output: (id_a, id_b, jaccard), id_a < id_b — a
    deterministic projection a DuckDB exact-Jaccard oracle can replicate,
    unlike the estimated-Jaccard stream of minhash_lsh_pairs.

    Parameter discipline: the default 64 hashes / 32 bands (r=2) puts the
    LSH S-curve's candidate knee (~(1/b)^(1/r) ≈ 0.18) far below the
    recheck threshold, so recall at j ≥ threshold is 1 - (1-j²)^32
    (≥ 0.9999 at j = 0.5) — the oracle-grade setting. Production dedup
    keeps the cheaper (32, 8) default of minhash_lsh_pairs and tolerates
    estimator noise instead of paying the exact recheck join.

    Scale: the recheck join carries the two shingle ARRAYS only for
    candidate pairs (LSH-pruned), keyed on id — an equi-join, linear in
    the candidate count, not the corpus.

    Measured limit (r12 sf1 scale smoke — do not re-derive): on a corpus
    whose cross-pair similarity BACKGROUND sits near the r=2 S-curve knee
    (the driver's 31-word-vocab documents, background j ≈ 0.2-0.3), the
    candidate count approaches all-pairs and this oracle-grade
    parameterization scales quadratically: sf0.1→sf1 exponent 2.04
    (23.7 s → 2592 s at 10× docs). That is a property of the (corpus,
    recall-certification) combination, not a plan defect — the driver
    gate runs it at sf0.01 where it is sub-second. Production dedup at
    scale uses minhash_lsh_pairs' r=4 default + max_band_bucket (and
    'star' mode for CC consumers), measured separately in the smoke
    tier."""
    cands = minhash_lsh_pairs(
        df, text_col, id_col, n_hashes, bands, shingle_n,
        verify_threshold=None, persist_signatures=True,
    ).select("id_a", "id_b")
    sh = (
        shingle_frame(df, text_col, id_col, shingle_n, "sh")
        .withColumnRenamed(id_col, "id")
        .withColumn("sz", F.size("sh"))
    )
    p = cands.join(
        sh.select(
            F.col("id").alias("id_a"), F.col("sh").alias("__sha"), F.col("sz").alias("__sza")
        ),
        "id_a",
    ).join(
        sh.select(
            F.col("id").alias("id_b"), F.col("sh").alias("__shb"), F.col("sz").alias("__szb")
        ),
        "id_b",
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    scored = p.select(
        "id_a",
        "id_b",
        (
            inter.cast("double")
            / (F.col("__sza") + F.col("__szb") - inter)
        ).alias("jaccard"),
    )
    return scored.filter(F.col("jaccard") >= threshold)


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    verify_threshold: float | None = 0.5,
    mode: str = "representative",
) -> DataFrame:
    """Near-dedup: drop all but one representative of each near-dup group.

    mode='representative' (default, the 100 TB path): each doc verifies
    ONLY against the min-id doc of each of its LSH buckets — work is
    linear in Σ bucket sizes. All-pairs enumeration is quadratic in
    duplicate-cluster size (a 10-clone cluster = 45 pairs where 9
    suffice; measured 125s vs 20s at 50k docs with 10x duplication).
    Single-pass representative matching is the standard approximation of
    connected-components clustering: a doc survives unless some bucket
    representative with a smaller id is a verified near-dup.

    mode='pairs': exact greedy over all enumerated pairs
    (minhash_lsh_pairs) — use when the pair report itself is wanted.
    """
    if mode == "pairs":
        pairs = minhash_lsh_pairs(
            df, text_col, id_col, n_hashes, bands, shingle_n, verify_threshold
        )
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
        return df.join(drop, id_col, "left_anti")

    banded = banded_minhash(df, text_col, id_col, n_hashes, bands, shingle_n)
    reps = banded.groupBy("band", "bh").agg(F.min("id").alias("rep_id"))
    rep_sigs = banded.select(
        F.col("band"), F.col("bh"), F.col("id").alias("rep_id"), F.col("minhash").alias("__mr")
    ).join(reps, ["band", "bh", "rep_id"], "left_semi").dropDuplicates(["band", "bh", "rep_id"])
    members = banded.join(reps, ["band", "bh"]).filter(F.col("id") > F.col("rep_id"))
    cands = members.join(
        rep_sigs.join(reps, ["band", "bh", "rep_id"], "left_semi"), ["band", "bh", "rep_id"]
    )
    verified = cands.withColumn("__est", _agreement("minhash", "__mr", n_hashes))
    if verify_threshold is not None:
        verified = verified.filter(F.col("__est") >= verify_threshold)
    drop = verified.select(F.col("id").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------- incremental dedup


def banded_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
) -> DataFrame:
    """(id, minhash, band, bh) banded signature frame — the persistable
    corpus-side artifact for incremental dedup. At scale, write this once
    per corpus snapshot (partitioned/bucketed by (band, bh) so incoming
    batches co-locate on the join key) and reuse it for every batch
    instead of re-hashing the corpus."""
    r = n_hashes // bands
    sigs = minhash_signature(df, text_col, id_col, n_hashes, shingle_n)
    # band key b = hash of signature slots [b*r, (b+1)*r) — minhash is a
    # multi-referenced non-cheap projection, so it stays materialized
    # per-row (not re-inlined per band); single expr string (py4j cost)
    return sigs.select(
        F.col(id_col).alias("id"),
        F.col("minhash"),
        F.posexplode(F.expr(_band_hash_sql(bands, r))).alias("band", "bh"),
    )


def minhash_incremental_pairs(
    new_df: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    verify_threshold: float | None = 0.5,
    corpus_is_banded: bool = False,
) -> DataFrame:
    """Batch-vs-corpus near-dup pairs: (new_id, corpus_id, est_jaccard).

    The training-data-pipeline shape: a new crawl/batch arrives and must
    be deduped against the already-ingested corpus WITHOUT re-pairing the
    corpus against itself. Both sides band identically (same hash family,
    seeds, and band split — the estimator is only valid when the
    signature spaces match), then candidates form on the (band, bh)
    equi-join exactly like the self-join path, but new×corpus only:
    the work is linear in the batch size, never the corpus size.

    ``corpus_is_banded=True`` accepts a precomputed ``banded_minhash``
    frame (the 100 TB path: corpus signatures are computed once per
    snapshot and stored; per-batch cost is hash(batch) + one equi-join).
    Intra-batch duplicates are minhash_lsh_pairs(new_df)'s job — compose
    the two for full coverage."""
    new_banded = banded_minhash(new_df, text_col, id_col, n_hashes, bands, shingle_n)
    corpus_banded = (
        corpus
        if corpus_is_banded
        else banded_minhash(corpus, text_col, id_col, n_hashes, bands, shingle_n)
    )
    a, b = new_banded.alias("a"), corpus_banded.alias("b")
    est = _agreement("a.minhash", "b.minhash", n_hashes)
    out = a.join(
        b,
        (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")),
    ).select(
        F.col("a.id").alias("new_id"),
        F.col("b.id").alias("corpus_id"),
        est.alias("est_jaccard"),
    )
    if verify_threshold is not None:
        out = out.filter(F.col("est_jaccard") >= verify_threshold)
    return out.dropDuplicates(["new_id", "corpus_id"])


def minhash_incremental_dedup(
    new_df: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    verify_threshold: float | None = 0.5,
    corpus_is_banded: bool = False,
) -> DataFrame:
    """The admission filter: new-batch rows with NO verified near-dup in
    the corpus (left-anti on the matched new ids). Corpus rows are never
    dropped — the corpus is the already-accepted truth."""
    pairs = minhash_incremental_pairs(
        new_df, corpus, text_col, id_col, n_hashes, bands, shingle_n,
        verify_threshold, corpus_is_banded,
    )
    drop = pairs.select(F.col("new_id").alias(id_col)).distinct()
    return new_df.join(drop, id_col, "left_anti")


# ----------------------------------------------------------------- simhash


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, sum +1/-1 of token-
    hash bits; sign → bit. Output: (id, simhash long).

    Single pass over the token array: the aggregate carries a 64-slot
    counter array and zip_with-merges each token's bit vector (SQL-lambda
    form because the Python wrapper of shiftright rejects column shift
    amounts). JVM-side only — no Python per row, no shuffle.
    """
    toks = F.transform(
        F.filter(F.split(normalize_text(F.col(text_col)), " "), lambda t: F.length(t) > 0),
        lambda t: F.xxhash64(t),
    )
    src = df.select(F.col(id_col), F.col(text_col))
    cores = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < cores:
        src = src.repartition(cores)  # see shingle_frame parallelism note
    with_t = src.select(F.col(id_col), toks.alias("__toks"))

    def _bit_vote(b: int):
        # single-level lambda with the bit index baked as a literal — an
        # array-accumulator aggregate with nested captured lambdas falls
        # off codegen (measured >10x slower)
        return F.aggregate(
            F.col("__toks"),
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    sim = None
    for b in range(bits):
        term = F.when(_bit_vote(b) > 0, F.lit(2**b if b < 63 else -(2**63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return with_t.select(F.col(id_col), sim.alias("simhash"))


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash whose token hashes are ENGINE-PORTABLE polynomial
    hashes (two independent 30-bit families: base 31 mod 1e9+7 and base
    131 mod 999999937 over character code points), so a SQL engine without
    xxhash64 (DuckDB) can recompute the identical signature bit-for-bit —
    this is what lets dedup_simhash_pairs carry a REAL value oracle instead
    of a rows-only check. Production simhash() keeps xxhash64 (stronger
    mixing, one JVM intrinsic per token, shuffle-free).

    Plan shape: explode tokens → per-token h1/h2 (single-level SQL lambdas
    over the token ATTRIBUTE — a transform-over-tokens formulation would
    nest lambdas capturing the outer element and fall off codegen ~100x)
    → one groupBy(id) with 60 conditional-sum bit votes → pack to a
    positive BIGINT. One shuffle, linear in token count. Docs with no
    tokens produce no row (matches the oracle's explode semantics)."""
    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda t: F.length(t) > 0
    )
    src = df.select(F.col(id_col), F.col(text_col))
    cores = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < cores:
        src = src.repartition(cores)
    exploded = src.select(F.col(id_col), F.explode(toks).alias("__t"))
    poly = (
        "aggregate(transform(sequence(1, length(__t)),"
        " i -> ascii(substring(__t, i, 1))),"
        " 0L, (a, c) -> (a * {base} + c) % {mod})"
    )
    hashed = exploded.select(
        F.col(id_col),
        F.expr(poly.format(base=31, mod=1000000007)).alias("__h1"),
        F.expr(poly.format(base=131, mod=999999937)).alias("__h2"),
    )
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("__h1" if b < 30 else "__h2"), b % 30)
                    .bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(60)
        ]
    )
    sim = None
    for b in range(60):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    portable: bool = False,
    pair_mode: str = "all",
    strict: bool | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, using the
    pigeonhole banding trick: split the signature bits into n_bands blocks
    — any pair within distance < n_bands must agree on ≥1 whole block, so
    candidates form only on block equality (an equi-join, not a cross
    product).

    Detection is GUARANTEED only when n_bands > max_hamming; with fewer
    bands, pairs between n_bands and max_hamming are found only when their
    flipped bits happen to cluster. More bands = more candidates = more
    cost; pick n_bands = max_hamming + 1 for exactness.

    portable=True uses the 60-bit engine-portable signature
    (simhash_portable) instead of the 64-bit xxhash64 one — same pair
    semantics, oracle-replicable values.

    pair_mode='star' (vs the default 'all'): each (band, block) bucket
    emits only (bucket-min-id → member) edges — B-1 per bucket instead of
    C(B,2), the dedup/CC-consumer shape for boilerplate mega-clusters
    (same guarantee and same verify caveat as minhash_lsh_pairs: the
    UNFILTERED star's connected components equal the all-pairs
    candidates'; the hamming filter applies to hub edges only, so a
    member > max_hamming from its hub but ≤ from another member can split
    off)."""
    if pair_mode not in ("all", "star"):
        raise ValueError(f"pair_mode must be 'all' or 'star', got {pair_mode!r}")
    total_bits = 60 if portable else 64
    if pair_mode == "star" and max_hamming < total_bits:
        # same footgun as minhash star+verify_threshold: a hamming cap on
        # hub edges voids the CC-equality guarantee (safe regime is
        # max_hamming >= total_bits, i.e. threshold-free); strict mode
        # upgrades the warning to an error
        _star_threshold_guard(
            f"simhash_near_pairs(pair_mode='star', max_hamming={max_hamming}"
            f" < {total_bits} bits): filtering star (hub) edges VOIDS the "
            "connected-components equality guarantee — a member can split "
            "off even though it chains through other members. For CC/dedup "
            f"consumers use max_hamming={total_bits}; for scored pairs use "
            "pair_mode='all'.",
            df,
            strict,
        )
    width = total_bits // n_bands
    sh = (
        simhash_portable(df, text_col, id_col)
        if portable
        else simhash(df, text_col, id_col)
    )
    blocks = sh.select(
        F.col(id_col).alias("id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.block")
    if pair_mode == "star":
        # per-bucket star: one (band, block) shuffle, B-1 edges per bucket;
        # the 8-byte simhash rides the min(struct) so hamming needs no join
        from pyspark.sql.window import Window

        hub = F.min(F.struct(F.col("id"), F.col("simhash"))).over(
            Window.partitionBy("band", "block")
        )
        starred = blocks.withColumn("__hub", hub).filter(
            F.col("id") != F.col("__hub.id")
        )
        hamming = F.bit_count(F.col("simhash").bitwiseXOR(F.col("__hub.simhash")))
        return (
            starred.select(
                F.col("__hub.id").alias("id_a"),
                F.col("id").alias("id_b"),
                hamming.alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_a", "id_b"])
        )
    left = blocks.select("band", "block", F.col("id").alias("id_a"), F.col("simhash").alias("__sa"))
    right = blocks.select("band", "block", F.col("id").alias("id_b"), F.col("simhash").alias("__sb"))
    cands = (
        left.join(right, ["band", "block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return cands.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ----------------------------------------------------------- embeddings


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    use_lsh: bool = False,
    method: str = "expr",
    on_overflow: str = "reroute",
    **lsh_kwargs,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ALL pairs (id_a, id_b,
    cosine_sim) with id_a < id_b and cosine >= threshold.

    on_overflow: what the exact paths ('expr'/'blas') do when the corpus
    exceeds the driver-matrix byte bound — 'reroute' (default) warns and
    falls back to the approximate hyperplane-LSH path (recall < 1);
    'raise' errors instead, for callers whose pipeline REQUIRES the exact
    ground-truth pair set (e.g. oracle/eval jobs that must not silently
    get a lossier answer because a warnings filter ate the notice).

    Enumeration is threshold-driven — there is NO top-k cap, so a
    duplicate-heavy cluster (e.g. 60 clones of one document) yields every
    one of its C(60,2) pairs. (Round-1 version routed through k=50 KNN
    and silently dropped pairs past the cap — exactly wrong on the
    dedup-target workload.)

    Modes:
    - method='expr' (default): exact all-pairs broadcast join scored with
      the sequential-fold expression whose float summation order matches
      DuckDB bit-for-bit (oracle hash-matching). O(N²) by design — the
      ground-truth/oracle path. GUARDED: above the driver-matrix byte
      bound (same gate as 'blas' — the broadcast side is built on the
      driver, so the footprint estimate is identical) the call warns and
      auto-routes to the hyperplane-LSH path, so the default invocation
      can never broadcast-cross an unbounded corpus.
    - method='blas': exact all-pairs via per-partition numpy matmul
      blocks; each pair emitted from the partition holding its larger-id
      member, threshold filter applied inside the block (~4x faster than
      'expr', float sums differ in order only).
    - use_lsh=True: the 100 TB path — candidates only form on shared
      hyperplane signatures (equi-join on (table, signature)), then exact
      cosine + threshold within buckets. Near-dups at high thresholds
      collide with probability 1-(1-(1-θ/π)^b)^t; recall dial = n_tables.
    """
    from workbench_spark.operators.similarity import _norm, driver_matrix_check

    if on_overflow not in ("reroute", "raise"):
        raise ValueError(
            f"on_overflow must be 'reroute' or 'raise', got {on_overflow!r}"
        )
    if use_lsh:
        cands = _lsh_embedding_candidates(df, id_col, vec_col, **lsh_kwargs)
        return _cosine_pairs(cands, "id_a", "id_b", threshold)

    # Gate the driver-side matrix IN CODE, not just docs, for BOTH exact
    # paths: 'blas' collects the full matrix onto the driver, and 'expr'
    # materializes its broadcast side there before shipping, so
    # driver_matrix_check is the right footprint estimate for the
    # BroadcastNestedLoopJoin too. Above the configurable bound, an
    # unbounded-corpus call reroutes to the LSH scale path instead of an
    # O(N²) broadcast cross or a driver OOM.
    fits, est, limit = driver_matrix_check(df, vec_col)
    if not fits:
        exact = "blas" if method == "blas" else "expr"
        if on_overflow == "raise":
            raise RuntimeError(
                f"embedding_near_dup_pairs(method='{exact}', "
                f"on_overflow='raise'): ~{est >> 20} MiB driver footprint "
                f"exceeds the {limit >> 20} MiB bound; the exact path was "
                f"explicitly required. Use use_lsh=True for the approximate "
                f"scale path, or raise spark.workbench.driverMatrix.maxBytes."
            )
        import warnings

        warnings.warn(
            f"embedding_near_dup_pairs(method='{exact}') would hold "
            f"~{est >> 20} MiB of vectors on the driver (limit "
            f"{limit >> 20} MiB); routing to the hyperplane-LSH path "
            f"(use_lsh=True). Pass use_lsh=True explicitly (or raise "
            f"spark.workbench.driverMatrix.maxBytes) to silence this.",
            stacklevel=2,
        )
        return embedding_near_dup_pairs(
            df, id_col, vec_col, threshold, use_lsh=True, **lsh_kwargs
        )
    if method == "blas":
        return _blas_threshold_pairs(df, id_col, vec_col, threshold)

    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        _norm(F.col(vec_col)).alias("__na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        _norm(F.col(vec_col)).alias("__nb"),
    )
    pairs = F.broadcast(a).crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return _cosine_pairs(pairs, "id_a", "id_b", threshold)


def _cosine_pairs(cands: DataFrame, id_a: str, id_b: str, threshold: float) -> DataFrame:
    """(id_a, id_b, cosine_sim) for candidate pairs carrying both vectors
    and norms as (__va, __na) and (__vb, __nb), kept at cosine >= threshold."""
    from workbench_spark.operators.similarity import _cosine

    return cands.select(
        id_a, id_b, _cosine("__va", "__vb", "__na", "__nb").alias("cosine_sim")
    ).filter(F.col("cosine_sim") >= threshold)


def lsh_auto_planes(n: int, target_bucket: int = 64, floor: int = 8) -> int:
    """The LSH capacity rule as code: enough hyperplanes that expected
    bucket occupancy stays ~``target_bucket`` at corpus size ``n`` —
    planes = max(floor, ceil(log2(n / target_bucket))). Candidate fan-in
    per table is ~occupancy per probing row, so a FIXED plane count at a
    growing corpus is quadratic (r13 ladder: exponent 2.19 frozen vs
    0.70 sized across the sf1→sf10 decade). Recall is bought separately
    and linearly with n_tables. Pass ``n_planes="auto"`` to
    embedding_near_dup_pairs / embedding_incremental_pairs /
    lsh_cosine_knn to apply this rule from a 1-row corpus count."""
    import math

    return max(floor, math.ceil(math.log2(max(int(n), 2) / max(target_bucket, 1))))


def _lsh_embedding_candidates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int | str = 8,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Hyperplane-LSH candidate pairs for embedding near-dup: vectors
    sharing a full signature in ANY table become a candidate pair exactly
    once (dropDuplicates on the unordered pair). Shuffle key is
    (table, signature) — equi-join-shaped per the CLAUDE.md invariant.

    n_planes is a CAPACITY knob, not a tuning constant: the self-join
    fans out ~N²/2^n_planes per table, so a fixed plane count at a
    growing corpus is quadratic — size n_planes ≈ ceil(log2(N /
    target_bucket)) as the corpus grows (the same rule, and the same
    measured second-decade blowup, as embedding_incremental_pairs;
    n_tables then buys recall at linear cost). ``n_planes="auto"``
    applies :func:`lsh_auto_planes` from a 1-row count."""
    if n_planes == "auto":
        n_planes = lsh_auto_planes(df.count())
    signed = embedding_signatures(
        df, id_col, vec_col, n_planes, n_tables, seed, dim
    )
    left = signed.select(
        "tbl", "sig", F.col("id").alias("id_a"),
        F.col("v").alias("__va"), F.col("nrm").alias("__na"),
    )
    right = signed.select(
        "tbl", "sig", F.col("id").alias("id_b"),
        F.col("v").alias("__vb"), F.col("nrm").alias("__nb"),
    )
    return (
        left.join(right, ["tbl", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(id, v, nrm, tbl, sig) hyperplane-signature frame — the persistable
    corpus-side artifact for incremental embedding dedup (the vector twin
    of :func:`banded_minhash`). At scale, write this once per corpus
    snapshot (partitioned/bucketed by (tbl, sig) so incoming batches
    co-locate on the join key) and reuse it for every batch. Both sides of
    an incremental join must use the SAME (seed, n_planes, n_tables, dim)
    — the signature spaces differ otherwise."""
    import random

    from workbench_spark.operators.similarity import _stacked_signatures, _vector_dim

    if dim is None:
        # empty/all-null frame: any dim keeps the plan valid, zero rows out
        dim = _vector_dim(df, vec_col)
    rng = random.Random(seed)
    planes_per_table = [
        [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]
    # all tables' signatures from ONE scan (stack generator), not a
    # union of per-table branches — see similarity._stacked_signatures
    return _stacked_signatures(df, id_col, vec_col, planes_per_table)


def embedding_incremental_pairs(
    new_df: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | str = 8,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
    corpus_is_signed: bool = False,
) -> DataFrame:
    """Batch-vs-corpus embedding near-dup pairs:
    (new_id, corpus_id, cosine_sim) — the vector twin of
    :func:`minhash_incremental_pairs`. A new embedding batch dedupes
    against the already-ingested corpus WITHOUT re-pairing the corpus
    against itself: both sides sign with the same hyperplane family,
    candidates form on the (tbl, sig) equi-join new×corpus only, then
    exact cosine + threshold on candidates. Work is linear in the batch
    size, never the corpus size.

    ``corpus_is_signed=True`` accepts a precomputed
    :func:`embedding_signatures` frame (the 100 TB path: corpus
    signatures computed once per snapshot and stored; per-batch cost is
    sign(batch) + one equi-join). Intra-batch duplicates are
    ``embedding_near_dup_pairs(new_df, use_lsh=True)``'s job — compose
    the two for full coverage.

    SIZE n_planes WITH THE CORPUS (r13 ladder finding): the candidate
    join fans out ~|batch|·|corpus| / 2^n_planes per table, so a FIXED
    plane count at a growing corpus is quadratic — measured exponent
    2.19 (2.7 s → 417 s) across the sf1→sf10 decade at the default 8
    planes, vs 0.42 once planes scale. Production rule:
    n_planes ≈ ceil(log2(|corpus| / target_bucket)) with target_bucket
    ~50-100 keeps per-bucket occupancy (and therefore per-batch-row
    fan-in) constant as the corpus grows; n_tables then buys recall at
    linear cost. For the snapshot-artifact path, size the planes when
    the corpus artifact is built — re-signing is the (rare) resize
    event, exactly like re-bucketing a bucketed table."""
    if n_planes == "auto":
        if corpus_is_signed:
            raise ValueError(
                "n_planes='auto' sizes from the raw corpus count; a "
                "pre-signed corpus already fixed its plane count at "
                "artifact-build time — pass that number explicitly"
            )
        n_planes = lsh_auto_planes(corpus.count())  # size from the CORPUS,
        # never the batch: the fan-in the rule bounds is bucket occupancy
        # on the corpus side
    if dim is None:
        from workbench_spark.operators.similarity import _vector_dim

        # ONE probe shared by both sides, so they sign with identical
        # planes (independent probes could diverge on ragged data);
        # production passes dim explicitly
        dim = _vector_dim(new_df, vec_col)
    new_signed = embedding_signatures(
        new_df, id_col, vec_col, n_planes, n_tables, seed, dim
    )
    corpus_signed = (
        corpus
        if corpus_is_signed
        else embedding_signatures(
            corpus, id_col, vec_col, n_planes, n_tables, seed, dim
        )
    )
    a = new_signed.select(
        "tbl", "sig", F.col("id").alias("new_id"),
        F.col("v").alias("__va"), F.col("nrm").alias("__na"),
    )
    b = corpus_signed.select(
        "tbl", "sig", F.col("id").alias("corpus_id"),
        F.col("v").alias("__vb"), F.col("nrm").alias("__nb"),
    )
    cands = a.join(b, ["tbl", "sig"]).dropDuplicates(["new_id", "corpus_id"])
    return _cosine_pairs(cands, "new_id", "corpus_id", threshold)


def embedding_incremental_dedup(
    new_df: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    **kwargs,
) -> DataFrame:
    """Admission filter: rows of ``new_df`` with NO corpus near-dup above
    ``threshold`` (the corpus is never touched) — the vector twin of
    :func:`minhash_incremental_dedup`."""
    matched = embedding_incremental_pairs(
        new_df, corpus, id_col, vec_col, threshold, **kwargs
    ).select(F.col("new_id").alias(id_col)).distinct()
    return new_df.join(matched, id_col, "left_anti")


def _blas_threshold_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Exact threshold pairs via per-partition matmul: the full normalized
    matrix ships to every partition (bounded by N·dim doubles — fine while
    the set fits a broadcast; beyond that use the LSH path); each partition
    scores its block against the whole set and emits pairs where the
    block-side id is the LARGER of the two, so every unordered pair is
    emitted exactly once with no cap."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_pdf = df.select(id_col, vec_col).toPandas()
    q_ids = q_pdf[id_col].to_numpy()
    Q = np.stack(q_pdf[vec_col].to_numpy()).astype(np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    def block_pairs(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rids = pdf[id_col].to_numpy()
            R = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Rn = R / np.maximum(np.linalg.norm(R, axis=1, keepdims=True), 1e-300)
            sims = Qn @ Rn.T  # (N, nr)
            mask = (sims >= threshold) & (q_ids[:, None] < rids[None, :])
            qi, rj = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "id_a": q_ids[qi],
                    "id_b": rids[rj],
                    "cosine_sim": sims[qi, rj],
                }
            )

    fanned = df.select(id_col, vec_col)
    cores = df.sparkSession.sparkContext.defaultParallelism
    if fanned.rdd.getNumPartitions() < cores:
        fanned = fanned.repartition(cores)
    return fanned.mapInPandas(block_pairs, schema=out_schema)


def embedding_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    **kwargs,
) -> DataFrame:
    """Drop the higher id of every embedding near-dup pair (greedy,
    deterministic) — the vector-space twin of minhash_lsh_dedup."""
    pairs = embedding_near_dup_pairs(df, id_col, vec_col, threshold, **kwargs)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def cluster_representatives(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Quality-aware near-duplicate resolution — the step AFTER candidate
    pairs: build duplicate clusters from the pair list (connected
    components) and keep exactly ONE representative per cluster, the
    highest-``quality_col`` member (ties → smallest id, deterministic).
    Singletons (documents in no pair) are their own representative. This
    is the standard "keep the best copy" corpus-curation policy
    (near-dup clusters often mix a clean original with mangled rescrapes
    — keeping argmax(quality) instead of min(id) retains the clean one).

    Output: (id, component, quality, keep) — every input document, with
    ``component`` = min member id of its cluster (own id for singletons).

    Plan shape: label-propagation CC over the pair edges (tiny-diameter
    dedup clusters → 2-3 rounds), one left join docs→components, one
    groupBy(component).agg(max_by(struct(quality, -id))) for the winners,
    one equi-join back. No windows, no pairs beyond the input candidates;
    map-side combinable aggregation exactly like dedup_spans' firsts.
    """
    from workbench_spark.operators.graph import connected_components

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    comp = connected_components(edges)
    base = df.select(
        F.col(id_col),
        F.col(quality_col).cast("double").alias("__q"),
    ).join(
        comp.select(F.col("node").alias(id_col), "component"), id_col, "left"
    ).withColumn("component", F.coalesce("component", F.col(id_col)))
    # winner per component: max quality, ties to the SMALLEST id — encode
    # as max(struct(quality, -id)) so one partial-aggregable max carries
    # both criteria
    winners = base.groupBy("component").agg(
        F.max(
            F.struct(F.col("__q").alias("q"), (-F.col(id_col)).alias("nid"))
        ).alias("__w")
    ).select(
        "component", (-F.col("__w.nid")).alias("__win_id")
    )
    return (
        base.join(winners, "component")
        .select(
            F.col(id_col),
            "component",
            F.col("__q").alias("quality"),
            (F.col(id_col) == F.col("__win_id")).alias("keep"),
        )
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | str = 16,
    eps: float = 0.05,
    seed: int = 42,
    exact: bool = False,
    dim: int | None = None,
    iters: int = 3,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication via cluster-scoped embedding similarity. K-means
    partitions the embedding space; near-duplicate pairs (cosine ≥ 1−eps)
    are enumerated ONLY within clusters (the paper's trick that makes the
    pair search tractable at web scale); duplicate groups = connected
    components of those pairs; each group keeps exactly one example — the
    member with the LOWEST cosine similarity to its cluster centroid
    (the paper's keep-rule: retain the most marginal/diverse point).

    Output: (id, cluster int, centroid_sim double, kept boolean) for every
    input row — filter on ``kept`` for the surviving corpus.

    Scale shape: k-means assignment is a map-side MLlib transform;
    centroid similarity is one broadcast equi-join on cluster id (the
    centroid table is n_clusters rows); candidate pairs form on a cell
    equi-join (never a global cross product — O(Σ cell²) pairs, the
    paper's own cost model); components come from the label-propagation
    CC (tiny diameters here); the keep-rule is one min(struct) per
    component. Seeded k-means ⇒ rows-only correctness gate + invariant
    companions (same convention as knn_cosine_ivf).
    ``exact=True`` (r12) swaps the MLlib clusterer for the fixed-point
    integer Lloyd twin (operators/kmeans_exact.py — requires ``dim``):
    clusters and centroid_sim become engine-portable (centroid_sim is the
    cosine between the normalized integer vector and its integer centroid
    — marginality semantics preserved, values differ from MLlib mode),
    which upgrades the registry entry to a full DuckDB-replay oracle.
    Pair search, CC, and the keep-rule are shared between both modes.

    n_clusters is a CAPACITY knob (the third after LSH planes and minhash
    bands): the intra-cell pair join is O(Σ cell²) ≈ N²/k, so a fixed k
    at a growing corpus degenerates toward all-pairs.
    ``n_clusters="auto"`` sizes k = clamp(N/250, 8, 4096) from a 1-row
    count (mean cell ~250 — the measured-linear smoke shape); at auto
    scale prefer the MLlib quantizer (default): the exact fixed-point
    twin builds a k·d-LITERAL assignment projection, so its plan/codegen
    cost grows with k — it is the oracle-replay tool, not the 100 TB
    quantizer.
    """
    from workbench_spark.operators.graph import connected_components
    from workbench_spark.operators.similarity import _cosine, _dot, _norm

    if n_clusters == "auto":
        n_clusters = max(8, min(df.count() // 250, 4096))
    if exact:
        if dim is None:
            raise ValueError("exact=True requires dim (quantization width)")
        from workbench_spark.operators.kmeans_exact import (
            kmeans_fixed_point,
            quantize_array_col,
        )

        base = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("__n"),
        )
        z = quantize_array_col(base, "v", dim)
        assigned_x, cents_x = kmeans_fixed_point(z, k=n_clusters, iters=iters)
        # this row's centroid via a literal array-of-arrays lookup (k small)
        cvec = F.element_at(
            F.array(
                *[F.array(*[F.lit(int(x)).cast("long") for x in c]) for c in cents_x]
            ),
            F.col("__cell") + 1,
        )
        cnorm = F.element_at(
            F.array(*[F.lit(float(sum(x * x for x in c)) ** 0.5) for c in cents_x]),
            F.col("__cell") + 1,
        )
        with_sim = assigned_x.select(
            F.col("__cell").alias("cluster"),
            "id",
            "v",
            "__n",
            (_dot(F.col("__zq"), cvec) / (_norm(F.col("__zq")) * cnorm)).alias(
                "centroid_sim"
            ),
        )
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        vecs = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("__n"),
        ).withColumn(
            "__mlvec", array_to_vector(F.transform("v", lambda x: x.cast("double")))
        )
        km = KMeans(
            k=n_clusters, seed=seed, featuresCol="__mlvec", predictionCol="cluster"
        ).fit(vecs)
        assigned = km.transform(vecs).drop("__mlvec")

        spark = df.sparkSession
        cents = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())],
            "cluster int, __c array<double>",
        ).withColumn(
            "__cn",
            F.sqrt(F.aggregate("__c", F.lit(0.0), lambda a, x: a + x * x)),
        )
        with_sim = assigned.join(F.broadcast(cents), "cluster").select(
            "cluster",
            "id",
            "v",
            "__n",
            _cosine("v", "__c", "__n", "__cn").alias("centroid_sim"),
        )

    a = with_sim.select(
        "cluster", F.col("id").alias("src"), F.col("v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = with_sim.select(
        "cluster", F.col("id").alias("dst"), F.col("v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", _cosine("__va", "__vb", "__na", "__nb").alias("__sim"))
        # NaN >= x is TRUE in Spark comparisons (NaN sorts greatest): a
        # NaN-vector would edge to its whole cluster and chain-merge CC
        # components — require a real, finite similarity (r12 fuzz)
        .filter((F.col("__sim") >= 1.0 - eps) & ~F.isnan("__sim"))
        .select("src", "dst")
    )
    comp = connected_components(pairs)
    members = with_sim.join(comp, with_sim["id"] == comp["node"], "left").select(
        "cluster",
        "id",
        "centroid_sim",
        F.coalesce(F.col("component"), F.col("id")).alias("__comp"),
    )
    winners = members.groupBy("__comp").agg(
        F.min(F.struct(F.col("centroid_sim"), F.col("id"))).alias("__w")
    )
    return (
        members.join(winners, "__comp")
        .select(
            "id",
            "cluster",
            "centroid_sim",
            (F.col("id") == F.col("__w.id")).alias("kept"),
        )
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
    seed: int = 101,
) -> DataFrame:
    """Train/val/test assignment with NO near-duplicate leakage across
    splits: documents connected by the near-dup ``pairs`` graph (any
    generator: minhash/simhash/embedding/ngram) land in the SAME split,
    because the split decision hashes the CONNECTED-COMPONENT label, not
    the document id. Splitting on raw ids lets a train document's clone
    sit in test — the classic eval-inflation bug this operator exists to
    prevent.

    Deterministic: u = mix(poly("sp{seed}:" || component)) % 1e6 against
    cumulative weight thresholds (the portable-hash draw — reproducible
    across runs/partitionings/engines, DuckDB-oracle-able with the
    recursive-CTE closure). Singletons are their own component. Output:
    every input id + (component, split)."""
    from workbench_spark.operators.dsir import _MIX, _POLY
    from workbench_spark.operators.graph import connected_components

    if len(weights) != len(names):
        raise ValueError("weights and names must align")
    total = float(sum(weights))
    if total <= 0:
        raise ValueError("weights must sum > 0")
    comp = connected_components(
        pairs.selectExpr("id_a as src", "id_b as dst")
        if "id_a" in pairs.columns
        else pairs
    )
    members = df.select(F.col(id_col)).join(
        comp, df[id_col] == comp["node"], "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )
    with_u = (
        members.withColumn(
            "__s", F.concat(F.lit(f"sp{seed}:"), F.col("component").cast("string"))
        )
        .withColumn("__p", F.expr(_POLY.format(c="__s")))
        .withColumn("__u", F.expr(_MIX.format(p="__p")) % F.lit(1000000))
    )
    acc = 0.0
    expr = F.lit(names[-1])
    cuts = []
    for w in weights[:-1]:
        acc += w / total
        cuts.append(int(acc * 1000000 + 0.5))
    for name, cut in zip(reversed(names[:-1]), reversed(cuts)):
        expr = F.when(F.col("__u") < cut, F.lit(name)).otherwise(expr)
    # the when-chain above assigns names[0] to u < cut0, names[1] to
    # cut0 <= u < cut1, ... (built innermost-last so earlier cuts win)
    return with_u.select(id_col, "component", expr.alias("split"))


def duplication_report(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus duplication audit: the cluster-size histogram of exact
    (normalized-text) duplicate clusters — the first report a dedup pass
    produces (how much of the corpus is singletons vs boilerplate
    mega-clusters decides which dedup tier to run next). Output:
    (cluster_size, n_clusters, n_docs), size ascending; Σ n_docs = corpus
    rows, Σ n_clusters = distinct contents, n_docs/n_clusters = the
    duplication factor.

    Plan: map-side md5 → two map-side-combinable groupBys (content, then
    size) — O(distinct sizes) result rows, no joins at all."""
    hashed = df.select(F.md5(normalize_text(F.col(text_col))).alias("__h"))
    sizes = hashed.groupBy("__h").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def cross_source_leakage(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
    prefix_chars: int | None = None,
) -> DataFrame:
    """Cross-source exact-duplication matrix — which sources share content
    (the between-sources contamination audit: mirrors, syndication,
    scraped re-posts; the numbers that decide mixture weights and
    dedup-scope choices). For every unordered source pair:
    (source_a, source_b, n_shared_contents, n_doc_pairs) where
    n_shared_contents counts distinct contents present in BOTH and
    n_doc_pairs = Σ_content n_a·n_b (every cross-source duplicate pair).

    ``prefix_chars`` keys on the first N normalized chars instead of the
    full content — the boilerplate-FAMILY audit (shared headers and
    templates across sources) when full-content overlap is rare.

    Shape: per-(content-hash, source) counts (one combinable groupBy),
    then a SELF EQUI-JOIN on the hash with source_a < source_b — linear
    in distinct (hash, source) rows, never the C(cluster,2) doc-pair
    explosion (the counts multiply instead)."""
    key = normalize_text(F.col(text_col))
    if prefix_chars is not None:
        key = F.substring(key, 1, prefix_chars)
    per = (
        df.select(
            F.md5(key).alias("__h"),
            F.col(source_col).alias("source"),
        )
        .groupBy("__h", "source")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = per.select("__h", F.col("source").alias("source_a"), F.col("c").alias("ca"))
    b = per.select("__h", F.col("source").alias("source_b"), F.col("c").alias("cb"))
    return (
        a.join(b, "__h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_contents"),
            F.sum(F.col("ca") * F.col("cb")).alias("n_doc_pairs"),
        )
        .orderBy("source_a", "source_b")
    )
