"""Streaming / monitoring (SURVEY §2.11, §2.16 S16).

The reference has NO streaming engine — its monitoring loop is batch-over-
captured-files: endpoint data capture writes JSONL to S3
(data_capture_core.py:1-410) and a scheduled job compares distributions
against a baseline (monitor_core.py:195-260) with the §2.4 A17/A18 stats.

Parity = the batch path (capture_inference → check_drift). The
Structured Streaming variant is the Spark-native enhancement: the same
aggregations over a file-source stream with watermarked event-time
windows — demonstrating the operators survive the streaming execution
model (incremental state, no global sorts)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------- batch path
def capture_inference(df: DataFrame, capture_dir: str, fmt: str = "json") -> str:
    """S16 — append predictions to the capture directory (the reference's
    endpoint data-capture JSONL contract)."""
    writer = df.write.mode("append")
    (writer.json(capture_dir) if fmt == "json" else writer.parquet(capture_dir))
    return capture_dir


def check_drift(
    spark: SparkSession,
    capture_dir: str,
    baseline: DataFrame,
    column: str,
    lo: float,
    hi: float,
    bins: int = 10,
    fmt: str = "json",
) -> dict:
    """monitor_core.py:195-260 — compare captured distribution vs baseline:
    PSI + KS over the capture files."""
    from workbench_spark.operators.drift import ks_statistic, psi

    cur = spark.read.json(capture_dir) if fmt == "json" else spark.read.parquet(capture_dir)
    return {
        "psi": psi(baseline, cur, column, lo, hi, bins).first()["psi"],
        "ks": ks_statistic(baseline, cur, column).first()["ks"],
        "captured_rows": cur.count(),
    }


# ------------------------------------------------------------- streaming path
def stream_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    schema,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    value_col: str = "value",
):
    """Watermarked event-time windowed aggregation over a parquet file
    stream — the canonical late-data-tolerant streaming rollup. Returns
    the streaming DataFrame (caller starts the query; tests drive it with
    format('memory') + processAllAvailable)."""
    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_col).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n",
            "total_value",
        )
    )


def run_stream_to_memory(stream_df, query_name: str = "stream_out") -> DataFrame:
    """Drive a streaming frame to completion over the currently-available
    files (test/bootstrap harness): memory sink + processAllAvailable."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def stream_sessionize_stateful(
    spark: SparkSession,
    source_dir: str,
    schema,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: float = 30.0,
):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user session aggregation with a gap timeout — the streaming twin
    of windows.sessionize. State = (session_start, last_ts, n, total);
    a batch closes sessions whose gap exceeded the threshold and emits
    them (output mode append).

    This is the reference-free extension demonstrating
    arbitrary-stateful-operator plumbing (SURVEY §2.11 notes the reference
    has no streaming engine at all)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{user_col} long, session_start timestamp, session_end timestamp, "
        "n_events long, total_value double"
    )
    state_schema = "session_start timestamp, last_ts timestamp, n long, total double"
    gap_s = gap_minutes * 60.0

    def fn(key, pdfs, state: GroupState):
        (uid,) = key
        rows = []
        events = pd.concat(list(pdfs)).sort_values(ts_col) if pdfs else pd.DataFrame()
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0
        for _, r in events.iterrows():
            t = r[ts_col]
            v = float(r[value_col]) if pd.notna(r[value_col]) else 0.0
            if last is not None and (t - last).total_seconds() > gap_s:
                rows.append((uid, start, last, n, total))
                start, n, total = t, 0, 0.0
            if start is None:
                start = t
            last = t
            n += 1
            total += v
        if last is not None:
            state.update((start, last, n, total))
        yield pd.DataFrame(
            rows,
            columns=[user_col, "session_start", "session_end", "n_events", "total_value"],
        )

    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    return (
        stream.groupBy(user_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def stream_domain_cap(
    spark: SparkSession,
    source_dir: str,
    schema,
    url_col: str = "url",
    cap: int = 1000,
):
    """Streaming per-domain admission cap — the ingestion-time twin of
    web.domain_cap: each arriving document is admitted only while its
    domain's running count is below ``cap``, everything after is dropped
    AT INGESTION (batch domain_cap selects best-quality after the fact;
    a stream must decide on arrival, so the policy is necessarily
    first-come — documented divergence).

    Custom stateful operator via applyInPandasWithState: state = ONE long
    per domain (the admitted count), O(#domains) total — no per-document
    state, no watermark needed (a cap never expires). Emits the admitted
    rows plus their admission rank within the domain."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from workbench_spark.operators.web import extract_domain

    field_names = [f.name for f in schema.fields]
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
        + ", domain string, domain_rank long"
    )
    state_schema = "n long"

    def fn(key, pdfs, state: GroupState):
        (domain,) = key
        n = state.get[0] if state.exists else 0
        outs = []
        for pdf in pdfs:
            pdf = pdf.drop(columns=["__domain"], errors="ignore")
            room = cap - n
            if room <= 0:
                continue
            take = pdf.head(room).copy()
            take["domain"] = domain
            take["domain_rank"] = range(n + 1, n + len(take) + 1)
            n += len(take)
            outs.append(take)
        state.update((n,))
        yield from outs or [
            pd.DataFrame(columns=field_names + ["domain", "domain_rank"])
        ]

    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .load(source_dir)
        .withColumn("__domain", extract_domain(F.col(url_col)))
    )
    return stream.groupBy("__domain").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_exact_dedup(
    spark: SparkSession,
    source_dir: str,
    schema,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
):
    """Streaming exact deduplication: dropDuplicates on the dedup key
    within the watermark horizon — the ingestion-time guard an LLM data
    pipeline puts in front of the corpus (at-least-once sources replay
    records; this makes the downstream corpus exactly-once per key).

    State = one entry per key seen within the watermark; Spark evicts
    state older than the horizon, so memory is bounded by key arrival
    rate x watermark, independent of stream length. Batch twin:
    ``dropDuplicates(key_cols)`` — equivalence asserted in tests."""
    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    return stream.withWatermark(ts_col, watermark).dropDuplicates(key_cols)


def stream_admit_against_corpus(
    spark: SparkSession,
    source_dir: str,
    schema,
    corpus_banded: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    verify_threshold: float = 0.5,
):
    """Streaming admission filter: drop incoming documents that are
    near-duplicates of an already-ingested corpus — the online twin of
    ``dedup.minhash_incremental_dedup``.

    Shape: ``foreachBatch`` applying the BATCH incremental-dedup operator
    per micro-batch against the static ``banded_minhash`` corpus
    artifact. The anti-join (batch vs ids matched from the batch itself)
    makes this a self-referential join, which stream-stream join support
    cannot express without unbounded state — foreachBatch is the
    documented Structured Streaming pattern for exactly this: each
    micro-batch is a bounded DataFrame, so the full batch operator
    (including its dropDuplicates and anti-join) runs unchanged, and
    per-batch cost stays linear in the batch size. Corpus refresh =
    restart on the new snapshot artifact. Compose with
    stream_exact_dedup upstream for within-stream duplicates (a doc can
    recur across micro-batches; this filter only consults the corpus).

    Returns the started StreamingQuery writing admitted rows to
    ``sink_dir`` as parquet. Batch-twin equivalence is asserted in
    tests (same admitted ids as the batch operator on the same data).
    """
    from workbench_spark.operators.dedup import minhash_incremental_dedup

    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        admitted = minhash_incremental_dedup(
            batch_df, corpus_banded, text_col, id_col, n_hashes, bands,
            shingle_n, verify_threshold, corpus_is_banded=True,
        )
        admitted.write.mode("append").parquet(sink_dir)

    return (
        stream.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_windowed_drift(
    spark: SparkSession,
    source_dir: str,
    schema,
    baseline: DataFrame,
    column: str,
    lo: float,
    hi: float,
    bins: int = 10,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    eps: float = 1e-6,
):
    """Per-window PSI drift against a static baseline, fully streaming.

    The reference's drift check is a scheduled batch job over capture
    files (monitor_core.py:195-260); this is its Structured-Streaming
    twin: one watermarked event-time windowed aggregation emitting
    (window, n, psi) rows as windows close.

    Streaming shape: PSI needs per-window bucket fractions, but a second
    aggregation over a streaming aggregate is unsupported (and would add
    a shuffle). Instead the ``bins`` bucket counts are conditional sums
    inside the SINGLE windowed aggregation — O(bins) state per window —
    and PSI is a closed-form projection over those count columns. The
    baseline side is collected ONCE into ``bins`` constant fractions
    (a handful of doubles on the driver, independent of baseline size),
    exactly like the UQ calibration CDF. Bucketing matches
    operators/drift.binned_distribution (edge values clamp into the end
    buckets), so a batch psi() over the same window is the oracle twin.
    """
    from workbench_spark.operators.drift import binned_distribution

    base = {
        r["bucket"]: r["frac"]
        for r in binned_distribution(baseline, column, lo, hi, bins).collect()
    }
    p = [max(base.get(i, 0.0), eps) for i in range(bins)]

    width = (hi - lo) / bins
    bucket = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col(column) - lo) / width)),
    ).cast("int")

    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    agg = (
        stream.filter(F.col(column).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.when(bucket == i, 1).otherwise(0)).alias(f"__b{i}")
                for i in range(bins)
            ],
        )
    )
    q_frac = [
        F.greatest(F.col(f"__b{i}") / F.col("n"), F.lit(eps)) for i in range(bins)
    ]
    # Same integer pico-unit term quantization as batch drift.psi — the
    # streaming values stay bit-identical to the batch oracle twin.
    _q = lambda t: F.floor(t * F.lit(1e12) + F.lit(0.5)).cast("long")  # noqa: E731
    psi_expr = (
        sum(
            (
                _q((F.lit(p[i]) - q_frac[i]) * F.log(F.lit(p[i]) / q_frac[i]))
                for i in range(1, bins)
            ),
            _q((F.lit(p[0]) - q_frac[0]) * F.log(F.lit(p[0]) / q_frac[0])),
        ).cast("double")
        / F.lit(1e12)
    )
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "n",
        psi_expr.alias("psi"),
    )


def stream_quality_monitor(
    spark: SparkSession,
    source_dir: str,
    schema,
    ts_col: str = "ingest_ts",
    text_col: str = "text",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
):
    """Ingest-time corpus quality monitor: apply the batch quality rules
    (Gopher thresholds + C4 page flags — the SAME operators the batch
    pipeline runs, so streaming and batch can never disagree on a rule)
    to a document file stream and roll pass rates up per event-time
    window. Output per window: docs seen, gopher/c4 pass counts and
    rates, mean word count.

    Plan shape: the rule columns are one stateless projection (all JVM
    regex/array exprs); the only state is the windowed count aggregation
    — O(windows) with the watermark bounding it. The monitor is how a
    100 TB ingest notices a crawler regression (pass-rate cliff) within
    a window of arrival rather than at the next batch audit."""
    from workbench_spark.operators.text import c4_page_flags, gopher_quality_flags

    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    flagged = c4_page_flags(gopher_quality_flags(stream, text_col), text_col)
    return (
        flagged.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("gopher_keep").cast("long")).alias("n_gopher_pass"),
            F.sum(F.col("c4_keep").cast("long")).alias("n_c4_pass"),
            F.avg(F.col("n_words").cast("double")).alias("mean_words"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_docs",
            "n_gopher_pass",
            "n_c4_pass",
            (F.col("n_gopher_pass") / F.col("n_docs")).alias("gopher_pass_rate"),
            (F.col("n_c4_pass") / F.col("n_docs")).alias("c4_pass_rate"),
            "mean_words",
        )
    )

def stream_bloom_admit(
    spark: SparkSession,
    source_dir: str,
    schema,
    bloom: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    m_bits: int = 4096,
    k: int = 5,
):
    """Streaming EXACT-key admission against a corpus Bloom filter: drop
    incoming rows whose key is (probably) already in the ingested corpus
    — the sketch-backed twin of ``stream_admit_against_corpus`` for
    exact identities (URLs, content hashes, doc ids) instead of
    near-duplicate text.

    Why a Bloom artifact and not the corpus key set: the filter is
    ⌈m_bits/62⌉ BIGINT rows whatever the corpus size — it broadcasts to
    every micro-batch task, so admission is a map-side check with ZERO
    shuffle of corpus data per batch (the anti-join against the raw key
    set would shuffle or rebroadcast the full corpus every batch).
    One-sided error only: a false positive REJECTS a genuinely new row
    (rate ≈ (1−e^{−kn/m})^k — size m for the corpus); it never admits a
    duplicate. Corpus refresh = bloom_merge new batches' filters and
    restart on the snapshot (same convention as the banded-minhash
    corpus artifact).

    Shape: foreachBatch applying sketches.bloom_contains per micro-batch
    (bounded frames), keeping maybe_present = false. Returns the started
    StreamingQuery writing admitted rows to ``sink_dir`` as parquet."""
    from workbench_spark.operators.sketches import bloom_contains

    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        verdict = bloom_contains(bloom, batch_df, key_col, m_bits, k)
        admitted = batch_df.join(
            verdict.filter(~F.col("maybe_present")).select(key_col), key_col
        )
        admitted.write.mode("append").parquet(sink_dir)

    return (
        stream.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

def stream_cms_counts(
    spark: SparkSession,
    source_dir: str,
    schema,
    sketch_dir: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    depth: int = 4,
    width: int = 1024,
):
    """Streaming frequency sketch: maintain ONE Count-Min artifact over
    an unbounded key stream — the O(depth·width) answer to "what are the
    hot keys so far?" when the distinct-key space (URLs, tokens, user
    ids) can't be held exactly.

    Shape: foreachBatch builds the micro-batch's CMS (bounded) and
    additively merges it into the persisted artifact (read → cms_merge →
    atomic overwrite via temp-dir swap). The artifact is a plain parquet
    table (j, bucket, cnt): downstream point queries are
    sketches.cms_query against a broadcastable ≤ depth·width-row frame,
    and two independently-maintained stream sketches merge by the same
    cms_merge — the additivity that makes per-day/per-source artifacts
    composable. State lives in the artifact, not executor memory: no
    watermark needed, restarts resume from the checkpoint.

    AT-LEAST-ONCE CAVEAT (pinned by
    tests/test_sources_streaming_multimodal.py): restarts on an INTACT
    checkpoint are exact — already-committed files are never re-folded
    (verified bit-for-bit against the uninterrupted run). But the
    additive merge means any REDELIVERY outside the checkpoint's
    knowledge (checkpoint loss, a crash in the window between the
    artifact swap and the epoch commit, replaying a source against an
    existing artifact) INFLATES counts — a re-run fold double-counts.
    Where duplicate-proof semantics matter more than frequencies, use
    stream_hll_counts (max-merge, idempotent) or keep the checkpoint as
    durable as the artifact."""
    import os

    from workbench_spark.operators.sketches import cms_build, cms_merge

    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_sketch = cms_build(batch_df, key_col, depth, width)
        if os.path.isdir(sketch_dir) and any(
            f.endswith(".parquet") for f in os.listdir(sketch_dir)
        ):
            prior = spark.read.parquet(sketch_dir)
            merged = cms_merge(prior, batch_sketch)
        else:
            merged = batch_sketch
        tmp = sketch_dir.rstrip("/") + f"__tmp{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        final = spark.read.parquet(tmp)
        final.write.mode("overwrite").parquet(sketch_dir)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_hll_counts(
    spark: SparkSession,
    source_dir: str,
    schema,
    sketch_dir: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    m: int = 64,
    by: list[str] | None = None,
):
    """Streaming distinct-count sketch: maintain ONE HyperLogLog register
    artifact over an unbounded key stream — the O(m) answer to "how many
    DISTINCT keys so far?" (users, URLs, vocabulary) where exact
    dropDuplicates state grows without bound.

    Same artifact-fold shape as stream_cms_counts, but the merge is MAX
    (hll_merge), which is also idempotent — re-delivered keys and even
    re-processed batches cannot inflate the count, the property that
    makes HLL the right streaming cardinality monitor (a re-run CMS fold
    would double-count; a re-run HLL fold is a no-op). ``by`` maintains
    per-group registers (≤ m rows per group) for per-domain/per-source
    distinct tracking. Estimates at any time: sketches.hll_estimate over
    the persisted artifact."""
    import os

    from workbench_spark.operators.sketches import hll_build, hll_merge

    by = list(by or [])
    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_sketch = hll_build(batch_df, key_col, m=m, by=by)
        if os.path.isdir(sketch_dir) and any(
            f.endswith(".parquet") for f in os.listdir(sketch_dir)
        ):
            prior = spark.read.parquet(sketch_dir)
            merged = (
                prior.unionByName(batch_sketch)
                .groupBy(*by, "bucket")
                .agg(F.max("rho").alias("rho"))
                if by
                else hll_merge(prior, batch_sketch)
            )
        else:
            merged = batch_sketch
        tmp = sketch_dir.rstrip("/") + f"__tmp{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        final = spark.read.parquet(tmp)
        final.write.mode("overwrite").parquet(sketch_dir)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_constraint_monitor(
    spark: SparkSession,
    source_dir: str,
    schema,
    bounds: dict,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Continuous completeness/bounds checking against Monitor-style
    constraints — the streaming twin of the batch
    ``run_monitoring_execution`` scan (api/monitor.py), per event-time
    window and feature.

    ``bounds``: {feature: (lo, hi) | None} — None checks completeness
    only. Shape: the feature columns are melted map-side into
    (feature, is_null, is_oob) structs (one Expand, no extra shuffle —
    the drift_by_feature pattern), then ONE watermarked windowed
    groupBy(window, feature). Output rows: (window_start, window_end,
    feature, n, n_null, n_oob). State is O(windows × features); a
    500-feature monitor is one streaming aggregation, not 500 queries."""
    cols = []
    for c, b in bounds.items():
        is_oob = (
            F.when(
                F.col(c).isNotNull(),
                ((F.col(c) < F.lit(float(b[0]))) | (F.col(c) > F.lit(float(b[1])))).cast("int"),
            ).otherwise(F.lit(0))
            if b is not None
            else F.lit(0)
        )
        cols.append(
            F.struct(
                F.lit(c).alias("feature"),
                F.col(c).isNull().cast("int").alias("is_null"),
                is_oob.alias("is_oob"),
            )
        )
    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    melted = (
        stream.withWatermark(ts_col, watermark)
        .select(ts_col, F.explode(F.array(*cols)).alias("m"))
        .select(ts_col, "m.feature", "m.is_null", "m.is_oob")
    )
    return (
        melted.groupBy(F.window(ts_col, window).alias("win"), "feature")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_null").alias("n_null"),
            F.sum("is_oob").alias("n_oob"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "feature",
            "n",
            "n_null",
            "n_oob",
        )
    )
