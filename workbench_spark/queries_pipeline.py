"""Correctness-gate queries for the training-data-pipeline extension:
text analysis, deduplication, similarity search (registered into the same
registry as workbench_spark.queries; imported from there).

Engine-portability notes:
- Shingle/Jaccard/token oracles are exact DuckDB replicas (list
  comprehensions + regexp_extract_all).
- MinHash/SimHash signatures use Spark's xxhash64 — not reproducible in
  DuckDB → those entries ship without oracles (driver records rows-only),
  but their *invariants* (pair symmetry, estimator within tolerance of the
  exact Jaccard pairs) are covered in tests/test_dedup.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workbench_spark.operators.metrics import (
    exact_midrank_corr_sql as _corr_sql,
)
from workbench_spark.queries import _ORACLES, _t, query


def _fround(c, digits: int = 6):
    """Engine-deterministic rounding: floor(x·10^d + 0.5)/10^d. Spark's
    ROUND (BigDecimal HALF_UP on the exact decimal expansion) and DuckDB's
    ROUND (float multiply) disagree when a double lands exactly on a .5
    half-boundary at the target precision; this formula is the same IEEE
    op sequence in both engines, so results are bit-identical (and floor
    never yields -0.0). SQL twin: floor(x * 1e6 + 0.5) / 1e6."""
    s = float(10**digits)
    return F.floor(c * F.lit(s) + F.lit(0.5)) / F.lit(s)

# =====================================================================
# Text analysis
# =====================================================================


@query(
    "text_token_stats",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '\\S+')) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_words,
           length(text) AS n_chars_computed
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish segmentation) — pure regexp
    expressions, zero Python per row."""
    from workbench_spark.operators.text import char_count, token_count, word_count

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        word_count(t).cast("long").alias("n_words"),
        char_count(t).cast("long").alias("n_chars_computed"),
    )


@query(
    "text_c4_rules_panel",
    """
    SELECT * FROM (VALUES
      (1, 3, 3, 3, false, false, true,  'clean page'),
      (2, 1, 0, 1, false, false, false, 'one short sentence'),
      (3, 1, 1, 3, true,  false, false, 'lorem ipsum page'),
      (4, 2, 2, 4, false, true,  false, 'code page')
    ) AS t(doc_id, n_lines, n_kept_lines, n_sentences,
           has_lorem_ipsum, has_code_brace, c4_keep, label)
    """,
)
def text_c4_rules_panel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page-cleaning heuristics (Raffel 2020) on a literal panel with
    hand-derived oracle VALUES — certifies the line-keep predicate
    (terminal punctuation + ≥5 words), the sentence threshold, and the
    lorem-ipsum / code-brace page drops."""
    from workbench_spark.operators.text import c4_page_flags

    panel = spark.createDataFrame(
        [
            (1, "This is a fine first sentence.\nHere is another good line"
                " with many words.\nAnd a third sentence appears right here.",
             "clean page"),
            (2, "Too short.", "one short sentence"),
            (3, "Lorem ipsum dolor sit amet, consectetur adipiscing elit"
                " today. More words follow. And more.", "lorem ipsum page"),
            (4, "function f() { return 1; } is code here.\nA second line of"
                " prose follows with words. Done? Yes!", "code page"),
        ],
        "doc_id int, text string, label string",
    )
    out = c4_page_flags(panel)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_kept_lines").cast("int").alias("n_kept_lines"),
        F.col("n_sentences").cast("int").alias("n_sentences"),
        "has_lorem_ipsum", "has_code_brace", "c4_keep", "label",
    )


@query(
    "text_pii_panel",
    """
    SELECT * FROM (VALUES
      (1, 1, 0, 0, 1, 0, 'contact [EMAIL] or call [PHONE]'),
      (2, 0, 0, 1, 0, 1, 'server at [IP] ssn [SSN]'),
      (3, 0, 1, 0, 0, 0, 'card [CC] end'),
      (4, 0, 0, 0, 0, 0, 'no sensitive content here')
    ) AS t(doc_id, pii_email, pii_credit_card, pii_ssn, pii_phone,
           pii_ipv4, text_scrubbed)
    """,
)
def text_pii_panel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + scrubbing gate on a literal panel with planted
    matches: per-category counts and the scrubbed text against a-priori
    hand-derived oracle VALUES. Certifies the category regexes and the
    replacement precedence, independent of the corpus."""
    from workbench_spark.operators.text import add_pii_counts, scrub_pii

    panel = spark.createDataFrame(
        [
            (1, "contact john.doe@example.com or call 555-123-4567"),
            (2, "server at 192.168.1.1 ssn 123-45-6789"),
            (3, "card 4111 1111 1111 1111 end"),
            (4, "no sensitive content here"),
        ],
        "doc_id int, text string",
    )
    out = scrub_pii(add_pii_counts(panel))
    return out.select(
        "doc_id",
        F.col("pii_email").cast("int").alias("pii_email"),
        F.col("pii_credit_card").cast("int").alias("pii_credit_card"),
        F.col("pii_ssn").cast("int").alias("pii_ssn"),
        F.col("pii_phone").cast("int").alias("pii_phone"),
        F.col("pii_ipv4").cast("int").alias("pii_ipv4"),
        "text_scrubbed",
    )


@query(
    "text_pii_scan",
    """
    SELECT CAST(SUM(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))) AS BIGINT)
             AS n_emails,
           CAST(SUM(len(regexp_extract_all(text,
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))) AS BIGINT)
             AS n_ipv4,
           COUNT(*) AS n_docs
    FROM documents
    """,
)
def text_pii_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII counts over the real documents table, oracled by the same
    regexes in DuckDB — certifies cross-engine match-for-match regex
    equivalence on corpus text at any SF (the patterns deliberately stay
    in the Java-regex ∩ RE2 portable subset)."""
    from workbench_spark.operators.text import add_pii_counts

    d = _t(spark, sf_dir, "documents")
    c = add_pii_counts(d)
    return c.agg(
        F.sum("pii_email").cast("long").alias("n_emails"),
        F.sum("pii_ipv4").cast("long").alias("n_ipv4"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "text_quality_features",
    """
    SELECT doc_id,
           ROUND(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_\\s]')) AS DOUBLE)
                 / GREATEST(length(text), 1), 6) AS punct_ratio,
           ROUND(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                 / GREATEST(length(text), 1), 6) AS digit_ratio,
           ROUND(CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0
                 THEN CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                      / len(regexp_extract_all(text, '\\S+'))
                 ELSE 0.0 END, 6) AS mean_word_len
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal ratios (C4/Gopher-style heuristics); the composite
    quality_score is library-side (tested in tests/), ratios oracle-checked.

    NOTE on punct regex: Spark \\w == [a-zA-Z0-9_] (ASCII by default);
    DuckDB RE2 \\w differs, so the oracle spells the class out.
    """
    from workbench_spark.operators.text import quality_features

    d = _t(spark, sf_dir, "documents")
    qf = quality_features(d)
    return qf.select(
        "doc_id",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
    )


@query(
    "text_code_quality",
    r"""
    WITH src AS (SELECT doc_id, replace(text, '. ', chr(10)) AS t FROM documents),
    m AS (
      SELECT doc_id, t, string_split(t, chr(10)) AS lines,
             list_transform(string_split(t, chr(10)), x -> length(x)) AS lens
      FROM src
    ),
    f AS (
      SELECT doc_id, t,
        CAST(len(lines) AS INTEGER) AS n_lines,
        CAST(COALESCE(list_max(lens), 0) AS INTEGER) AS max_line_len,
        floor(CAST(COALESCE(list_sum(lens), 0) AS DOUBLE)
              / GREATEST(len(lines), 1) * 1e6 + 0.5) / 1e6 AS avg_line_len,
        floor(CAST(length(regexp_replace(t, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE)
              / GREATEST(length(t), 1) * 1e6 + 0.5) / 1e6 AS alnum_frac,
        floor(CAST(len(list_filter(lines,
                x -> regexp_matches(ltrim(x), '^(#|//|--|/\*|\*|;)'))) AS DOUBLE)
              / GREATEST(len(lines), 1) * 1e6 + 0.5) / 1e6 AS comment_line_frac,
        floor(CAST(len(list_filter(lens, x -> x > 120)) AS DOUBLE)
              / GREATEST(len(lines), 1) * 1e6 + 0.5) / 1e6 AS long_line_frac,
        regexp_matches(lower(t),
            '(auto-? ?generated|generated by|do not edit)') AS autogenerated
      FROM m
    )
    SELECT doc_id, n_lines, max_line_len, avg_line_len, alnum_frac,
           comment_line_frac, long_line_frac, autogenerated,
           (max_line_len <= 1000 AND avg_line_len <= 100
            AND alnum_frac >= 0.25 AND NOT autogenerated) AS code_keep
    FROM f
    """,
)
def text_code_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-corpus line-shape filters (BigCode/StarCoder Stack heuristics
    — operators/text.code_quality_features, r11 beyond-reference): the
    documents corpus has no newlines, so both sides deterministically
    sentence-split ('. ' → newline) to exercise the multi-line math; the
    oracle replays every line statistic, ratio (floor-form rounding), the
    autogenerated regex, and the composite Stack keep rule."""
    from workbench_spark.operators.text import code_quality_features

    d = _t(spark, sf_dir, "documents")
    src = d.select(
        "doc_id", F.replace(F.col("text"), F.lit(". "), F.lit("\n")).alias("text")
    )
    return code_quality_features(src).select(
        "doc_id", "n_lines", "max_line_len", "avg_line_len", "alnum_frac",
        "comment_line_frac", "long_line_frac", "autogenerated", "code_keep",
    )


_LANG_SQL_SCORE = {
    "en": "the|and|of|to|is|in|that|it|was|for",
    "de": "der|die|das|und|ist|nicht|ein|eine|mit|von",
    "fr": "le|la|les|et|est|une|que|pour|dans|des",
    "es": "el|la|los|las|es|una|que|por|para|con",
}


def _langid_oracle_sql() -> str:
    """DuckDB twin of functions.langid.add_language_scores: identical
    normalization regex, trigram extraction, per-language weight-or-miss
    (LEFT JOIN against the model's VALUES table, COALESCE to the miss
    constant), integer micro-nat SUM (exact — no float order sensitivity),
    and the same argmax CASE chain with alphabetical tie-break. Docs whose
    normalized text has no trigrams fall out of the unnest and come back
    'und' via the outer LEFT JOIN."""
    from workbench_spark.functions.langid import (
        LANG_MISS,
        NORM_KEEP_RE,
        oracle_values_rows,
    )

    values = ",\n      ".join(oracle_values_rows())
    return f"""
    WITH norm AS (
      SELECT doc_id,
             CASE WHEN length(t) > 0 THEN ' ' || t || ' ' ELSE '' END AS nt
      FROM (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                    '{NORM_KEEP_RE}', ' ', 'g'), ' +', ' ', 'g')) AS t
        FROM documents
      )
    ),
    w(tg, w_de, w_en, w_es, w_fr) AS (VALUES
      {values}
    ),
    tgs AS (
      SELECT doc_id,
             unnest(CASE WHEN length(nt) >= 3
                    THEN [substr(nt, i, 3) for i in generate_series(1, length(nt) - 2)]
                    ELSE [] END) AS tg
      FROM norm
    ),
    scores AS (
      SELECT t.doc_id,
             SUM(COALESCE(w.w_de, {LANG_MISS['de']})) AS s_de,
             SUM(COALESCE(w.w_en, {LANG_MISS['en']})) AS s_en,
             SUM(COALESCE(w.w_es, {LANG_MISS['es']})) AS s_es,
             SUM(COALESCE(w.w_fr, {LANG_MISS['fr']})) AS s_fr
      FROM tgs t LEFT JOIN w ON t.tg = w.tg
      GROUP BY t.doc_id
    )
    SELECT n.doc_id,
           CASE
             WHEN s.doc_id IS NULL THEN 'und'
             WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_es >= s_fr THEN 'es'
             ELSE 'fr'
           END AS lang_pred
    FROM norm n LEFT JOIN scores s ON n.doc_id = s.doc_id
    """


@query("text_lang_detect", _langid_oracle_sql())
def text_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram NB language ID (functions/langid.py): integer
    micro-nat log-prob sums via constant-folded map-literal aggregate
    folds, argmax with alphabetical tiebreak, 'und' for empty text."""
    from workbench_spark.operators.text import detect_language

    d = _t(spark, sf_dir, "documents")
    return detect_language(d, method="trigram_nb").select("doc_id", "lang_pred")


@query(
    "text_lang_markers",
    """
    WITH scores AS (
      SELECT doc_id,
             {scores}
      FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
             WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_es >= s_fr THEN 'es'
             ELSE 'fr'
           END AS lang_pred
    FROM scores
    """.format(
        scores=",\n             ".join(
            f"len(regexp_extract_all(text, '(?i)\\b({pat})\\b')) AS s_{lang}"
            for lang, pat in _LANG_SQL_SCORE.items()
        )
    ),
)
def text_lang_markers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy marker-word language ID (argmax over per-language hit
    counts, alphabetical tiebreak, 'und' when nothing matches) — kept as
    the cheap coarse-filter scan alongside the NB default."""
    from workbench_spark.operators.text import detect_language

    d = _t(spark, sf_dir, "documents")
    return detect_language(d, method="markers").select("doc_id", "lang_pred")


@query(
    "text_fingerprint_counts",
    """
    SELECT doc_id,
           len(list_distinct([substr(t, i, 16) for i in
                generate_series(1, GREATEST(length(t) - 15, 1))])) AS n_fingerprints
    FROM (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      FROM documents
    )
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-fingerprint cardinality per doc (the winnowing primitive);
    the hashes themselves are xxhash64 (not portable), their COUNT is."""
    from workbench_spark.operators.text import rolling_hashes

    d = _t(spark, sf_dir, "documents")
    return (
        rolling_hashes(d, window=16)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fingerprints"))
    )


@query(
    "text_decontaminate",
    """
    WITH norm AS (
      SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    doc_grams AS (
      SELECT doc_id, unnest(CASE WHEN len(w) >= 8 THEN
               list_distinct([array_to_string(list_slice(w, i, i + 7), ' ')
                              for i in generate_series(1, len(w) - 7)])
             ELSE [] END) AS g
      FROM norm
    ),
    bench AS (
      SELECT DISTINCT g FROM doc_grams WHERE doc_id % 17 = 0
    ),
    hits AS (
      SELECT d.doc_id, COUNT(*) AS n
      FROM doc_grams d JOIN bench b ON d.g = b.g
      GROUP BY d.doc_id
    )
    SELECT doc_id,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_contaminated_ngrams,
           COALESCE(n, 0) > 0 AS contaminated
    FROM documents LEFT JOIN hits USING (doc_id)
    """,
)
def text_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C word-n-gram overlap,
    8-grams here for the synthetic corpus): the benchmark is the
    doc_id%17 slice of the corpus itself, so those docs are contaminated
    by construction and the oracle checks both hit counting and the
    clean-doc zero path."""
    from workbench_spark.operators.text import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 17 == 0)
    # prefilter ON, oracle unchanged: the hash match certifies that the
    # Bloom scale path is bit-identical to the exact join (r8)
    out = decontaminate(d, bench, n=8, prefilter_m_bits=65536)
    return out.select(
        "doc_id",
        F.col("n_contaminated_ngrams").cast("long").alias("n_contaminated_ngrams"),
        "contaminated",
    )


@query(
    "text_mixture_weights",
    """
    WITH per_source AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len(regexp_extract_all(text, '\\S+'))) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS t FROM per_source)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(n_tokens / CAST(t AS DOUBLE), 6) AS current_frac,
           CASE WHEN source IN ('src0', 'src1', 'src2') THEN ROUND(0.25/1.0, 6)
                WHEN source = 'src3' THEN ROUND(0.25/1.0, 6)
                ELSE 0.0 END AS target_frac,
           ROUND(CASE WHEN n_tokens > 0 THEN
                   (CASE WHEN source IN ('src0','src1','src2','src3')
                         THEN 0.25/1.0 ELSE 0.0 END) / (n_tokens / CAST(t AS DOUBLE))
                 ELSE 0.0 END, 6) AS sampling_weight
    FROM per_source CROSS JOIN tot ORDER BY source
    """,
)
def text_mixture_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture reweighting: equal 25% target over four sources,
    everything else dropped (weight 0). One aggregation pass; token
    counting is the map-side regex count."""
    from workbench_spark.operators.text import mixture_weights

    d = _t(spark, sf_dir, "documents")
    out = mixture_weights(
        d, {"src0": 0.25, "src1": 0.25, "src2": 0.25, "src3": 0.25}
    )
    return out.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("current_frac", 6).alias("current_frac"),
        F.round("target_frac", 6).alias("target_frac"),
        F.round("sampling_weight", 6).alias("sampling_weight"),
    ).orderBy("source")


# Fixed, corpus-independent merge list for the BPE-budgeted mixture entry:
# common-English pair chain (each later merge only consumes symbols earlier
# merges produce, the apply-BPE well-formedness property). The merge
# LEARNING loop is certified separately by text_bpe_merges; this entry
# certifies tokenize-and-count + the weighting math under a known vocab.
_MIX_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "</w>"), ("s", "</w>"), ("t", "h"), ("th", "e</w>"),
    ("i", "n"), ("a", "n"), ("o", "n"), ("e", "r"), ("r", "e"),
    ("o", "r"), ("a", "t"), ("d", "</w>"), ("an", "d</w>"),
    ("t", "o"), ("in", "g"), ("o", "f"),
]


def _mix_bpe_oracle_sql() -> str:
    """DuckDB twin of mixture_weights(tokenizer=_MIX_BPE_MERGES): tokenize
    each DISTINCT word once through the fixed merges — one MATERIALIZED
    fold step per merge, the same leftmost-nonoverlapping ``list_reduce``
    as the bpe_train oracle (sequential rank-order application ≡
    encode_word's lowest-rank-first loop: a merged pair can never be
    re-created by later merges, so both orders eliminate the same
    occurrences) — then weight word occurrences per source by the word's
    token length and replay the mixture math."""
    parts = ["""
    WITH occ AS MATERIALIZED (
      SELECT source, UNNEST(list_filter(
        string_split_regex(lower(text), '[^a-z0-9]+'),
        w -> length(w) > 0)) AS word
      FROM documents
    ),
    s0 AS MATERIALIZED (
      SELECT word, string_split(word, '') || ['</w>'] AS syms
      FROM (SELECT DISTINCT word FROM occ)
    )"""]
    for k, (l, r) in enumerate(_MIX_BPE_MERGES):
        parts.append(f""",
    s{k + 1} AS MATERIALIZED (
      SELECT word, list_reduce(list_transform(syms, x -> [x]),
               (acc, x) -> CASE WHEN acc[-1] = '{l}' AND x[1] = '{r}'
                           THEN acc[:len(acc)-1] || ['{l}{r}']
                           ELSE acc || x END) AS syms
      FROM s{k}
    )""")
    n = len(_MIX_BPE_MERGES)
    parts.append(f""",
    per_source AS (
      SELECT o.source, SUM(len(t.syms)) AS n_tokens
      FROM occ o JOIN s{n} t ON o.word = t.word
      GROUP BY o.source
    ),
    per_docs AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_tokens) AS t FROM per_source)
    SELECT d.source,
           CAST(d.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           ROUND(COALESCE(p.n_tokens, 0) / CAST(t AS DOUBLE), 6) AS current_frac,
           CASE WHEN d.source IN ('src0','src1','src2','src3')
                THEN ROUND(0.25/1.0, 6) ELSE 0.0 END AS target_frac,
           ROUND(CASE WHEN COALESCE(p.n_tokens, 0) > 0 THEN
                   (CASE WHEN d.source IN ('src0','src1','src2','src3')
                         THEN 0.25/1.0 ELSE 0.0 END)
                   / (p.n_tokens / CAST(t AS DOUBLE))
                 ELSE 0.0 END, 6) AS sampling_weight
    FROM per_docs d LEFT JOIN per_source p ON d.source = p.source
    CROSS JOIN tot ORDER BY d.source""")
    return "".join(parts)


@query("text_mixture_weights_bpe", _mix_bpe_oracle_sql())
def text_mixture_weights_bpe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture reweighting budgeted in REAL tokenizer tokens
    (mixture_weights(tokenizer=merges) → bpe_token_count): the LLM-
    pipeline accounting chain runs end-to-end on BPE tokens instead of
    whitespace words. The oracle re-tokenizes every distinct word through
    the same fixed merges and replays the weight math, so the Arrow-
    batched encode path's counts are value-certified."""
    from workbench_spark.operators.text import mixture_weights

    d = _t(spark, sf_dir, "documents")
    out = mixture_weights(
        d,
        {"src0": 0.25, "src1": 0.25, "src2": 0.25, "src3": 0.25},
        tokenizer=list(_MIX_BPE_MERGES),
    )
    return out.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("current_frac", 6).alias("current_frac"),
        F.round("target_frac", 6).alias("target_frac"),
        F.round("sampling_weight", 6).alias("sampling_weight"),
    ).orderBy("source")


# =====================================================================
# Deduplication
# =====================================================================


@query(
    "dedup_exact_clusters",
    """
    SELECT md5(trim(regexp_replace(lower(substr(text, 1, 40)), '\\s+', ' ', 'g'))) AS content_hash,
           COUNT(*) AS n_dups,
           MIN(doc_id) AS representative_id
    FROM documents
    GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup clusters on a 40-char normalized prefix (the full-text
    column has no exact dups in the synthetic corpus; prefixing induces
    realistic collision clusters while exercising the same plan)."""
    from workbench_spark.operators.dedup import duplicate_clusters

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("text")
    )
    return duplicate_clusters(d)


@query(
    "dedup_exact_survivors",
    """
    SELECT COUNT(*) AS survivors FROM (
      SELECT MIN(doc_id) FROM documents
      GROUP BY md5(trim(regexp_replace(lower(substr(text, 1, 40)), '\\s+', ' ', 'g')))
    )
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep-min-id: surviving row count."""
    from workbench_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("text")
    )
    return exact_dedup(d).agg(F.count(F.lit(1)).alias("survivors"))


@query(
    "dedup_ngram_jaccard",
    """
    WITH sh AS (
      SELECT doc_id AS id,
             list_distinct(list_filter([substr(t, i, 5) for i in
                  generate_series(1, GREATEST(length(t) - 4, 1))],
                  s -> length(s) = 5)) AS g
      FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
            FROM documents WHERE doc_id < 250)
    ),
    ex AS (SELECT id, UNNEST(g) AS g, len(g) AS sz FROM sh),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter,
             ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b
      FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           ROUND(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter), 6) AS jaccard
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= 0.25
    """,
)
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard near-dup pairs over doc_id<250 via inverted-
    index join (no cross product — pairs only form on shared shingles).
    Range/threshold picked so the oracle compares ~530 NON-EMPTY rows at
    sf0.01 including the planted >0.95 near-dups (round-1 version matched
    on 0 rows = 0 rows, a vacuous check)."""
    from workbench_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    pairs = ngram_jaccard_pairs(d, n=5, threshold=0.25)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "text_pack_sequences",
    """
    WITH t AS (
      SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_end
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST((cum_end - n_tokens) // 512 AS BIGINT) AS start_seq,
           CAST((CASE WHEN n_tokens > 0 THEN cum_end - 1 ELSE cum_end - n_tokens END) // 512
             AS BIGINT) AS end_seq,
           ((CASE WHEN n_tokens > 0 THEN cum_end - 1 ELSE cum_end - n_tokens END) // 512)
             > ((cum_end - n_tokens) // 512) AS spans_boundary
    FROM c
    """,
)
def text_pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (budget 512) — per-doc sequence
    assignment. Engine side = two-phase distributed prefix sum
    (operators/packing.py: per-range-partition totals → driver prefix →
    partition-local window), NEVER a global single-partition window;
    oracle = the plain global window DuckDB can afford at sweep scale.
    The hash match proves the distributed scan equals the global scan."""
    from workbench_spark.operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, budget=512)


@query(
    "dedup_cc_membership",
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id AS id,
             list_distinct(list_filter([substr(t, i, 5) for i in
                  generate_series(1, GREATEST(length(t) - 4, 1))],
                  s -> length(s) = 5)) AS g
      FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
            FROM documents WHERE doc_id < 250)
    ),
    ex AS (SELECT id, UNNEST(g) AS g, len(g) AS sz FROM sh),
    jp AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING CAST(COUNT(*) AS DOUBLE)
             / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) >= 0.25
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM jp
              UNION SELECT id_b, id_a FROM jp),
    reach(id, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
    )
    SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id
    """,
)
def dedup_cc_membership_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING, not just pairs: connected components over the
    exact 5-gram Jaccard pair graph (same deterministic edge source as
    dedup_ngram_jaccard), component label = min doc_id reached. The
    Spark side is the distributed min-label/large-star CC in
    operators/graph.py (each round a bounded shuffle over the edge
    list); the oracle is DuckDB's recursive-CTE transitive closure —
    exact on the small swept graph, the thing the distributed algorithm
    must reproduce at any scale."""
    from workbench_spark.operators.dedup import ngram_jaccard_pairs
    from workbench_spark.operators.graph import connected_components

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    pairs = ngram_jaccard_pairs(d, n=5, threshold=0.25)
    cc = connected_components(pairs, src="id_a", dst="id_b")
    return cc.select(F.col("node").alias("doc_id"), "component")


@query(
    "ruzicka_count_pairs",
    """
    WITH tok AS (
      SELECT doc_id AS id, t AS dim, COUNT(*) AS cnt
      FROM (SELECT doc_id,
                   UNNEST(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
            FROM documents WHERE doc_id < 250)
      GROUP BY doc_id, t
    ),
    sums AS (SELECT id, SUM(cnt) AS s FROM tok GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, SUM(LEAST(a.cnt, b.cnt)) AS minsum
      FROM tok a JOIN tok b ON a.dim = b.dim AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           ROUND(CAST(minsum AS DOUBLE) / (sa.s + sb.s - minsum), 6) AS ruzicka
    FROM pairs
    JOIN sums sa ON pairs.id_a = sa.id
    JOIN sums sb ON pairs.id_b = sb.id
    WHERE CAST(minsum AS DOUBLE) / (sa.s + sb.s - minsum) >= 0.4
    """,
)
def ruzicka_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 count-fingerprint Ruzicka (weighted Tanimoto) pairs — exact
    inverted-index equi-join (chem.ruzicka_pairs), oracled on token-count
    vectors (bag-of-words = the engine-portable count fingerprint; the
    Morgan count path differs only in how (id, dim, cnt) is produced)."""
    from workbench_spark.operators.chem import ruzicka_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    long_df = (
        d.select(
            F.col("doc_id").alias("id"),
            F.explode(
                F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
            ).alias("dim"),
        )
        .groupBy("id", "dim")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = ruzicka_pairs(long_df, threshold=0.4)
    return pairs.select("id_a", "id_b", F.round("ruzicka", 6).alias("ruzicka"))


@query(
    "dedup_minhash_pairs",
    """
    WITH sh AS (
      SELECT doc_id AS id,
             list_distinct(list_filter([substr(t, i, 5) for i in
                  generate_series(1, GREATEST(length(t) - 4, 1))],
                  s -> length(s) = 5)) AS g
      FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
            FROM documents)
    ),
    ex AS (SELECT id, UNNEST(g) AS g, len(g) AS sz FROM sh),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter,
             ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b
      FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           ROUND(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter), 6) AS jaccard
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= 0.5
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)+LSH(32 bands) candidate pairs EXACT-RECHECKED against
    5-gram Jaccard ≥ 0.5 (dedup.minhash_verified_pairs). The engine path
    is the full scale pipeline — map-side signatures, (band, hash)
    equi-join candidates, shingle-array recheck only for candidates —
    while the oracle computes the exact all-pairs Jaccard; the hash match
    certifies LSH recall is 1 at this threshold with the r=2/32-band
    S-curve (miss probability (1-j²)^32 ≤ 1e-4 at j = 0.5) on top of the
    recheck's exactness. Upgraded from a rows-only check in r5."""
    from workbench_spark.operators.dedup import minhash_verified_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_verified_pairs(d, n_hashes=64, bands=32, threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _simhash_oracle_sql() -> str:
    """DuckDB replica of dedup.simhash_portable + pigeonhole pairs: the
    oracle recomputes the SAME 60-bit signature (two portable polynomial
    token-hash families) and all-pairs Hamming ≤ 8 over doc_id < 250 —
    a bit-level check of the simhash computation itself, not just of
    candidate recall."""
    poly = (
        "list_reduce(list_prepend(0::BIGINT,"
        " [ascii(substr(t, i, 1)) for i in generate_series(1, length(t))]),"
        " (a, c) -> (a * {base} + c) % {mod})"
    )
    votes = ",\n        ".join(
        f"SUM(CASE WHEN (h{1 if b < 30 else 2} // {1 << (b % 30)}) % 2 = 1"
        f" THEN 1 ELSE -1 END) AS v{b}"
        for b in range(60)
    )
    pack = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(60)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> length(t) > 0)) AS t
      FROM documents WHERE doc_id < 250
    ),
    h AS (
      SELECT doc_id,
             {poly.format(base=31, mod=1000000007)} AS h1,
             {poly.format(base=131, mod=999999937)} AS h2
      FROM toks
    ),
    votes AS (
      SELECT doc_id,
        {votes}
      FROM h GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {pack} AS s FROM votes)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 8
    """


@query("dedup_simhash_pairs", _simhash_oracle_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 8 via 10-band pigeonhole over
    the 60-bit ENGINE-PORTABLE signature (dedup.simhash_portable — two
    polynomial token-hash families DuckDB can recompute). n_bands = 10 >
    max_hamming = 8 makes the pigeonhole candidate generation COMPLETE
    (any pair at distance ≤ 9 must agree on a whole 6-bit block), so the
    output is exactly the all-pairs Hamming-≤ 8 set the oracle computes —
    a bit-level signature check, upgraded from rows-only in r5. Production
    simhash() keeps xxhash64 (shuffle-free, stronger mixing); the
    portable family exists precisely so the math is independently
    checkable."""
    from workbench_spark.operators.dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    pairs = simhash_near_pairs(d, max_hamming=8, n_bands=10, portable=True)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@query(
    "dedup_embedding_incremental_invariants",
    """
    SELECT * FROM (VALUES (true, true))
      AS t(pairs_match_full_selfjoin, dedup_removes_exactly_matched)
    """,
)
def dedup_embedding_incremental_invariants_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental (batch-vs-corpus) EMBEDDING dedup consistency gate —
    the vector twin of dedup_incremental_invariants: split embeddings
    deterministically (vec_id % 5 = 0 → "new batch", rest "corpus"); the
    incremental new×corpus pairs must equal EXACTLY the cross-split
    subset of the full self-join LSH pairs (same hyperplane family, seed,
    and dim → same (tbl, sig) candidates and identical cosine exprs), and
    incremental dedup must admit exactly the unmatched new ids. Both
    sides of each invariant are engine-computed, so the constant-boolean
    oracle certifies the algebra."""
    from workbench_spark.operators.dedup import (
        embedding_incremental_dedup,
        embedding_incremental_pairs,
        embedding_near_dup_pairs,
    )

    e = _t(spark, sf_dir, "embeddings")
    new_df = e.filter(F.col("vec_id") % 5 == 0)
    corpus = e.filter(F.col("vec_id") % 5 != 0)
    kw = dict(threshold=0.8, n_planes=8, n_tables=4, seed=42)
    # r16 probe fusion (r15 VERDICT #8): the five separate driver probes
    # (two counts + two exceptAll counts + the matched-id distinct) fold
    # into ONE 1-row aggregate over a full-outer join of per-pair
    # multiplicities — |A\B| + |B\A| as multisets is Σ|n_a − n_b|, and
    # counts/matched-ids are sums over the same joined frame — so each
    # pair pipeline now executes exactly once as a join input and the
    # r15 localCheckpoints (which existed only for the multi-probe
    # re-execution) are unnecessary. The certification content is
    # unchanged: both sides of each boolean are still engine-computed,
    # and invariant 2's independent pair recompute inside
    # embedding_incremental_dedup stays a separate action by design.
    inc = embedding_incremental_pairs(new_df, corpus, **kw)
    inc_norm = inc.select(
        F.least("new_id", "corpus_id").alias("id_a"),
        F.greatest("new_id", "corpus_id").alias("id_b"),
    )
    full = embedding_near_dup_pairs(e, threshold=0.8, use_lsh=True)
    cross = full.filter(
        (F.col("id_a") % 5 == 0) != (F.col("id_b") % 5 == 0)
    ).select("id_a", "id_b")
    a_cnt = inc_norm.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("__na")
    )
    b_cnt = cross.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("__nb"))
    j = a_cnt.join(b_cnt, ["id_a", "id_b"], "full_outer").select(
        "id_a",
        "id_b",
        F.coalesce("__na", F.lit(0)).alias("__na"),
        F.coalesce("__nb", F.lit(0)).alias("__nb"),
    )
    stats = j.agg(
        F.sum("__na").alias("n_inc"),
        F.sum("__nb").alias("n_cross"),
        F.sum(F.abs(F.col("__na") - F.col("__nb"))).alias("sym_diff"),
        # new-side id of an inc pair: exactly one endpoint is in the
        # vec_id % 5 == 0 split, by construction of the two inputs
        F.countDistinct(
            F.when(
                F.col("__na") > 0,
                F.when(F.col("id_a") % 5 == 0, F.col("id_a")).otherwise(
                    F.col("id_b")
                ),
            )
        ).alias("n_matched"),
    ).first()
    n_inc = int(stats["n_inc"] or 0)
    n_cross = int(stats["n_cross"] or 0)
    sym_diff = int(stats["sym_diff"] or 0)
    n_matched = int(stats["n_matched"] or 0)
    survivors = embedding_incremental_dedup(new_df, corpus, **kw)
    dedup_ok = survivors.count() == new_df.count() - n_matched
    return spark.createDataFrame(
        [(n_inc == n_cross and sym_diff == 0, bool(dedup_ok))],
        "pairs_match_full_selfjoin boolean, dedup_removes_exactly_matched boolean",
    )


@query(
    "dedup_star_invariants",
    """
    SELECT * FROM (VALUES (true, true, true, true))
      AS t(minhash_cc_equal, simhash_cc_equal,
           minhash_star_not_more, simhash_star_not_more)
    """,
)
def dedup_star_invariants_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pair_mode='star' certification gate (r10): the UNFILTERED star
    edge sets (verify_threshold=None / post-hoc hamming, the provable-
    equality regime) must produce IDENTICAL connected components to
    all-pairs mode for both minhash LSH banding and simhash pigeonhole
    banding, while never emitting MORE candidate edges. Both sides of
    every boolean are computed by the engine (star vs all, components
    canonicalized as sorted (node, min-member) sets compared by exceptAll
    in both directions), so the constant oracle certifies the algebra."""
    from workbench_spark.operators.dedup import minhash_lsh_pairs, simhash_near_pairs
    from workbench_spark.operators.graph import connected_components

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)

    def comps(pairs):
        return connected_components(
            pairs.selectExpr("id_a as src", "id_b as dst")
        ).select("node", "component")

    def cc_equal(a, b):
        ca, cb = comps(a), comps(b)
        return ca.exceptAll(cb).count() == 0 and cb.exceptAll(ca).count() == 0

    # each pair frame is consumed twice (CC's internal edge checkpoint +
    # the not_more count) with banding-join shuffles in its lineage —
    # materialize once per frame (r15 opt, CLAUDE.md checkpoint rule)
    mh_all = minhash_lsh_pairs(
        d, verify_threshold=None, pair_mode="all"
    ).localCheckpoint(eager=False)
    mh_star = minhash_lsh_pairs(
        d, verify_threshold=None, pair_mode="star"
    ).localCheckpoint(eager=False)
    # simhash in the same threshold-free regime (max_hamming = all 60
    # bits): the post-hoc hamming filter applies to hub edges only and
    # DOES split components on this corpus (verified at sf0.001-0.1) —
    # which is precisely the documented caveat; the equality theorem is
    # candidate-graph-level, so that is what gets certified
    sh_all = simhash_near_pairs(
        d, max_hamming=60, n_bands=10, portable=True
    ).localCheckpoint(eager=False)
    sh_star = simhash_near_pairs(
        d, max_hamming=60, n_bands=10, portable=True, pair_mode="star"
    ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        [(
            cc_equal(mh_all, mh_star),
            cc_equal(sh_all, sh_star),
            mh_star.count() <= mh_all.count(),
            sh_star.count() <= sh_all.count(),
        )],
        "minhash_cc_equal boolean, simhash_cc_equal boolean, "
        "minhash_star_not_more boolean, simhash_star_not_more boolean",
    )


@query(
    "dedup_incremental_invariants",
    """
    SELECT * FROM (VALUES (true, true))
      AS t(pairs_match_full_selfjoin, dedup_removes_exactly_matched)
    """,
)
def dedup_incremental_invariants_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup consistency gate: split
    documents deterministically (doc_id % 7 = 0 → "new batch", rest
    "corpus"); the incremental new×corpus pairs must equal EXACTLY the
    cross-split subset of the full self-join pairs (same hash family and
    banding → same candidates and estimates), and incremental dedup must
    remove exactly the matched new ids. Both sides of each invariant are
    computed by the engine, so the constant-boolean oracle certifies the
    algebra, not a copy of a number."""
    from workbench_spark.operators.dedup import (
        minhash_incremental_dedup,
        minhash_incremental_pairs,
        minhash_lsh_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    new_df = d.filter(F.col("doc_id") % 7 == 0)
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    # multi-probed LSH pair frames (count + two exceptAll sides + the
    # matched-id distinct) — materialize once, see the embedding twin
    inc = minhash_incremental_pairs(
        new_df, corpus, verify_threshold=0.5
    ).localCheckpoint(eager=False)
    inc_norm = inc.select(
        F.least("new_id", "corpus_id").alias("id_a"),
        F.greatest("new_id", "corpus_id").alias("id_b"),
    )
    full = minhash_lsh_pairs(d, verify_threshold=0.5)
    cross = full.filter(
        (F.col("id_a") % 7 == 0) != (F.col("id_b") % 7 == 0)
    ).select("id_a", "id_b").localCheckpoint(eager=False)
    n_inc = inc_norm.count()
    n_cross = cross.count()
    sym_diff = (
        inc_norm.exceptAll(cross).count() + cross.exceptAll(inc_norm).count()
    )
    survivors = minhash_incremental_dedup(new_df, corpus, verify_threshold=0.5)
    n_matched_new = inc.select("new_id").distinct().count()
    dedup_ok = survivors.count() == new_df.count() - n_matched_new
    return spark.createDataFrame(
        [(n_inc == n_cross and sym_diff == 0, bool(dedup_ok))],
        "pairs_match_full_selfjoin boolean, dedup_removes_exactly_matched boolean",
    )


# =====================================================================
# Similarity search
# =====================================================================


@query(
    "knn_cosine_bruteforce",
    """
    SELECT id, neighbor_id, cosine_sim FROM (
      SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
             floor(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 1e6 + 0.5) / 1e6 AS cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
                        b.vec_id ASC) AS rn
      FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
      WHERE a.vec_id < 20
    ) WHERE rn <= 5
    """,
)
def knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/J7 + ANN baseline — exact cosine top-5 for 20 query vectors
    against the full embedding table (broadcast queries × scan refs;
    the reference set never shuffles)."""
    from workbench_spark.operators.similarity import cosine_knn

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    out = cosine_knn(e, queries=q, k=5)
    return out.select("id", "neighbor_id", _fround(F.col("cosine_sim")).alias("cosine_sim"))


@query(
    "knn_cosine_lsh",
    """
    WITH q AS (
      SELECT vec_id,
             [embedding[i]::DOUBLE + 0.03 * embedding[65 - i]::DOUBLE
              for i in generate_series(1, 64)] AS qv
      FROM embeddings
    )
    SELECT id, neighbor_id, cosine_sim FROM (
      SELECT q.vec_id AS id, e.vec_id AS neighbor_id,
             floor(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) * 1e6 + 0.5) / 1e6 AS cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) DESC,
                        e.vec_id ASC) AS rn
      FROM q CROSS JOIN embeddings e
    ) WHERE rn <= 1
    """,
)
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH nearest-neighbor retrieval, oracled as a planted-twin
    recall@1 benchmark (upgraded from rows-only in r5): each query is a
    perturbed copy of a corpus vector (v[i] + 0.03·v[65-i] — the base
    embeddings are i.i.d. Gaussian with max pairwise cosine ≈ 0.51, so
    there is no natural near-neighbor structure; the planted twin at
    cosine ≈ 0.9995 creates the retrieval workload exactly like a standard
    ANN recall benchmark). The engine path is the real scale pipeline —
    queries probe (table, signature) buckets only, exact cosine within
    buckets, top-1 — while the oracle computes exact brute-force top-1,
    so the hash match certifies recall@1 = 1 (8 planes × 6 tables: miss
    probability per query ≈ (1 - 0.99^8)^6 < 1e-6 at cosine 0.9995).
    Candidates stay equi-join-shaped per the plan-shape tripwire."""
    from workbench_spark.operators.similarity import lsh_cosine_knn

    e = _t(spark, sf_dir, "embeddings")
    qv = F.expr(
        "transform(sequence(1, 64), i -> cast(element_at(embedding, i) as double)"
        " + 0.03d * cast(element_at(embedding, 65 - i) as double))"
    )
    q = e.select("vec_id", qv.alias("embedding"))
    out = lsh_cosine_knn(e, queries=q, k=1, n_planes=8, n_tables=6, dim=64)
    return out.select("id", "neighbor_id", _fround(F.col("cosine_sim")).alias("cosine_sim"))


@query(
    "knn_euclidean_standardized",
    """
    WITH stats AS (
      -- exact integer-sum twin of similarity._zscore_frame (r13): float
      -- AVG/STDDEV low bits depend on partition order and flip z-score
      -- neighbor ties; micro-quantized HUGEINT sums + one fixed double-op
      -- sequence are bit-identical in any layout and in both engines
      SELECT s / n / 1e6 AS mu,
             sqrt(greatest((qq - s * s / n) / (n - 1), 0.0)) / 1e6 AS sd
      FROM (
        SELECT CAST(SUM(CAST(floor(CAST(c_acctbal AS DOUBLE) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) AS s,
               CAST(SUM(CAST(floor(CAST(c_acctbal AS DOUBLE) * 1e6 + 0.5) AS HUGEINT)
                        * CAST(floor(CAST(c_acctbal AS DOUBLE) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) AS qq,
               COUNT(c_acctbal) AS n
        FROM customer)
    ),
    z AS (
      SELECT c_custkey, (c_acctbal - mu) / (CASE WHEN sd > 0 THEN sd ELSE 1 END) AS z
      FROM customer, stats
    )
    SELECT id, neighbor_id, distance FROM (
      SELECT a.c_custkey AS id, b.c_custkey AS neighbor_id,
             ROUND(ABS(a.z - b.z), 6) AS distance,
             ROW_NUMBER() OVER (
               PARTITION BY a.c_custkey
               ORDER BY ABS(a.z - b.z) ASC, b.c_custkey ASC) AS rn
      FROM z a JOIN z b ON a.c_custkey != b.c_custkey
      WHERE a.c_custkey <= 20
    ) WHERE rn <= 3
    """,
)
def knn_euclid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — the reference's standardized-Euclidean KNN frame
    (proximity.py:100-271) on a 1-D feature (acctbal), top-3 for 20 ids."""
    from workbench_spark.operators.similarity import euclidean_knn_standardized

    c = _t(spark, sf_dir, "customer")
    out = euclidean_knn_standardized(c, ["c_acctbal"], "c_custkey", k=3)
    out = out.filter(F.col("id") <= 20)
    return out.select("id", "neighbor_id", F.round("distance", 6).alias("distance"))


# =====================================================================
# ML-analysis operators (A11, C7, M6/M7, A22) + scalar families (F4, F7)
# =====================================================================


@query(
    "m7_group_aggregate",
    """
    SELECT l_returnflag,
           floor((CAST(SUM(CAST(floor(CAST(l_quantity AS DOUBLE) * 1e6 + 0.5)
                      AS HUGEINT)) AS DOUBLE) / COUNT(l_quantity) / 1e6)
                 * 1e6 + 0.5) / 1e6 AS l_quantity,
           floor((CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 1e6 + 0.5)
                      AS HUGEINT)) AS DOUBLE) / COUNT(l_extendedprice) / 1e6)
                 * 1e6 + 0.5) / 1e6 AS l_extendedprice,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def m7_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 — mean features per group (storage/aggregation.py:10-50), exact
    mode: quantized-sum means + floor-form rounding both sides (the A5
    family convention after the r13 hostile-sweep finding)."""
    from workbench_spark.operators.ml_analysis import group_aggregate

    li = _t(spark, sf_dir, "lineitem")
    out = group_aggregate(
        li, "l_returnflag", ["l_quantity", "l_extendedprice"], exact=True
    )
    return out.select(
        "l_returnflag",
        _fround(F.col("l_quantity")).alias("l_quantity"),
        _fround(F.col("l_extendedprice")).alias("l_extendedprice"),
        "n",
    )


_A11_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _a11_oracle() -> str:
    from workbench_spark.operators.kmeans_exact import (
        kmeans_cte_sql,
        scalar_quantize_cte,
    )

    means = ", ".join(
        f"CAST(SUM(z.q{i}) // COUNT(*) AS DOUBLE) / 1e6 AS {c}"
        for i, c in enumerate(_A11_COLS)
    )
    return f"""
    WITH {scalar_quantize_cte("lineitem", _A11_COLS, "km")},
    {kmeans_cte_sql(64, 3, 3, "km", by_id=False)}
    SELECT a.cell AS cluster, {means},
           CAST(COUNT(*) AS BIGINT) AS aggregation_count
    FROM kmz z JOIN kmfin a ON a.zq = z.zq
    GROUP BY a.cell
    """


@query("a11_smart_aggregator", None)  # oracle attached below (generated SQL)
def a11_smart_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — KMeans row reduction (smart_aggregator.py:13-94), exact mode
    (r12 VERDICT #3 upgrade from rows-only): fixed-point integer Lloyd
    (operators/kmeans_exact.py — deterministic md5 init, integer
    assignment/update, micro-quantized per-cluster means), replayed
    bit-level by the DuckDB oracle as unrolled MATERIALIZED CTEs (the
    pagerank convention). The MLlib production path keeps its own oracled
    invariants companion (a11_invariants)."""
    from workbench_spark.operators.ml_analysis import smart_aggregator

    li = _t(spark, sf_dir, "lineitem").select(*_A11_COLS)
    return smart_aggregator(li, _A11_COLS, target_rows=64, exact=True)


_ORACLES["a11_smart_aggregator"] = _a11_oracle()


_C7_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query("c7_projection_pca", None)  # oracle attached below (generated SQL)
def c7_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 — PCA 2D projection (projection_2d.py:17-135), exact mode (r12
    VERDICT #3 upgrade from rows-only): fixed-point integer power
    iteration + rank-1 deflation (operators/pca_exact.py) makes the
    eigenpair sign-canonical and engine-portable; the DuckDB oracle
    replays quantization, the 30-step iteration (HUGEINT CTE chain), and
    the per-row projection bit-level. The MLlib path keeps its own
    oracled invariants companion (c7_pca_invariants)."""
    from workbench_spark.operators.ml_analysis import projection_2d

    li = _t(spark, sf_dir, "lineitem")
    return projection_2d(li, _C7_COLS, "l_orderkey", exact=True)


def _c7_oracle() -> str:
    from workbench_spark.operators.pca_exact import pca_replay_sql

    return pca_replay_sql("lineitem", _C7_COLS, "l_orderkey")


_ORACLES["c7_projection_pca"] = _c7_oracle()


@query(
    "a11_invariants",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS total_aggregation_count,
           CAST(1 AS BOOLEAN) AS within_budget,
           CAST(1 AS BOOLEAN) AS reduced
    FROM lineitem
    """,
)
def a11_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 oracle-izable invariants (VERDICT r1 ask): KMeans assignments
    aren't engine-portable, but conservation IS — every input row lands in
    exactly one cluster, so SUM(aggregation_count) must equal the input
    row count, the output must fit the row budget, and must actually
    reduce. A wrong shuffle/groupBy shape breaks conservation."""
    from workbench_spark.operators.ml_analysis import smart_aggregator

    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    out = smart_aggregator(
        li, ["l_quantity", "l_extendedprice", "l_discount"], target_rows=200
    )
    return out.agg(
        F.sum("aggregation_count").cast("long").alias("total_aggregation_count"),
        (F.count(F.lit(1)) <= 200).alias("within_budget"),
        (F.count(F.lit(1)) > 1).alias("reduced"),
    )


@query(
    "c7_pca_invariants",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(1 AS BOOLEAN) AS pc1_ge_pc2,
           CAST(1 AS BOOLEAN) AS pcs_uncorrelated,
           CAST(1 AS BOOLEAN) AS var_conserved
    FROM lineitem
    """,
)
def c7_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 PCA invariants (sign/rotation-free, so oracle-checkable): the two
    projected coordinates are uncorrelated with var(x)=λ1 ≥ var(y)=λ2, and
    λ1+λ2 ≤ trace of the standardized covariance (= n_features). Catches a
    wrong projection matrix or un-standardized input while staying
    agnostic to the eigenvector sign ambiguity."""
    from workbench_spark.operators.ml_analysis import projection_2d

    li = _t(spark, sf_dir, "lineitem")
    feats = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    proj = projection_2d(li, feats, "l_orderkey")
    return proj.agg(
        F.count(F.lit(1)).alias("n"),
        (F.var_pop("x") >= F.var_pop("y") * (1 - 1e-9)).alias("pc1_ge_pc2"),
        (F.abs(F.corr("x", "y")) < 1e-6).alias("pcs_uncorrelated"),
        ((F.var_samp("x") + F.var_samp("y")) <= len(feats) * (1 + 1e-9)).alias(
            "var_conserved"
        ),
    )


@query(
    "minhash_vs_exact_jaccard",
    """
    WITH sh AS (
      SELECT doc_id AS id,
             list_distinct(list_filter([substr(t, i, 5) for i in
                  generate_series(1, GREATEST(length(t) - 4, 1))],
                  s -> length(s) = 5)) AS g
      FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
            FROM documents)
    ),
    ex AS (SELECT id, UNNEST(g) AS g, len(g) AS sz FROM sh),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter,
             ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b
      FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(1 AS BOOLEAN) AS all_within_eps
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= 0.9
    """,
)
def minhash_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator gate (VERDICT r1 ask): every pair whose EXACT
    5-gram Jaccard ≥ 0.9 (DuckDB-computable) must be FOUND by the
    MinHash+LSH pipeline with an estimate within 0.25 of exact (≈5σ at 32
    hashes — a failure means a broken signature/banding, not noise). The
    inner join makes a missed pair shrink n_pairs → red row."""
    from workbench_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(d, n=5, threshold=0.9)
    mh = minhash_lsh_pairs(d, verify_threshold=0.5)
    joined = exact.join(mh, ["id_a", "id_b"])
    return joined.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(
            F.abs(F.col("est_jaccard") - F.col("jaccard")) <= 0.25
        ).alias("all_within_eps"),
    )


@query(
    "f4_unit_math",
    """
    SELECT event_id,
           ROUND(-LOG10(GREATEST(value, 1e-10) * 1e-6), 6) AS log_value
    FROM events WHERE value IS NOT NULL
    """,
)
def f4_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — micromolar→log unit conversion (chem_utils/misc.py:49-80)."""
    from workbench_spark.functions.scalar import micromolar_to_log

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.select(
        "event_id", F.round(micromolar_to_log(F.col("value")), 6).alias("log_value")
    )


@query(
    "f7_one_hot_counts",
    """
    SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS event_type_click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS event_type_error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS event_type_purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS event_type_signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS event_type_view
    FROM events WHERE event_type IS NOT NULL
    """,
)
def f7_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — one-hot encoding with the nunique gate
    (pandas_to_features.py:186-231), summarized as per-dummy counts."""
    from workbench_spark.functions.encoding import one_hot_encode

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    enc = one_hot_encode(ev.select("event_type"), ["event_type"])
    return enc.agg(
        *[F.sum(c).alias(c) for c in sorted(enc.columns)]
    )


@query(
    "multimodal_metadata",
    """
    SELECT doc_id,
           CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                WHEN 2 THEN 'bmp' WHEN 3 THEN 'jpeg' WHEN 4 THEN 'wav'
                ELSE 'mp4' END AS media_format,
           CASE WHEN doc_id % 6 < 4
                THEN CAST(1 + (doc_id * 7) % 509 AS INT) END AS width,
           CASE WHEN doc_id % 6 < 4
                THEN CAST(1 + (doc_id * 13) % 499 AS INT) END AS height,
           CASE WHEN doc_id % 6 = 4 THEN CAST(1 + (doc_id * 17) % 200 AS BIGINT)
                WHEN doc_id % 6 = 5 THEN CAST(1 + (doc_id * 17) % 60000 AS BIGINT)
           END AS duration_ms
    FROM documents
    """,
)
def mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata with the REAL byte-arithmetic codec (r10,
    upgraded from md5 pseudo-dims): each document becomes a structurally
    valid PNG/GIF/BMP/JPEG image (dimensions derived from doc_id) or a
    WAV/MP4 container (duration derived from doc_id), built and then
    parsed back — header bytes in, metadata out — inside the same
    Arrow-batched mapInPandas plumbing a real corpus would use. The
    oracle replays the formulas directly, so a hash match certifies the
    decoder inverts real headers for all six formats. NULL behavior for
    non-media payloads is pytest-covered."""
    from workbench_spark.operators.multimodal import (
        extract_media_metadata,
        make_test_image,
        make_test_mp4,
        make_test_wav,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 6).cast("int").alias("__fmt"),
        (1 + (F.col("doc_id") * 7) % 509).cast("int").alias("__w"),
        (1 + (F.col("doc_id") * 13) % 499).cast("int").alias("__h"),
        (1 + (F.col("doc_id") * 17) % 200).cast("int").alias("__dwav"),
        (1 + (F.col("doc_id") * 17) % 60000).cast("int").alias("__dmp4"),
    )

    @F.pandas_udf("binary")
    def build(
        fmt: pd.Series, w: pd.Series, h: pd.Series,
        dwav: pd.Series, dmp4: pd.Series,
    ) -> pd.Series:
        names = ("png", "gif", "bmp", "jpeg")
        out = []
        for f, wi, hi, dw, dm in zip(fmt, w, h, dwav, dmp4):
            if f < 4:
                out.append(make_test_image(names[f], int(wi), int(hi)))
            elif f == 4:
                out.append(make_test_wav(int(dw)))
            else:
                out.append(make_test_mp4(int(dm)))
        return pd.Series(out)

    payloads = d.select(
        "doc_id", build("__fmt", "__w", "__h", "__dwav", "__dmp4").alias("payload")
    )
    meta = extract_media_metadata(payloads, "payload")
    return meta.select("doc_id", "media_format", "width", "height", "duration_ms")


@query(
    "streaming_hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
    FROM events WHERE event_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-equivalent of the streaming windowed rollup
    (streaming/monitor.py stream_windowed_counts): event-time hourly
    window + per-key aggregation. The streaming variant over the same
    operator is exercised in tests/test_sources_streaming_multimodal.py."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))


# =====================================================================
# Ensembles (A13), data quality (A19/A20), landscape (M2/M3), tag filter
# =====================================================================


@query(
    "a13_ensemble_mean",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND((l_quantity + l_discount * 100 +
                  COALESCE(CASE WHEN l_tax > 0 THEN l_extendedprice / 1000 END, 0))
                 / CASE WHEN l_tax > 0 THEN 3 ELSE 2 END, 6) AS prediction
    FROM lineitem
    """,
)
def a13_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 Mean — row-wise branch average with NULL-branch exclusion
    (aggregation_nodes.py:187-219); branches synthesized deterministically
    so the oracle can rebuild them."""
    from workbench_spark.operators.ensembles import ensemble_mean

    li = _t(spark, sf_dir, "lineitem")
    branches = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("p1"),
        (F.col("l_discount") * 100).alias("p2"),
        F.when(F.col("l_tax") > 0, F.col("l_extendedprice") / 1000).alias("p3"),
    )
    out = ensemble_mean(branches, ["p1", "p2", "p3"])
    return out.select(
        "l_orderkey", "l_linenumber", F.round("prediction", 6).alias("prediction")
    )


@query(
    "a13_ensemble_vote",
    """
    WITH branches AS (
      SELECT event_id,
             event_type AS c1,
             CASE WHEN value >= 50 THEN 'purchase' ELSE 'click' END AS c2,
             CASE WHEN value >= 80 THEN 'purchase'
                  WHEN value >= 20 THEN 'click' ELSE 'view' END AS c3
      FROM events WHERE event_type IS NOT NULL
    ),
    scored AS (
      SELECT event_id, c1, c2, c3,
             (CASE WHEN c1 = c1 THEN 1 ELSE 0 END +
              CASE WHEN c2 = c1 THEN 1 ELSE 0 END +
              CASE WHEN c3 = c1 THEN 1 ELSE 0 END) AS n1,
             (CASE WHEN c1 = c2 THEN 1 ELSE 0 END +
              CASE WHEN c2 = c2 THEN 1 ELSE 0 END +
              CASE WHEN c3 = c2 THEN 1 ELSE 0 END) AS n2,
             (CASE WHEN c1 = c3 THEN 1 ELSE 0 END +
              CASE WHEN c2 = c3 THEN 1 ELSE 0 END +
              CASE WHEN c3 = c3 THEN 1 ELSE 0 END) AS n3
      FROM branches
    )
    SELECT event_id,
           CASE GREATEST(n1, n2, n3)
             WHEN n1 THEN LEAST(c1,
                    CASE WHEN n2 = GREATEST(n1,n2,n3) THEN c2 ELSE c1 END,
                    CASE WHEN n3 = GREATEST(n1,n2,n3) THEN c3 ELSE c1 END)
             WHEN n2 THEN LEAST(c2,
                    CASE WHEN n3 = GREATEST(n1,n2,n3) THEN c3 ELSE c2 END)
             ELSE c3
           END AS prediction
    FROM scored
    """,
)
def a13_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 majority Vote with smallest-label tiebreak
    (aggregation_nodes.py:273-330)."""
    from workbench_spark.operators.ensembles import ensemble_vote

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    branches = ev.select(
        "event_id",
        F.col("event_type").alias("c1"),
        F.when(F.col("value") >= 50, "purchase").otherwise("click").alias("c2"),
        F.when(F.col("value") >= 80, "purchase")
        .when(F.col("value") >= 20, "click")
        .otherwise("view")
        .alias("c3"),
    )
    return ensemble_vote(branches, ["c1", "c2", "c3"]).select("event_id", "prediction")


@query(
    "a13_ensemble_calibrated",
    """
    WITH b AS (
      SELECT l_orderkey, l_linenumber,
             l_quantity AS p1, l_discount * 100 AS p2, l_extendedprice / 1000 AS p3,
             0.5 + l_tax AS c1, l_discount * 2 AS c2, CAST(0.8 AS DOUBLE) AS c3
      FROM lineitem
    ),
    s AS (
      SELECT *, c1 * 0.5 AS s1, c2 * 0.25 AS s2, c3 * 0.25 AS s3,
             c1 * 0.5 + c2 * 0.25 + c3 * 0.25 AS stot,
             sqrt(greatest(0, (p1*p1 + p2*p2 + p3*p3)/3
                              - ((p1+p2+p3)/3) * ((p1+p2+p3)/3))) AS sd
      FROM b
    )
    SELECT l_orderkey, l_linenumber,
           floor((p1 * (CASE WHEN stot = 0 THEN 0.5  ELSE s1/stot END)
                + p2 * (CASE WHEN stot = 0 THEN 0.25 ELSE s2/stot END)
                + p3 * (CASE WHEN stot = 0 THEN 0.25 ELSE s3/stot END)) * 1e6 + 0.5) / 1e6
             AS prediction,
           floor(sd * 1e6 + 0.5) / 1e6 AS prediction_std,
           floor((0.5/(1 + sd)
                + 0.5*(c1*(0.9*0.5) + c2*(0.5*0.25) + c3*(0.7*0.25))) * 1e6 + 0.5) / 1e6
             AS confidence
    FROM s
    """,
)
def a13_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 calibrated strategy aggregators (aggregation_nodes.py:310-388 +
    ensemble_utils.py:12-58) — ScaledConfidenceWeighted over synthesized
    branches. The oracle replays the exact formulas (with the corrected
    exact-normalization weights — see ensembles._branch_weights — and the
    double-literal products), so this is a bit-level check of the strategy
    math, not just the shape."""
    from workbench_spark.operators.ensembles import ensemble_strategy

    li = _t(spark, sf_dir, "lineitem")
    branches = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("p1"),
        (F.col("l_discount") * 100).alias("p2"),
        (F.col("l_extendedprice") / 1000).alias("p3"),
        (F.lit(0.5) + F.col("l_tax")).alias("c1"),
        (F.col("l_discount") * 2).alias("c2"),
        F.lit(0.8).alias("c3"),
    )
    out = ensemble_strategy(
        branches,
        ["p1", "p2", "p3"],
        ["c1", "c2", "c3"],
        strategy="scaled_confidence",
        model_weights=[2.0, 1.0, 1.0],
        corr_scale=[0.9, 0.5, 0.7],
        optimal_alpha=0.5,
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        _fround(F.col("prediction")).alias("prediction"),
        _fround(F.col("prediction_std")).alias("prediction_std"),
        _fround(F.col("confidence")).alias("confidence"),
    )


@query(
    "a13_strategy_comparison",
    """
    WITH b AS (
      SELECT l_quantity AS p1,
             l_quantity * (1 + l_discount) AS p2,
             l_extendedprice / 1000 AS p3,
             0.5 + l_tax AS c1, 1 - l_discount AS c2, CAST(0.8 AS DOUBLE) AS c3,
             l_quantity + l_tax * 10 AS tgt
      FROM lineitem
    ),
    params AS (
      SELECT avg(abs(p1 - tgt)) AS mae1, avg(abs(p2 - tgt)) AS mae2,
             avg(abs(p3 - tgt)) AS mae3,
             COALESCE(abs(corr(c1, abs(p1 - tgt))), 0) AS cs1,
             COALESCE(abs(corr(c2, abs(p2 - tgt))), 0) AS cs2,
             COALESCE(abs(corr(c3, abs(p3 - tgt))), 0) AS cs3
      FROM b
    ),
    w AS (
      SELECT *,
             (1/mae1)/((1/mae1) + (1/mae2) + (1/mae3)) AS w1,
             (1/mae2)/((1/mae1) + (1/mae2) + (1/mae3)) AS w2,
             (1/mae3)/((1/mae1) + (1/mae2) + (1/mae3)) AS w3,
             CASE WHEN mae1 <= mae2 AND mae1 <= mae3 THEN 1
                  WHEN mae2 <= mae3 THEN 2 ELSE 3 END AS best_i,
             CASE WHEN mae1 >= mae2 AND mae1 >= mae3 THEN 1
                  WHEN mae2 >= mae3 THEN 2 ELSE 3 END AS worst_i
      FROM params
    ),
    scored AS (
      SELECT b.*, w.*,
             c1 + c2 + c3 AS ctot,
             c1*w1 + c2*w2 + c3*w3 AS stot,
             c1*cs1 + c2*cs2 + c3*cs3 AS caltot
      FROM b CROSS JOIN w
    ),
    maes AS (
      SELECT
        avg(abs((p1 + p2 + p3)/3 - tgt)) AS m_mean,
        avg(abs(p1 * (CASE WHEN ctot = 0 THEN w1 ELSE c1/ctot END)
              + p2 * (CASE WHEN ctot = 0 THEN w2 ELSE c2/ctot END)
              + p3 * (CASE WHEN ctot = 0 THEN w3 ELSE c3/ctot END)
              - tgt)) AS m_conf,
        avg(abs(p1*w1 + p2*w2 + p3*w3 - tgt)) AS m_invmae,
        avg(abs(CASE best_i WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END - tgt)) AS m_best,
        avg(abs(p1 * (CASE WHEN stot = 0 THEN w1 ELSE (c1*w1)/stot END)
              + p2 * (CASE WHEN stot = 0 THEN w2 ELSE (c2*w2)/stot END)
              + p3 * (CASE WHEN stot = 0 THEN w3 ELSE (c3*w3)/stot END)
              - tgt)) AS m_scaled,
        avg(abs(p1 * (CASE WHEN caltot = 0 THEN w1 ELSE (c1*cs1)/caltot END)
              + p2 * (CASE WHEN caltot = 0 THEN w2 ELSE (c2*cs2)/caltot END)
              + p3 * (CASE WHEN caltot = 0 THEN w3 ELSE (c3*cs3)/caltot END)
              - tgt)) AS m_cal,
        avg(abs(CASE worst_i WHEN 1 THEN (p2 + p3)/2
                             WHEN 2 THEN (p1 + p3)/2
                             ELSE (p1 + p2)/2 END - tgt)) AS m_drop,
        any_value(best_i) AS best_i, any_value(worst_i) AS worst_i
      FROM scored
    )
    SELECT strategy, floor(m * 1e6 + 0.5) / 1e6 AS mae FROM (
      SELECT 'Simple Mean' AS strategy, m_mean AS m FROM maes
      UNION ALL SELECT 'Confidence-Weighted', m_conf FROM maes
      UNION ALL SELECT 'Inverse-MAE Weighted', m_invmae FROM maes
      UNION ALL SELECT 'Best Model Only (p' || best_i || ')', m_best FROM maes
      UNION ALL SELECT 'Scaled Conf-Weighted', m_scaled FROM maes
      UNION ALL SELECT 'Calibrated Conf-Weighted', m_cal FROM maes
      UNION ALL SELECT 'Drop Worst (p' || worst_i || ')', m_drop FROM maes
    ) ORDER BY mae, strategy
    """,
)
def a13_strategy_cmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EnsembleSimulator.strategy_comparison (ensemble_simulator.py:368-456)
    — seven strategies ranked by MAE in two aggregation passes (parameters,
    then all seven MAEs map-side in one job). The oracle recomputes every
    strategy from the same formulas, including the data-dependent
    best/worst branch labels."""
    from workbench_spark.operators.ensembles import strategy_comparison

    li = _t(spark, sf_dir, "lineitem")
    branches = li.select(
        F.col("l_quantity").alias("p1"),
        (F.col("l_quantity") * (1 + F.col("l_discount"))).alias("p2"),
        (F.col("l_extendedprice") / 1000).alias("p3"),
        (F.lit(0.5) + F.col("l_tax")).alias("c1"),
        (F.lit(1) - F.col("l_discount")).alias("c2"),
        F.lit(0.8).alias("c3"),
        (F.col("l_quantity") + F.col("l_tax") * 10).alias("tgt"),
    )
    out = strategy_comparison(branches, ["p1", "p2", "p3"], ["c1", "c2", "c3"], "tgt")
    return out.select("strategy", _fround(F.col("mae")).alias("mae"))


@query(
    "u_compare_dataframes",
    """
    WITH a AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders
    ),
    b AS (
      SELECT o_orderkey,
             o_custkey + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS o_custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice + CASE WHEN o_orderkey % 10 = 0 THEN 5.0 ELSE 0.0 END AS o_totalprice,
             o_orderdate
      FROM orders WHERE o_orderkey % 13 != 0
    ),
    j AS (
      SELECT a.o_orderkey AS ka, b.o_orderkey AS kb,
             a.o_custkey AS c1, b.o_custkey AS c2,
             a.o_orderstatus AS s1, b.o_orderstatus AS s2,
             a.o_totalprice AS p1, b.o_totalprice AS p2
      FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    ),
    agg AS (
      SELECT
        SUM(CASE WHEN kb IS NULL THEN 1 ELSE 0 END) AS rows1,
        SUM(CASE WHEN ka IS NULL THEN 1 ELSE 0 END) AS rows2,
        SUM(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
                  AND NOT (c1 IS NOT DISTINCT FROM c2) THEN 1 ELSE 0 END) AS d_cust,
        SUM(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
                  AND COALESCE(s1, '') != COALESCE(s2, '') THEN 1 ELSE 0 END) AS d_status,
        SUM(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
                  AND NOT (p1 IS NULL AND p2 IS NULL)
                  AND NOT COALESCE(abs(p1 - p2) <= 1e-10, false) THEN 1 ELSE 0 END) AS d_price
      FROM j
    )
    SELECT * FROM (
      SELECT '__rows_only_in_df1' AS "column", 'row_count' AS status,
             CAST(rows1 AS BIGINT) AS n_differences FROM agg
      UNION ALL SELECT '__rows_only_in_df2', 'row_count', CAST(rows2 AS BIGINT) FROM agg
      UNION ALL SELECT 'o_orderpriority', 'only_in_df1', NULL FROM agg
      UNION ALL SELECT 'o_orderdate', 'only_in_df2', NULL FROM agg
      UNION ALL SELECT 'o_custkey',
             CASE WHEN d_cust > 0 THEN 'differences' ELSE 'equal' END,
             CAST(d_cust AS BIGINT) FROM agg
      UNION ALL SELECT 'o_orderstatus',
             CASE WHEN d_status > 0 THEN 'differences' ELSE 'equal' END,
             CAST(d_status AS BIGINT) FROM agg
      UNION ALL SELECT 'o_totalprice',
             CASE WHEN d_price > 0 THEN 'differences' ELSE 'equal' END,
             CAST(d_price AS BIGINT) FROM agg
    ) ORDER BY "column"
    """,
)
def u_compare_dataframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compare_dataframes (pandas_utils.py:97-186) as a keyed diff report:
    one full-outer join + one agg pass. The perturbed copy exercises every
    report path — dropped rows, one-sided columns, int/string/float-epsilon
    differences, NULL-as-equal semantics."""
    from workbench_spark.operators.compare import compare_dataframes

    o = _t(spark, sf_dir, "orders")
    df1 = o.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    df2 = o.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        (F.col("o_custkey") + F.when(F.col("o_orderkey") % 5 == 0, 1).otherwise(0)).alias("o_custkey"),
        F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        (F.col("o_totalprice") + F.when(F.col("o_orderkey") % 10 == 0, 5.0).otherwise(0.0)).alias("o_totalprice"),
        "o_orderdate",
    )
    return compare_dataframes(df1, df2, "o_orderkey").orderBy("column")


# Synthesized 3-class probability panel over events: integer-modulus raw
# scores (bit-identical in any engine) normalized to probabilities, argmax
# prediction. Shared by the two proba-operator oracles below.
_PROBA_PANEL_SQL = """
      SELECT event_id, event_type,
             (1 + (event_id * 37) % 97) / CAST((1 + (event_id * 37) % 97)
                + (1 + (event_id * 53) % 89) + (1 + (event_id * 71) % 83) AS DOUBLE)
               AS click_proba,
             (1 + (event_id * 53) % 89) / CAST((1 + (event_id * 37) % 97)
                + (1 + (event_id * 53) % 89) + (1 + (event_id * 71) % 83) AS DOUBLE)
               AS purchase_proba,
             (1 + (event_id * 71) % 83) / CAST((1 + (event_id * 37) % 97)
                + (1 + (event_id * 53) % 89) + (1 + (event_id * 71) % 83) AS DOUBLE)
               AS view_proba
      FROM events
      WHERE event_type IN ('click', 'purchase', 'view')
"""


def _proba_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase", "view")
    )
    r1 = 1 + (F.col("event_id") * 37) % 97
    r2 = 1 + (F.col("event_id") * 53) % 89
    r3 = 1 + (F.col("event_id") * 71) % 83
    tot = (r1 + r2 + r3).cast("double")
    return ev.select(
        "event_id",
        "event_type",
        (r1 / tot).alias("click_proba"),
        (r2 / tot).alias("purchase_proba"),
        (r3 / tot).alias("view_proba"),
    )


_PRED_SQL = """CASE WHEN click_proba >= purchase_proba AND click_proba >= view_proba
                    THEN 'click'
                    WHEN purchase_proba >= view_proba THEN 'purchase'
                    ELSE 'view' END"""


def _with_prediction(panel: DataFrame) -> DataFrame:
    return panel.withColumn(
        "prediction",
        F.when(
            (F.col("click_proba") >= F.col("purchase_proba"))
            & (F.col("click_proba") >= F.col("view_proba")),
            F.lit("click"),
        )
        .when(F.col("purchase_proba") >= F.col("view_proba"), F.lit("purchase"))
        .otherwise(F.lit("view")),
    )


@query(
    "p_confidence_profile",
    f"""
    WITH panel AS ({_PROBA_PANEL_SQL}),
    pred AS (
      SELECT *, greatest(click_proba, purchase_proba, view_proba) AS max_proba,
             {_PRED_SQL} AS prediction
      FROM panel
    ),
    binned AS (
      SELECT *, ntile(10) OVER (ORDER BY max_proba DESC, event_id) - 1 AS quantile
      FROM pred
    )
    SELECT quantile,
           ROUND(avg(CASE WHEN (event_type = 'purchase') = (prediction = 'purchase')
                          THEN 1 ELSE 0 END), 6) AS binary_accuracy
    FROM binned GROUP BY quantile ORDER BY quantile
    """,
)
def p_conf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """confidence_profile (pandas_utils.py:354-396) — binary accuracy per
    confidence decile, positive class = purchase. The exact ntile path
    with an event_id tiebreak so both engines bin ties identically; the
    scalable approx-cut-point path is exercised in tests."""
    from workbench_spark.operators.proba import confidence_profile

    panel = _with_prediction(_proba_panel(spark, sf_dir))
    out = confidence_profile(
        panel,
        target="event_type",
        prediction="prediction",
        positive_classes=["purchase"],
        negative_classes=["click", "view"],
        quantiles=10,
        tiebreak="event_id",
    )
    return out.select(
        F.col("quantile").cast("long").alias("quantile"),
        F.round("binary_accuracy", 6).alias("binary_accuracy"),
    )


@query(
    "p_proba_confusion",
    f"""
    WITH panel AS ({_PROBA_PANEL_SQL}),
    pred AS (
      SELECT *, greatest(click_proba, purchase_proba, view_proba) AS max_proba,
             {_PRED_SQL} AS prediction
      FROM panel
    ),
    conf AS (
      SELECT *,
             (max_proba - 1.0/3) / (1 - 1.0/3) AS confidence,
             abs((CASE event_type WHEN 'click' THEN 0 WHEN 'purchase' THEN 1 ELSE 2 END)
               - (CASE prediction WHEN 'click' THEN 0 WHEN 'purchase' THEN 1 ELSE 2 END))
               AS residual
      FROM pred
    )
    SELECT event_id,
           ROUND(max_proba, 6) AS max_proba,
           ROUND(confidence, 6) AS confidence,
           ROUND(CASE WHEN residual = 0
                      THEN (1 - confidence) * (1.0/3)
                      ELSE residual * (1.0/3) + confidence * (1.0/3) END,
                 6) AS confusion
    FROM conf
    """,
)
def p_proba_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_proba → proba_to_conf → compute_confusion chained
    (pandas_utils.py:270-353): banded confusion score over the 3-class
    panel, residual = |class-index distance|."""
    from workbench_spark.operators.proba import (
        compute_confusion,
        max_proba,
        proba_to_conf,
    )

    panel = _with_prediction(_proba_panel(spark, sf_dir))
    idx = lambda c: (  # noqa: E731
        F.when(F.col(c) == "click", 0).when(F.col(c) == "purchase", 1).otherwise(2)
    )
    scored = proba_to_conf(max_proba(panel)).withColumn(
        "residual", F.abs(idx("event_type") - idx("prediction"))
    )
    out = compute_confusion(scored, n_classes=3)
    return out.select(
        "event_id",
        F.round("max_proba", 6).alias("max_proba"),
        F.round("confidence", 6).alias("confidence"),
        F.round("confusion", 6).alias("confusion"),
    )


@query(
    "a19_target_health",
    """
    WITH counted AS (
      SELECT o_totalprice AS v, COUNT(*) AS n FROM orders GROUP BY 1
    ),
    top AS (SELECT * FROM counted ORDER BY n DESC, v ASC LIMIT 1)
    SELECT (SELECT COUNT(*) FROM orders) AS support,
           (SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL) AS nulls,
           (SELECT COUNT(DISTINCT o_totalprice) FROM orders) AS distinct_values,
           ROUND((SELECT MIN(o_totalprice) FROM orders), 4) AS min_value,
           ROUND((SELECT MAX(o_totalprice) FROM orders), 4) AS max_value,
           ROUND(top.v, 4) AS pileup_value,
           ROUND(CAST(top.n AS DOUBLE) / (SELECT COUNT(*) FROM orders), 6) AS pileup_fraction
    FROM top
    """,
)
def a19_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 — target health diagnostics (pandas_utils.py:789-884)."""
    from workbench_spark.operators.ensembles import target_health

    o = _t(spark, sf_dir, "orders")
    th = target_health(o, "o_totalprice")
    return th.select(
        "support",
        "nulls",
        "distinct_values",
        F.round(F.col("min_value").cast("double"), 4).alias("min_value"),
        F.round(F.col("max_value").cast("double"), 4).alias("max_value"),
        F.round(F.col("pileup_value").cast("double"), 4).alias("pileup_value"),
        F.round("pileup_fraction", 6).alias("pileup_fraction"),
    )


@query(
    "m3_multi_task_alignment",
    """
    WITH per_user AS (
      SELECT user_id, event_type, AVG(value) AS y
      FROM events WHERE event_type IN ('click', 'view', 'purchase')
      GROUP BY 1, 2
    ),
    t AS (
      SELECT a.et AS task_a, b.et AS task_b,
             corr(a.y, b.y) AS c, COUNT(*) AS shared_rows
      FROM (SELECT user_id, event_type AS et, y FROM per_user) a
      JOIN (SELECT user_id, event_type AS et, y FROM per_user) b
        ON a.user_id = b.user_id AND a.et < b.et
      GROUP BY 1, 2
    )
    SELECT task_a, task_b, ROUND(c, 6) AS correlation, shared_rows FROM t
    """,
)
def m3_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 — cross-task correlation on shared ids
    (multi_task_alignment.py:31-443); tasks = per-user mean value of each
    event type."""
    from workbench_spark.operators.landscape import multi_task_alignment

    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type").isin("click", "view", "purchase"))
        .groupBy("user_id", "event_type")
        .agg(F.avg("value").alias("y"))
    )
    frames = {
        t: per_user.filter(F.col("event_type") == t).select("user_id", "y")
        for t in ["click", "view", "purchase"]
    }
    out = multi_task_alignment(frames, "user_id", "y")
    return out.select(
        "task_a", "task_b", F.round("correlation", 6).alias("correlation"), "shared_rows"
    )


@query(
    "p10_tag_filter",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             [x FOR x IN [
                CASE WHEN n_chars < 200 THEN 'short' END,
                CASE WHEN n_chars >= 400 THEN 'long' END,
                CASE WHEN lang = 'en' THEN 'english' END
             ] IF x IS NOT NULL] AS tags
      FROM documents
    )
    WHERE len(list_intersect(tags, ['long', 'english'])) > 0
      AND NOT list_contains(tags, 'short')
    """,
)
def p10_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 — include/exclude rows by tag-array membership
    (mol_tagging.py:386-434): arrays_overlap include + array_contains
    exclude over a derived tag column."""
    from workbench_spark.operators.chem import filter_by_tags

    d = _t(spark, sf_dir, "documents")
    tagged = d.withColumn(
        "tags",
        F.array_compact(
            F.array(
                F.when(F.col("n_chars") < 200, F.lit("short")),
                F.when(F.col("n_chars") >= 400, F.lit("long")),
                F.when(F.col("lang") == "en", F.lit("english")),
            )
        ),
    )
    out = filter_by_tags(tagged, include=["long", "english"], exclude=["short"])
    return out.select("doc_id", "source")


@query(
    "q6_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure pushdown-filter + scalar agg — the query whose
    plan should be scan(PushedFilters)->partial agg->final agg, zero wide
    shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "w_sessionize_events",
    """
    WITH lagged AS (
      SELECT user_id, event_id, ts,
             epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap
      FROM events
    ),
    marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS is_new
      FROM lagged
    ),
    sessions AS (
      SELECT user_id, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_num
      FROM marked
    )
    SELECT user_id, CAST(session_num AS BIGINT) AS session_num,
           COUNT(*) AS events_in_session
    FROM sessions GROUP BY 1, 2
    """,
)
def w_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (lag + gap cumsum) summarized per session. The
    ts-ordering within (user, ts) is unique in this data, so the oracle
    window is deterministic."""
    from workbench_spark.operators.windows import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_minutes=30)
    return s.groupBy("user_id", "session_num").agg(
        F.count(F.lit(1)).alias("events_in_session")
    )


@query(
    "m4_uq_neighbors",
    """
    WITH stats AS (
      -- exact integer-sum twin of similarity._zscore_frame (r13): float
      -- AVG/STDDEV low bits depend on partition order and flip z-score
      -- neighbor ties; micro-quantized HUGEINT sums + one fixed double-op
      -- sequence are bit-identical in any layout and in both engines
      SELECT s / n / 1e6 AS mu,
             sqrt(greatest((qq - s * s / n) / (n - 1), 0.0)) / 1e6 AS sd
      FROM (
        SELECT CAST(SUM(CAST(floor(CAST(c_acctbal AS DOUBLE) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) AS s,
               CAST(SUM(CAST(floor(CAST(c_acctbal AS DOUBLE) * 1e6 + 0.5) AS HUGEINT)
                        * CAST(floor(CAST(c_acctbal AS DOUBLE) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) AS qq,
               COUNT(c_acctbal) AS n
        FROM customer)
    ),
    p AS (
      SELECT c_custkey AS id, c_acctbal * 0.9 AS pred,
             (c_acctbal - mu) / (CASE WHEN sd > 0 THEN sd ELSE 1 END) AS z
      FROM customer, stats
    ),
    knn AS (
      SELECT id, nid FROM (
        SELECT a.id AS id, b.id AS nid,
               ROW_NUMBER() OVER (
                 PARTITION BY a.id
                 ORDER BY ABS(a.z - b.z) ASC, b.id ASC) AS rn
        FROM p a JOIN p b ON a.id != b.id
      ) WHERE rn <= 5
    ),
    spread AS (
      SELECT knn.id, STDDEV(p.pred) AS sigma, AVG(p.pred) AS nmean
      FROM knn JOIN p ON knn.nid = p.id GROUP BY knn.id
    ),
    g AS (SELECT STDDEV(pred) AS gs FROM p)
    SELECT p.id AS c_custkey,
           ROUND(p.pred, 4) + 0 AS pred,
           ROUND(COALESCE(spread.sigma, g.gs), 4) + 0 AS uq_sigma,
           ROUND(p.pred - 1.645 * COALESCE(spread.sigma, g.gs), 4) + 0 AS lower_bound,
           ROUND(p.pred + 1.645 * COALESCE(spread.sigma, g.gs), 4) + 0 AS upper_bound,
           ROUND(spread.nmean, 4) + 0 AS neighbor_mean_pred
    FROM p LEFT JOIN spread ON p.id = spread.id CROSS JOIN g
    """,
)
def m4_uq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 — neighbor-spread UQ (uq_model_v0 pre-calibrator semantics):
    sigma = stddev of the 5 standardized-Euclidean neighbors' predictions,
    interval = pred ± 1.645·sigma, global-sigma fallback for degenerate
    neighborhoods. Upgraded from rows-only in r5: the exact KNN path is
    fully deterministic here (single feature → distance ordering is
    monotone in the raw gap; ties broken by neighbor id on both sides),
    so DuckDB replays the identical z-score/rank/stddev pipeline and the
    hash match checks neighbor SELECTION, not just shape. Verified tie
    behavior empirically at both sweep scales (quantized 2-decimal
    acctbal gaps make boundary ties real, not hypothetical)."""
    from workbench_spark.operators.ml_analysis import uq_from_neighbors

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", (F.col("c_acctbal") * 0.9).alias("pred")
    )
    out = uq_from_neighbors(c, "c_custkey", "pred", ["c_acctbal"], k=5)
    return out.select(
        "c_custkey",
        (F.round("pred", 4) + F.lit(0.0)).alias("pred"),
        (F.round("uq_sigma", 4) + F.lit(0.0)).alias("uq_sigma"),
        (F.round("lower_bound", 4) + F.lit(0.0)).alias("lower_bound"),
        (F.round("upper_bound", 4) + F.lit(0.0)).alias("upper_bound"),
        (F.round("neighbor_mean_pred", 4) + F.lit(0.0)).alias("neighbor_mean_pred"),
    )


@query(
    "m4_uq_coverage",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(1 AS BOOLEAN) AS cov50_ok,
           CAST(1 AS BOOLEAN) AS cov90_ok,
           CAST(1 AS BOOLEAN) AS widths_ordered
    FROM customer WHERE c_custkey <= 750
    """,
)
def m4_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 v1 conformal UQ oracle (VERDICT r1 ask): the RF error model
    isn't engine-portable, but the conformal finite-sample guarantee IS —
    on the calibration frame, the alpha-interval must cover >= alpha of
    true values, and the 90% interval must be wider than the 50%.
    Prediction = target + seeded-hash noise so the frame is deterministic."""
    from workbench_spark.operators.uq import UQConformal

    cal = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 750)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_acctbal").cast("double"),
            F.col("c_nationkey").cast("double"),
            F.col("c_acctbal").cast("double").alias("y_true"),
            (
                F.col("c_acctbal")
                + (F.pmod(F.xxhash64("c_custkey"), F.lit(201)) - 100) / 10.0
            ).alias("prediction"),
        )
    )
    uq = UQConformal(
        ["c_acctbal", "c_nationkey"], id_col="id",
        confidence_levels=(0.5, 0.9), k=5, n_trees=10,
    ).fit(cal, target="y_true", prediction="prediction")
    out = uq.predict(None, prediction="prediction").join(
        cal.select("id", "y_true"), "id"
    )
    inside = lambda tag: F.avg(  # noqa: E731
        F.when(
            (F.col("y_true") >= F.col(f"lower_{tag}"))
            & (F.col("y_true") <= F.col(f"upper_{tag}")),
            1.0,
        ).otherwise(0.0)
    )
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        (inside("50") >= 0.5).alias("cov50_ok"),
        (inside("90") >= 0.9).alias("cov90_ok"),
        (
            F.avg(F.col("upper_90") - F.col("lower_90"))
            > F.avg(F.col("upper_50") - F.col("lower_50"))
        ).alias("widths_ordered"),
    )


@query(
    "m4_uq_metrics_panel",
    f"""
    WITH d AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS y,
             CAST(o_totalprice * 0.95 + 1000 AS DOUBLE) AS pred,
             CAST(500 + (o_orderkey % 100) * 10 AS DOUBLE) AS std,
             1.0/(1.0 + (o_orderkey % 100)/10.0) AS confidence
      FROM orders
    ),
    scored AS (
      SELECT *,
             (y - pred)/std AS z,
             abs(y - pred) AS ar,
             (pred + 1.0*std) - (pred - 1.0*std) AS w68
      FROM d
    ),
    erf AS (
      SELECT *,
             1/(1 + 0.3275911 * (abs(z)/sqrt(CAST(2.0 AS DOUBLE)))) AS t,
             abs(z)/sqrt(CAST(2.0 AS DOUBLE)) AS x
      FROM scored
    ),
    cdf AS (
      SELECT *,
             (1.0 + sign(z) * (1.0 - (0.254829592*t + (-0.284496736)*power(t,2)
                + 1.421413741*power(t,3) + (-1.453152027)*power(t,4)
                + 1.061405429*power(t,5)) * exp(-x*x))) / 2.0 AS phi,
             (1/sqrt(2*pi())) * exp(-z*z/2.0) AS pdf
      FROM erf
    ),
    ranked AS (
      SELECT *,
             RANK() OVER (ORDER BY w68) + (COUNT(*) OVER (PARTITION BY w68) - 1) / 2.0 AS rw,
             RANK() OVER (ORDER BY ar) + (COUNT(*) OVER (PARTITION BY ar) - 1) / 2.0 AS rr,
             RANK() OVER (ORDER BY confidence) + (COUNT(*) OVER (PARTITION BY confidence) - 1) / 2.0 AS rc
      FROM cdf
    )
    SELECT
      ROUND(avg(CASE WHEN y >= pred - 1.0*std AND y <= pred + 1.0*std THEN 1.0 ELSE 0.0 END), 6) AS coverage_68,
      ROUND(avg(CASE WHEN y >= pred - 1.282*std AND y <= pred + 1.282*std THEN 1.0 ELSE 0.0 END), 6) AS coverage_80,
      ROUND(avg(CASE WHEN y >= pred - 1.645*std AND y <= pred + 1.645*std THEN 1.0 ELSE 0.0 END), 6) AS coverage_90,
      ROUND(avg(CASE WHEN y >= pred - 1.96*std AND y <= pred + 1.96*std THEN 1.0 ELSE 0.0 END), 6) AS coverage_95,
      ROUND(quantile_cont(std, 0.5), 4) AS median_std,
      ROUND(quantile_cont((pred + 0.674*std) - (pred - 0.674*std), 0.5), 4) AS median_width_50,
      ROUND(quantile_cont(w68, 0.5), 4) AS median_width_68,
      ROUND(quantile_cont((pred + 1.282*std) - (pred - 1.282*std), 0.5), 4) AS median_width_80,
      ROUND(quantile_cont((pred + 1.645*std) - (pred - 1.645*std), 0.5), 4) AS median_width_90,
      ROUND(quantile_cont((pred + 1.96*std) - (pred - 1.96*std), 0.5), 4) AS median_width_95,
      ROUND(CAST(SUM(CAST(floor((std * (z * (2.0*phi - 1.0) + 2.0*pdf - 1/sqrt(pi()))) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
            / COUNT(*) / 1e6, 4) AS mean_crps,
      ROUND(CAST(SUM(CAST(floor((((pred + 1.96*std) - (pred - 1.96*std))
          + 40.0 * ((pred - 1.96*std) - y) * (CASE WHEN y < pred - 1.96*std THEN 1.0 ELSE 0.0 END)
          + 40.0 * (y - (pred + 1.96*std)) * (CASE WHEN y > pred + 1.96*std THEN 1.0 ELSE 0.0 END)) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
            / COUNT(*) / 1e6, 4)
        AS mean_interval_score_95,
      ROUND({_corr_sql('rw', 'rr')}, 6) AS interval_to_error_corr,
      ROUND({_corr_sql('rc', 'rr')}, 6) AS confidence_to_error_corr,
      CAST(COUNT(*) AS BIGINT) AS n_samples
    FROM ranked
    """,
)
def m4_uq_metrics_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uq_metrics (model_utils.py:540-686) — the full UQ evaluation panel
    over a deterministic Gaussian-std frame. The oracle replays the exact
    A&S-7.1.26 CRPS closed form, so the whole panel (coverages, exact
    median widths, CRPS, interval score, both Spearman correlations) is
    hash-checked."""
    from workbench_spark.operators.uq import uq_metrics

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("y"),
        (F.col("o_totalprice") * 0.95 + 1000).cast("double").alias("prediction"),
        (500 + (F.col("o_orderkey") % 100) * 10).cast("double").alias("prediction_std"),
        (F.lit(1.0) / (1.0 + (F.col("o_orderkey") % 100) / 10.0)).alias("confidence"),
    )
    out = uq_metrics(o, "y", exact=True)
    rounds = {
        **{f"coverage_{x}": 6 for x in (68, 80, 90, 95)},
        "median_std": 4,
        **{f"median_width_{x}": 4 for x in (50, 68, 80, 90, 95)},
        "mean_crps": 4,
        "mean_interval_score_95": 4,
        "interval_to_error_corr": 6,
        "confidence_to_error_corr": 6,
    }
    return out.select(
        *[F.round(c, r).alias(c) for c, r in rounds.items()],
        F.col("n_samples").cast("long").alias("n_samples"),
    )


@query(
    "m4_uq_applicability",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(1 AS BOOLEAN) AS conf_in_range,
           CAST(1 AS BOOLEAN) AS quantiles_ordered
    FROM customer WHERE c_custkey <= 750
    """,
)
def m4_applicability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 v2 applicability-domain invariants (uq_model_v2.py): one output
    row per input, confidence in [0,1], neighbor-target quantiles ordered
    around the median."""
    from workbench_spark.operators.uq import uq_applicability

    cal = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 750)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_acctbal").cast("double"),
            F.col("c_nationkey").cast("double"),
            F.col("c_acctbal").cast("double").alias("y_true"),
        )
    )
    out = uq_applicability(
        cal, None, ["c_acctbal", "c_nationkey"], "id", "y_true", k=5
    )
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        (
            (F.min("confidence") >= 0.0) & (F.max("confidence") <= 1.0)
        ).alias("conf_in_range"),
        F.min(
            (F.col("q_05") <= F.col("neighbor_median"))
            & (F.col("neighbor_median") <= F.col("q_95"))
        ).alias("quantiles_ordered"),
    )


# =====================================================================
# As-of join + relational completions (cube/rollup, intersect/except)
# =====================================================================


@query(
    "asof_join_purchase_click",
    """
    SELECT p.event_id, p.user_id, p.ts,
           c.value AS value_right, c.ts AS ts_right
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click at or
    before it (union + carry-forward window — one shuffle, no pandas).
    Oracle: DuckDB's native ASOF LEFT JOIN."""
    from workbench_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(p, c, on="user_id", left_time="ts", right_time="ts",
                    right_cols=["value"])
    return out.select("event_id", "user_id", "ts", "value_right", "ts_right")


@query(
    "cube_returnflag_linestatus",
    """
    SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
           COALESCE(l_linestatus, '<all>') AS l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (noted 'free in Spark SQL if exposed' in SURVEY
    §2.4 — exposed here). NULL markers coalesced to '<all>' so subtotal
    rows are distinguishable from genuine NULL groups on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "sum_qty",
            "n",
        )
    )


@query(
    "setop_intersect_except",
    """
    SELECT 'both' AS segment, o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    )
    UNION ALL
    SELECT 'urgent_only' AS segment, o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    )
    """,
)
def setops_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface (SURVEY §2.7 notes the reference has no
    such surface; free via Catalyst — exposed here as left-semi/anti on
    distinct keysets)."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    big = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    both = urgent.intersect(big).select(F.lit("both").alias("segment"), "o_custkey")
    only = urgent.subtract(big).select(  # subtract == EXCEPT DISTINCT
        F.lit("urgent_only").alias("segment"), "o_custkey"
    )
    return both.unionAll(only)


@query(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 1e6 + 0.5) / 1e6 AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    """,
)
def dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at threshold 0.4 (exact mode;
    use_lsh=True is the 100 TB candidate-pruned path, tested for recall in
    tests/test_dedup.py). The corpus's largest pairwise cosine is ~0.5-0.6,
    so 0.4 keeps the pair set non-empty at every scale and the oracle
    compares real cosine values."""
    from workbench_spark.operators.dedup import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(e, threshold=0.4)
    return pairs.select(
        "id_a", "id_b", _fround(F.col("cosine_sim")).alias("cosine_sim")
    )


def _ivf_oracle() -> str:
    from workbench_spark.operators.kmeans_exact import (
        array_quantize_cte,
        dist_sql,
        kmeans_cte_sql,
    )

    cos = "list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])"
    return f"""
    WITH {array_quantize_cte("embeddings", "vec_id", "embedding", 64, "km")},
    {kmeans_cte_sql(8, 3, 64, "km", by_id=True)},
    probes AS MATERIALIZED (
      SELECT id, c AS cell FROM (
        SELECT z.id, c.c,
               ROW_NUMBER() OVER (PARTITION BY z.id
                 ORDER BY {dist_sql(64)} ASC, c.c ASC) AS rn
        FROM kmz z CROSS JOIN kmc2 c) p WHERE rn <= 3),
    cands AS MATERIALIZED (
      SELECT p.id, a.id AS neighbor_id
      FROM probes p JOIN kmfin a ON a.cell = p.cell
      WHERE a.id != p.id)
    SELECT id, neighbor_id, cosine_sim FROM (
      SELECT cd.id, cd.neighbor_id,
             floor({cos} * 1e6 + 0.5) / 1e6 AS cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY cd.id
               ORDER BY {cos} DESC, cd.neighbor_id ASC) AS rn
      FROM cands cd
      JOIN embeddings ea ON ea.vec_id = cd.id
      JOIN embeddings eb ON eb.vec_id = cd.neighbor_id) t
    WHERE rn <= 5
    """


@query("knn_cosine_ivf", None)  # oracle attached below (generated SQL)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate KNN, exact-quantizer mode (r12 VERDICT #3 upgrade
    from rows-only): the coarse quantizer is the fixed-point integer Lloyd
    twin (operators/kmeans_exact.py), so cells, probing, candidates, and
    the cosine top-k are all engine-portable — the DuckDB oracle replays
    the full retrieval (quantizer CTEs + probe + candidate cosine + top-k).
    MLlib-quantizer recall is still asserted in tests/test_similarity.py."""
    from workbench_spark.operators.similarity import ivf_cosine_knn

    e = _t(spark, sf_dir, "embeddings")
    out = ivf_cosine_knn(e, k=5, n_cells=8, n_probe=3, exact=True, dim=64)
    return out.select(
        "id", "neighbor_id", _fround(F.col("cosine_sim")).alias("cosine_sim")
    )


_ORACLES["knn_cosine_ivf"] = _ivf_oracle()


# =====================================================================
# Additional surfaces: grouped percentiles, window frames, pivot
# =====================================================================


@query(
    "grouped_descriptive_stats",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS q1,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS q3,
           floor((CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 1e6 + 0.5)
                      AS HUGEINT)) AS DOUBLE) / COUNT(l_extendedprice) / 1e6)
                 * 1e6 + 0.5) / 1e6 AS mean,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 grouped variant — per-group exact percentiles: at scale this is
    the partitioned (shuffle-by-group) form whose state distributes,
    unlike the single global percentile. The mean uses the exact
    quantized-sum + floor-round form (the A5 family convention after the
    r13 hostile sweep flipped the global entry's float AVG at a ROUND
    half-boundary — grid-valued data means land on those boundaries)."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.floor(F.col("l_extendedprice").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("median"),
        F.round(F.expr("percentile(l_extendedprice, 0.75)"), 6).alias("q3"),
        _fround(
            F.sum(q).cast("decimal(38,0)").cast("double")
            / F.count(F.col("l_extendedprice"))
            / F.lit(1e6)
        ).alias("mean"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "rolling_avg_user_events",
    """
    SELECT event_id, user_id,
           ROUND(CAST(SUM(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 1e6, 6) AS rolling_avg,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS window_n
    FROM events WHERE value IS NOT NULL
    """,
)
def rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit window frame spec (rowsBetween) — SURVEY §2.5 notes the
    reference never uses frame specs; exposed here as the canonical
    trailing-window rollup. The mean is the quantized window fold
    (r15 — retires the last audit pin): 1e-6-unit integer window sums
    (exact for 2dp values) divided by the frame count, instead of a
    float AVG whose segment-tree combine order the engine chooses."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    qv = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(qv).over(w).cast("double")
            / F.count(F.lit(1)).over(w) / F.lit(1e6),
            6,
        ).alias("rolling_avg"),
        F.count(F.lit(1)).over(w).cast("long").alias("window_n"),
    )


@query(
    "pivot_confusion_wide",
    """
    SELECT event_type,
           CAST(COALESCE(SUM(CASE WHEN pred = 'click' THEN 1 END), 0) AS BIGINT) AS click,
           CAST(COALESCE(SUM(CASE WHEN pred = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase
    FROM (
      SELECT event_type,
             CASE WHEN value >= 50 THEN 'purchase' ELSE 'click' END AS pred
      FROM events WHERE event_type IS NOT NULL
    ) GROUP BY event_type
    """,
)
def pivot_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-form confusion matrix via pivot (the reference pivots
    client-side, endpoint_core.py:1210-1250; Spark pivot is the
    distributed equivalent, with pinned pivot values so the plan is
    single-pass)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    pred = ev.select(
        "event_type",
        F.when(F.col("value") >= 50, "purchase").otherwise("click").alias("pred"),
    )
    return (
        pred.groupBy("event_type")
        .pivot("pred", ["click", "purchase"])
        .count()
        .select(
            "event_type",
            F.coalesce("click", F.lit(0)).cast("long").alias("click"),
            F.coalesce("purchase", F.lit(0)).cast("long").alias("purchase"),
        )
    )


# =====================================================================
# Chemistry tier (C1/C2/C4) — engine golden gate
# =====================================================================

#: fixed ADMET-style molecule panel: (mol_id, smiles). Descriptor values in
#: the oracle are the PUBLISHED RDKit/PubChem numbers (Ertl 2000 TPSA,
#: Lipinski HBD/HBA, standard atomic weights) — the driver hash-compare is
#: a golden-value gate on the pure-Python chem engine.
CHEM_PANEL = [
    (1, "CC(=O)Oc1ccccc1C(=O)O"),                 # aspirin
    (2, "Cn1cnc2c1c(=O)n(C)c(=O)n2C"),            # caffeine
    (3, "CC(=O)Nc1ccc(O)cc1"),                    # paracetamol
    (4, "CC(C)Cc1ccc(cc1)C(C)C(=O)O"),            # ibuprofen
    (5, "CN1CCC[C@H]1c1cccnc1"),                  # nicotine
    (6, "C(C1C(C(C(C(O1)O)O)O)O)O"),              # glucose
    (7, "c1ccc(cc1)[N+](=O)[O-]"),                # nitrobenzene
    (8, "c1cc(ccc1N)S(=O)(=O)N"),                 # sulfanilamide
]

_CHEM_GOLDEN = """
    SELECT * FROM (VALUES
      (1, 180.159, 63.60, 1, 4, 1),
      (2, 194.194, 58.44, 0, 6, 2),
      (3, 151.165, 49.33, 2, 3, 1),
      (4, 206.285, 37.30, 1, 2, 1),
      (5, 162.236, 16.13, 0, 2, 2),
      (6, 180.156, 110.38, 5, 6, 1),
      (7, 123.111, 45.82, 0, 3, 1),
      (8, 172.202, 86.18, 2, 4, 1)
    ) AS t(mol_id, molwt, tpsa, numhdonors, numhacceptors, ringcount)
"""


@query("chem_descriptors_golden", _CHEM_GOLDEN)
def chem_descriptors_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — real 2D descriptors (mol_descriptors.py:107-487) for a fixed
    molecule panel, hash-compared against published golden values: exact
    MW, Ertl TPSA, Lipinski donors/acceptors, SSSR ring count. The panel
    is literal (testdata has no SMILES column); the oracle VALUES are the
    independent published numbers, so a hash match certifies the engine,
    not a copy of itself."""
    from workbench_spark.operators.chem import molecular_descriptors

    mols = spark.createDataFrame(CHEM_PANEL, "mol_id int, smiles string")
    d = molecular_descriptors(mols)
    return d.select(
        "mol_id",
        F.round("molwt", 3).alias("molwt"),
        F.round("tpsa", 2).alias("tpsa"),
        F.col("numhdonors").cast("int").alias("numhdonors"),
        F.col("numhacceptors").cast("int").alias("numhacceptors"),
        F.col("ringcount").cast("int").alias("ringcount"),
    )


@query(
    "chem_canonical_dedup",
    """
    SELECT * FROM (VALUES (1, 3)) AS t(n_unique_molecules, n_written_forms)
    """,
)
def chem_canonical_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — canonicalization invariance gate: three written forms of
    aspirin (atom-order permuted, Kekulé vs aromatic) must collapse to ONE
    canonical key. Oracle is the a-priori expected count."""
    from workbench_spark.operators.chem import canonicalize

    forms = spark.createDataFrame(
        [
            (1, "CC(=O)Oc1ccccc1C(=O)O"),
            (2, "OC(=O)c1ccccc1OC(C)=O"),
            (3, "O=C(O)C1=CC=CC=C1OC(C)=O"),
        ],
        "form_id int, smiles string",
    )
    canon = canonicalize(forms)
    return canon.agg(
        F.countDistinct("canonical_smiles").cast("int").alias("n_unique_molecules"),
        F.count(F.lit(1)).cast("int").alias("n_written_forms"),
    )


#: Wildman-Crippen anchor panel — molecules whose hand atom-type
#: decomposition under the vendored 1999 table reproduces the published
#: RDKit MolLogP exactly (chem/crippen.py docstring has the derivation).
CRIPPEN_PANEL = [
    (1, "c1ccccc1", 1.6866),                      # benzene
    (2, "Cc1ccccc1", 1.9950),                     # toluene
    (3, "CCO", -0.0014),                          # ethanol
    (4, "Oc1ccccc1", 1.3922),                     # phenol
    (5, "CC(=O)O", 0.0909),                       # acetic acid
    (6, "OC(=O)c1ccccc1", 1.3848),                # benzoic acid
    (7, "Nc1ccccc1", 1.2688),                     # aniline
    (8, "c1ccc2ccccc2c1", 2.8398),                # naphthalene
    (9, "c1ccncc1", 1.0816),                      # pyridine
    (10, "CC(C)Cc1ccc(cc1)C(C)C(=O)O", 3.0732),   # ibuprofen
    (11, "Oc1ccccc1C(=O)O", 1.0904),              # salicylic acid
]

_CRIPPEN_GOLDEN = """
    SELECT * FROM (VALUES
      (1, 1.6866), (2, 1.9950), (3, -0.0014), (4, 1.3922), (5, 0.0909),
      (6, 1.3848), (7, 1.2688), (8, 2.8398), (9, 1.0816), (10, 3.0732),
      (11, 1.0904)
    ) AS t(mol_id, mollogp)
"""


@query("chem_logp_golden", _CRIPPEN_GOLDEN)
def chem_logp_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — Wildman-Crippen MolLogP (vendored published table,
    chem/crippen.py) on the verified anchor panel, hash-compared against
    the independently-known RDKit outputs. Certifies the atom-typing
    engine, not a copy of itself."""
    from workbench_spark.operators.chem import molecular_descriptors

    mols = spark.createDataFrame(
        [(i, s) for i, s, _ in CRIPPEN_PANEL], "mol_id int, smiles string"
    )
    d = molecular_descriptors(mols)
    return d.select(
        "mol_id", (F.round("mollogp", 4) + F.lit(0)).alias("mollogp")
    )


@query(
    "chem_pipeline_golden",
    """
    SELECT * FROM (VALUES (8, 4, 4.7706, 77.76))
      AS t(n_written_forms, n_unique_molecules, total_mollogp, total_tpsa)
    """,
)
def chem_pipeline_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2+C4 end-to-end gate: canonicalize 8 written forms (atom-order
    permuted, Kekulé vs aromatic) of 4 anchor molecules, dedup on the
    canonical key, run descriptors on the survivors, and roll up. Every
    stage of the chem pipeline sits on the hash path; the oracle VALUES
    are a-priori (4 molecules; logP/TPSA sums from the published
    per-molecule values)."""
    from workbench_spark.operators.chem import canonicalize, molecular_descriptors

    forms = spark.createDataFrame(
        [
            (1, "Oc1ccccc1"), (2, "c1ccc(O)cc1"),            # phenol
            (3, "CCO"), (4, "OCC"),                          # ethanol
            (5, "OC(=O)c1ccccc1"), (6, "C1=CC=CC=C1C(O)=O"), # benzoic acid
            (7, "Cc1ccccc1"), (8, "C1=CC=CC=C1C"),           # toluene
        ],
        "form_id int, smiles string",
    )
    canon = canonicalize(forms)
    survivors = (
        canon.groupBy("canonical_smiles")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_forms"),
            F.min("smiles").alias("smiles"),
        )
    )
    d = molecular_descriptors(survivors)
    return d.agg(
        F.sum("n_forms").cast("int").alias("n_written_forms"),
        F.count(F.lit(1)).cast("int").alias("n_unique_molecules"),
        (F.round(F.sum("mollogp"), 4) + F.lit(0)).alias("total_mollogp"),
        (F.round(F.sum("tpsa"), 2) + F.lit(0)).alias("total_tpsa"),
    )


@query(
    "chem_electronic_golden",
    """
    SELECT * FROM (VALUES
      (1, -0.08, true),
      (2, -0.06, true),
      (3, -0.40, true)
    ) AS t(mol_id, min_q, vsa_bins_partition_ok)
    """,
)
def chem_electronic_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 electronic tier gate: Gasteiger PEOE charges + Labute VSA
    families (chem/peoe.py, chem/surface.py). The oracle VALUES are
    independent published anchors — methane C -0.08, benzene CH -0.06,
    methanol O -0.40 are the classic Gasteiger-Marsili worked-example
    charges quoted across the literature (rounded to the 2 decimals the
    publications agree on) — plus the a-priori invariant that every VSA
    bin family partitions the same heavy-atom surface total."""
    from workbench_spark.operators.chem import electronic_descriptors

    mols = spark.createDataFrame(
        [(1, "C"), (2, "c1ccccc1"), (3, "CO")], "mol_id int, smiles string"
    )
    d = electronic_descriptors(mols)
    slogp = sum([F.col(f"slogp_vsa{i}") for i in range(1, 13)], F.lit(0.0))
    peoe = sum([F.col(f"peoe_vsa{i}") for i in range(1, 15)], F.lit(0.0))
    estate = sum([F.col(f"estate_vsa{i}") for i in range(1, 12)], F.lit(0.0))
    smr = sum([F.col(f"smr_vsa{i}") for i in range(1, 11)], F.lit(0.0))
    return d.select(
        "mol_id",
        (F.round("minpartialcharge", 2) + F.lit(0)).alias("min_q"),
        (
            (F.abs(slogp - peoe) < 1e-6)
            & (F.abs(slogp - estate) < 1e-6)
            & (F.abs(slogp - smr) < 1e-6)
        ).alias("vsa_bins_partition_ok"),
    )


# =====================================================================
# M8 — label quality (Confident Learning), driver-gated
# =====================================================================

# Deterministic pred_probs for the oracle gate: three classes with value
# anchors; prob_c = (1/(1+|value-anchor_c|)) normalized. No model training
# — the algorithm under test is the Confident Learning math, and any real
# scorer just swaps in its own probability column.
_M8_CLASSES = [("click", 20.0), ("view", 50.0), ("purchase", 80.0)]

_M8_PROBS_SQL = """
      SELECT event_id AS id, event_type AS given_label, c.class, c.anchor,
             (1.0/(1.0+ABS(value - c.anchor)))
               / SUM(1.0/(1.0+ABS(value - c.anchor))) OVER (PARTITION BY event_id)
               AS prob
      FROM events,
           (VALUES ('click', 20.0), ('view', 50.0), ('purchase', 80.0))
             AS c(class, anchor)
      WHERE event_type IN ('click','view','purchase') AND value IS NOT NULL
"""


def _m8_frames(spark: SparkSession, sf_dir: str):
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin([c for c, _ in _M8_CLASSES])
        & F.col("value").isNotNull()
    )
    anchors = F.array(
        *[
            F.struct(F.lit(c).alias("class"), F.lit(a).alias("anchor"))
            for c, a in _M8_CLASSES
        ]
    )
    long = (
        ev.select(
            F.col("event_id").alias("id"),
            F.col("event_type").alias("given_label"),
            "value",
            F.explode(anchors).alias("ca"),
        )
        .select(
            "id",
            "given_label",
            F.col("ca.class").alias("class"),
            (1.0 / (1.0 + F.abs(F.col("value") - F.col("ca.anchor")))).alias("w"),
        )
        .withColumn(
            "prob", F.col("w") / F.sum("w").over(Window.partitionBy("id"))
        )
        .drop("w")
    )
    labels = long.select("id", "given_label").distinct()
    return long.select("id", "class", "prob"), labels


from pyspark.sql import Window  # noqa: E402  (used by _m8_frames)


@query(
    "m8_confident_joint",
    f"""
    WITH probs AS ({_M8_PROBS_SQL}),
    thresholds AS (
      SELECT class, AVG(prob) AS threshold FROM probs
      WHERE class = given_label GROUP BY class
    ),
    confident AS (
      SELECT p.id, p.given_label, p.class, p.prob,
             ROW_NUMBER() OVER (PARTITION BY p.id
                                ORDER BY p.prob DESC, p.class ASC) AS rn
      FROM probs p JOIN thresholds t ON p.class = t.class
      WHERE p.prob >= t.threshold
    )
    SELECT given_label, class AS predicted_label, COUNT(*) AS n
    FROM confident WHERE rn = 1
    GROUP BY 1, 2
    """,
)
def m8_confident_joint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 — confident-joint counts (Confident Learning, the estimator
    cleanlab builds on; cleanlab_model.py:196-216 surfaces its row-level
    form). Off-diagonal cells = estimated label noise."""
    from workbench_spark.operators.label_quality import confident_joint

    probs, labels = _m8_frames(spark, sf_dir)
    return confident_joint(probs, labels).select(
        "given_label", "predicted_label", F.col("n").cast("long").alias("n")
    )


@query(
    "m8_label_quality",
    f"""
    WITH probs AS ({_M8_PROBS_SQL}),
    thresholds AS (
      SELECT class, AVG(prob) AS threshold FROM probs
      WHERE class = given_label GROUP BY class
    ),
    assigned AS (
      SELECT id, class AS predicted_label,
             ROW_NUMBER() OVER (PARTITION BY id
                                ORDER BY prob DESC, class ASC) AS rn
      FROM probs p
      WHERE prob >= (SELECT threshold FROM thresholds t WHERE t.class = p.class)
    ),
    self_conf AS (
      SELECT id, given_label, prob AS self_confidence FROM probs
      WHERE class = given_label
    )
    SELECT s.id, s.given_label, ROUND(s.self_confidence, 6) AS self_confidence,
           a.predicted_label,
           COALESCE(a.predicted_label IS NOT NULL
                    AND a.predicted_label <> s.given_label, FALSE) AS is_label_issue
    FROM self_conf s LEFT JOIN (SELECT id, predicted_label FROM assigned WHERE rn = 1) a
      ON s.id = a.id
    ORDER BY self_confidence ASC, s.id ASC
    LIMIT 500
    """,
)
def m8_label_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 — per-row label quality, worst-first (label_issues() contract:
    sorted ascending by label_quality = self-confidence)."""
    from workbench_spark.operators.label_quality import label_quality_scores

    probs, labels = _m8_frames(spark, sf_dir)
    lq = label_quality_scores(probs, labels)
    return (
        lq.select(
            "id",
            "given_label",
            F.round("self_confidence", 6).alias("self_confidence"),
            "predicted_label",
            "is_label_issue",
        )
        .orderBy(F.col("self_confidence").asc(), F.col("id").asc())
        .limit(500)
    )


# =====================================================================
# Round-3 oracle coverage: A10 / O4 / F8 / F13 / A22
# =====================================================================


@query(
    "a10_smart_sample_invariants",
    """
    SELECT TRUE AS no_duplicate_rows, TRUE AS contains_all_outliers,
           TRUE AS size_bounded
    """,
)
def a10_smart_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — smart_sample (outliers ∪ Bernoulli sample, dedup;
    athena_source.py:364-394). The Bernoulli draw is seeded but not
    cross-engine portable, so the driver gate asserts the defining
    invariants (the a11_invariants pattern): output is row-unique, every
    outlier row survives the union, and the size is bounded by
    |outliers| + requested rows."""
    from workbench_spark.operators.eda import outliers, smart_sample

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    out = smart_sample(li, columns=["l_extendedprice"], rows=100)
    # fused probes (r15 opt): the old shape ran FIVE driver actions
    # (count, distinct-count, anti-join count, outlier count) — each a
    # separate cold-plan job; this entry led the driver sweep and blew
    # its 20s sf0.001 budget under load. Same invariants from TWO jobs:
    # one count/count-distinct agg over the sample, one left-join agg
    # for |outliers| and the unmatched count.
    row1 = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.struct(*out.columns)).alias("nd"),
    ).collect()[0]
    out_n, distinct_n = row1["n"], row1["nd"]
    outs = outliers(li, ["l_extendedprice"]).drop("outlier_group").distinct()
    row2 = (
        outs.join(
            out.distinct().withColumn("__hit", F.lit(1)), outs.columns, "left"
        )
        .agg(
            F.count(F.lit(1)).alias("n_out"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).alias("missing"),
        )
        .collect()[0]
    )
    n_out, missing = row2["n_out"], row2["missing"] or 0
    return spark.createDataFrame(
        [(distinct_n == out_n, missing == 0, n_out <= out_n <= n_out + 100)],
        "no_duplicate_rows boolean, contains_all_outliers boolean, size_bounded boolean",
    )


@query(
    "o4_stratified_split_invariants",
    """
    SELECT COUNT(*) AS n_total, TRUE AS partitions_input,
           TRUE AS disjoint, TRUE AS all_strata_in_train
    FROM events WHERE event_type IS NOT NULL
    """,
)
def o4_stratified_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — stratified split (pandas_utils.py:1077+): per-stratum seeded
    Bernoulli (not engine-portable) with exact-complement holdout. Gate:
    train+holdout partitions the input exactly, sides are disjoint, and
    every stratum is represented in train. n_total is the concrete
    oracle-checked value."""
    from workbench_spark.operators.windows import stratified_split

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    train, hold = stratified_split(ev, "event_type", 0.7, seed=7)
    n, tn, hn = ev.count(), train.count(), hold.count()
    overlap = train.join(hold, ["event_id"], "inner").count()
    strata = ev.select("event_type").distinct().count()
    train_strata = train.select("event_type").distinct().count()
    return spark.createDataFrame(
        [(n, tn + hn == n, overlap == 0, train_strata == strata)],
        "n_total long, partitions_input boolean, disjoint boolean, all_strata_in_train boolean",
    )


@query(
    "f8_undummify_counts",
    """
    SELECT o_orderstatus AS status, COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def f8_undummify_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — undummify (pandas_utils.py:923-952): one-hot orders status,
    collapse back, per-category counts must reproduce the original
    distribution exactly."""
    from workbench_spark.functions.encoding import undummify

    o = _t(spark, sf_dir, "orders")
    dummies = o.select(
        "o_orderkey",
        *[
            F.when(F.col("o_orderstatus") == v, 1).otherwise(0)
            .cast("int")
            .alias(f"status_{v}")
            for v in ("F", "O", "P")
        ],
    )
    back = undummify(dummies, prefix_sep="_")
    return back.groupBy(F.col("status")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "f13_tags_roundtrip",
    """
    SELECT tag, COUNT(*) AS n FROM (
      SELECT UNNEST(string_split(
        regexp_replace('[' || o_orderpriority || ', ' || o_orderstatus || ']',
                       '^\\[|\\]$', '', 'g'),
        ', ')) AS tag
      FROM orders
    ) GROUP BY 1
    """,
)
def f13_tags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 — tags ↔ list round-trip (inference_store.py:127-129): build
    '[a, b]' tag strings, parse with tags_to_list, explode, count per
    tag. list_to_tags(tags_to_list(s)) == s is asserted in test_api."""
    from workbench_spark.functions.scalar import tags_to_list

    o = _t(spark, sf_dir, "orders").select(
        F.concat(
            F.lit("["), F.col("o_orderpriority"), F.lit(", "),
            F.col("o_orderstatus"), F.lit("]"),
        ).alias("tag_str")
    )
    return (
        o.select(F.explode(tags_to_list(F.col("tag_str"))).alias("tag"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "a22_laplacian_smoothness",
    """
    WITH edges AS (
      SELECT a.n_nationkey AS src, b.n_nationkey AS dst, 1.0 AS weight
      FROM nation a JOIN nation b
        ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey
    )
    SELECT src AS n_nationkey,
           ROUND(SUM(weight * (CAST(src AS DOUBLE) - CAST(dst AS DOUBLE)) ** 2), 4)
             AS smoothness,
           ROUND(SUM(weight), 4) AS total_weight
    FROM edges GROUP BY 1
    """,
)
def a22_laplacian_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22 — Laplacian smoothness Σ_j w_ij (y_i − y_j)² per node
    (laplacian_smoothness.py:14-60) over a same-region nation graph with
    y = nationkey — a fixed, fully SQL-expressible edge list."""
    from workbench_spark.operators.ml_analysis import laplacian_smoothness

    n = _t(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    edges = (
        a.join(b, (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
               & (F.col("a.n_nationkey") != F.col("b.n_nationkey")))
        .select(
            F.col("a.n_nationkey").alias("src"),
            F.col("b.n_nationkey").alias("dst"),
            F.lit(1.0).alias("weight"),
        )
    )
    values = n.select(
        "n_nationkey", F.col("n_nationkey").cast("double").alias("y")
    )
    out = laplacian_smoothness(edges, values, "n_nationkey", "y")
    return out.select(
        "n_nationkey",
        F.round("smoothness", 4).alias("smoothness"),
        F.round("total_weight", 4).alias("total_weight"),
    )


@query(
    "chem_topology_golden",
    """
    -- hand-computed from the published formulas:
    -- ethanol:   chi0 = 1+1/sqrt(2)+1,  chi0v swaps O: 1/sqrt(5)
    -- benzene:   chi0 = 6/sqrt(2), chi0v = 6/sqrt(3) (arom C dv=3),
    --            chi1 = 6*(1/2); kappa1 = 6*25/36, kappa2 (P2=6) = 5*16/36
    -- isobutane: chi0 = 3+1/sqrt(3) = chi0v; kappa2 (P2=3) = 3*4/9
    -- glycine:   chi0v = 1/sqrt(3)+1/sqrt(2)+1/2+1/sqrt(6)+1/sqrt(5)
    -- chi2 adds 2-bond paths: ethanol (1*2*1)^-1/2; benzene 6*(8)^-1/2;
    -- kappa1a folds Hall-Kier alpha (benzene 6 arom C * -0.13 = -0.78)
    SELECT * FROM (VALUES
      (1, 2.707107, 2.154320, 1.414214, 3.0, 2.0, 0.707107, 2.96, 0, 0),
      (2, 4.242641, 3.464102, 3.0, 4.166667, 2.222222, 2.12132, 3.411571, 0, 0),
      (3, 3.577350, 3.577350, 1.732051, 4.0, 1.333333, 1.732051, 4.0, 0, 0),
      (4, 4.284457, 2.639919, 2.270056, 5.0, 2.25, 1.802095, 4.59, 1, 1)
    ) AS t(mol_id, chi0, chi0v, chi1, kappa1, kappa2, chi2, kappa1a,
           n_carboxylic_acid, n_amine_primary)
    """,
)
def chem_topology_golden_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 topology block — Kier-Hall/Randić connectivity, Kappa shape and
    acid/base group counts for a hand-computed panel (closed-form values
    in the oracle: ethanol, benzene, isobutane, glycine). Certifies
    chem/topology.py against the published formulas, independent of the
    engine."""
    from workbench_spark.operators.chem import topological_descriptors

    mols = spark.createDataFrame(
        [(1, "CCO"), (2, "c1ccccc1"), (3, "CC(C)C"), (4, "NCC(=O)O")],
        "mol_id int, smiles string",
    )
    d = topological_descriptors(mols)
    return d.select(
        "mol_id",
        F.round("chi0", 6).alias("chi0"),
        F.round("chi0v", 6).alias("chi0v"),
        F.round("chi1", 6).alias("chi1"),
        F.round("kappa1", 6).alias("kappa1"),
        F.round("kappa2", 6).alias("kappa2"),
        F.round("chi2", 6).alias("chi2"),
        F.round("kappa1a", 6).alias("kappa1a"),
        F.col("n_carboxylic_acid").cast("int").alias("n_carboxylic_acid"),
        F.col("n_amine_primary").cast("int").alias("n_amine_primary"),
    )


@query(
    "chem_mqn_golden",
    """
    -- hand-counted from the Nguyen/Reymond 2009 MQN definitions
    -- (chem/mqn.py documents each bucket; Kekulé bond counts:
    --  benzene 3+3, naphthalene 6 single + 5 double over 11 ring bonds;
    --  glycine: pos=1 primary amine, neg=1 carboxylic acid, hbam=5
    --  lone pairs (N:1 + 2×O:2); naphthalene fusion: afr=2, bfr=1)
    SELECT * FROM (VALUES
      (1, 2,0,0,0,0,0,0, 0,0,1,0, 3,  2,0,0,0,0,0, 0,  1,1,1,2,0,0,
          2,1,0,0, 0,0,0,  0,0,0,0,0,0,0, 0, 0,0),
      (2, 6,0,0,0,0,0,0, 0,0,0,0, 6,  0,0,0,3,3,0, 0,  0,0,0,0,0,0,
          0,0,0,0, 6,0,0,  0,0,0,1,0,0,0, 0, 0,0),
      (3, 2,0,0,0,0,0,0, 1,0,2,0, 5,  3,1,0,0,0,0, 1,  2,3,3,5,1,1,
          3,1,1,0, 0,0,0,  0,0,0,0,0,0,0, 0, 0,0),
      (4, 4,0,0,0,0,0,0, 0,1,0,1, 6,  0,0,0,6,0,0, 0,  1,1,2,3,1,0,
          0,0,0,0, 6,0,0,  0,0,0,1,0,0,0, 0, 0,0),
      (5, 10,0,0,0,0,0,0, 0,0,0,0, 10, 0,0,0,6,5,0, 0,  0,0,0,0,0,0,
          0,0,0,0, 8,2,0,  0,0,0,2,0,0,0, 0, 2,1)
    ) AS t(mol_id, mqn_c, mqn_f, mqn_cl, mqn_br, mqn_i, mqn_s, mqn_p,
           mqn_an, mqn_cn, mqn_ao, mqn_co, mqn_hac,
           mqn_asb, mqn_adb, mqn_atb, mqn_csb, mqn_cdb, mqn_ctb, mqn_rbc,
           mqn_hbd, mqn_hbdm, mqn_hba, mqn_hbam, mqn_pos, mqn_neg,
           mqn_asv, mqn_adv, mqn_atv, mqn_aqv, mqn_cdv, mqn_ctv, mqn_cqv,
           mqn_r3, mqn_r4, mqn_r5, mqn_r6, mqn_r7, mqn_r8, mqn_r9,
           mqn_rg10, mqn_afr, mqn_bfr)
    """,
)
def chem_mqn_golden_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 extension — the 42 Molecular Quantum Numbers (Nguyen/Reymond
    2009) for a hand-counted panel: ethanol, benzene, glycine, morpholine,
    naphthalene. Every one of the 42 columns is checked; the oracle values
    were counted by hand from the published definitions, independent of
    the engine."""
    from workbench_spark.operators.chem import mqn_42_descriptors

    mols = spark.createDataFrame(
        [
            (1, "CCO"),
            (2, "c1ccccc1"),
            (3, "NCC(=O)O"),
            (4, "C1COCCN1"),
            (5, "c1ccc2ccccc2c1"),
        ],
        "mol_id int, smiles string",
    )
    return mqn_42_descriptors(mols).drop("smiles")


@query(
    "chem_extended_golden",
    """
    -- hand-derived from the published formulas (chem/extended.py):
    -- EState (Kier-Hall): ethanol S = (1.680556, 0.25, 7.569444);
    --   acetone S(=O) = 7 + (7-5/3)/4 + 2*(7-2)/9 = 9.444444,
    --   S(C=O) = 5/3 + 2*(5/3-2)/4 + (5/3-7)/4 = 0.166667;
    --   ethane/benzene: all atoms identical -> S = I = 2.0.
    -- ATS1 (Moreau-Broto, w = atom+implicit-H mass; C 12.011 H 1.008
    --   O 15.999): ethanol 15.035*14.027 + 14.027*17.007 = 449.453134;
    --   acetone 2*15.035*12.011 + 12.011*15.999 = 553.334759;
    --   ethane 15.035^2 = 226.051225; benzene 6*13.019^2 = 1016.966166.
    -- GATS1 (Geary): ethanol 1.076854, acetone 1.896893; ethane and
    --   benzene have zero mass variance -> NULL.
    SELECT * FROM (VALUES
      (1, 7.569444, 0.25,     449.453134,  1.076854),
      (2, 9.444444, 0.166667, 553.334759,  1.896893),
      (3, 2.0,      2.0,      226.051225,  NULL),
      (4, 2.0,      2.0,      1016.966166, NULL)
    ) AS t(mol_id, maxestateindex, minestateindex, ats1_m, gats1_m)
    """,
)
def chem_extended_golden_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 extended tail — EState summary indices + Moreau-Broto/Geary
    mass autocorrelation for a hand-computed panel (ethanol, acetone,
    ethane, benzene). The oracle VALUES are derived from the published
    formulas by hand, independent of the engine."""
    from workbench_spark.operators.chem import topological_descriptors

    mols = spark.createDataFrame(
        [(1, "CCO"), (2, "CC(=O)C"), (3, "CC"), (4, "c1ccccc1")],
        "mol_id int, smiles string",
    )
    d = topological_descriptors(mols)
    return d.select(
        "mol_id",
        F.round("maxestateindex", 6).alias("maxestateindex"),
        F.round("minestateindex", 6).alias("minestateindex"),
        F.round("ats1_m", 6).alias("ats1_m"),
        F.round("gats1_m", 6).alias("gats1_m"),
    )


@query(
    "chem_bcut_golden",
    """
    -- closed-form Burden eigenvalues (chem/extended.py BCUT):
    -- methane: single atom -> hi = lo = w = 16.043;
    -- ethane: [[w, 0.11], [0.11, w]] (0.1*order + 0.01 terminal),
    --   w = 15.035 -> 15.145 / 14.925;
    -- benzene: circulant [w; 0.15, 0.001, 0.001, 0.001, 0.15]
    --   -> lambda_k = w + 0.3cos(t) + 0.002cos(2t) + 0.001cos(3t),
    --   max (k=0) = w + 0.303 = 13.322, min (k=3) = w - 0.299 = 12.72.
    SELECT * FROM (VALUES
      (1, 16.043, 16.043),
      (2, 15.145, 14.925),
      (3, 13.322, 12.72)
    ) AS t(mol_id, bcut_mw_hi, bcut_mw_lo)
    """,
)
def chem_bcut_golden_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 BCUT — Burden-matrix eigenvalue ranges for molecules whose
    spectra have closed forms (single atom, 2x2 symmetric, circulant
    ring), so the oracle is exact a-priori arithmetic."""
    from workbench_spark.operators.chem import topological_descriptors

    mols = spark.createDataFrame(
        [(1, "C"), (2, "CC"), (3, "c1ccccc1")],
        "mol_id int, smiles string",
    )
    d = topological_descriptors(mols)
    return d.select(
        "mol_id",
        F.round("bcut_mw_hi", 6).alias("bcut_mw_hi"),
        F.round("bcut_mw_lo", 6).alias("bcut_mw_lo"),
    )


# =====================================================================
# Round-3 LLM-pipeline additions: repetition, chunk dedup, centroids
# =====================================================================


@query(
    "text_repetition_features",
    """
    WITH w AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id, ws,
             [ws[i] || ' ' || ws[i+1]
              FOR i IN generate_series(1, GREATEST(len(ws) - 1, 0))] AS grams
      FROM w
    ),
    wl AS (SELECT doc_id, UNNEST(ws) AS word FROM w),
    freq AS (SELECT doc_id, word, COUNT(*) AS c FROM wl GROUP BY 1, 2),
    top AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM freq GROUP BY 1)
    SELECT g.doc_id,
           CASE WHEN len(grams) > 0
                THEN ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
                ELSE 0.0 END AS dup_ngram_frac,
           ROUND(CAST(top.mx AS DOUBLE) / top.tot, 6) AS top_word_frac
    FROM g JOIN top ON g.doc_id = top.doc_id
    """,
)
def text_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition rules (Rae 2021 §A1.1): duplicate
    word-bigram fraction + most-common-word fraction, per document. All
    JVM-side array expressions, zero shuffle."""
    from workbench_spark.operators.text import repetition_features

    d = _t(spark, sf_dir, "documents")
    return repetition_features(d, ngram=2).select(
        "doc_id", "dup_ngram_frac", "top_word_frac"
    )


@query(
    "text_chunk_dedup_stats",
    """
    WITH w AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             [array_to_string(ws[(i*8+1):(i*8+8)], ' ')
              FOR i IN generate_series(0, GREATEST((len(ws) - 1) // 8, 0))] AS chunks
      FROM w
    ),
    ex AS (SELECT doc_id, UNNEST(chunks) AS chunk FROM c),
    census AS (SELECT chunk, COUNT(DISTINCT doc_id) AS docs FROM ex GROUP BY 1)
    SELECT ex.doc_id,
           COUNT(*) AS n_chunks,
           SUM(CASE WHEN census.docs > 1 THEN 1 ELSE 0 END) AS n_dup_chunks,
           ROUND(CAST(SUM(CASE WHEN census.docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_chunk_frac
    FROM ex JOIN census ON ex.chunk = census.chunk
    GROUP BY ex.doc_id
    """,
)
def text_chunk_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document chunk duplication census (Lee 2022 ExactSubstr at
    chunk granularity): per-doc duplicate-chunk fraction via one explode
    + one groupBy on the chunk key — counts, never pairs, so duplication
    level can't create a quadratic bucket."""
    from workbench_spark.operators.text import chunk_dedup_stats

    d = _t(spark, sf_dir, "documents")
    out = chunk_dedup_stats(d, chunk_words=8)
    return out.select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("n_dup_chunks").cast("long").alias("n_dup_chunks"),
        "dup_chunk_frac",
    )


@query(
    "embedding_group_centroids",
    """
    WITH ex AS (
      -- parallel UNNESTs of equal length zip in DuckDB: dim 1..len pairs
      -- with the matching element
      SELECT label,
             UNNEST(generate_series(1, len(embedding))) AS dim,
             UNNEST(embedding) AS v
      FROM embeddings
    )
    SELECT label, CAST(dim AS INT) AS dim,
           -- r15 quantized mean (audit class ROUND(AVG(float32), 4)):
           -- integer 1e-6-unit sum, one division, floor-form rounding;
           -- +0 folds the floor(-0.0) = -0.0 case. A non-finite
           -- component NULLs the whole (label, dim) mean (the engine
           -- side's uq.qmean convention); the inner CASE keeps DuckDB's
           -- BIGINT cast off Inf/NaN (it would error where Spark's
           -- ANSI-off cast saturates)
           CASE WHEN SUM(CASE WHEN v IS NOT NULL
                              AND NOT isfinite(CAST(v AS DOUBLE))
                         THEN 1 ELSE 0 END) > 0 THEN NULL
           ELSE floor((CAST(SUM(CAST(floor(
                    CASE WHEN isfinite(CAST(v AS DOUBLE))
                         THEN CAST(v AS DOUBLE) END * 1e6 + 0.5)
                    AS BIGINT)) AS DOUBLE)
                  / COUNT(v) / 1e6) * 1e4 + 0.5) / 1e4 + 0
           END AS centroid_val,
           COUNT(*) AS n_vectors
    FROM ex GROUP BY 1, 2
    """,
)
def embedding_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes), exploded to
    (label, dim, value) rows for scalar hash-compare. One shuffle on
    (label, dim) with map-side-combinable partials — vectors are never
    collected. exact=True: quantized per-dim means (r15 audit), rounded
    floor-form on both sides."""
    from workbench_spark.operators.similarity import embedding_group_centroids

    e = _t(spark, sf_dir, "embeddings")
    cent = embedding_group_centroids(e, "label", "embedding", exact=True)
    return cent.select(
        "label",
        F.posexplode("centroid").alias("dim0", "v"),
        "n_vectors",
    ).select(
        "label",
        (F.col("dim0") + 1).cast("int").alias("dim"),  # ordinality is 1-based
        (_fround(F.col("v"), 4) + F.lit(0.0)).alias("centroid_val"),
        F.col("n_vectors").cast("long").alias("n_vectors"),
    )


@query(
    "text_vocabulary_top",
    """
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> length(t) > 0)) AS token
      FROM documents
    ),
    n AS (SELECT COUNT(*) AS n FROM documents),
    stats AS (
      SELECT token, COUNT(DISTINCT doc_id) AS doc_freq, COUNT(*) AS term_freq
      FROM toks GROUP BY token
    )
    SELECT token, doc_freq, term_freq, ROUND(ln(n.n / doc_freq), 6) AS idf
    FROM stats, n
    ORDER BY doc_freq DESC, token ASC
    LIMIT 50
    """,
)
def text_vocabulary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary / IDF table (text.vocabulary) — the stats behind
    stopword discovery and df_cap selection for the dedup inverted
    indexes. One explode + one groupBy(token) computing doc_freq AND
    term_freq in the same agg (no second shuffle); corpus size is a
    broadcast 1-row aggregate. Top 50 by document frequency with a full
    deterministic tiebreak."""
    from workbench_spark.operators.text import vocabulary

    d = _t(spark, sf_dir, "documents")
    out = vocabulary(d)
    return (
        out.select(
            "token",
            F.col("doc_freq").cast("long").alias("doc_freq"),
            F.col("term_freq").cast("long").alias("term_freq"),
            F.round("idf", 6).alias("idf"),
        )
        .orderBy(F.col("doc_freq").desc(), F.col("token").asc())
        .limit(50)
    )


@query(
    "text_chunk_documents",
    """
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks,
             len(regexp_extract_all(text, '\\S+')) AS n
      FROM documents WHERE doc_id < 100
    ),
    starts AS (
      SELECT doc_id, toks, n,
             UNNEST(generate_series(0,
               GREATEST(CAST(ceil((n - 64.0) / 48) AS BIGINT), 0) * 48, 48)) AS s
      FROM t WHERE n > 0
    )
    SELECT doc_id, CAST(s // 48 AS INT) AS chunk_id,
           array_to_string(toks[s + 1 : s + 64], ' ') AS chunk_text,
           CAST(LEAST(n - s, 64) AS INT) AS n_tokens
    FROM starts
    """,
)
def text_chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (text.chunk_documents): 64-token
    windows, stride 48 (overlap 16), final window starts at the smallest
    stride multiple reaching the end so a short tail never duplicates the
    previous window. The oracle rebuilds every chunk STRING in DuckDB via
    list slicing, so the hash match certifies exact window boundaries and
    token content, not just counts."""
    from workbench_spark.operators.text import chunk_documents

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return chunk_documents(d, chunk_tokens=64, overlap=16)


@query(
    "w_resample_ffill",
    """
    WITH binned AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             AVG(value) AS v
      FROM events WHERE user_id < 20
      GROUP BY user_id, 2
    ),
    span AS (
      SELECT user_id, MIN(b) AS lo, MAX(b) AS hi FROM binned GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, UNNEST(generate_series(lo, hi, 3600)) AS b FROM span
    ),
    joined AS (
      SELECT g.user_id, g.b, binned.v, binned.v IS NULL AS is_filled
      FROM grid g LEFT JOIN binned ON g.user_id = binned.user_id AND g.b = binned.b
    )
    SELECT user_id, b AS bucket_epoch,
           FLOOR(LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1e6 + 0.5) / 1e6
             AS value,
           is_filled
    FROM joined
    """,
)
def w_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward-fill (windows.resample_timeseries):
    hourly grid per user, gaps densified via one sequence()/explode per
    group (never a calendar cross join) and carried forward with
    last(ignorenulls) — the batch twin of the streaming hourly rollup.
    The oracle replays bucket/densify/ffill in DuckDB, including which
    rows were synthesized (is_filled)."""
    from workbench_spark.operators.windows import resample_timeseries

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    out = resample_timeseries(
        ev, "ts", "value", group_col="user_id", step_seconds=3600,
        agg="avg", fill="ffill",
    )
    return out.select(
        "user_id",
        F.unix_timestamp("bucket_ts").cast("long").alias("bucket_epoch"),
        _fround(F.col("value")).alias("value"),
        "is_filled",
    )


@query(
    "embedding_quantize_int8",
    """
    WITH q AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
               / CAST(127 AS DOUBLE) AS scale
      FROM embeddings WHERE vec_id < 100
    ),
    ex AS (
      SELECT vec_id, scale,
             UNNEST(generate_series(1, len(embedding))) AS dim,
             UNNEST(embedding) AS v
      FROM q
    )
    SELECT vec_id, CAST(dim AS INT) AS dim,
           CAST(CASE WHEN scale > 0
                THEN least(greatest(floor(v::DOUBLE / scale + 0.5), -127), 127)
                ELSE 0 END AS INT) AS qval,
           ROUND(scale, 6) + 0 AS q_scale
    FROM ex
    """,
)
def embedding_quantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization
    (similarity.quantize_embeddings — the 4x storage/IO format for
    100 TB embedding tables), exploded to scalars for hash-compare. The
    oracle replays the per-vector max-abs scale and the floor(x+0.5)
    deterministic rounding for every component."""
    from workbench_spark.operators.similarity import quantize_embeddings

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    out = quantize_embeddings(e)
    return out.select(
        "vec_id",
        F.posexplode("q_embedding").alias("dim0", "qval"),
        "q_scale",
    ).select(
        "vec_id",
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.col("qval").cast("int").alias("qval"),
        (F.round("q_scale", 6) + F.lit(0.0)).alias("q_scale"),
    )


@query(
    "text_dedup_spans",
    """
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    ch AS (
      SELECT doc_id,
             CASE WHEN len(w) > 0 THEN
               [array_to_string(w[i*8+1 : i*8+8], ' ')
                for i in generate_series(0, (len(w)-1)//8)]
             ELSE [] END AS c
      FROM base
    ),
    ex AS (
      SELECT doc_id, UNNEST(generate_series(0, len(c)-1)) AS pos, UNNEST(c) AS span
      FROM ch WHERE len(c) > 0
    ),
    marked AS (
      SELECT doc_id, pos, span,
             ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS occ
      FROM ex
    ),
    reb AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS n_kept,
             COALESCE(string_agg(CASE WHEN occ = 1 THEN span END, ' ' ORDER BY pos), '')
               AS text_deduped
      FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(reb.text_deduped, '') AS text_deduped,
           CAST(COALESCE(reb.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id
    """,
)
def text_dedup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide span dedup with text RECONSTRUCTION
    (text.dedup_spans): repeated 8-word spans keep exactly their first
    (doc, position) occurrence, documents are rebuilt from the surviving
    spans in order. The oracle replays the whole surgery — chunking,
    first-occurrence ranking, and the reconstructed STRINGS — so the hash
    match certifies the rebuilt text byte-for-byte, not just counts."""
    from workbench_spark.operators.text import dedup_spans

    d = _t(spark, sf_dir, "documents")
    return dedup_spans(d, chunk_words=8)


@query(
    "text_lm_score",
    """
    WITH tt AS (
      SELECT doc_id, list_filter(
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> length(x) > 0) AS toks
      FROM documents
    ),
    train AS (SELECT * FROM tt WHERE doc_id < 400),
    uni AS (
      SELECT tk AS token, COUNT(*) AS c1
      FROM (SELECT UNNEST(toks) AS tk FROM train) GROUP BY tk
    ),
    tot AS (SELECT SUM(len(toks)) AS T FROM train),
    bip AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM (
        SELECT toks, UNNEST(generate_series(1, len(toks) - 1)) AS i
        FROM train WHERE len(toks) >= 2)
    ),
    bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM bip GROUP BY w1, w2),
    pairs AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM (
        SELECT doc_id, toks, UNNEST(generate_series(1, len(toks) - 1)) AS i
        FROM tt WHERE doc_id >= 400 AND len(toks) >= 2)
    ),
    scored AS (
      SELECT p.doc_id,
             CASE WHEN bi.c2 IS NOT NULL THEN CAST(bi.c2 AS DOUBLE) / u1.c1
                  WHEN u2.c1 IS NOT NULL
                    THEN CAST(0.4 AS DOUBLE) * u2.c1 / tot.T
                  ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) / tot.T END AS s
      FROM pairs p
      LEFT JOIN bi ON p.w1 = bi.w1 AND p.w2 = bi.w2
      LEFT JOIN uni u1 ON p.w1 = u1.token
      LEFT JOIN uni u2 ON p.w2 = u2.token
      CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
           -- r15 quantized fold (audit class ROUND(AVG(ln), 6)): 1e-6
           -- integer units per ln term, exact sum, one division chain
           ROUND(CAST(SUM(CAST(floor(ln(s) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1e6, 6) AS mean_logscore,
           ROUND(exp(-(CAST(SUM(CAST(floor(ln(s) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1e6)), 6) AS pseudo_perplexity
    FROM scored GROUP BY doc_id
    """,
)
def text_lm_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: a bigram model with Stupid Backoff
    (Brants et al. 2007 — the published web-scale smoothing; pure count
    ratios, no normalization, so scoring is an equi-join against the
    count tables at any scale) trained on doc_id < 400 and scoring the
    held-out docs, where unseen bigrams and OOV tokens exercise BOTH
    backoff branches. pseudo_perplexity is the CCNet filtering key. The
    oracle retrains and rescores the whole model in DuckDB — counts,
    backoff arithmetic, and log-average all replayed."""
    from workbench_spark.operators.text import lm_score_documents, ngram_lm_counts

    d = _t(spark, sf_dir, "documents")
    uni, bi, total = ngram_lm_counts(d.filter(F.col("doc_id") < 400))
    out = lm_score_documents(
        d.filter(F.col("doc_id") >= 400), uni, bi, total, exact=True
    )
    return out.select(
        "doc_id",
        F.col("n_scored").cast("long").alias("n_scored"),
        F.round("mean_logscore", 6).alias("mean_logscore"),
        F.round("pseudo_perplexity", 6).alias("pseudo_perplexity"),
    )


@query(
    "text_gopher_rules",
    """
    WITH base AS (
      SELECT doc_id, text,
             regexp_extract_all(text, '\\S+') AS toks,
             regexp_extract_all(lower(text), '\\S+') AS toks_l,
             string_split(text, chr(10)) AS lines
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / nullif(len(toks), 0) AS mean_word_len,
             CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
               / nullif(len(toks), 0) AS hash_word_ratio,
             CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
               / nullif(len(toks), 0) AS ellipsis_word_ratio,
             CAST(len(list_filter(lines, x -> regexp_matches(x, '^\\s*[•*-]'))) AS DOUBLE)
               / nullif(len(lines), 0) AS bullet_line_frac,
             CAST(len(list_filter(lines, x -> regexp_matches(x, '\\.\\.\\.\\s*$'))) AS DOUBLE)
               / nullif(len(lines), 0) AS ellipsis_line_frac,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / nullif(len(toks), 0) AS alpha_word_frac,
             list_contains(toks_l, 'the')::INT + list_contains(toks_l, 'be')::INT
             + list_contains(toks_l, 'to')::INT + list_contains(toks_l, 'of')::INT
             + list_contains(toks_l, 'and')::INT + list_contains(toks_l, 'that')::INT
             + list_contains(toks_l, 'have')::INT + list_contains(toks_l, 'with')::INT
               AS n_stop_words
      FROM base
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           ROUND(mean_word_len, 6) AS mean_word_len,
           ROUND(alpha_word_frac, 6) AS alpha_word_frac,
           CAST(n_stop_words AS INT) AS n_stop_words,
           (n_words BETWEEN 50 AND 100000)
           AND (mean_word_len BETWEEN 3.0 AND 10.0)
           AND hash_word_ratio <= 0.1 AND ellipsis_word_ratio <= 0.1
           AND bullet_line_frac < 0.9 AND ellipsis_line_frac < 0.3
           AND alpha_word_frac >= 0.8 AND n_stop_words >= 2 AS gopher_keep
    FROM m
    """,
)
def text_gopher_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, App. A1.1 —
    published thresholds) over the corpus. The oracle recomputes every
    per-doc statistic (word counts, mean word length, symbol ratios,
    bullet/ellipsis line fractions, alphabetic-word fraction, stop-word
    presence) from the same regex subset, so the hash match certifies the
    rule arithmetic, not just row counts."""
    from workbench_spark.operators.text import gopher_quality_flags

    d = _t(spark, sf_dir, "documents")
    out = gopher_quality_flags(d)
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        F.col("n_stop_words").cast("int").alias("n_stop_words"),
        "gopher_keep",
    )


@query(
    "m4_uq_v0_coverage",
    """
    SELECT * FROM (VALUES (true, true, true, true))
      AS t(coverage_50_ok, coverage_80_ok, coverage_95_ok, confidence_in_range)
    """,
)
def uq_v0_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UQ v0 conformal-coverage gate (uq_model_v0.py finite-sample
    guarantee): fit the isotonic-(prediction,std) calibrator on a
    lineitem-derived heteroscedastic frame (|residual| = std·|sin(key)| —
    fully deterministic), then verify ON THE CALIBRATION SET that every
    interval level covers at least its target (the ceil((n+1)α)/n
    quantile makes this hold by construction — the engine must reproduce
    it exactly) and confidence stays in [0, 1]. Both sides of each
    boolean are computed by the engine, so the constant oracle certifies
    the algebra, not a copied number."""
    from workbench_spark.operators.uq import UQv0

    li = _t(spark, sf_dir, "lineitem")
    # the synthetic lineitem has NO unique natural key (even
    # (orderkey, linenumber, partkey) collides) — aggregate to unique ids
    # deterministically before deriving y, or the verification join fans out
    frame = (
        li.filter(F.col("l_orderkey") % 3 == 0)  # 1/3 sample — the
        # conformal guarantee holds at any n; trims sweep wall time
        .select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
            F.col("l_quantity").cast("double").alias("pred"),
            (0.5 + F.col("l_tax") * 5).alias("std"),
        )
        .groupBy("id")
        .agg(F.min("pred").alias("pred"), F.min("std").alias("std"))
        .withColumn(
            "y", F.col("pred") + F.col("std") * F.sin(F.col("id").cast("double"))
        )
        # reused by fit (4 passes), predict, and the verification join —
        # pin it once instead of recomputing the groupBy each time
        .persist()
    )
    uq = UQv0(id_col="id").fit(frame, "y", "pred", "std")
    out = uq.predict(frame, "pred", "std").join(frame.select("id", "y"), "id")
    row = out.agg(
        F.avg(((F.col("y") >= F.col("q_25")) & (F.col("y") <= F.col("q_75"))).cast("double")).alias("c50"),
        F.avg(((F.col("y") >= F.col("q_10")) & (F.col("y") <= F.col("q_90"))).cast("double")).alias("c80"),
        F.avg(((F.col("y") >= F.col("q_025")) & (F.col("y") <= F.col("q_975"))).cast("double")).alias("c95"),
        F.min("confidence").alias("cmin"),
        F.max("confidence").alias("cmax"),
    ).first()
    frame.unpersist()
    return spark.createDataFrame(
        [(
            bool(row["c50"] >= 0.50),
            bool(row["c80"] >= 0.80),
            bool(row["c95"] >= 0.95),
            bool(0.0 <= row["cmin"] and row["cmax"] <= 1.0),
        )],
        "coverage_50_ok boolean, coverage_80_ok boolean, "
        "coverage_95_ok boolean, confidence_in_range boolean",
    )


# =====================================================================
# Driver-visible invariant companions for the remaining rows-only entries
# =====================================================================


@query(
    "simhash_invariants",
    """
    SELECT TRUE AS all_pairs_within_hamming, TRUE AS ids_ordered,
           TRUE AS pairs_unique
    """,
)
def simhash_invariants_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant gate for the PRODUCTION simhash path (xxhash64 — the
    dedup_simhash_pairs sweep entry now carries a portable bit-level
    oracle, but the production signature keeps the stronger hash, which
    no SQL engine can replay): every returned pair must actually be
    within the Hamming bound when recomputed from the signatures, ids
    must be ordered (id_a < id_b), and pairs unique."""
    from workbench_spark.operators.dedup import simhash, simhash_near_pairs

    d = _t(spark, sf_dir, "documents")
    # the pair frame (banding self-join shuffles) feeds the hamming join
    # AND two direct probes — materialize once; the four driver counts
    # fuse into two 1-row aggregates (r15 opt, same values)
    pairs = simhash_near_pairs(d, max_hamming=3).localCheckpoint(eager=False)
    sig = simhash(d).select(
        F.col("doc_id"), F.col("simhash")
    )
    joined = (
        pairs.join(sig.withColumnRenamed("doc_id", "id_a").withColumnRenamed("simhash", "s_a"), "id_a")
        .join(sig.withColumnRenamed("doc_id", "id_b").withColumnRenamed("simhash", "s_b"), "id_b")
        .withColumn("hamming", F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b"))))
    )
    row_j = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("hamming") > 3, 1).otherwise(0)).alias("bad_h"),
    ).first()
    n, bad_h = row_j["n"], row_j["bad_h"] or 0
    row_p = pairs.agg(
        F.sum(F.when(F.col("id_a") >= F.col("id_b"), 1).otherwise(0)).alias(
            "bad_order"
        ),
        F.count_distinct(F.struct("id_a", "id_b")).alias("dist"),
    ).first()
    bad_order = row_p["bad_order"] or 0
    dup = n - row_p["dist"]
    return spark.createDataFrame(
        [(bad_h == 0, bad_order == 0, dup == 0)],
        "all_pairs_within_hamming boolean, ids_ordered boolean, pairs_unique boolean",
    )


@query(
    "knn_lsh_recall_invariant",
    """
    SELECT TRUE AS recall_at_least_half, TRUE AS k_rows_per_query,
           TRUE AS sims_exact_within_buckets
    """,
)
def knn_lsh_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for LSH self-KNN on the RAW (unplanted) embeddings —
    the adversarial no-structure corpus where the knn_cosine_lsh sweep
    entry's planted-twin recall@1 = 1 cannot hold: LSH top-k must still
    recover ≥50% of the exact top-k on average (seeded → deterministic;
    measured ~0.71 at 3 planes x 5 tables), emit ≤ k rows per query, and
    every reported similarity must equal the exact cosine for that pair
    (LSH prunes candidates, never perturbs scores)."""
    from workbench_spark.operators.similarity import cosine_knn, lsh_cosine_knn

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    k = 5
    # exact (BNLJ + window) feeds the semi-join AND the total count;
    # approx feeds three probes — materialize each once (r15 opt)
    exact = (
        cosine_knn(e, k=k)
        .select("id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    approx = lsh_cosine_knn(e, k=k, n_planes=3, n_tables=5, dim=64).localCheckpoint(
        eager=False
    )
    hits = approx.join(
        exact,
        (approx["id"] == exact["id"]) & (approx["neighbor_id"] == exact["neighbor_id"]),
        "left_semi",
    ).count()
    total_exact = exact.count()
    recall = hits / max(total_exact, 1)
    max_rows = (
        approx.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m")).first()["m"]
    )
    # scores must match exact cosine: join on pair and compare
    ex_scored = cosine_knn(e, k=500).select(
        F.col("id"), F.col("neighbor_id"), F.col("cosine_sim").alias("exact_sim")
    )
    mism = (
        approx.join(ex_scored, ["id", "neighbor_id"])
        .filter(F.abs(F.col("cosine_sim") - F.col("exact_sim")) > 1e-9)
        .count()
    )
    return spark.createDataFrame(
        [(recall >= 0.5, max_rows <= k, mism == 0)],
        "recall_at_least_half boolean, k_rows_per_query boolean, "
        "sims_exact_within_buckets boolean",
    )


@query(
    "knn_ivf_recall_invariant",
    """
    SELECT TRUE AS recall_at_least_half, TRUE AS k_rows_per_query
    """,
)
def knn_ivf_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion for knn_cosine_ivf (KMeans cells not engine-portable):
    probing 4 of 8 cells must recover ≥50% of the exact top-k (measured
    ~0.76-0.77 across SFs on the synthetic embeddings; seeded KMeans →
    deterministic), with ≤ k rows per query."""
    from workbench_spark.operators.similarity import cosine_knn, ivf_cosine_knn

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    k = 5
    # same multi-probe shape as knn_lsh_recall_invariant (r15 opt)
    exact = (
        cosine_knn(e, k=k)
        .select("id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    approx = ivf_cosine_knn(e, k=k, n_cells=8, n_probe=4).localCheckpoint(
        eager=False
    )
    hits = approx.join(
        exact,
        (approx["id"] == exact["id"]) & (approx["neighbor_id"] == exact["neighbor_id"]),
        "left_semi",
    ).count()
    recall = hits / max(exact.count(), 1)
    max_rows = (
        approx.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m")).first()["m"]
    )
    return spark.createDataFrame(
        [(recall >= 0.5, max_rows <= k)],
        "recall_at_least_half boolean, k_rows_per_query boolean",
    )


# =====================================================================
# End-to-end training-data curation pipeline (round 4)
# =====================================================================


@query(
    "pipeline_curation_end_to_end",
    """
    WITH filtered AS (
      SELECT doc_id, source,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b', '[CC]', 'g'),
            '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
            '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '[PHONE]', 'g'),
            '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g')
          AS text_scrubbed
      FROM documents
      WHERE length(text) >= 200 AND lang = 'en'
    ),
    hashed AS (
      SELECT *, md5(trim(regexp_replace(lower(text_scrubbed), '\\s+', ' ', 'g'))) AS h
      FROM filtered
    ),
    keepers AS (SELECT h, MIN(doc_id) AS doc_id FROM hashed GROUP BY h)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text_scrubbed, '\\S+'))) AS BIGINT)
             AS total_tokens,
           ROUND(AVG(CAST(length(text_scrubbed) AS DOUBLE)), 4) AS avg_chars
    FROM hashed JOIN keepers USING (h, doc_id)
    GROUP BY source
    """,
)
def pipeline_curation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship curation chain, end-to-end and fully DuckDB-oracled:
    length + language admission filter → PII scrub → exact dedup on the
    normalized scrubbed text (min-id representative) → per-source corpus
    accounting (docs, whitespace tokens, avg chars). Every stage is the
    production operator (text.scrub_pii, dedup.exact_dedup), composed the
    way a real ingest job would; the near-dup stage (minhash incremental)
    is gated separately because xxhash64 has no SQL oracle. One scan,
    one dedup shuffle, one stats shuffle — no Python anywhere."""
    from workbench_spark.operators.dedup import exact_dedup
    from workbench_spark.operators.text import scrub_pii, token_count

    d = _t(spark, sf_dir, "documents")
    admitted = d.filter((F.length("text") >= 200) & (F.col("lang") == "en"))
    scrubbed = scrub_pii(admitted)
    surviving = exact_dedup(scrubbed, text_col="text_scrubbed", id_col="doc_id")
    return surviving.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text_scrubbed"))).cast("long").alias("total_tokens"),
        F.round(F.avg(F.length("text_scrubbed").cast("double")), 4).alias("avg_chars"),
    )


@query(
    "pipeline_user_features_end_to_end",
    """
    WITH train AS (
      SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-24 00:00:00'
    ),
    sess AS (
      SELECT user_id, event_type, value,
             CASE WHEN epoch(ts) - LAG(epoch(ts))
                    OVER (PARTITION BY user_id ORDER BY ts) > 1800
                  OR LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                    IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM train
    ),
    feats AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases,
             ROUND(SUM(COALESCE(value, 0.0)), 4) + 0 AS total_value,
             CAST(SUM(is_new) AS BIGINT) AS n_sessions
      FROM sess GROUP BY user_id
    ),
    labels AS (
      SELECT user_id, true AS label_purchase
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
        AND event_type = 'purchase'
      GROUP BY user_id
    )
    SELECT f.user_id, f.n_events, f.n_purchases, f.total_value,
           f.n_sessions, COALESCE(l.label_purchase, false) AS label_purchase
    FROM feats f LEFT JOIN labels l ON f.user_id = l.user_id
    """,
)
def pipeline_user_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe feature-engineering chain, fully oracled: temporal
    split at a fixed cutoff (S9/O5 semantics), per-user behavioral
    features computed ONLY on the train window (event/purchase counts,
    value total, 30-min-gap session count via the sessionize operator),
    label = any purchase in the held-out window, left-joined so
    label-window-only users never leak into the feature rows. The
    sessionize window and the feature groupBy share one user_id shuffle;
    the label aggregate shuffles only (user_id, bool)."""
    from workbench_spark.operators.windows import sessionize

    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24 00:00:00").cast("timestamp")
    train = ev.filter(F.col("ts") < cutoff)
    sess = sessionize(train, "user_id", "ts", gap_minutes=30)
    feats = sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("n_purchases"),
        (F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 4) + F.lit(0))
        .alias("total_value"),
        F.countDistinct("session_num").cast("long").alias("n_sessions"),
    )
    labels = (
        ev.filter((F.col("ts") >= cutoff) & (F.col("event_type") == "purchase"))
        .select("user_id").distinct()
        .withColumn("label_purchase", F.lit(True))
    )
    return (
        feats.join(labels, "user_id", "left")
        .withColumn("label_purchase", F.coalesce("label_purchase", F.lit(False)))
    )


@query(
    "m_shap_additivity",
    """
    SELECT * FROM (VALUES (true, true))
      AS t(additivity_ok, importance_nonneg)
    """,
)
def m_shap_additivity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TreeSHAP gate (operators/shap.py): train a seeded GBT on customer
    features, score SHAP for 40 rows, and assert the Shapley efficiency
    identity Σφ + E[f] = f(x) to 1e-6 for EVERY row, plus mean-|SHAP|
    nonnegativity. The booleans hold for ANY fitted tree ensemble —
    exactly the invariant that certifies the attribution is Shapley and
    not a heuristic — so the oracle is constant while the computation is
    end-to-end real (extraction → EXTEND/UNWIND → distributed stage)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor

    from workbench_spark.operators.shap import (
        extract_ensemble,
        shap_importance,
        shap_values,
    )

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_acctbal").alias("bal"),
        (F.col("c_custkey") % 10).cast("double").alias("k10"),
        (F.col("c_nationkey")).cast("double").alias("nk"),
    ).withColumn("label", F.col("bal") * 0.01 + F.col("k10") * 2.0 - F.col("nk"))
    va = VectorAssembler(inputCols=["bal", "k10", "nk"], outputCol="features")
    est = GBTRegressor(maxIter=5, maxDepth=3, seed=42)
    m = est.fit(va.transform(c))
    sample = c.orderBy("bal").limit(40)
    scored = shap_values(m, sample, ["bal", "k10", "nk"])
    preds = m.transform(va.transform(sample)).select(
        "bal", "k10", "nk", "prediction"
    )
    joined = scored.join(preds, ["bal", "k10", "nk"])
    bad = joined.filter(
        F.abs(
            F.col("shap_bal") + F.col("shap_k10") + F.col("shap_nk")
            + F.col("shap_base") - F.col("prediction")
        ) > 1e-6
    ).count()
    imp = shap_importance(scored, ["bal", "k10", "nk"])
    nonneg = imp.filter(F.col("importance") < 0).count() == 0
    return spark.createDataFrame(
        [(bad == 0, bool(nonneg))], "additivity_ok boolean, importance_nonneg boolean"
    )


# ---------------------------------------------------------- A13 simulator sweep
# Scenario branch formulas are SHARED between the Spark engine (F.expr) and
# the DuckDB oracle (inlined into the SQL) — one source of truth, both
# engines parse the identical arithmetic. Deterministic column-derived
# "noise" stands in for the seeded-randn generator (which DuckDB cannot
# replay) so the sweep is fully value-oracled.
_SIM_SCENARIOS = [
    dict(
        p1="l_quantity",
        p2="l_quantity * (1 + l_discount)",
        p3="l_extendedprice / 1000",
        c1="0.5 + l_tax",
        c2="1 - l_discount",
        c3="CAST(0.8 AS DOUBLE)",
        tgt="l_quantity + l_tax * 10",
    ),
    dict(
        p1="l_quantity * (1 + 2 * l_tax)",
        p2="l_quantity + l_discount * 20",
        p3="l_extendedprice / 950",
        c1="0.3 + l_discount",
        c2="0.9 - l_tax",
        c3="CAST(0.6 AS DOUBLE)",
        tgt="l_quantity + l_tax * 10",
    ),
]


def _sim_scenario_sql(s: dict) -> str:
    """One scenario's (strategy, mae) body — the a13_strategy_comparison
    oracle parametrized by the branch formulas."""
    return f"""
    WITH b AS (
      SELECT {s['p1']} AS p1, {s['p2']} AS p2, {s['p3']} AS p3,
             {s['c1']} AS c1, {s['c2']} AS c2, {s['c3']} AS c3,
             {s['tgt']} AS tgt
      FROM lineitem
    ),
    params AS (
      SELECT avg(abs(p1 - tgt)) AS mae1, avg(abs(p2 - tgt)) AS mae2,
             avg(abs(p3 - tgt)) AS mae3,
             COALESCE(abs(corr(c1, abs(p1 - tgt))), 0) AS cs1,
             COALESCE(abs(corr(c2, abs(p2 - tgt))), 0) AS cs2,
             COALESCE(abs(corr(c3, abs(p3 - tgt))), 0) AS cs3
      FROM b
    ),
    w AS (
      SELECT *,
             (1/mae1)/((1/mae1) + (1/mae2) + (1/mae3)) AS w1,
             (1/mae2)/((1/mae1) + (1/mae2) + (1/mae3)) AS w2,
             (1/mae3)/((1/mae1) + (1/mae2) + (1/mae3)) AS w3,
             CASE WHEN mae1 <= mae2 AND mae1 <= mae3 THEN 1
                  WHEN mae2 <= mae3 THEN 2 ELSE 3 END AS best_i,
             CASE WHEN mae1 >= mae2 AND mae1 >= mae3 THEN 1
                  WHEN mae2 >= mae3 THEN 2 ELSE 3 END AS worst_i
      FROM params
    ),
    scored AS (
      SELECT b.*, w.*,
             c1 + c2 + c3 AS ctot,
             c1*w1 + c2*w2 + c3*w3 AS stot,
             c1*cs1 + c2*cs2 + c3*cs3 AS caltot
      FROM b CROSS JOIN w
    ),
    maes AS (
      SELECT
        avg(abs((p1 + p2 + p3)/3 - tgt)) AS m_mean,
        avg(abs(p1 * (CASE WHEN ctot = 0 THEN w1 ELSE c1/ctot END)
              + p2 * (CASE WHEN ctot = 0 THEN w2 ELSE c2/ctot END)
              + p3 * (CASE WHEN ctot = 0 THEN w3 ELSE c3/ctot END)
              - tgt)) AS m_conf,
        avg(abs(p1*w1 + p2*w2 + p3*w3 - tgt)) AS m_invmae,
        avg(abs(CASE best_i WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END - tgt)) AS m_best,
        avg(abs(p1 * (CASE WHEN stot = 0 THEN w1 ELSE (c1*w1)/stot END)
              + p2 * (CASE WHEN stot = 0 THEN w2 ELSE (c2*w2)/stot END)
              + p3 * (CASE WHEN stot = 0 THEN w3 ELSE (c3*w3)/stot END)
              - tgt)) AS m_scaled,
        avg(abs(p1 * (CASE WHEN caltot = 0 THEN w1 ELSE (c1*cs1)/caltot END)
              + p2 * (CASE WHEN caltot = 0 THEN w2 ELSE (c2*cs2)/caltot END)
              + p3 * (CASE WHEN caltot = 0 THEN w3 ELSE (c3*cs3)/caltot END)
              - tgt)) AS m_cal,
        avg(abs(CASE worst_i WHEN 1 THEN (p2 + p3)/2
                             WHEN 2 THEN (p1 + p3)/2
                             ELSE (p1 + p2)/2 END - tgt)) AS m_drop,
        any_value(best_i) AS best_i, any_value(worst_i) AS worst_i
      FROM scored
    )
    SELECT strategy, floor(m * 1e6 + 0.5) / 1e6 AS mae FROM (
      SELECT 'Simple Mean' AS strategy, m_mean AS m FROM maes
      UNION ALL SELECT 'Confidence-Weighted', m_conf FROM maes
      UNION ALL SELECT 'Inverse-MAE Weighted', m_invmae FROM maes
      UNION ALL SELECT 'Best Model Only (p' || best_i || ')', m_best FROM maes
      UNION ALL SELECT 'Scaled Conf-Weighted', m_scaled FROM maes
      UNION ALL SELECT 'Calibrated Conf-Weighted', m_cal FROM maes
      UNION ALL SELECT 'Drop Worst (p' || worst_i || ')', m_drop FROM maes
    )
    """


@query(
    "a13_simulator_sweep",
    f"""
    SELECT scenario, strategy, mae,
           CAST(row_number() OVER (
             PARTITION BY scenario ORDER BY mae, strategy) AS INT) AS rank
    FROM (
      SELECT 0 AS scenario, * FROM ({_sim_scenario_sql(_SIM_SCENARIOS[0])})
      UNION ALL
      SELECT 1 AS scenario, * FROM ({_sim_scenario_sql(_SIM_SCENARIOS[1])})
    )
    """,
)
def a13_simulator_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EnsembleSimulator scenario sweep (api/ensemble_simulator.py
    simulate_strategies; reference ensemble_simulator.py runs the same
    strategy ranking over alternative model families): rank the seven
    strategies WITHIN each of two deterministic scenarios. The branch
    formulas come from _SIM_SCENARIOS verbatim on both sides (F.expr here,
    inlined SQL in the oracle), so the hash match certifies the complete
    sweep arithmetic — strategy MAEs, data-dependent best/worst labels,
    and the within-scenario ranking."""
    from workbench_spark.operators.ensembles import strategy_comparison

    li = _t(spark, sf_dir, "lineitem")
    parts = []
    for sid, s in enumerate(_SIM_SCENARIOS):
        branches = li.select(
            F.expr(s["p1"]).alias("p1"),
            F.expr(s["p2"]).alias("p2"),
            F.expr(s["p3"]).alias("p3"),
            F.expr(s["c1"]).alias("c1"),
            F.expr(s["c2"]).alias("c2"),
            F.expr(s["c3"]).alias("c3"),
            F.expr(s["tgt"]).alias("tgt"),
        )
        cmp = strategy_comparison(branches, ["p1", "p2", "p3"], ["c1", "c2", "c3"], "tgt")
        parts.append(
            cmp.select(
                F.lit(sid).alias("scenario"),
                "strategy",
                _fround(F.col("mae")).alias("mae"),
            )
        )
    out = parts[0].unionByName(parts[1])
    w = Window.partitionBy("scenario").orderBy("mae", "strategy")
    return out.withColumn("rank", F.row_number().over(w))


@query(
    "dedup_cluster_representatives",
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id AS id,
             list_distinct(list_filter([substr(t, i, 5) for i in
                  generate_series(1, GREATEST(length(t) - 4, 1))],
                  s -> length(s) = 5)) AS g
      FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
            FROM documents WHERE doc_id < 250)
    ),
    ex AS (SELECT id, UNNEST(g) AS g, len(g) AS sz FROM sh),
    jp AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING CAST(COUNT(*) AS DOUBLE)
             / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) >= 0.25
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM jp
              UNION SELECT id_b, id_a FROM jp),
    reach(id, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    base AS (
      SELECT d.doc_id,
             COALESCE(comp.component, d.doc_id) AS component,
             CAST(len(regexp_extract_all(d.text, '\\S+')) AS DOUBLE) AS quality
      FROM (SELECT doc_id, text FROM documents WHERE doc_id < 250) d
      LEFT JOIN comp ON d.doc_id = comp.id
    ),
    winners AS (
      SELECT component, doc_id AS win_id FROM (
        SELECT component, doc_id,
               row_number() OVER (PARTITION BY component
                                  ORDER BY quality DESC, doc_id ASC) AS rn
        FROM base
      ) WHERE rn = 1
    )
    SELECT base.doc_id, base.component, base.quality,
           base.doc_id = winners.win_id AS keep
    FROM base JOIN winners ON base.component = winners.component
    """,
)
def dedup_cluster_reps_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup resolution (dedup.cluster_representatives):
    cluster the exact 5-gram Jaccard pair graph (same deterministic edge
    source as dedup_cc_membership), then keep per cluster the member with
    the highest quality score (token count here — any per-doc quality
    column works), ties to the smallest doc_id; singletons keep
    themselves. The oracle replays clustering (recursive-CTE closure),
    the quality metric, and the arg-max winner selection."""
    from workbench_spark.operators.dedup import (
        cluster_representatives,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    with_q = d.withColumn(
        "quality",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)).cast("double"),
    )
    pairs = ngram_jaccard_pairs(d, n=5, threshold=0.25)
    return cluster_representatives(with_q, pairs, "quality", id_col="doc_id")


# -------------------------------------------------------------- web curation
# Deterministic synthetic URL per document — ONE formula string, parsed by
# both Spark SQL (F.expr) and DuckDB, so the URL-curation oracles replay the
# identical input. Collision structure: docs sharing (lower(source),
# doc_id % 37) with doc_id % 3 in {0, 1} normalize to the SAME canonical
# URL (tracking params stripped, params sorted, trailing slash and default
# port dropped, host lowercased).
_URL_FORMULA = (
    "'https://' || CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END"
    " || '.example.com' || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END"
    " || '/Docs/' || cast(doc_id % 37 as string)"
    " || CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=x&b=2&a=1#top'"
    "         WHEN doc_id % 3 = 1 THEN '?a=1&b=2'"
    "         ELSE '/' END"
)

# the DuckDB replay of operators/web.normalize_url (identical regexes;
# replacement backrefs are \\1 in DuckDB vs $1 in Java — syntax only)
_NORM_URL_SQL = """
      SELECT doc_id, n_chars,
             lower(regexp_replace(regexp_replace(
               regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1),
               '^(http://[^/:]*):80$', '\\1'), '^(https://[^/:]*):443$', '\\1'))
             || regexp_replace(substring(base,
                  length(regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1)) + 1),
                  '/$', '')
             || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS norm_url,
             lower(regexp_extract(base, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1))
               AS domain
      FROM (
        SELECT doc_id, n_chars,
               regexp_extract(u, '^([^?]*)', 1) AS base,
               coalesce(array_to_string(list_sort(list_filter(
                 string_split(coalesce(regexp_extract(u, '\\?(.*)$', 1), ''), '&'),
                 p -> length(p) > 0 AND NOT regexp_matches(p,
                   '^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|igshid|ref)(=|$)')
               )), '&'), '') AS qs
        FROM (SELECT doc_id, n_chars,
                     regexp_replace(trim({url}), '#.*$', '') AS u
              FROM documents)
      )
"""


def _web_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "n_chars", F.expr(_URL_FORMULA).alias("url"))


@query(
    "web_url_normalize",
    f"""
    WITH norm AS ({_NORM_URL_SQL.format(url=_URL_FORMULA)})
    SELECT doc_id, norm_url, domain FROM norm
    """,
)
def web_url_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3986 syntax normalization + tracking-param strip + domain
    extraction (operators/web.normalize_url/extract_domain) — one
    codegen'd projection per row, the canonical key every downstream
    URL-level curation step shares. The oracle replays the identical
    regex pipeline in DuckDB."""
    from workbench_spark.operators.web import extract_domain, normalize_url

    b = _web_base(spark, sf_dir)
    return b.select(
        "doc_id",
        normalize_url(F.col("url")).alias("norm_url"),
        extract_domain(F.col("url")).alias("domain"),
    )


@query(
    "web_url_dedup",
    f"""
    WITH norm AS ({_NORM_URL_SQL.format(url=_URL_FORMULA)}),
    winners AS (
      SELECT norm_url, doc_id AS win_id FROM (
        SELECT norm_url, doc_id,
               row_number() OVER (PARTITION BY norm_url
                 ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id ASC) AS rn
        FROM norm
      ) WHERE rn = 1
    )
    SELECT norm.doc_id, norm.norm_url, norm.doc_id = winners.win_id AS keep
    FROM norm JOIN winners ON norm.norm_url = winners.norm_url
    """,
)
def web_url_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed exact dedup (operators/web.url_dedup): one keeper per
    canonical URL, highest quality (n_chars) with smallest-id tiebreak.
    Engine: partial-aggregable max(struct) + equi-join (no window — a
    hot canonical URL costs constant memory); oracle: the window form of
    the same winner rule."""
    from workbench_spark.operators.web import url_dedup

    b = _web_base(spark, sf_dir)
    out = url_dedup(b, url_col="url", id_col="doc_id", quality_col="n_chars")
    return out.select("doc_id", "norm_url", "keep")


@query(
    "web_domain_cap",
    f"""
    WITH norm AS ({_NORM_URL_SQL.format(url=_URL_FORMULA)})
    SELECT doc_id, domain,
           row_number() OVER (PARTITION BY domain
             ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id ASC) <= 40 AS keep
    FROM norm
    """,
)
def web_domain_cap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (operators/web.domain_cap, exact path): keep the 40
    highest-quality documents per domain. The exact row_number path is
    the oracle-grade twin; domain_cap(exact=False) is the 100 TB path
    (per-domain quantile-grid threshold, no per-key sort)."""
    from workbench_spark.operators.web import domain_cap

    b = _web_base(spark, sf_dir)
    out = domain_cap(
        b, url_col="url", cap=40, quality_col="n_chars", id_col="doc_id", exact=True
    )
    return out.select("doc_id", "domain", "keep")


@query(
    "knn_cosine_pq",
    """
    WITH q AS (
      SELECT vec_id,
             [embedding[i]::DOUBLE + 0.03 * embedding[65 - i]::DOUBLE
              for i in generate_series(1, 64)] AS qv
      FROM embeddings
    )
    SELECT id, neighbor_id, cosine_sim FROM (
      SELECT q.vec_id AS id, e.vec_id AS neighbor_id,
             floor(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) * 1e6 + 0.5) / 1e6 AS cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) DESC,
                        e.vec_id ASC) AS rn
      FROM q CROSS JOIN embeddings e
    ) WHERE rn <= 1
    """,
)
def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC retrieval (Jégou 2011;
    similarity.pq_train/pq_encode/pq_knn), oracled as the same
    planted-twin recall@1 benchmark as knn_cosine_lsh: the corpus is
    scanned as m=8 one-byte codes (64× less IO than the float64
    vectors), each query scores codes via m lookup-table reads, the top
    rescore_k survivors are rescored at full precision, and the final
    top-1 must equal DuckDB's exact brute-force top-1 — certifying
    recall@1 = 1 through the quantized scan (twin at cosine ≈ 0.9995 vs
    max background ≈ 0.51; PQ distortion at 4 bits/dim-octet is far
    below that margin, verified empirically at both test SFs)."""
    from workbench_spark.operators.similarity import pq_knn

    e = _t(spark, sf_dir, "embeddings")
    qv = F.expr(
        "transform(sequence(1, 64), i -> cast(element_at(embedding, i) as double)"
        " + 0.03d * cast(element_at(embedding, 65 - i) as double))"
    )
    q = e.select("vec_id", qv.alias("embedding"))
    out = pq_knn(e, q, k=1, m=8, n_codes=16)
    return out.select("id", "neighbor_id", _fround(F.col("cosine_sim")).alias("cosine_sim"))


@query(
    "web_url_admission",
    f"""
    WITH norm AS ({_NORM_URL_SQL.format(url=_URL_FORMULA)}),
    corpus AS (SELECT DISTINCT norm_url FROM norm WHERE doc_id < 300),
    batch AS (SELECT * FROM norm WHERE doc_id >= 300),
    winners AS (
      SELECT norm_url, doc_id AS win_id FROM (
        SELECT norm_url, doc_id,
               row_number() OVER (PARTITION BY norm_url
                 ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id ASC) AS rn
        FROM batch
      ) WHERE rn = 1
    )
    SELECT b.doc_id, b.norm_url
    FROM batch b
    JOIN winners w ON b.norm_url = w.norm_url AND b.doc_id = w.win_id
    LEFT JOIN corpus c ON b.norm_url = c.norm_url
    WHERE c.norm_url IS NULL
    """,
)
def web_url_admission_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental URL admission (operators/web.url_dedup_incremental):
    docs < 300 are the accepted corpus, the rest arrive as a batch — a
    batch row survives only as its canonical URL's within-batch winner
    (n_chars quality, smallest-id tiebreak) AND when that URL is absent
    from the corpus. The oracle replays normalization, the winner rule,
    and the anti-join."""
    from workbench_spark.operators.web import url_dedup_incremental

    b = _web_base(spark, sf_dir)
    corpus = b.filter(F.col("doc_id") < 300)
    batch = b.filter(F.col("doc_id") >= 300)
    out = url_dedup_incremental(
        batch, corpus, url_col="url", id_col="doc_id", quality_col="n_chars"
    )
    return out.select("doc_id", "norm_url")


@query(
    "a13_model_performance",
    """
    WITH b AS (
      SELECT l_quantity AS p1,
             l_quantity * (1 + l_discount) AS p2,
             -- the .001234567 shifts park every confidence MEAN away from
             -- the .5e-6 rounding half-boundary (a mean of 0.01-step
             -- decimals can land exactly on it, where ulp-order jitter
             -- flips the floor between engines)
             0.501234567 + l_tax AS c1, 1.001234567 - l_discount AS c2,
             l_quantity + l_tax * 10 AS tgt
      FROM lineitem
    ),
    ranked AS (
      SELECT *,
             rank() OVER (ORDER BY tgt) + (COUNT(*) OVER (PARTITION BY tgt) - 1) / 2.0 AS r_t,
             rank() OVER (ORDER BY p1) + (COUNT(*) OVER (PARTITION BY p1) - 1) / 2.0 AS r_p1,
             rank() OVER (ORDER BY p2) + (COUNT(*) OVER (PARTITION BY p2) - 1) / 2.0 AS r_p2
      FROM b
    ),
    stats AS (
      SELECT COUNT(*) AS n, avg(tgt) AS ybar, SUM(tgt * tgt) AS syy,
             SUM(power(p1 - tgt, 2)) AS sse1, SUM(power(p2 - tgt, 2)) AS sse2,
             avg(abs(p1 - tgt)) AS mae1, avg(abs(p2 - tgt)) AS mae2,
             avg(c1) AS mc1, avg(c2) AS mc2,
             COALESCE(corr(c1, abs(p1 - tgt)), 0) AS cec1,
             COALESCE(corr(c2, abs(p2 - tgt)), 0) AS cec2,
             corr(r_t, r_p1) AS sp1, corr(r_t, r_p2) AS sp2
      FROM ranked
    )
    SELECT * FROM (
      SELECT 'm1' AS model,
             floor(sqrt(sse1 / n) * 1e6 + 0.5) / 1e6 AS rmse,
             floor(mae1 * 1e6 + 0.5) / 1e6 AS mae,
             floor((1 - sse1 / (syy - n * ybar * ybar)) * 1e5 + 0.5) / 1e5 AS r2,
             floor(sp1 * 1e6 + 0.5) / 1e6 AS spearman,
             floor(mc1 * 1e6 + 0.5) / 1e6 AS mean_conf,
             floor(cec1 * 1e6 + 0.5) / 1e6 AS conf_err_corr
      FROM stats
      UNION ALL
      SELECT 'm2',
             floor(sqrt(sse2 / n) * 1e6 + 0.5) / 1e6,
             floor(mae2 * 1e6 + 0.5) / 1e6,
             floor((1 - sse2 / (syy - n * ybar * ybar)) * 1e5 + 0.5) / 1e5,
             floor(sp2 * 1e6 + 0.5) / 1e6,
             floor(mc2 * 1e6 + 0.5) / 1e6,
             floor(cec2 * 1e6 + 0.5) / 1e6
      FROM stats
    )
    """,
)
def a13_model_performance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EnsembleSimulator.model_performance (reference py:307-342;
    api/ensemble_simulator.py) over two deterministic lineitem 'models':
    per-model rmse/mae/r2/spearman/mean_conf/conf_err_corr. The oracle
    recomputes everything including the average-rank Spearman (DuckDB
    rank + tie-count windows replay metrics._avg_rank exactly)."""
    from workbench_spark.api.ensemble_simulator import EnsembleSimulator

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.monotonically_increasing_id().alias("rid"),
        (F.col("l_quantity") + F.col("l_tax") * 10).alias("y"),
        F.col("l_quantity").alias("pp1"),
        (F.col("l_quantity") * (1 + F.col("l_discount"))).alias("pp2"),
        (F.lit(0.501234567) + F.col("l_tax")).alias("cc1"),
        (F.lit(1.001234567) - F.col("l_discount")).alias("cc2"),
    ).localCheckpoint(eager=True)
    frames = {
        "m1": base.select("rid", "y", F.col("pp1").alias("prediction"), F.col("cc1").alias("confidence")),
        "m2": base.select("rid", "y", F.col("pp2").alias("prediction"), F.col("cc2").alias("confidence")),
    }
    sim = EnsembleSimulator(frames, id_column="rid", target_column="y")
    perf = sim.model_performance()
    sim.release()
    return perf.select(
        "model",
        _fround(F.col("rmse")).alias("rmse"),
        _fround(F.col("mae")).alias("mae"),
        # r2 = 1 - sse/(syy - n*ybar²): the sst subtraction cancels ~7
        # digits, leaving ~1e-7 cross-engine jitter — round to 5 decimals
        _fround(F.col("r2"), 5).alias("r2"),
        _fround(F.col("spearman")).alias("spearman"),
        _fround(F.col("mean_conf")).alias("mean_conf"),
        _fround(F.col("conf_err_corr")).alias("conf_err_corr"),
    )


@query(
    "text_dedup_spans_sentences",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 regexp_replace(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                '([.!?]) ', '\\1' || chr(1), 'g'),
                 chr(1)),
               s -> length(s) > 0) AS w
      FROM documents
    ),
    ch AS (
      SELECT doc_id,
             CASE WHEN len(w) > 0 THEN
               [array_to_string(w[i*3+1 : i*3+3], ' ')
                for i in generate_series(0, (len(w)-1)//3)]
             ELSE [] END AS c
      FROM base
    ),
    ex AS (
      SELECT doc_id, UNNEST(generate_series(0, len(c)-1)) AS pos, UNNEST(c) AS span
      FROM ch WHERE len(c) > 0
    ),
    marked AS (
      SELECT doc_id, pos, span,
             ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS occ
      FROM ex
    ),
    reb AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS n_kept,
             COALESCE(string_agg(CASE WHEN occ = 1 THEN span END, ' ' ORDER BY pos), '')
               AS text_deduped
      FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(reb.text_deduped, '') AS text_deduped,
           CAST(COALESCE(reb.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id
    """,
)
def text_dedup_spans_sentences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 span-dedup surgery at the paper's LITERAL granularity
    (Raffel 2020 §2.2: three-sentence spans; text.dedup_spans
    unit='sentences'). Sentence boundaries via the RE2-safe marker trick
    (no lookbehind); the oracle rebuilds every surviving document
    byte-for-byte like text_dedup_spans."""
    from workbench_spark.operators.text import dedup_spans

    d = _t(spark, sf_dir, "documents")
    return dedup_spans(d, unit="sentences", chunk_sents=3)


@query(
    "text_dedup_exact_substr",
    """
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    lg AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 20 THEN
               [md5(array_to_string(w[i+1 : i+20], ' '))
                for i in generate_series(0, len(w)-20)]
             ELSE [] END AS c
      FROM base
    ),
    ex AS (
      SELECT doc_id, UNNEST(generate_series(0, len(c)-1)) AS pos, UNNEST(c) AS h
      FROM lg WHERE len(c) > 0
    ),
    occ AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS occ
      FROM ex
    ),
    dups AS (SELECT doc_id, pos FROM occ WHERE occ > 1),
    tok AS (
      SELECT doc_id, UNNEST(generate_series(0, len(w)-1)) AS i, UNNEST(w) AS t
      FROM base
    ),
    rem AS (
      SELECT DISTINCT t.doc_id, t.i
      FROM tok t JOIN dups d ON t.doc_id = d.doc_id
                            AND t.i >= d.pos AND t.i < d.pos + 20
    ),
    reb AS (
      SELECT t.doc_id,
             COALESCE(string_agg(CASE WHEN r.i IS NULL THEN t.t END,
                                 ' ' ORDER BY t.i), '') AS text_deduped,
             COUNT(*) AS n_tokens,
             SUM(CASE WHEN r.i IS NOT NULL THEN 1 ELSE 0 END) AS n_removed
      FROM tok t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.i = r.i
      GROUP BY t.doc_id
    )
    SELECT doc_id, text_deduped,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_removed AS BIGINT) AS n_removed
    FROM reb
    """,
)
def text_dedup_exact_substr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2021 ExactSubstr, bounded-length
    variant; text.dedup_exact_substrings): every duplicated 20-token
    window keeps only its first (doc, pos) occurrence; later occurrences'
    tokens are excised with overlapping cuts merged, and documents are
    rebuilt from the surviving ranges. The engine does interval-merge +
    complement in per-row HOFs; the oracle marks covered token indices
    with a bounded range join and rebuilds via ordered string_agg — the
    hash match certifies the reconstructed STRINGS byte-for-byte (20 <
    the paper's 50 so the rule actually fires on the test corpus's
    10-99-token documents)."""
    from workbench_spark.operators.text import dedup_exact_substrings

    d = _t(spark, sf_dir, "documents")
    return dedup_exact_substrings(d, min_length=20)


def _tfidf_oracle_sql(dim: int = 16) -> str:
    """DuckDB replay of text.tfidf_vectors(exact=True) at ``dim``
    buckets: same normalization, same idf = ln(N/df), same portable
    polynomial bucket hash, dense vector assembled from ``dim``
    conditional sums. Each tf·idf weight is quantized to 1e-6 integer
    units BEFORE the sum (the r15 ROUND(SUM) audit conversion — the old
    floor(SUM(w)·1e6+0.5) rounded an order-dependent float sum of
    no-grid transcendental terms; the integer sums are order-invariant
    and the single /1e6 division is deterministic on both engines)."""
    poly = (
        "list_reduce(list_prepend(0::BIGINT,"
        " [ascii(substr(token, i, 1)) for i in generate_series(1, length(token))]),"
        " (a, c) -> (a * 31 + c) % 1000000007)"
    )
    sums = ", ".join(
        f"CAST(COALESCE(SUM(CASE WHEN b = {i} THEN qw END), 0) AS DOUBLE) / 1e6"
        for i in range(dim)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(list_filter(
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
        x -> length(x) > 0)) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    vocab AS (
      SELECT token, ln(nd.n / COUNT(DISTINCT doc_id)) AS idf
      FROM tok CROSS JOIN nd GROUP BY token, nd.n
    ),
    weighted AS (
      SELECT tf.doc_id,
             CAST({poly} % {dim} AS INT) AS b,
             CAST(floor(tf.tf * vocab.idf * 1e6 + 0.5) AS BIGINT) AS qw
      FROM tf JOIN vocab USING (token)
    ),
    dense AS (
      SELECT doc_id, [{sums}] AS vec
      FROM weighted GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(dense.vec, [CAST(0.0 AS DOUBLE) for i in generate_series(1, {dim})]) AS vec
    FROM documents d LEFT JOIN dense ON d.doc_id = dense.doc_id
    """


@query("text_tfidf_vectors", _tfidf_oracle_sql(16))
def text_tfidf_vectors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed TF-IDF document vectors (text.tfidf_vectors) — the
    no-external-model text→ANN bridge, dim=16 for the sweep. The bucket
    hash is the portable polynomial family (simhash_portable's), so the
    oracle recomputes every vector element exactly: normalization, term
    counts, idf, bucketing, and the dense assembly are all certified."""
    from workbench_spark.operators.text import tfidf_vectors

    d = _t(spark, sf_dir, "documents")
    # exact=True: per-term 1e-6 integer quantization (r15 audit) — the
    # vector elements are already on the 1e-6 grid, no projection needed
    return tfidf_vectors(d, dim=16, exact=True)


def _bpe_oracle_sql(num_merges: int, min_count: int, max_words: int) -> str:
    """DuckDB replay of operators/bpe.bpe_train — the exact merge
    SEQUENCE, unrolled one MATERIALIZED CTE trio per merge step
    (pair-count → argmax pick → list_reduce fold). MATERIALIZED matters:
    each step is referenced twice (by its pair count and the next step),
    and inlined CTEs would re-evaluate the chain 2^k times. The
    ``list_reduce`` over single-element-list-wrapped symbols is the same
    leftmost-nonoverlapping greedy fold as bpe.merge_fold (an
    accumulator-typed fold: element type LIST<VARCHAR> lets the
    accumulator be the symbol list); tie-breaks (count DESC, left ASC,
    right ASC) and the word-table cap ordering are identical both sides
    (ASCII collation = Python code-point order on this corpus)."""
    parts = [f"""
    WITH words AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT UNNEST(list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'),
          w -> length(w) > 0)) AS word
        FROM documents
      ) GROUP BY word HAVING COUNT(*) >= {min_count}
      ORDER BY freq DESC, word ASC LIMIT {max_words}
    ),
    step0 AS MATERIALIZED (
      SELECT string_split(word, '') || ['</w>'] AS syms, freq FROM words
    )"""]
    for k in range(num_merges):
        parts.append(f""",
    pairs{k} AS MATERIALIZED (
      SELECT pr[1] AS l, pr[2] AS r, SUM(freq) AS cnt FROM (
        SELECT UNNEST(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS pr, freq
        FROM step{k} WHERE len(syms) > 1
      ) GROUP BY pr[1], pr[2]
    ),
    pick{k} AS MATERIALIZED (
      SELECT l, r, cnt FROM pairs{k} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
    ),
    step{k + 1} AS MATERIALIZED (
      SELECT list_reduce(list_transform(s.syms, x -> [x]),
               (acc, x) -> CASE WHEN acc[-1] = p.l AND x[1] = p.r
                           THEN acc[:len(acc)-1] || [p.l || p.r]
                           ELSE acc || x END) AS syms,
             s.freq
      FROM step{k} s, pick{k} p
    )""")
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS merge_rank, l AS merge_left, r AS merge_right, "
        f"l || r AS merged, CAST(cnt AS BIGINT) AS pair_count FROM pick{k}"
        for k in range(num_merges)
    )
    parts.append(f"""
    SELECT * FROM ({unions}) ORDER BY merge_rank""")
    return "".join(parts)


@query("text_bpe_merges", _bpe_oracle_sql(24, 2, 5000))
def text_bpe_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich 2016; operators/bpe):
    one corpus-scale word-count groupBy, then the deterministic merge
    loop over the capped frequency table. The oracle replays all 24
    merge selections exactly — order, tie-breaks, and weighted pair
    counts certified, not just shapes."""
    from workbench_spark.operators.bpe import bpe_train

    d = _t(spark, sf_dir, "documents")
    return bpe_train(d, num_merges=24, min_count=2, max_words=5000)


# =====================================================================
# DSIR — importance-resampling data selection (Xie et al. 2023)
# =====================================================================

_DSIR_B = 256  # registry-entry bucket count (production default is 4096)

_DSIR_POLY_G = (
    "list_reduce(list_prepend(0::BIGINT,"
    " [ascii(substr(g, i, 1)) for i in generate_series(1, length(g))]),"
    " (a, c) -> (a * 31 + c) % 1000000007)"
)


def _dsir_weights_oracle_sql(b: int = _DSIR_B) -> str:
    """DuckDB replay of operators/dsir.dsir_weights with target = English
    documents and raw pool = everything else: same tokenization, same
    unigram+bigram hashed features (portable polynomial bucket hash),
    same Laplace-smoothed log-ratio quantized to integer micro-nats
    (floor(λ·1e6 + 0.5) — the langid integer-weight trick, so per-doc
    sums are exact in both engines and the hash match is bit-level)."""
    return f"""
    WITH base AS (
      SELECT doc_id, lang, list_filter(
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
        x -> length(x) > 0) AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, UNNEST(list_concat(toks,
        [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)])) AS g
      FROM base
    ),
    gb AS (SELECT doc_id, lang, CAST({_DSIR_POLY_G} % {b} AS INT) AS bucket FROM grams),
    tcnt AS (SELECT bucket, COUNT(*) AS c FROM gb WHERE lang = 'en' GROUP BY bucket),
    rcnt AS (SELECT bucket, COUNT(*) AS c FROM gb WHERE lang <> 'en' GROUP BY bucket),
    tt AS (SELECT COUNT(*) AS t FROM gb WHERE lang = 'en'),
    rt AS (SELECT COUNT(*) AS t FROM gb WHERE lang <> 'en'),
    lam AS (
      SELECT i.b AS bucket,
             CAST(floor((ln((COALESCE(tc.c, 0) + 1.0) / (tt.t + {b}.0))
                       - ln((COALESCE(rc.c, 0) + 1.0) / (rt.t + {b}.0))) * 1e6 + 0.5)
                  AS BIGINT) AS lam_micro
      FROM (SELECT UNNEST(generate_series(0, {b - 1})) AS b) i
      LEFT JOIN tcnt tc ON i.b = tc.bucket
      LEFT JOIN rcnt rc ON i.b = rc.bucket
      CROSS JOIN tt CROSS JOIN rt
    ),
    scored AS (
      SELECT gb.doc_id, COUNT(*) AS n_grams, SUM(lam.lam_micro) AS lw
      FROM gb JOIN lam USING (bucket) WHERE gb.lang <> 'en' GROUP BY gb.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(s.lw, 0) AS BIGINT) AS log_w_micro,
           COALESCE(s.lw, 0) / 1e6 AS log_importance
    FROM (SELECT doc_id FROM documents WHERE lang <> 'en') d
    LEFT JOIN scored s ON d.doc_id = s.doc_id
    """


@query("text_dsir_weights", _dsir_weights_oracle_sql())
def text_dsir_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023; operators/dsir): target =
    English docs, raw pool = the rest; hashed unigram+bigram features →
    Laplace-smoothed log-likelihood-ratio per bucket, quantized to
    integer micro-nats (exact associative sums). The model is one
    256-row broadcast table; scoring is explode → broadcast join →
    groupBy(doc) — linear, equi-join shaped, no vocabulary shuffle."""
    from workbench_spark.operators.dsir import dsir_weights

    d = _t(spark, sf_dir, "documents")
    out = dsir_weights(
        d.filter(F.col("lang") != "en"),
        d.filter(F.col("lang") == "en"),
        n_buckets=_DSIR_B,
    )
    return out.select(
        "doc_id", "n_grams", "log_w_micro", F.col("log_importance")
    )


def _dsir_resample_oracle_sql(b: int = _DSIR_B, k: int = 50) -> str:
    """Gumbel-top-k selection replay: u from the portable polynomial hash
    of 'g7:<doc_id>' through the nonlinear finalizer (p² + p·2654435761
    mod 1e9+7 — raw polynomials of consecutive ids are nearly consecutive,
    so without it the noise is correlated), gumbel quantized to
    micro-nats, key = weight + gumbel (all BIGINT — selection and
    ordering are engine-exact)."""
    poly_s = (
        "list_reduce(list_prepend(0::BIGINT,"
        " [ascii(substr(s, i, 1)) for i in generate_series(1, length(s))]),"
        " (a, c) -> (a * 31 + c) % 1000000007)"
    )
    return f"""
    WITH w AS ({_dsir_weights_oracle_sql(b)}),
    mixed AS (
      SELECT doc_id, n_grams, log_w_micro,
             ((p * p) % 1000000007 + (p * 2654435761) % 1000000007)
               % 1000000007 AS m
      FROM (SELECT *, {poly_s} AS p
            FROM (SELECT *, 'g7:' || CAST(doc_id AS VARCHAR) AS s FROM w))
    ),
    keyed AS (
      SELECT doc_id, n_grams, log_w_micro,
             log_w_micro + CAST(floor(-ln(-ln((m % 999983 + 1) / 999985.0))
                                      * 1e6 + 0.5) AS BIGINT) AS key_micro
      FROM mixed
    )
    SELECT doc_id, log_w_micro, key_micro
    FROM keyed ORDER BY key_micro DESC, doc_id LIMIT {k}
    """


@query("text_dsir_resample", _dsir_resample_oracle_sql())
def text_dsir_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-k resample: 50 raw-pool docs sampled without
    replacement ∝ exp(importance weight), noise derived from the
    portable hash (deterministic, partitioning-independent, replayed
    bit-for-bit by the oracle). Engine top-k is TakeOrdered — never a
    global sort."""
    from workbench_spark.operators.dsir import dsir_resample, dsir_weights

    d = _t(spark, sf_dir, "documents")
    w = dsir_weights(
        d.filter(F.col("lang") != "en"),
        d.filter(F.col("lang") == "en"),
        n_buckets=_DSIR_B,
    )
    out = dsir_resample(w, 50)
    return out.select("doc_id", "log_w_micro", "key_micro")


def _sample_to_mixture_oracle_sql() -> str:
    """DuckDB replay of text.sample_to_mixture(mode='resample'): same
    mixture_weights arithmetic (every step a single IEEE op in both
    engines), same portable-hash uniform draw (poly('mix13:'||id) % 1e6),
    same floor(w) + Bernoulli(frac(w)) copy count, copies via
    generate_series — the survivor multiset matches bit-for-bit."""
    poly = (
        "list_reduce(list_prepend(0::BIGINT,"
        " [ascii(substr(s, i, 1)) for i in generate_series(1, length(s))]),"
        " (a, c) -> (a * 31 + c) % 1000000007)"
    )
    return f"""
    WITH per_source AS (
      SELECT source, SUM(len(regexp_extract_all(text, '\\S+'))) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS t FROM per_source),
    w AS (
      SELECT source,
             CASE WHEN (n_tokens / CAST(t AS DOUBLE)) > 0 THEN
               (CASE WHEN source = 'src0' THEN 0.5
                     WHEN source IN ('src1', 'src2') THEN 0.25
                     ELSE 0.0 END) / (n_tokens / CAST(t AS DOUBLE))
             ELSE 0.0 END AS sw
      FROM per_source CROSS JOIN tot
    ),
    docs AS (
      SELECT doc_id, source, sw,
             (((p * p) % 1000000007 + (p * 2654435761) % 1000000007)
              % 1000000007) % 1000000 AS u
      FROM (SELECT doc_id, source, sw, ({poly}) AS p
            FROM (SELECT d.doc_id, d.source, w.sw,
                         'mix13:' || CAST(d.doc_id AS VARCHAR) AS s
                  FROM documents d JOIN w USING (source)))
    ),
    n AS (
      SELECT doc_id, source,
             CAST(floor(sw) AS INT)
             + CASE WHEN u < floor((sw - floor(sw)) * 1e6 + 0.5)
                    THEN 1 ELSE 0 END AS n_copies
      FROM docs
    )
    SELECT doc_id, source,
           CAST(UNNEST(generate_series(0, n_copies - 1)) AS INT) AS copy_idx
    FROM n WHERE n_copies > 0
    """


@query("text_sample_to_mixture", _sample_to_mixture_oracle_sql())
def text_sample_to_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture MATERIALIZATION (text.sample_to_mixture, resample mode):
    three target domains at 50/25/25, the rest dropped; under-represented
    domains are epoch-repeated (floor(w) copies + Bernoulli(frac(w)) via
    the deterministic portable-hash draw — no rand()), so expected token
    counts hit the target exactly. One broadcast join + one projection +
    one explode; the oracle replays the survivor multiset bit-for-bit."""
    from workbench_spark.operators.text import sample_to_mixture

    d = _t(spark, sf_dir, "documents")
    out = sample_to_mixture(d, {"src0": 0.5, "src1": 0.25, "src2": 0.25})
    return out.select(
        "doc_id", "source", F.col("copy_idx").cast("int").alias("copy_idx")
    )


# =====================================================================
# Sketches — Count-Min + Bloom (operators/sketches.py)
# =====================================================================

_SK_TOK_SQL = """
  SELECT doc_id, UNNEST(list_filter(
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
    x -> length(x) > 0)) AS token
  FROM documents
"""

_SK_POLY = (
    "list_reduce(list_prepend(0::BIGINT,"
    " [ascii(substr(token, i, 1)) for i in generate_series(1, length(token))]),"
    " (a, c) -> (a * 31 + c) % 1000000007)"
)


def _cms_build_oracle_sql(depth: int = 4, width: int = 64) -> str:
    """DuckDB replay of sketches.cms_build over the corpus token stream:
    identical portable hash + per-depth affine diversifiers, identical
    (j, bucket, cnt) table — the hash match certifies the sketch
    CONTENTS bit-for-bit."""
    from workbench_spark.operators.sketches import _A, _B

    unions = " UNION ALL ".join(
        f"SELECT {j} AS j, CAST((p * {_A[j]} + {_B[j]}) % 1000000007 % {width}"
        f" AS INT) AS bucket FROM hp"
        for j in range(depth)
    )
    return f"""
    WITH tok AS ({_SK_TOK_SQL}),
    hp AS (SELECT ({_SK_POLY}) AS p FROM tok),
    b AS ({unions})
    SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM b GROUP BY j, bucket
    """


@query("sketch_cms_token_counts", _cms_build_oracle_sql())
def sketch_cms_build_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch build (Cormode 2005; operators/sketches): the
    corpus token stream folded into a fixed 4×64 count table — one
    posexplode + one map-side-combinable groupBy at any corpus size.
    Mergeable by addition (per-batch artifacts)."""
    from workbench_spark.operators.dedup import normalize_text
    from workbench_spark.operators.sketches import cms_build

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda t: F.length(t) > 0,
            )
        ).alias("token")
    )
    return cms_build(toks, "token", depth=4, width=64)


def _cms_estimates_oracle_sql(depth: int = 4, width: int = 64) -> str:
    """Replay of cms_query against the cms_build sketch, plus the exact
    per-token truth — certifying estimates AND exposing the ≥-true
    overestimate property in the matched values."""
    from workbench_spark.operators.sketches import _A, _B

    all_b = " UNION ALL ".join(
        f"SELECT {j} AS j, CAST((p * {_A[j]} + {_B[j]}) % 1000000007 % {width}"
        f" AS INT) AS bucket FROM hpall"
        for j in range(depth)
    )
    probe_b = " UNION ALL ".join(
        f"SELECT token, {j} AS j, CAST((p * {_A[j]} + {_B[j]}) % 1000000007 % {width}"
        f" AS INT) AS bucket FROM hp"
        for j in range(depth)
    )
    return f"""
    WITH tok AS ({_SK_TOK_SQL}),
    hpall AS (SELECT ({_SK_POLY}) AS p FROM tok),
    ball AS ({all_b}),
    sk AS (SELECT j, bucket, COUNT(*) AS cnt FROM ball GROUP BY j, bucket),
    truth AS (SELECT token, COUNT(*) AS tc FROM tok GROUP BY token),
    pr AS (SELECT DISTINCT token FROM tok WHERE token < 'e'),
    hp AS (SELECT token, ({_SK_POLY}) AS p FROM pr),
    pb AS ({probe_b}),
    est AS (
      SELECT pb.token, MIN(COALESCE(sk.cnt, 0)) AS e
      FROM pb LEFT JOIN sk USING (j, bucket) GROUP BY pb.token
    )
    SELECT est.token, CAST(est.e AS BIGINT) AS cms_estimate,
           CAST(truth.tc AS BIGINT) AS true_count
    FROM est JOIN truth USING (token)
    """


@query("sketch_cms_estimates", _cms_estimates_oracle_sql())
def sketch_cms_estimates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS point queries (probes = distinct tokens < 'e') joined with the
    exact truth: the matched values certify every estimate bit-for-bit
    and demonstrate cms_estimate ≥ true_count in real data. Query is
    probes × depth → LEFT broadcast equi-join → min over depths."""
    from workbench_spark.operators.dedup import normalize_text
    from workbench_spark.operators.sketches import cms_build, cms_query

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda t: F.length(t) > 0,
            )
        ).alias("token")
    )
    sk = cms_build(toks, "token", depth=4, width=64)
    probes = toks.filter(F.col("token") < "e").distinct()
    truth = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_count"))
    est = cms_query(sk, probes, "token", depth=4, width=64)
    return est.join(truth, "token").select(
        "token",
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        F.col("true_count").cast("long").alias("true_count"),
    )


def _bloom_oracle_sql(m_bits: int = 1024, k: int = 5) -> str:
    """Replay of bloom_build over even-doc tokens + bloom_contains over
    distinct odd-doc tokens: identical positions, 62-bit word packing,
    bit_or words, and all-bits-set membership test."""
    from workbench_spark.operators.sketches import _A, _B

    pos_b = " UNION ALL ".join(
        f"SELECT CAST((p * {_A[j]} + {_B[j]}) % 1000000007 % {m_bits} AS INT)"
        f" AS pos FROM hpall"
        for j in range(k)
    )
    probe_b = " UNION ALL ".join(
        f"SELECT token, CAST((p * {_A[j]} + {_B[j]}) % 1000000007 % {m_bits}"
        f" AS INT) AS pos FROM hp"
        for j in range(k)
    )
    return f"""
    WITH tok AS ({_SK_TOK_SQL}),
    hpall AS (SELECT ({_SK_POLY}) AS p FROM tok WHERE doc_id % 2 = 0),
    posall AS ({pos_b}),
    bl AS (SELECT CAST(pos // 62 AS INT) AS word,
                  bit_or(1::BIGINT << (pos % 62)) AS bits
           FROM posall GROUP BY word),
    pr AS (SELECT DISTINCT token FROM tok WHERE doc_id % 2 = 1),
    hp AS (SELECT token, ({_SK_POLY}) AS p FROM pr),
    pb AS (SELECT token, CAST(pos // 62 AS INT) AS word,
                  1::BIGINT << (pos % 62) AS mask
           FROM ({probe_b})),
    hits AS (SELECT pb.token,
                    CASE WHEN (COALESCE(bl.bits, 0) & pb.mask) = pb.mask
                         THEN 1 ELSE 0 END AS hit
             FROM pb LEFT JOIN bl USING (word))
    SELECT token, MIN(hit) = 1 AS maybe_present FROM hits GROUP BY token
    """


@query("sketch_bloom_membership", _bloom_oracle_sql())
def sketch_bloom_membership_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (Bloom 1970; operators/sketches): filter
    built over even-doc tokens (⌈1024/62⌉ BIGINT words — a broadcastable
    admission artifact), probed with every distinct odd-doc token. No
    false negatives by construction; the oracle replays words, masks,
    and the all-bits-set test exactly."""
    from workbench_spark.operators.dedup import normalize_text
    from workbench_spark.operators.sketches import bloom_build, bloom_contains

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda t: F.length(t) > 0,
            )
        ).alias("token"),
    )
    bl = bloom_build(toks.filter(F.col("doc_id") % 2 == 0), "token", m_bits=1024, k=5)
    probes = toks.filter(F.col("doc_id") % 2 == 1).select("token").distinct()
    return bloom_contains(bl, probes, "token", m_bits=1024, k=5)


#: HLL distinct-count key: (doc, token) occurrence pairs — thousands of
#: distinct values that grow with SF (plain tokens are a 31-word synthetic
#: vocabulary, which would pin the estimator to its linear-counting branch).
_HLL_KEY_SQL = (
    "SELECT CAST(doc_id AS VARCHAR) || ':' || token AS token "
    f"FROM ({_SK_TOK_SQL})"
)


@query(
    "sketch_cms_heavy_hitters",
    f"""
    WITH tok AS ({_SK_TOK_SQL})
    SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tok GROUP BY token HAVING COUNT(*) >= 400
    """,
)
def sketch_cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters via CMS prefilter (sketches.cms_heavy_hitters):
    the broadcast-sketch map-side filter prunes the stream before the
    exact groupBy (state bounded by candidates, zero false negatives by
    the CMS ≥-true property), so the ORACLE is the plain
    GROUP BY ... HAVING truth — an algorithm-equivalence certificate
    like the PPJoin and Bloom-prefilter entries."""
    from workbench_spark.operators.dedup import normalize_text
    from workbench_spark.operators.sketches import cms_heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda t: F.length(t) > 0,
            )
        ).alias("token")
    )
    return cms_heavy_hitters(toks, "token", min_count=400, depth=4, width=1024)


def _dd_consts(alpha: float = 0.01) -> tuple[float, float]:
    import math

    gamma = (1 + alpha) / (1 - alpha)
    return math.log(gamma), gamma + 1.0


def _dd_buckets_oracle_sql() -> str:
    """DuckDB replay of sketches.ddsketch_build over l_extendedprice:
    the same (sign, ⌈ln|x|/ln γ⌉) bucket expression — ln γ embedded as
    the IDENTICAL Python double literal both sides — and an integer
    count groupBy. Bit-level artifact match."""
    lng, _ = _dd_consts()
    return f"""
    WITH v AS (SELECT l_extendedprice AS x FROM lineitem
               WHERE l_extendedprice IS NOT NULL),
    sk AS (
      SELECT CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS sgn,
             CASE WHEN x <> 0
                  THEN CAST(ceil(ln(abs(x)) / {lng!r}) AS BIGINT)
                  ELSE 0 END AS idx,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY 1, 2
    )
    SELECT CAST(sgn AS INT) AS sgn, idx, cnt FROM sk
    """


@query("sketch_dd_buckets", _dd_buckets_oracle_sql())
def sketch_dd_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch build (Masson et al., VLDB 2019; operators/sketches):
    lineitem prices folded into O(log(max/min)/α) log-γ buckets — the
    mergeable QUANTILE artifact completing the sketch quartet
    (CMS=frequency, Bloom=membership, HLL=cardinality). One projection
    + one map-side-combinable groupBy at any data size; merge = union +
    sum. The oracle replays every bucket index and count exactly."""
    from workbench_spark.operators.sketches import ddsketch_build

    li = _t(spark, sf_dir, "lineitem")
    return ddsketch_build(li, "l_extendedprice", alpha=0.01)


def _dd_quantiles_oracle_sql() -> str:
    """Replay of ddsketch_quantiles: same cumulative walk in
    (sgn, sgn·idx) value order over the bucket table, same integer rank
    target floor(q·(n−1))+1, the answer bucket picked by arg_min over
    the identical integer sort key, and the same midpoint estimate
    expression with identical double literals."""
    lng, g1 = _dd_consts()
    return f"""
    WITH v AS (SELECT l_extendedprice AS x FROM lineitem
               WHERE l_extendedprice IS NOT NULL),
    sk AS (
      SELECT CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS sgn,
             CASE WHEN x <> 0
                  THEN CAST(ceil(ln(abs(x)) / {lng!r}) AS BIGINT)
                  ELSE 0 END AS idx,
             COUNT(*) AS cnt
      FROM v GROUP BY 1, 2
    ),
    cum AS (
      SELECT sgn, idx, cnt,
             SUM(cnt) OVER (ORDER BY sgn, sgn * idx) AS c,
             CASE WHEN sgn = 0 THEN 0.0
                  ELSE sgn * 2.0 * exp(idx * {lng!r}) / {g1!r} END AS est
      FROM sk
    ),
    tot AS (SELECT SUM(cnt) AS n FROM sk),
    qs(q) AS (VALUES (0.01), (0.25), (0.5), (0.75), (0.99)),
    tgt AS (
      SELECT CAST(q AS DOUBLE) AS q,
             CAST(floor(CAST(q AS DOUBLE) * (n - 1)) AS BIGINT) + 1 AS target
      FROM qs CROSS JOIN tot
    )
    SELECT t.q,
           floor(arg_min(c.est,
                         CAST(c.sgn AS BIGINT) * 1099511627776 + c.sgn * c.idx)
                 * 1e6 + 0.5) / 1e6 AS est
    FROM tgt t JOIN cum c ON c.c >= t.target
    GROUP BY t.q
    """


@query("sketch_dd_quantiles", _dd_quantiles_oracle_sql())
def sketch_dd_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch quantile reads (q, est) for 5 quantiles of lineitem
    price — each within α=1% RELATIVE error of the true quantile (the
    guarantee GK/percentile_approx's rank-error cannot give on
    heavy-tailed values). The cumulative walk runs over the
    artifact-sized bucket table (window on ≤ a few thousand rows — a
    constant, not a data-scale sort); the oracle replays the walk, the
    integer rank targets, and the midpoint arithmetic exactly."""
    from workbench_spark.operators.sketches import (
        ddsketch_build,
        ddsketch_quantiles,
    )

    li = _t(spark, sf_dir, "lineitem")
    sk = ddsketch_build(li, "l_extendedprice", alpha=0.01)
    return ddsketch_quantiles(sk, [0.01, 0.25, 0.5, 0.75, 0.99], alpha=0.01)


def _hll_registers_oracle_sql(m: int = 64) -> str:
    """DuckDB replay of sketches.hll_build over the corpus (doc, token)
    pair stream: identical portable hash + nonlinear finalizer, bucket =
    mix mod m, rho = 1 + trailing zeros of mix // m via the same CASE
    chain, and the same groupBy-max — the hash match certifies the
    register CONTENTS bit-for-bit."""
    from workbench_spark.operators.sketches import _hll_rho_case

    return f"""
    WITH tok AS ({_HLL_KEY_SQL}),
    hp AS (SELECT ({_SK_POLY}) AS p FROM tok),
    mx AS (SELECT ((p * p) % 1000000007 + (p * 2654435761) % 1000000007)
                  % 1000000007 AS mix FROM hp),
    br AS (SELECT CAST(mix % {m} AS INT) AS bucket, mix // {m} AS v FROM mx)
    SELECT bucket, CAST(MAX({_hll_rho_case('v')}) AS INT) AS rho
    FROM br GROUP BY bucket
    """


def _hll_key_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, token) occurrence pairs as one string key per row — the
    Spark twin of _HLL_KEY_SQL."""
    from workbench_spark.operators.dedup import normalize_text

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda t: F.length(t) > 0,
            )
        ).alias("__tok"),
    ).select(
        F.concat_ws(":", F.col("doc_id").cast("string"), F.col("__tok")).alias(
            "token"
        )
    )


@query("sketch_hll_registers", _hll_registers_oracle_sql())
def sketch_hll_registers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register build (Flajolet 2007; operators/sketches):
    the corpus (doc, token) pair stream folded into ≤ 64 (bucket,
    max-rho) registers — one projection + one map-side-combinable
    groupBy at any corpus size. MAX-merge makes it a per-batch
    distinct-count artifact: duplicates are absorbed for free, and
    merging day-sketches is union + max."""
    from workbench_spark.operators.sketches import hll_build

    return hll_build(_hll_key_stream(spark, sf_dir), "token", m=64)


def _hll_estimate_oracle_sql(m: int = 64) -> str:
    """Replay of hll_estimate over the hll_build registers, joined with
    the exact distinct count: s_scaled is an exact integer (order-free),
    the alpha·m²·2^25 / s division is the single float step (identical
    literal fold both engines), the small-range linear-counting branch
    uses the same ln, and the result is floor-rounded the same way."""
    from workbench_spark.operators.sketches import (
        _HLL_ALPHA,
        _HLL_RHO_CAP,
        _hll_rho_case,
    )

    pow_cap = 1 << _HLL_RHO_CAP
    return f"""
    WITH tok AS ({_HLL_KEY_SQL}),
    hp AS (SELECT ({_SK_POLY}) AS p FROM tok),
    mx AS (SELECT ((p * p) % 1000000007 + (p * 2654435761) % 1000000007)
                  % 1000000007 AS mix FROM hp),
    br AS (SELECT CAST(mix % {m} AS INT) AS bucket, mix // {m} AS v FROM mx),
    reg AS (SELECT bucket, MAX({_hll_rho_case('v')}) AS rho
            FROM br GROUP BY bucket),
    agg AS (
      SELECT COUNT(*) AS present_buckets,
             CAST(COALESCE(SUM(1::BIGINT << ({_HLL_RHO_CAP} - rho)), 0)
                  + ({m} - COUNT(*)) * {pow_cap}::BIGINT AS BIGINT) AS s_scaled
      FROM reg
    ),
    est AS (
      SELECT present_buckets,
             {m} - present_buckets AS zero_registers,
             s_scaled,
             ({_HLL_ALPHA[m]} * {float(m * m)} * {float(pow_cap)})
               / CAST(s_scaled AS DOUBLE) AS raw
      FROM agg
    ),
    fin AS (
      SELECT present_buckets, zero_registers, s_scaled,
             floor((CASE WHEN raw <= {2.5 * m} AND zero_registers > 0
                         THEN {float(m)} * ln({float(m)}
                              / CAST(zero_registers AS DOUBLE))
                         ELSE raw END) * 1e6 + 0.5) / 1e6 AS hll_estimate
      FROM est
    )
    SELECT CAST(f.present_buckets AS BIGINT) AS present_buckets,
           CAST(f.zero_registers AS BIGINT) AS zero_registers,
           f.s_scaled, f.hll_estimate,
           (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) FROM tok)
             AS true_distinct
    FROM fin f
    """


@query("sketch_hll_estimate", _hll_estimate_oracle_sql())
def sketch_hll_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality estimate joined with the exact distinct (doc,
    token) pair count: the matched values certify the exact integer
    denominator (s_scaled — order-independent, so engine and oracle
    agree bit-for-bit) and the single-float-division estimate, and
    expose the 1.04/√64 ≈ 13% error envelope against the truth in real
    data."""
    from workbench_spark.operators.sketches import hll_build, hll_estimate

    toks = _hll_key_stream(spark, sf_dir)
    est = hll_estimate(hll_build(toks, "token", m=64), m=64)
    truth = toks.agg(F.countDistinct("token").cast("long").alias("true_distinct"))
    return est.join(F.broadcast(truth))


@query(
    "text_source_divergence",
    f"""
    WITH tok AS (
      SELECT source, token
      FROM ({_SK_TOK_SQL.replace("SELECT doc_id,", "SELECT doc_id, source,")})
    ),
    st AS (SELECT source, token, COUNT(*) AS cnt FROM tok GROUP BY source, token),
    corpus AS (SELECT token, SUM(cnt) AS ccnt FROM st GROUP BY token),
    stot AS (SELECT source, SUM(cnt) AS stot FROM st GROUP BY source),
    ctot AS (SELECT SUM(ccnt) AS ctot FROM corpus),
    j AS (
      SELECT st.source, st.cnt, corpus.ccnt, stot.stot, ctot.ctot,
             CAST(st.cnt AS DOUBLE) / stot.stot AS p,
             CAST(corpus.ccnt AS DOUBLE) / ctot.ctot AS q
      FROM st JOIN corpus USING (token) JOIN stot USING (source) CROSS JOIN ctot
    ),
    agg AS (
      SELECT source, ANY_VALUE(stot) AS n_tokens, COUNT(*) AS n_types,
             SUM(CAST(floor(p * ln(p / q) * 1e12 + 0.5) AS BIGINT)) AS kl_pico,
             SUM(CAST(floor((p * ln(p / ((p + q) / 2))
                             + q * ln(q / ((p + q) / 2))) * 1e12 + 0.5)
                 AS BIGINT)) AS js_pico,
             SUM(ccnt) AS qmass_cnt, ANY_VALUE(ctot) AS ctot
      FROM j GROUP BY source
    )
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           floor((kl_pico / 1e12) * 1e6 + 0.5) / 1e6 AS kl_to_corpus,
           floor(((js_pico / 1e12
                   + ln(2.0) * (1.0 - CAST(qmass_cnt AS DOUBLE) / ctot)) / 2)
                 * 1e6 + 0.5) / 1e6 AS js_to_corpus
    FROM agg
    """,
)
def text_source_divergence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL/JS divergence from the corpus mixture
    (text.source_token_divergence) — the mixture-audit panel. Summands
    are quantized to integer picounats before the shuffled SUM (order-
    free), absent-token JS mass enters via its closed form from exact
    integer counts, so the oracle matches bit-for-bit."""
    from workbench_spark.operators.text import source_token_divergence

    d = _t(spark, sf_dir, "documents")
    return source_token_divergence(d)


def _hll_by_source_oracle_sql(m: int = 64) -> str:
    """Grouped replay: hll_build(by=['source']) + hll_estimate(by=...)
    over per-source (doc, token) pair streams — identical register build
    per group, exact integer s_scaled per group, the same single float
    division and linear-counting branch per group."""
    from workbench_spark.operators.sketches import (
        _HLL_ALPHA,
        _HLL_RHO_CAP,
        _hll_rho_case,
    )

    pow_cap = 1 << _HLL_RHO_CAP
    return f"""
    WITH tok AS (
      SELECT source, CAST(doc_id AS VARCHAR) || ':' || token AS token
      FROM ({_SK_TOK_SQL.replace("SELECT doc_id,", "SELECT doc_id, source,")})
    ),
    hp AS (SELECT source, ({_SK_POLY}) AS p FROM tok),
    mx AS (SELECT source,
                  ((p * p) % 1000000007 + (p * 2654435761) % 1000000007)
                  % 1000000007 AS mix FROM hp),
    br AS (SELECT source, CAST(mix % {m} AS INT) AS bucket,
                  mix // {m} AS v FROM mx),
    reg AS (SELECT source, bucket, MAX({_hll_rho_case('v')}) AS rho
            FROM br GROUP BY source, bucket),
    agg AS (
      SELECT source, COUNT(*) AS present_buckets,
             CAST(COALESCE(SUM(1::BIGINT << ({_HLL_RHO_CAP} - rho)), 0)
                  + ({m} - COUNT(*)) * {pow_cap}::BIGINT AS BIGINT) AS s_scaled
      FROM reg GROUP BY source
    ),
    est AS (
      SELECT source, present_buckets,
             {m} - present_buckets AS zero_registers,
             s_scaled,
             ({_HLL_ALPHA[m]} * {float(m * m)} * {float(pow_cap)})
               / CAST(s_scaled AS DOUBLE) AS raw
      FROM agg
    )
    SELECT source,
           CAST(present_buckets AS BIGINT) AS present_buckets,
           CAST(zero_registers AS BIGINT) AS zero_registers,
           s_scaled,
           floor((CASE WHEN raw <= {2.5 * m} AND zero_registers > 0
                       THEN {float(m)} * ln({float(m)}
                            / CAST(zero_registers AS DOUBLE))
                       ELSE raw END) * 1e6 + 0.5) / 1e6 AS hll_estimate
    FROM est
    """


@query("sketch_hll_by_source", _hll_by_source_oracle_sql())
def sketch_hll_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP HLL distinct counts (hll_build/estimate(by=['source'])):
    one fixed m-register artifact per source instead of unbounded
    per-group countDistinct state — the per-domain-vocabulary shape of
    the 100 TB accounting problem. Still one combinable groupBy; the
    oracle replays every group's registers and estimate exactly."""
    from workbench_spark.operators.dedup import normalize_text
    from workbench_spark.operators.sketches import hll_build, hll_estimate

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        "doc_id",
        F.explode(
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda t: F.length(t) > 0,
            )
        ).alias("__tok"),
    ).select(
        "source",
        F.concat_ws(":", F.col("doc_id").cast("string"), F.col("__tok")).alias(
            "token"
        ),
    )
    sk = hll_build(toks, "token", m=64, by=["source"])
    return hll_estimate(sk, m=64, by=["source"])


@query(
    "dedup_jaccard_prefix_pairs",
    """
    WITH sh AS (
      SELECT doc_id AS id,
             list_distinct(list_filter([substr(t, i, 5) for i in
                  generate_series(1, GREATEST(length(t) - 4, 1))],
                  s -> length(s) = 5)) AS g
      FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
            FROM documents WHERE doc_id < 300)
    ),
    ex AS (SELECT id, UNNEST(g) AS g, len(g) AS sz FROM sh),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter,
             ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b
      FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
           CAST(sz_a + sz_b - inter AS BIGINT) AS union_sz
    FROM pairs
    WHERE inter * 2 >= 1 * (sz_a + sz_b - inter)
    """,
)
def dedup_jaccard_prefix_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard join via PPJoin prefix + length filtering (Xiao
    2008; dedup.jaccard_prefix_pairs): the inverted index holds only
    each doc's rarest |d| − ⌈t|d|⌉ + 1 shingles, yet the pair set is
    provably identical to brute force — so the ORACLE is a brute-force
    pairwise Jaccard (algorithm-equivalence certificate, not a replay).
    All thresholds are integer cross-multiplications; output columns
    are exact integers."""
    from workbench_spark.operators.dedup import jaccard_prefix_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return jaccard_prefix_pairs(d, n=5, threshold=(1, 2))


@query(
    "dedup_containment_pairs",
    """
    WITH sh AS (
      SELECT doc_id AS id,
             list_distinct(list_filter([substr(t, i, 5) for i in
                  generate_series(1, GREATEST(length(t) - 4, 1))],
                  s -> length(s) = 5)) AS g
      FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
            FROM documents WHERE doc_id < 300)
    ),
    ex AS (SELECT id, UNNEST(g) AS g, len(g) AS sz FROM sh),
    pairs AS (
      SELECT a.id AS id_contained, b.id AS id_container, COUNT(*) AS inter,
             ANY_VALUE(a.sz) AS sz_contained
      FROM ex a JOIN ex b ON a.g = b.g AND a.id <> b.id
      GROUP BY a.id, b.id
    )
    SELECT id_contained, id_container, CAST(inter AS BIGINT) AS inter,
           CAST(sz_contained AS BIGINT) AS sz_contained
    FROM pairs
    WHERE inter * 5 >= 4 * sz_contained
    """,
)
def dedup_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT directional containment join (dedup.containment_pairs):
    ordered pairs with |A∩B|/|A| ≥ 0.8 — the quote / subset detector
    symmetric Jaccard misses when the container is much longer. The
    contained side's rarest |A|−⌈t|A|⌉+1 shingles are the only ones
    indexed; the ORACLE is a brute-force directed pairwise containment
    (algorithm-equivalence certificate). Integer columns only."""
    from workbench_spark.operators.dedup import containment_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return containment_pairs(d, n=5, threshold=(4, 5))


# =====================================================================
# PageRank — operators/graph.pagerank (fixed-point integer iteration)
# =====================================================================

_PR_ITERS = 10
_PR_SCALE = 10**12
_PR_DNUM, _PR_DDEN = 85, 100

_PR_DUCK_POLY = (
    "list_reduce(list_prepend(0::BIGINT,"
    " [ascii(substr({s}, i, 1)) for i in generate_series(1, length({s}))]),"
    " (a, c) -> (a * 31 + c) % 1000000007)"
)


def _pr_edge_selects() -> str:
    """The hash-derived 3-out-regular doc link graph, DuckDB side (shared
    by the pagerank and HITS oracles); expects a CTE nn(n) in scope."""
    mix = (
        "(((p * p) % 1000000007 + (p * 2654435761) % 1000000007)"
        " % 1000000007)"
    )
    return " UNION ALL ".join(
        f"""SELECT doc_id AS s,
               CAST({mix} % (SELECT n FROM nn) AS BIGINT) AS d
        FROM (SELECT doc_id,
                     ({_PR_DUCK_POLY.format(s="('pr" + str(i) + ":' || CAST(doc_id AS VARCHAR))")}) AS p
              FROM documents)"""
        for i in (1, 2, 3)
    )


def _hash_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _pr_edge_selects: deterministic 3-out-regular link
    graph over doc ids (dst = mix(poly('pr{i}:'||id)) mod N)."""
    from workbench_spark.operators.dsir import _MIX, _POLY

    d = _t(spark, sf_dir, "documents")
    n = d.count()
    e = d.select("doc_id")
    for i in (1, 2, 3):
        e = (
            e.withColumn(
                f"__s{i}",
                F.concat(F.lit(f"pr{i}:"), F.col("doc_id").cast("string")),
            )
            .withColumn(f"__p{i}", F.expr(_POLY.format(c=f"__s{i}")))
            .withColumn(f"__d{i}", F.expr(_MIX.format(p=f"__p{i}")) % n)
        )
    return e.select(
        F.col("doc_id").cast("long").alias("src"),
        F.explode(F.array("__d1", "__d2", "__d3")).alias("dst"),
    )


def _pagerank_oracle_sql() -> str:
    """DuckDB replay of graph.pagerank over the hash-derived doc link
    graph: identical edge construction (portable poly hash + nonlinear
    finalizer, dst = mix mod N), then every one of the 10 iterations
    unrolled as CTEs — integer floor-division shares, order-independent
    integer SUMs, the same dangling-mass and damping arithmetic. The
    hash match certifies the full power iteration bit-for-bit."""
    edge_selects = _pr_edge_selects()
    parts = [
        f"""
    WITH nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM documents),
    e AS MATERIALIZED ({edge_selects}),
    nodes AS MATERIALIZED (SELECT s AS node FROM e UNION SELECT d FROM e),
    deg AS MATERIALIZED (SELECT s AS node, COUNT(*) AS deg FROM e GROUP BY s),
    nd AS MATERIALIZED (SELECT node, COALESCE(deg, 0) AS deg
           FROM nodes LEFT JOIN deg USING (node)),
    b AS MATERIALIZED (SELECT (({_PR_DDEN - _PR_DNUM} * {_PR_SCALE}::BIGINT) // {_PR_DDEN})
                   // n AS base,
                 {_PR_SCALE}::BIGINT // n AS r_init, n FROM nn),
    r0 AS MATERIALIZED (SELECT node, (SELECT r_init FROM b) AS r FROM nd)"""
    ]
    for t in range(_PR_ITERS):
        parts.append(
            f""",
    c{t + 1} AS MATERIALIZED (SELECT e.d AS node, SUM(r.r // nd.deg) AS c
           FROM e JOIN r{t} r ON e.s = r.node JOIN nd ON nd.node = r.node
           WHERE nd.deg > 0 GROUP BY e.d),
    d{t + 1} AS MATERIALIZED (SELECT COALESCE(SUM(r.r), 0) // (SELECT n FROM b) AS ds
           FROM r{t} r JOIN nd USING (node) WHERE nd.deg = 0),
    r{t + 1} AS MATERIALIZED (SELECT nd.node,
                  (SELECT base FROM b)
                  + ({_PR_DNUM} * (COALESCE(c.c, 0) + (SELECT ds FROM d{t + 1})))
                    // {_PR_DDEN} AS r
           FROM nd LEFT JOIN c{t + 1} c USING (node))"""
        )
    parts.append(
        f"""
    SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r{_PR_ITERS}"""
    )
    return "".join(parts)


@query("graph_pagerank_authority", _pagerank_oracle_sql())
def graph_pagerank_authority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank authority scores (Brin & Page 1998; operators/graph) over
    a deterministic hash-derived 3-out-regular link graph on doc ids —
    the quality prior a web-corpus admission pipeline ranks domains by.
    Fixed-point integer power iteration (10 rounds): every contribution
    is a floor division and every shuffle a map-side-combinable integer
    SUM, so the DuckDB oracle replays all 10 iterations bit-for-bit.
    Per iteration: one co-keyed join + one edge equi-join + one
    groupBy(dst) sum + a 1-row dangling aggregate; lineage truncated per
    round (the iterative-algorithm shape shared with
    connected_components)."""
    from workbench_spark.operators.graph import pagerank

    return pagerank(
        _hash_link_edges(spark, sf_dir),
        iters=_PR_ITERS,
        damping=(_PR_DNUM, _PR_DDEN),
        scale=_PR_SCALE,
    )


_HITS_ITERS = 5
_HITS_SCALE = 10**9


def _hits_oracle_sql() -> str:
    """DuckDB replay of graph.hits over the same hash-derived link graph:
    every iteration's authority and hub phases unrolled as MATERIALIZED
    CTEs — integer sums + one x·scale // total normalization per phase,
    matching the engine bit-for-bit."""
    edge_selects = _pr_edge_selects()
    parts = [
        f"""
    WITH nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM documents),
    e AS MATERIALIZED ({edge_selects}),
    nodes AS MATERIALIZED (SELECT s AS node FROM e UNION SELECT d FROM e),
    h0 AS MATERIALIZED (SELECT node,
            (SELECT {_HITS_SCALE}::BIGINT // n FROM nn) AS h FROM nodes)"""
    ]
    for t in range(1, _HITS_ITERS + 1):
        parts.append(
            f""",
    ar{t} AS MATERIALIZED (SELECT e.d AS node, SUM(h.h) AS raw
           FROM e JOIN h{t - 1} h ON e.s = h.node GROUP BY e.d),
    at{t} AS MATERIALIZED (SELECT COALESCE(SUM(raw), 1) AS tot FROM ar{t}),
    a{t} AS MATERIALIZED (SELECT nodes.node,
            (COALESCE(ar.raw, 0) * {_HITS_SCALE}) // (SELECT tot FROM at{t}) AS a
           FROM nodes LEFT JOIN ar{t} ar USING (node)),
    hr{t} AS MATERIALIZED (SELECT e.s AS node, SUM(a.a) AS raw
           FROM e JOIN a{t} a ON e.d = a.node GROUP BY e.s),
    ht{t} AS MATERIALIZED (SELECT COALESCE(SUM(raw), 1) AS tot FROM hr{t}),
    h{t} AS MATERIALIZED (SELECT nodes.node,
            (COALESCE(hr.raw, 0) * {_HITS_SCALE}) // (SELECT tot FROM ht{t}) AS h
           FROM nodes LEFT JOIN hr{t} hr USING (node))"""
        )
    parts.append(
        f"""
    SELECT h{_HITS_ITERS}.node,
           CAST(h{_HITS_ITERS}.h AS BIGINT) AS hub_scaled,
           CAST(a{_HITS_ITERS}.a AS BIGINT) AS authority_scaled
    FROM h{_HITS_ITERS} JOIN a{_HITS_ITERS} USING (node)"""
    )
    return "".join(parts)


@query("graph_hits_hubs_authorities", _hits_oracle_sql())
def graph_hits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999; operators/graph) over
    the same deterministic link graph — pagerank's complement in the
    web-curation toolkit (authority = quality prior; hub = directory /
    link-farm signal). Fixed-point integer mutual reinforcement with
    integer L1 normalization per phase; the oracle replays all 5
    iterations bit-for-bit."""
    from workbench_spark.operators.graph import hits

    return hits(_hash_link_edges(spark, sf_dir), iters=_HITS_ITERS, scale=_HITS_SCALE)


@query(
    "w_time_rollup_events",
    """
    WITH base AS (
      SELECT date_trunc('month', ts) AS m, date_trunc('day', ts) AS d,
             date_trunc('hour', ts) AS h, value
      FROM events
    ),
    r AS (
      SELECT m, d, h, COUNT(*) AS n_rows, SUM(value) AS vs,
             MIN(value) AS vmin, MAX(value) AS vmax,
             GROUPING(m) AS gm, GROUPING(d) AS gd, GROUPING(h) AS gh
      FROM base GROUP BY ROLLUP(m, d, h)
    )
    SELECT CASE WHEN gh = 0 THEN 'hour' WHEN gd = 0 THEN 'day'
                WHEN gm = 0 THEN 'month' ELSE 'total' END AS grain,
           COALESCE(h, d, m) AS bucket_ts,
           CAST(n_rows AS BIGINT) AS n_rows,
           ROUND(vs, 4) AS value_sum,
           ROUND(vmin, 6) AS value_min,
           ROUND(vmax, 6) AS value_max
    FROM r
    """,
)
def w_time_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate (windows.time_rollup): hour,
    day, month AND grand-total rollups of the event stream in ONE shuffle
    (Spark plans hierarchical ROLLUP as a single Expand + partial
    HashAggregate — one scan for all grains, vs len(grains)+1 scans for
    self-unions). Oracle is DuckDB's native GROUP BY ROLLUP with
    GROUPING() grain labels."""
    from workbench_spark.operators.windows import time_rollup

    ev = _t(spark, sf_dir, "events")
    out = time_rollup(ev, "ts", "value", grains=("month", "day", "hour"))
    return out.select(
        "grain",
        "bucket_ts",
        "n_rows",
        F.round("value_sum", 4).alias("value_sum"),
        F.round("value_min", 6).alias("value_min"),
        F.round("value_max", 6).alias("value_max"),
    )


def _semdedup_oracle() -> str:
    from workbench_spark.operators.kmeans_exact import (
        array_quantize_cte,
        kmeans_cte_sql,
    )

    return f"""
    WITH RECURSIVE corp AS MATERIALIZED (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 10000,
             [embedding[i]::DOUBLE + 0.03 * embedding[65 - i]::DOUBLE
              for i in generate_series(1, 64)]
      FROM embeddings),
    {array_quantize_cte("corp", "cid", "v", 64, "km")},
    {kmeans_cte_sql(8, 3, 64, "km", by_id=True)},
    sims AS MATERIALIZED (
      SELECT f.id, f.cell AS cluster,
             list_cosine_similarity(f.zq::DOUBLE[], c.cv::DOUBLE[]) AS csim
      FROM kmfin f JOIN kmc2 c ON c.c = f.cell),
    prs AS MATERIALIZED (
      SELECT x.id AS src, y.id AS dst
      FROM kmfin x JOIN kmfin y ON x.cell = y.cell AND x.id < y.id
      JOIN corp ca ON ca.cid = x.id
      JOIN corp cb ON cb.cid = y.id
      WHERE list_cosine_similarity(ca.v, cb.v) >= 1.0 - 0.08),
    edges AS (SELECT src AS a, dst AS b FROM prs UNION SELECT dst, src FROM prs),
    reach(id, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    mem AS (
      SELECT s.id, s.cluster, s.csim, COALESCE(comp.component, s.id) AS cmp
      FROM sims s LEFT JOIN comp ON comp.id = s.id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cmp ORDER BY csim ASC, id ASC) AS rn
      FROM mem)
    SELECT id AS vec_id, cluster,
           floor(csim * 1e6 + 0.5) / 1e6 AS centroid_sim,
           (rn = 1) AS kept
    FROM ranked
    """


@query("dedup_semdedup", None)  # oracle attached below (generated SQL)
def dedup_semdedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas 2023; dedup.semdedup), exact mode with planted
    twins (r12 VERDICT #3 upgrade from rows-only): each embedding gets a
    perturbed clone (v[i] + 0.03·v[65−i], cosine ≈ 0.9995 — the knn_lsh
    planting), so the pair search, the CC grouping, AND the
    keep-most-marginal rule all fire for real; the fixed-point Lloyd
    clusterer (operators/kmeans_exact.py) makes every stage
    engine-portable and the DuckDB oracle replays the whole pipeline
    (quantizer CTEs + intra-cell pairs + recursive-CTE closure +
    keep-rule). MLlib-mode guarantees remain hash-certified by
    dedup_semdedup_invariants."""
    from workbench_spark.operators.dedup import semdedup

    e = _t(spark, sf_dir, "embeddings")
    # the planted-twin offset must clear every real id; both sides of the
    # oracle hardcode +10000, so fail LOUD (not silently collide) if the
    # table ever grows past it — sf0.1 holds 2000 rows, sf1 ~20000 would
    # trip this (r12 ADVICE). 1-row aggregate, the inverse_mae precedent.
    mx = e.agg(F.max("vec_id").alias("m")).first()["m"]
    if mx is not None and int(mx) >= 10000:
        raise ValueError(
            f"dedup_semdedup planted-twin offset 10000 collides with real "
            f"vec_id max {mx}; raise the offset in BOTH the entry and "
            f"_semdedup_oracle() before running at this scale"
        )
    twin = e.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64), i -> cast(element_at(embedding, i) as double)"
            " + 0.03d * cast(element_at(embedding, 65 - i) as double))"
        ).alias("embedding"),
    )
    corp = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    ).unionByName(twin)
    out = semdedup(corp, "vec_id", "embedding", n_clusters=8, eps=0.08, exact=True, dim=64)
    return out.select(
        F.col("id").alias("vec_id"),
        "cluster",
        _fround(F.col("centroid_sim")).alias("centroid_sim"),
        "kept",
    )


_ORACLES["dedup_semdedup"] = _semdedup_oracle()


@query(
    "dedup_semdedup_invariants",
    """
    SELECT true AS all_rows_once, true AS no_kept_near_pair,
           true AS one_kept_per_group
    """,
)
def dedup_semdedup_invariants_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-certified SemDeDup guarantees (the oracle is the constant
    truth vector — the ENGINE computes the booleans):
    - all_rows_once: the verdict covers every embedding exactly once;
    - no_kept_near_pair: among kept examples, NO within-cluster pair has
      cosine ≥ 1−eps (deduplication actually happened — recomputed
      exactly from the raw embeddings);
    - one_kept_per_group: every dropped example has a kept example with
      cosine ≥ 1−eps in its cluster (nothing was dropped without a
      surviving representative)."""
    from workbench_spark.operators.dedup import semdedup
    from workbench_spark.operators.similarity import _dot, _norm

    e = _t(spark, sf_dir, "embeddings")
    out = semdedup(e, "vec_id", "embedding", n_clusters=8, eps=0.08).cache()
    n = e.count()
    ids_once = out.count() == n and out.select("id").distinct().count() == n

    scored = out.join(
        e.select(F.col("vec_id").alias("id"), "embedding"), "id"
    ).select("id", "cluster", "kept", F.col("embedding").alias("v"),
             _norm(F.col("embedding")).alias("__n"))
    a = scored.select("cluster", F.col("id").alias("ia"), F.col("kept").alias("ka"),
                      F.col("v").alias("va"), F.col("__n").alias("na"))
    b = scored.select("cluster", F.col("id").alias("ib"), F.col("kept").alias("kb"),
                      F.col("v").alias("vb"), F.col("__n").alias("nb"))
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "ia", "ib", "ka", "kb",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("s"),
        )
        .filter(F.col("s") >= 1.0 - 0.08)
        .cache()
    )
    no_kept_pair = pairs.filter(F.col("ka") & F.col("kb")).count() == 0
    dropped = scored.filter(~F.col("kept")).select(F.col("id").alias("d"))
    covered = (
        dropped.join(
            pairs.filter(F.col("kb")).select(F.col("ia").alias("d")).unionByName(
                pairs.filter(F.col("ka")).select(F.col("ib").alias("d"))
            ).distinct(),
            "d",
        ).count()
        == dropped.count()
    )
    # the verdict is built on the driver: nothing reads the caches again
    out.unpersist()
    pairs.unpersist()
    return spark.createDataFrame(
        [(bool(ids_once), bool(no_kept_pair), bool(covered))],
        "all_rows_once boolean, no_kept_near_pair boolean, one_kept_per_group boolean",
    )


@query(
    "j_range_join_promo_windows",
    """
    WITH win AS (
      SELECT i AS win_id,
             TIMESTAMP '1995-01-01' + INTERVAL (i * 45) DAY AS win_start,
             TIMESTAMP '1995-01-01' + INTERVAL (i * 45 + 90) DAY AS win_end
      FROM (SELECT UNNEST(generate_series(0, 39)) AS i)
    )
    SELECT o.o_orderkey, w.win_id,
           ROUND(o.o_totalprice, 2) AS o_totalprice
    FROM orders o JOIN win w
      ON w.win_start <= o.o_orderdate AND o.o_orderdate < w.win_end
    """,
)
def j_range_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (joins.range_join): order dates into 40 OVERLAPPING
    90-day promotion windows (45-day stride — each date hits up to 2).
    The engine takes the bin-bucketed equi-join path (bin = 45 days;
    CartesianProduct/BNLJ banned by the plan gate); the oracle is
    DuckDB's native inequality join — candidate generation strategy
    differs, result set provably identical."""
    import datetime as dt

    from workbench_spark.operators.joins import range_join

    base = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    day = 86400
    win = spark.range(40).select(
        F.col("id").cast("int").alias("win_id"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * (45 * day)).alias("win_start"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * (45 * day) + 90 * day).alias(
            "win_end"
        ),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_totalprice")
    out = range_join(o, win, "o_orderdate", "win_start", "win_end", bin_width=45 * day)
    return out.select(
        "o_orderkey", "win_id", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@query(
    "text_bm25_topk",
    """
    WITH base AS (
      SELECT doc_id, list_filter(
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
        x -> length(x) > 0) AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id AS id, len(toks) AS dl, UNNEST(toks) AS token FROM base),
    post AS (SELECT token, id, dl, COUNT(*) AS tf FROM tok GROUP BY token, id, dl),
    nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    stats AS (
      SELECT token, ln(1.0 + (nd.n - COUNT(*) + 0.5) / (COUNT(*) + 0.5)) AS idf
      FROM post CROSS JOIN nd GROUP BY token, nd.n
    ),
    avgdl AS (SELECT AVG(dl) AS a FROM (SELECT DISTINCT id, dl FROM post)),
    q AS (
      SELECT doc_id AS qid, toks[1:5] AS qtoks FROM base
      WHERE doc_id % 100 = 0 AND len(toks) >= 5
    ),
    qt AS (SELECT DISTINCT qid, UNNEST(qtoks) AS token FROM q),
    scored AS (
      SELECT qt.qid, post.id,
             SUM(stats.idf * (post.tf * 2.2)
                 / (post.tf + 1.2 * (0.25 + 0.75 * post.dl / avgdl.a))) AS s
      FROM qt JOIN post USING (token) JOIN stats USING (token) CROSS JOIN avgdl
      GROUP BY qt.qid, post.id
    ),
    rounded AS (
      SELECT qid, id, floor(s * 1e6 + 0.5) / 1e6 AS r FROM scored
    )
    SELECT qid AS query_id, id AS doc_id,
           CAST(rank AS INT) AS rank, r AS score
    FROM (SELECT qid, id, r,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY r DESC, id) AS rank
          FROM rounded)
    WHERE rank <= 10
    """,
)
def text_bm25_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval (text.bm25_search): queries are the first 5
    tokens of every doc_id % 100 == 0 document (so each query has a
    guaranteed strong match — itself — plus topical competitors). The
    inverted index, idf table, avgdl, Okapi scoring, and the top-k window
    are all replayed in DuckDB; scores use the _fround form with a
    deterministic doc-id tiebreak on BOTH sides."""
    from workbench_spark.operators.dedup import normalize_text
    from workbench_spark.operators.text import bm25_search

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(normalize_text(F.col("text")), " "), lambda t: F.length(t) > 0
    )
    qsrc = (
        d.select("doc_id", toks.alias("__toks"))
        .filter((F.col("doc_id") % 100 == 0) & (F.size("__toks") >= 5))
        .select(
            F.col("doc_id").alias("query_id"),
            F.concat_ws(" ", F.slice("__toks", 1, 5)).alias("query"),
        )
    )
    out = bm25_search(d, qsrc, k=10)
    return out.select(
        "query_id", "doc_id", F.col("rank").cast("int").alias("rank"), "score"
    )


_NB_B = 128


def _nb_oracle_sql(b: int = _NB_B) -> str:
    """DuckDB replay of dsir.nb_train + nb_score: same hashed features,
    Laplace arithmetic, integer micro-nat weights/priors, and the
    (score desc, label asc) argmax — predictions certified bit-for-bit."""
    return f"""
    WITH base AS (
      SELECT doc_id, lang, list_filter(
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
        x -> length(x) > 0) AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, UNNEST(list_concat(toks,
        [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)])) AS g
      FROM base
    ),
    gb AS (SELECT doc_id, lang, CAST({_DSIR_POLY_G} % {b} AS INT) AS bucket FROM grams),
    cnt AS (SELECT lang AS label, bucket, COUNT(*) AS c
            FROM gb WHERE doc_id < 250 GROUP BY 1, 2),
    tot AS (SELECT label, SUM(c) AS t FROM cnt GROUP BY label),
    nl AS (SELECT lang AS label, COUNT(*) AS nl
           FROM documents WHERE doc_id < 250 GROUP BY 1),
    nn AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id < 250),
    model AS (
      SELECT l.label, b.b AS bucket,
             CAST(floor(ln((COALESCE(cnt.c, 0) + 1.0) / (tot.t + {b}.0))
                        * 1e6 + 0.5) AS BIGINT) AS w,
             CAST(floor(ln(CAST(nl.nl AS DOUBLE) / nn.n) * 1e6 + 0.5)
                  AS BIGINT) AS prior
      FROM (SELECT label FROM tot) l
      CROSS JOIN (SELECT UNNEST(generate_series(0, {b - 1})) AS b) b
      LEFT JOIN cnt ON cnt.label = l.label AND cnt.bucket = b.b
      JOIN tot ON tot.label = l.label
      JOIN nl ON nl.label = l.label
      CROSS JOIN nn
    ),
    scores AS (
      SELECT gb.doc_id, m.label, SUM(m.w) + ANY_VALUE(m.prior) AS s
      FROM gb JOIN model m USING (bucket)
      WHERE gb.doc_id >= 250
      GROUP BY gb.doc_id, m.label
    )
    SELECT doc_id, label AS label_pred, CAST(s AS BIGINT) AS score_micro
    FROM (SELECT doc_id, label, s,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY s DESC, label) AS rn
          FROM scores)
    WHERE rn = 1
    """


@query("text_nb_classifier", _nb_oracle_sql())
def text_nb_classifier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised hashed-n-gram Naive-Bayes classifier (dsir.nb_train /
    nb_score) — the closed-form stand-in for GPT-3/LLaMA-style quality
    classifiers, with every weight an integer micro-nat so scoring is
    engine-exact. Trained on the doc_id < 250 slice's ``lang`` labels,
    scoring the held-out half; the oracle retrains AND rescores the whole
    model in DuckDB (counts, smoothing, priors, argmax tiebreak)."""
    from workbench_spark.operators.dsir import nb_score, nb_train

    d = _t(spark, sf_dir, "documents")
    model = nb_train(d.filter(F.col("doc_id") < 250), "lang", n_buckets=_NB_B)
    out = nb_score(d.filter(F.col("doc_id") >= 250), model, n_buckets=_NB_B)
    return out.select("doc_id", "label_pred", "score_micro")


@query(
    "pipeline_select_pack",
    f"""
    WITH sel AS ({_sample_to_mixture_oracle_sql()}),
    rows_sel AS (
      SELECT sel.doc_id * 100 + sel.copy_idx AS rid,
             sel.doc_id, sel.copy_idx, sel.source,
             CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_tokens
      FROM sel JOIN documents d USING (doc_id)
    ),
    c AS (
      SELECT rid, doc_id, copy_idx, source, n_tokens,
             SUM(n_tokens) OVER (ORDER BY rid ROWS UNBOUNDED PRECEDING) AS cum_end
      FROM rows_sel
    )
    SELECT rid, doc_id, copy_idx, source, n_tokens,
           CAST((cum_end - n_tokens) // 512 AS BIGINT) AS start_seq,
           CAST((CASE WHEN n_tokens > 0 THEN cum_end - 1
                      ELSE cum_end - n_tokens END) // 512 AS BIGINT) AS end_seq
    FROM c
    """,
)
def pipeline_select_pack_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SELECT → PACK pipeline: materialize the 50/25/25 domain
    mixture (sample_to_mixture, resample mode — epoch-repeated copies are
    real training rows with their own (doc, copy) identity) and pack the
    surviving stream into 512-token sequences via the two-phase
    distributed prefix sum. The oracle chains both stages' exact replays
    — the hash match certifies the COMPOSITION: selection multiset,
    deterministic (doc, copy) ordering, and every sequence assignment."""
    from workbench_spark.operators.packing import pack_sequences
    from workbench_spark.operators.text import sample_to_mixture

    d = _t(spark, sf_dir, "documents")
    sel = sample_to_mixture(d, {"src0": 0.5, "src1": 0.25, "src2": 0.25})
    rows = sel.select(
        (F.col("doc_id") * 100 + F.col("copy_idx")).alias("rid"),
        "doc_id",
        "copy_idx",
        "source",
        "text",
    )
    packed = pack_sequences(rows, budget=512, id_col="rid")
    return (
        packed.join(rows.select("rid", "doc_id", "copy_idx", "source"), "rid")
        .select(
            "rid",
            "doc_id",
            F.col("copy_idx").cast("int").alias("copy_idx"),
            "source",
            "n_tokens",
            "start_seq",
            "end_seq",
        )
    )


@query(
    "dedup_leakage_safe_split",
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id AS id,
             list_distinct(list_filter([substr(t, i, 5) for i in
                  generate_series(1, GREATEST(length(t) - 4, 1))],
                  s -> length(s) = 5)) AS g
      FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
            FROM documents WHERE doc_id < 300)
    ),
    ex AS (SELECT id, UNNEST(g) AS g, len(g) AS sz FROM sh),
    jp AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING CAST(COUNT(*) AS DOUBLE)
             / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) >= 0.25
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM jp
              UNION SELECT id_b, id_a FROM jp),
    reach(id, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    mem AS (
      SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS component
      FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
      LEFT JOIN comp ON d.doc_id = comp.id
    ),
    keyed AS (
      SELECT doc_id, component,
             ((p * p) % 1000000007 + (p * 2654435761) % 1000000007)
               % 1000000007 % 1000000 AS u
      FROM (SELECT doc_id, component,
                   list_reduce(list_prepend(0::BIGINT,
                     [ascii(substr(s, i, 1)) for i in generate_series(1, length(s))]),
                     (a, c) -> (a * 31 + c) % 1000000007) AS p
            FROM (SELECT doc_id, component,
                         'sp101:' || CAST(component AS VARCHAR) AS s FROM mem))
    )
    SELECT doc_id, component,
           CASE WHEN u < 800000 THEN 'train'
                WHEN u < 900000 THEN 'val'
                ELSE 'test' END AS split
    FROM keyed
    """,
)
def dedup_leakage_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe splitting (dedup.leakage_safe_split): the 80/10/10
    split decision hashes the near-dup CONNECTED-COMPONENT label (5-gram
    Jaccard ≥ 0.25 pair graph — same deterministic generator as
    dedup_cc_membership), so a document's clone can never sit across the
    train/test boundary. The oracle chains the recursive-CTE closure with
    the portable-hash draw — component labels AND split assignments
    certified."""
    from workbench_spark.operators.dedup import (
        leakage_safe_split,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = ngram_jaccard_pairs(d, n=5, threshold=0.25)
    out = leakage_safe_split(d, pairs.select("id_a", "id_b"))
    return out.select("doc_id", "component", "split")


# Fixed piece inventory for the unigram-scores entry: singles cover the
# full [a-z0-9] alphabet WORD_SPLIT_RE can emit (so the UNK fallback is
# never data-dependent), multi-char pieces are common English chunks with
# distinct micro-nat scores that beat their single-char spellings — the
# Viterbi DP has real choices to make. TRAINING is certified separately
# (deterministic hard-EM, Python-twin tests); this entry certifies that
# the pandas_udf tokenizer's segmentations are OPTIMAL under a known
# model: engine score = DuckDB's integer DP optimum, word by word.
_UNI_PIECES: list[tuple[str, int]] = (
    [(c, -2_000_000 - 1000 * i) for i, c in enumerate("abcdefghijklmnopqrstuvwxyz0123456789")]
    + [
        (p, -1_500_000 - 7000 * i)
        for i, p in enumerate(
            ["th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
             "ti", "es", "or", "te", "of", "ed", "is", "it", "al", "ar",
             "st", "to", "nt", "ng", "se", "ha", "as", "ou", "io", "le",
             "the", "ing", "and", "ion", "ent", "for", "tio", "ere", "her",
             "ate", "ver", "ter", "tha", "ati", "con"]
        )
    ]
)


def _unigram_scores_oracle_sql() -> str:
    """DuckDB replay of unigram_tokenize's per-document score: the exact
    integer Viterbi optimum per word (list_reduce DP fold over positions,
    8-char piece window, MAP-literal inventory), summed per document.
    The engine reports the score its actual segmentation attains — the
    hash match therefore certifies segmentation OPTIMALITY."""
    entries = ", ".join(f"'{p}': {v}" for p, v in _UNI_PIECES)
    return f"""
    WITH pieces AS (SELECT MAP {{{entries}}} AS m),
    words AS (
      SELECT doc_id, UNNEST(list_filter(
        string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 0)) AS w
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
        list_reduce(
          list_prepend([0::BIGINT], [[i::BIGINT] for i in generate_series(1, length(w))]),
          (acc, x) -> acc || [list_max(
              [acc[j+1] + COALESCE(map_extract(pieces.m, substr(w, j+1, len(acc)-j))[1],
                                   CASE WHEN len(acc)-j = 1 THEN -10000000 ELSE NULL END)
               for j in generate_series(GREATEST(len(acc)-8, 0), len(acc)-1)]
          )]
        )[-1] AS s
      FROM words, pieces
    ),
    per_doc AS (SELECT doc_id, SUM(s) AS total FROM scored GROUP BY doc_id)
    SELECT d.doc_id, CAST(COALESCE(p.total, 0) AS BIGINT) AS score_micro
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """


@query("text_unigram_scores", _unigram_scores_oracle_sql())
def text_unigram_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer segmentation optimality (operators/unigram):
    Viterbi-tokenize every document under the fixed _UNI_PIECES model and
    report the attained integer score; the oracle computes each word's DP
    OPTIMUM independently in DuckDB. Equality ⟺ the tokenizer's
    segmentations are optimal (and the integer quantization means there
    is no float wiggle room)."""
    from workbench_spark.operators.unigram import unigram_tokenize

    d = _t(spark, sf_dir, "documents")
    out = unigram_tokenize(d, _UNI_PIECES, score_col="score_micro")
    return out.select("doc_id", "score_micro")


@query(
    "text_unigram_vocab_invariants",
    """
    WITH words AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT UNNEST(list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'),
          w -> length(w) > 0)) AS word
        FROM documents
      ) GROUP BY word HAVING COUNT(*) >= 2
      ORDER BY freq DESC, word ASC LIMIT 3000
    )
    SELECT CAST(COUNT(DISTINCT ch) AS BIGINT) AS n_single_char_pieces,
           TRUE AS singles_complete,
           TRUE AS all_logp_negative,
           TRUE AS piece_len_bounded,
           TRUE AS pieces_from_corpus,
           TRUE AS vocab_within_budget
    FROM (SELECT UNNEST(string_split(word, '')) AS ch FROM words)
    """,
)
def text_unigram_vocab_invariants_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-certified companion for text_unigram_vocab (r11 VERDICT #6 —
    the EM loop itself is not SQL-replayable, but the trained inventory's
    CONTRACT is): the vocab's single-char piece count must equal the
    distinct-character count of the capped (freq DESC, word ASC) word
    table — DuckDB recomputes that number independently from the corpus,
    so a hash match certifies the corpus→word-frequency pipeline AND the
    alphabet-retention guarantee (unigram.py: singles are never pruned —
    Viterbi always has a path). The booleans certify engine-side: every
    corpus char IS a piece, all logp_micro < 0 (probabilities < 1), piece
    length ≤ MAX_PIECE_LEN, every multi-char piece occurs as a substring
    of a capped word (provenance — the seed explode is the only source),
    and the inventory fits max(vocab_size, #chars).

    Plan shape: word table + substring explode are bounded by the 3000-
    word cap (driver-safe at any corpus size); all checks are equi-joins
    (left_anti on exact piece text), no cross products."""
    from workbench_spark.operators.bpe import word_frequencies
    from workbench_spark.operators.unigram import MAX_PIECE_LEN, unigram_train

    d = _t(spark, sf_dir, "documents")
    vocab = unigram_train(
        d, vocab_size=300, seed_size=1000, max_words=3000, num_iters=3
    ).localCheckpoint(eager=True)  # consumed by 4 sub-aggregates below
    words = word_frequencies(d, min_count=2, max_words=3000).localCheckpoint(
        eager=True
    )  # consumed by the char inventory and the substring universe

    chars = (
        words.select(F.explode(F.expr("sequence(1, length(word))")).alias("i"), "word")
        .select(F.expr("substring(word, i, 1)").alias("ch"))
        .distinct()
    )
    singles = vocab.filter(F.length("piece") == 1).select(F.col("piece").alias("ch"))
    missing_chars = chars.join(singles, "ch", "left_anti").count()

    # substring universe of the capped words (the seed explode shape)
    subs = (
        words.select(
            "word", F.explode(F.expr("sequence(1, length(word))")).alias("i")
        )
        .withColumn(
            "maxl", F.least(F.lit(MAX_PIECE_LEN), F.length("word") - F.col("i") + 1)
        )
        .select("word", "i", F.explode(F.expr("sequence(1, maxl)")).alias("l"))
        .select(F.expr("substring(word, i, l)").alias("piece"))
        .distinct()
    )
    orphan_pieces = vocab.join(subs, "piece", "left_anti").count()

    stats = vocab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.length("piece") == 1).cast("long")).alias("n_singles"),
        F.max("logp_micro").alias("max_logp"),
        F.max(F.length("piece")).alias("max_len"),
    ).first()
    n_chars = chars.count()
    return spark.createDataFrame(
        [
            (
                stats["n_singles"],
                missing_chars == 0,
                stats["max_logp"] < 0,
                stats["max_len"] <= MAX_PIECE_LEN,
                orphan_pieces == 0,
                stats["n"] <= max(300, n_chars),
            )
        ],
        "n_single_char_pieces bigint, singles_complete boolean, "
        "all_logp_negative boolean, piece_len_bounded boolean, "
        "pieces_from_corpus boolean, vocab_within_budget boolean",
    )


@query("text_unigram_vocab")  # TERMINALLY rows-only (r12 adjudication — see docstring)
def text_unigram_vocab_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained unigram piece inventory (unigram_train): deterministic
    hard-EM (no RNG anywhere — seeding, E-step, and pruning all have
    total deterministic orders), so the row set is stable run-over-run;
    the EM itself is certified by the Python-twin tests and the
    SEGMENTATION path by text_unigram_scores' optimality oracle.

    Terminally rows-only (r12, VERDICT #3 adjudication): unlike the
    KMeans/PCA entries upgraded via fixed-point replays, the hard-EM loop
    interleaves per-word Viterbi DP (a piece-length-deep recurrence per
    word) with vocabulary pruning across EM rounds — an exact SQL replay
    would need DP CTE chains nested inside unrolled EM iterations over a
    mutating vocabulary; no exact replay exists. The inventory CONTRACT
    (alphabet retention, provenance, budget, logp signs) is hash-certified
    by text_unigram_vocab_invariants instead."""
    from workbench_spark.operators.unigram import unigram_train

    d = _t(spark, sf_dir, "documents")
    return unigram_train(
        d, vocab_size=300, seed_size=1000, max_words=3000, num_iters=3
    ).orderBy("piece")


# =====================================================================
# Fused multi-feature drift (r11 — the Monitor execution's stat shape)
# =====================================================================

_DRIFT_BOUNDS = {
    "l_quantity": (0.0, 50.0),
    "l_extendedprice": (900.0, 105000.0),
    "l_discount": (0.0, 0.1),
}


def _psi_feature_cte(col: str, lo: float, hi: float, bins: int) -> str:
    return f"""
    SELECT '{col}' AS feature,
           floor(CAST(SUM(CAST(floor((pf - qf) * LN(pf / qf) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1e12 * 1e6 + 0.5) / 1e6 AS psi FROM (
      SELECT GREATEST(COALESCE(CAST(p.c AS DOUBLE) / (SELECT SUM(c) FROM p_{col} ), 0.0), 1e-6) AS pf,
             GREATEST(COALESCE(CAST(q.c AS DOUBLE) / (SELECT SUM(c) FROM q_{col} ), 0.0), 1e-6) AS qf
      FROM p_{col} p FULL JOIN q_{col} q ON p.bucket = q.bucket
    )"""


def _drift_psi_oracle_sql(bins: int = 10) -> str:
    ctes, selects = [], []
    for col, (lo, hi) in _DRIFT_BOUNDS.items():
        width = (hi - lo) / bins
        bucket = (
            f"LEAST({bins - 1}, GREATEST(0, CAST(FLOOR(({col} - {lo!r}) / {width!r}) AS INT)))"
        )
        ctes.append(
            f"""p_{col} AS (
      SELECT {bucket} AS bucket, COUNT(*) AS c FROM lineitem
      WHERE l_orderkey % 2 = 0 AND {col} IS NOT NULL GROUP BY 1
    ),
    q_{col} AS (
      SELECT {bucket} AS bucket, COUNT(*) AS c FROM lineitem
      WHERE l_orderkey % 2 = 1 AND {col} IS NOT NULL GROUP BY 1
    )"""
        )
        selects.append(_psi_feature_cte(col, lo, hi, bins))
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\n    UNION ALL".join(selects)


@query("drift_psi_by_feature", _drift_psi_oracle_sql())
def drift_psi_by_feature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused multi-feature PSI (drift.psi_by_feature, a select over
    drift_by_feature — the one histogram pass Monitor.run_monitoring_execution
    uses for PSI and KS together, so a 500-feature monitor issues 3 drift
    jobs, not 1000): even- vs odd-orderkey lineitem halves over three
    features with fixed bounds. The oracle recomputes every feature's
    binned PSI over the full bucket grid independently — the hash match
    certifies the melt, the per-PSI-bucket totals and the eps-floored
    folds. (Buckets missing on both sides, absent from the fused
    histogram, contribute (eps−eps)·ln(1) = 0 — identical sums.)"""
    from workbench_spark.operators.drift import psi_by_feature

    li = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    cur = li.filter(F.col("l_orderkey") % 2 == 1)
    out = psi_by_feature(ref, cur, _DRIFT_BOUNDS, bins=10)
    return out.select(
        "feature", (F.floor(F.col("psi") * 1e6 + 0.5) / 1e6).alias("psi")
    )


def _drift_ks_oracle_sql(bins: int = 100) -> str:
    ctes, selects = [], []
    for col, (lo, hi) in _DRIFT_BOUNDS.items():
        width = (hi - lo) / bins
        bucket = (
            f"LEAST({bins - 1}, GREATEST(0, CAST(FLOOR(({col} - {lo!r}) / {width!r}) AS INT)))"
        )
        ctes.append(
            f"""kp_{col} AS (
      SELECT {bucket} AS bucket, COUNT(*) AS c FROM lineitem
      WHERE l_orderkey % 2 = 0 AND {col} IS NOT NULL GROUP BY 1
    ),
    kq_{col} AS (
      SELECT {bucket} AS bucket, COUNT(*) AS c FROM lineitem
      WHERE l_orderkey % 2 = 1 AND {col} IS NOT NULL GROUP BY 1
    ),
    kj_{col} AS (
      SELECT COALESCE(p.bucket, q.bucket) AS bucket,
             COALESCE(p.c, 0) AS pc, COALESCE(q.c, 0) AS qc
      FROM kp_{col} p FULL JOIN kq_{col} q ON p.bucket = q.bucket
    ),
    kc_{col} AS (
      SELECT SUM(pc) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cp,
             SUM(qc) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cq,
             (SELECT SUM(pc) FROM kj_{col}) AS tp,
             (SELECT SUM(qc) FROM kj_{col}) AS tq
      FROM kj_{col}
    )"""
        )
        selects.append(
            f"""
    SELECT '{col}' AS feature,
           ROUND(MAX(ABS(CAST(cp AS DOUBLE) / tp - CAST(cq AS DOUBLE) / tq)), 6) AS ks
    FROM kc_{col}"""
        )
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\n    UNION ALL".join(selects)


@query("drift_ks_by_feature", _drift_ks_oracle_sql())
def drift_ks_by_feature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused multi-feature binned KS (drift.ks_by_feature): per-feature
    running CDFs from ONE melted pass, window PARTITIONED by feature.
    The oracle replays each feature's 100-bin CDF gap independently."""
    from workbench_spark.operators.drift import ks_by_feature

    li = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    cur = li.filter(F.col("l_orderkey") % 2 == 1)
    out = ks_by_feature(ref, cur, _DRIFT_BOUNDS, bins=100)
    return out.select("feature", F.round("ks", 6).alias("ks"))


# =====================================================================
# Monitor lifecycle, end-to-end (r12 — the §2.11 scheduled-job chain)
# =====================================================================

_MON_FEATS = ["l_discount", "l_extendedprice", "l_quantity"]
_MON_PSI_THR = 0.0012345
_MON_KS_THR = 0.0012345


def _monitor_e2e_oracle_sql() -> str:
    """Replays the full Monitor execution in one DuckDB query: baseline
    bounds = even-orderkey min/max per feature (create_baseline's
    constraints), capture = odd-orderkey traffic, then per feature the
    completeness, out-of-bounds count, 10-bin PSI (pico-quantized fold)
    and 1000-bin KS the execution computes, the violation flags at the
    entry's thresholds, and the alert decision (violation_threshold=1)."""
    ctes, selects = [], []
    for c in _MON_FEATS:
        ctes.append(
            f"""b_{c} AS (
      SELECT MIN({c}) AS lo, MAX({c}) AS hi,
             (MAX({c}) - MIN({c})) / 10 AS w10,
             (MAX({c}) - MIN({c})) / 1000 AS w1000
      FROM lineitem WHERE l_orderkey % 2 = 0
    ),
    p10_{c} AS (
      SELECT LEAST(9, GREATEST(0, CAST(FLOOR(({c} - b.lo) / b.w10) AS INT))) AS bucket,
             COUNT(*) AS c
      FROM lineitem, b_{c} b WHERE l_orderkey % 2 = 0 AND {c} IS NOT NULL GROUP BY 1
    ),
    q10_{c} AS (
      SELECT LEAST(9, GREATEST(0, CAST(FLOOR(({c} - b.lo) / b.w10) AS INT))) AS bucket,
             COUNT(*) AS c
      FROM lineitem, b_{c} b WHERE l_orderkey % 2 = 1 AND {c} IS NOT NULL GROUP BY 1
    ),
    psi_{c} AS (
      SELECT CAST(SUM(CAST(floor((pf - qf) * LN(pf / qf) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1e12 AS psi_raw FROM (
        SELECT GREATEST(COALESCE(CAST(p.c AS DOUBLE) / (SELECT SUM(c) FROM p10_{c}), 0.0), 1e-6) AS pf,
               GREATEST(COALESCE(CAST(q.c AS DOUBLE) / (SELECT SUM(c) FROM q10_{c}), 0.0), 1e-6) AS qf
        FROM p10_{c} p FULL JOIN q10_{c} q ON p.bucket = q.bucket
      )
    ),
    kp_{c} AS (
      SELECT LEAST(999, GREATEST(0, CAST(FLOOR(({c} - b.lo) / b.w1000) AS INT))) AS bucket,
             COUNT(*) AS c
      FROM lineitem, b_{c} b WHERE l_orderkey % 2 = 0 AND {c} IS NOT NULL GROUP BY 1
    ),
    kq_{c} AS (
      SELECT LEAST(999, GREATEST(0, CAST(FLOOR(({c} - b.lo) / b.w1000) AS INT))) AS bucket,
             COUNT(*) AS c
      FROM lineitem, b_{c} b WHERE l_orderkey % 2 = 1 AND {c} IS NOT NULL GROUP BY 1
    ),
    kj_{c} AS (
      SELECT COALESCE(p.bucket, q.bucket) AS bucket,
             COALESCE(p.c, 0) AS pc, COALESCE(q.c, 0) AS qc
      FROM kp_{c} p FULL JOIN kq_{c} q ON p.bucket = q.bucket
    ),
    kc_{c} AS (
      SELECT SUM(pc) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cp,
             SUM(qc) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cq,
             (SELECT SUM(pc) FROM kj_{c}) AS tp,
             (SELECT SUM(qc) FROM kj_{c}) AS tq
      FROM kj_{c}
    ),
    ks_{c} AS (
      SELECT MAX(ABS(CAST(cp AS DOUBLE) / tp - CAST(cq AS DOUBLE) / tq)) AS ks_raw
      FROM kc_{c}
    ),
    cap_{c} AS (
      SELECT CAST(SUM(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS comp,
             CAST(SUM(CASE WHEN {c} < (SELECT lo FROM b_{c})
                             OR {c} > (SELECT hi FROM b_{c})
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_oob
      FROM lineitem WHERE l_orderkey % 2 = 1
    )"""
        )
        selects.append(
            f"""
      SELECT '{c}' AS feature, cap_{c}.comp, cap_{c}.n_oob,
             psi_{c}.psi_raw, ks_{c}.ks_raw
      FROM cap_{c}, psi_{c}, ks_{c}"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + ",\n    panel AS ("
        + "\n      UNION ALL".join(selects)
        + f""")
    SELECT feature, comp AS completeness, n_oob,
           floor(psi_raw * 1e6 + 0.5) / 1e6 AS psi,
           floor(ks_raw * 1e6 + 0.5) / 1e6 AS ks,
           n_oob > 0 AS oob_violation,
           psi_raw > {_MON_PSI_THR!r} AS psi_violation,
           ks_raw > {_MON_KS_THR!r} AS ks_violation,
           t.n_violations,
           t.n_violations >= 1 AS alerted
    FROM panel, (
      SELECT CAST(SUM(
        CASE WHEN comp < 1.0 THEN 1 ELSE 0 END
        + CASE WHEN n_oob > 0 THEN 1 ELSE 0 END
        + CASE WHEN psi_raw > {_MON_PSI_THR!r} THEN 1 ELSE 0 END
        + CASE WHEN ks_raw > {_MON_KS_THR!r} THEN 1 ELSE 0 END
      ) AS BIGINT) AS n_violations FROM panel
    ) t
    ORDER BY feature"""
    )


@query("pipeline_monitor_end_to_end", _monitor_e2e_oracle_sql())
def pipeline_monitor_e2e_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitor lifecycle end-to-end (api/monitor.py — reference
    api/monitor.py + monitor_core.py), fully DuckDB-oracled: register a
    model/endpoint in a throwaway warehouse, create_baseline() from the
    even-orderkey lineitem half (stats + constraints via the A5 one-pass),
    capture odd-orderkey traffic (streaming/monitor.capture_inference —
    the real JSON capture contract, so the JSON round-trip is under
    test too), run_monitoring_execution() (completeness + bounds +
    fused PSI/KS drift), and read back the per-feature execution panel,
    violation flags, and the alert decision. The oracle replays every
    number from the raw parquet. Driver-side work is O(features) — the
    execution record the Monitor API returns by contract."""
    import math
    import shutil
    import tempfile

    from workbench_spark.api.monitor import Monitor
    from workbench_spark.api.registry import Registry
    from workbench_spark.streaming.monitor import capture_inference

    wh = tempfile.mkdtemp(prefix="wb_mon_e2e_")
    try:
        reg = Registry(wh)
        reg.upsert_meta(
            "mon_model",
            {
                "artifact_type": "model",
                "features": list(_MON_FEATS),
                "target": "l_tax",
                "model_type": "regressor",
            },
        )
        reg.upsert_meta(
            "mon_model_end",
            {
                "artifact_type": "endpoint",
                "model": "mon_model",
                "alerts": {"violation_threshold": 1, "email": "ops@example.com"},
            },
        )
        mon = Monitor("mon_model_end", spark=spark, warehouse=wh)
        li = _t(spark, sf_dir, "lineitem")
        mon.create_baseline(baseline_df=li.filter(F.col("l_orderkey") % 2 == 0))
        traffic = li.filter(F.col("l_orderkey") % 2 == 1).select(
            *_MON_FEATS,
            F.col("l_tax"),
            (F.col("l_extendedprice") * F.lit(0.9)).alias("prediction"),
        )
        capture_inference(traffic, mon.capture_dir)
        rec = mon.run_monitoring_execution(
            psi_threshold=_MON_PSI_THR, ks_threshold=_MON_KS_THR
        )
        assert rec["status"] in ("Completed", "CompletedWithViolations"), rec
        vio = {(v["feature"], v["constraint_check_type"]) for v in rec["violations"]}
        alerted = len(mon.alerts()) > 0
        f6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
        rows = [
            (
                fs["feature"],
                float(fs["completeness"]),
                int(fs["oob"]),
                f6(fs["psi"]),
                f6(fs["ks"]),
                (fs["feature"], "baseline_drift_check") in vio,
                (fs["feature"], "psi_drift_check") in vio,
                (fs["feature"], "ks_drift_check") in vio,
                len(rec["violations"]),
                alerted,
            )
            for fs in rec["feature_stats"]
        ]
        return spark.createDataFrame(
            rows,
            "feature string, completeness double, n_oob bigint, psi double, "
            "ks double, oob_violation boolean, psi_violation boolean, "
            "ks_violation boolean, n_violations bigint, alerted boolean",
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@query(
    "text_zipf_heaps_audit",
    r"""
    WITH toks AS (
      SELECT UNNEST(list_filter(
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        w -> length(w) > 0)) AS token
      FROM documents
    ),
    freqs AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY token),
    tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct FROM freqs),
    top AS (SELECT token, freq FROM freqs ORDER BY freq DESC, token ASC LIMIT 1000),
    ranked AS (SELECT freq,
                      row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
               FROM top),
    terms AS (SELECT
      CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
      CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y,
      CAST(floor(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS xy,
      CAST(floor(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS xx
      FROM ranked),
    sums AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(x) AS DOUBLE) / 1e6 AS sx,
                    CAST(SUM(y) AS DOUBLE) / 1e6 AS sy,
                    CAST(SUM(xy) AS DOUBLE) / 1e6 AS sxy,
                    CAST(SUM(xx) AS DOUBLE) / 1e6 AS sxx
             FROM terms),
    fit AS (SELECT n,
                   (CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope_raw,
                   sx, sy
            FROM sums)
    SELECT t.n_tokens, t.n_distinct, f.n AS top_v_used,
           floor(f.slope_raw * 1e6 + 0.5) / 1e6 AS zipf_slope,
           floor(((f.sy - f.slope_raw * f.sx) / CAST(f.n AS DOUBLE)) * 1e6 + 0.5) / 1e6
             AS zipf_intercept
    FROM tot t, fit f
    """,
)
def text_zipf_heaps_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency audit (text.corpus_zipf_stats, r11): Zipf
    rank-frequency OLS over the top-1000 tokens + Heaps distinct/total
    counts. Every OLS term is quantized to integer micro-units before
    summation (commutative BIGINT folds — the micro-nat pattern), so the
    DuckDB replay hash-matches the slope and intercept bit-for-bit; the
    two 1-row frames join as a broadcast cross (allowlisted shape)."""
    from workbench_spark.operators.text import corpus_zipf_stats

    d = _t(spark, sf_dir, "documents")
    return corpus_zipf_stats(d, top_v=1000)


@query(
    "dedup_duplication_report",
    r"""
    WITH sizes AS (
      SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
             CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM documents GROUP BY 1
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
)
def dedup_duplication_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplication audit histogram (dedup.duplication_report, r11):
    cluster sizes of normalized-content md5 clusters — both engines hash
    the identical canonical string, so the histogram matches exactly."""
    from workbench_spark.operators.dedup import duplication_report

    d = _t(spark, sf_dir, "documents")
    return duplication_report(d)


@query(
    "text_corpus_datasheet",
    r"""
    WITH rows_p AS (
      SELECT source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS nt,
             CAST(length(text) AS BIGINT) AS nc
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_contents,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           floor(AVG(CAST(nc AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS mean_doc_chars,
           quantile_cont(CAST(nt AS DOUBLE), 0.5) AS median_doc_tokens,
           floor(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT h) * 1e6 + 0.5) / 1e6
             AS dup_factor
    FROM rows_p GROUP BY source ORDER BY source
    """,
)
def text_corpus_datasheet_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datasheet (text.corpus_datasheet, r11): docs,
    exact distinct contents, tokens, floor-rounded means, exact median
    (percentile == quantile_cont), exact dup factor — the dataset-card
    table, one aggregation pass."""
    from workbench_spark.operators.text import corpus_datasheet

    d = _t(spark, sf_dir, "documents")
    return corpus_datasheet(d)


@query(
    "embedding_space_audit",
    """
    WITH base AS (
      SELECT embedding::DOUBLE[] AS v,
             sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                              (a, b) -> a + b)) AS nrm
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    scalars AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(MAX(len(v)) AS INTEGER) AS dim,
             SUM(CAST(floor(nrm * 1e6 + 0.5) AS BIGINT)) AS s1,
             SUM(CAST(floor(nrm * 1e4 + 0.5) AS BIGINT)
                 * CAST(floor(nrm * 1e4 + 0.5) AS BIGINT)) AS s2
      FROM base
    ),
    comps AS (
      -- generate_series as a SCALAR returns a list; list_zip + UNNEST is
      -- the with-ordinality idiom (lateral generate_series unsupported)
      SELECT CAST(z[2] AS INTEGER) AS dim_i,
             CAST(floor(CAST(z[1] AS DOUBLE) / nrm * 1e6 + 0.5) AS BIGINT) AS qc
      FROM (SELECT nrm, UNNEST(list_zip(v, generate_series(1, len(v)))) AS z
            FROM base)
    ),
    per_dim AS (SELECT dim_i, SUM(qc) AS sd FROM comps GROUP BY dim_i),
    aniso AS (
      SELECT SUM(CAST(floor(
               pow(CAST(sd AS DOUBLE) / s.n_vecs / 1e6, 2.0) * 1e12 + 0.5
             ) AS BIGINT)) AS st
      FROM per_dim, scalars s
    )
    SELECT s.n_vecs, s.dim,
           floor(CAST(s.s1 AS DOUBLE) / s.n_vecs / 1e6 * 1e6 + 0.5) / 1e6 AS mean_norm,
           floor(sqrt(GREATEST(
               CAST(s.s2 AS DOUBLE) / 1e8 / s.n_vecs
               - (CAST(s.s1 AS DOUBLE) / s.n_vecs / 1e6)
                 * (CAST(s.s1 AS DOUBLE) / s.n_vecs / 1e6), 0.0)) * 1e6 + 0.5) / 1e6
             AS std_norm,
           floor(CAST(a.st AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6 AS anisotropy
    FROM scalars s, aniso a
    """,
)
def embedding_space_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space audit (similarity.embedding_space_audit, r11):
    mean/std of L2 norms + anisotropy ||E[v/||v||]||² — per-row norms are
    the sequential-fold cosine idiom, every cross-row sum an integer-
    quantized commutative fold, so DuckDB replays the panel exactly."""
    from workbench_spark.operators.similarity import embedding_space_audit

    e = _t(spark, sf_dir, "embeddings")
    return embedding_space_audit(e)


@query(
    "text_pmi_collocations",
    r"""
    WITH w AS (
      SELECT list_filter(
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        x -> length(x) > 0) AS toks
      FROM documents
    ),
    bg AS (
      SELECT z[1] AS w1, z[2] AS w2 FROM (
        SELECT UNNEST(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
        FROM w WHERE len(toks) > 1
      )
    ),
    uni AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cw FROM (
        SELECT UNNEST(toks) AS word FROM w
      ) GROUP BY word
    ),
    pairs AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_count
      FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= 5
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bg)
    SELECT w1, w2, pair_count,
           floor(ln(CAST(pair_count AS DOUBLE) * t.n
                    / (CAST(u1.cw AS DOUBLE) * u2.cw)) * 1e6 + 0.5) / 1e6 AS pmi
    FROM pairs
    JOIN uni u1 ON pairs.w1 = u1.word
    JOIN uni u2 ON pairs.w2 = u2.word
    CROSS JOIN tot t
    ORDER BY pmi DESC, w1 ASC, w2 ASC
    LIMIT 50
    """,
)
def text_pmi_collocations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (text.pmi_collocations, r11): top-50 adjacent word
    pairs by Church-Hanks pointwise mutual information, pair_count >= 5.
    PMI comes from exact integer counts per row (no cross-row float sums),
    so both engines rank and round identically."""
    from workbench_spark.operators.text import pmi_collocations

    d = _t(spark, sf_dir, "documents")
    return pmi_collocations(d, min_count=5, k=50)


@query(
    "w_event_gap_profile",
    """
    WITH lagged AS (
      SELECT event_type,
             epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY epoch(ts), event_id) AS gap
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           floor(CAST(SUM(CAST(floor(gap * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1e6 * 1e6 + 0.5) / 1e6 AS mean_gap_s,
           quantile_cont(gap, 0.5) AS median_gap_s,
           quantile_cont(gap, 0.95) AS p95_gap_s
    FROM lagged WHERE gap IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def w_event_gap_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival profile (windows.event_gap_profile, r11):
    per-user lag gaps in epoch seconds, mean via the integer-quantized
    fold, exact median/p95 (percentile == quantile_cont)."""
    from workbench_spark.operators.windows import event_gap_profile

    ev = _t(spark, sf_dir, "events")
    return event_gap_profile(ev)


@query(
    "m_label_balance_audit",
    """
    WITH counts AS (
      SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '__null__') AS l,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           t.n AS n_rows,
           floor(CAST(MAX(c) AS DOUBLE) / t.n * 1e6 + 0.5) / 1e6 AS majority_frac,
           floor(CAST(MAX(c) AS DOUBLE) / MIN(c) * 1e6 + 0.5) / 1e6 AS imbalance_ratio,
           floor(CAST(SUM(CAST(floor(
               (-(CAST(c AS DOUBLE) / t.n) * ln(CAST(c AS DOUBLE) / t.n)) * 1e9 + 0.5
             ) AS BIGINT)) AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 AS entropy,
           floor(CASE WHEN COUNT(*) > 1 THEN
               (CAST(SUM(CAST(floor(
                 (-(CAST(c AS DOUBLE) / t.n) * ln(CAST(c AS DOUBLE) / t.n)) * 1e9 + 0.5
               ) AS BIGINT)) AS DOUBLE) / 1e9) / ln(CAST(COUNT(*) AS DOUBLE))
             ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS normalized_entropy
    FROM counts, tot t GROUP BY t.n
    """,
)
def m_label_balance_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance audit (ml_analysis.label_balance_audit, r11) over the
    o_orderpriority label: exact counts, integer-quantized entropy fold —
    both engines replay the panel bit-for-bit."""
    from workbench_spark.operators.ml_analysis import label_balance_audit

    o = _t(spark, sf_dir, "orders")
    return label_balance_audit(o, "o_orderpriority")


@query(
    "text_distinctive_terms",
    r"""
    WITH words AS (
      SELECT source, UNNEST(list_filter(
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        x -> length(x) > 0)) AS term
      FROM documents
    ),
    by_src AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS ysw
               FROM words GROUP BY source, term),
    vocab AS (SELECT term, SUM(ysw) AS yw FROM by_src GROUP BY term),
    n_src AS (SELECT source, SUM(ysw) AS ns FROM by_src GROUP BY source),
    tot AS (SELECT SUM(yw) AS n_all, CAST(COUNT(*) AS DOUBLE) * 0.01 AS A FROM vocab),
    scored AS (
      SELECT b.source, b.term, b.ysw AS term_count,
        floor((
          ln((CAST(b.ysw AS DOUBLE) + 0.01)
             / (CAST(s.ns AS DOUBLE) + t.A - b.ysw - 0.01))
          - ln((CAST(v.yw - b.ysw AS DOUBLE) + 0.01)
               / (CAST(t.n_all - s.ns AS DOUBLE) + t.A - (v.yw - b.ysw) - 0.01))
        ) / sqrt(1.0 / (CAST(b.ysw AS DOUBLE) + 0.01)
                 + 1.0 / (CAST(v.yw - b.ysw AS DOUBLE) + 0.01)) * 1e6 + 0.5) / 1e6
          AS z_score
      FROM by_src b
      JOIN vocab v USING (term)
      JOIN n_src s USING (source)
      CROSS JOIN tot t
      WHERE b.ysw >= 5
    )
    SELECT source, term, term_count, z_score FROM (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY z_score DESC, term ASC) AS rn
      FROM scored
    ) WHERE rn <= 5
    ORDER BY source, z_score DESC, term
    """,
)
def text_distinctive_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary (text.distinctive_terms, r11):
    Monroe 2008 Dirichlet log-odds z-scores vs the rest of the corpus,
    top-5 per source — per-row doubles from exact integer counts, so both
    engines score, round, and rank identically."""
    from workbench_spark.operators.text import distinctive_terms

    d = _t(spark, sf_dir, "documents")
    return distinctive_terms(d, k=5, alpha=0.01, min_count=5)


@query(
    "dedup_cross_source_leakage",
    r"""
    WITH per AS (
      SELECT md5(substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 40)) AS h,
             source, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_contents,
           CAST(SUM(a.c * b.c) AS BIGINT) AS n_doc_pairs
    FROM per a JOIN per b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def dedup_cross_source_leakage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-dup matrix (dedup.cross_source_leakage, r11):
    per-(content, source) counts self-equi-joined on the hash — shared
    contents and doc-pair counts per source pair, both exact integers.
    Keyed on the 40-char normalized PREFIX (the boilerplate-family key the
    prefix-cluster entry also uses): this corpus has no FULL cross-source
    dups, and the prefix key exercises real matches (24 source pairs at
    sf0.01) while the operator default stays full-content."""
    from workbench_spark.operators.dedup import cross_source_leakage

    d = _t(spark, sf_dir, "documents")
    return cross_source_leakage(d, prefix_chars=40)


@query(
    "text_ngram_novelty",
    r"""
    WITH w AS (
      SELECT source, list_filter(
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        x -> length(x) > 0) AS toks
      FROM documents
    ),
    grams AS (
      SELECT source, z[1] || ' ' || z[2] AS g FROM (
        SELECT source, UNNEST(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
        FROM w WHERE len(toks) > 1
      )
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_ngrams,
           floor(CAST(COUNT(DISTINCT g) AS DOUBLE)
                 / GREATEST(COUNT(*), 1) * 1e6 + 0.5) / 1e6 AS novelty_frac
    FROM grams GROUP BY source ORDER BY source
    """,
)
def text_ngram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram novelty (text.ngram_novelty, r11): exact
    distinct/total adjacent-bigram ratio — the corpus-wide repetition
    signal; exact integers + floor-rounded ratio match across engines."""
    from workbench_spark.operators.text import ngram_novelty

    d = _t(spark, sf_dir, "documents")
    return ngram_novelty(d)


@query(
    "text_lang_distribution",
    None,  # assembled below — wraps the langid oracle as a subquery
)
def text_lang_distribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language mix (add_language_scores + one rollup, r11):
    the corpus-card language table. The oracle wraps the full trigram-NB
    replay (_langid_oracle_sql — integer micro-nat folds, argmax
    tie-break) in a per-(source, lang) count."""
    from workbench_spark.functions.langid import add_language_scores

    d = _t(spark, sf_dir, "documents")
    out = add_language_scores(d, text_col="text")
    return (
        out.groupBy("source", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "lang_pred")
    )


_ORACLES["text_lang_distribution"] = f"""
    SELECT d.source, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ({_langid_oracle_sql()}) p
    JOIN documents d USING (doc_id)
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("text_quality_panel", None)  # oracle assembled below from the gopher replay
def text_quality_panel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality panel (r11): Gopher keep-rate per source — the
    corpus-card quality column. Engine: gopher_quality_flags + one
    (source) rollup; oracle: the full 7-rule Gopher replay
    (text_gopher_rules' SQL) wrapped in the same rollup."""
    from workbench_spark.operators.text import gopher_quality_flags

    d = _t(spark, sf_dir, "documents")
    flags = gopher_quality_flags(d)
    fr = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("gopher_keep").cast("long")).alias("n_keep"),
        )
        .select(
            "source",
            "n_docs",
            "n_keep",
            fr(F.col("n_keep").cast("double") / F.col("n_docs")).alias("keep_rate"),
        )
        .orderBy("source")
    )


_ORACLES["text_quality_panel"] = f"""
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN g.gopher_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           floor(CAST(SUM(CASE WHEN g.gopher_keep THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 1e6 + 0.5) / 1e6 AS keep_rate
    FROM ({_ORACLES["text_gopher_rules"]}) g
    JOIN documents d USING (doc_id)
    GROUP BY 1 ORDER BY 1
"""


@query(
    "text_pii_density_by_source",
    r"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT)
             AS n_emails,
           CAST(SUM(len(regexp_extract_all(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))) AS BIGINT) AS n_ipv4,
           floor(CAST(SUM(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS DOUBLE)
             / COUNT(*) * 1e6 + 0.5) / 1e6 AS emails_per_doc
    FROM documents GROUP BY source ORDER BY source
    """,
)
def text_pii_density_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII density (r11): the privacy column of the corpus
    card — email/IPv4 match counts per source (add_pii_counts' portable
    Java∩RE2 regexes), with the per-doc email rate floor-rounded."""
    from workbench_spark.operators.text import add_pii_counts

    d = _t(spark, sf_dir, "documents")
    c = add_pii_counts(d)
    fr = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pii_email").cast("long").alias("n_emails"),
            F.sum("pii_ipv4").cast("long").alias("n_ipv4"),
        )
        .select(
            "source", "n_docs", "n_emails", "n_ipv4",
            fr(F.col("n_emails").cast("double") / F.col("n_docs")).alias("emails_per_doc"),
        )
        .orderBy("source")
    )
