"""Text-analysis inventory queries (north-star; `documents` table).

Oracle SQL mirrors the Column expressions exactly — same tokenizer
(regex whitespace split), same md5-based hashes, same rounding — so the
DuckDB hash-match is bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hops_spark.io.readers import load_table
from hops_spark.ops.text import (BPE_TOKEN_RE, PII_PATTERNS, STOPWORDS,
                                 lang_id_expr, quality_score, tokens_bpeish,
                                 words)
from hops_spark.registry import register

# DuckDB fragment: the shared word tokenizer.
_DUCK_WORDS = ("list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')")


def _duck_sw_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


@register(
    "doc_quality",
    sql=f"""
    WITH feats AS (
        SELECT doc_id,
               {_DUCK_WORDS} AS w,
               length(text) AS n_chars_m,
               CAST(length(regexp_replace(lower(text), '\\s+', '', 'g')) AS BIGINT) AS n_nonspace,
               CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit
        FROM documents
    ), q AS (
        SELECT doc_id, n_chars_m,
               len(w) AS n_words,
               greatest(len(w), 1)::BIGINT AS nw1,
               greatest(n_chars_m, 1)::BIGINT AS nc1,
               n_nonspace, n_punct, n_digit,
               CAST(len(list_filter(w, x -> list_contains({_duck_sw_list('en')}, x))) AS BIGINT) AS n_sw,
               CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq
        FROM feats
    ), p AS (
        SELECT doc_id, n_chars_m, n_words,
               (n_nonspace * 1000000) // nw1 AS mean_word_len_ppm,
               (n_punct * 1000000) // nc1 AS punct_ppm,
               (n_digit * 1000000) // nc1 AS digit_ppm,
               (n_sw * 1000000) // nw1 AS stopword_ppm,
               (n_uniq * 1000000) // nw1 AS uniq_ppm
        FROM q
    )
    SELECT doc_id, n_chars_m, n_words, mean_word_len_ppm, punct_ppm, digit_ppm,
           stopword_ppm, uniq_ppm,
           (least(n_words::BIGINT * 20000, 1000000)
            + (1000000 - least(punct_ppm * 5, 1000000))
            + least(stopword_ppm * 4, 1000000)
            + uniq_ppm) AS quality_score_ppm
    FROM p
    ORDER BY doc_id
    """,
    doc="Per-document quality features + scalar score (C4/Gopher-style "
        "public heuristics). Ratios are exact integer ppm — decimal "
        "rounding of floats at half-boundaries differs across engines, "
        "integer division does not.",
    tags=("text", "north-star"),
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (quality_score(d)
            .select("doc_id", "n_chars_m", "n_words", "mean_word_len_ppm", "punct_ppm",
                    "digit_ppm", "stopword_ppm", "uniq_ppm", "quality_score_ppm")
            .orderBy("doc_id"))


def _duck_lang_case() -> str:
    hits = {lang: (f"len(list_filter({_DUCK_WORDS}, "
                   f"x -> list_contains({_duck_sw_list(lang)}, x)))")
            for lang in STOPWORDS}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    whens = "\n".join(
        f"WHEN {hits[lang]} > 0 AND {hits[lang]} = {best} THEN '{lang}'"
        for lang in STOPWORDS)  # first-match order = en, de, fr, es
    return f"CASE {whens} ELSE 'und' END"


@register(
    "lang_id",
    sql=f"""
    SELECT {_duck_lang_case()} AS lang_pred, lang AS lang_actual, count(*) AS n
    FROM documents
    GROUP BY lang_pred, lang_actual
    ORDER BY lang_pred, lang_actual
    """,
    doc="Language-ID heuristic (stopword overlap, deterministic tie-break) "
        "vs the fixture's actual lang label — confusion-matrix output.",
    tags=("text", "north-star"),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (d.select(lang_id_expr("text").alias("lang_pred"),
                     F.col("lang").alias("lang_actual"))
             .groupBy("lang_pred", "lang_actual").agg(F.count("*").alias("n"))
             .orderBy("lang_pred", "lang_actual"))


@register(
    "token_counts",
    sql=f"""
    SELECT source,
           CAST(sum(len({_DUCK_WORDS})) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '{BPE_TOKEN_RE.replace(chr(39), chr(39) * 2)}'))) AS BIGINT) AS bpe_tokens,
           count(*) AS n_docs
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    doc="Token counting: whitespace + BPE-ish regex tokenizer, per source.",
    tags=("text", "north-star"),
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (d.groupBy("source")
             .agg(F.sum(F.size(words("text"))).alias("ws_tokens"),
                  F.sum(F.size(tokens_bpeish("text"))).alias("bpe_tokens"),
                  F.count("*").alias("n_docs"))
             .orderBy("source"))


# Shingle expression over a words-array column named `w` (use inside a CTE
# that computes `w` once).
DUCK_SHINGLES_OF_W = (
    "CASE WHEN len(w) >= 3 THEN "
    "list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) "
    "ELSE [] END"
)


@register(
    "doc_fingerprint",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), sh AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct({DUCK_SHINGLES_OF_W})), chr(31)))
               AS fp
        FROM wt
    )
    SELECT fp, count(*) AS n_docs, min(doc_id) AS first_doc
    FROM sh
    GROUP BY fp
    ORDER BY fp
    """,
    doc="Document fingerprint (md5 over sorted distinct shingle set) — "
        "every fingerprint group (n_docs > 1 = exact-ish duplicates); "
        "unfiltered so the oracle checks the hash math on every doc.",
    tags=("text", "dedup", "north-star"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shingles come via ops/dedup.shingle_arrays, whose words array is
    # ops/text.bound_words (an unbound shingle Column measured 4.0 s
    # -> 0.8 s at sf0.1 for this query).
    from hops_spark.ops.dedup import shingle_arrays
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_arrays(d, "doc_id", "text", 3)
    fp = F.md5(F.concat_ws("\x1f", F.array_sort(F.col("shingle_arr"))))
    return (sh.select("doc_id", fp.alias("fp"))
              .groupBy("fp")
              .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
              .orderBy("fp"))


def _duck_pii_replace() -> str:
    expr = "text"
    for _, pat, token in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    return expr


def _duck_pii_counts() -> str:
    return ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS)


@register(
    "pii_scrub",
    sql=f"""
    SELECT doc_id, {_duck_pii_counts()},
           md5({_duck_pii_replace()}) AS scrub_hash
    FROM documents
    ORDER BY doc_id
    """,
    doc="PII scrubbing (training-data hygiene, §2.7 regex superset): "
        "typed placeholder redaction for email/SSN/phone/IPv4 as a "
        "chained regexp_replace — map-only JVM expressions. Oracle "
        "recomputes the identical redaction and hashes the scrubbed "
        "text (patterns restricted to Java-regex/RE2-common syntax).",
    tags=("text", "north-star"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.text import pii_counts, scrub_pii
    d = load_table(spark, sf_dir, "documents")
    return (d.select("doc_id", *pii_counts("text"),
                     F.md5(scrub_pii("text")).alias("scrub_hash"))
             .orderBy("doc_id"))


_DUCK_HASH_PPM = ("(('0x' || substring(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT"
                  " % 1000000)")


@register(
    "stratified_sample",
    sql=f"""
    SELECT source, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars
    FROM documents
    WHERE {_DUCK_HASH_PPM} <
          CASE source WHEN 'src1' THEN 500000
                      WHEN 'src2' THEN 250000
                      ELSE 100000 END
    GROUP BY source
    ORDER BY source
    """,
    doc="Deterministic stratified sampling (data mixing): per-source "
        "md5-hash keep thresholds — reproducible across runs, retries, "
        "and engines (rand() re-rolls per task attempt at scale; a hash "
        "sample does not). Map-only. Ancestors: InputSampler.Random"
        "Sampler, SequenceFileInputFilter.PercentFilter (§2.1/§2.5).",
    tags=("text", "north-star", "sampling"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sampling import stratified_sample as strat
    d = load_table(spark, sf_dir, "documents")
    kept = strat(d, "source", "doc_id",
                 {"src1": 500_000, "src2": 250_000},
                 default_ppm=100_000, salt="mix")
    return (kept.groupBy("source")
                .agg(F.count("*").alias("n_kept"),
                     F.sum("n_chars").alias("kept_chars"))
                .orderBy("source"))


@register(
    "mixture_plan",
    sql="""
    WITH per AS (
        SELECT source AS stratum, CAST(sum(n_chars) AS BIGINT) AS weight
        FROM documents GROUP BY source
    ), tot AS (
        SELECT stratum, weight,
               weight * 1000000
                 // (SELECT CAST(sum(weight) AS BIGINT) FROM per) AS weight_share_ppm,
               CAST(CASE stratum WHEN 'src0' THEN 400000
                                 WHEN 'src1' THEN 400000
                                 ELSE 10000 END AS BIGINT) AS target_ppm
        FROM per
    ), r AS (
        SELECT *, target_ppm * 1000000 // greatest(weight_share_ppm, 1) AS ratio
        FROM tot
    )
    SELECT stratum, weight, weight_share_ppm, target_ppm,
           ratio * 1000000 // greatest((SELECT max(ratio) FROM r), 1) AS keep_ppm
    FROM r
    ORDER BY stratum
    """,
    doc="Data-mixing plan: per-source keep fractions hitting target "
        "mixture proportions (token-budget shares) without upsampling — "
        "integer-ppm arithmetic end-to-end, windows only over the "
        "per-stratum aggregate.",
    tags=("text", "north-star", "sampling"),
)
def mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sampling import mixture_plan as plan
    d = load_table(spark, sf_dir, "documents")
    return (plan(d, "source", "n_chars",
                 {"src0": 400_000, "src1": 400_000}, default_ppm=10_000)
            .orderBy("stratum"))


_DUCK_NORM = (
    "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(text, '\\r\\n?', chr(10), 'g'), "
    "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'), "
    "'[ \\t]+', ' ', 'g'), "
    "' ?\\n ?', chr(10), 'g'), "
    "'\\n{3,}', chr(10) || chr(10), 'g'))"
)


@register(
    "normalize_text",
    sql=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_before,
           CAST(length({_DUCK_NORM}) AS BIGINT) AS n_after,
           md5({_DUCK_NORM}) AS norm_hash
    FROM documents
    ORDER BY doc_id
    """,
    doc="Deterministic text normalization (C4/CCNet-style cleaning): "
        "newline canonicalization, control-char strip, whitespace "
        "collapse, blank-line squeeze — map-only regexp chain, oracle "
        "hashes the identical normalized text.",
    tags=("text", "north-star"),
)
def normalize_text_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.text import normalize_text
    d = load_table(spark, sf_dir, "documents")
    return (d.select("doc_id",
                     F.length("text").cast("long").alias("n_before"),
                     F.length(normalize_text("text")).cast("long").alias("n_after"),
                     F.md5(normalize_text("text")).alias("norm_hash"))
             .orderBy("doc_id"))


_DUCK_LINES = ("list_filter(string_split(text, chr(10)), x -> trim(x) <> '')")
_DUCK_BIGRAMS = (
    "CASE WHEN len(w) >= 2 THEN "
    "list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' ')) "
    "ELSE [] END"
)


@register(
    "repetition_stats",
    sql=f"""
    WITH base AS (
        SELECT doc_id, {_DUCK_WORDS} AS w, {_DUCK_LINES} AS lines
        FROM documents
    ), b AS (
        SELECT doc_id, lines, {_DUCK_BIGRAMS} AS bg FROM base
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           (len(lines) - len(list_distinct(lines)))::BIGINT * 1000000
               // greatest(len(lines), 1) AS dup_line_ppm,
           (len(bg) - len(list_distinct(bg)))::BIGINT * 1000000
               // greatest(len(bg), 1) AS dup_bigram_ppm
    FROM b
    ORDER BY doc_id
    """,
    doc="Per-document repetition signals (Gopher repetition filters): "
        "duplicate-line and duplicate word-bigram fractions as integer "
        "ppm — array-side per doc, map-only.",
    tags=("text", "north-star"),
)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.text import repetition_stats
    d = load_table(spark, sf_dir, "documents")
    return repetition_stats(d, "doc_id", "text").orderBy("doc_id")


def _duck_topgram_cte(n: int) -> str:
    gram = " || ' ' || ".join(f"w[i.i + {j}]" for j in range(n))
    return f"""
        SELECT doc_id, {n} AS n, {gram} AS g
        FROM wt, LATERAL (SELECT unnest(range(1,
             greatest(len(w) - {n - 1}, 0) + 1)) AS i) i"""


@register(
    "top_ngram_filters",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), lens AS (
        SELECT doc_id,
               CAST(length(array_to_string(w, ' ')) AS BIGINT) AS len
        FROM wt
    ), grams AS (
        {_duck_topgram_cte(2)}
        UNION ALL {_duck_topgram_cte(3)}
        UNION ALL {_duck_topgram_cte(4)}
    ), cnt AS (
        SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c
        FROM grams GROUP BY doc_id, n, g
    ), top AS (
        SELECT doc_id, n, c * length(g) AS chars,
               row_number() OVER (PARTITION BY doc_id, n
                                  ORDER BY c DESC, g) AS rn
        FROM cnt
    ), piv AS (
        SELECT doc_id,
               max(CASE WHEN n = 2 THEN chars END) AS c2,
               max(CASE WHEN n = 3 THEN chars END) AS c3,
               max(CASE WHEN n = 4 THEN chars END) AS c4
        FROM top WHERE rn = 1 GROUP BY doc_id
    )
    SELECT l.doc_id,
           CAST(coalesce(c2, 0) * 1000000 // greatest(len, 1) AS BIGINT)
               AS top2_ppm,
           CAST(coalesce(c3, 0) * 1000000 // greatest(len, 1) AS BIGINT)
               AS top3_ppm,
           CAST(coalesce(c4, 0) * 1000000 // greatest(len, 1) AS BIGINT)
               AS top4_ppm,
           (coalesce(c2, 0) * 1000000 // greatest(len, 1) <= 200000
            AND coalesce(c3, 0) * 1000000 // greatest(len, 1) <= 180000
            AND coalesce(c4, 0) * 1000000 // greatest(len, 1) <= 160000)
               AS keep
    FROM lens l LEFT JOIN piv USING (doc_id)
    ORDER BY l.doc_id
    """,
    doc="Top-n-gram character concentration, the other half of the "
        "Gopher repetition-filter family (Rae et al. 2021 table A1; "
        "repetition_stats covers the duplicate-fraction half): per doc "
        "and per n in {{2,3,4}}, the fraction of normalized-text "
        "characters covered by the single most frequent word n-gram "
        "(DataTrove GopherRepetitionFilter arithmetic, count·len(gram)"
        "/len(text) in integer ppm, deterministic count-then-lexico "
        "tie-break), plus the published keep gate (0.20/0.18/0.16). "
        "One keyed count aggregate per n. ops/text.top_ngram_chars.",
    tags=("text", "north-star"),
)
def top_ngram_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.text import top_ngram_chars
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return top_ngram_chars(d).orderBy("doc_id")


@register(
    "chunk_documents",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), nz AS (
        SELECT doc_id, w,
               CAST(greatest(ceil((len(w) - 8) / 24.0), 1) AS INT) AS n_chunks
        FROM wt WHERE len(w) > 0
    ), ch AS (
        SELECT doc_id, c.c AS chunk_id,
               w[c.c * 24 + 1 : c.c * 24 + 32] AS toks
        FROM nz, LATERAL (SELECT unnest(range(0, n_chunks)) AS c) c
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           md5(array_to_string(toks, ' ')) AS chunk_hash
    FROM ch
    ORDER BY doc_id, chunk_id
    """,
    doc="Context-window chunking (training-data pipeline): 32-token "
        "chunks with 8-token overlap (stride 24), array-side behind a "
        "Generate barrier then one explode — map-only. Oracle rebuilds "
        "every chunk and hashes its text.",
    tags=("text", "north-star"),
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.text import chunk_documents
    d = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(d, "doc_id", "text", chunk_tokens=32, overlap=8)
    return (ch.select("doc_id", "chunk_id", "n_tokens",
                      F.md5("chunk_text").alias("chunk_hash"))
              .orderBy("doc_id", "chunk_id"))


@register(
    "pack_sequences",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), nz AS (
        SELECT doc_id, w,
               CAST(greatest(ceil((len(w) - 8) / 24.0), 1) AS INT) AS n_chunks
        FROM wt WHERE len(w) > 0
    ), ch AS (
        SELECT doc_id, c.c AS chunk_id,
               len(w[c.c * 24 + 1 : c.c * 24 + 32]) AS n_tokens
        FROM nz, LATERAL (SELECT unnest(range(0, n_chunks)) AS c) c
    ), ps AS (
        SELECT doc_id, chunk_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id, chunk_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM ch
    ), binned AS (
        SELECT (CAST(cum AS BIGINT) - n_tokens) // 512 AS bin_id, n_tokens
        FROM ps
    )
    SELECT CAST(bin_id AS BIGINT) AS bin_id,
           count(*) AS n_sequences,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM binned
    GROUP BY bin_id
    ORDER BY bin_id
    """,
    doc="Sequence packing (training-batch assembly): chunks assigned to "
        "~512-token bins via a TWO-PHASE distributed prefix sum (no "
        "single-partition window); a bin overflows by at most one "
        "sequence. Oracle replays the scan with a window prefix sum and "
        "checks the per-bin census.",
    tags=("text", "north-star", "sort"),
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.text import chunk_documents, pack_sequences
    d = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(d, "doc_id", "text", chunk_tokens=32, overlap=8)
    packed = pack_sequences(ch.select("doc_id", "chunk_id", "n_tokens"),
                            budget=512)
    return (packed.groupBy("bin_id")
                  .agg(F.count("*").alias("n_sequences"),
                       F.sum("n_tokens").alias("bin_tokens"))
                  .orderBy("bin_id"))


@register(
    "weighted_sample_docs",
    sql="""
    WITH h AS (
        SELECT doc_id, n_chars,
               ((('0x' || substring(md5('wsamp|' || CAST(doc_id AS VARCHAR)),
                                    1, 7))::BIGINT % 1000000) * 1000000)
                 // greatest(CAST(n_chars AS BIGINT), 1) AS priority
        FROM documents
    )
    SELECT doc_id, n_chars, priority
    FROM h ORDER BY priority, doc_id LIMIT 100
    """,
    doc="Weighted (length-proportional) document sampling via sequential-"
        "Poisson priorities (Ohlsson 1998): priority = md5-uniform div "
        "weight, take k smallest. Pure BIGINT arithmetic -> the oracle "
        "reproduces the exact sample; TakeOrdered top-k, no global sort.",
    tags=("text", "north-star", "sampling"),
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sampling import weighted_sample
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (weighted_sample(d, "n_chars", 100, "doc_id", salt="wsamp")
            .orderBy("priority", "doc_id"))


@register(
    "quality_filter_by_source",
    sql=f"""
    WITH feats AS (
        SELECT doc_id, source,
               {_DUCK_WORDS} AS w,
               length(text) AS n_chars_m,
               CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{{{-~]', '', 'g')) AS BIGINT) AS n_punct
        FROM documents
    ), q AS (
        SELECT doc_id, source,
               len(w) AS n_words,
               greatest(len(w), 1)::BIGINT AS nw1,
               greatest(n_chars_m, 1)::BIGINT AS nc1,
               n_punct,
               CAST(len(list_filter(w, x -> list_contains({{SW}}, x))) AS BIGINT) AS n_sw,
               CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq
        FROM feats
    ), s AS (
        SELECT doc_id, source,
               (least(n_words::BIGINT * 20000, 1000000)
                + (1000000 - least(((n_punct * 1000000) // nc1) * 5, 1000000))
                + least(((n_sw * 1000000) // nw1) * 4, 1000000)
                + ((n_uniq * 1000000) // nw1)) AS quality_score_ppm
        FROM q
    ), thr AS (
        SELECT source, round(quantile_cont(quality_score_ppm, 0.75), 6) AS p75
        FROM s GROUP BY source
    )
    SELECT s.doc_id, s.source, s.quality_score_ppm, thr.p75
    FROM s JOIN thr USING (source)
    WHERE s.quality_score_ppm >= thr.p75
    ORDER BY s.doc_id
    """.replace("{SW}", _duck_sw_list("en")),
    doc="Per-source quality-percentile gate (keep top quartile per "
        "domain): exact p75 per source (interpolation of integer scores "
        "at dyadic fractions is float-exact), broadcast thresholds, "
        "map-only filter. The scale path swaps percentile() for "
        "percentile_approx — same plan shape.",
    tags=("text", "north-star", "sampling"),
)
def quality_filter_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    s = quality_score(d).select("doc_id", "source", "quality_score_ppm")
    thr = (s.groupBy("source")
            .agg(F.round(F.expr("percentile(quality_score_ppm, 0.75)"), 6)
                  .alias("p75")))
    return (s.join(F.broadcast(thr), "source")
             .filter(F.col("quality_score_ppm") >= F.col("p75"))
             .select("doc_id", "source", "quality_score_ppm", "p75")
             .orderBy("doc_id"))


@register(
    "dataset_split_stats",
    sql=f"""
    WITH b AS (
        SELECT doc_id, n_chars,
               CAST(len({{DW}}) AS BIGINT) AS n_tok,
               (('0x' || substring(md5('split|' || CAST(doc_id AS VARCHAR)),
                                   1, 7))::BIGINT % 1000000) AS h
        FROM documents
    )
    SELECT CASE WHEN h < 900000 THEN 'train'
                WHEN h < 950000 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
    FROM b
    GROUP BY 1
    ORDER BY split
    """.replace("{DW}", _DUCK_WORDS),
    doc="Deterministic train/val/test split (90/5/5 by md5-hash bucket) "
        "with per-split doc/token/char accounting. Hash membership is "
        "stable across runs, engines, retries, and corpus growth — a "
        "test doc can never migrate into train (the leakage-audit "
        "property rand() splits lack). Map-only assignment + one "
        "aggregate. ops/sampling.split_assign.",
    tags=("text", "north-star", "sampling"),
)
def dataset_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sampling import split_assign
    from hops_spark.ops.text import words
    d = load_table(spark, sf_dir, "documents")
    return (split_assign(d, "doc_id", salt="split")
            .groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.size(words("text")).cast("long")).alias("n_tokens"),
                 F.sum("n_chars").alias("n_chars_total"))
            .orderBy("split"))


@register(
    "source_token_budget",
    sql=f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len({{DW}}) AS BIGINT) AS n_tok,
               (('0x' || substring(md5('cap|' || CAST(doc_id AS VARCHAR)),
                                   1, 7))::BIGINT % 1000000) AS pri
        FROM documents
    ), c AS (
        SELECT doc_id, source, n_tok,
               CAST(sum(n_tok) OVER (PARTITION BY source
                                     ORDER BY pri, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum
        FROM t
    )
    SELECT source, count(*) AS n_kept,
           CAST(sum(n_tok) AS BIGINT) AS kept_tokens,
           CAST(max(cum) AS BIGINT) AS last_cum
    FROM c
    WHERE cum - n_tok < 800
    GROUP BY source
    ORDER BY source
    """.replace("{DW}", _DUCK_WORDS),
    doc="Per-source token-budget capping (C4/RefinedWeb-style domain "
        "downsampling): keep whole docs in deterministic hash-priority "
        "order until each source's cumulative token count reaches the "
        "budget — one per-source window, no shuffle beyond it. "
        "ops/sampling.source_token_budget.",
    tags=("text", "north-star", "sampling"),
)
def source_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sampling import source_token_budget as cap
    from hops_spark.ops.text import words
    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", "source",
                 F.size(words("text")).cast("long").alias("n_tok")))
    kept = cap(d, "source", "n_tok", budget=800, id_col="doc_id", salt="cap")
    return (kept.groupBy("source")
                .agg(F.count("*").alias("n_kept"),
                     F.sum("n_tok").alias("kept_tokens"),
                     F.max("cum_weight").alias("last_cum"))
                .orderBy("source"))


def _bpe_oracle_sql(k: int) -> str:
    """Generate the k-stage BPE oracle: each stage = pair-count
    aggregate + 1-row argmax + literal left-to-right merge replay,
    mirroring ops/bpe.bpe_train exactly (DuckDB ``replace`` and Java
    ``String.replace`` scan identically)."""
    parts = [f"""
    WITH wc AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest({_DUCK_WORDS}) AS term FROM documents)
        GROUP BY term
    ), v0 AS (
        SELECT n, array_to_string(regexp_extract_all(term, '.'), ' ') AS sym
        FROM wc
    )"""]
    for i in range(k):
        parts.append(f""", p{i} AS (
        SELECT s[j.j] AS w1, s[j.j + 1] AS w2,
               CAST(sum(n) AS BIGINT) AS pair_count
        FROM (SELECT n, string_split(sym, ' ') AS s FROM v{i}) t,
             LATERAL (SELECT unnest(range(1, len(s))) AS j) j
        GROUP BY 1, 2
    ), b{i} AS (
        SELECT w1, w2, pair_count FROM p{i}
        ORDER BY pair_count DESC, w1, w2 LIMIT 1
    ), v{i + 1} AS (
        SELECT n, trim(replace(' ' || sym || ' ',
                               ' ' || b.w1 || ' ' || b.w2 || ' ',
                               ' ' || b.w1 || b.w2 || ' ')) AS sym
        FROM v{i} CROSS JOIN b{i} b
    )""")
    unions = "\n    UNION ALL ".join(
        f"SELECT {i} AS merge_rank, w1 AS left_sym, w2 AS right_sym, "
        f"pair_count FROM b{i}" for i in range(k))
    parts.append(f"\n    {unions}\n    ORDER BY merge_rank")
    return "".join(parts)


@register(
    "bpe_merges",
    sql=_bpe_oracle_sql(8),
    doc="BPE tokenizer training (Sennrich et al. 2016) as a "
        "distributed job: ONE corpus aggregate (word frequencies), "
        "then a driver-side merge loop with incrementally maintained "
        "pair counts over the vocab-bounded symbol table (lazy-"
        "deletion heap + per-word deltas) — a 32k-merge vocab costs "
        "one Spark job, not 32k. Merges replay as literal left-to-"
        "right replaces, identical in Java and DuckDB, so the oracle "
        "reproduces the full merge table bit-for-bit. ops/bpe.py.",
    tags=("text", "north-star", "iterative"),
)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.bpe import bpe_train
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_train(spark, d, k=8)


@register(
    "sentence_split",
    sql=r"""
    WITH s AS (
        SELECT doc_id,
               list_filter(
                   list_transform(regexp_split_to_array(text, '[.!?]+|\s+table\s+'),
                                  x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
                   x -> x <> '') AS parts
        FROM documents
    )
    SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS sentence_id,
           parts[i.i] AS sentence
    FROM s, LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i) i
    ORDER BY doc_id, sentence_id
    """,
    doc="Sentence segmentation as a table function (SURVEY §2.9 UDTF "
        "surface): one row per non-empty trimmed sentence with its "
        "in-doc ordinal (delimiters: sentence punctuation, plus the "
        "token 'table' so the unpunctuated synthetic fixture still "
        "exercises multi-row output). Fast path is split+posexplode "
        "(codegen, zero Python); ops/pipe.sentences_udtf is the "
        "API-parity Python UDTF twin, equivalence-tested.",
    tags=("text", "udtf", "projection"),
)
def sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.pipe import sentence_rows
    d = load_table(spark, sf_dir, "documents")
    parts = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+|\s+table\s+"),
                    lambda s: F.regexp_replace(s, r"^\s+|\s+$", "")),
        lambda s: s != "")
    return (d.select("doc_id", F.posexplode(parts)
                     .alias("sentence_id", "sentence"))
             .withColumn("sentence_id", F.col("sentence_id").cast("long"))
             .orderBy("doc_id", "sentence_id"))


_TOKENIZE_MERGES = [("t", "h"), ("th", "e"), ("a", "n"), ("i", "n")]


def _bpe_apply_oracle_sql() -> str:
    """Chained-replace replay of the fixed merge list in DuckDB —
    identical left-to-right scan as ops/bpe.bpe_apply."""
    sym = "array_to_string(regexp_extract_all(w, '.'), ' ')"
    for left, right in _TOKENIZE_MERGES:
        sym = (f"trim(replace(' ' || {sym} || ' ', "
               f"' {left} {right} ', ' {left}{right} '))")
    return f"""
    WITH w AS (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS w FROM documents
    ), t AS (
        SELECT doc_id, len(string_split({sym}, ' ')) AS n_sym
        FROM w
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
    FROM t GROUP BY doc_id ORDER BY doc_id
    """


@register(
    "bpe_tokenize_docs",
    sql=_bpe_apply_oracle_sql(),
    doc="BPE merge-list APPLICATION at corpus scale (the serving twin "
        "of bpe_merges training): map-only — every word becomes "
        "space-joined chars and the fixed merge list replays as k "
        "chained whole-stage-codegen replaces, zero shuffle before the "
        "per-doc count. The oracle replays the identical replace chain "
        "in DuckDB. ops/bpe.bpe_apply.",
    tags=("text", "north-star"),
)
def bpe_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.bpe import bpe_apply
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = bpe_apply(d, _TOKENIZE_MERGES)
    return (toks.select(
                "doc_id",
                F.size("bpe_tokens").cast("long").alias("n_words"),
                F.aggregate(
                    F.transform(F.col("bpe_tokens"),
                                lambda s: F.size(F.split(s, " "))),
                    F.lit(0), lambda acc, x: acc + x)
                 .cast("long").alias("n_bpe_tokens"))
            .orderBy("doc_id"))


@register(
    "cdc_chunks",
    sql="""
    WITH d AS (
        SELECT doc_id, text, length(text) AS n
        FROM documents WHERE length(text) > 0
    ), c AS (
        SELECT doc_id, n,
               CASE WHEN n >= 8 THEN
                 list_filter(range(8, n + 1), i ->
                   ((strpos('0123456789abcdef',
                            substr(md5(substr(text, CAST(i - 7 AS INT), 8)), 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef',
                              substr(md5(substr(text, CAST(i - 7 AS INT), 8)), 2, 1)) - 1))
                   % 64 = 0)
               ELSE [] END AS cand
        FROM d
    ), b AS (
        SELECT doc_id, n,
               list_sort(list_distinct(list_append(cand, n))) AS bs
        FROM c
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n,
           CAST(len(bs) AS BIGINT) AS n_chunks,
           md5(array_to_string(list_transform(range(1, len(bs) + 1),
               i -> bs[i] - COALESCE(bs[i - 1], 0)), ',')) AS len_digest
    FROM b ORDER BY doc_id
    """,
    doc="Content-defined chunking (Manber rolling-window boundaries; "
        "the rsync/FastCDC rule): boundary after position i when the "
        "window hash % 64 == 0, so identical regions chunk identically "
        "regardless of offset — the dedup-friendly alternative to "
        "fixed chunks. Map-only Column expressions, zero shuffle; the "
        "oracle recomputes every boundary and hashes the chunk-length "
        "list. ops/text.cdc_chunk_lengths.",
    tags=("text", "dedup", "north-star"),
)
def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.text import cdc_chunk_lengths
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ch = cdc_chunk_lengths(d, window=8, divisor=64)
    return (ch.select(
                "doc_id", F.col("n").cast("long").alias("n"),
                F.size("chunk_lengths").cast("long").alias("n_chunks"),
                F.expr("md5(array_join(transform(chunk_lengths, "
                       "x -> cast(x as string)), ','))").alias("len_digest"))
            .orderBy("doc_id"))


@register(
    "vocab_coverage",
    sql=f"""
    WITH wc AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest({_DUCK_WORDS}) AS term FROM documents)
        GROUP BY term
    ), ranked AS (
        SELECT n,
               row_number() OVER (ORDER BY n DESC, term) AS rnk,
               sum(n) OVER (ORDER BY n DESC, term
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(n) OVER () AS total
        FROM wc
    )
    SELECT CAST(rnk AS BIGINT) AS vocab_size,
           CAST(cum AS BIGINT) AS covered_tokens,
           CAST(cum * 1000000 // total AS BIGINT) AS coverage_ppm
    FROM ranked WHERE rnk IN (5, 10, 20, 100, 1000)
    ORDER BY vocab_size
    """,
    doc="Vocabulary coverage curve: what share of corpus tokens the "
        "top-k most frequent terms cover — the tokenizer-design "
        "diagnostic behind vocab-size choices. Composed from the "
        "two-phase distributed primitives (total_order_rank + "
        "total_order_prefix_sum over (count desc, term)); no "
        "single-partition window anywhere, so the curve computes on a "
        "billion-term vocab. Integer-ppm share.",
    tags=("text", "north-star", "profiling"),
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sort import total_order_prefix_sum, total_order_rank
    d = load_table(spark, sf_dir, "documents")
    wc = (d.select(F.explode(words("text")).alias("term"))
           .groupBy("term").agg(F.count("*").alias("n"))
           .withColumn("_negn", -F.col("n")))
    ranked = total_order_rank(wc, "_negn", "term", rank_col="vocab_size")
    cum = total_order_prefix_sum(wc, "n", "_negn", "term",
                                 out_col="covered_tokens")
    total = wc.agg(F.sum("n").cast("long").alias("_total"))
    return (ranked.join(cum.select("term", "covered_tokens"), "term")
                  .where(F.col("vocab_size").isin(5, 10, 20, 100, 1000))
                  .crossJoin(F.broadcast(total))
                  .select("vocab_size", "covered_tokens",
                          F.expr("covered_tokens * 1000000 div _total")
                           .cast("long").alias("coverage_ppm"))
                  .orderBy("vocab_size"))


@register(
    "dsir_doc_weights",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, source = 'src1' AS is_target,
               unnest({_DUCK_WORDS}) AS term
        FROM documents
    ), tb AS (
        SELECT doc_id, is_target,
               CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 1024 AS b
        FROM toks
    ), counts AS (
        SELECT b,
               CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
               CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS cr
        FROM tb GROUP BY b
    ), tot AS (
        SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr
        FROM counts
    ), lr AS (
        SELECT b,
               CAST(round((ln((ct + 1) / CAST(nt + 1024 AS DOUBLE))
                           - ln((cr + 1) / CAST(nr + 1024 AS DOUBLE)))
                          * 1000000, 0) AS BIGINT) AS lr_micro
        FROM counts, tot
    )
    SELECT tb.doc_id, tb.is_target,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(lr.lr_micro) AS BIGINT) AS weight_micro
    FROM tb JOIN lr USING (b)
    GROUP BY tb.doc_id, tb.is_target
    ORDER BY tb.doc_id
    """,
    doc="DSIR importance weighting for data selection (Xie et al. 2023): "
        "per-doc weight = sum over tokens of the target-vs-raw hashed-"
        "feature log-ratio, each per-bucket ratio snapped to integer "
        "micro-nats before the order-free sum (the ops/lm.py "
        "determinism contract). Bucket tables are bounded (1024 rows, "
        "broadcast); one per-doc aggregate. ops/sampling.dsir_weights.",
    tags=("text", "sampling", "north-star"),
)
def dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sampling import dsir_weights
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    out = dsir_weights(d, F.col("source") == "src1")
    return out.select("doc_id", "is_target", "n_tokens",
                      "weight_micro").orderBy("doc_id")


# CTE chain ending in pred(doc_id, actual, predicted, rn) — the NB
# classifier's doc-level decisions; shared by the confusion-matrix
# query and the per-class P/R/F1 metrics query.
_NB_PRED_CTES = f"""d AS (
        SELECT doc_id, lang, text FROM documents WHERE length(text) > 0
    ), tok AS (
        SELECT doc_id, lang AS actual, unnest({_DUCK_WORDS}) AS w FROM d
    ), cls AS (
        SELECT lang AS c, count(*) AS n_docs FROM d GROUP BY lang
    ), tot AS (
        SELECT count(*) AS n_total FROM d
    ), cnt AS (
        SELECT actual AS c, w, count(*) AS n FROM tok GROUP BY actual, w
    ), ctok AS (
        SELECT actual AS c, count(*) AS n_tok FROM tok GROUP BY actual
    ), voc AS (
        SELECT count(DISTINCT w) AS v FROM tok
    ), scored AS (
        SELECT t.doc_id, t.actual, cl.c,
               sum(CAST(round(-ln((COALESCE(cnt.n, 0) + 1)
                              / CAST(ct.n_tok + voc.v AS DOUBLE))
                              * 1000000, 0) AS BIGINT)) AS tok_nll
        FROM tok t
        CROSS JOIN cls cl
        JOIN ctok ct ON ct.c = cl.c
        CROSS JOIN voc
        LEFT JOIN cnt ON cnt.c = cl.c AND cnt.w = t.w
        GROUP BY t.doc_id, t.actual, cl.c
    ), with_prior AS (
        SELECT s.doc_id, s.actual, s.c,
               s.tok_nll + CAST(round(-ln(cl.n_docs
                                          / CAST(tot.n_total AS DOUBLE))
                                      * 1000000, 0) AS BIGINT) AS nll
        FROM scored s JOIN cls cl ON cl.c = s.c CROSS JOIN tot
    ), pred AS (
        SELECT doc_id, actual, c AS predicted,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY nll, c) AS rn
        FROM with_prior
    )"""


@register(
    "nb_lang_classifier",
    sql=f"""
    WITH {_NB_PRED_CTES}
    SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1
    GROUP BY actual, predicted ORDER BY actual, predicted
    """,
    doc="Multinomial Naive Bayes language classifier trained and "
        "evaluated on the corpus (the fastText-recipe quality/lang "
        "gate shape; ops/classify.py): token-count training is three "
        "aggregates, scoring is token-rows x n_classes with a broadcast "
        "count table, per-token integer micro-nat log-likelihoods "
        "(ops/lm.py idiom — fold-order-proof), add-one smoothing, "
        "argmin with a lexicographic tie-break. Output: the confusion "
        "matrix against the fixture's actual lang label.",
    tags=("text", "north-star", "ml"),
)
def nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.classify import nb_predict
    d = load_table(spark, sf_dir, "documents")
    return (nb_predict(d)
            .groupBy("actual", "predicted")
            .agg(F.count("*").alias("n"))
            .orderBy("actual", "predicted"))


@register(
    "classifier_prf",
    sql=f"""
    WITH {_NB_PRED_CTES}, conf AS (
        SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
        FROM pred WHERE rn = 1 GROUP BY actual, predicted
    ), pside AS (
        SELECT predicted AS class,
               CAST(sum(n) AS BIGINT) AS n_pred,
               CAST(sum(CASE WHEN actual = predicted THEN n ELSE 0 END)
                    AS BIGINT) AS tp
        FROM conf GROUP BY predicted
    ), aside AS (
        SELECT actual AS class, CAST(sum(n) AS BIGINT) AS n_actual
        FROM conf GROUP BY actual
    ), j AS (
        SELECT class,
               coalesce(n_actual, 0) AS n_actual,
               coalesce(n_pred, 0) AS n_pred,
               coalesce(tp, 0) AS tp
        FROM pside FULL JOIN aside USING (class)
    ), pr AS (
        SELECT class, n_actual, n_pred, tp,
               CASE WHEN n_pred = 0 THEN 0
                    ELSE (tp * 1000000) // n_pred END AS precision_ppm,
               CASE WHEN n_actual = 0 THEN 0
                    ELSE (tp * 1000000) // n_actual END AS recall_ppm
        FROM j
    )
    SELECT class, n_actual, n_pred, tp,
           CAST(precision_ppm AS BIGINT) AS precision_ppm,
           CAST(recall_ppm AS BIGINT) AS recall_ppm,
           CAST(CASE WHEN precision_ppm + recall_ppm = 0 THEN 0
                     ELSE (2 * precision_ppm * recall_ppm)
                          // (precision_ppm + recall_ppm) END AS BIGINT)
               AS f1_ppm
    FROM pr ORDER BY class
    """,
    doc="Per-class precision / recall / F1 of the NB language "
        "classifier in exact integer ppm — the evaluation table a "
        "quality-gate owner reads, derived from the same doc-level "
        "decision CTE chain as the confusion matrix (one shared "
        "derivation, two reports). Zero-denominator classes (never "
        "predicted / absent from truth) report 0, identically on both "
        "engines; F1 is the ppm harmonic mean 2PR div (P+R). All "
        "arithmetic on the class-bounded confusion frame — free at "
        "any corpus size once the classifier has scored.",
    tags=("text", "ml"),
)
def classifier_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.classify import nb_predict
    d = load_table(spark, sf_dir, "documents")
    conf = (nb_predict(d).groupBy("actual", "predicted")
            .agg(F.count("*").cast("long").alias("n")))
    pside = (conf.groupBy(F.col("predicted").alias("class"))
                 .agg(F.sum("n").cast("long").alias("n_pred"),
                      F.sum(F.when(F.col("actual") == F.col("predicted"),
                                   F.col("n")).otherwise(F.lit(0)))
                       .cast("long").alias("tp")))
    aside = (conf.groupBy(F.col("actual").alias("class"))
                 .agg(F.sum("n").cast("long").alias("n_actual")))
    j = (pside.join(aside, "class", "full")
              .select("class",
                      F.coalesce("n_actual", F.lit(0)).alias("n_actual"),
                      F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
                      F.coalesce("tp", F.lit(0)).alias("tp")))
    pr = j.select(
        "class", "n_actual", "n_pred", "tp",
        F.expr("CASE WHEN n_pred = 0 THEN 0 "
               "ELSE (tp * 1000000) div n_pred END").alias("precision_ppm"),
        F.expr("CASE WHEN n_actual = 0 THEN 0 "
               "ELSE (tp * 1000000) div n_actual END").alias("recall_ppm"))
    return (pr.select(
                "class", "n_actual", "n_pred", "tp",
                F.col("precision_ppm").cast("long").alias("precision_ppm"),
                F.col("recall_ppm").cast("long").alias("recall_ppm"),
                F.expr("CAST(CASE WHEN precision_ppm + recall_ppm = 0 "
                       "THEN 0 ELSE (2 * precision_ppm * recall_ppm) "
                       "div (precision_ppm + recall_ppm) END AS BIGINT)")
                 .alias("f1_ppm"))
              .orderBy("class"))


# ---------------------------------------------------------------------------
# Hashed linear probe (delta-rule GD in fixed point) — ops/classify.py.
# The oracle replays TRAINING ITSELF: each gradient-descent iteration
# unrolls to a MATERIALIZED CTE block (the knn_graph_kcore discipline),
# exact because every update is integer/micro-unit arithmetic with IEEE
# +,*,/ and floor only — no libm anywhere in the loop.
# ---------------------------------------------------------------------------

from hops_spark.ops.classify import LP_HALF, LP_MICRO, LP_SAT  # noqa: E402

LP_DIM = 64       # hashed feature buckets (+1 bias row at feat=LP_DIM)
LP_ITERS = 3      # unrolled GD iterations (oracle CTE blocks)
LP_LRN = 1        # learning rate numerator /
LP_LRD = 1        #   denominator (rate = LRN/LRD)
LP_SEED = "lp"

_LP_BASE_CTES = f"""
    WITH wt AS MATERIALIZED (
        SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
               {_DUCK_WORDS} AS w
        FROM documents
    ), n AS (
        SELECT count(*) AS nd FROM wt
    ), feats AS MATERIALIZED (
        SELECT doc_id, y, feat,
               CAST(FLOOR(cnt * {LP_MICRO}.0 / tot) AS BIGINT) AS x
        FROM (
            SELECT doc_id, y, feat, count(*) AS cnt,
                   sum(count(*)) OVER (PARTITION BY doc_id, y) AS tot
            FROM (SELECT doc_id, y,
                         CAST(('0x' || substring(md5('{LP_SEED}' || tk),
                                                 1, 15))
                              AS BIGINT) % {LP_DIM} AS feat
                  FROM (SELECT doc_id, y, unnest(w) AS tk FROM wt) t) b
            GROUP BY doc_id, y, feat
        ) c
        UNION ALL
        SELECT doc_id, y, {LP_DIM} AS feat,
               CAST({LP_MICRO} AS BIGINT) AS x FROM wt
    ), w0 AS (
        SELECT CAST(unnest(range(0, {LP_DIM + 1})) AS BIGINT) AS feat,
               CAST(0 AS BIGINT) AS w_micro
    )"""


def _lp_margin_cte(name: str, w_cte: str) -> str:
    return f"""{name} AS MATERIALIZED (
        SELECT f.doc_id, f.y,
               CAST(FLOOR(sum(w.w_micro * f.x) / {LP_MICRO}.0) AS BIGINT)
                   AS margin
        FROM feats f JOIN {w_cte} w USING (feat)
        GROUP BY f.doc_id, f.y
    )"""


def _lp_iter_ctes(iters: int) -> str:
    """One gradient-descent round = margin -> error -> gradient ->
    weight-update CTEs; `iters` rounds chained w0 -> w{iters}."""
    blocks = []
    for t in range(iters):
        blocks.append(f"""{_lp_margin_cte(f"m{t}", f"w{t}")}, e{t} AS MATERIALIZED (
        SELECT doc_id,
               CAST(least(greatest({LP_HALF} + FLOOR(margin / 4.0), 0),
                          {LP_MICRO}) AS BIGINT) - y * {LP_MICRO} AS err,
               (margin > -{LP_SAT} AND margin < {LP_SAT}) AS inside
        FROM m{t}
    ), g{t} AS MATERIALIZED (
        SELECT f.feat,
               CAST(sum(CASE WHEN e.inside
                             THEN CAST(FLOOR(e.err * f.x / {LP_MICRO}.0)
                                       AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS g
        FROM feats f JOIN e{t} e USING (doc_id)
        GROUP BY f.feat
    ), w{t + 1} AS MATERIALIZED (
        SELECT w.feat,
               w.w_micro - CAST(FLOOR(COALESCE(g.g, 0) * {LP_LRN}
                                      / (4.0 * {LP_LRD} * n.nd))
                                AS BIGINT) AS w_micro
        FROM w{t} w LEFT JOIN g{t} g USING (feat) CROSS JOIN n
    )""")
    return ", ".join(blocks)


def _lp_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").withColumn(
        "y", (F.col("source") == "src0").cast("int"))


@register(
    "linear_probe_train",
    sql=f"""{_LP_BASE_CTES}, {_lp_iter_ctes(LP_ITERS)}
    SELECT feat, w_micro FROM w{LP_ITERS} ORDER BY feat
    """,
    doc="Hashed linear-probe quality classifier, TRAINED DISTRIBUTED "
        "(the fastText/DCLM learned-gate role; delta rule / ADALINE, "
        "public): bag-of-words folded into LP_DIM md5 buckets + bias, "
        "full-batch gradient descent with a hard sigmoid in fixed-point "
        "micro-units — integer sums (fold-order-proof), exact dyadic "
        "divisions, floor updates, so the DuckDB oracle replays the "
        "whole training loop bit-for-bit as unrolled MATERIALIZED "
        "CTEs. Output: the final weight vector (LP_DIM+1 BIGINT rows). "
        "Per iteration: one keyed agg + one keyed join + one dim-cell "
        "agg; the model is driver metadata (codebook idiom).",
    tags=("text", "ml", "north-star"),
)
def linear_probe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.classify import train_linear_probe
    w = train_linear_probe(_lp_docs(spark, sf_dir), dim=LP_DIM,
                           iters=LP_ITERS, lr_num=LP_LRN, lr_den=LP_LRD,
                           seed=LP_SEED)
    rows = [(i, int(wi)) for i, wi in enumerate(w)]
    return (spark.createDataFrame(rows, "feat bigint, w_micro bigint")
                 .orderBy("feat"))


@register(
    "linear_probe_eval",
    sql=f"""{_LP_BASE_CTES}, {_lp_iter_ctes(LP_ITERS)},
    {_lp_margin_cte("mf", f"w{LP_ITERS}")}, scored AS (
        SELECT y,
               CASE WHEN CAST(least(greatest({LP_HALF} + FLOOR(margin / 4.0),
                                             0), {LP_MICRO}) AS BIGINT)
                         >= {LP_HALF}
                    THEN 1 ELSE 0 END AS pred
        FROM mf
    )
    SELECT y, pred, CAST(count(*) AS BIGINT) AS n
    FROM scored GROUP BY y, pred ORDER BY y, pred
    """,
    doc="Confusion matrix of the trained linear probe scored back over "
        "the corpus (train + one scoring pass, all inside the same "
        "deterministic fixed-point arithmetic as linear_probe_train).",
    tags=("text", "ml"),
)
def linear_probe_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.classify import (_persisted_feats,
                                         _train_on_feats,
                                         linear_probe_scores)
    d = _lp_docs(spark, sf_dir)
    # one persisted id-partitioned feature table feeds training AND the
    # scoring pass (optimization r12 — the features were built twice)
    feats, n_docs = _persisted_feats(d, "doc_id", "text", "y",
                                     LP_DIM, LP_SEED)
    w = _train_on_feats(feats, n_docs, "doc_id", LP_ITERS,
                        LP_LRN, LP_LRD, LP_DIM)
    return (linear_probe_scores(d, w, dim=LP_DIM, seed=LP_SEED,
                                feats=feats)
            .groupBy(F.col("_y").alias("y"), "pred")
            .agg(F.count("*").alias("n"))
            .orderBy("y", "pred"))


LP_BINS = 10   # reliability-diagram bins over p in [0, 1]


@register(
    "probe_calibration",
    sql=f"""{_LP_BASE_CTES}, {_lp_iter_ctes(LP_ITERS)},
    {_lp_margin_cte("mf", f"w{LP_ITERS}")}, scored AS (
        SELECT y,
               CAST(least(greatest({LP_HALF} + FLOOR(margin / 4.0), 0),
                          {LP_MICRO}) AS BIGINT) AS p
        FROM mf
    ), binned AS (
        SELECT least((p * {LP_BINS}) // {LP_MICRO}, {LP_BINS - 1}) AS bin,
               y, p
        FROM scored
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(sum(p) // count(*) AS BIGINT) AS conf_micro,
           CAST((sum(y) * {LP_MICRO}) // count(*) AS BIGINT) AS emp_micro,
           CAST(abs(sum(p) // count(*)
                    - (sum(y) * {LP_MICRO}) // count(*)) AS BIGINT)
               AS gap_micro
    FROM binned GROUP BY bin ORDER BY bin
    """,
    doc="Reliability diagram of the trained linear probe (Guo et al. "
        "2017's calibration framing; DeGroot & Fienberg 1983): scores "
        "bucketed into 10 equal-width probability bins, per bin the "
        "mean predicted confidence vs the empirical positive rate and "
        "their |gap| — all in integer micro-units off ONE keyed "
        "histogram aggregate. The artifact that decides whether a "
        "probe's keep-threshold can be trusted as a probability (the "
        "per-bin gaps ARE the ECE terms, n-weighted). Training replays "
        "inside the oracle exactly as linear_probe_train.",
    tags=("text", "ml", "north-star"),
)
def probe_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the bin stats + derived table are the SHARED derivation the
    # streaming calibration monitor folds (ops/classify.calibration_*)
    from hops_spark.ops.classify import (_persisted_feats,
                                         _train_on_feats,
                                         calibration_bin_stats,
                                         calibration_from_bin_stats,
                                         linear_probe_scores)
    d = _lp_docs(spark, sf_dir)
    # one persisted id-partitioned feature table feeds training AND the
    # scoring pass (optimization r12 — the features were built twice)
    feats, n_docs = _persisted_feats(d, "doc_id", "text", "y",
                                     LP_DIM, LP_SEED)
    w = _train_on_feats(feats, n_docs, "doc_id", LP_ITERS,
                        LP_LRN, LP_LRD, LP_DIM)
    s = linear_probe_scores(d, w, dim=LP_DIM, seed=LP_SEED, feats=feats)
    return (calibration_from_bin_stats(calibration_bin_stats(s, LP_BINS))
            .select("bin", "n", "n_pos", "conf_micro", "emp_micro",
                    "gap_micro")
            .orderBy("bin"))


KL_TOP_K = 100


@register(
    "corpus_kl_drift",
    sql=f"""
    WITH wref AS (
        SELECT {_DUCK_WORDS} AS w FROM documents WHERE doc_id % 2 = 0
    ), wcur AS (
        SELECT {_DUCK_WORDS} AS w FROM documents WHERE doc_id % 2 = 1
    ), cr AS (
        SELECT t AS token, CAST(count(*) AS BIGINT) AS c_ref
        FROM (SELECT unnest(w) AS t FROM wref) GROUP BY t
    ), cc AS (
        SELECT t AS token, CAST(count(*) AS BIGINT) AS c_cur
        FROM (SELECT unnest(w) AS t FROM wcur) GROUP BY t
    ), fj AS (
        SELECT token, coalesce(c_ref, 0) AS c_ref, coalesce(c_cur, 0) AS c_cur
        FROM cr FULL OUTER JOIN cc USING (token)
    ), tot AS (
        SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
               CAST(sum(c_cur) AS BIGINT) AS n_cur,
               CAST(count(*) AS BIGINT) AS v
        FROM fj
    ), scored AS (
        SELECT token, c_ref, c_cur,
               CAST(round(ln(CAST((c_cur + 1) * (n_ref + v) AS DOUBLE)
                             / CAST((c_ref + 1) * (n_cur + v) AS DOUBLE))
                          * 1000000, 0) AS BIGINT) AS lr_micro
        FROM fj CROSS JOIN tot
    ), scored2 AS (
        SELECT token, c_ref, c_cur, lr_micro,
               (c_cur + 1) * lr_micro AS contrib
        FROM scored
    ), total AS (
        SELECT CAST(sum(contrib) // ((SELECT n_cur FROM tot)
                                     + (SELECT v FROM tot)) AS BIGINT)
                   AS kl_total_micro
        FROM scored2
    )
    SELECT token, c_ref, c_cur, lr_micro, contrib, kl_total_micro
    FROM scored2 CROSS JOIN total
    ORDER BY contrib DESC, token
    LIMIT {KL_TOP_K}
    """,
    doc="Corpus snapshot drift monitor (ops/lm.corpus_kl_drift): "
        "KL(cur || ref) over token distributions with add-one "
        "smoothing — the mixture/contamination check a training "
        "pipeline runs between crawl snapshots. Fixture splits "
        "documents by doc_id parity. Integer-exact: the log-ratio is "
        "ONE division of two exact int64 products snapped to "
        "micro-nats per token BEFORE summing (the lm.py determinism "
        "contract); top-100 drifted tokens emitted with the FULL-vocab "
        "total riding on every row. Two linear count aggregates, one "
        "vocab-bounded full-outer join, two 1-row broadcast "
        "aggregates, TakeOrdered — no global window.",
    tags=("text", "north-star"),
)
def corpus_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.lm import corpus_kl_drift as _drift
    d = load_table(spark, sf_dir, "documents")
    return _drift(d.filter(F.col("doc_id") % 2 == 0),
                  d.filter(F.col("doc_id") % 2 == 1),
                  top_k=KL_TOP_K)


CHUNK_W = 32   # tokens per chunk (context-window size)
CHUNK_S = 24   # stride (CHUNK_W - CHUNK_S = 8 tokens of overlap)


@register(
    "doc_chunk_windows",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), nz AS (
        SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n
        FROM wt WHERE len(w) > 0
    ), ch AS (
        SELECT doc_id, n, w,
               unnest(range(CASE WHEN n <= {CHUNK_W} THEN 1
                            ELSE ((n - {CHUNK_W}) + {CHUNK_S} - 1)
                                 // {CHUNK_S} + 1 END)) AS k
        FROM nz
    ), sl AS (
        SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
               w[k * {CHUNK_S} + 1 : k * {CHUNK_S} + {CHUNK_W}] AS tok
        FROM ch
    )
    SELECT doc_id, chunk_id,
           CAST(len(tok) AS BIGINT) AS n_tokens,
           md5(array_to_string(tok, ' ')) AS chunk_digest
    FROM sl
    ORDER BY doc_id, chunk_id
    """,
    doc="Overlapping token-window chunking (the RAG / context-window "
        "prep op): each document becomes ceil((n-W)/S)+1 chunks of "
        "W=32 tokens at stride S=24 (8-token overlap so no boundary "
        "context is lost), with a deterministic md5 digest certifying "
        "every chunk's exact token content. Map-only: the chunk index "
        "range and slices are array-side Column arithmetic inside "
        "codegen — zero shuffles before the output sort, so at 100 TB "
        "this is a pure scan whose output feeds embedding/indexing "
        "stages directly. The final (possibly short) chunk is kept — "
        "slice clamps at the document end identically in both engines.",
    tags=("text", "north-star"),
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.text import chunk_token_windows
    d = load_table(spark, sf_dir, "documents")
    return (chunk_token_windows(d, "doc_id", "text", CHUNK_W, CHUNK_S)
            .select("doc_id", "chunk_id",
                    F.size("tok").cast("long").alias("n_tokens"),
                    F.md5(F.concat_ws(" ", "tok")).alias("chunk_digest"))
            .orderBy("doc_id", "chunk_id"))


@register(
    "domain_mixture_report",
    sql=f"""
    WITH base AS (
        SELECT source, lang, n_chars,
               CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tok
        FROM documents
    ), per_src AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM base GROUP BY source
    ), sl AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY source, lang
    ), ent AS (
        SELECT sl.source,
               CAST(sum(sl.c * CAST(round(ln(CAST(p.n_docs AS DOUBLE)
                                             / CAST(sl.c AS DOUBLE))
                                          * 1000000, 0) AS BIGINT))
                    // max(p.n_docs) AS BIGINT) AS lang_entropy_micro
        FROM sl JOIN per_src p USING (source) GROUP BY sl.source
    ), tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM per_src
    )
    SELECT p.source, p.n_docs, p.n_tokens, p.mean_chars, p.n_langs,
           e.lang_entropy_micro,
           CAST((p.n_docs * 1000000) // t.total_docs AS BIGINT) AS share_ppm
    FROM per_src p JOIN ent e USING (source) CROSS JOIN tot t
    ORDER BY p.source
    """,
    doc="Training-mixture composition report per crawl source (the "
        "Pile/Dolma-style domain table that sets data-mixing weights): "
        "docs, tokens, mean chars, language spread, per-source LANGUAGE "
        "ENTROPY H = sum c_l/n * ln(n/c_l) in integer micro-nats "
        "(per-element snap-then-integer-sum — the lm.py determinism "
        "contract; a domain whose entropy collapses got flooded by one "
        "language), and corpus share in ppm. All linear keyed "
        "aggregates with map-side combine + two tiny broadcast joins "
        "— the report costs one scan at any corpus size.",
    tags=("text", "north-star"),
)
def domain_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("source", "lang", "n_chars",
                    F.size(words("text")).cast("long").alias("n_tok"))
    per_src = (base.groupBy("source")
               .agg(F.count("*").cast("long").alias("n_docs"),
                    F.sum("n_tok").cast("long").alias("n_tokens"),
                    F.expr("CAST(sum(n_chars) div count(*) AS BIGINT)")
                     .alias("mean_chars"),
                    F.countDistinct("lang").cast("long").alias("n_langs")))
    sl = (base.groupBy("source", "lang")
              .agg(F.count("*").cast("long").alias("c")))
    ent = (sl.join(per_src.select("source", "n_docs"), "source")
             .withColumn("term",
                         F.col("c") * F.expr(
                             "CAST(round(ln(CAST(n_docs AS DOUBLE) "
                             "/ CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT)"))
             .groupBy("source")
             .agg(F.expr("CAST(sum(term) div max(n_docs) AS BIGINT)")
                   .alias("lang_entropy_micro")))
    tot = per_src.agg(F.sum("n_docs").cast("long").alias("total_docs"))
    return (per_src.join(ent, "source")
                   .crossJoin(F.broadcast(tot))
                   .select("source", "n_docs", "n_tokens", "mean_chars",
                           "n_langs", "lang_entropy_micro",
                           F.expr("CAST((n_docs * 1000000) div total_docs "
                                  "AS BIGINT)").alias("share_ppm"))
                   .orderBy("source"))


# --- DoReMi-shaped mixture optimization ----------------------------------

from hops_spark.ops.mixture import DRM_MILLI  # noqa: E402  (shared with
# the online mixture controller — ops/mixture.py owns the arithmetic)

# CTE chain producing the per-domain mixture table (shared by the
# design query and the execution/sampling query below).
_DRM_CTES = f"""wt AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), bg AS (
        SELECT doc_id, w[i.i] AS w1, w[i.i + 1] AS w2
        FROM wt, LATERAL (SELECT unnest(range(1, len(w))) AS i) i
        WHERE len(w) >= 2
    ), cnt AS (
        SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2
    ), ctx AS (
        SELECT w1, CAST(sum(n) AS BIGINT) AS n_ctx FROM cnt GROUP BY w1
    ), v AS (
        SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM cnt
    ), sc AS (
        SELECT c.w1, c.w2,
               CAST(round(-ln((c.n + 1) / CAST(x.n_ctx + v.v AS DOUBLE))
                          * 1000000, 0) AS BIGINT) AS nlp_micro
        FROM cnt c JOIN ctx x USING (w1) CROSS JOIN v
    ), per AS (
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(s.nlp_micro) AS BIGINT) AS nll_sum
        FROM bg b
        JOIN sc s ON b.w1 = s.w1 AND b.w2 = s.w2
        JOIN documents d ON d.doc_id = b.doc_id
        GROUP BY d.source
    ), ref AS (
        SELECT CAST(sum(nll_sum) // sum(n_tokens) AS BIGINT) AS ref_micro,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM per
    ), m AS (
        SELECT source, n_tokens,
               nll_sum // n_tokens AS nll_tok_micro,
               greatest(nll_sum // n_tokens - ref_micro, 0) AS excess_micro,
               (n_tokens * 1000000) // total_tokens AS w0_ppm
        FROM per, ref
    ), s AS (
        SELECT *, w0_ppm * ((1000000 + excess_micro) // {DRM_MILLI}) AS sw
        FROM m
    ), ts AS (
        SELECT CAST(sum(sw) AS BIGINT) AS t FROM s
    ), base AS (
        SELECT s.*, (1000000 * sw) // ts.t AS base_n,
               (1000000 * sw) % ts.t AS rem
        FROM s, ts
    ), leftover AS (
        SELECT 1000000 - CAST(sum(base_n) AS BIGINT) AS k FROM base
    ), ranked AS (
        SELECT b.*,
               (SELECT count(*) FROM base o
                WHERE o.rem > b.rem
                   OR (o.rem = b.rem AND o.source < b.source)) AS r
        FROM base b
    ), mixture AS (
        SELECT source, n_tokens,
               CAST(nll_tok_micro AS BIGINT) AS nll_tok_micro,
               CAST(excess_micro AS BIGINT) AS excess_micro,
               CAST(w0_ppm AS BIGINT) AS w0_ppm,
               CAST(base_n + (CASE WHEN r < k THEN 1 ELSE 0 END) AS BIGINT)
                   AS weight_ppm
        FROM ranked, leftover
    )"""


@register(
    "domain_mixture_doremi",
    sql=f"""
    WITH {_DRM_CTES}
    SELECT * FROM mixture ORDER BY source
    """,
    doc="DoReMi-shaped training-mixture reweighting (Xie et al. 2023; "
        "linearized multiplicative-weights step, Arora-Hazan-Kale "
        "2012): per-domain EXCESS loss — mean bigram-LM micro-nats "
        "per token above the corpus-wide reference, clipped at 0 — "
        "drives w_d ∝ share_d · (1 + excess_d), so hard-for-the-proxy "
        "domains get upweighted from their token share exactly as "
        "DoReMi's update prescribes, in pure integer arithmetic (the "
        "exp() form would hinge on cross-libm bit-equality). Final "
        "weights are largest-remainder normalized to EXACTLY 1e6 ppm "
        "(the neyman_allocation Hamilton machinery). Cost: the "
        "doc_perplexity count-table job + one domain-bounded "
        "aggregate; the mixture table a data-scheduling run consumes "
        "directly. ops/lm.doc_nll_scores.",
    tags=("text", "north-star", "ml"),
)
def domain_mixture_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doremi_mixture(spark, sf_dir).orderBy("source")


def _doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain mixture table, SELF-scored (the LM is built from the
    corpus being scored — the registered, oracle-replayed face). The
    sufficient statistics feed the SAME mixture_from_domain_stats
    derivation the online controller (streaming.mixture_batch_update,
    frozen-scorer face) uses — one arithmetic, two scoring modes."""
    from hops_spark.ops.mixture import (mixture_from_domain_stats,
                                        self_scored_domain_stats)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    # the domain label rides through the per-doc count table, so the
    # stats aggregate by source directly — no per-doc aggregate, no
    # doc_id→source join (optimization r12, guide §2.4); the integer
    # sums regroup to identical values
    return mixture_from_domain_stats(self_scored_domain_stats(d))


@register(
    "mixture_schedule_sample",
    sql=f"""
    WITH {_DRM_CTES}, rated AS (
        -- zero-share guard: a domain under one-millionth of the tokens
        -- has w0_ppm = 0; it cannot be upsampled, so it keeps
        -- everything (rate 1e6) instead of dividing by zero (DuckDB
        -- errors, Spark divs to NULL -- engine-divergent)
        SELECT source, w0_ppm, weight_ppm,
               CASE WHEN w0_ppm = 0 THEN NULL
                    ELSE (weight_ppm * 1000000) // w0_ppm END AS r_raw
        FROM mixture
    ), mx AS (
        SELECT CAST(max(r_raw) AS BIGINT) AS m FROM rated
    ), rates AS (
        SELECT source, w0_ppm, weight_ppm,
               CAST(CASE WHEN r_raw IS NULL THEN 1000000
                         ELSE (r_raw * 1000000) // m END AS BIGINT)
                   AS rate_ppm
        FROM rated, mx
    ), docs2 AS (
        SELECT d.doc_id, d.source,
               greatest(CAST(len({_DUCK_WORDS}) AS BIGINT) - 1, 0) AS nb,
               ('0x' || substring(md5('mix|' || CAST(d.doc_id AS VARCHAR)),
                                  1, 7))::BIGINT % 1000000 AS h
        FROM documents d
    ), gated AS (
        SELECT d2.source, d2.nb, r.rate_ppm, r.weight_ppm,
               (d2.h < r.rate_ppm) AS kept
        FROM docs2 d2 JOIN rates r USING (source)
    ), kept_per AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(max(rate_ppm) AS BIGINT) AS rate_ppm,
               CAST(max(weight_ppm) AS BIGINT) AS target_ppm,
               CAST(sum(CASE WHEN kept THEN nb ELSE 0 END) AS BIGINT)
                   AS kept_tokens
        FROM gated GROUP BY source
    ), tk AS (
        SELECT CAST(sum(kept_tokens) AS BIGINT) AS t FROM kept_per
    )
    SELECT source, n_docs, n_kept, rate_ppm, kept_tokens,
           -- zero-total guard (same discipline as the w0_ppm guard
           -- above): if every kept doc has < 2 words, t = 0 and the
           -- division is engine-divergent (DuckDB raises, Spark NULLs)
           CAST(CASE WHEN tk.t = 0 THEN 0
                     ELSE (kept_tokens * 1000000) // tk.t END
                AS BIGINT) AS achieved_ppm,
           target_ppm
    FROM kept_per, tk
    ORDER BY source
    """,
    doc="EXECUTE the DoReMi mixture (the design/execution pairing of "
        "neyman_allocation/neyman_sample): per-domain keep-rate ∝ "
        "target weight / current token share, scaled so the most "
        "upweighted domain keeps everything (downsample-only — "
        "repetition is a schedule concern, not a filter's), gated per "
        "doc by a deterministic md5 draw (engine-portable, "
        "rerun-stable). Output: per-domain kept counts, the realized "
        "kept-token share vs the target in ppm — the achieved-vs-"
        "designed audit a mixing run ships with. One broadcast join "
        "of the domain-bounded rate table + one scan.",
    tags=("text", "ml", "sampling"),
)
def mixture_schedule_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.litfast import df_from_rows
    # the mixture is a literal domain-bounded frame (codebook idiom);
    # the keep-rate arithmetic is exact Python ints off one cheap
    # collect — the former 3-step broadcast-join chain spent tiny
    # exchanges on ≤ #domains rows (optimization r12). Zero-share
    # guard: w0_ppm = 0 (domain under one ppm of the tokens) cannot
    # be upsampled -> rate 1e6, never a division (the DuckDB-raises /
    # Spark-NULLs engine divergence).
    mrows = (_doremi_mixture(spark, sf_dir)
             .select("source", "w0_ppm", "weight_ppm").collect())
    r_raw = {r["source"]: (None if r["w0_ppm"] == 0 else
                           (r["weight_ppm"] * 1_000_000) // r["w0_ppm"])
             for r in mrows}
    mxs = [v for v in r_raw.values() if v is not None]
    m = max(mxs) if mxs else None
    rates = df_from_rows(
        spark,
        [{"source": r["source"], "weight_ppm": r["weight_ppm"],
          "rate_ppm": (1_000_000 if r_raw[r["source"]] is None
                       else (r_raw[r["source"]] * 1_000_000) // m)}
         for r in mrows],
        [("source", "string"), ("weight_ppm", "long"),
         ("rate_ppm", "long")])
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    docs2 = d.select(
        "source",
        F.greatest(F.size(words("text")).cast("long") - 1,
                   F.lit(0)).alias("nb"),
        F.pmod(F.conv(F.substring(
            F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))),
            1, 7), 16, 10).cast("long"), F.lit(1_000_000)).alias("h"))
    gated = (docs2.join(F.broadcast(rates), "source")
                  .withColumn("kept", F.col("h") < F.col("rate_ppm")))
    per = (gated.groupBy("source")
                .agg(F.count("*").cast("long").alias("n_docs"),
                     F.sum(F.col("kept").cast("long")).cast("long")
                      .alias("n_kept"),
                     F.max("rate_ppm").cast("long").alias("rate_ppm"),
                     F.max("weight_ppm").cast("long").alias("target_ppm"),
                     F.sum(F.when(F.col("kept"), F.col("nb"))
                            .otherwise(F.lit(0))).cast("long")
                      .alias("kept_tokens")))
    tk = per.agg(F.sum("kept_tokens").cast("long").alias("t"))
    return (per.crossJoin(F.broadcast(tk))
               .select("source", "n_docs", "n_kept", "rate_ppm",
                       "kept_tokens",
                       # zero-total guard mirrored from the oracle: if
                       # every kept doc has < 2 words, t = 0 (DuckDB
                       # raises, Spark divs to NULL -- engine-divergent)
                       F.expr("CAST(CASE WHEN t = 0 THEN 0 "
                              "ELSE (kept_tokens * 1000000) div t END "
                              "AS BIGINT)").alias("achieved_ppm"),
                       "target_ppm")
               .orderBy("source"))


ANNEAL_K = 4   # anneal steps: step 0 = DoReMi mixture, step K = uniform

# The per-step Hamilton anneal chain, shared by the schedule query and
# its execution companion (anneal_step_sample) — one derivation.
_ANL_CTES = f"""{_DRM_CTES}, mixmat AS MATERIALIZED (
        -- DuckDB inlines plain CTEs PER REFERENCE; the DoReMi chain
        -- behind `mixture` is the whole count-table job, and the
        -- anneal/execution queries reference it several times —
        -- materialize the <= n_domains-row result once (measured
        -- 190 s -> seconds on anneal_step_sample's oracle face; the
        -- Spark face's localCheckpoint is the same fix, note 109)
        SELECT * FROM mixture
    ), stp AS (
        SELECT unnest(range(0, {ANNEAL_K} + 1)) AS step
    ), nd AS (
        SELECT CAST(count(*) AS BIGINT) AS n_dom FROM mixmat
    ), araw AS (
        SELECT s.step, m.source,
               CAST(({ANNEAL_K} - s.step) * m.weight_ppm * nd.n_dom
                    + s.step * 1000000 AS BIGINT) AS rw
        FROM mixmat m, stp s, nd
    ), att AS (
        SELECT step, CAST(sum(rw) AS BIGINT) AS t FROM araw GROUP BY step
    ), abase AS (
        SELECT r.step, r.source,
               (1000000 * rw) // t AS base_n,
               (1000000 * rw) % t AS rem
        FROM araw r JOIN att USING (step)
    ), alo AS (
        SELECT step, 1000000 - CAST(sum(base_n) AS BIGINT) AS k
        FROM abase GROUP BY step
    ), ark AS (
        SELECT b.*,
               (SELECT count(*) FROM abase o
                WHERE o.step = b.step
                  AND (o.rem > b.rem
                       OR (o.rem = b.rem AND o.source < b.source))) AS r
        FROM abase b
    ), anneal AS MATERIALIZED (
        SELECT CAST(ark.step AS INT) AS step, ark.source,
               CAST(base_n + (CASE WHEN r < k THEN 1 ELSE 0 END)
                    AS BIGINT) AS weight_ppm
        FROM ark JOIN alo ON alo.step = ark.step
    )"""


@register(
    "mixture_anneal_schedule",
    sql=f"""
    WITH {_ANL_CTES}
    SELECT step, source, weight_ppm FROM anneal ORDER BY step, source
    """,
    doc="Step-indexed mixture ANNEALING schedule: linear interpolation "
        "from the DoReMi-optimized mixture (step 0) to uniform (step "
        f"{ANNEAL_K}) — the curriculum/annealing plan between an "
        "optimized data mixture and the anneal-to-uniform end state "
        "(MiniCPM's WSD data schedule; Blakeney et al. 2024 end-of-"
        "training reweighting). Raw step weights are exact integers "
        "(multiplying through by n_domains avoids the uniform-share "
        "division); each step is Hamilton-normalized to EXACTLY 1e6 "
        "ppm — per-step apportionment via one broadcast self-join. "
        "(K+1)*n_domains rows; every frame domain-bounded. "
        "ops/mixture.anneal_schedule.",
    tags=("text", "ml", "sampling"),
)
def mixture_anneal_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.mixture import anneal_schedule
    mix = _doremi_mixture(spark, sf_dir)
    return anneal_schedule(mix, steps=ANNEAL_K)


@register(
    "anneal_step_sample",
    sql=f"""
    WITH {_ANL_CTES}, arated AS (
        -- zero-share guard: the mixture_schedule_sample rule, per step
        SELECT a.step, a.source, m.w0_ppm, a.weight_ppm,
               CASE WHEN m.w0_ppm = 0 THEN NULL
                    ELSE (a.weight_ppm * 1000000) // m.w0_ppm END AS r_raw
        FROM anneal a JOIN mixmat m USING (source)
    ), amx AS (
        SELECT step, CAST(max(r_raw) AS BIGINT) AS mx
        FROM arated GROUP BY step
    ), arates AS (
        SELECT r.step, r.source, r.weight_ppm,
               CAST(CASE WHEN r_raw IS NULL THEN 1000000
                         ELSE (r_raw * 1000000) // mx END AS BIGINT)
                   AS rate_ppm
        FROM arated r JOIN amx USING (step)
    ), adocs AS (
        SELECT d.source,
               greatest(CAST(len({_DUCK_WORDS}) AS BIGINT) - 1, 0) AS nb,
               ('0x' || substring(md5('mix|' || CAST(d.doc_id AS VARCHAR)),
                                  1, 7))::BIGINT % 1000000 AS h
        FROM documents d
    ), agated AS (
        SELECT r.step, d.source, d.nb, r.rate_ppm, r.weight_ppm,
               (d.h < r.rate_ppm) AS kept
        FROM adocs d JOIN arates r USING (source)
    ), akept AS MATERIALIZED (
        SELECT step, source,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(max(rate_ppm) AS BIGINT) AS rate_ppm,
               CAST(max(weight_ppm) AS BIGINT) AS target_ppm,
               CAST(sum(CASE WHEN kept THEN nb ELSE 0 END) AS BIGINT)
                   AS kept_tokens
        FROM agated GROUP BY step, source
    ), atot AS (
        SELECT step, CAST(sum(kept_tokens) AS BIGINT) AS t
        FROM akept GROUP BY step
    )
    SELECT k.step, k.source, n_kept, rate_ppm, kept_tokens,
           CAST(CASE WHEN t = 0 THEN 0
                     ELSE (kept_tokens * 1000000) // t END AS BIGINT)
               AS achieved_ppm,
           target_ppm
    FROM akept k JOIN atot USING (step)
    ORDER BY step, source
    """,
    doc="EXECUTE the annealing curriculum (the design/execution "
        "pairing of mixture_anneal_schedule, exactly as neyman_sample "
        "executes neyman_allocation): per training step, per-domain "
        "keep-rates ∝ step weight / token share scaled so the most "
        "upweighted domain keeps everything, gated per doc by the "
        "SAME deterministic md5 draw at every step — so a domain's "
        "kept sets are NESTED across steps (a doc that survives a "
        "tighter step survives every looser one: the curriculum "
        "property that lets shards be materialized once and "
        "prefix-sliced per step). Emits realized vs target token "
        "share per (step, domain). ONE corpus scan joined to the "
        "(K+1)·n_domains broadcast rate table; two bounded keyed "
        "aggregates. ops/mixture.anneal_schedule.",
    tags=("text", "ml", "sampling"),
)
def anneal_step_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.litfast import df_from_rows
    from hops_spark.ops.mixture import anneal_schedule
    # mixture + anneal schedule are literal domain-bounded frames
    # (codebook idiom); the per-step keep-rate arithmetic runs in
    # exact Python ints off two cheap collects — the former
    # join/agg/join chain spent tiny exchanges on ≤ (K+1)·#domains
    # rows (optimization r12). Zero-share guard per step, as in
    # mixture_schedule_sample.
    mix = _doremi_mixture(spark, sf_dir)
    w0 = {r["source"]: r["w0_ppm"]
          for r in mix.select("source", "w0_ppm").collect()}
    ann = anneal_schedule(mix.select("source", "weight_ppm"),
                          steps=ANNEAL_K).collect()
    r_raw = {(r["step"], r["source"]):
             (None if w0[r["source"]] == 0 else
              (r["weight_ppm"] * 1_000_000) // w0[r["source"]])
             for r in ann}
    mx: dict[int, int] = {}
    for (step, _src), v in r_raw.items():
        if v is not None and (step not in mx or v > mx[step]):
            mx[step] = v
    arates = df_from_rows(
        spark,
        [{"step": r["step"], "source": r["source"],
          "weight_ppm": r["weight_ppm"],
          "rate_ppm": (1_000_000
                       if r_raw[(r["step"], r["source"])] is None
                       else (r_raw[(r["step"], r["source"])] * 1_000_000)
                       // mx[r["step"]])}
         for r in ann],
        [("step", "int"), ("source", "string"), ("weight_ppm", "long"),
         ("rate_ppm", "long")])
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    adocs = d.select(
        "source",
        F.greatest(F.size(words("text")).cast("long") - 1,
                   F.lit(0)).alias("nb"),
        F.pmod(F.conv(F.substring(
            F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))),
            1, 7), 16, 10).cast("long"), F.lit(1_000_000)).alias("h"))
    gated = (adocs.join(F.broadcast(arates), "source")
                  .withColumn("kept", F.col("h") < F.col("rate_ppm")))
    per = (gated.groupBy("step", "source")
                .agg(F.sum(F.col("kept").cast("long")).cast("long")
                      .alias("n_kept"),
                     F.max("rate_ppm").cast("long").alias("rate_ppm"),
                     F.max("weight_ppm").cast("long").alias("target_ppm"),
                     F.sum(F.when(F.col("kept"), F.col("nb"))
                            .otherwise(F.lit(0))).cast("long")
                      .alias("kept_tokens"))
                # (K+1)·n_domains rows, two consumers (atot + the final
                # join) whose lineage is the corpus scan — note-109 rule
                .localCheckpoint(eager=True))
    atot = per.groupBy("step").agg(
        F.sum("kept_tokens").cast("long").alias("t"))
    return (per.join(F.broadcast(atot), "step")
               .select("step", "source", "n_kept", "rate_ppm",
                       "kept_tokens",
                       F.expr("CAST(CASE WHEN t = 0 THEN 0 "
                              "ELSE (kept_tokens * 1000000) div t END "
                              "AS BIGINT)").alias("achieved_ppm"),
                       "target_ppm")
               .orderBy("step", "source"))


CR_DIM = 64   # hashed-BOW dimension for chunk vectors
CR_K = 5
CR_NQ = 3     # query panel: chunk 0 of docs 0..2


@register(
    "chunk_retrieval_topk",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), nz AS (
        SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n
        FROM wt WHERE len(w) > 0
    ), ch AS (
        SELECT doc_id, n, w,
               unnest(range(CASE WHEN n <= {CHUNK_W} THEN 1
                            ELSE ((n - {CHUNK_W}) + {CHUNK_S} - 1)
                                 // {CHUNK_S} + 1 END)) AS k
        FROM nz
    ), chunks AS (
        SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
               w[k * {CHUNK_S} + 1 : k * {CHUNK_S} + {CHUNK_W}] AS tok
        FROM ch
    ), tokr AS (
        SELECT doc_id, chunk_id, unnest(tok) AS tw FROM chunks
    ), hashed AS (
        SELECT doc_id, chunk_id,
               ('0x' || substring(md5('hbow|' || tw), 1, 7))::BIGINT
                   % {CR_DIM} AS b,
               CASE WHEN ('0x' || substring(md5('hbow|' || tw), 8, 1))::BIGINT
                         % 2 = 0 THEN 1 ELSE -1 END AS s
        FROM tokr
    ), cells AS (
        SELECT doc_id, chunk_id, b, CAST(sum(s) AS DOUBLE) AS v
        FROM hashed GROUP BY doc_id, chunk_id, b
    ), dense AS (
        SELECT c.doc_id, c.chunk_id, j.j, COALESCE(cells.v, 0.0) AS x
        FROM (SELECT DISTINCT doc_id, chunk_id FROM cells) c
        CROSS JOIN (SELECT unnest(range(0, {CR_DIM})) AS j) j
        LEFT JOIN cells ON cells.doc_id = c.doc_id
                       AND cells.chunk_id = c.chunk_id AND cells.b = j.j
    ), vv AS (
        SELECT doc_id, chunk_id, list(x ORDER BY j) AS raw
        FROM dense GROUP BY doc_id, chunk_id
    ), unitv AS (
        SELECT doc_id, chunk_id,
               list_transform(raw, x -> x / sqrt(list_sum(
                   list_transform(raw, y -> y * y)))) AS v
        FROM vv
    ), q AS (
        SELECT doc_id AS q_doc, v AS qv FROM unitv
        WHERE doc_id < {CR_NQ} AND chunk_id = 0
    ), scored AS (
        SELECT q.q_doc, u.doc_id AS neighbor_doc,
               u.chunk_id AS neighbor_chunk,
               round(list_cosine_similarity(u.v, q.qv), 6) AS cos_sim
        FROM unitv u CROSS JOIN q
        WHERE u.doc_id <> q.q_doc
    ), ranked AS (
        SELECT q_doc, neighbor_doc, neighbor_chunk, cos_sim,
               row_number() OVER (PARTITION BY q_doc
                                  ORDER BY cos_sim DESC, neighbor_doc,
                                           neighbor_chunk) AS rnk
        FROM scored
    )
    SELECT q_doc, neighbor_doc, neighbor_chunk, cos_sim, rnk
    FROM ranked WHERE rnk <= {CR_K}
    ORDER BY q_doc, rnk
    """,
    doc="Chunk-level retrieval (the RAG serving shape end-to-end): "
        "documents -> overlapping token-window chunks "
        "(ops/text.chunk_token_windows) -> signed feature-hash vectors "
        "per CHUNK (ops/retrieval.hashed_bow_embedding — the plumbing "
        "an external embedding model drops into) -> top-5 cosine "
        "chunks for each query chunk, own-document chunks excluded. "
        "The oracle replays chunking, hashing, normalization, and "
        "every cosine relationally. Query panel is broadcast; at "
        "scale the corpus side swaps brute-force scoring for the "
        "cell-index probe (ann serving path) with the same vectors.",
    tags=("retrieval", "text", "north-star"),
)
def chunk_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.retrieval import hashed_bow_embedding
    from hops_spark.ops.text import chunk_token_windows
    d = load_table(spark, sf_dir, "documents")
    ch = chunk_token_windows(d, "doc_id", "text", CHUNK_W, CHUNK_S)
    chunks = ch.select(
        "doc_id", "chunk_id",
        F.concat_ws("|", F.col("doc_id"), F.col("chunk_id")).alias("cid"),
        F.concat_ws(" ", "tok").alias("ctext"))
    # the (doc, chunk) identity rides INSIDE the vector id and is
    # parsed back out — no meta join (a self-join of the expensive
    # chunk+hash lineage). Materialization is persist()+count below:
    # localCheckpoint was measured WORSE here (14.8 s through the RDD
    # serialization path vs 3.4 s warm columnar cache — SCALE.md note
    # 57). The cached 12k-row table intentionally stays persisted for
    # the driver's later collect; it is small and LRU-evictable.
    emb = (hashed_bow_embedding(chunks, CR_DIM, id_col="cid",
                                text_col="ctext")
           .withColumn("doc_id",
                       F.split("cid", "\\|")[0].cast("long"))
           .withColumn("chunk_id",
                       F.split("cid", "\\|")[1].cast("long"))
           .persist())
    # materialize once: corpus side + broadcast query panel both read
    # the cached 12k-row vectors instead of re-running the chunk+hash
    # lineage; the residual cold-run cost is codegen COMPILE of the
    # dense-assembly/cosine expression trees (12.6 s cold vs 3.4 s
    # warm, data-size-independent — same regime as SCALE.md note 52)
    emb.count()
    queries = (emb.filter((F.col("doc_id") < CR_NQ)
                          & (F.col("chunk_id") == 0))
                  .select(F.col("doc_id").alias("q_doc"),
                          F.col("embedding").alias("qv")))
    from hops_spark.ops.similarity import cosine_pre, norm
    scored = (emb.withColumn("_ne", norm(F.col("embedding")))
                 .crossJoin(F.broadcast(
                     queries.withColumn("_nq", norm(F.col("qv")))))
                 .filter(F.col("doc_id") != F.col("q_doc"))
                 .select("q_doc",
                         F.col("doc_id").alias("neighbor_doc"),
                         F.col("chunk_id").alias("neighbor_chunk"),
                         F.round(cosine_pre(F.col("embedding"), F.col("qv"),
                                            F.col("_ne"), F.col("_nq")), 6)
                          .alias("cos_sim")))
    from pyspark.sql.window import Window
    w = Window.partitionBy("q_doc").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_doc").asc(),
        F.col("neighbor_chunk").asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= CR_K)
                  .select("q_doc", "neighbor_doc", "neighbor_chunk",
                          "cos_sim", "rnk")
                  .orderBy("q_doc", "rnk"))


K_ANON = 5


@register(
    "k_anonymity_audit",
    sql=f"""
    WITH cells AS (
        SELECT lang, source, n_chars // 50 AS len_bucket,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang, source, n_chars // 50
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(n_docs) AS BIGINT) AS n_docs_total,
               CAST(sum(CASE WHEN n_docs < {K_ANON} THEN 1 ELSE 0 END)
                    AS BIGINT) AS risky_cells,
               CAST(sum(CASE WHEN n_docs < {K_ANON} THEN n_docs ELSE 0 END)
                    AS BIGINT) AS risky_docs
        FROM cells
    )
    SELECT c.lang, c.source, CAST(c.len_bucket AS BIGINT) AS len_bucket,
           c.n_docs, t.n_cells, t.risky_cells, t.risky_docs,
           CAST((t.risky_docs * 1000000) // t.n_docs_total AS BIGINT)
               AS risky_share_ppm
    FROM cells c CROSS JOIN tot t
    WHERE c.n_docs < {K_ANON}
    ORDER BY c.lang, c.source, len_bucket
    """,
    doc="k-anonymity audit over the quasi-identifier tuple (lang, "
        "source, length bucket) — the re-identification risk census a "
        "training-data governance pass runs before release: any cell "
        "with fewer than k=5 members singles documents out by their "
        "metadata alone. Emits each risky cell plus corpus-wide "
        "counters (total cells, risky cells/docs, risky share in ppm) "
        "riding on every row. One keyed aggregate + a 1-row broadcast "
        "— a metadata-only scan at any corpus size; integer bucketing "
        "(n_chars div 50) keeps the cell grid deterministic.",
    tags=("text", "metadata"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cells = (d.groupBy("lang", "source",
                       F.expr("n_chars div 50").alias("len_bucket"))
              .agg(F.count("*").cast("long").alias("n_docs")))
    tot = cells.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("n_docs").cast("long").alias("n_docs_total"),
        F.sum(F.when(F.col("n_docs") < K_ANON, 1).otherwise(0))
         .cast("long").alias("risky_cells"),
        F.sum(F.when(F.col("n_docs") < K_ANON, F.col("n_docs")).otherwise(0))
         .cast("long").alias("risky_docs"))
    return (cells.filter(F.col("n_docs") < K_ANON)
                 .crossJoin(F.broadcast(tot))
                 .select("lang", "source", "len_bucket", "n_docs",
                         "n_cells", "risky_cells", "risky_docs",
                         F.expr("CAST((risky_docs * 1000000) div "
                                "n_docs_total AS BIGINT)")
                          .alias("risky_share_ppm"))
                 .orderBy("lang", "source", "len_bucket"))


QBH_BUDGET_PPM = 300_000


@register(
    "quality_budget_head",
    sql=f"""
    WITH feats AS (
        SELECT doc_id,
               {{DW}} AS w,
               length(text) AS n_chars_m,
               CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{{{-~]', '', 'g')) AS BIGINT) AS n_punct
        FROM documents
    ), q AS (
        SELECT doc_id,
               len(w) AS n_words,
               greatest(len(w), 1)::BIGINT AS nw1,
               greatest(n_chars_m, 1)::BIGINT AS nc1,
               n_punct,
               CAST(len(list_filter(w, x -> list_contains({{SW}}, x))) AS BIGINT) AS n_sw,
               CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq
        FROM feats
    ), s AS (
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_tokens,
               (least(n_words::BIGINT * 20000, 1000000)
                + (1000000 - least(((n_punct * 1000000) // nc1) * 5, 1000000))
                + least(((n_sw * 1000000) // nw1) * 4, 1000000)
                + ((n_uniq * 1000000) // nw1)) AS quality_score_ppm
        FROM q
    ), tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM s
    ), ps AS (
        SELECT doc_id, quality_score_ppm, n_tokens,
               CAST(sum(n_tokens) OVER (
                   ORDER BY -quality_score_ppm, doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM s
    )
    SELECT doc_id, quality_score_ppm, n_tokens, cum_tokens
    FROM ps, tot
    WHERE cum_tokens * 1000000 <= {QBH_BUDGET_PPM} * tot
    ORDER BY cum_tokens, doc_id
    """.replace("{DW}", _DUCK_WORDS).replace("{SW}", _duck_sw_list('en')),
    doc="Quality-ranked token-budget selection (the RefinedWeb/DCLM "
        "data-selection step: spend a fixed token budget on the BEST "
        "documents corpus-wide): rank by quality_score_ppm desc, keep "
        "the longest prefix within 30% of total corpus tokens — via "
        "the TeraSort-style two-phase prefix sum over (neg quality, "
        "id), so no single-partition data window and no driver-side "
        "budget scan; the budget test is division-free integer cross-"
        "multiplication. ops/sampling.quality_budget_head.",
    tags=("text", "sampling", "north-star"),
)
def quality_budget_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sampling import quality_budget_head as qbh

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return qbh(d, QBH_BUDGET_PPM).orderBy("cum_tokens", "doc_id")


def _duck_unigram_ctes() -> str:
    from hops_spark.ops.unigram import (MAX_LEN, MAX_PIECE, MICRO,
                                        MIN_COUNT, SEP, TOP_K)
    gram_parts = "\n        UNION ALL ".join(
        f"SELECT substr(w, i.i, {n}) AS piece, n_occ FROM wc, "
        f"LATERAL (SELECT unnest(range(1, len - {n} + 2)) AS i) i "
        f"WHERE len >= {n}"
        for n in range(1, MAX_PIECE + 1))
    ctes = [f"""wt AS (
        SELECT {_DUCK_WORDS} AS w0 FROM documents
    ), wc AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS n_occ,
               CAST(len(w) AS INT) AS len
        FROM (SELECT unnest(w0) AS w FROM wt) GROUP BY w
    ), grams AS (
        {gram_parts}
    ), cnts AS (
        SELECT piece, CAST(sum(n_occ) AS BIGINT) AS cnt
        FROM grams GROUP BY piece
    ), multi AS (
        SELECT * FROM cnts
        WHERE len(piece) > 1 AND cnt >= {MIN_COUNT}
        ORDER BY cnt DESC, piece LIMIT {TOP_K}
    ), pieces0 AS (
        SELECT * FROM cnts WHERE len(piece) = 1
        UNION ALL SELECT * FROM multi
    ), tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS nn,
               CAST(count(*) AS BIGINT) AS v
        FROM pieces0
    ), pieces AS MATERIALIZED (
        SELECT piece, CAST(round(-ln((cnt + 1) / CAST(nn + v AS DOUBLE))
                         * {MICRO}, 0) AS BIGINT) AS pc
        FROM pieces0, tot
    ), b0 AS MATERIALIZED (
        SELECT w, len, n_occ, CAST(0 AS BIGINT) AS cost,
               CAST(0 AS BIGINT) AS np, '' AS seg
        FROM wc WHERE len <= {MAX_LEN}
    )"""]
    for j in range(1, MAX_LEN + 1):
        cands = "\n        UNION ALL ".join(
            f"SELECT w, len, n_occ, cost + pc AS cost, np + 1 AS np, "
            f"seg || (CASE WHEN seg = '' THEN '' ELSE '{SEP}' END) "
            f"|| piece AS seg "
            f"FROM b{j - n} JOIN pieces "
            f"ON piece = substr(w, {j - n + 1}, {n}) WHERE len >= {j}"
            for n in range(1, min(MAX_PIECE, j) + 1))
        ctes.append(f"""c{j} AS (
        {cands}
    ), b{j} AS (
        SELECT w, len, n_occ, m.cost AS cost, m.np AS np, m.seg AS seg
        FROM (SELECT w, len, n_occ,
                     min({{'cost': cost, 'np': np, 'seg': seg}}) AS m
              FROM c{j} GROUP BY w, len, n_occ)
    )""")
    done = "\n        UNION ALL ".join(
        f"SELECT * FROM b{j} WHERE len = {j}"
        for j in range(1, MAX_LEN + 1))
    ctes.append(f"""done AS (
        {done}
    ), fb AS (
        SELECT w, len, n_occ, CAST(sum(pc) AS BIGINT) AS cost,
               CAST(count(*) AS BIGINT) AS np,
               string_agg(piece, '{SEP}' ORDER BY i) AS seg
        FROM (SELECT w, len, n_occ, i.i AS i, substr(w, i.i, 1) AS ch
              FROM wc, LATERAL (SELECT unnest(range(1, len + 1)) AS i) i
              WHERE len > {MAX_LEN})
        JOIN pieces ON piece = ch
        GROUP BY w, len, n_occ
    )""")
    ctes.append("""allseg AS (
        SELECT * FROM done UNION ALL SELECT * FROM fb
    )""")
    return ",\n    ".join(ctes)


def _duck_unigram_sql() -> str:
    return f"""
    WITH {_duck_unigram_ctes()}
    SELECT w, n_occ, seg, CAST(np AS BIGINT) AS n_pieces,
           CAST(cost AS BIGINT) AS cost_micro
    FROM allseg
    ORDER BY w
    """


@register(
    "unigram_tokenize",
    sql=_duck_unigram_sql(),
    doc="Unigram-LM subword tokenization (SentencePiece flavor, Kudo "
        "2018): piece inventory = chars ∪ top-40 occurrence-weighted "
        "2..4-grams, piece cost = add-one-smoothed -ln p in exact "
        "integer micro-nats (the doc_perplexity discipline), and each "
        "distinct word takes its Viterbi-minimal segmentation — the "
        "DP is UNROLLED as max_len rounds of ≤ max_piece broadcast "
        "joins + a lexicographic (cost, n_pieces, seg) struct-min per "
        "round, every frame VOCAB-bounded (the corpus collapses to "
        "the word histogram first; at 100 TB that histogram aggregate "
        "is the only data-proportional pass — the BPE-apply shape). "
        "Words longer than max_len take the char fallback (honest "
        "bound of the unrolled plan). The oracle replays inventory, "
        "costs, and all ten DP rounds struct-min-for-struct-min. "
        "ops/unigram.py.",
    tags=("text", "tokenize", "north-star"),
)
def unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.unigram import (piece_table, viterbi_segment,
                                        word_counts)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wc = word_counts(d).cache()
    pieces = piece_table(wc)
    return viterbi_segment(wc, pieces).orderBy("w")


@register(
    "unigram_train_round",
    sql=f"""
    WITH {{CTES}}, used AS (
        SELECT unnest(string_split(seg, '+')) AS piece, n_occ FROM allseg
    ), em AS (
        SELECT piece, CAST(sum(n_occ) AS BIGINT) AS cnt_em
        FROM used GROUP BY piece
    ), base AS (
        SELECT p0.piece, p0.cnt AS cnt_init,
               CAST(coalesce(em.cnt_em, 0) AS BIGINT) AS cnt_em
        FROM pieces0 p0 LEFT JOIN em USING (piece)
    ), tot2 AS (
        SELECT CAST(sum(cnt_em) AS BIGINT) AS nn2,
               CAST(count(*) AS BIGINT) AS v2
        FROM base
    )
    SELECT piece, cnt_init, cnt_em,
           CAST(round(-ln((cnt_em + 1) / CAST(nn2 + v2 AS DOUBLE))
                * 1000000, 0) AS BIGINT) AS cost_em_micro
    FROM base, tot2 ORDER BY piece
    """.replace("{CTES}", _duck_unigram_ctes()),
    doc="One hard-EM training round of the unigram LM (the M-step of "
        "the SentencePiece loop, Kudo 2018 §3.2 with Viterbi-hard "
        "assignments): re-estimate piece counts from the current "
        "segmentations (weighted by word occurrences; unused pieces "
        "drop to the add-one floor), renormalize costs over the fixed "
        "inventory. Composes the unigram_tokenize DP wholesale — the "
        "oracle replays segmentation AND re-estimation; a second "
        "Viterbi pass over these costs is the next E-step. Both EM "
        "passes are inventory-bounded aggregates — corpus size only "
        "enters through the word histogram. ops/unigram."
        "hard_em_recount.",
    tags=("text", "tokenize", "north-star"),
)
def unigram_train_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.unigram import (hard_em_recount, piece_table,
                                        viterbi_segment, word_counts)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wc = word_counts(d).cache()
    pieces = piece_table(wc)
    segs = viterbi_segment(wc, pieces)
    return hard_em_recount(segs, pieces).orderBy("piece")


def _duck_wordpiece_ctes(px: str = "") -> str:
    """The WordPiece derivation as a CTE chain; ``px`` prefixes every
    CTE name so the chain composes with the unigram CTEs (which use
    the same wt/wc/grams/... names) in one statement — the
    tokenizer_fertility oracle. The final table is ``{px}allseg``
    (w, n_occ, seg, np)."""
    from hops_spark.ops.wordpiece import (CONT, MAX_LEN, MAX_PIECE,
                                          MIN_COUNT, SEP, TOP_K)
    gram_parts = "\n        UNION ALL ".join(
        f"SELECT substr(w, 1, {n}) AS piece, n_occ FROM {px}wc WHERE len >= {n}"
        f"\n        UNION ALL "
        f"SELECT '{CONT}' || substr(w, i.i, {n}) AS piece, n_occ FROM {px}wc, "
        f"LATERAL (SELECT unnest(range(2, len - {n} + 2)) AS i) i "
        f"WHERE len >= {n} + 1"
        for n in range(1, MAX_PIECE + 1))
    cand_parts = "\n        UNION ALL ".join(
        f"SELECT p.w, p.pos, v.piece, {n} AS plen FROM {px}pos p JOIN {px}vocab v "
        f"ON v.piece = (CASE WHEN p.pos = 1 THEN substr(p.w, 1, {n}) "
        f"ELSE '{CONT}' || substr(p.w, p.pos, {n}) END) "
        f"WHERE p.pos + {n} - 1 <= p.len"
        for n in range(1, MAX_PIECE + 1))
    ctes = [f"""{px}wt AS (
        SELECT {_DUCK_WORDS} AS w0 FROM documents
    ), {px}wc AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS n_occ,
               CAST(len(w) AS INT) AS len
        FROM (SELECT unnest(w0) AS w FROM {px}wt) GROUP BY w
    ), {px}grams AS (
        {gram_parts}
    ), {px}cnts AS (
        SELECT piece, CAST(sum(n_occ) AS BIGINT) AS cnt,
               len(piece) - (CASE WHEN piece LIKE '{CONT}%' THEN 2 ELSE 0 END)
                 AS core_len
        FROM {px}grams GROUP BY piece
    ), {px}multi AS (
        SELECT piece FROM {px}cnts
        WHERE core_len > 1 AND cnt >= {MIN_COUNT}
        ORDER BY cnt DESC, piece LIMIT {TOP_K}
    ), {px}vocab AS MATERIALIZED (
        SELECT piece FROM {px}cnts WHERE core_len = 1
        UNION ALL SELECT piece FROM {px}multi
    ), {px}pos AS (
        SELECT w, len, i.i AS pos
        FROM {px}wc, LATERAL (SELECT unnest(range(1, len + 1)) AS i) i
        WHERE len <= {MAX_LEN}
    ), {px}cand AS (
        {cand_parts}
    ), {px}jump AS MATERIALIZED (
        SELECT w, pos, arg_max(piece, plen) AS piece,
               CAST(max(plen) AS INT) AS plen
        FROM {px}cand GROUP BY w, pos
    ), {px}s0 AS MATERIALIZED (
        SELECT w, len, n_occ, CAST(1 AS INT) AS pos, '' AS seg,
               CAST(0 AS BIGINT) AS np
        FROM {px}wc WHERE len <= {MAX_LEN}
    )"""]
    for j in range(1, MAX_LEN + 1):
        ctes.append(f"""{px}s{j} AS MATERIALIZED (
        SELECT s.w, s.len, s.n_occ, CAST(s.pos + j.plen AS INT) AS pos,
               s.seg || (CASE WHEN s.seg = '' THEN '' ELSE '{SEP}' END)
                     || j.piece AS seg,
               s.np + 1 AS np
        FROM {px}s{j - 1} s JOIN {px}jump j ON j.w = s.w AND j.pos = s.pos
        WHERE s.pos <= s.len
        UNION ALL
        SELECT * FROM {px}s{j - 1} WHERE pos > len
    )""")
    ctes.append(f"""{px}fb AS (
        SELECT w, n_occ,
               string_agg(CASE WHEN i = 1 THEN ch
                               ELSE '{CONT}' || ch END, '{SEP}' ORDER BY i)
                 AS seg,
               CAST(count(*) AS BIGINT) AS np
        FROM (SELECT w, n_occ, i.i AS i, substr(w, i.i, 1) AS ch
              FROM {px}wc, LATERAL (SELECT unnest(range(1, len + 1)) AS i) i
              WHERE len > {MAX_LEN})
        GROUP BY w, n_occ
    ), {px}allseg AS (
        SELECT w, n_occ, seg, np FROM {px}s{MAX_LEN} WHERE pos > len
        UNION ALL SELECT w, n_occ, seg, np FROM {px}fb
    )""")
    return ",\n    ".join(ctes)


def _duck_wordpiece_sql() -> str:
    return f"""
    WITH {_duck_wordpiece_ctes()}
    SELECT w, n_occ, seg, CAST(np AS BIGINT) AS n_pieces
    FROM allseg
    ORDER BY w
    """


@register(
    "wordpiece_tokenize",
    sql=_duck_wordpiece_sql(),
    doc="WordPiece subword tokenization (Wu et al. 2016; Devlin et al. "
        "2019 BERT): greedy longest-match-first with ##-prefixed "
        "continuation pieces, inventory = every initial/## character "
        "∪ top-40 occurrence-weighted 2..4-grams (counted separately "
        "per form, as BERT vocabularies do). Completes the tokenizer "
        "trio next to BPE and the unigram LM: same vocab-bounded "
        "shape — the corpus collapses to the word histogram, the "
        "greedy walk runs in one Arrow pass with the bounded piece "
        "set as a driver codebook. Deterministic WITHOUT tie-break "
        "machinery: at a position each length names one substring, so "
        "the longest match is unique — the oracle replays it as a "
        "jump table + ≤ max_len unrolled walk rounds. "
        "ops/wordpiece.py.",
    tags=("text", "tokenize", "north-star"),
)
def wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.unigram import word_counts
    from hops_spark.ops.wordpiece import wp_greedy_segment, wp_piece_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wc = word_counts(d).cache()
    pieces = wp_piece_table(wc)
    return wp_greedy_segment(wc, pieces).orderBy("w")


@register(
    "tokenizer_fertility",
    sql=f"""
    WITH {_duck_unigram_ctes()},
    {_duck_wordpiece_ctes('wp_')},
    u AS (
        SELECT 'unigram' AS tokenizer,
               CAST(sum(n_occ) AS BIGINT) AS n_tokens,
               CAST(sum(n_occ * np) AS BIGINT) AS total_pieces,
               CAST(sum(n_occ * len(w)) AS BIGINT) AS total_chars
        FROM allseg
    ), p AS (
        SELECT 'wordpiece' AS tokenizer,
               CAST(sum(n_occ) AS BIGINT) AS n_tokens,
               CAST(sum(n_occ * np) AS BIGINT) AS total_pieces,
               CAST(sum(n_occ * len(w)) AS BIGINT) AS total_chars
        FROM wp_allseg
    ), b AS (
        SELECT * FROM u UNION ALL SELECT * FROM p
    )
    SELECT tokenizer, n_tokens, total_pieces,
           CAST(total_pieces * 1000000 // n_tokens AS BIGINT)
             AS fertility_ppm,
           CAST(total_chars * 1000 // total_pieces AS BIGINT)
             AS chars_per_piece_milli
    FROM b ORDER BY tokenizer
    """,
    doc="Tokenizer fertility comparison (pieces per word, the standard "
        "tokenizer-QA metric — SentencePiece/mBERT papers report "
        "exactly this): occurrence-weighted totals over the FULL "
        "unigram-Viterbi and WordPiece-greedy segmentations of the "
        "corpus, so the two summary rows hash-certify every per-word "
        "segmentation of both families at once (any single divergent "
        "word shifts the totals). fertility_ppm = Σ n_occ·pieces · 1e6 "
        "div Σ n_occ; chars_per_piece_milli is the inverse compression "
        "lens. BPE is omitted here: its apply is doc-level and its "
        "merge training is already oracle-replayed by bpe_merges. "
        "All inventory-bounded aggregates over the word histogram.",
    tags=("text", "tokenize"),
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.unigram import (piece_table, viterbi_segment,
                                        word_counts)
    from hops_spark.ops.wordpiece import wp_greedy_segment, wp_piece_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wc = word_counts(d).cache()
    uni = viterbi_segment(wc, piece_table(wc))
    wp = wp_greedy_segment(wc, wp_piece_table(wc))

    def summarize(seg: DataFrame, name: str) -> DataFrame:
        return (seg.agg(
            F.sum("n_occ").cast("long").alias("n_tokens"),
            F.sum(F.col("n_occ") * F.col("n_pieces")).cast("long")
             .alias("total_pieces"),
            F.sum(F.col("n_occ") * F.length("w")).cast("long")
             .alias("total_chars"))
            .select(F.lit(name).alias("tokenizer"), "n_tokens",
                    "total_pieces", "total_chars"))

    b = summarize(uni, "unigram").unionByName(summarize(wp, "wordpiece"))
    return (b.select("tokenizer", "n_tokens", "total_pieces",
                     F.expr("CAST(total_pieces * 1000000 div n_tokens "
                            "AS BIGINT)").alias("fertility_ppm"),
                     F.expr("CAST(total_chars * 1000 div total_pieces "
                            "AS BIGINT)").alias("chars_per_piece_milli"))
             .orderBy("tokenizer"))


def _duck_bpe_hist_sym() -> str:
    """The fixed _TOKENIZE_MERGES replay over a single word ``w`` —
    the same chained left-to-right replace as bpe_tokenize_docs,
    applied to the word HISTOGRAM instead of per doc (identical token
    counts, vocab-bounded work)."""
    sym = "array_to_string(regexp_extract_all(w, '.'), ' ')"
    for left, right in _TOKENIZE_MERGES:
        sym = (f"trim(replace(' ' || {sym} || ' ', "
               f"' {left} {right} ', ' {left}{right} '))")
    return sym


@register(
    "tokenizer_compression",
    sql=f"""
    WITH {_duck_unigram_ctes()},
    {_duck_wordpiece_ctes('wp_')},
    bt AS (
        SELECT n_occ, w,
               CAST(len(string_split({_duck_bpe_hist_sym()}, ' '))
                    AS BIGINT) AS np
        FROM wc
    ), rows_ AS (
        SELECT 'bpe' AS tokenizer,
               CAST(sum(n_occ * np) AS BIGINT) AS n_tokens,
               CAST(sum(n_occ * strlen(w)) AS BIGINT) AS total_bytes,
               CAST(sum(n_occ * length(w)) AS BIGINT) AS total_chars
        FROM bt
        UNION ALL
        SELECT 'unigram',
               CAST(sum(n_occ * np) AS BIGINT),
               CAST(sum(n_occ * strlen(w)) AS BIGINT),
               CAST(sum(n_occ * length(w)) AS BIGINT)
        FROM allseg
        UNION ALL
        SELECT 'whitespace',
               CAST(sum(n_occ) AS BIGINT),
               CAST(sum(n_occ * strlen(w)) AS BIGINT),
               CAST(sum(n_occ * length(w)) AS BIGINT)
        FROM wc
        UNION ALL
        SELECT 'wordpiece',
               CAST(sum(n_occ * np) AS BIGINT),
               CAST(sum(n_occ * strlen(w)) AS BIGINT),
               CAST(sum(n_occ * length(w)) AS BIGINT)
        FROM wp_allseg
    )
    SELECT tokenizer, n_tokens, total_bytes, total_chars,
           CAST(total_bytes * 1000 // n_tokens AS BIGINT)
               AS bytes_per_token_milli,
           CAST(total_chars * 1000 // n_tokens AS BIGINT)
               AS chars_per_token_milli
    FROM rows_ ORDER BY tokenizer
    """,
    doc="Tokenizer compression benchmark — bytes/token and chars/token "
        "for all three shipped subword tokenizers plus the whitespace "
        "baseline on the SAME corpus slice (the metric tokenizer "
        "papers lead with: Rust et al. 2021, the SentencePiece/"
        "tiktoken compression tables — fewer bytes per token = more "
        "text per context window): occurrence-weighted totals over "
        "the shared word histogram, with BPE's fixed merge list "
        "replayed per DISTINCT word (vocab-bounded, not corpus-"
        "bounded — same counts as the per-doc apply). Closes the "
        "tokenizer family next to tokenizer_fertility's pieces-per-"
        "word lens: one word-histogram aggregate feeds four summary "
        "rows, each hash-certifying its full segmentation. "
        "ops/bpe.bpe_apply, ops/unigram, ops/wordpiece.",
    tags=("text", "tokenize", "north-star"),
)
def tokenizer_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.unigram import piece_table, word_counts
    from hops_spark.ops.wordpiece import fused_piece_counts, wp_piece_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wc = word_counts(d).cache()
    sym = "array_join(regexp_extract_all(w, '.', 0), ' ')"
    for left, right in _TOKENIZE_MERGES:
        sym = (f"trim(replace(' ' || {sym} || ' ', "
               f"' {left} {right} ', ' {left}{right} '))")
    # The wordpiece greedy walk and the unigram Viterbi share ONE
    # Arrow round-trip (fused_piece_counts — same per-word code paths
    # as the standalone ops, so the counts are bit-identical), and a
    # single aggregate folds those faces with whitespace and the
    # byte/char totals (face-independent — every face weighs the same
    # histogram). The BPE merge replay stays its own JVM-only
    # aggregate over the cached histogram: routing the heavy chained
    # replace through the Python stage's output measured 15-20%
    # slower at sf1 (r13 A/B). Integer sums, so regrouping changes
    # nothing; the oracle SQL is untouched. Each piece table counts
    # all its grams with ONE generator per scan of the cached
    # histogram (ops/unigram.gram_counts), so the inventories cost a
    # few small stages, not one histogram scan per gram length and
    # piece form.
    fused = fused_piece_counts(wc, wp_piece_table(wc), piece_table(wc))
    row = fused.agg(
        F.sum("n_occ").cast("long").alias("t_ws"),
        F.sum(F.col("n_occ") * F.col("np_wp")).cast("long").alias("t_wp"),
        F.sum(F.col("n_occ") * F.col("np_uni")).cast("long").alias("t_uni"),
        F.sum(F.col("n_occ") * F.octet_length("w")).cast("long")
         .alias("total_bytes"),
        F.sum(F.col("n_occ") * F.length("w")).cast("long")
         .alias("total_chars"))
    bpe_row = wc.agg(
        F.sum(F.col("n_occ") * F.expr(f"size(split({sym}, ' '))"))
         .cast("long").alias("t_bpe"))
    b = row.crossJoin(bpe_row).select(
        F.expr("stack(4, 'bpe', t_bpe, 'unigram', t_uni, "
               "'whitespace', t_ws, 'wordpiece', t_wp) "
               "AS (tokenizer, n_tokens)"),
        "total_bytes", "total_chars")
    return (b.select(
                "tokenizer", "n_tokens", "total_bytes", "total_chars",
                F.expr("CAST(total_bytes * 1000 div n_tokens AS BIGINT)")
                 .alias("bytes_per_token_milli"),
                F.expr("CAST(total_chars * 1000 div n_tokens AS BIGINT)")
                 .alias("chars_per_token_milli"))
             .orderBy("tokenizer"))


PW_BATCH = 8
PW_BUCKET = 16


@register(
    "padding_waste",
    sql=f"""
    WITH lens AS (
        SELECT doc_id, CAST(len({{DW}}) AS BIGINT) AS n_tokens
        FROM documents
    ), arrival AS (
        SELECT 'arrival' AS strategy, doc_id // {PW_BATCH} AS batch_key,
               n_tokens
        FROM lens
    ), bucketed0 AS (
        SELECT doc_id, n_tokens,
               ((n_tokens + {PW_BUCKET} - 1) // {PW_BUCKET}) AS bucket
        FROM lens
    ), bucketed AS (
        SELECT 'bucketed' AS strategy,
               bucket * 1000000000 +
               (row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
                - 1) // {PW_BATCH} AS batch_key,
               n_tokens
        FROM bucketed0
    ), boths AS (
        SELECT * FROM arrival UNION ALL SELECT * FROM bucketed
    ), per_batch AS (
        SELECT strategy, batch_key,
               CAST(count(*) AS BIGINT) AS n_seqs,
               CAST(max(n_tokens) AS BIGINT) AS max_len,
               CAST(sum(n_tokens) AS BIGINT) AS real_tokens
        FROM boths GROUP BY strategy, batch_key
    )
    SELECT strategy,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(n_seqs * max_len) AS BIGINT) AS padded_tokens,
           CAST(sum(real_tokens) AS BIGINT) AS real_tokens,
           CAST((sum(n_seqs * max_len) - sum(real_tokens)) * 1000000
                // sum(n_seqs * max_len) AS BIGINT) AS pad_waste_ppm
    FROM per_batch GROUP BY strategy ORDER BY strategy
    """.replace("{DW}", _DUCK_WORDS),
    doc="Dynamic-padding waste under length-bucketed vs arrival-order "
        "batching (the training-throughput lever every data loader "
        "tunes; HF's group_by_length / LengthGroupedSampler made "
        "deterministic): batches of 8 pad to the batch max, arrival "
        "order batches by dense doc id, bucketed batches within "
        "ceil-to-16 token-length buckets (per-bucket row_number — a "
        "PARTITIONED window, never a global one). The two summary "
        "rows hash-certify every batch's max/sum; the ppm gap is the "
        "measured claim that bucketing cuts padding. All integer "
        "arithmetic.",
    tags=("text", "sampling", "north-star"),
)
def padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from hops_spark.ops.text import words

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lens = d.select("doc_id", F.size(words("text")).cast("long")
                     .alias("n_tokens"))
    arrival = lens.select(F.lit("arrival").alias("strategy"),
                          F.expr(f"doc_id div {PW_BATCH}").alias("batch_key"),
                          "n_tokens")
    bkt = lens.withColumn(
        "bucket", F.expr(f"(n_tokens + {PW_BUCKET} - 1) div {PW_BUCKET}"))
    wb = Window.partitionBy("bucket").orderBy("doc_id")
    bucketed = (bkt.withColumn("rn", F.row_number().over(wb))
                   .select(F.lit("bucketed").alias("strategy"),
                           (F.col("bucket") * 1_000_000_000
                            + F.expr(f"(rn - 1) div {PW_BATCH}"))
                           .alias("batch_key"),
                           "n_tokens"))
    boths = arrival.unionByName(bucketed)
    per_batch = (boths.groupBy("strategy", "batch_key")
                      .agg(F.count("*").cast("long").alias("n_seqs"),
                           F.max("n_tokens").cast("long").alias("max_len"),
                           F.sum("n_tokens").cast("long")
                            .alias("real_tokens")))
    return (per_batch.groupBy("strategy")
            .agg(F.count("*").cast("long").alias("n_batches"),
                 F.sum(F.col("n_seqs") * F.col("max_len")).cast("long")
                  .alias("padded_tokens"),
                 F.sum("real_tokens").cast("long").alias("real_tokens"))
            .select("strategy", "n_batches", "padded_tokens", "real_tokens",
                    F.expr("CAST((padded_tokens - real_tokens) * 1000000 "
                           "div padded_tokens AS BIGINT)")
                     .alias("pad_waste_ppm"))
            .orderBy("strategy"))
