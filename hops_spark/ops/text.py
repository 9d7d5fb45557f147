"""Text-analysis operators for training-data pipelines (north-star,
BASELINE.json extensions; operates on the ``documents`` table).

All pure Column expressions — JVM-side, codegen'd, no Python UDFs. Each
op is deterministic so the DuckDB oracle can reproduce it exactly.

- ``tokens`` / ``token_count``: whitespace tokenizer + a BPE-ish
  word/number/punct regex tokenizer.
- ``bound_words`` / ``window_starts``: the word-window primitive every
  n-gram emitter (shingles, k-grams, LM rows, co-occurrence, phrase
  search) is built from.
- ``quality_features`` / ``quality_score``: length / punctuation /
  stopword / repetition heuristics (Gopher/C4-style rules, public).
- ``lang_id_expr``: stopword-overlap language heuristic (en/de/fr/es).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORD_SPLIT = r"\s+"
# BPE-ish surface tokenizer: words (with apostrophes), numbers, or single punct.
BPE_TOKEN_RE = r"[A-Za-z]+(?:'[A-Za-z]+)?|[0-9]+|[^A-Za-z0-9\s]"

# Tiny public stopword lists — enough for a deterministic heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "por", "con", "que"],
}


def words(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), WORD_SPLIT), lambda w: w != "")


def tokens_bpeish(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), F.lit(0))


def token_count(text: Column | str, mode: str = "ws") -> Column:
    return F.size(words(text) if mode == "ws" else tokens_bpeish(text))


def bound_words(df: DataFrame, *keep: Column | str,
                text_col: str = "text") -> DataFrame:
    """``df.select(*keep, _w)`` where ``_w`` is the words array of
    ``text_col``, bound behind a Generate barrier (explode of a
    1-element array). CollapseProject cannot inline a projection across
    a generator, so every downstream lambda reads the bound ``_w``
    attribute instead of re-evaluating ``split(lower(text))`` per
    element — higher-order lambdas are interpreted, and the unbound
    form measured 3x to 12x slower at sf0.1 (shingles ~4.5x, k-grams
    ~3x, co-occurrence pairs 25 s -> ~2 s)."""
    return df.select(*keep, F.explode(F.array(words(text_col))).alias("_w"))


def window_starts(arr: Column | str, n: int) -> Column:
    """The 1-based start of every ``n``-long window of ``arr``, as
    array<int>; empty when ``arr`` is shorter than ``n``. The guard is
    load-bearing: Spark's ``sequence(1, 0)`` counts DOWN to ``[1, 0]``,
    it is not empty. Sites build windows with
    ``F.transform(window_starts(w, n), form)`` or select them with
    ``F.filter(window_starts(w, n), hit)``, so the empty branch never
    needs the element type of the windows."""
    a = F.col(arr) if isinstance(arr, str) else arr
    return F.when(F.size(a) >= n,
                  F.sequence(F.lit(1), F.size(a) - (n - 1))
                  ).otherwise(F.array().cast("array<int>"))


PPM = 1_000_000  # ratios are exact integer parts-per-million: floating-point
# rounding at decimal half-boundaries differs between engines, integer
# division does not — so every ratio here is `div(k * 1e6, n)`.


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features (C4/Gopher-style, all public rules).
    Ratios are integer ppm (see PPM note). The word-level signals
    (count, stopword filter, distinct) read the ``bound_words`` array,
    so the document is split once."""
    t = F.col(text_col)
    d = bound_words(df, "*", text_col=text_col)
    n_words = F.size("_w")
    n_chars = F.length(t)
    d = d.withColumns({
        "n_chars_m": n_chars,
        "n_words": n_words,
        "_nw1": F.greatest(n_words, F.lit(1)).cast("long"),
        "_nc1": F.greatest(n_chars, F.lit(1)).cast("long"),
        "_nonspace": F.length(F.regexp_replace(F.lower(t), r"\s+", "")).cast("long"),
        "_punct": F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", "")).cast("long"),
        "_digit": F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("long"),
        "_sw": F.size(F.filter("_w", lambda x: F.array_contains(
            F.array(*[F.lit(s) for s in STOPWORDS["en"]]), x))).cast("long"),
        "_uniq": F.size(F.array_distinct("_w")).cast("long"),
    })
    return d.withColumns({
        "mean_word_len_ppm": F.expr(f"(_nonspace * {PPM}) div _nw1"),
        "punct_ppm": F.expr(f"(_punct * {PPM}) div _nc1"),
        "digit_ppm": F.expr(f"(_digit * {PPM}) div _nc1"),
        "stopword_ppm": F.expr(f"(_sw * {PPM}) div _nw1"),
        "uniq_ppm": F.expr(f"(_uniq * {PPM}) div _nw1"),
    }).drop("_nw1", "_nc1", "_nonspace", "_punct", "_digit", "_sw", "_uniq", "_w")


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scalar quality score in [0, 4·PPM]: sum of clamped sub-signals
    (length, punctuation, stopword density, lexical diversity), exact
    integer arithmetic. Thresholds follow published C4-ish heuristics."""
    feats = quality_features(df, text_col)
    score = (F.least(F.col("n_words").cast("long") * 20000, F.lit(PPM))
             + (PPM - F.least(F.col("punct_ppm") * 5, F.lit(PPM)))
             + F.least(F.col("stopword_ppm") * 4, F.lit(PPM))
             + F.col("uniq_ppm"))
    return feats.withColumn("quality_score_ppm", score.cast("long"))


def lang_id_expr(text_col: str = "text") -> Column:
    """Stopword-overlap language heuristic: argmax over language stopword
    hit-counts; ties and zero-hits → 'und' (undetermined). Deterministic
    tie-break: language order en, de, fr, es."""
    w = words(F.col(text_col))
    hits = {}
    for lang, sws in STOPWORDS.items():
        sw = F.array(*[F.lit(s) for s in sws])
        hits[lang] = F.size(F.filter(w, lambda t: F.array_contains(sw, t)))
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # build reversed CASE chain so earlier langs win ties
    for lang in reversed(list(STOPWORDS)):
        expr = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


# --- PII scrubbing (training-data hygiene; superset of reference §2.7
# regex surface — map-only, pure regexp_replace chain) -------------------

# (name, pattern, token) — patterns restricted to syntax with identical
# semantics in Java regex (Spark) and RE2 (DuckDB oracle): literal
# classes, \d, \b, bounded repetition. Order matters and is fixed:
# email first (contains dots that the ip pattern could nibble), then
# ssn / phone (disjoint shapes), then ip.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def scrub_pii(text: Column | str) -> Column:
    """Redact PII spans with typed placeholder tokens. A chained
    regexp_replace — whole-stage-codegen JVM expressions, zero shuffles,
    zero Python; the 100 TB cost is one map pass."""
    col = F.col(text) if isinstance(text, str) else text
    for _, pat, token in PII_PATTERNS:
        col = F.regexp_replace(col, pat, token)
    return col


def pii_counts(text: Column | str) -> list[Column]:
    """Per-pattern match counts (pre-scrub), aliased n_<name>."""
    col = F.col(text) if isinstance(text, str) else text
    return [F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
             .alias(f"n_{name}")
            for name, pat, _ in PII_PATTERNS]


def normalize_text(text: Column | str) -> Column:
    """Deterministic text normalization (C4/CCNet-style cleaning,
    restricted to transforms with identical semantics in Spark and
    DuckDB regex engines): CRLF/CR → LF, control chars stripped,
    horizontal whitespace collapsed, ≥3 blank lines → one blank line,
    per-line trim, outer trim. Map-only JVM expressions; the unicode-
    canonicalization step (NFC) is intentionally out of scope — Spark
    has no built-in and a Python UDF would put a per-row interpreter in
    a 100 TB scan path."""
    col = F.col(text) if isinstance(text, str) else text
    col = F.regexp_replace(col, r"\r\n?", "\n")
    col = F.regexp_replace(col, "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    col = F.regexp_replace(col, r"[ \t]+", " ")
    col = F.regexp_replace(col, r" ?\n ?", "\n")
    col = F.regexp_replace(col, r"\n{3,}", "\n\n")
    return F.trim(col)


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document repetition signals (the Gopher repetition filters):
    duplicate-line fraction and duplicate word-bigram fraction, as exact
    integer ppm. All array-side per doc — map-only, no shuffle; a 100 TB
    run costs one scan."""
    lines = F.filter(F.split(F.col(text_col), "\n"),
                     lambda x: F.trim(x) != "")
    bg = F.transform(window_starts("_w", 2),
                     lambda i: F.concat_ws(" ", F.element_at("_w", i),
                                           F.element_at("_w", i + F.lit(1))))
    base = (bound_words(df, id_col, lines.alias("_lines"),
                        text_col=text_col)
              .select(id_col, "_lines", bg.alias("_bg")))
    return (base.withColumn("n_lines", F.size("_lines").cast("long"))
                .withColumn("_dl", (F.size("_lines")
                                    - F.size(F.array_distinct("_lines")))
                                   .cast("long"))
                .withColumn("_db", (F.size("_bg")
                                    - F.size(F.array_distinct("_bg")))
                                   .cast("long"))
                .withColumn("_nb", F.size("_bg").cast("long"))
                .select(id_col, "n_lines",
                        F.expr(f"_dl * {PPM} div greatest(n_lines, 1)")
                         .alias("dup_line_ppm"),
                        F.expr(f"_db * {PPM} div greatest(_nb, 1)")
                         .alias("dup_bigram_ppm")))


def top_ngram_chars(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    ns: tuple[int, ...] = (2, 3, 4)) -> DataFrame:
    """Per-document TOP-n-gram character concentration — the other half
    of the Gopher repetition-filter family (Rae et al. 2021, table A1;
    ``repetition_stats`` covers the duplicate-FRACTION half): for each
    n, the fraction of document characters covered by the single most
    frequent word n-gram, count·len(gram)/len(normalized text) in exact
    integer ppm (the DataTrove GopherRepetitionFilter arithmetic —
    overlapping occurrences may push a degenerate doc past 1e6, which
    is exactly what the filter wants to see). Tie-break: highest count,
    then lexicographically smallest gram, so both engines pick the same
    gram. ``keep`` applies the published thresholds (0.20 / 0.18 /
    0.16 for n = 2 / 3 / 4).

    Plan: one (doc, n, gram) explode → count aggregate → per-(doc, n)
    argmin of struct(-count, gram) → pivot to columns → broadcast-less
    join back to the per-doc length frame on the same id key. Grams are
    ``window_starts`` windows over the ``bound_words`` array (map-only);
    at 100 TB the cost is the one keyed count aggregate per n."""
    thresholds = {2: 200_000, 3: 180_000, 4: 160_000}
    base = (bound_words(df, id_col, text_col=text_col)
              .withColumn("_len",
                          F.length(F.concat_ws(" ", F.col("_w")))
                           .cast("long")))
    lens = base.select(id_col, "_len")
    def _grams(n: int):
        # closure, not a default arg: F.transform reads the lambda's
        # ARITY to decide (element) vs (element, index) — a second
        # parameter would receive the index Column.
        return F.transform(
            window_starts("_w", n),
            lambda i: F.concat_ws(
                " ", *[F.element_at("_w", i + F.lit(j)) for j in range(n)]))

    def _tagged(n: int):
        return F.transform(_grams(n),
                           lambda g: F.concat(F.lit(str(n)), g))

    all_grams = F.flatten(F.array(*[_tagged(n) for n in ns]))
    grams = base.select(F.col(id_col), F.explode(all_grams).alias("_tg"))
    cnt = (grams.groupBy(id_col, "_tg")
                .agg(F.count("*").cast("long").alias("_c"))
                .select(F.col(id_col),
                        F.substring("_tg", 1, 1).cast("int").alias("_n"),
                        F.expr("substring(_tg, 2)").alias("_g"), "_c"))
    top = (cnt.groupBy(id_col, "_n")
              .agg(F.min(F.struct((-F.col("_c")).alias("nc"),
                                  F.col("_g").alias("g"))).alias("_t"))
              .select(id_col, "_n",
                      ((-F.col("_t.nc")) * F.length(F.col("_t.g")))
                      .cast("long").alias("_chars")))
    piv = (top.groupBy(id_col)
              .pivot("_n", list(ns))
              .agg(F.first("_chars")))
    out = lens.join(piv, id_col, "left")
    cols = [F.col(id_col)]
    keep = F.lit(True)
    for n in ns:
        ppm = F.expr(f"coalesce(`{n}`, 0) * {PPM} div greatest(_len, 1)")
        cols.append(ppm.cast("long").alias(f"top{n}_ppm"))
        keep = keep & (ppm <= F.lit(thresholds[n]))
    cols.append(keep.alias("keep"))
    return out.select(*cols)


def chunk_documents(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", chunk_tokens: int = 128,
                    overlap: int = 16) -> DataFrame:
    """Context-window chunking for training pipelines: split each
    document's whitespace tokens into chunks of ``chunk_tokens`` with
    ``overlap`` tokens carried between consecutive chunks (stride =
    chunk_tokens − overlap; the last partial chunk is kept).

    All array-side over the ``bound_words`` array (split once per doc),
    then one explode — map-only, no shuffle; at 100 TB this is a scan, and
    chunk rows inherit the input partitioning for the downstream
    tokenizer. Output: (id, chunk_id, n_tokens, chunk_text)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    wdf = (bound_words(df, id_col, text_col=text_col)
             .filter(F.size("_w") > 0))
    n_chunks = F.greatest(
        F.ceil((F.size("_w") - F.lit(overlap)) / F.lit(stride)), F.lit(1)) \
        .cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            c.alias("chunk_id"),
            F.slice("_w", c * stride + 1, chunk_tokens).alias("toks")))
    return (wdf.select(F.col(id_col), F.explode(chunks).alias("ch"))
               .select(F.col(id_col),
                       F.col("ch.chunk_id").cast("long").alias("chunk_id"),
                       F.size("ch.toks").cast("long").alias("n_tokens"),
                       F.array_join("ch.toks", " ").alias("chunk_text")))


def pack_sequences(chunks: DataFrame, budget: int, id_cols: list[str] | None = None,
                   tokens_col: str = "n_tokens") -> DataFrame:
    """Sequence packing for training batches: assign chunks (in the
    deterministic ``id_cols`` total order) to consecutive bins of
    ~``budget`` tokens. A chunk belongs to the bin where its running
    total starts, so a bin may overflow by at most one sequence — the
    streaming-packing contract, chosen because it needs only a prefix
    sum, not a driver-side bin state. The prefix sum is the two-phase
    distributed scan (ops/sort.total_order_prefix_sum) — no
    single-partition window anywhere."""
    from hops_spark.ops.sort import total_order_prefix_sum

    id_cols = id_cols or ["doc_id", "chunk_id"]
    ps = total_order_prefix_sum(chunks, tokens_col, *id_cols,
                                out_col="_cum")
    return (ps.withColumn(
                "bin_id",
                F.expr(f"(_cum - {tokens_col}) div {budget}").cast("long"))
              .drop("_cum"))


def cdc_chunk_lengths(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", window: int = 8,
                      divisor: int = 64) -> DataFrame:
    """Content-defined chunking (Manber 1994 rolling-window scheme, the
    boundary rule behind rsync/LBFS/FastCDC and dedup-friendly dataset
    chunking): a chunk boundary falls AFTER position i whenever the
    hash of the ``window`` chars ending at i satisfies
    ``hash % divisor == 0`` — so an edit shifts boundaries only
    locally, and identical content regions chunk identically no matter
    where they sit in the document (what fixed-size chunking cannot
    do). Average chunk length ≈ ``divisor``.

    Engine-portable hash: the first byte of md5 over the window
    substring (DuckDB recomputes it identically, so chunk boundaries
    are oracle-checkable bit-for-bit). Entirely map-only Column
    expressions — per-doc O(n·window) md5 work, ZERO shuffle; at
    100 TB this is one scan, and a production variant would swap the
    md5 for a cheap polynomial rolling hash inside the same plan.

    Output: (id, n, boundaries array<int>, chunk_lengths array<int>)
    where boundaries are 1-based end positions (doc end always
    included) and lengths sum to n."""
    n = F.length(text_col)
    window_hash = (f"conv(substr(md5(substring({text_col}, "
                   f"i - {window - 1}, {window})), 1, 2), 16, 10)")
    cand = F.when(
        n >= window,
        F.expr(f"filter(sequence({window}, length({text_col})), "
               f"i -> {window_hash} % {divisor} = 0)")
    ).otherwise(F.expr("array()").cast("array<int>"))
    bounds = F.array_sort(F.array_distinct(
        F.concat(cand.cast("array<int>"), F.array(n.cast("int")))))
    lengths = F.expr(
        "transform(sequence(1, size(_b)), "
        "i -> element_at(_b, i) - IF(i = 1, 0, element_at(_b, i - 1)))")
    return (df.select(F.col(id_col), n.alias("n"), bounds.alias("_b"))
              .filter(F.col("n") > 0)
              .select(id_col, "n", F.col("_b").alias("boundaries"),
                      lengths.alias("chunk_lengths")))


def chunk_token_windows(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        window: int = 32, stride: int = 24) -> DataFrame:
    """(id, chunk_id, tok) — overlapping token windows of ``window``
    tokens at ``stride`` (RAG/context-window chunking). Map-only: the
    chunk-index range and slices are array-side Column arithmetic in
    one codegen stage; the final short chunk is kept (slice clamps at
    the document end). Empty docs produce no chunks."""
    if stride < 1 or window < 1:
        raise ValueError(f"window/stride must be >= 1, got {window}/{stride}")
    wdf = (bound_words(docs, id_col, text_col=text_col)
               .filter(F.size("_w") > 0)
               .withColumn("_n", F.size("_w").cast("long")))
    n_chunks = (F.when(F.col("_n") <= window, F.lit(1).cast("long"))
                 .otherwise(F.expr(f"((_n - {window}) + {stride} - 1) "
                                   f"div {stride} + 1")))
    return (wdf.withColumn("chunk_id",
                           F.explode(F.sequence(F.lit(0).cast("long"),
                                                n_chunks - 1)))
               .select(F.col(id_col), "chunk_id",
                       F.slice("_w",
                               F.col("chunk_id").cast("int") * stride + 1,
                               window).alias("tok")))
