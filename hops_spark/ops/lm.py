"""Bigram language-model scoring for corpus quality filtering
(CCNet-style: score each document by its negative log-likelihood under
a corpus LM, then gate on the score — public: Wenzek et al. 2020
"CCNet", which uses a KenLM perplexity filter; the count-table job
itself is the classic KenLM corpus pass, cf. queries/retrieval.py
``ngram_lm_counts``).

Determinism contract (engine-reproducible doubles are a trap): every
per-token negative log-probability is snapped to an exact integer
*micro-nat* (``CAST(round(-ln(p) * 1e6, 0) AS BIGINT)``) BEFORE the
per-document sum, so the aggregate is an order-free integer sum — the
one place a float could diverge (ln at a rounding boundary) is a single
scalar op both engines round identically in practice (same precedent as
bm25's round-6 scores). A float SUM whose fold order varies across
partitions can NOT hash-match an independent engine; an integer sum
always does.

Scale notes (100 TB):
- The bigram count table is vocab-bounded — orders of magnitude smaller
  than the token stream; both aggregates (corpus counts, per-doc score)
  have map-side partial aggregation.
- Scoring joins the doc-bigram stream to the count table on (w1, w2) —
  one shuffle join; the count table is NOT broadcast because real
  vocabularies at corpus scale exceed the broadcast threshold. Hot
  bigrams ("of the") skew the probe side, but the join key includes the
  full pair so AQE skew-split handles it without correctness impact.
- Smoothing scalars (vocab size V, per-context totals) come from the
  count table, never from a second corpus pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hops_spark.ops.text import bound_words, window_starts, words

MICRO = 1_000_000


def ngram_rows(docs: DataFrame, n: int, id_col: str = "doc_id",
               text_col: str = "text",
               carry: tuple[str, ...] = ()) -> DataFrame:
    """(id, *carry, w1, ..., wn) — one row per ``n`` adjacent tokens:
    the ``window_starts`` windows of the ``bound_words`` array.
    ``carry`` columns ride along unchanged (see doc_bigram_counts)."""
    w = F.col("_w")
    ws = [f"w{j + 1}" for j in range(n)]
    grams = F.transform(
        window_starts(w, n),
        lambda i: F.struct(*[F.element_at(w, i + j).alias(c)
                             for j, c in enumerate(ws)]))
    keep = [id_col, *carry]
    return (bound_words(docs, *keep, text_col=text_col)
            .select(*keep, F.explode(grams).alias("b"))
            .select(id_col, *carry, *[f"b.{c}" for c in ws]))


def doc_bigram_counts(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      carry: tuple[str, ...] = ()) -> DataFrame:
    """(id, *carry, w1, w2, n_local): per-document bigram counts — ONE
    corpus explode + one aggregate. Everything downstream (corpus count
    table, per-doc scoring) derives from this table, so the token
    stream is scanned exactly once, and hot bigrams ("of the" × 50 in
    one doc) collapse to a single row before any join.

    ``carry`` columns (functionally dependent on the doc id, e.g. the
    domain label) ride through the aggregate without changing its cell
    count — so a per-DOMAIN consumer can aggregate directly instead of
    re-joining the doc table for the label (guide §2.4: one fewer
    shuffle + one fewer scan)."""
    return (ngram_rows(docs, 2, id_col, text_col, carry)
            .groupBy(id_col, *carry, "w1", "w2")
            .agg(F.count("*").alias("n_local")))


def bigram_count_table(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Corpus bigram counts (w1, w2, n) plus per-context totals
    (n_ctx = Σ_w2 n) — the conditional-probability denominator base.
    Aggregates over the per-doc count table (already far smaller than
    the token stream), then over the vocab-bounded count table."""
    return _count_table(doc_bigram_counts(docs, id_col, text_col), id_col)


def _count_table(per_doc_counts: DataFrame, id_col: str) -> DataFrame:
    cnt = (per_doc_counts.groupBy("w1", "w2")
                         .agg(F.sum("n_local").alias("n")))
    ctx = cnt.groupBy("w1").agg(F.sum("n").alias("n_ctx"))
    return cnt.join(ctx, "w1")


def addone_scored_counts(cnt: DataFrame) -> DataFrame:
    """(w1, w2, nlp_micro): the add-one bigram scorer over a count
    table — THE fixed-shape expression, factored so the batch scorer
    (doc_nll_scores) and the frozen-scorer face (ops/mixture.
    frozen_scorer) can never drift apart. V = distinct right-hand
    words; 1-row aggregate broadcast back."""
    vocab = cnt.agg(F.countDistinct("w2").cast("long").alias("v"))
    return (cnt.crossJoin(F.broadcast(vocab))
               .withColumn(
                   "nlp_micro",
                   F.expr(f"CAST(round(-ln((n + 1) / CAST(n_ctx + v AS DOUBLE))"
                          f" * {MICRO}, 0) AS BIGINT)"))
               .select("w1", "w2", "nlp_micro"))


def doc_nll_scores(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document LM score: (id, n_bigrams, nll_micro, avg_nll_micro)
    where nll_micro is the exact-integer sum of per-bigram
    round(-ln(P(w2|w1)) * 1e6) under add-one smoothing
    P = (n + 1) / (n_ctx + V), V = |vocab of contexts|.

    avg_nll_micro (integer div) is the perplexity surrogate: the filter
    gates on it directly — exp() would only re-order nothing.

    Plan: the per-doc bigram count table is cached (it feeds BOTH the
    corpus count aggregate and the scoring join — Catalyst would
    otherwise re-explode the corpus per consumer; the table is
    bigram-distinct per doc, far smaller than the token stream, and at
    cluster scale it would be a checkpoint/bucketed write instead).
    Scoring weights each distinct (doc, bigram) row by its local count:
    an order-free integer sum, one shuffle join on (w1, w2)."""
    per = doc_bigram_counts(docs, id_col, text_col).cache()
    cnt = _count_table(per, id_col)
    per_doc = (per.join(addone_scored_counts(cnt), ["w1", "w2"])
                  .groupBy(id_col)
                  .agg(F.sum("n_local").alias("n_bigrams"),
                       F.sum(F.col("nlp_micro") * F.col("n_local"))
                        .alias("nll_micro")))
    return per_doc.withColumn(
        "avg_nll_micro", F.expr("nll_micro div n_bigrams"))


# ---------------------------------------------------------------------------
# Corpus drift monitor: KL divergence between two snapshots
# ---------------------------------------------------------------------------

def corpus_kl_drift(ref: DataFrame, cur: DataFrame, text_col: str = "text",
                    top_k: int = 100) -> DataFrame:
    """Token-distribution drift of ``cur`` against ``ref`` as
    KL(cur || ref) with add-one smoothing, integer-exact:

        lr_micro(t) = round(ln( ((c_cur+1)·(n_ref+V)) /
                                ((c_ref+1)·(n_cur+V)) ) · 1e6)
        contrib(t)  = (c_cur + 1) · lr_micro(t)
        kl_total_micro = (Σ_t contrib) div (n_cur + V)

    — the mixture/contamination monitor a training pipeline runs
    between corpus snapshots (did the crawl's language mix shift? did a
    domain flood in?). Emits the ``top_k`` tokens by drift contribution
    (the "what changed" diagnosis) with the FULL-vocab total riding on
    every row (kl_total_micro certifies the whole sum, not the top-k).

    Determinism: the log-ratio is ONE division of two exact int64
    products (each ≤ (N+1)·(N+V) — fits int64 up to ~3·10^9 tokens per
    side; shard the monitor beyond that), so both engines see the same
    IEEE double; per-token snap-to-integer before the sum makes the
    aggregate order-free (module contract above).

    Scale: two linear token-count aggregates (map-side combine), one
    vocab-bounded full-outer join on token, two 1-row aggregates
    broadcast back, TakeOrdered top-k. No all-pairs, no global window.
    """
    def counts(df: DataFrame, alias: str) -> DataFrame:
        return (df.select(F.explode(words(text_col)).alias("token"))
                  .groupBy("token").agg(F.count("*").cast("long").alias(alias)))

    return kl_from_counts(counts(ref, "c_ref"), counts(cur, "c_cur"), top_k)


def kl_from_counts(ref_counts: DataFrame, cur_counts: DataFrame,
                   top_k: int = 100) -> DataFrame:
    """KL(cur || ref) from token COUNT TABLES (token, c_ref) /
    (token, c_cur) — the merge point the streaming face shares with
    the batch monitor: a continuously-maintained running count
    aggregation (streaming.token_count_stream) drops in as
    ``cur_counts`` unchanged. Same integer-exact contract as
    corpus_kl_drift."""
    full = (ref_counts
            .join(cur_counts, "token", "full_outer")
            .select("token",
                    F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
                    F.coalesce("c_cur", F.lit(0)).alias("c_cur")))
    tot = full.agg(F.sum("c_ref").alias("n_ref"), F.sum("c_cur").alias("n_cur"),
                   F.count("*").alias("v"))
    j = full.crossJoin(F.broadcast(tot))
    lr = F.expr("CAST(round(ln(CAST((c_cur + 1) * (n_ref + v) AS DOUBLE) "
                "/ CAST((c_ref + 1) * (n_cur + v) AS DOUBLE)) * 1000000, 0) "
                "AS BIGINT)")
    scored = (j.withColumn("lr_micro", lr)
               .withColumn("contrib", (F.col("c_cur") + 1) * F.col("lr_micro")))
    total = scored.agg(
        F.expr("CAST(sum(contrib) div (max(n_cur) + max(v)) AS BIGINT)")
         .alias("kl_total_micro"))
    return (scored.select("token", "c_ref", "c_cur", "lr_micro", "contrib")
                  .crossJoin(F.broadcast(total))
                  .orderBy(F.col("contrib").desc(), F.col("token").asc())
                  .limit(top_k))


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram scoring
# ---------------------------------------------------------------------------

D_KN = 0.75  # absolute discount; 3/4 is exact in binary (Chen & Goodman's fix)


def kn_count_table(per_doc_counts: DataFrame) -> DataFrame:
    """Kneser-Ney statistics over the per-doc bigram count table:
    (w1, w2, n, n_ctx, n1f, n1b, t) where

        n     = corpus count of (w1, w2)
        n_ctx = Σ_w2 n                (context total — the denominator)
        n1f   = |{w2 : c(w1,w2)>0}|   (continuation fan-OUT of w1 — the
                                       interpolation weight numerator)
        n1b   = |{w1 : c(w1,w2)>0}|   (continuation fan-IN of w2 — the
                                       continuation-probability numerator)
        t     = |bigram types|        (continuation denominator)

    All four KN statistics are row/group COUNTS of the vocab-bounded
    bigram table — two keyed aggregates and one 1-row aggregate beyond
    the plain count table, nothing corpus-proportional."""
    cnt = (per_doc_counts.groupBy("w1", "w2")
                         .agg(F.sum("n_local").cast("long").alias("n")))
    ctx = cnt.groupBy("w1").agg(F.sum("n").cast("long").alias("n_ctx"),
                                F.count("*").cast("long").alias("n1f"))
    cont = cnt.groupBy("w2").agg(F.count("*").cast("long").alias("n1b"))
    tot = cnt.agg(F.count("*").cast("long").alias("t"))
    return (cnt.join(ctx, "w1").join(cont, "w2")
               .crossJoin(F.broadcast(tot)))


def kn_scored_counts(tbl: DataFrame) -> DataFrame:
    """``kn_count_table`` + the interpolated-KN cost column nlp_micro —
    THE fixed-shape expression, factored so the per-doc scorer
    (doc_kn_scores) and the exportable model table (queries/retrieval.
    kn_bigram_table) can never drift apart. Keeps all statistic
    columns (the export also reads n/n1f/n_ctx)."""
    return tbl.withColumn(
        "nlp_micro",
        F.expr(f"CAST(round(-ln((greatest(CAST(n AS DOUBLE) - 0.75e0, 0e0)"
               f" + 0.75e0 * n1f * (CAST(n1b AS DOUBLE) / t)) / n_ctx)"
               f" * {MICRO}, 0) AS BIGINT)"))


def trigram_count_table(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Corpus trigram counts (w1, w2, w3, n) — the single
    corpus-proportional aggregate every KN-trigram statistic derives
    from (KenLM discipline: all lower-order stats are TYPE counts of
    this table, never a second corpus pass)."""
    return (ngram_rows(docs, 3, id_col, text_col)
            .groupBy("w1", "w2", "w3")
            .agg(F.count("*").cast("long").alias("n")))


# The three fixed-shape double expressions of the interpolated-KN
# trigram recursion (Chen & Goodman 1999 eq. 4.24 applied at each
# order, fixed D = 0.75 — exact in binary). ONE text, injected into
# both the Spark plan (F.expr) and the DuckDB oracle, so the two faces
# can never drift: identical literals, casts, and left-to-right
# association give the identical IEEE double on both engines.
KN3_P1 = "(CAST(n1b3 AS DOUBLE) / t2)"
KN3_P2 = (f"((greatest(CAST(cc AS DOUBLE) - 0.75e0, 0e0) "
          f"+ 0.75e0 * n1fc2 * {KN3_P1}) / ccd2)")
KN3_P3 = (f"((greatest(CAST(n AS DOUBLE) - 0.75e0, 0e0) "
          f"+ 0.75e0 * n1f12 * {KN3_P2}) / c12)")


def kn3_stat_tables(c3: DataFrame) -> dict[str, DataFrame]:
    """The five Kneser-Ney statistic tables of a trigram model, all
    TYPE/TOKEN counts of the trigram count table ``c3`` (w1,w2,w3,n):

        c12   (w1, w2, c12, n1f12) — prefix-context totals and fan-out
        cc2   (w2, w3, cc)         — continuation count N1+(·w2w3)
        mid   (w2, ccd2, n1fc2)    — middle denominator N1+(·w2·) and
                                     middle fan-out N1+(w2·)
        uni   (w3, n1b3)           — unigram continuation N1+(··w3)
        t2    (t2)                 — total suffix-pair types (1 row)

    Every aggregate is keyed on words (map-side combine, vocab-bounded
    output); t2 is a 1-row frame the callers broadcast.

    cc2 is materialized eagerly: three of the five tables (mid, uni,
    t2) derive from it and the ARPA assembly references each table
    several times — without the checkpoint Catalyst re-runs the cc2
    aggregate once per reference (guide §3.3: materialize a
    multi-consumer intermediate to truncate the plan). cc2 is
    type-bounded (distinct suffix pairs), far smaller than c3."""
    c12 = c3.groupBy("w1", "w2").agg(
        F.sum("n").cast("long").alias("c12"),
        F.count("*").cast("long").alias("n1f12"))
    cc2 = c3.groupBy("w2", "w3").agg(
        F.count("*").cast("long").alias("cc")).localCheckpoint(eager=True)
    mid = cc2.groupBy("w2").agg(
        F.sum("cc").cast("long").alias("ccd2"),
        F.count("*").cast("long").alias("n1fc2"))
    uni = cc2.groupBy("w3").agg(F.count("*").cast("long").alias("n1b3"))
    t2 = cc2.agg(F.count("*").cast("long").alias("t2"))
    return {"c12": c12, "cc2": cc2, "mid": mid, "uni": uni, "t2": t2}


# Stored linear-micro encoding of "backoff weight 1" (pass-through): a
# context nothing ever backs off through. KN3_BO decodes it as cost
# -ln(1e6/1e6) = 0. Distinct by construction from every genuine weight
# (all <= round(0.75e6)) and from genuinely-rounded-to-zero weights.
BOW_PASSTHROUGH = 1_000_000


def kn3_arpa(c3: DataFrame, prune3: int = 2) -> DataFrame:
    """The interpolated-Kneser-Ney TRIGRAM model as an ARPA-shaped
    table (ord, w1, w2, w3, n, nlp_micro, bow_micro) — the artifact a
    KenLM-style perplexity-gating pipeline ships (Heafield 2011; Chen
    & Goodman 1999 eq. 4.24 at every order, D = 0.75):

    - ord 3: every trigram with count >= ``prune3`` (count-threshold
      pruning, the standard ARPA prune; pruned trigrams score via
      backoff), nlp_micro = -ln P_KN(w3|w1,w2) in integer micro-nats.
      Trigram rows carry no backoff weight (highest order): bow 0.
    - ord 2: the full bigram inventory — prefix contexts (from c12,
      needed as backoff contexts of kept trigrams, so never pruned)
      FULL OUTER suffix pairs (from cc2, which carry the middle-order
      continuation probability). nlp_micro = -ln P_KN(w2|w1) in the
      continuation-count form (NULL for a pure-prefix pair that never
      occurs as a suffix — it is only ever a context); bow_micro =
      round(D·N1+(w1w2·)/c(w1w2) · 1e6) linear-micro. A pair that is
      never a prefix backs off with weight 1 (pass-through) and stores
      BOW_PASSTHROUGH = 1e6 linear-micro, which KN3_BO decodes as cost
      -ln(1) = 0 — never 0, which the consumer would mis-decode as
      bow 1e-6 (a ~13.8-nat penalty per hop). 1e6 is unambiguous: a
      genuine weight is D·N1+/c <= D = 0.75, so it rounds to at most
      750000; stored 0 is reserved for genuine weights that round to
      zero (contexts past ~1.5M tokens per fan-out unit, possible at
      corpus scale — KN3_BO's greatest(..,1) floor keeps those finite).
    - ord 1: every continuation word, nlp_micro = -ln N1+(··w)/N1+(··),
      bow_micro = round(D·N1+(w·)/N1+(·w·) · 1e6) (BOW_PASSTHROUGH
      when the word never appears as a middle — nothing ever backs off
      through it, so the weight is 1).

    Determinism: each probability is ONE fixed-shape double expression
    (KN3_P1/P2/P3 — literally the same text the oracle runs) over
    int64 stats, snapped per-row to integer micro-nats; there are no
    float aggregates at all. Scale: one corpus-proportional trigram
    aggregate + five vocab-bounded keyed aggregates + keyed joins; the
    output is type-bounded (seen trigrams), never token-proportional.

    Materialization (optimization r12, guide §2.4/§3.3): c3 is the one
    corpus-proportional input and EVERY branch of the union references
    it (directly or through a stat table) — unmaterialized, Catalyst
    re-runs the corpus trigram aggregate once per reference (measured
    52 parquet scans / 144 Exchanges in the kn_trigram_perplexity
    plan). The eager localCheckpoint computes it once; the returned
    ARPA table is likewise checkpointed because consumers
    (kn3_score_docs, arpa_model_card) reference it up to six times,
    and a materialized type-bounded model lets AQE broadcast the
    scoring joins. At cluster scale this is the "write the model once,
    read it everywhere" contract the docstrings already state."""
    c3 = c3.localCheckpoint(eager=True)
    st = kn3_stat_tables(c3)
    c12, cc2, mid, uni, t2 = (st["c12"], st["cc2"], st["mid"], st["uni"],
                              st["t2"])
    pad = F.lit("")
    ord3 = (c3.filter(F.col("n") >= prune3)
              .join(c12, ["w1", "w2"]).join(cc2, ["w2", "w3"])
              .join(mid, "w2").join(uni, "w3")
              .crossJoin(F.broadcast(t2))
              .select(F.lit(3).alias("ord"), "w1", "w2", "w3",
                      F.col("n").cast("long").alias("n"),
                      F.expr(f"CAST(round(-ln({KN3_P3}) * {MICRO}, 0) "
                             "AS BIGINT)").alias("nlp_micro"),
                      F.lit(0).cast("long").alias("bow_micro")))
    sfx = (cc2.join(mid, "w2").join(uni, "w3")
              .crossJoin(F.broadcast(t2))
              .select(F.col("w2").alias("a"), F.col("w3").alias("b"),
                      "cc",
                      F.expr(f"CAST(round(-ln({KN3_P2}) * {MICRO}, 0) "
                             "AS BIGINT)").alias("nlp_micro")))
    pfx = c12.select(F.col("w1").alias("a"), F.col("w2").alias("b"),
                     F.expr(f"CAST(round(0.75e0 * n1f12 / c12 * {MICRO}, 0) "
                            "AS BIGINT)").alias("bow_micro"))
    ord2 = (sfx.join(pfx, ["a", "b"], "full_outer")
               .select(F.lit(2).alias("ord"),
                       F.col("a").alias("w1"), F.col("b").alias("w2"),
                       pad.alias("w3"),
                       F.col("cc").cast("long").alias("n"),
                       "nlp_micro",
                       F.coalesce("bow_micro", F.lit(BOW_PASSTHROUGH))
                        .cast("long").alias("bow_micro")))
    ord1 = (uni.join(mid, uni["w3"] == mid["w2"], "left")
               .crossJoin(F.broadcast(t2))
               .select(F.lit(1).alias("ord"),
                       F.col("w3").alias("w1"), pad.alias("w2"),
                       pad.alias("w3"),
                       F.col("n1b3").cast("long").alias("n"),
                       F.expr(f"CAST(round(-ln({KN3_P1}) * {MICRO}, 0) "
                              "AS BIGINT)").alias("nlp_micro"),
                       F.coalesce(
                           F.expr(f"CAST(round(0.75e0 * n1fc2 / ccd2 "
                                  f"* {MICRO}, 0) AS BIGINT)"),
                           F.lit(BOW_PASSTHROUGH)).cast("long")
                        .alias("bow_micro")))
    return (ord1.unionByName(ord2).unionByName(ord3)
                .localCheckpoint(eager=True))


# Per-trigram scoring cost against the ARPA table, ARPA-consumer
# semantics (backoff evaluation over the STORED integer micro values —
# what a KenLM reader does with the shipped file): a seen (unpruned)
# trigram costs its stored nlp3; a pruned/unseen one backs off through
# the (w1,w2) context weight to the bigram row; a bigram miss backs
# off again to the continuation unigram; an out-of-vocabulary word
# costs the <unk> floor -ln(1/(N1+(··)+1)) = ln(t2+1). A MISSING
# backoff context contributes bow 1 (cost 0) — the standard ARPA
# missing-context rule, via coalesce to 1e6 linear-micro; a stored
# BOW_PASSTHROUGH (= 1e6) row decodes identically, so never-prefix /
# never-middle contexts also pass through at cost 0. ONE text on
# both engines. The greatest(..., 1) floor guards ln(0) for a bow
# that GENUINELY rounds to 0 micro (contexts beyond ~1.5M/n1f tokens).
KN3_BO = ("CAST(round(-ln(CAST(greatest(coalesce({b}, 1000000), 1) "
          "AS DOUBLE) / 1000000e0) * 1000000, 0) AS BIGINT)")
KN3_UNK = ("CAST(round(ln(CAST(t2 + 1 AS DOUBLE)) * 1000000, 0) "
           "AS BIGINT)")
KN3_COST = (f"CASE WHEN nlp3 IS NOT NULL THEN nlp3 "
            f"WHEN nlp2 IS NOT NULL THEN {KN3_BO.format(b='bow2')} + nlp2 "
            f"ELSE {KN3_BO.format(b='bow2')} + {KN3_BO.format(b='bow1')} "
            f"+ coalesce(nlp1, {KN3_UNK}) END")


def kn3_doc_scores(docs: DataFrame, prune3: int = 2,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document trigram Kneser-Ney NLL scored AGAINST THE EXPORTED
    MODEL TABLE (the ARPA-consumer path — the point of shipping
    kn3_arpa is that scorers join it instead of re-deriving the LM):
    (id, n_trigrams, n_backoff, nll3_micro, avg_nll3_micro), where
    n_backoff counts trigram tokens that missed the pruned ord-3
    section and scored through the backoff chain (KN3_COST — the
    stored-integer evaluation both engines run verbatim).

    Plan: the per-doc trigram count table (distinct per doc — hot
    trigrams collapse before any join) LEFT-joins the three model
    sections on their keys: (w1,w2,w3) for nlp3, pair (w2,w3) for
    nlp2, pair (w1,w2) for bow2, unigram w3/w2 for nlp1/bow1 — five
    keyed joins against a TYPE-BOUNDED model (at cluster scale the
    model is bucketed or broadcast; nothing here is
    corpus-proportional except the one per-doc count aggregate).
    Self-scoring note: every corpus trigram's (w2,w3) is a suffix pair
    and (w1,w2) a prefix context by construction, so the double-
    backoff branch only fires for OUT-of-corpus text — the branch is
    total anyway. Integer micro-nat sums; order-free."""
    per = (ngram_rows(docs, 3, id_col, text_col)
           .groupBy(id_col, "w1", "w2", "w3")
           .agg(F.count("*").cast("long").alias("n_local")))
    per = per.localCheckpoint(eager=True)   # feeds the model AND scoring
    c3 = per.groupBy("w1", "w2", "w3").agg(
        F.sum("n_local").cast("long").alias("n"))
    return kn3_score_docs(per, kn3_arpa(c3, prune3=prune3), id_col)


def kn3_score_docs(per_doc_counts: DataFrame, arpa: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Consumer core: score a per-doc trigram count table against ANY
    exported ARPA table (the model need not come from the scored
    corpus — the held-out face passes a model trained elsewhere).
    Reads ONLY the model's stored columns — t2 for the <unk> floor is
    recovered as the count of suffix-pair rows (ord-2 rows carrying a
    probability), so a shipped table is self-sufficient."""
    m3 = (arpa.filter("ord = 3")
              .select("w1", "w2", "w3", F.col("nlp_micro").alias("nlp3")))
    m2 = arpa.filter("ord = 2").select(
        F.col("w1").alias("a"), F.col("w2").alias("b"),
        F.col("nlp_micro").alias("nlp2"), F.col("bow_micro").alias("bw"))
    m1 = arpa.filter("ord = 1").select(
        F.col("w1").alias("u"), F.col("nlp_micro").alias("nlp1"),
        F.col("bow_micro").alias("b1"))
    t2f = (arpa.filter("ord = 2 AND nlp_micro IS NOT NULL")
               .agg(F.count("*").cast("long").alias("t2")))
    j = (per_doc_counts
         .join(m3, ["w1", "w2", "w3"], "left")
         .join(m2.select(F.col("a"), F.col("b"), F.col("nlp2")),
               (F.col("a") == F.col("w2")) & (F.col("b") == F.col("w3")),
               "left").drop("a", "b")
         .join(m2.select(F.col("a").alias("a2"), F.col("b").alias("b2"),
                         F.col("bw").alias("bow2")),
               (F.col("a2") == F.col("w1")) & (F.col("b2") == F.col("w2")),
               "left").drop("a2", "b2")
         .join(m1.select(F.col("u"), F.col("nlp1")),
               F.col("u") == F.col("w3"), "left").drop("u")
         .join(m1.select(F.col("u").alias("u2"),
                         F.col("b1").alias("bow1")),
               F.col("u2") == F.col("w2"), "left").drop("u2")
         .crossJoin(F.broadcast(t2f)))
    scored = (j.withColumn("cost", F.expr(KN3_COST))
               .withColumn("backoff", F.col("nlp3").isNull().cast("long"))
               .withColumn("oov", (F.col("nlp3").isNull()
                                   & F.col("nlp2").isNull()
                                   & F.col("nlp1").isNull()).cast("long")))
    out = (scored.groupBy(id_col)
                 .agg(F.sum("n_local").cast("long").alias("n_trigrams"),
                      F.sum(F.col("backoff") * F.col("n_local"))
                       .cast("long").alias("n_backoff"),
                      F.sum(F.col("oov") * F.col("n_local"))
                       .cast("long").alias("n_oov"),
                      F.sum(F.col("cost") * F.col("n_local"))
                       .cast("long").alias("nll3_micro")))
    return out.withColumn("avg_nll3_micro",
                          F.expr("nll3_micro div n_trigrams"))


def kn3_heldout_scores(train_docs: DataFrame, test_docs: DataFrame,
                       prune3: int = 2, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Held-out trigram-KN perplexity (the CCNet gating shape, Wenzek
    et al. 2020: score crawl documents under an LM trained on a CLEAN
    reference — here the model corpus and the scored corpus are
    disjoint): kn3_arpa on ``train_docs``, kn3_score_docs on
    ``test_docs``. Unlike the self-scoring face, the unseen-bigram
    double-backoff branch and the <unk> floor genuinely fire here —
    n_backoff/n_oov per doc make the miss rates auditable."""
    arpa = kn3_arpa(trigram_count_table(train_docs, id_col, text_col),
                    prune3=prune3)
    per = (ngram_rows(test_docs, 3, id_col, text_col)
           .groupBy(id_col, "w1", "w2", "w3")
           .agg(F.count("*").cast("long").alias("n_local")))
    return kn3_score_docs(per, arpa, id_col)


def doc_kn_scores(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document interpolated Kneser-Ney bigram negative
    log-likelihood: (id, n_bigrams, kn_nll_micro, avg_kn_nll_micro).

    P_KN(w2|w1) = ( max(c(w1,w2) - D, 0) + D·N1+(w1,·)·P_cont(w2) )
                  / c(w1),       P_cont(w2) = N1+(·,w2) / N1+(··)

    — Kneser & Ney 1995 / Chen & Goodman 1999 eq. 4.24 (interpolated
    form, fixed discount D = 0.75). This is the smoothing the add-one
    scorer (doc_nll_scores) trades away: add-one flattens toward
    uniform; KN backs off toward how PROMISCUOUS a word's left context
    set is ("francisco" is frequent but follows only "san", so its
    continuation weight is tiny). Scoring the corpus's own documents
    means every scored bigram is in the count table — the unseen-event
    branch never fires, exactly as in doc_nll_scores.

    Determinism: per-bigram -ln P is snapped to integer micro-nats
    before the per-doc sum (module contract). The probability itself
    is ONE fixed-shape double expression over six int64 inputs, with
    D = 0.75 exact in binary and left-to-right association mirrored in
    the oracle SQL — both engines compute the identical IEEE double.

    Plan: identical to doc_nll_scores — the cached per-doc count table
    feeds both the corpus statistics and the scoring join; one shuffle
    join on (w1, w2); order-free integer sums."""
    per = doc_bigram_counts(docs, id_col, text_col).cache()
    tbl = kn_count_table(per)
    scored = kn_scored_counts(tbl).select("w1", "w2", "nlp_micro")
    per_doc = (per.join(scored, ["w1", "w2"])
                  .groupBy(id_col)
                  .agg(F.sum("n_local").alias("n_bigrams"),
                       F.sum(F.col("nlp_micro") * F.col("n_local"))
                        .alias("kn_nll_micro")))
    return per_doc.withColumn(
        "avg_kn_nll_micro", F.expr("kn_nll_micro div n_bigrams"))
