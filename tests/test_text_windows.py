"""Word-window emitter laws (ops/text.bound_words + window_starts).

Every n-gram emitter is built from the same two primitives, so every one
must agree with a pure-Python reference on the boundary lengths of its
window: docs of 0, 1, n-1, n, n+1 and 12 words, with repeated words
(the windows of a 0- or 1-word doc are empty, never ``sequence(1, 0)``
= ``[1, 0]``). A structural guard keeps the two rules in their one
place. Also here: the q5 revenue layout law (decimal sum, same row
whatever the summation order).
"""

from __future__ import annotations

import ast
import hashlib
import pathlib
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from hops_spark.ops import lm as LM
from hops_spark.ops import text as T

REPO = pathlib.Path(__file__).resolve().parent.parent
VOCAB = ("the", "cat", "the", "Sat", "cat", "on")


def _text(n_words: int) -> str:
    # repeated words, mixed case and doubled spaces: the tokenizer
    # (ops/text.words) lowercases and drops empty splits
    return "  ".join(VOCAB[(i * i) % len(VOCAB)] for i in range(n_words))


def _lengths(*ns: int) -> list[int]:
    return sorted({0, 1, 12} | {m for n in ns for m in (n - 1, n, n + 1)})


def _docs(spark, *ns: int):
    rows = [(i, _text(m)) for i, m in enumerate(_lengths(*ns))]
    return spark.createDataFrame(rows, "doc_id long, text string"), rows


def _words(text: str) -> list[str]:
    return text.lower().split()


def _windows(w: list[str], n: int) -> list[list[str]]:
    return [w[i:i + n] for i in range(len(w) - n + 1)]


# --- the primitives -------------------------------------------------------

@pytest.mark.parametrize("n", [1, 2, 3])
def test_window_starts_law(spark, n):
    docs, rows = _docs(spark, n)
    got = {r["doc_id"]: r["s"] for r in T.bound_words(docs, "doc_id")
           .select("doc_id", T.window_starts("_w", n).alias("s")).collect()}
    for i, text in rows:
        assert got[i] == list(range(1, len(_words(text)) - n + 2)), i
    # typed empty array: transform over the guarded starts keeps its
    # struct type on 0- and 1-word docs with no cast at the site
    w = F.col("_w")
    pairs = F.transform(T.window_starts(w, 2),
                        lambda i: F.struct(F.element_at(w, i).alias("a")))
    out = T.bound_words(docs, "doc_id").select(pairs.alias("p"))
    assert out.schema["p"].dataType.simpleString() == "array<struct<a:string>>"


def test_bound_words_keeps_columns(spark):
    docs, rows = _docs(spark, 2)
    out = T.bound_words(docs, "*")
    assert out.columns == ["doc_id", "text", "_w"]
    assert {r["doc_id"]: r["_w"] for r in out.collect()} \
        == {i: _words(t) for i, t in rows}


# --- the emitters ---------------------------------------------------------

@pytest.mark.parametrize("n", [2, 3, 5])
def test_shingle_arrays_law(spark, n):
    from hops_spark.ops.dedup import shingle_arrays

    docs, rows = _docs(spark, n)
    got = {r["doc_id"]: sorted(r["shingle_arr"])
           for r in shingle_arrays(docs, shingle_n=n).collect()}
    assert got == {i: sorted({" ".join(g) for g in _windows(_words(t), n)})
                   for i, t in rows}


@pytest.mark.parametrize("k", [2, 3])
def test_gram_rows_raw_key_law(spark, k):
    from hops_spark.ops.dedup import _gram_rows

    docs, rows = _docs(spark, k)
    got = sorted(tuple(r) for r in
                 _gram_rows(docs, "doc_id", "text", k).collect())
    assert got == sorted((i, p, " ".join(g)) for i, t in rows
                         for p, g in enumerate(_windows(_words(t), k)))


def test_gram_rows_md5_key_law(spark):
    """duplicate_spans keys the k-gram rows on md5(g): the flagged
    positions of grams seen >= 2 times, merged into stride-1 runs."""
    from hops_spark.ops.dedup import duplicate_spans

    k = 3
    docs, rows = _docs(spark, k)
    grams = [(i, p, " ".join(g)) for i, t in rows
             for p, g in enumerate(_windows(_words(t), k))]
    n_md5 = Counter(hashlib.md5(g.encode()).hexdigest() for _, _, g in grams)
    want = []
    for i, _ in rows:
        pos = sorted(p for d, p, g in grams
                     if d == i and n_md5[hashlib.md5(g.encode()).hexdigest()] >= 2)
        runs: list[list[int]] = []
        for p in pos:
            if runs and p == runs[-1][-1] + 1:
                runs[-1].append(p)
            else:
                runs.append([p])
        want += [(i, r[0], r[-1] + k - 1, r[-1] + k - r[0]) for r in runs]
    got = sorted(tuple(r) for r in
                 duplicate_spans(docs, k=k, min_count=2).collect())
    assert want and got == sorted(want)


@pytest.mark.parametrize("n", [2, 3])
def test_ngram_rows_law(spark, n):
    docs, rows = _docs(spark, n)
    out = LM.ngram_rows(docs, n)
    assert out.columns == ["doc_id"] + [f"w{j + 1}" for j in range(n)]
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        (i, *g) for i, t in rows for g in _windows(_words(t), n))


def test_ngram_rows_carry(spark):
    docs = spark.createDataFrame([(0, "a b a", "web"), (1, "a", "news")],
                                 "doc_id long, text string, domain string")
    got = sorted(tuple(r) for r in
                 LM.ngram_rows(docs, 2, carry=("domain",)).collect())
    assert got == [(0, "web", "a", "b"), (0, "web", "b", "a")]


def test_ngram_rows_bigram_count_table(spark):
    docs = spark.createDataFrame([(0, "a b a b"), (1, "a")],
                                 "doc_id long, text string")
    rows = {(r["w1"], r["w2"]) for r in LM.ngram_rows(docs, 2).collect()}
    assert rows == {("a", "b"), ("b", "a")}          # doc 1: no bigram
    cnt = {(r["w1"], r["w2"]): (r["n"], r["n_ctx"])
           for r in LM.bigram_count_table(docs).collect()}
    assert cnt[("a", "b")] == (2, 2) and cnt[("b", "a")] == (1, 1)


def test_repetition_stats_dup_bigram_law(spark):
    docs, rows = _docs(spark, 2)
    got = {r["doc_id"]: r["dup_bigram_ppm"]
           for r in T.repetition_stats(docs).collect()}
    for i, t in rows:
        bg = [" ".join(g) for g in _windows(_words(t), 2)]
        assert got[i] == (len(bg) - len(set(bg))) * T.PPM // max(len(bg), 1), i


def test_repetition_stats_short_docs(spark):
    """Docs with < 2 words have no bigram windows and score 0."""
    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "a a")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in T.repetition_stats(docs).collect()}
    assert got[1]["dup_bigram_ppm"] == 0
    assert got[2]["dup_bigram_ppm"] == 0
    assert got[3]["dup_bigram_ppm"] == 0    # one bigram, no dup


def _top_ngram_ref(text: str, ns=(2, 3, 4)) -> dict:
    thresholds = {2: 200_000, 3: 180_000, 4: 160_000}
    w = _words(text)
    length = len(" ".join(w))
    out, keep = {}, True
    for n in ns:
        c = Counter(" ".join(g) for g in _windows(w, n))
        chars = 0
        if c:
            g, k = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
            chars = k * len(g)
        out[f"top{n}_ppm"] = chars * T.PPM // max(length, 1)
        keep = keep and out[f"top{n}_ppm"] <= thresholds[n]
    out["keep"] = keep
    return out


def test_top_ngram_chars_law(spark):
    docs, rows = _docs(spark, 2, 3, 4)
    got = {r["doc_id"]: r.asDict() for r in T.top_ngram_chars(docs).collect()}
    for i, t in rows:
        assert {k: v for k, v in got[i].items() if k != "doc_id"} \
            == _top_ngram_ref(t), i


def test_top_ngram_chars_hand_computed(spark):
    """Exact ppm values on crafted docs: counts, the count-then-lexico
    tie-break, the >1e6 overlap case, and the empty-gram fallback."""
    docs = spark.createDataFrame(
        [(1, "a b a b a"),   # len 9; top2 'a b'x2 (tie-break), top3 'a b a'x2
         (2, "x"),           # no grams at any n
         (3, "z z z z")],    # len 7; top2 'z z'x3 -> 9/7 > 1
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in T.top_ngram_chars(docs).collect()}
    assert got[1]["top2_ppm"] == 2 * 3 * 1_000_000 // 9      # 666666
    assert got[1]["top3_ppm"] == 2 * 5 * 1_000_000 // 9      # 1111111 (>1e6)
    assert got[1]["top4_ppm"] == 1 * 7 * 1_000_000 // 9
    assert got[1]["keep"] is False
    assert (got[2]["top2_ppm"], got[2]["top3_ppm"], got[2]["top4_ppm"]) \
        == (0, 0, 0)
    assert got[2]["keep"] is True
    assert got[3]["top2_ppm"] == 3 * 3 * 1_000_000 // 7      # 1285714
    assert got[3]["keep"] is False


@pytest.mark.parametrize("phrase", [["the"], ["the", "cat"],
                                    ["cat", "cat", "sat"]])
def test_phrase_occurrences_law(spark, phrase):
    from hops_spark.ops.retrieval import phrase_occurrences

    docs, rows = _docs(spark, len(phrase))
    want = []
    for i, t in rows:
        hits = [p + 1 for p, g in enumerate(_windows(_words(t), len(phrase)))
                if g == phrase]
        if hits:
            want.append((i, len(hits), hits[0]))
    got = sorted(tuple(r) for r in phrase_occurrences(docs, phrase).collect())
    assert want and got == sorted(want)


@pytest.mark.parametrize("window", [1, 2, 3])
def test_cooccurrence_edges_law(spark, window):
    from hops_spark.ops.retrieval import cooccurrence_edges

    docs, rows = _docs(spark, 2, window + 1)
    want: Counter = Counter()
    for _, t in rows:
        w = _words(t)
        for i in range(len(w) - 1):
            for d in range(1, min(window, len(w) - 1 - i) + 1):
                want[tuple(sorted((w[i], w[i + d])))] += 1
    got = {(r["word_a"], r["word_b"]): r["n_cooc"] for r in
           cooccurrence_edges(T.bound_words(docs, "doc_id"), window).collect()}
    assert got == dict(want)


def test_bpe_pair_counts_law(spark):
    from hops_spark.ops.bpe import _pair_counts

    syms = [" ".join("abcab"[j % 5] for j in range(m))
            for m in _lengths(2)]
    vocab = spark.createDataFrame([(m + 1, s) for m, s in enumerate(syms)],
                                  "n long, sym string")
    want: Counter = Counter()
    for m, s in enumerate(syms):
        for g in _windows(s.split(" "), 2):
            want[tuple(g)] += m + 1
    got = {(r["w1"], r["w2"]): r["pair_count"]
           for r in _pair_counts(vocab).collect()}
    assert got == dict(want)


# --- structural guard -----------------------------------------------------

_BARRIER = re.compile(r"F\.explode\(\s*F\.array\(\s*words\(")
# a window start is sequence(1, size(arr) - ...); a full index range
# sequence(1, size(arr)) (catalog/metastore.ancestor_rollup) is not one
_WINDOW = re.compile(r"F\.sequence\(\s*F\.lit\(1\),\s*F\.size\([^()]*\)\s*-")


def _sources():
    for top in ("hops_spark", "tools"):
        for p in sorted((REPO / top).rglob("*.py")):
            yield p, p.read_text()


def _enclosing_def(src: str, offset: int) -> str | None:
    line = src.count("\n", 0, offset) + 1
    best = None
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                and node.lineno <= line <= node.end_lineno:
            if best is None or node.lineno > best.lineno:
                best = node
    return best.name if best else None


@pytest.mark.parametrize("pattern,home", [(_BARRIER, "bound_words"),
                                          (_WINDOW, "window_starts")])
def test_word_window_rules_live_in_one_place(pattern, home):
    sites = [(p.relative_to(REPO).as_posix(), _enclosing_def(src, m.start()))
             for p, src in _sources() for m in pattern.finditer(src)]
    assert sites == [("hops_spark/ops/text.py", home)]


def test_merged_emitters_are_gone():
    from hops_spark.ops import dedup, retrieval

    gone = {"_bound_words", "bigram_rows", "trigram_rows",
            "_exact_gram_rows", "shingles", "fingerprint"}
    for mod in (T, LM, dedup, retrieval):
        assert not gone & set(vars(mod)), mod.__name__
    defs = [(p.name, m.group(1)) for p, src in _sources()
            for m in re.finditer(r"^\s*def (\w+)\(", src, re.M)
            if m.group(1) in gone]
    assert defs == []


# --- q5 revenue: exact decimal sum, layout-independent --------------------

# Exact revenue 83530.435. Left to right in doubles the sum reads
# 83530.43499999998 (rounds to .43); with row C before the end it reads
# 83530.435 (rounds HALF_UP to .44). The one-file layout scans A, B, C;
# the two-file layout scans C, B then A (in either file order).
_Q5_LINES = {"A": (1, 22216.42, 0.00), "B": (2, 64059.93, 0.10),
             "C": (3, 3893.70, 0.06)}


def _write_q5_fixture(root: pathlib.Path, line_files: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    def table(**cols):
        return pa.table({k: pa.array(v, t) for k, (v, t) in cols.items()})

    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    root.mkdir(parents=True)
    dims = {
        "region": table(r_regionkey=([2], i32), r_name=(["ASIA"], s)),
        "nation": table(n_nationkey=([8], i32), n_name=(["INDIA"], s),
                        n_regionkey=([2], i32)),
        "supplier": table(s_suppkey=([7], i64), s_nationkey=([8], i32)),
        "customer": table(c_custkey=([5], i64), c_nationkey=([8], i32)),
        "orders": table(o_orderkey=([1, 2, 3], i64),
                        o_custkey=([5, 5, 5], i64)),
    }
    for name, t in dims.items():
        pq.write_table(t, root / f"{name}.parquet")
    li = root / "lineitem.parquet"
    li.mkdir()
    for j, keys in enumerate(line_files):
        rows = [_Q5_LINES[k] for k in keys]
        pq.write_table(table(l_orderkey=([r[0] for r in rows], i64),
                             l_suppkey=([7] * len(rows), i64),
                             l_extendedprice=([r[1] for r in rows], f64),
                             l_discount=([r[2] for r in rows], f64)),
                       li / f"part-{j:05d}.parquet")


def test_q5_revenue_independent_of_summation_order(spark, tmp_path):
    import duckdb

    from hops_spark.registry import load_all

    spec = load_all()["q5_local_supplier_volume"]
    got = {}
    for name, files in (("one_file", ["ABC"]), ("two_files", ["CB", "A"])):
        root = tmp_path / name
        _write_q5_fixture(root, files)
        con = duckdb.connect()
        for t in ("region", "nation", "supplier", "customer", "orders"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{root}/{t}.parquet'")
        con.sql(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"'{root}/lineitem.parquet/*.parquet'")
        oracle = [tuple(r) for r in con.sql(spec.sql).fetchall()]
        got[name] = [tuple(r) for r in spec.fn(spark, str(root)).collect()]
        assert got[name] == oracle, name
    assert got["one_file"] == got["two_files"] == [("INDIA", 83530.44)]
