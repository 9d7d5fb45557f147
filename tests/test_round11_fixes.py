"""Round-11 regression tests for ADVICE.md r10 findings: the
mixture_schedule_sample achieved_ppm zero-total guard and the
corpus_data_card empty-table guards (the missing-_CUTOFF recovery tests
live with the other fold tests in tests/test_streaming.py)."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


def test_mixture_schedule_short_doc_corpus_both_engines(spark, tmp_path):
    """A corpus where every doc is under two words has no bigrams, so
    the mixture table is empty and both faces must agree on the EMPTY
    result — and neither engine may raise on the achieved_ppm division
    (pre-guard, DuckDB could div-by-zero where Spark NULLed; the
    kept_tokens=0-with-rows case itself is unreachable because the
    most-upweighted domain keeps 100% of its docs, including the
    bigram docs that put it in the mixture — the guard makes the
    division total anyway)."""
    from hops_spark.queries.textops import mixture_schedule_sample
    from hops_spark.registry import load_all

    _write_docs(spark, tmp_path,
                [(i, f"s{i % 2}", "en", "word") for i in range(6)])
    got = mixture_schedule_sample(spark, str(tmp_path)).collect()
    sql = load_all()["mixture_schedule_sample"].sql
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet/*.parquet')")
    oracle = con.execute(sql).fetchall()
    assert got == [] and oracle == []


def test_mixture_schedule_mixed_corpus_guard_matches(spark, tmp_path):
    """Same corpus with bigram docs added: the guarded division equals
    the unguarded value (t > 0) on both engines — the guard changes
    nothing on real corpora."""
    from hops_spark.queries.textops import mixture_schedule_sample
    from hops_spark.registry import load_all

    rows = [(i, f"s{i % 2}", "en", "word") for i in range(6)]
    rows += [(10 + i, f"s{i % 2}", "en", "two words here now")
             for i in range(4)]
    _write_docs(spark, tmp_path, rows)
    got = [(r["source"], r["achieved_ppm"], r["target_ppm"]) for r in
           mixture_schedule_sample(spark, str(tmp_path)).collect()]
    assert got and sum(a for _, a, _ in got) >= 999_998  # ppm partition
    sql = load_all()["mixture_schedule_sample"].sql
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet/*.parquet')")
    oracle = [(o[0], o[5], o[6]) for o in con.execute(sql).fetchall()]
    assert sorted(got) == sorted(oracle)


def test_corpus_data_card_empty_table_both_engines(spark, tmp_path):
    """On an empty documents table every n_docs division must yield 0
    on BOTH engines (DuckDB raised, Spark emitted NULL before)."""
    from hops_spark.queries.profiling import corpus_data_card
    from hops_spark.registry import load_all

    _write_docs(spark, tmp_path, [(1, "s", "en", "x")])
    # rewrite empty with the same schema
    spark.read.parquet(str(tmp_path / "documents.parquet")).limit(0) \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r["metric"]: r["value"]
           for r in corpus_data_card(spark, str(tmp_path)).collect()}
    assert got["n_docs"] == 0
    for m in ("mean_doc_tokens", "exact_dup_ppm", "empty_doc_ppm",
              "top_source_share_ppm", "top_lang_share_ppm"):
        assert got[m] == 0, m
    sql = load_all()["corpus_data_card"].sql
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet/*.parquet')")
    oracle = dict(con.execute(sql).fetchall())
    assert {k: v for k, v in oracle.items()} == got
