"""IO surface round-trips: text/kv/fixed scans, multi-output routing,
sorted-bucketed sink, compaction, kv-text sink (SURVEY §2.1)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hops_spark.io import readers
from hops_spark.io.readers import (TABLES, filter_md5, filter_percent,
                                   filter_regex, load_table,
                                   multi_input_union, read_fixed_width,
                                   read_kv_lines, read_lines)
from hops_spark.io.writers import compact, write_kv_text, write_partitioned


def test_kv_text_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a b"), (2, "c\td")], "k int, v string")
    out = str(tmp_path / "kv")
    write_kv_text(df, out, "k", "v")
    back = read_kv_lines(spark, out)
    got = sorted((r.key, r.value) for r in back.collect())
    # KV split at FIRST tab: embedded tab stays in the value
    assert got == [("1", "a b"), ("2", "c\td")]


def test_kv_line_without_separator(spark, tmp_path):
    p = str(tmp_path / "raw.txt")
    with open(p, "w") as f:
        f.write("justakey\nk\tv\n")
    got = {(r.key, r.value) for r in read_kv_lines(spark, p).collect()}
    assert got == {("justakey", ""), ("k", "v")}


def test_fixed_width(spark, tmp_path):
    p = str(tmp_path / "fixed.txt")
    with open(p, "w") as f:
        f.write("AAA11bbbb\nCCC22dddd\n")
    df = read_fixed_width(spark, p, [3, 2, 4], ["a", "n", "b"])
    got = sorted(map(tuple, df.collect()))
    assert got == [("AAA", "11", "bbbb"), ("CCC", "22", "dddd")]


def test_multi_input_union(spark):
    a = spark.createDataFrame([(1, "x")], "id int, a string")
    b = spark.createDataFrame([(2, 9.5)], "id int, b double")
    u = multi_input_union(a, b)
    assert set(u.columns) == {"id", "a", "b"}
    assert u.count() == 2


def test_scan_filters(spark):
    df = spark.createDataFrame([(i, f"key{i}") for i in range(100)], "id int, k string")
    assert filter_regex(df, "k", "key1.*").count() == 11  # key1, key10..key19
    pf = filter_percent(df, "id", 4)
    assert 0 < pf.count() < 100
    mf = filter_md5(df, "id", 4)
    assert 0 < mf.count() < 100


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def test_repeat_load_table_runs_no_job(spark, sf_dir):
    """The table's schema is resident after the first load: a second
    load_table of the same table runs no footer-inference job."""
    sc = spark.sparkContext
    load_table(spark, sf_dir, "orders")
    sc.setJobGroup("load-table-repeat", "memoized load_table")
    try:
        load_table(spark, sf_dir, "orders")
        jobs = list(sc.statusTracker().getJobIdsForGroup("load-table-repeat"))
    finally:
        sc.setJobGroup("", "")
    assert jobs == []


def test_load_table_matches_inferring_read(spark, sf_dir, monkeypatch):
    """Every fixture table reads with the same schema and rows as a bare
    spark.read.parquet (plus the events nanos rule), on the first call
    that infers the schema and on the memoized call."""
    monkeypatch.setattr(readers, "_schemas", {})
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        for call in ("first", "memoized"):
            got = load_table(spark, sf_dir, name)
            assert path in readers._schemas, (name, call)
            want = spark.read.parquet(path)
            if name == "events" \
                    and isinstance(want.schema["ts"].dataType, T.LongType):
                want = want.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000")))
            assert got.schema == want.schema, (name, call)
            assert _rows(got) == _rows(want), (name, call)


def test_load_table_sees_table_rewritten_in_place(spark, tmp_path):
    """A table overwritten at the same path with other columns reads with
    its new schema and rows, not the remembered ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x", "y", "z"], "c": [1.5, 2.5, 3.5]}),
                   path)
    back = load_table(spark, str(tmp_path), "t")
    assert back.columns == ["b", "c"]
    assert sorted(map(tuple, back.collect())) == \
        [("x", 1.5), ("y", 2.5), ("z", 3.5)]


def test_load_table_self_join_resolves(spark, sf_dir):
    """Two loads of one table are two relations with their own attribute
    ids, so a self-join of them resolves unambiguously."""
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    pairs = (a.join(b, a["n_regionkey"] == b["n_regionkey"])
              .where(a["n_nationkey"] < b["n_nationkey"])
              .select(a["n_name"], b["n_name"].alias("peer")))
    assert pairs.count() == 5 * (5 * 4 // 2)


def test_write_partitioned_routes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(20)], "v int, route string")
    out = str(tmp_path / "routed")
    write_partitioned(df, out, "route")
    assert sorted(d for d in os.listdir(out) if d.startswith("route=")) == \
        ["route=a", "route=b"]
    back = spark.read.parquet(out)
    assert back.count() == 20
    # partition pruning: reading one route touches only that directory
    one = spark.read.parquet(out).filter(F.col("route") == "a")
    assert one.count() == 10


def test_compact_small_files(spark, tmp_path):
    df = spark.createDataFrame([(i,) for i in range(1000)], "v int").repartition(16)
    src = str(tmp_path / "many")
    df.write.parquet(src)
    n_before = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    dst = str(tmp_path / "compacted")
    compact(spark.read.parquet(src), dst, target_files=1)
    n_after = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_before == 16 and n_after == 1
    assert spark.read.parquet(dst).count() == 1000


def test_read_lines(spark, tmp_path):
    p = str(tmp_path / "l.txt")
    with open(p, "w") as f:
        f.write("one\ntwo\n")
    assert {r.line for r in read_lines(spark, p).collect()} == {"one", "two"}


def test_sequence_file_roundtrip(spark, tmp_path):
    from hops_spark.io.readers import read_sequence_file
    from hops_spark.io.writers import write_sequence_file

    df = spark.createDataFrame(
        [("k1", "v1"), ("k2", "v\twith\ttabs"), ("k3", "")],
        "key string, value string")
    out = str(tmp_path / "seq")
    write_sequence_file(df, out)
    back = read_sequence_file(spark, out)
    assert sorted((r.key, r.value) for r in back.collect()) == \
        [("k1", "v1"), ("k2", "v\twith\ttabs"), ("k3", "")]


def test_sequence_file_long_keys_compressed(spark, tmp_path):
    from hops_spark.io.readers import read_sequence_file
    from hops_spark.io.writers import write_sequence_file

    df = spark.createDataFrame([(i, f"val{i}") for i in range(100)],
                               "key long, value string")
    out = str(tmp_path / "seqgz")
    write_sequence_file(df, out, compression="deflate")
    back = read_sequence_file(spark, out, schema="key long, value string")
    got = sorted((r.key, r.value) for r in back.collect())
    assert got == [(i, f"val{i}") for i in range(100)]


def test_bloom_parquet_lookup(spark, tmp_path):
    from hops_spark.io.writers import write_bloom_parquet

    df = spark.createDataFrame([(i, f"name{i}") for i in range(10_000)],
                               "id long, name string")
    out = str(tmp_path / "bloomed")
    write_bloom_parquet(df, out, ["id"], expected_ndv=10_000)
    back = spark.read.parquet(out)
    # point lookups: hit and definite miss both answer correctly
    assert back.filter(F.col("id") == 1234).count() == 1
    assert back.filter(F.col("id") == 999_999).count() == 0
    assert back.count() == 10_000


def test_xml_chunk_reader(spark, tmp_path):
    from hops_spark.io.readers import read_xml_chunks

    p = str(tmp_path / "recs.xml")
    with open(p, "w") as f:
        f.write("<log>\n<rec>\n  <id>1</id>\n</rec>\njunk between records\n"
                "<rec><id>2</id></rec>\n<rec></rec>\n</log>\n")
    out = read_xml_chunks(spark, p, "<rec>", "</rec>")
    recs = sorted(r.record for r in out.collect())
    assert len(recs) == 3
    assert "" in recs                       # empty record
    assert any("<id>1</id>" in r for r in recs)   # multi-line record
    assert any("<id>2</id>" in r for r in recs)


def test_read_auto_dispatch(spark, tmp_path):
    from hops_spark.io.readers import read_auto
    from hops_spark.io.writers import write_sequence_file

    seq = str(tmp_path / "auto_seq")
    write_sequence_file(
        spark.createDataFrame([("k", "v")], "key string, value string"), seq)
    assert [(r.key, r.value) for r in read_auto(spark, seq).collect()] == [("k", "v")]

    pq = str(tmp_path / "auto_pq")
    spark.createDataFrame([(7,)], "x int").write.parquet(pq)
    assert read_auto(spark, pq).collect()[0].x == 7

    txt = str(tmp_path / "auto.txt")
    with open(txt, "w") as f:
        f.write("hello\n")
    assert read_auto(spark, txt).collect()[0].line == "hello"


def test_har_pack_and_point_read(spark, sf_dir, tmp_path):
    """HAR round-trip: pack per-file rows, look one up via the manifest,
    bytes equal (reference HadoopArchives _index/_masterindex contract)."""
    from hops_spark.io.writers import har_create, har_lookup

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    files = d.select(
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string")).alias("path"),
        F.encode("text", "UTF-8").alias("data"))
    har = str(tmp_path / "har")
    har_create(files, har, target_files=4)

    # manifest is per-part, not per-file
    idx = spark.read.parquet(f"{har}/_index")
    assert idx.count() == 4
    assert idx.agg(F.sum("n_files")).collect()[0][0] == files.count()

    probe = d.select("doc_id", "text").orderBy("doc_id").limit(3).collect()
    for row in probe:
        got = har_lookup(spark, har, f"docs/{row['doc_id']}").collect()
        assert len(got) == 1
        assert bytes(got[0]["data"]).decode("utf-8") == row["text"]

    # miss → empty result, not an error
    assert har_lookup(spark, har, "docs/not-there").count() == 0


def test_compression_codecs_roundtrip(spark, sf_dir, tmp_path):
    """§1.3 codec surface: every codec the engine maps from the
    reference's io/compress family round-trips losslessly."""
    d = spark.read.parquet(f"{sf_dir}/region.parquet")
    expect = sorted(map(tuple, d.collect()))
    for codec in ("snappy", "gzip", "zstd", "lz4", "none"):
        p = str(tmp_path / f"pq_{codec}")
        d.write.option("compression", codec).mode("overwrite").parquet(p)
        assert sorted(map(tuple, spark.read.parquet(p).collect())) == expect
    for codec in ("gzip", "bzip2", "deflate", "none"):
        p = str(tmp_path / f"txt_{codec}")
        (d.select(F.col("r_name")).write
          .option("compression", codec).mode("overwrite").text(p))
        got = sorted(r[0] for r in spark.read.text(p).collect())
        assert got == sorted(r["r_name"] for r in d.collect())


def test_columnar_and_text_format_roundtrips(spark, sf_dir, tmp_path):
    """Format surface beyond parquet: ORC (columnar sibling), CSV and
    JSON-lines (text-format family) all round-trip the same rows."""
    d = spark.read.parquet(f"{sf_dir}/nation.parquet")
    expect = sorted(map(tuple, d.collect()))

    orc = str(tmp_path / "orc")
    d.write.mode("overwrite").orc(orc)
    assert sorted(map(tuple, spark.read.orc(orc).collect())) == expect

    csv = str(tmp_path / "csv")
    d.write.mode("overwrite").option("header", True).csv(csv)
    got = spark.read.option("header", True).schema(d.schema).csv(csv)
    assert sorted(map(tuple, got.collect())) == expect

    js = str(tmp_path / "json")
    d.write.mode("overwrite").json(js)
    got = spark.read.schema(d.schema).json(js)
    assert sorted(map(tuple, got.collect())) == expect
