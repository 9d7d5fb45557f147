"""Streaming ≡ batch equivalence on the events fixture (FIXTURES.md:
'streaming correctness uses batch-equivalence')."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from hops_spark import streaming as S
from hops_spark.io.readers import load_table


def _batch_events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _sorted_rows(df, *cols):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def test_tumbling_stream_matches_batch(spark, sf_dir):
    stream = S.tumbling_counts(S.read_events_stream(spark, sf_dir))
    got = S.run_to_completion(stream, "tumbling_out")
    exp = (
        _batch_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value"))
    assert _sorted_rows(got, "window_start", "event_type") == \
        _sorted_rows(exp, "window_start", "event_type")


def test_session_stream_matches_batch(spark, sf_dir):
    stream = S.session_aggregate(S.read_events_stream(spark, sf_dir))
    got = S.run_to_completion(stream, "session_out")
    exp = (_batch_events(spark, sf_dir)
           .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
           .agg(F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"))
           .select("user_id", F.col("w.start").alias("session_start"),
                   "n_events", "sum_value"))
    assert _sorted_rows(got, "user_id", "session_start") == \
        _sorted_rows(exp, "user_id", "session_start")


def test_session_window_batch_matches_gaps_and_islands(spark, sf_dir):
    """session_window (engine stateful op) ≡ the SQL gaps-and-islands
    form used as the DuckDB oracle."""
    from hops_spark.registry import load_all
    gi = load_all()["session_window_agg"].fn(spark, sf_dir) \
        .select("user_id", "session_start", "n_events", "sum_value")
    sw = (_batch_events(spark, sf_dir)
          .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
          .agg(F.count("*").alias("n_events"),
               F.round(F.sum("value"), 2).alias("sum_value"))
          .select("user_id", F.col("w.start").alias("session_start"),
                  "n_events", "sum_value"))
    assert _sorted_rows(gi, "user_id", "session_start") == \
        _sorted_rows(sw, "user_id", "session_start")


def test_dedup_within_watermark(spark, sf_dir):
    stream = S.dedup_within_watermark(S.read_events_stream(spark, sf_dir))
    got = S.run_to_completion(stream, "dedup_out")
    n_unique = _batch_events(spark, sf_dir).select("event_id").distinct().count()
    assert got.count() == n_unique


def test_stateful_user_totals_matches_batch(spark, sf_dir):
    """applyInPandasWithState custom stateful op: final per-user running
    totals equal the batch groupBy on the same rows."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.streaming import read_events_stream, stateful_user_totals

    stream = stateful_user_totals(read_events_stream(spark, sf_dir))
    q = (stream.writeStream.format("memory").queryName("stateful_totals")
         .outputMode("update").start())
    q.processAllAvailable()
    q.stop()
    # last emitted row per user = final state
    got = (spark.sql("SELECT * FROM stateful_totals")
           .groupBy("user_id")
           .agg(F.max("n_events").alias("n_events"),
                F.max("sum_value").alias("sum_value")))

    ev = load_table(spark, sf_dir, "events")
    want = (ev.groupBy("user_id")
              .agg(F.count("*").alias("n_events"),
                   F.round(F.sum("value"), 2).alias("sum_value")))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_kafka_record_contract(spark, sf_dir):
    """to_kafka_records: binary key/value, value is the row's JSON doc."""
    import json

    from hops_spark.streaming import to_kafka_records

    d = spark.read.parquet(f"{sf_dir}/region.parquet")
    rec = to_kafka_records(d, ["r_regionkey"])
    assert [f.dataType.simpleString() for f in rec.schema.fields] == \
        ["binary", "binary"]
    rows = {bytes(r["key"]).decode(): json.loads(bytes(r["value"]).decode())
            for r in rec.collect()}
    src = {str(r["r_regionkey"]): r.asDict() for r in d.collect()}
    assert rows.keys() == src.keys()
    for k, v in rows.items():
        assert v["r_name"] == src[k]["r_name"]


def test_kafka_writer_options_without_broker(spark, sf_dir, tmp_path):
    """kafka_writer builds the kafka-format writer unstarted."""
    from hops_spark.streaming import kafka_writer, read_events_stream

    st = read_events_stream(spark, sf_dir)
    w = kafka_writer(st, "broker1:9092", "events", str(tmp_path / "ck"),
                     ["event_id"])
    assert w._df.schema.fieldNames() == ["key", "value"]


def test_kafka_writer_validates_binding(spark, sf_dir, tmp_path):
    """Option/binding validation fires BEFORE Spark: empty brokers or
    topic, missing checkpoint, and absent key columns are all rejected
    with a clear error (the KafkaSink.java init contract)."""
    import pytest as _pytest

    from hops_spark.streaming import kafka_writer, read_events_stream

    st = read_events_stream(spark, sf_dir)
    ck = str(tmp_path / "ck")
    with _pytest.raises(ValueError, match="bootstrap"):
        kafka_writer(st, "  ", "events", ck, ["event_id"])
    with _pytest.raises(ValueError, match="topic"):
        kafka_writer(st, "b:9092", "", ck, ["event_id"])
    with _pytest.raises(ValueError, match="checkpoint"):
        kafka_writer(st, "b:9092", "events", "", ["event_id"])
    with _pytest.raises(ValueError, match="key columns"):
        kafka_writer(st, "b:9092", "events", ck, ["nope"])


def test_kafka_format_source_resolution(spark):
    """Document the deployment contract: if the kafka connector jar is
    on the classpath the 'kafka' source resolves (a broker is still
    needed to start); if not, the documented switch is
    kafka_sink_fallback. This pins which of the two states this build
    is in rather than silently assuming one."""
    jvm = spark._jvm
    try:
        jvm.org.apache.spark.sql.execution.datasources.DataSource \
            .lookupDataSource("kafka", spark._jsc.sc().conf())
        resolvable = True
    except Exception:
        resolvable = False
    # this container ships no kafka connector: the fallback is the
    # documented path. If a deployment adds the jar, this flips and the
    # format('kafka') writer in kafka_writer starts working unchanged.
    assert resolvable in (True, False)   # contract: lookup never hangs
    if not resolvable:
        from hops_spark.streaming import kafka_sink_fallback  # noqa: F401


def test_kafka_fallback_sink_roundtrip(spark, sf_dir, tmp_path):
    """foreachBatch fallback writes the same records to parquet."""
    import json

    from hops_spark.streaming import kafka_sink_fallback, read_events_stream

    st = read_events_stream(spark, sf_dir)
    out = str(tmp_path / "topic")
    q = kafka_sink_fallback(st, out, str(tmp_path / "ck2"),
                            ["event_id"]).start()
    q.processAllAvailable()
    q.stop()
    from hops_spark.io.readers import load_table
    got = spark.read.parquet(out)
    n_events = load_table(spark, sf_dir, "events").count()
    assert got.count() == n_events
    one = got.limit(1).collect()[0]
    doc = json.loads(bytes(one["value"]).decode())
    assert str(doc["event_id"]) == bytes(one["key"]).decode()


def test_continuous_ingest_exactly_once_resume(spark, sf_dir, tmp_path):
    """File-sink ingest writes each input exactly once; a restart from
    the same checkpoint is a no-op, not a duplication."""
    from hops_spark.io.readers import load_table
    from hops_spark.streaming import continuous_ingest, read_events_stream

    out, ck = str(tmp_path / "ingest"), str(tmp_path / "ck")
    n_src = load_table(spark, sf_dir, "events").count()

    q = continuous_ingest(read_events_stream(spark, sf_dir), out, ck).start()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out).count() == n_src

    q2 = continuous_ingest(read_events_stream(spark, sf_dir), out, ck).start()
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(out).count() == n_src  # no re-processing


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Streaming self-join (same key, ts within 30 min, id_a < id_b)
    must equal the batch join on the same rows."""
    from hops_spark.io.readers import load_table
    from hops_spark.streaming import read_events_stream, stream_stream_join

    st = stream_stream_join(read_events_stream(spark, sf_dir),
                            read_events_stream(spark, sf_dir))
    q = st.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT event_a, event_b FROM ssj").collect()

    e = load_table(spark, sf_dir, "events")
    a = e.select(F.col("user_id").alias("k"), F.col("ts").alias("ta"),
                 F.col("event_id").alias("ea"))
    b = e.select(F.col("user_id").alias("k"), F.col("ts").alias("tb"),
                 F.col("event_id").alias("eb"))
    expect = (a.join(b, "k")
               .filter((F.col("ea") < F.col("eb"))
                       & (F.col("tb") >= F.col("ta"))
                       & (F.col("tb") <= F.col("ta") + F.expr("INTERVAL 30 MINUTES")))
               .select("ea", "eb").collect())
    assert {(r["event_a"], r["event_b"]) for r in got} == \
           {(r["ea"], r["eb"]) for r in expect}
    assert len(expect) > 0


def test_signature_dedup_stream_matches_batch(spark, sf_dir):
    """Streaming signature dedup keeps exactly one doc per distinct
    MinHash signature — same signature set as the batch computation."""
    from hops_spark.ops import dedup as D
    from hops_spark.streaming import (read_documents_stream,
                                      signature_dedup_stream)

    st = signature_dedup_stream(read_documents_stream(spark, sf_dir))
    q = (st.writeStream.format("memory").queryName("sigdedup")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT signature FROM sigdedup").collect()

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = D.minhash_signatures(d, "doc_id", "text", 16, 3)
    expect = (D.signature_string(sigs, "doc_id", 16)
              .select("signature").distinct().collect())
    assert {r["signature"] for r in got} == {r["signature"] for r in expect}
    assert len(got) == len(expect)  # one survivor per signature


def test_cms_stream_grid_matches_batch(spark, sf_dir):
    """The streaming CMS grid (update-mode keyed count, O(depth*width)
    state) converges to exactly the batch grid over the same files."""
    from pyspark.sql import functions as F

    from hops_spark.ops import sketch as SK
    from hops_spark.streaming import cms_token_stream, read_documents_stream

    st = cms_token_stream(read_documents_stream(spark, sf_dir))
    q = (st.writeStream.format("memory").queryName("cmsgrid")
         .outputMode("complete").start())
    q.processAllAvailable()
    q.stop()
    got = {(r["r"], r["bucket"]): r["c"]
           for r in spark.sql("SELECT * FROM cmsgrid").collect()}

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select(F.explode(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "")
    ).alias("term"))
    expect = {(r["r"], r["bucket"]): r["c"]
              for r in SK.cms_cells(toks).collect()}
    assert got == expect
    assert len(got) <= SK.DEPTH * SK.WIDTH


def test_stateful_user_totals_tws_matches_batch(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 successor API, RocksDB state
    store): same final per-user totals as the batch groupBy and as the
    applyInPandasWithState twin. The API's state protocol needs
    google.protobuf, which this container does not ship — skip (not
    xfail) there; the op itself is plain PySpark and runs wherever
    pyspark[connect]'s protobuf dependency is present."""
    import pytest
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable: transformWithState "
                    "state-server protocol cannot start in this container")
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.streaming import read_events_stream, stateful_user_totals_tws

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try:
        stream = stateful_user_totals_tws(read_events_stream(spark, sf_dir))
        q = (stream.writeStream.format("memory").queryName("stateful_totals_tws")
             .outputMode("update").start())
        q.processAllAvailable()
        q.stop()
        got = (spark.sql("SELECT * FROM stateful_totals_tws")
               .groupBy("user_id")
               .agg(F.max("n_events").alias("n_events"),
                    F.max("sum_value").alias("sum_value")))
        ev = load_table(spark, sf_dir, "events")
        want = (ev.groupBy("user_id")
                  .agg(F.count("*").alias("n_events"),
                       F.round(F.sum("value"), 2).alias("sum_value")))
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    finally:
        if old is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_merge_maintains_scd1_state(spark, tmp_path):
    """Streaming materialized-view maintenance: a change feed streamed
    through foreachBatch MERGE (full-outer + coalesce, the merge_upsert
    pattern) must leave the target in exactly the state of applying the
    batches sequentially — including an insert in one batch updated by
    a later batch. (A table format with atomic MERGE plays this role in
    production; the read-modify-write here is checkpoint-materialized
    per micro-batch.)"""
    from pyspark.sql import functions as F

    target = str(tmp_path / "target")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k int, s string, v int").write.parquet(target)

    feed = tmp_path / "feed"
    feed.mkdir()
    # batch 1: update k=1, insert k=10; batch 2: update k=10 (the row
    # batch 1 inserted), insert k=11
    b1 = spark.createDataFrame([(1, "A", 11), (10, "N", 100)],
                               "k int, s string, v int")
    b2 = spark.createDataFrame([(10, "M", 101), (11, "N", 110)],
                               "k int, s string, v int")
    b1.coalesce(1).write.parquet(str(feed / "b1"))

    def merge_batch(batch, _epoch):
        cur = batch.sparkSession.read.parquet(target).localCheckpoint()
        ch = batch.withColumnsRenamed({"s": "c_s", "v": "c_v"}) \
                  .localCheckpoint()
        merged = (cur.join(ch, "k", "full_outer")
                     .select("k",
                             F.coalesce("c_s", "s").alias("s"),
                             F.coalesce("c_v", "v").alias("v")))
        merged.write.mode("overwrite").parquet(target)

    stream = (spark.readStream.schema("k int, s string, v int")
                   .option("maxFilesPerTrigger", "1")
                   .parquet(str(feed / "*")))
    q = (stream.writeStream.foreachBatch(merge_batch)
               .option("checkpointLocation", str(tmp_path / "ck"))
               .start())
    q.processAllAvailable()
    b2.coalesce(1).write.parquet(str(feed / "b2"))
    q.processAllAvailable()
    q.stop()

    got = {r["k"]: (r["s"], r["v"])
           for r in spark.read.parquet(target).collect()}
    assert got == {1: ("A", 11), 2: ("b", 20), 3: ("c", 30),
                   10: ("M", 101), 11: ("N", 110)}


def test_kafka_writer_schema_check_is_not_an_assert(spark, sf_dir, monkeypatch):
    """ADVICE r4: the (key binary, value binary) record-schema check
    must raise ValueError (assert is stripped under -O)."""
    import pytest as _pytest

    from hops_spark import streaming as _S
    from hops_spark.streaming import kafka_writer, read_events_stream

    # Sabotage the record builder so the contract check has to fire.
    monkeypatch.setattr(_S, "to_kafka_records",
                        lambda df, key_cols: df.selectExpr(
                            "CAST(event_id AS STRING) AS key",
                            "CAST(user_id AS STRING) AS value"))
    st = read_events_stream(spark, sf_dir)
    with _pytest.raises(ValueError, match="record schema"):
        kafka_writer(st, brokers="b:9092", topic="t",
                     checkpoint="/tmp/ck", key_cols=["event_id"])


def test_kmv_sketch_stream_equals_batch_across_batches(spark, sf_dir, tmp_path):
    """Streaming KMV maintenance (O(k) state forever): after draining a
    MULTI-FILE stream (4 files -> 4 micro-batches, so the per-batch
    merge-and-truncate actually exercises cross-batch merging), the
    latest emitted sketch per group equals the batch kmv_sketch over
    all rows — the k-truncation discards nothing that could belong to
    the final k smallest."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops.sketch import kmv_sketch
    from hops_spark.streaming import kmv_sketch_stream

    k = 64
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev_stream")
    (ev.repartition(4).write.mode("overwrite").parquet(src))

    schema = ev.schema
    stream_in = (spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", 1).parquet(src)
                 # session tz is UTC: NTZ -> TIMESTAMP is a pure retag
                 .withColumn("ts", F.col("ts").cast("timestamp")))
    q = (kmv_sketch_stream(stream_in, k=k).writeStream
         .format("memory").queryName("kmv_stream_test")
         .outputMode("update").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM kmv_stream_test").collect()
    versions = {r["version"] for r in rows}
    assert len(versions) > 1, \
        "stream collapsed to one batch — multi-batch merge not exercised"
    latest = {}
    for r in rows:
        latest.setdefault(r["grp"], {})
        latest[r["grp"]][r["version"]] = None
    final = set()
    counts: dict = {}
    for r in rows:
        if r["version"] == max(latest[r["grp"]]):
            final.add((r["grp"], r["hv"]))
        counts[(r["grp"], r["version"])] = \
            counts.get((r["grp"], r["version"]), 0) + 1

    want = {(r["grp"], r["hv"]) for r in kmv_sketch(
        ev.select(F.col("event_type").alias("g"), "user_id"),
        "g", "user_id", k).select("grp", "hv").collect()}
    assert final == want
    # O(k) bound: no emission ever exceeds k rows per (grp, version)
    assert max(counts.values()) <= k


def test_hll_register_stream_equals_batch(spark, sf_dir):
    """The streaming HLL register grid (bounded 2^p-row state per
    group) equals the batch grid after the stream drains — the
    max-merge law live in Structured Streaming."""
    from hops_spark.io.readers import load_table
    from hops_spark.ops.sketch import hll_registers
    from hops_spark.streaming import (hll_register_stream,
                                      read_events_stream,
                                      run_to_completion)

    got = {(r["grp"], r["reg"]): r["rho"] for r in run_to_completion(
        hll_register_stream(read_events_stream(spark, sf_dir)),
        "hll_stream_test").collect()}
    ev = load_table(spark, sf_dir, "events")
    want = {(r["grp"], r["reg"]): r["rho"] for r in
            hll_registers(ev, "event_type", "user_id", 8).collect()}
    assert got == want
    # state bound: <= 2^8 registers per group
    from collections import Counter
    per_grp = Counter(g for g, _ in got)
    assert max(per_grp.values()) <= 256


def test_dyadic_quantile_stream_equals_batch_and_answers_ranks(spark, sf_dir):
    """The streaming dyadic-CMS quantile grid (bounded
    levels*depth*width state) equals the batch sketch after the stream
    drains, and a rank query on the DRAINED grid obeys both C&M bounds
    against the exact batch ranks — live quantile monitoring, same
    state-store contract as the CMS/HLL streams."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops.sketch import dyadic_cms_cells, dyadic_rank_estimates
    from hops_spark.streaming import (dyadic_quantile_stream,
                                      read_events_stream, run_to_completion)

    bits, min_level = 20, 8
    got = {(r["level"], r["r"], r["bucket"]): r["c"] for r in
           run_to_completion(
               dyadic_quantile_stream(read_events_stream(spark, sf_dir),
                                      bits, min_level),
               "dyadic_q_stream").collect()}
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        F.pmod(F.expr("CAST(round(value * 100, 0) AS BIGINT)"),
               F.lit(1 << bits)).alias("v"))
    cells = dyadic_cms_cells(vals, "v", bits, min_level)
    want = {(r["level"], r["r"], r["bucket"]): r["c"]
            for r in cells.collect()}
    assert got == want
    assert len(got) <= (bits - min_level) * 4 * 256
    # rank queries on the drained grid: both bounds vs exact
    panel = spark.range(1, 32).select((F.col("id") * (1 << 15)).alias("t"))
    ranks = {r["t"]: r["est_rank"] for r in
             dyadic_rank_estimates(cells, panel, bits, min_level).collect()}
    n = vals.count()
    bound = (bits - min_level) * 3 * n // 256
    for t, est in ranks.items():
        exact = vals.filter(F.col("v") < t).count()
        assert est >= exact
        assert est - exact <= bound


def test_shard_manifest_stream_equals_batch(spark, sf_dir):
    """The streaming shard manifest (n_shards-row state: count / sum /
    bit_xor are all commutative monoids) converges to the batch
    shard_manifest query's per-shard columns over the same files."""
    from hops_spark.registry import load_all
    from hops_spark.streaming import (read_documents_stream,
                                      run_to_completion,
                                      shard_manifest_stream)

    got = {r["shard"]: (r["n_docs"], r["n_chars"], r["content_fp"])
           for r in run_to_completion(
               shard_manifest_stream(read_documents_stream(spark, sf_dir)),
               "manifest_stream").collect()}
    want = {r["shard"]: (r["n_docs"], r["n_chars"], r["content_fp"])
            for r in load_all()["shard_manifest"].fn(spark, sf_dir)
            .select("shard", "n_docs", "n_chars", "content_fp").collect()}
    assert got == want
    assert len(got) <= 8


def test_incremental_dedup_stream_folds_like_batch(spark, sf_dir, tmp_path):
    """Streaming incremental dedup (foreachBatch + signature store as
    state): drained flags must equal folding the COMBINED derivation
    (store flags OR intra-batch flags — the stream's own
    ops/dedup.combined_incremental_flags, NOT the plain batch
    operator, which never compares two same-batch arrivals)
    sequentially over the same micro-batches. Planted paths: a dup of
    the seeded corpus in batch 1 (store path), a batch-2 dup of a doc
    KEPT in batch 1 (store-append path), an INTRA-batch duplicate pair
    in batch 1 (keeper = lower id, victim flagged, only the keeper's
    parts enter the store), and a batch-2 dup of that intra keeper
    (flags via the store — proving the victim was excluded but the
    keeper appended)."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops.dedup import (combined_incremental_flags,
                                      dedup_state_parts)
    from hops_spark.streaming import incremental_dedup_stream, seed_dedup_state

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text")
    existing = docs.filter(F.col("doc_id") % 3 == 0)
    fresh1 = docs.filter(F.col("doc_id") % 3 == 1)
    # batch 1: fresh docs + one exact copy of an EXISTING doc + an
    # exact copy of a FRESH batch-1 doc (the intra-batch pair: the
    # original is the keeper by lower id, the +300000 copy the victim)
    copy_of_existing = existing.orderBy("doc_id").limit(1).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    intra_src = fresh1.orderBy("doc_id").limit(2).orderBy(F.desc("doc_id")).limit(1)
    intra_victim = intra_src.select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text")
    b1 = fresh1.unionByName(copy_of_existing).unionByName(intra_victim)
    # batch 2: fresh docs + one exact copy of a doc KEPT in batch 1
    # + one exact copy of the intra-batch KEEPER (store path again)
    kept_b1_doc = fresh1.orderBy("doc_id").limit(1).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text")
    dup_of_intra_keeper = intra_src.select(
        (F.col("doc_id") + 400000).alias("doc_id"), "text")
    b2 = (docs.filter(F.col("doc_id") % 3 == 2)
              .unionByName(kept_b1_doc).unionByName(dup_of_intra_keeper))

    state = str(tmp_path / "state")
    flags_dir = str(tmp_path / "flags")
    feed = tmp_path / "feed"
    feed.mkdir()
    seed_dedup_state(existing, state)
    b1.coalesce(1).write.parquet(str(feed / "b1"))
    stream = (spark.readStream.schema("doc_id long, text string")
                   .option("maxFilesPerTrigger", "1")
                   .parquet(str(feed / "*")))
    q = (incremental_dedup_stream(stream, state, flags_dir,
                                  str(tmp_path / "ck")).start())
    q.processAllAvailable()
    b2.coalesce(1).write.parquet(str(feed / "b2"))
    q.processAllAvailable()
    q.stop()

    cols = ("doc_id", "exact_dup", "near_dup", "is_kept")
    got = sorted(tuple(r) for r in
                 spark.read.parquet(flags_dir).select(*cols).collect())
    # reference: the stream's OWN combined derivation (store flags OR
    # intra-batch flags) folded sequentially with the same store
    # updates — existing grows by each batch's COMBINED-kept docs
    f1 = combined_incremental_flags(dedup_state_parts(b1),
                                    dedup_state_parts(existing))
    kept1 = b1.join(f1.filter(F.col("is_kept")).select("doc_id"),
                    "doc_id", "left_semi")
    f2 = combined_incremental_flags(
        dedup_state_parts(b2),
        dedup_state_parts(existing.unionByName(kept1)))
    want = sorted(tuple(r) for r in
                  f1.unionByName(f2).select(*cols).collect())
    assert got == want and len(got) == b1.count() + b2.count()
    # the planted duplicates were flagged through the right path
    by_id = {r[0]: r for r in got}
    planted_exist = existing.orderBy("doc_id").limit(1).collect()[0]["doc_id"] + 100000
    first_fresh = fresh1.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    intra_keeper = intra_src.collect()[0]["doc_id"]
    assert by_id[planted_exist][1] is True          # dup of seeded corpus
    assert by_id[first_fresh + 200000][1] is True   # dup of batch-1 keeper
    # intra-batch pair: keeper kept, same-batch victim flagged
    assert by_id[intra_keeper][3] is True
    assert by_id[intra_keeper + 300000][1] is True
    # batch-2 dup of the intra KEEPER flags via the store — the
    # keeper's parts were appended, the victim's were not (if the
    # victim had entered the store this would still flag, but the
    # keeper-kept assertion above plus equivalence pins the fold)
    assert by_id[intra_keeper + 400000][1] is True


def test_mg_hitters_stream_folds_like_batch(spark, sf_dir, tmp_path):
    """Drained MG state must equal the sequential batch fold (per-batch
    hash-sharded MG summary -> merge; mg_hashed_summary is the SHARED
    derivation, so batch and stream cannot diverge) over the same
    micro-batches, stay <= k rows, and keep the n/(k+1) undercount
    guarantee cumulatively."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops.sketch import mg_hashed_summary, mg_merge
    from hops_spark.ops.text import words
    from hops_spark.streaming import fold_stream, mg_hitters_batch_update

    k = 8
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    state = str(tmp_path / "mgstate")
    feed = tmp_path / "feed"
    feed.mkdir()
    b1.coalesce(1).write.parquet(str(feed / "b1"))
    stream = (spark.readStream.schema("doc_id long, text string")
                   .option("maxFilesPerTrigger", "1")
                   .parquet(str(feed / "*")))
    q = fold_stream(stream, mg_hitters_batch_update, str(tmp_path / "ck"),
                    state_dir=state, k=k).start()
    q.processAllAvailable()
    b2.coalesce(1).write.parquet(str(feed / "b2"))
    q.processAllAvailable()
    q.stop()

    got = _newest_epoch(spark, state)[1]

    def summ(df):
        toks = df.select(F.explode(words("text")).alias("term"))
        return mg_hashed_summary(toks, "term", k=k)

    want_df = mg_merge(summ(b1), summ(b2), k=k)
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want
    assert len(got) <= k
    # cumulative guarantee vs the full stream
    toks = docs.select(F.explode(words("text")).alias("term"))
    exact = {r["term"]: r["n"] for r in
             toks.groupBy("term").agg(F.count("*").alias("n")).collect()}
    n = sum(exact.values())
    est = dict(got)
    for t, c in exact.items():
        assert c - est.get(t, 0) <= n // (k + 1)


def test_media_ingest_dedup_stream_folds_like_batch(spark, tmp_path):
    """Drained media flags: a batch-2 copy of a batch-1 KEPT image is
    flagged via the store; a batch-1 intra-batch near-dup is flagged
    against its lower-id neighbor; originals are kept. Store holds
    only kept fingerprints."""
    from pyspark.sql import functions as F

    from hops_spark.io.codecs import image_dhash
    from hops_spark.io.multimodal import synthetic_ppm_neardups
    from hops_spark.streaming import media_ingest_dedup_stream

    copies = 3
    media = synthetic_ppm_neardups(spark, 6, copies, seed=11)
    # batch 1: groups 0..2 (copies 0,1 of each); batch 2: copy 2 of
    # groups 0..2 + all of groups 3..5
    b1 = media.filter((F.col("media_id") % copies < 2)
                      & (F.col("media_id") < 3 * copies))
    b2 = media.filter((F.col("media_id") % copies == 2)
                      | (F.col("media_id") >= 3 * copies))

    feed = tmp_path / "feed"
    feed.mkdir()
    state, flagd = str(tmp_path / "fpstate"), str(tmp_path / "fpflags")
    b1.coalesce(1).write.parquet(str(feed / "b1"))
    stream = (spark.readStream
              .schema("media_id long, kind string, mime string, payload binary")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(feed / "*")))
    q = media_ingest_dedup_stream(stream, state, flagd,
                                  str(tmp_path / "ck"),
                                  decoder=image_dhash).start()
    q.processAllAvailable()
    b2.coalesce(1).write.parquet(str(feed / "b2"))
    q.processAllAvailable()
    q.stop()

    flags = {r["media_id"]: r["is_dup"]
             for r in spark.read.parquet(flagd).collect()}
    assert len(flags) == media.count()
    for g in range(6):
        base = g * copies
        assert flags[base] is False,  "group base must be kept"
        assert flags[base + 1] is True, "intra-batch near-dup flagged"
        assert flags[base + 2] is True, "cross-batch near-dup flagged"
    store_ids = {r["media_id"] for r in spark.read.parquet(state).collect()}
    assert store_ids == {g * copies for g in range(6)}


def test_decontaminate_stream_folds_like_batch(spark, sf_dir, tmp_path):
    """Drained streaming decontamination flags must equal applying the
    batch operator (same shared from-shingles derivation) to the whole
    feed — the benchmark is frozen state, so the fold is
    batch-order-independent. Clean docs emit n_overlap = 0 rows (the
    full-row contract); a planted verbatim benchmark doc is flagged."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops.dedup import contamination_flags
    from hops_spark.streaming import decontaminate_stream, seed_decon_state

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    feed_docs = docs.filter(F.col("doc_id") % 7 != 0)
    # planted leak: an exact copy of a benchmark doc arrives in batch 2
    leak = bench.orderBy("doc_id").limit(1).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text")
    b1 = feed_docs.filter(F.col("doc_id") % 2 == 0)
    b2 = feed_docs.filter(F.col("doc_id") % 2 == 1).unionByName(leak)

    state = str(tmp_path / "decon_state")
    flags_dir = str(tmp_path / "decon_flags")
    feed = tmp_path / "feed"
    feed.mkdir()
    seed_decon_state(bench, state)
    b1.coalesce(1).write.parquet(str(feed / "b1"))
    stream = (spark.readStream.schema("doc_id long, text string")
                   .option("maxFilesPerTrigger", "1")
                   .parquet(str(feed / "*")))
    q = decontaminate_stream(stream, state, flags_dir,
                             str(tmp_path / "ck")).start()
    q.processAllAvailable()
    b2.coalesce(1).write.parquet(str(feed / "b2"))
    q.processAllAvailable()
    q.stop()

    got = sorted(tuple(r) for r in spark.read.parquet(flags_dir)
                 .select("doc_id", "n_overlap", "contaminated").collect())
    all_docs = b1.unionByName(b2)
    overl = contamination_flags(all_docs, bench)
    want = sorted(tuple(r) for r in all_docs.select("doc_id")
                  .join(overl, "doc_id", "left")
                  .select("doc_id",
                          F.coalesce("n_overlap", F.lit(0)).alias("n"),
                          F.coalesce("contaminated", F.lit(False)).alias("c"))
                  .collect())
    assert got == want and len(got) == all_docs.count()
    planted = bench.orderBy("doc_id").limit(1).collect()[0]["doc_id"] + 500000
    by_id = {r[0]: r for r in got}
    assert by_id[planted][2] is True


# --- epoch-committed foreachBatch stores: fold_stream + *_batch_update ----

EVENT_SCHEMA = "event_id long, user_id long, ts timestamp, event_type string"
RICH = "a perfectly ordinary sentence with many distinct words here"
POOR = "zz zz zz"


def _epochs(state_dir):
    return sorted(int(d.split("=", 1)[1]) for d in os.listdir(state_dir)
                  if d.startswith("epoch="))


def _newest_epoch(spark, state_dir):
    """(epoch, sorted rows) of the newest epoch dir of a store."""
    e = _epochs(state_dir)[-1]
    return e, sorted(tuple(r) for r in
                     spark.read.parquet(f"{state_dir}/epoch={e}").collect())


def _written(spark, out_dir):
    """Reader of the per-batch artifact out_dir/batch=<bid>."""
    def read(bid):
        return sorted(tuple(r) for r in
                      spark.read.parquet(f"{out_dir}/batch={bid}").collect())
    return read


def _assert_fold_law(update, batches, read, derive, state_dirs):
    """The law of every epoch-committed store: after batch k the
    artifact read(k) equals derive(union of batches 0..k); replaying
    the last batch (the only one foreachBatch can redeliver) changes no
    artifact; each store keeps at most 2 epochs. Returns the
    artifacts."""
    seen, arts = None, []
    for bid, b in enumerate(batches):
        update(b, bid)
        seen = b if seen is None else seen.unionByName(b)
        arts.append(read(bid))
        assert arts[-1] == derive(seen)
    update(batches[-1], len(batches) - 1)
    assert [read(bid) for bid in range(len(batches))] == arts
    assert all(len(_epochs(d)) <= 2 for d in state_dirs)
    return arts


def test_fold_policy_lives_in_one_place():
    """The checkpointed foreachBatch policy has one home: hops_spark/
    holds exactly one `foreachBatch(` call and one `isEmpty()` guard,
    both in streaming.fold_stream, and one epoch-prune loop (the only
    rmtree over `epoch=` dirs), in streaming._commit_epoch."""
    import ast
    import pathlib

    import hops_spark

    homes = {"foreachBatch(": [], "isEmpty()": [], "rmtree(": []}
    for path in pathlib.Path(hops_spark.__file__).parent.rglob("*.py"):
        src = path.read_text()
        if not any(tok in src for tok in homes):
            continue
        lines = src.splitlines()
        for node in ast.parse(src).body:   # every top-level statement
            seg = "\n".join(lines[node.lineno - 1:node.end_lineno])
            for tok, where in homes.items():
                if tok == "rmtree(" and '"epoch="' not in seg:
                    continue
                where += [(path.name, getattr(node, "name", "<module>"))
                          ] * seg.count(tok)
    assert homes == {"foreachBatch(": [("streaming.py", "fold_stream")],
                     "isEmpty()": [("streaming.py", "fold_stream")],
                     "rmtree(": [("streaming.py", "_commit_epoch")]}


def test_mg_hitters_batch_update_replay_idempotent(spark, tmp_path):
    """A redelivered MG batch merges into the summary epoch it read,
    never into its own output: b0, b1, then b1 again leaves exactly
    mg_merge(summary(b0), summary(b1)), with <= 2 epochs on disk."""
    from hops_spark.ops.sketch import mg_hashed_summary, mg_merge
    from hops_spark.ops.text import words
    from hops_spark.streaming import mg_hitters_batch_update

    k = 2
    b0 = spark.createDataFrame([(1, "a a a b c"), (2, "c e")],
                               "doc_id long, text string")
    b1 = spark.createDataFrame([(3, "a b b d"), (4, "b e")],
                               "doc_id long, text string")
    state = str(tmp_path / "mg")
    for bid, b in ((0, b0), (1, b1), (1, b1)):
        mg_hitters_batch_update(b, bid, state, k=k)

    def summ(df):
        toks = df.select(F.explode(words("text")).alias("term"))
        return mg_hashed_summary(toks, "term", k=k)

    want = sorted(tuple(r) for r in
                  mg_merge(summ(b0), summ(b1), k=k).collect())
    assert _newest_epoch(spark, state) == (2, want)
    assert len(_epochs(state)) <= 2


def test_attribution_fold_stream_restarts_from_checkpoint(spark, tmp_path):
    """Drained per-channel credit DELTAS summed over micro-batches must
    equal the batch operator on the full log (same credit_by_channel
    derivation; feeds split by event time), across a stop and a
    restart of ``fold_stream`` on the same checkpoint: the restarted
    query resumes after batch 0 instead of reprocessing it. Planted
    paths: a batch-2 conversion whose window reaches back to a batch-1
    touch (store path), a same-batch touch (batch path), and a batch-1
    touch older than 7 days before the batch-2 conversion (pruned AND
    ineligible). The store must hold exactly the trailing window after
    the last batch, in at most 2 epochs."""
    from hops_spark.ops.attribution import attribution_credit
    from hops_spark.streaming import attribution_batch_update, fold_stream

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)

    def ev(eid, uid, day_off, etype):
        return (eid, uid, t0 + dt.timedelta(days=day_off), etype)

    b1_rows = [
        ev(1, 1, 0.0, "click"),      # > 7d before u1's conversion: stale
        ev(2, 1, 5.0, "view"),       # in-window for the batch-2 conv
        ev(3, 2, 5.5, "click"),
        ev(4, 2, 6.0, "purchase"),   # batch-1 conversion, same-batch touch
        ev(5, 3, 6.5, "signup"),
    ]
    b2_rows = [
        ev(6, 1, 8.0, "click"),      # same-batch touch for eid 7
        ev(7, 1, 9.0, "purchase"),   # window [2.0, 9.0): eids 2, 6 (not 1)
        ev(8, 3, 9.5, "purchase"),   # u3: eid 5 via the store
    ]
    b1 = spark.createDataFrame(b1_rows, EVENT_SCHEMA)
    b2 = spark.createDataFrame(b2_rows, EVENT_SCHEMA)
    full = spark.createDataFrame(b1_rows + b2_rows, EVENT_SCHEMA)

    feed = tmp_path / "feed"
    feed.mkdir()
    state = str(tmp_path / "state")
    credit = str(tmp_path / "credit")
    ckpt = str(tmp_path / "ck")

    def start():
        stream = (spark.readStream.schema(EVENT_SCHEMA)
                       .option("maxFilesPerTrigger", "1")
                       .parquet(str(feed / "*")))
        return fold_stream(stream, attribution_batch_update, ckpt,
                           state_dir=state, credit_dir=credit).start()

    b1.coalesce(1).write.parquet(str(feed / "b1"))
    q = start()
    q.processAllAvailable()
    q.stop()
    b2.coalesce(1).write.parquet(str(feed / "b2"))
    q = start()
    q.processAllAvailable()
    q.stop()
    # the restart resumed after batch 0: b1 was not reprocessed
    assert sorted(d for d in os.listdir(credit)
                  if d.startswith("batch=")) == ["batch=0", "batch=1"]

    got = {r["channel"]: (r["n_touches"], r["linear_credit_ppm"],
                          r["last_touch_convs"])
           for r in spark.read.parquet(credit).groupBy("channel")
               .agg(F.sum("n_touches").cast("long").alias("n_touches"),
                    F.sum("linear_credit_ppm").cast("long")
                     .alias("linear_credit_ppm"),
                    F.sum("last_touch_convs").cast("long")
                     .alias("last_touch_convs")).collect()}
    want = {r["channel"]: (r["n_touches"], r["linear_credit_ppm"],
                           r["last_touch_convs"])
            for r in attribution_credit(full).collect()}
    assert got == want
    # sanity on the planted paths: u1's conversion split 500k/500k over
    # view(2) + click(6); click 6 is the last touch; stale click 1 unused
    assert want["view"][1] == 500_000 + 0
    assert want["signup"] == (1, 1_000_000, 1)

    # store: the replay-retention contract keeps the read epoch plus
    # the written one (<= 2 dirs); the NEWEST is pruned to the trailing
    # 7 days behind batch-2 max ts (day 9.5 -> cutoff day 2.5: eid 1
    # gone)
    assert 1 <= len(_epochs(state)) <= 2
    kept = {r[0] for r in _newest_epoch(spark, state)[1]}
    assert kept == {2, 3, 5, 6}


def test_attribution_batch_update_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering a batch that
    already committed its store epoch and delta dir must change
    NOTHING — the store read is capped at the batch's own id and every
    write is keyed by batch_id with overwrite mode."""
    from hops_spark.ops.attribution import attribution_credit
    from hops_spark.streaming import attribution_batch_update

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    b0 = spark.createDataFrame(
        [(1, 1, t0, "click"),
         (2, 1, t0 + dt.timedelta(hours=1), "purchase")], EVENT_SCHEMA)
    b1 = spark.createDataFrame(
        [(3, 1, t0 + dt.timedelta(hours=2), "view"),
         (4, 1, t0 + dt.timedelta(hours=3), "purchase")], EVENT_SCHEMA)
    state, credit = str(tmp_path / "st"), str(tmp_path / "cr")

    def credit_so_far(bid):   # per-channel deltas of batches 0..bid
        return {r["channel"]: (r["n_touches"], r["linear_credit_ppm"])
                for r in spark.read.parquet(credit)
                    .filter(F.col("batch") <= bid).groupBy("channel")
                    .agg(F.sum("n_touches").cast("long").alias("n_touches"),
                         F.sum("linear_credit_ppm").cast("long")
                          .alias("linear_credit_ppm")).collect()}

    def batch_answer(df):
        return {r["channel"]: (r["n_touches"], r["linear_credit_ppm"])
                for r in attribution_credit(df).collect()}

    arts = _assert_fold_law(
        lambda b, bid: attribution_batch_update(b, bid, state, credit),
        [b0, b1], credit_so_far, batch_answer, [state])
    # the deltas fold to the batch answer: purchase 2 <- click 1,
    # purchase 4 <- click 1 + view 3 (500k each)
    assert arts[-1] == {"click": (2, 1_500_000), "view": (1, 500_000)}
    # the replay left the store at batch 1's epoch, touches 1 and 3
    epoch, rows = _newest_epoch(spark, state)
    assert (epoch, [r[0] for r in rows]) == (2, [1, 3])


def test_attribution_late_batch_raises_or_counts(spark, tmp_path):
    """A batch older than the store's prune cutoff diverges from the
    batch operator; default is a loud error, strict_order=False writes
    an observable _LATE_ROWS marker and proceeds."""
    from hops_spark.streaming import attribution_batch_update

    t0 = dt.datetime(2024, 3, 1)
    b0 = spark.createDataFrame(
        [(1, 1, t0, "click"),
         (2, 1, t0 + dt.timedelta(days=30), "purchase")], EVENT_SCHEMA)
    # b1 predates b0's cutoff (max_ts - 7d = t0 + 23d)
    b1 = spark.createDataFrame(
        [(3, 1, t0 + dt.timedelta(days=1), "view"),
         (4, 1, t0 + dt.timedelta(days=31), "purchase")], EVENT_SCHEMA)
    state, credit = str(tmp_path / "st"), str(tmp_path / "cr")
    attribution_batch_update(b0, 0, state, credit)
    with pytest.raises(ValueError, match="older than the store's prune"):
        attribution_batch_update(b1, 1, state, credit)
    attribution_batch_update(b1, 1, state, credit, strict_order=False)
    marker = os.path.join(credit, "batch=1", "_LATE_ROWS")
    assert os.path.exists(marker)
    with open(marker) as f:
        assert int(f.read()) == 1   # the late view, not the purchase
    # in-order batches never produce the marker
    b2 = spark.createDataFrame(
        [(5, 1, t0 + dt.timedelta(days=32), "purchase")], EVENT_SCHEMA)
    attribution_batch_update(b2, 2, state, credit)
    assert not os.path.exists(os.path.join(credit, "batch=2", "_LATE_ROWS"))


def test_attribution_missing_cutoff_recovered_from_store(spark, tmp_path):
    """A committed non-seed epoch whose _CUTOFF marker is missing (the
    crash window between parquet _SUCCESS and the marker write) must
    still run the late-arrival check: the cutoff is recovered from
    max(touch_ts) - window, so a late batch raises instead of being
    silently accepted."""
    from hops_spark.streaming import attribution_batch_update

    t0 = dt.datetime(2024, 3, 1)
    b0 = spark.createDataFrame(
        [(1, 1, t0, "click"),
         (2, 1, t0 + dt.timedelta(days=30), "click"),
         (3, 1, t0 + dt.timedelta(days=30), "purchase")], EVENT_SCHEMA)
    # b1 predates b0's cutoff (max_ts - 7d = t0 + 23d)
    b1 = spark.createDataFrame(
        [(4, 1, t0 + dt.timedelta(days=1), "view"),
         (5, 1, t0 + dt.timedelta(days=31), "purchase")], EVENT_SCHEMA)
    state, credit = str(tmp_path / "st"), str(tmp_path / "cr")
    attribution_batch_update(b0, 0, state, credit)
    # simulate the crash: epoch 1 committed (_SUCCESS present) but the
    # _CUTOFF marker never landed
    marker = os.path.join(state, "epoch=1", "_CUTOFF")
    assert os.path.exists(marker)
    os.remove(marker)
    with pytest.raises(ValueError, match="older than the store's prune"):
        attribution_batch_update(b1, 1, state, credit)
    # the recovery is conservative: max(touch_ts)=t0+30d gives cutoff
    # t0+23d here (equal to the true one since the max event was a
    # touch); an in-order batch still sails through
    b2 = spark.createDataFrame(
        [(6, 1, t0 + dt.timedelta(days=32), "purchase")], EVENT_SCHEMA)
    attribution_batch_update(b2, 1, state, credit)
    assert not os.path.exists(os.path.join(credit, "batch=1", "_LATE_ROWS"))


def test_attribution_seed_epoch_without_cutoff_still_unchecked(spark,
                                                               tmp_path):
    """Epoch 0 (seed_touch_state) legitimately has no _CUTOFF — nothing
    was ever pruned from it, so batch 0 must NOT raise on old rows."""
    from hops_spark.streaming import attribution_batch_update, seed_touch_state

    t0 = dt.datetime(2024, 3, 1)
    seed = spark.createDataFrame(
        [(1, 1, t0 + dt.timedelta(days=40), "click")], EVENT_SCHEMA)
    state, credit = str(tmp_path / "st"), str(tmp_path / "cr")
    seed_touch_state(seed, state)
    old = spark.createDataFrame(
        [(2, 1, t0, "view"),
         (3, 1, t0 + dt.timedelta(days=41), "purchase")], EVENT_SCHEMA)
    attribution_batch_update(old, 0, state, credit)   # no raise
    assert os.path.exists(os.path.join(credit, "batch=0"))


def test_mixture_batch_update_folds_like_batch(spark, tmp_path):
    """Online mixture controller: after each batch, the written
    mixture equals the batch derivation over the UNION of batches so
    far under the same frozen scorer (additivity of frozen-scored
    stats), and redelivering the last batch changes nothing."""
    from hops_spark.ops.mixture import (frozen_domain_stats,
                                        mixture_from_domain_stats)
    from hops_spark.streaming import (mixture_batch_update,
                                      seed_mixture_scorer)

    schema = "doc_id long, source string, text string"
    ref = spark.createDataFrame(
        [(900 + i, "ref", "one two three four five one two") for i in range(4)],
        schema)
    b0 = spark.createDataFrame(
        [(1, "easy", "one two one two one two one"),
         (2, "hard", "three five two four one three five")], schema)
    b1 = spark.createDataFrame(
        [(3, "easy", "one two one two one"),
         (4, "hard", "five four three two one five four"),
         (5, "easy", "two one two one two")], schema)
    scorer_dir = str(tmp_path / "scorer")
    state, mix = str(tmp_path / "st"), str(tmp_path / "mix")
    seed_mixture_scorer(ref, scorer_dir)
    scorer = spark.read.parquet(scorer_dir)

    def batch_answer(df):
        return sorted(tuple(r) for r in mixture_from_domain_stats(
            frozen_domain_stats(df, scorer)).collect())

    arts = _assert_fold_law(
        lambda b, bid: mixture_batch_update(b, bid, state, mix,
                                                   scorer_dir),
        [b0, b1], _written(spark, mix), batch_answer, [state])
    # weights stay a valid design at every step
    w1 = {r[0]: r[-1] for r in arts[1]}
    assert sum(w1.values()) == 1_000_000


def test_calibration_batch_update_folds_like_batch(spark, tmp_path):
    """Online calibration monitor: after each batch, the written
    reliability table equals the shared batch derivation over the
    UNION of batches so far under the same frozen weights (additivity
    of per-bin sufficient stats), and redelivering the last batch
    changes nothing."""
    from hops_spark.ops.classify import (calibration_bin_stats,
                                         calibration_from_bin_stats,
                                         linear_probe_scores)
    from hops_spark.streaming import (calibration_batch_update,
                                      seed_probe_weights)

    schema = "doc_id long, text string, y int"
    ref = spark.createDataFrame(
        [(900 + i, "good clean prose with many words", 1)
         for i in range(3)]
        + [(950 + i, "zz zz zz", 0) for i in range(3)], schema)
    b0 = spark.createDataFrame(
        [(1, "good clean prose with many words", 1),
         (2, "zz zz zz", 0)], schema)
    b1 = spark.createDataFrame(
        [(3, "good clean words here", 1),
         (4, "zz zz", 0),
         (5, "prose with many words indeed", 1)], schema)
    weights = str(tmp_path / "w")
    state, calib = str(tmp_path / "st"), str(tmp_path / "cal")
    seed_probe_weights(ref, weights, dim=16, seed="ct")
    w = [int(r["w_micro"]) for r in
         spark.read.parquet(weights).orderBy("feat").collect()]
    assert len(w) == 17     # dim + bias

    def batch_answer(df):
        s = linear_probe_scores(df, w, dim=16, seed="ct")
        return sorted(tuple(r) for r in calibration_from_bin_stats(
            calibration_bin_stats(s, bins=10)).collect())

    arts = _assert_fold_law(
        lambda b, bid: calibration_batch_update(
            b, bid, state, calib, weights, dim=16, seed="ct"),
        [b0, b1], _written(spark, calib), batch_answer, [state])
    # derived-table invariants: n = bin totals, gap = |conf - emp|
    rows = arts[1]
    assert sum(r[1] for r in rows) == 5
    for r in rows:
        assert r[5] == abs(r[3] - r[4])


def test_arpa_batch_update_folds_like_batch(spark, tmp_path):
    """Continuously-refreshed LM: after each batch, the written ARPA
    table equals the batch export over the UNION of batches so far
    (count additivity), and redelivering the last batch changes
    nothing."""
    from hops_spark.ops.lm import kn3_arpa, trigram_count_table
    from hops_spark.streaming import arpa_batch_update

    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([(1, "a b c a b c"), (2, "a b d e")], schema)
    b1 = spark.createDataFrame([(3, "b c a b c"), (4, "c a b d")], schema)
    state, model = str(tmp_path / "st"), str(tmp_path / "m")

    def batch_answer(df):
        return sorted(tuple(r) for r in
                      kn3_arpa(trigram_count_table(df), prune3=2).collect())

    arts = _assert_fold_law(
        lambda b, bid: arpa_batch_update(b, bid, state, model),
        [b0, b1], _written(spark, model), batch_answer, [state])
    # the fold genuinely moved the model: (a,b,c) count 2 -> 4 and new
    # trigrams crossed the prune threshold
    assert arts[1] != arts[0]


def test_winrate_batch_update_folds_like_batch(spark, tmp_path):
    """Continuous win-matrix/Bradley-Terry monitor: after each batch
    the written strength table equals the batch derivation
    (pairwise_win_matrix + bradley_terry_fit) over the union of
    batches so far — INCLUDING a pair whose two docs arrive in
    different batches (the pending-side store completes it) — and
    redelivering the last batch changes nothing."""
    from hops_spark.ops.preference import (bradley_terry_fit,
                                           cross_model_outcomes,
                                           pairwise_win_matrix, scored_docs)
    from hops_spark.streaming import winrate_batch_update

    schema = "doc_id long, source string, text string"
    b0 = spark.createDataFrame([
        (0, "m", RICH), (1, "n", POOR),       # complete pair, m wins
        (2, "n", POOR),                        # pair 1: half arrives
    ], schema)
    b1 = spark.createDataFrame([
        (3, "p", RICH),                        # pair 1 completes: p wins
        (4, "n", RICH), (5, "p", POOR),        # pair 2: n wins
    ], schema)
    state, out = str(tmp_path / "st"), str(tmp_path / "out")

    def batch_answer(df):
        wm = pairwise_win_matrix(
            cross_model_outcomes(scored_docs(df))).collect()
        s = bradley_terry_fit(
            [(r["model_a"], r["model_b"], r["wins_a"], r["wins_b"])
             for r in wm])
        wins, pairs = {}, {}
        for r in wm:
            wins[r["model_a"]] = wins.get(r["model_a"], 0) + r["wins_a"]
            wins[r["model_b"]] = wins.get(r["model_b"], 0) + r["wins_b"]
            pairs[r["model_a"]] = pairs.get(r["model_a"], 0) + r["n_pairs"]
            pairs[r["model_b"]] = pairs.get(r["model_b"], 0) + r["n_pairs"]
        return sorted((m, wins[m], pairs[m], s[m]) for m in s)

    arts = _assert_fold_law(
        lambda b, bid: winrate_batch_update(b, bid, state, out),
        [b0, b1], _written(spark, out), batch_answer,
        [os.path.join(state, "pending"), os.path.join(state, "matrix")])
    # the split pair (2, 3) really completed: p appears with a win
    assert "p" in {r[0] for r in arts[1]}
