"""Structured Streaming surface (SURVEY.md §2.8).

The reference's only stream is the HopsFS CDC log (MetadataLogContext
appends; QuotaUpdateManager incremental rollups). We realize the
declared superset on the `events` fixture: event-time tumbling /
sliding / session windows, watermark late-data policy, and
dedup-within-watermark. Every op here has a batch twin in
hops_spark/queries/events.py; tests assert batch ≡ streaming on the
same rows (FIXTURES.md oracle note).

All streams here are file/memory-driven so tests run hermetically; a
production deployment swaps `readStream.format("parquet")` for kafka —
the plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hops_spark.io.readers import table_schema


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", ts_type, True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ])


def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """events fixture as a file stream. Fixture generations differ in
    how they store `ts` — TIMESTAMP(NANOS) (readable only as long, then
    truncated to µs: the batch loader's rule) vs plain TIMESTAMP_NTZ —
    so the stream schema follows a one-time batch footer sniff, exactly
    like io/readers.load_table."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = table_schema(spark, f"{sf_dir}/events.parquet")["ts"].dataType
    raw = (spark.readStream.schema(_events_schema(ts_type))
           .option("maxFilesPerTrigger", max_files_per_trigger)
           .option("pathGlobFilter", "events.parquet")  # source needs a dir
           .parquet(sf_dir))
    if isinstance(ts_type, T.LongType):   # nanos-as-long generation
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # Watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
        # on NTZ); the session timezone is pinned UTC, so the cast is a
        # pure retag — wall-clock values are unchanged.
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of queries/events.tumbling_window_agg."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "sum_value"))


def session_aggregate(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "1 hour") -> DataFrame:
    """Streaming sessionization via session_window — the stateful
    operator the batch gaps-and-islands query emulates."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events", "sum_value"))


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """dropDuplicatesWithinWatermark on event_id — the streaming
    at-least-once → exactly-once repair."""
    return (events.withWatermark("ts", watermark)
                  .dropDuplicatesWithinWatermark(["event_id"]))


def run_to_completion(stream_df: DataFrame, name: str) -> DataFrame:
    """Drive a (bounded file) stream to completion into a memory sink and
    return the result as a batch DataFrame. Complete-mode for aggregates."""
    spark = stream_df.sparkSession
    mode = "complete" if stream_df.isStreaming and _has_agg(stream_df) else "append"
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).start())
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def _has_agg(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan


def stateful_user_totals(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState —
    the arbitrary-stateful-Reducer analog (and the shape of the
    reference's QuotaUpdateManager in-flight delta accounting,
    QuotaUpdateManager.java:109-209): per-user running
    (n_events, sum_value) held in explicit GroupState, re-emitted on
    every update.

    State is per-key and partitioned by the grouping key, so a
    1000-executor cluster shards it like any shuffle; the state store
    (RocksDB in production) bounds memory per executor."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value": [round(s, 2)]})

    return (events.withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType="user_id long, n_events long, sum_value double",
                stateStructType="n long, s double",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stateful_user_totals_tws(events: DataFrame,
                             watermark: str = "1 hour") -> DataFrame:
    """The transformWithStateInPandas twin of stateful_user_totals —
    Spark 4.x's successor API for arbitrary stateful processing
    (typed ValueState handles, timers, TTL; requires the RocksDB state
    store provider, which is also the 100 TB production choice: state
    spills to disk per executor instead of living on-heap).

    Same semantics as the applyInPandasWithState version: per-user
    running (n_events, sum_value), re-emitted on every update — the
    batch-equivalence test pins both twins to the same groupBy."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n long, s double")

        def handleInputRows(self, key, rows, timerValues):
            prior = self._state.get()
            n, s = prior if prior is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._state.update((n, s))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                                "sum_value": [round(s, 2)]})

        def close(self) -> None:
            pass

    return (events.withWatermark("ts", watermark)
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=RunningTotals(),
                outputStructType="user_id long, n_events long, sum_value double",
                outputMode="Update",
                timeMode="None"))


# --- foreachBatch writer and the epoch-committed store -------------------

def fold_stream(stream: DataFrame, batch_update, checkpoint: str, **kwargs):
    """THE foreachBatch writer: every non-empty micro-batch of ``stream``
    runs ``batch_update(batch_df, batch_id, **kwargs)``, append mode,
    offsets checkpointed at ``checkpoint`` — restarting on the same
    checkpoint resumes after the last committed batch. foreachBatch is
    at-least-once (a crash redelivers the in-flight batch under the
    same id), so an update that keys every write by batch_id — the
    ``_commit_epoch`` stores — is effectively exactly-once. Returns the
    unstarted writer."""
    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            batch_update(batch_df, batch_id, **kwargs)

    return (stream.writeStream.foreachBatch(run)
            .option("checkpointLocation", checkpoint)
            .outputMode("append"))


def _latest_epoch(spark: SparkSession, state_dir: str, schema: str,
                  at_most: int | None = None, read_cutoff: bool = False):
    """Read the newest COMMITTED store epoch (epoch=<n> dir with a
    _SUCCESS marker), optionally capped at ``at_most`` — a crashed
    write leaves a markerless dir the reader skips, and the cap is the
    REPLAY guard: batch b always reads the newest epoch ≤ b (its
    pre-batch state), so a re-delivered batch that already committed
    its own epoch b+1 cannot read its own output (the foreachBatch
    at-least-once contract made idempotent). ONE implementation of the
    epoch discipline for every foreachBatch store (touch store,
    mixture-stats store, ...).

    Returns (df, epoch) — or (df, epoch, cutoff) with
    ``read_cutoff=True``, where ``cutoff`` is the prune watermark the
    epoch was written with (its ``_CUTOFF`` marker), or None for a
    seed/legacy epoch."""
    import datetime as _dt
    import os

    empty = (None, -1, None) if read_cutoff else (None, -1)
    if not os.path.isdir(state_dir):
        return empty
    best = -1
    for d in os.listdir(state_dir):
        if d.startswith("epoch=") and os.path.exists(
                os.path.join(state_dir, d, "_SUCCESS")):
            n = int(d.split("=", 1)[1])
            if at_most is None or n <= at_most:
                best = max(best, n)
    if best < 0:
        return empty
    path = os.path.join(state_dir, f"epoch={best}")
    df = spark.read.schema(schema).parquet(path)
    if not read_cutoff:
        return df, best
    cutoff = None
    cpath = os.path.join(path, "_CUTOFF")
    if os.path.exists(cpath):
        with open(cpath) as f:
            cutoff = _dt.datetime.fromisoformat(f.read().strip())
    return df, best, cutoff


def _commit_epoch(df: DataFrame, state_dir: str, batch_id: int,
                  read_epoch: int, schema: str) -> DataFrame:
    """Commit ``df`` as store epoch batch_id+1 — overwrite, so a
    replayed batch rewrites its own epoch — then remove every epoch
    except the one the batch READ and the one it wrote (≤ 2 on disk:
    the read epoch must survive until the NEXT batch commits, since
    only the current batch can be redelivered). Returns the committed
    epoch as a frame."""
    import os
    import shutil

    out = os.path.join(state_dir, f"epoch={batch_id + 1}")
    df.write.mode("overwrite").parquet(out)
    for d in os.listdir(state_dir):
        if (d.startswith("epoch=")
                and int(d.split("=", 1)[1]) not in (read_epoch,
                                                    batch_id + 1)):
            shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)
    return df.sparkSession.read.schema(schema).parquet(out)


def _fold_sums(store: DataFrame | None, batch: DataFrame,
               keys: list[str]) -> DataFrame:
    """Fold a batch's additive statistics into the store it read: union,
    group by ``keys``, one long sum per other column (an empty store is
    seeded by the batch alone)."""
    if store is None:
        return batch
    return (store.unionByName(batch).groupBy(*keys)
            .agg(*[F.sum(c).cast("long").alias(c)
                   for c in store.columns if c not in keys]))


# --- Kafka sink (SURVEY §2.1 KafkaSink) ---------------------------------

def to_kafka_records(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Serialize rows to Kafka's (key, value) binary contract — one JSON
    document per row, keyed by the concatenated key columns (reference
    hadoop-tools/hadoop-kafka/.../KafkaSink.java:123 putMetrics posts
    one JSON line per metrics record). Kept as a separate pure transform
    so the serialization is testable without a broker."""
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    value = F.to_json(F.struct(*df.columns))
    return df.select(key.cast("binary").alias("key"),
                     value.cast("binary").alias("value"))


def kafka_writer(df: DataFrame, brokers: str, topic: str,
                 checkpoint: str, key_cols: list[str]):
    """writeStream wiring for a real broker: records → format('kafka').
    Returned unstarted (no broker ships in this container; call
    ``.start()`` in a deployment — if the kafka connector jar is also
    absent, swap in kafka_sink_fallback below: identical record
    contract, parquet transport). Exactly-once: Kafka sink is
    idempotent-producer at-least-once; pair with downstream dedup
    (dedup_within_watermark) for effective exactly-once.

    Validates the sink contract BEFORE Spark sees it (the checks
    KafkaSink.java:init does against its metrics2 properties):
    non-empty brokers/topic/checkpoint, key columns present, and the
    record schema exactly (key binary, value binary)."""
    if not brokers or not brokers.strip():
        raise ValueError("kafka writer: bootstrap servers must be non-empty")
    if not topic or not topic.strip():
        raise ValueError("kafka writer: topic must be non-empty")
    if not checkpoint:
        raise ValueError("kafka writer: checkpointLocation is required "
                         "(exactly-once offsets live there)")
    missing = [c for c in key_cols if c not in df.columns]
    if missing:
        raise ValueError(f"kafka writer: key columns not in frame: {missing}")
    rec = to_kafka_records(df, key_cols)
    # ValueError, not assert: the sink contract check must survive -O.
    got = [(f.name, f.dataType.simpleString()) for f in rec.schema.fields]
    if got != [("key", "binary"), ("value", "binary")]:
        raise ValueError(f"kafka writer: record schema must be "
                         f"(key binary, value binary), got {got}")
    return (rec.writeStream.format("kafka")
               .option("kafka.bootstrap.servers", brokers)
               .option("topic", topic)
               .option("checkpointLocation", checkpoint))


def kafka_sink_fallback(df: DataFrame, path: str, checkpoint: str,
                        key_cols: list[str]):
    """Broker-less twin: the same (key, value) records appended to a
    parquet directory via foreachBatch — swap for kafka_writer in
    production; plan shape and record contract are identical."""
    def write_batch(batch: DataFrame, _batch_id: int) -> None:
        batch.write.mode("append").parquet(path)

    return fold_stream(to_kafka_records(df, key_cols), write_batch,
                       checkpoint)


def continuous_ingest(stream_df: DataFrame, out_path: str, checkpoint: str):
    """Continuous file-sink ingest: append-mode parquet with a
    checkpoint — Spark's transactional file sink gives exactly-once
    (the _spark_metadata commit log plays the reference's
    FileOutputCommitter role per micro-batch). Restarting with the same
    checkpoint resumes WITHOUT re-writing processed input; returned
    unstarted so callers control the trigger."""
    return (stream_df.writeStream.format("parquet")
                     .option("path", out_path)
                     .option("checkpointLocation", checkpoint)
                     .outputMode("append"))


def stream_stream_join(left: DataFrame, right: DataFrame,
                       key: str = "user_id", within: str = "30 minutes",
                       watermark: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream inner join (declared §2.8 superset —
    the reference has no streaming joins at all): match events of the
    same key whose timestamps are within ``within`` of each other.

    Both sides are watermarked and the join condition carries the time
    bound, so Spark can expire state: per-key buffered rows are dropped
    once the watermark passes their join window — state is bounded by
    (event rate × within), not by stream length. Without the time bound
    this would be an unbounded-state join, which Spark rejects in
    append mode — the planner enforces the 100 TB constraint for us."""
    a = (left.withWatermark("ts", watermark)
             .select(F.col(key).alias("a_key"),
                     F.col("ts").alias("ts_a"),
                     F.col("event_id").alias("event_a"),
                     F.col("event_type").alias("type_a")))
    b = (right.withWatermark("ts", watermark)
              .select(F.col(key).alias("b_key"),
                      F.col("ts").alias("ts_b"),
                      F.col("event_id").alias("event_b"),
                      F.col("event_type").alias("type_b")))
    cond = ((F.col("a_key") == F.col("b_key"))
            & (F.col("event_a") < F.col("event_b"))
            & (F.col("ts_b") >= F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr(f"INTERVAL {within}")))
    return (a.join(b, cond)
             .select(F.col("a_key").alias(key), "event_a", "event_b",
                     "type_a", "type_b", "ts_a", "ts_b"))


def read_documents_stream(spark: SparkSession, sf_dir: str,
                          max_files_per_trigger: int = 1) -> DataFrame:
    """documents fixture as a file stream (schema pinned; one file per
    micro-batch by default)."""
    schema = ("doc_id long, source string, lang string, n_chars long, "
              "text string")
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))


def signature_dedup_stream(docs: DataFrame, n_hashes: int = 16,
                           shingle_n: int = 3) -> DataFrame:
    """Streaming near-duplicate suppression: drop any document whose
    MinHash signature was already seen (north-star streaming twin of
    exact dedup on the near-dup equivalence key).

    Feasible ONLY because the signature computation is map-only
    (ops/dedup: Generate-barrier shingling + array_min permutations —
    zero shuffles, so it slots into a streaming plan unchanged); state
    is one row per distinct signature via dropDuplicates, sharded by the
    state store like any keyed stream. An ingest pipeline runs this in
    front of the corpus sink so near-identical re-crawls never land."""
    from hops_spark.ops import dedup as D

    sa = D._with_hash_arr(D.shingle_arrays(docs, "doc_id", "text", shingle_n))
    sigs = (sa.filter(F.size("shingle_arr") > 0)
              .select(F.col("doc_id"), *D._sig_cols(n_hashes)))
    sig_str = F.concat_ws("|", *[F.col(f"s{i}").cast("string")
                                 for i in range(n_hashes)])
    return (sigs.withColumn("signature", sig_str)
                .select("doc_id", "signature")
                .dropDuplicates(["signature"]))


def cms_token_stream(docs: DataFrame) -> DataFrame:
    """Streaming count-min sketch over a document stream: the running
    4×256 grid as a streaming aggregation (update mode). Works because
    the cell emit is map-only (explode of a 4-struct array) and the
    grid aggregate is an ordinary keyed count the state store shards —
    the state is bounded at depth × width rows FOREVER, which is the
    entire point of sketching a stream: heavy-hitter monitoring over an
    unbounded corpus with O(1) state. Grid cells equal the batch grid
    after processing the same files (ops/sketch.cms_cells) — asserted
    in tests/test_streaming.py."""
    from hops_spark.ops import sketch as SK

    toks = docs.select(F.explode(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "")
    ).alias("term"))
    cells = F.array(*[
        F.struct(F.lit(r).alias("r"),
                 SK._bucket(F.col("term"), r, SK.WIDTH).alias("bucket"))
        for r in range(SK.DEPTH)])
    return (toks.select(F.explode(cells).alias("c"))
                .select("c.r", "c.bucket")
                .groupBy("r", "bucket").agg(F.count("*").alias("c")))


def bloom_grid_stream(keys: DataFrame, key_col: str,
                      m: int = 512, k: int = 3,
                      seed: str = "bloom") -> DataFrame:
    """Streaming counting-bloom maintenance: the running (pos, cnt)
    grid as a streaming aggregation (update mode) over an insert
    stream. Same contract as cms_token_stream: cell emit is map-only
    (explode of the k md5 positions, ops/bloom.bloom_positions), the
    grid aggregate is one keyed count the state store shards, and the
    state is bounded at m rows FOREVER regardless of insert volume —
    a membership filter over an unbounded ingest with O(m) state.
    Grid cells equal the batch ops/bloom.counting_grid after the same
    files (asserted in tests/test_bloom.py)."""
    from hops_spark.ops.bloom import bloom_positions

    cells = keys.select(F.explode(
        bloom_positions(F.col(key_col), m, k, seed)).alias("pos"))
    return cells.groupBy("pos").agg(F.count("*").cast("long").alias("cnt"))


def kmv_sketch_stream(events: DataFrame, group_col: str = "event_type",
                      key_col: str = "user_id", k: int = 64,
                      watermark: str = "1 hour") -> DataFrame:
    """Streaming KMV/theta sketch maintenance (the audience-overlap
    primitive run continuously): per group, the k smallest md5 hashes
    of the distinct keys seen so far, held in explicit GroupState via
    applyInPandasWithState — O(k) state per group FOREVER, the
    mergeable-grid contract's streaming face (ops/sketch.kmv_sketch /
    kmv_merge are the batch twins).

    Exactness: a hash discarded by the k-truncation was >= the kth-min
    at discard time, and the kth-min only decreases — so it can never
    belong to the final k smallest; per-batch merge-and-truncate equals
    the batch sketch over the union of all batches (asserted in
    tests/test_streaming.py). Each update emits the full current
    sketch (<= k rows) stamped with a monotone per-group
    version, so downstream consumers — and the equality test —
    pick the latest emission per group."""
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            kept, version = list(state.get[0]), int(state.get[1])
        else:
            kept, version = [], 0
        s = set(kept)
        for pdf in pdfs:
            for v in pdf[key_col]:
                # the repo-wide 52-bit md5 domain (13 nibbles) —
                # identical to ops/sketch.kmv_sketch's Column path
                h = int(hashlib.md5(str(int(v)).encode())
                        .hexdigest()[:13], 16)
                s.add(h)
        new = sorted(s)[:k]
        version += 1                       # monotone per-group update stamp
        state.update((new, version))
        yield pd.DataFrame({"grp": key[0], "version": version,
                            "hv": new, "rk": range(1, len(new) + 1)})

    return (events.withWatermark("ts", watermark)
            .groupBy(group_col)
            .applyInPandasWithState(
                update,
                outputStructType="grp string, version long, hv long, rk long",
                stateStructType="hv array<long>, version long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def hll_register_stream(events: DataFrame, group_col: str = "event_type",
                        key_col: str = "user_id", p: int = 8) -> DataFrame:
    """Streaming HLL register-grid maintenance: the running per-group
    (reg, max rho) grid as a streaming aggregation (update mode) —
    same contract as cms_token_stream/bloom_grid_stream: the register
    emit is map-only integer hashing (ops/sketch.hll_registers
    arithmetic) and the grid aggregate is one keyed MAX the state
    store shards; state is bounded at 2^p rows per group FOREVER —
    continuous distinct-count monitoring of an unbounded stream with
    O(m) state. Grid equals the batch hll_registers over the same rows
    (asserted in tests/test_streaming.py)."""
    from hops_spark.ops.sketch import HLL_HASH_BITS

    m = 1 << p
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 13),
               16, 10).cast("long")
    w = F.shiftright(h, p)
    rho = (F.when(w == 0, F.lit(HLL_HASH_BITS - p + 1))
            .otherwise(F.bit_count((w.bitwiseAND(-w)) - 1) + 1))
    return (events.select(F.col(group_col).alias("grp"),
                          F.pmod(h, F.lit(m)).alias("reg"),
                          rho.alias("rho"))
                  .groupBy("grp", "reg")
                  .agg(F.max("rho").cast("long").alias("rho")))


def ann_ingest_stream(stream_vectors: DataFrame,
                      centroids: list,
                      index_dir: str, checkpoint: str,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding"):
    """CONTINUOUS vector ingest into the cell-partitioned ANN serving
    index: each micro-batch assigns against the FROZEN codebook and
    appends its SQ8 rows into the same cell partitions
    (ops/similarity.append_cell_index — the batch ingest path, lifted
    into foreachBatch with a checkpoint for exactly-once per batch).
    Probes see every drained batch immediately; the periodic
    build_cell_index rebuild stays the compaction/codebook-refresh
    path, exactly as in batch serving. Returns the unstarted writer."""
    from hops_spark.ops.similarity import append_cell_index

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        append_cell_index(batch_df.select(id_col, vec_col), centroids,
                          index_dir, id_col, vec_col)

    return fold_stream(stream_vectors, ingest, checkpoint)


def seed_dedup_state(df: DataFrame, state_dir: str,
                     id_col: str = "doc_id", text_col: str = "text",
                     n_hashes: int = 16, shingle_n: int = 3) -> None:
    """Materialize the incremental-dedup SIGNATURE STORE for an
    existing corpus: three parquet tables (digests / minhash sigs /
    shingle rows — ops/dedup.dedup_state_parts, the same derivation
    the batch flags use) under ``state_dir``. Run once to bootstrap;
    ``incremental_dedup_stream`` then appends every kept doc's parts."""
    import os

    from hops_spark.ops.dedup import dedup_state_parts

    for name, part in zip(("digests", "sigs", "shingles"),
                          dedup_state_parts(df, id_col, text_col,
                                            n_hashes, shingle_n)):
        part.write.mode("overwrite").parquet(os.path.join(state_dir, name))


def incremental_dedup_stream(stream_docs: DataFrame, state_dir: str,
                             flags_dir: str, checkpoint: str,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             n_hashes: int = 16, bands: int = 4,
                             shingle_n: int = 3, threshold: float = 0.8,
                             max_bucket: int = 1000):
    """CONTINUOUS incremental dedup of a document stream against the
    kept-corpus signature store — the asymmetric batch operator
    (ops/dedup.incremental_dedup_flags) lifted into foreachBatch with
    the store as state, exactly the ann_ingest_stream shape (an
    on-disk store the driver appends to per micro-batch, checkpointed
    for exactly-once per batch):

    per batch — (1) derive the batch's signature parts ONCE
    (dedup_state_parts — the shared derivation, so batch and stream
    cannot diverge), (2) flag against the current store with the same
    asymmetric core (never store x store — each doc is verified against
    the corpus exactly once, over its whole lifetime), (3) append the
    flags to ``flags_dir``, (4) append the KEPT docs' parts to the
    store. Flags materialize (localCheckpoint) before any append so
    step 4 never races the files step 2 read.

    Bounded state: the store holds parts for KEPT docs only — it grows
    with the deduplicated corpus, never with stream volume (every
    duplicate is flagged and dropped), and per-batch cost is
    batch-size x matched-candidates, independent of history size
    beyond the banded bucket join. The drained flags equal folding the
    SAME combined derivation (store flags OR intra-batch flags —
    ops/dedup.combined_incremental_flags, the single expression source
    for stream and fold) batch-by-batch over the same ingest order
    (asserted in tests/test_streaming.py); note the contract is NOT
    the plain incremental_dedup_flags fold, which never compares two
    same-batch arrivals. Returns the unstarted writer."""
    import os

    from hops_spark.ops.dedup import (combined_incremental_flags,
                                      dedup_state_parts)

    part_names = ("digests", "sigs", "shingles")

    def dedup_batch(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        missing = [n for n in part_names
                   if not os.path.isdir(os.path.join(state_dir, n))]
        if missing:
            raise ValueError(
                f"signature store at {state_dir} lacks {missing}: run "
                "seed_dedup_state first (an empty corpus is fine)")
        new_parts = dedup_state_parts(batch_df, id_col, text_col,
                                      n_hashes, shingle_n)
        existing = tuple(
            spark.read.parquet(os.path.join(state_dir, n))
            for n in part_names)
        # store flags OR within-batch flags (the asymmetric store pass
        # never compares two same-batch arrivals; without the intra
        # pass both copies of an intra-batch duplicate would be kept
        # and enter the store forever) — one shared derivation with
        # the batch-fold equivalence test
        flags = combined_incremental_flags(
            new_parts, existing, id_col=id_col, n_hashes=n_hashes,
            bands=bands, threshold=threshold,
            max_bucket=max_bucket).localCheckpoint(eager=True)
        flags.write.mode("append").parquet(flags_dir)
        kept = flags.filter(F.col("is_kept")).select(id_col)
        for name, part in zip(part_names, new_parts):
            (part.join(F.broadcast(kept), id_col, "left_semi")
                 .write.mode("append")
                 .parquet(os.path.join(state_dir, name)))

    return fold_stream(stream_docs, dedup_batch, checkpoint)


def seed_decon_state(benchmark: DataFrame, state_dir: str,
                     id_col: str = "doc_id", text_col: str = "text",
                     shingle_n: int = 3) -> None:
    """Materialize the FROZEN benchmark shingle set for streaming
    decontamination: one distinct-shingle parquet under ``state_dir``
    (the eval suite is fixed state — unlike the dedup signature store
    it never grows with the stream). Run once; re-seed only when the
    benchmark itself changes."""
    from hops_spark.ops.dedup import shingle_arrays

    (shingle_arrays(benchmark, id_col, text_col, shingle_n)
        .select(F.explode("shingle_arr").alias("shingle")).distinct()
        .write.mode("overwrite").parquet(state_dir))


def decontaminate_stream(stream_docs: DataFrame, state_dir: str,
                         flags_dir: str, checkpoint: str,
                         id_col: str = "doc_id", text_col: str = "text",
                         shingle_n: int = 3, min_overlap: int = 3):
    """CONTINUOUS benchmark decontamination of a document stream — the
    ingest-path hygiene gate: every arriving doc is checked against
    the frozen benchmark shingle set (seed_decon_state) and a full
    per-doc flag row appends to ``flags_dir`` (contaminated docs carry
    their overlap count; clean docs emit n_overlap = 0, so downstream
    consumers never need an anti-join against the feed). Shares ONE
    derivation with the batch operator through
    ``ops/dedup.contamination_flags_from_shingles`` (the
    incremental_dedup_stream discipline: batch and stream cannot
    diverge); per-batch cost is batch-shingles x broadcast lookup +
    one keyed count — independent of history, and state is the
    benchmark (fixed), so this runs forever at constant cost. At the
    over-broadcast benchmark scale, compose the decontaminate_bloom
    bitmask in front exactly as the batch form does."""
    from hops_spark.ops.dedup import contamination_flags_from_shingles

    def gate(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        bsh = spark.read.parquet(state_dir)
        flags = contamination_flags_from_shingles(
            batch_df, bsh, id_col, text_col, shingle_n, min_overlap)
        full = (batch_df.select(id_col)
                .join(flags, id_col, "left")
                .select(id_col,
                        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
                        F.coalesce("contaminated", F.lit(False))
                         .alias("contaminated")))
        full.write.mode("append").parquet(flags_dir)

    return fold_stream(stream_docs, gate, checkpoint)


def token_count_stream(docs: DataFrame) -> DataFrame:
    """Running per-token counts of a document stream (update/complete
    streaming aggregation) — the continuously-maintained 'current
    snapshot' side of the corpus drift monitor: feed the result to
    ops/lm.kl_from_counts against a frozen reference count table to get
    live KL(cur || ref) after any batch. Same contract as
    cms_token_stream/bloom_grid_stream: the token emit is map-only, the
    count is one keyed aggregate the state store shards, and state is
    VOCAB-bounded forever (sublinear in stream volume, Heaps' law) —
    the entire point of monitoring drift on an unbounded crawl."""
    from hops_spark.ops.text import words

    toks = docs.select(F.explode(words("text")).alias("token"))
    return toks.groupBy("token").agg(F.count("*").cast("long").alias("c_cur"))


def dyadic_quantile_stream(events: DataFrame, bits: int = 20,
                           min_level: int = 8) -> DataFrame:
    """Streaming QUANTILE-sketch maintenance: the running dyadic-CMS
    grid (ops/sketch.dyadic_cms_cells — one CMS per dyadic level of
    the integer cents domain) as a streaming aggregation, the same
    contract as cms_token_stream/hll_register_stream: the cell emit is
    a map-only explode of (levels × depth) structs, the grid is one
    keyed count the state store shards, and state is bounded at
    (bits - min_level) × depth × width rows FOREVER — continuous
    median/percentile monitoring of an unbounded event stream with
    O(1) state. Because the combine is a plain sum, the drained grid
    equals the batch sketch over the same rows exactly (asserted in
    tests/test_streaming.py), and dyadic_rank_estimates answers
    rank/quantile queries against any snapshot of it. Values are
    cents folded into [0, 2^bits) by pmod — the same transform the
    batch twin must apply. The batch builder pre-aggregates the
    per-level key histogram first (two chained aggregates — not a
    streaming-supported shape), so the stream emits per-ROW cells
    straight into the single stateful count; the bucket derivation
    (_dyadic_row_buckets) is shared, so the drained grid is identical
    anyway."""
    from hops_spark.ops.sketch import (DEPTH, WIDTH, _dyadic_level_keys,
                                       _dyadic_row_buckets)

    vals = events.select(
        F.pmod(F.expr("CAST(round(value * 100, 0) AS BIGINT)"),
               F.lit(1 << bits)).alias("v"))
    keys = _dyadic_level_keys("v", bits, min_level)
    k = vals.select(F.explode(keys).alias("k")).select("k.level", "k.key")
    rb = _dyadic_row_buckets(F.col("level"), F.col("key"), DEPTH, WIDTH)
    return (k.select("level", F.explode(rb).alias("b"))
             .select("level", "b.r", "b.bucket")
             .groupBy("level", "r", "bucket")
             .agg(F.count("*").cast("long").alias("c")))


def shard_manifest_stream(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """Streaming training-shard MANIFEST maintenance: the running
    per-shard (doc count, char volume, XOR content fingerprint) as a
    single streaming aggregation — lineage/versioning for a corpus
    that is still being ingested. Works because every manifest column
    is a commutative monoid (count, sum, bit_xor), exactly the
    property shard_manifest's batch docstring records for split-merge;
    state is n_shards rows FOREVER. The drained manifest equals the
    batch query's per-shard columns over the same files (asserted in
    tests/test_streaming.py)."""
    hx = F.md5(F.concat(F.lit("doc_"), F.col("doc_id").cast("string")))
    ch = F.conv(F.substring(F.md5("text"), 1, 13), 16, 10).cast("long")
    s = docs.select(
        F.pmod(F.conv(F.substring(hx, 1, 7), 16, 10).cast("long"),
               F.lit(n_shards)).alias("shard"),
        F.col("n_chars"), ch.alias("content_h"))
    return (s.groupBy("shard")
             .agg(F.count("*").cast("long").alias("n_docs"),
                  F.sum("n_chars").cast("long").alias("n_chars"),
                  F.expr("bit_xor(content_h)").cast("long")
                   .alias("content_fp")))


def pq_ingest_stream(stream_vectors: DataFrame,
                     centroids: list, codebook: dict,
                     index_dir: str, checkpoint: str,
                     m: int = 8, k: int = 16, d: int = 64,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding"):
    """CONTINUOUS ingest into the IVF-PQ serving index (the
    ann_ingest_stream shape for the compressed index): each
    micro-batch assigns against the FROZEN coarse codebook, encodes
    against the FROZEN PQ codebook, and appends its packed-code rows
    into the same cell partitions (ops/pq.append_pq_cell_index) —
    probes see every drained batch immediately, and the periodic
    rebuild stays the codebook-refresh/compaction path. State is the
    index itself (grows with the corpus, not stream volume); the two
    frozen books are driver metadata. Returns the unstarted writer."""
    from hops_spark.ops.pq import append_pq_cell_index

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        append_pq_cell_index(batch_df.select(id_col, vec_col),
                             centroids, codebook, index_dir,
                             m=m, k=k, d=d,
                             id_col=id_col, vec_col=vec_col)

    return fold_stream(stream_vectors, ingest, checkpoint)


def covariance_stream(stream_vectors: DataFrame, mu: list, d: int,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Streaming twin of ops/pca.covariance_pairs: per micro-batch the
    SAME shared derivation (_centered_pair_rows — one expression
    source for batch and stream) emits the d(d+1)/2 centered products,
    and ONE stateful aggregate keeps running (psum, n_rows) per (i, j)
    cell. Means are FROZEN driver metadata (the frozen-codebook
    contract: a drifting mean is a re-baseline, not an increment);
    state is d(d+1)/2 rows regardless of stream volume. The final
    floor(psum / (n*1e6)) is a read-time projection, so the running
    state stays pure integer sums (mergeable by construction)."""
    from hops_spark.ops.pca import _centered_pair_rows
    rows = _centered_pair_rows(stream_vectors, mu, d, id_col, vec_col)
    # n_rows counts pair rows per cell == vector count (one pair row
    # per vector per cell), so the read-time divisor rides along
    return (rows.groupBy("i", "j")
                .agg(F.sum("p").alias("psum"),
                     F.count("*").alias("n_rows")))


def covariance_from_state(state: DataFrame) -> DataFrame:
    """Project the drained covariance_stream state to the batch
    contract: floor(psum / (n*1e6)) per (i, j)."""
    from hops_spark.ops.pca import PCA_MICRO
    return state.select(
        "i", "j",
        F.floor(F.col("psum")
                / (F.col("n_rows").cast("double") * PCA_MICRO))
         .cast("long").alias("cov_micro"))


def probe_score_stream(stream_docs: DataFrame, w: list, flags_dir: str,
                       checkpoint: str, dim: int = 64,
                       id_col: str = "doc_id", text_col: str = "text",
                       seed: str = "lp"):
    """Continuous learned quality gate: score arriving docs against the
    FROZEN linear-probe weights (ops/classify.linear_probe_scores — the
    SAME derivation the batch gate uses, per the shared-derivation
    rule) and append (id, margin, p_micro, pred) rows to ``flags_dir``.
    The model is driver metadata (dim+1 ints, the codebook contract:
    retraining is a re-baseline, not an increment); scoring is
    stateless and within-doc only, so micro-batch boundaries cannot
    move any score — each doc arrives whole in its batch. This is the
    serving half of the fastText/DCLM recipe: train offline
    (linear_probe_train), gate the ingest stream forever after."""
    from hops_spark.ops.classify import linear_probe_scores

    def score(batch_df: DataFrame, _batch_id: int) -> None:
        docs = batch_df.withColumn("_y0", F.lit(0))
        (linear_probe_scores(docs, w, id_col=id_col, text_col=text_col,
                             y_col="_y0", dim=dim, seed=seed)
         .select(F.col(id_col), "margin", "p_micro", "pred")
         .write.mode("append").parquet(flags_dir))

    return fold_stream(stream_docs, score, checkpoint)


MG_SUMMARY_SCHEMA = "term string, c long"


def mg_hitters_batch_update(batch_df: DataFrame, batch_id: int,
                            state_dir: str, k: int = 16,
                            text_col: str = "text") -> None:
    """One micro-batch of continuous Misra–Gries heavy-hitter
    maintenance with the summary as epoch-committed state — the
    streaming twin of ops/sketch.mg_sharded_summary (the truncation
    step is not an incremental aggregate, so this is not a plain
    streaming groupBy): (1) the batch's MG(k) summary via the
    hash-sharded truncate-and-merge tree (ops/sketch.mg_hashed_summary
    — per-shard exact histograms, never a single-partition sort of the
    batch vocabulary; the derivation shared with the batch-fold
    equivalence test), (2) mg_merge into the newest summary epoch ≤
    batch_id (sum + truncate — Agarwal et al. 2012 §3.1: the error
    telescopes to ≤ n_seen/(k+1) under ANY merge tree, so a
    batch-at-a-time left fold over hash-sharded per-batch trees is
    covered), (3) ``_commit_epoch`` — so a redelivered batch re-merges
    into the same pre-batch summary instead of counting itself twice,
    and a crash mid-write leaves the read epoch intact. State is ≤ k
    rows FOREVER; per-batch cost is the batch histogram, independent
    of history. Equivalence law (pytest-asserted): driven through
    ``fold_stream(docs, mg_hitters_batch_update, ckpt, state_dir=...)``
    the newest epoch equals the sequential batch fold
    mg_merge(summary(b0), summary(b1), ...) exactly."""
    from hops_spark.ops.sketch import mg_hashed_summary, mg_merge
    from hops_spark.ops.text import words

    toks = batch_df.select(F.explode(words(text_col)).alias("term"))
    summ = mg_hashed_summary(toks, "term", k=k)
    store, read_epoch = _latest_epoch(batch_df.sparkSession, state_dir,
                                      MG_SUMMARY_SCHEMA, at_most=batch_id)
    if store is not None:
        summ = mg_merge(store, summ, "term", "c", k)
    _commit_epoch(summ, state_dir, batch_id, read_epoch, MG_SUMMARY_SCHEMA)


def media_ingest_dedup_stream(stream_media: DataFrame, state_dir: str,
                              flags_dir: str, checkpoint: str,
                              decoder=None, threshold: int = 8):
    """Continuous perceptual media dedup against the fingerprint store
    — the incremental_dedup_stream discipline applied to binary media:
    per batch, (1) fingerprint arriving payloads with the REAL decoder
    (io/codecs.image_dhash / audio_energy_hash through Arrow
    mapInPandas — the same derivation the batch queries use, via
    ops/fingerprint shared by both), (2) flag near-dups asymmetrically
    against the stored fingerprints AND against lower-id batch
    neighbors (never store x store), (3) append flags, (4) append KEPT
    fingerprints to the store. State is 16 bytes per kept item forever
    — a billion-image store is ~16 GB of parquet, band-partitionable;
    per-batch cost is batch-size x banded-bucket candidates,
    independent of history beyond the band join. Flags materialize
    before the store append so step 4 never races the read. Flags
    come from ops/fingerprint.fingerprint_dup_ids — the LINEAR-output
    form (a micro-batch of a million identical silent clips yields a
    million-1 flag rows, never the pairwise expansion; equivalence
    with the pair op is pytest-asserted)."""
    import os

    from hops_spark.io.multimodal import extract_features
    from hops_spark.ops.fingerprint import fingerprint_dup_ids

    def upd(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        hashes = (extract_features(batch_df, decoder=decoder)
                  .select("media_id",
                          F.col("features")[0].cast("long").alias("hi"),
                          F.col("features")[1].cast("long").alias("lo"))
                  .localCheckpoint(eager=True))
        dup_ids = fingerprint_dup_ids(hashes, threshold=threshold)
        if os.path.isdir(state_dir):
            store = spark.read.parquet(state_dir)
            dup_ids = dup_ids.unionByName(
                fingerprint_dup_ids(hashes, store, threshold=threshold))
        flags = (hashes.join(dup_ids.distinct()
                             .withColumn("_dup", F.lit(True)),
                             "media_id", "left")
                       .select("media_id", "hi", "lo",
                               F.coalesce("_dup", F.lit(False))
                                .alias("is_dup"))
                       .localCheckpoint(eager=True))
        flags.select("media_id", "is_dup").write.mode("append") \
             .parquet(flags_dir)
        (flags.filter(~F.col("is_dup"))
              .select("media_id", "hi", "lo")
              .write.mode("append").parquet(state_dir))

    return fold_stream(stream_media, upd, checkpoint)


# ---------------------------------------------------------------------------
# Continuous multi-touch attribution against a trailing touch store
# ---------------------------------------------------------------------------

_TOUCH_SCHEMA = "touch_id long, user_id long, touch_ts timestamp, channel string"


def seed_touch_state(events: DataFrame, state_dir: str,
                     touch_types: tuple[str, ...] = ("click", "view",
                                                     "signup")) -> None:
    """Initialize the touch store from a pre-existing event log (epoch 0
    = the state BEFORE batch 0; batch b commits epoch b + 1)."""
    from hops_spark.ops.attribution import touch_rows

    touch_rows(events, touch_types).write.parquet(state_dir + "/epoch=0")


def attribution_batch_update(batch_df: DataFrame, batch_id: int,
                             state_dir: str, credit_dir: str,
                             conv_type: str = "purchase",
                             touch_types: tuple[str, ...] = ("click", "view",
                                                             "signup"),
                             window_days: int = 7,
                             strict_order: bool = True) -> None:
    """One micro-batch of continuous multi-touch attribution (the
    incremental_dedup_stream discipline applied to the marketing
    funnel): state is the trailing TOUCH STORE — every touch within
    ``window_days`` of the newest event time seen — and the batch's
    conversions are scored against store ∪ same-batch touches through
    the SAME ops/attribution.credit_by_channel derivation the batch
    query uses. Equivalence law (pytest-asserted): driven through
    ``fold_stream(events, attribution_batch_update, ckpt,
    state_dir=..., credit_dir=...)``, the per-channel DELTAS in
    credit_dir/batch=<id> summed over batches equal the batch operator
    on the full log (per-conversion independence makes channel rows
    additive) PROVIDED events arrive in event-time order — a touch
    arriving after its conversion's batch is never retro-credited.
    Per-batch cost: one range join batch-conversions × window-touches
    + two channels-bounded aggregates + one window-sized store rewrite.

    IDEMPOTENT under foreachBatch's at-least-once redelivery:

    - reads the newest committed epoch ≤ batch_id (never its own
      output epoch batch_id+1, which a crashed-after-commit replay
      would otherwise union with the batch a second time);
    - writes this batch's credit DELTAS to credit_dir/batch=<id> with
      overwrite (a replay replaces its own rows, never appends twice);
    - commits store epoch batch_id+1, PRUNED to the trailing window,
      through ``_commit_epoch`` (replay replaces; ≤ 2 epochs retained).

    Event-time ORDER violations are detected, not silent: each store
    epoch records its prune cutoff (``_CUTOFF`` marker, written after
    the parquet commit), and a batch whose min(ts) precedes the cutoff
    it read — rows whose touches may already be pruned, diverging from
    the batch operator — raises
    (``strict_order=True``, default) or writes the late-row count to
    ``credit_dir/batch=<id>/_LATE_ROWS`` and proceeds. The check is one
    scalar comparison on the min/max aggregate the prune already runs;
    replay determinism is preserved (a replayed batch reads the same
    epoch, hence the same cutoff)."""
    import datetime as _dt
    import os

    from hops_spark.ops.attribution import (conv_rows, credit_by_channel,
                                            touch_rows)

    spark = batch_df.sparkSession
    batch = (batch_df.select("event_id", "user_id", "ts", "event_type")
                     .localCheckpoint(eager=True))
    store, read_epoch, read_cutoff = _latest_epoch(
        spark, state_dir, _TOUCH_SCHEMA, at_most=batch_id, read_cutoff=True)
    if store is not None and read_epoch > 0 and read_cutoff is None:
        # A committed non-seed epoch with no _CUTOFF marker is the
        # crash window between its parquet commit (_SUCCESS) and the
        # marker write — epoch 0 (seed_touch_state) is the only
        # legitimately markerless epoch. Recover the prune watermark
        # from the store itself: the epoch was written filtered to
        # touch_ts >= cutoff with cutoff = max(event ts) - window, so
        # max(touch_ts) - window is a lower bound — conservative
        # (never false-flags an on-time row) but never silently skips
        # the late-arrival check the epoch protocol exists to run.
        recovered = store.agg(F.max("touch_ts")).first()[0]
        if recovered is not None:
            read_cutoff = recovered - _dt.timedelta(days=window_days)
    min_ts, max_ts = batch.agg(F.min("ts"), F.max("ts")).collect()[0]
    late_rows = 0
    if read_cutoff is not None and min_ts < read_cutoff:
        late_rows = batch.filter(F.col("ts") < F.lit(read_cutoff)).count()
        if strict_order and late_rows:
            raise ValueError(
                f"attribution_batch_update: batch {batch_id} carries "
                f"{late_rows} rows older than the store's prune cutoff "
                f"{read_cutoff.isoformat()} — the in-event-time-order "
                "arrival contract is violated and credit would silently "
                "diverge from the batch operator (pass "
                "strict_order=False to count-and-proceed)")
    touches = touch_rows(batch, touch_types)
    if store is not None:
        touches = store.unionByName(touches)
    touches = touches.localCheckpoint(eager=True)
    conv = conv_rows(batch, conv_type)
    batch_credit_dir = os.path.join(credit_dir, f"batch={batch_id}")
    (credit_by_channel(conv, touches, window_days)
     .write.mode("overwrite").parquet(batch_credit_dir))
    if late_rows:   # observable divergence marker (strict_order=False)
        with open(os.path.join(batch_credit_dir, "_LATE_ROWS"), "w") as f:
            f.write(str(late_rows))
    # prune + commit the next store epoch (replay rewrites it)
    cutoff = max_ts - _dt.timedelta(days=window_days)
    _commit_epoch(touches.filter(F.col("touch_ts") >= F.lit(cutoff)),
                  state_dir, batch_id, read_epoch, _TOUCH_SCHEMA)
    with open(os.path.join(state_dir, f"epoch={batch_id + 1}", "_CUTOFF"),
              "w") as f:
        f.write(cutoff.isoformat())


# --- online training-mixture controller (DoReMi, frozen scorer) ----------


def seed_mixture_scorer(ref_docs: DataFrame, scorer_dir: str) -> None:
    """Freeze the reference LM once (ops/mixture.frozen_scorer) — the
    fixed proxy the online controller scores every batch against."""
    from hops_spark.ops.mixture import frozen_scorer

    frozen_scorer(ref_docs).write.parquet(scorer_dir)


def mixture_batch_update(batch_df: DataFrame, batch_id: int,
                         state_dir: str, mix_dir: str,
                         scorer_dir: str) -> None:
    """One micro-batch of the ONLINE mixture controller: per-domain
    sufficient statistics (n_tokens, nll_sum under the FROZEN scorer —
    additive by construction, ops/mixture.frozen_domain_stats) fold
    into the store, and the CURRENT mixture table (the same
    mixture_from_domain_stats derivation the batch query uses) lands
    in mix_dir/batch=<id>. The data-scheduling loop reads the newest
    batch dir for its weights — DoReMi's mixture-updates-while-the-
    proxy-stays-fixed shape, continuously. Equivalence law
    (pytest-asserted): the mixture written after batch k equals
    mixture_from_domain_stats(frozen_domain_stats(union of batches
    0..k)) — additivity of frozen-scored stats makes the fold exact.

    IDEMPOTENT under foreachBatch redelivery (the attribution_batch_
    update contract): store read capped at batch_id, every write keyed
    by batch_id with overwrite, store epoch batch_id+1 rewritten from
    scratch, ≤ 2 epochs retained. State is DOMAIN-BOUNDED (one row per
    source — the smallest state in the streaming family), so replay
    and retention cost nothing."""
    import os

    from hops_spark.ops.mixture import (DOMAIN_STATS_SCHEMA,
                                        frozen_domain_stats,
                                        mixture_from_domain_stats)

    spark = batch_df.sparkSession
    scorer = spark.read.parquet(scorer_dir)
    batch_stats = frozen_domain_stats(
        batch_df.select("doc_id", "source", "text"), scorer)
    store, read_epoch = _latest_epoch(spark, state_dir, DOMAIN_STATS_SCHEMA,
                                      at_most=batch_id)
    folded = _commit_epoch(_fold_sums(store, batch_stats, ["source"]),
                           state_dir, batch_id, read_epoch,
                           DOMAIN_STATS_SCHEMA)
    (mixture_from_domain_stats(folded)
     .write.mode("overwrite")
     .parquet(os.path.join(mix_dir, f"batch={batch_id}")))


# --- online probe-calibration drift monitor (frozen weights) --------------

CALIB_STATS_SCHEMA = "bin long, n long, n_pos long, p_sum long"


def seed_probe_weights(ref_docs: DataFrame, weights_dir: str,
                       dim: int = 64, iters: int = 3, lr_num: int = 1,
                       lr_den: int = 1, seed: str = "lp") -> None:
    """Train the linear probe ONCE on a labeled reference snapshot and
    freeze the weight vector to parquet (feat, w_micro) — the fixed
    scorer the online calibration monitor reads every batch (the
    seed_mixture_scorer shape: calibration stats are only additive
    while the model is held fixed)."""
    from hops_spark.ops.classify import train_linear_probe

    w = train_linear_probe(ref_docs, dim=dim, iters=iters,
                           lr_num=lr_num, lr_den=lr_den, seed=seed)
    rows = [(i, int(wi)) for i, wi in enumerate(w)]
    (ref_docs.sparkSession
     .createDataFrame(rows, "feat bigint, w_micro bigint")
     .write.parquet(weights_dir))


def calibration_batch_update(batch_df: DataFrame, batch_id: int,
                             state_dir: str, calib_dir: str,
                             weights_dir: str, dim: int = 64,
                             seed: str = "lp", bins: int = 10) -> None:
    """One micro-batch of the ONLINE calibration-drift monitor: the
    batch's labeled docs (doc_id, text, y) are scored under the FROZEN
    probe weights, their per-bin sufficient statistics (ops/classify.
    calibration_bin_stats — additive by construction) fold into the
    ≤ ``bins``-row store, and the derived reliability table (the SAME
    calibration_from_bin_stats the batch probe_calibration query
    reads) lands in calib_dir/batch=<id>. A quality-gate deployment
    watches the per-bin gaps drift as the corpus shifts under a fixed
    keep-threshold probe — the score-drift companion of the mixture
    controller. Equivalence law (pytest-asserted): the table written
    after batch k equals calibration_from_bin_stats(
    calibration_bin_stats(scores of the union of batches 0..k)) under
    the same frozen weights — additivity of per-bin sufficient stats
    makes the fold exact.

    IDEMPOTENT under foreachBatch redelivery (the attribution/mixture
    contract): store read capped at batch_id, every write keyed by
    batch_id with overwrite, store epoch batch_id+1 rewritten from
    scratch, ≤ 2 epochs retained. State is BIN-BOUNDED (≤ bins rows —
    with the mixture store, the smallest state in the family); the
    frozen weight vector is dim+1 rows of driver metadata (codebook
    idiom)."""
    import os

    from hops_spark.ops.classify import (calibration_bin_stats,
                                         calibration_from_bin_stats,
                                         linear_probe_scores)

    spark = batch_df.sparkSession
    w = [int(r["w_micro"]) for r in
         spark.read.parquet(weights_dir).orderBy("feat").collect()]
    scored = linear_probe_scores(batch_df.select("doc_id", "text", "y"),
                                 w, dim=dim, seed=seed)
    batch_stats = calibration_bin_stats(scored, bins)
    store, read_epoch = _latest_epoch(spark, state_dir, CALIB_STATS_SCHEMA,
                                      at_most=batch_id)
    folded = _commit_epoch(_fold_sums(store, batch_stats, ["bin"]),
                           state_dir, batch_id, read_epoch,
                           CALIB_STATS_SCHEMA)
    (calibration_from_bin_stats(folded)
     .write.mode("overwrite")
     .parquet(os.path.join(calib_dir, f"batch={batch_id}")))


# --- continuously-refreshed trigram-KN ARPA model ------------------------

TRI_STATS_SCHEMA = "w1 string, w2 string, w3 string, n long"


def arpa_batch_update(batch_df: DataFrame, batch_id: int, state_dir: str,
                      model_dir: str, prune3: int = 2) -> None:
    """One micro-batch of the continuously-refreshed language model:
    the batch's trigram counts (ops/lm.trigram_count_table) fold into
    the count store — raw counts are additive UNCONDITIONALLY, no
    frozen anything needed, the simplest fold in the streaming family
    — and the full interpolated-KN ARPA table (the SAME ops/lm.
    kn3_arpa derivation the batch export uses) is rebuilt from the
    folded counts into model_dir/batch=<id>. Downstream perplexity
    gates (kn3_score_docs) read the newest batch dir — the KenLM
    nightly-rebuild shape, continuously. Equivalence law
    (pytest-asserted): the model written after batch k equals
    kn3_arpa(trigram_count_table(union of batches 0..k)).

    IDEMPOTENT under foreachBatch redelivery (the attribution/mixture/
    calibration contract): store read capped at batch_id, writes keyed
    by batch_id with overwrite, epoch batch_id+1 rewritten from
    scratch, ≤ 2 epochs retained. State is TYPE-bounded (one row per
    distinct trigram — the count-table store class, same as
    term_stats_incremental), never token-proportional."""
    import os

    from hops_spark.ops.lm import kn3_arpa, trigram_count_table

    spark = batch_df.sparkSession
    batch_counts = trigram_count_table(
        batch_df.select("doc_id", "text"))
    store, read_epoch = _latest_epoch(spark, state_dir, TRI_STATS_SCHEMA,
                                      at_most=batch_id)
    folded = _commit_epoch(_fold_sums(store, batch_counts,
                                      ["w1", "w2", "w3"]),
                           state_dir, batch_id, read_epoch, TRI_STATS_SCHEMA)
    (kn3_arpa(folded, prune3=prune3)
     .write.mode("overwrite")
     .parquet(os.path.join(model_dir, f"batch={batch_id}")))


# --- continuously-refreshed cross-model win matrix + strengths -----------

PAIR_SIDE_SCHEMA = "pair_id long, side int, source string, score long"
WIN_MATRIX_SCHEMA = "model_a string, model_b string, n long, wa long"


def winrate_batch_update(batch_df: DataFrame, batch_id: int,
                         state_dir: str, out_dir: str) -> None:
    """One micro-batch of the continuously-refreshed model-evaluation
    card: batch docs are scored (the shared ops/preference reward
    derivation), matched into adjacent pairs AGAINST the pending-side
    store — a pair whose two docs arrive in different batches
    completes when the second side lands, the stream-stream-join shape
    with the pair store as state — and every completed cross-source
    outcome folds into the additive win-count matrix. The per-batch
    artifact (out_dir/batch=<id>) is the Bradley-Terry strength table
    rebuilt from the folded matrix via the SAME
    ops/preference.bradley_terry_fit integer iteration the batch query
    runs. Equivalence law (pytest-asserted): the table written after
    batch k equals the batch bradley_terry_strengths derivation over
    the union of batches 0..k — outcome-count additivity plus the
    pending-side store makes the fold exact even when a pair's two
    docs arrive in DIFFERENT batches.

    State: pending sides (bounded by in-flight incomplete pairs) +
    the #models²-bounded matrix — never corpus-proportional.
    IDEMPOTENT under foreachBatch redelivery: store reads capped at
    batch_id, writes keyed by batch_id with overwrite, each store
    committed through ``_commit_epoch`` (≤ 2 epochs; the
    attribution/mixture/calibration/arpa contract)."""
    import os

    from hops_spark.ops.preference import (BT_ITERS, bradley_terry_fit,
                                           scored_docs)

    spark = batch_df.sparkSession
    pend_dir = os.path.join(state_dir, "pending")
    mat_dir = os.path.join(state_dir, "matrix")

    scored = scored_docs(batch_df.select("doc_id", "source", "text"))
    sides = scored.select(
        F.expr("doc_id div 2").cast("long").alias("pair_id"),
        (F.col("doc_id") % 2).cast("int").alias("side"),
        "source",
        F.col("quality_score_ppm").cast("long").alias("score"))
    pend, pe = _latest_epoch(spark, pend_dir, PAIR_SIDE_SCHEMA,
                             at_most=batch_id)
    allsides = sides if pend is None else pend.unionByName(sides)
    st = F.struct(F.col("source").alias("source"),
                  F.col("score").alias("score"))
    g = (allsides.groupBy("pair_id")
         .agg(F.max(F.when(F.col("side") == 0, st)).alias("_a"),
              F.max(F.when(F.col("side") == 1, st)).alias("_b")))
    g = g.localCheckpoint(eager=True)   # feeds 3 consumers, cut lineage
    complete = g.filter(F.col("_a").isNotNull()
                        & F.col("_b").isNotNull())
    still = g.filter(F.col("_a").isNull() | F.col("_b").isNull())
    new_pend = (still.filter(F.col("_a").isNotNull())
                .select("pair_id", F.lit(0).alias("side"),
                        F.col("_a.source").alias("source"),
                        F.col("_a.score").alias("score"))
                .unionByName(
                    still.filter(F.col("_b").isNotNull())
                    .select("pair_id", F.lit(1).alias("side"),
                            F.col("_b.source").alias("source"),
                            F.col("_b.score").alias("score"))))
    winner = F.when(F.col("_a.score") >= F.col("_b.score"),
                    F.col("_a.source")).otherwise(F.col("_b.source"))
    batch_mat = (complete
                 .filter(F.col("_a.source") != F.col("_b.source"))
                 .select(F.least("_a.source", "_b.source")
                         .alias("model_a"),
                         F.greatest("_a.source", "_b.source")
                         .alias("model_b"),
                         winner.alias("winner_model"))
                 .groupBy("model_a", "model_b")
                 .agg(F.count("*").cast("long").alias("n"),
                      F.sum((F.col("winner_model") == F.col("model_a"))
                            .cast("long")).cast("long").alias("wa")))
    mat, me = _latest_epoch(spark, mat_dir, WIN_MATRIX_SCHEMA,
                            at_most=batch_id)
    _commit_epoch(new_pend, pend_dir, batch_id, pe, PAIR_SIDE_SCHEMA)
    rows = _commit_epoch(_fold_sums(mat, batch_mat, ["model_a", "model_b"]),
                         mat_dir, batch_id, me, WIN_MATRIX_SCHEMA).collect()
    s = bradley_terry_fit([(r["model_a"], r["model_b"], r["wa"],
                            r["n"] - r["wa"]) for r in rows],
                          iters=BT_ITERS)
    wins: dict[str, int] = {}
    pairs: dict[str, int] = {}
    for r in rows:
        wins[r["model_a"]] = wins.get(r["model_a"], 0) + r["wa"]
        wins[r["model_b"]] = (wins.get(r["model_b"], 0)
                              + r["n"] - r["wa"])
        pairs[r["model_a"]] = pairs.get(r["model_a"], 0) + r["n"]
        pairs[r["model_b"]] = pairs.get(r["model_b"], 0) + r["n"]
    spark.createDataFrame(
        [(m, wins[m], pairs[m], s[m]) for m in sorted(s)],
        "model string, n_wins long, n_pairs long, strength_micro long"
    ).write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch={batch_id}"))
