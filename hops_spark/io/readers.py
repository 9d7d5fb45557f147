"""Source readers (SURVEY.md §2.1).

The testdata tables are parquet; ``load_table`` is the canonical scan —
a ``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning, and small-file coalescing for free (the Spark-native
equivalents of SequenceFileInputFilter / CombineFileInputFormat, see
SURVEY.md §2.1 and §4).

Table schemas are resident, as Hops keeps file metadata resident in its
database rather than going back to the blocks. A bare
``spark.read.parquet`` infers the schema from the footers, which runs a
one-task Spark job on every call. ``load_table`` runs that inference once
per path and remembers the ``StructType``; later calls read with
``spark.read.schema(schema).parquet(path)``, which runs no job. The entry
of a path is keyed on
- the path's file fingerprint: the sorted ``(name, size, mtime_ns)`` of
  its entries, so a table rewritten in place is inferred afresh;
- the session's schema-affecting parquet confs (``_SCHEMA_CONFS``).
Only the schema is remembered, never the DataFrame: each call must build a
fresh relation with fresh attribute ids, or a query that loads one table
twice and self-joins it would hit ambiguous attributes. A path with a
non-``file`` URI scheme, or one ``os.stat`` cannot reach, keeps the
inferring read, the only one that works there.

Also provides the text-shaped scans mirroring the reference's input
formats: line scan (TextInputFormat), KV-line scan
(KeyValueTextInputFormat), fixed-width records (FixedLengthInputFormat),
XML-chunk records (StreamXmlRecordReader), heterogeneous multi-input
union (MultipleInputs), and sampling scan filters
(SequenceFileInputFilter regex/percent/md5 — reference
mapreduce/lib/input/SequenceFileInputFilter.java:49,111,154,203).
"""

from __future__ import annotations

import os
import stat
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


# parquet confs that change the schema inference reads from the footers
_SCHEMA_CONFS = ("spark.sql.legacy.parquet.nanosAsLong",
                 "spark.sql.parquet.binaryAsString",
                 "spark.sql.parquet.int96AsTimestamp",
                 "spark.sql.parquet.inferTimestampNTZ.enabled",
                 "spark.sql.parquet.mergeSchema")
# path -> (file fingerprint, schema confs, inferred schema)
_schemas: dict[str, tuple[tuple, tuple, T.StructType]] = {}


def _entries(top: str, prefix: str = ""):
    for e in os.scandir(top):
        st = e.stat()
        yield prefix + e.name, st.st_size, st.st_mtime_ns
        if e.is_dir():
            yield from _entries(e.path, prefix + e.name + "/")


def _fingerprint(path: str) -> tuple | None:
    """Sorted ``(name, size, mtime_ns)`` of the files under a local
    ``path`` (the file itself when it is one); None when the path has a
    non-``file`` URI scheme or ``os.stat`` cannot reach it."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    try:
        st = os.stat(local)
        if stat.S_ISDIR(st.st_mode):
            return tuple(sorted(_entries(local)))
        return ((os.path.basename(local), st.st_size, st.st_mtime_ns),)
    except OSError:
        return None


def _read(spark: SparkSession, path: str) -> tuple[DataFrame, T.StructType]:
    fp = _fingerprint(path)
    if fp is None:
        df = spark.read.parquet(path)
        return df, df.schema
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    hit = _schemas.get(path)
    if hit is not None and hit[0] == fp and hit[1] == confs:
        return spark.read.schema(hit[2]).parquet(path), hit[2]
    df = spark.read.parquet(path)
    schema = df.schema
    _schemas[path] = (fp, confs, schema)
    return df, schema


def table_schema(spark: SparkSession, path: str) -> T.StructType:
    """The parquet schema ``load_table`` reads ``path`` with: the raw
    footer types under the session's confs, from the same memo."""
    return _read(spark, path)[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Canonical parquet scan of a fixture table. The schema is
    inferred on the first call for a path and read from the memo
    afterwards, keyed on the table's file fingerprint and the schema
    confs; only the ``StructType`` is kept, so every call returns a fresh
    relation (a self-join of two loads resolves). A non-local path keeps
    the inferring read.

    Some fixture generations store `events.ts` as TIMESTAMP(NANOS), which
    Spark's vectorized parquet reader rejects; for those we read nanos as
    long (legacy conf) and truncate to microseconds — the same truncation
    DuckDB applies, so the oracle sees identical values. Generations that
    store µs timestamps read natively with no conversion; we branch on the
    actual column type so both work."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, schema = _read(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in (names or TABLES))


# --- text-shaped scans (reference input formats) -----------------------------

def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """TextInputFormat parity: one row per line, columns (offset unavailable →
    monotonically increasing id stand-in, value). Reference:
    mapreduce/lib/input/TextInputFormat.java:42."""
    return spark.read.text(path).withColumnRenamed("value", "line")


def read_kv_lines(spark: SparkSession, path: str, sep: str = "\t") -> DataFrame:
    """KeyValueTextInputFormat parity: split each line at the FIRST separator.
    Reference: mapreduce/lib/input/KeyValueTextInputFormat.java:47 (lines
    without a separator → whole line is the key, value empty)."""
    lines = spark.read.text(path)
    # split(..., limit=2) keeps any further separators inside the value;
    # get() (not getItem) tolerates separator-less lines → null → "".
    parts = F.split(F.col("value"), sep, 2)
    return lines.select(
        F.get(parts, 0).alias("key"),
        F.coalesce(F.get(parts, 1), F.lit("")).alias("value"),
    )


def read_fixed_width(spark: SparkSession, path: str,
                     widths: list[int], names: list[str] | None = None) -> DataFrame:
    """FixedLengthInputFormat parity: carve fixed-width fields out of each
    line. Reference: mapreduce/lib/input/FixedLengthInputFormat.java:47."""
    names = names or [f"c{i}" for i in range(len(widths))]
    df = spark.read.text(path)
    cols, off = [], 1  # substring() is 1-based
    for w, n in zip(widths, names):
        cols.append(F.substring(F.col("value"), off, w).alias(n))
        off += w
    return df.select(*cols)


def read_xml_chunks(spark: SparkSession, path: str, begin_tag: str, end_tag: str) -> DataFrame:
    """StreamXmlRecordReader parity: extract <begin>...<end> chunks as rows.
    Reference: hadoop-streaming/.../StreamXmlRecordReader.java. Implemented
    as a whole-file read + regex extraction — adequate for record-per-line
    or small-file XML; large single-doc XML would need a custom datasource."""
    import re
    # (?s): records span lines (Java regex '.' stops at \n otherwise)
    pat = "(?s)" + re.escape(begin_tag) + r"(.*?)" + re.escape(end_tag)
    text = spark.read.text(path, wholetext=True)
    return (text.select(F.regexp_extract_all("value", F.lit(pat), 1).alias("recs"))
                .select(F.explode("recs").alias("record")))


def multi_input_union(*dfs: DataFrame) -> DataFrame:
    """MultipleInputs / DelegatingInputFormat parity: heterogeneous union
    after per-source projection. Reference: mapreduce/lib/input/MultipleInputs.java:40."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


# --- pushed-down sampling scan filters (SequenceFileInputFilter parity) ------

def filter_regex(df: DataFrame, key_col: str, pattern: str) -> DataFrame:
    """RegexFilter: keep rows whose key matches. Reference:
    SequenceFileInputFilter.java:111. Catalyst pushes rlike into the scan
    where the source supports it."""
    return df.filter(F.col(key_col).rlike(pattern))


def filter_percent(df: DataFrame, key_col: str, frequency: int) -> DataFrame:
    """PercentFilter: keep every f-th key by hash. Reference:
    SequenceFileInputFilter.java:154. Uses murmur3 hash (deterministic)."""
    return df.filter(F.pmod(F.abs(F.hash(F.col(key_col))), F.lit(frequency)) == 0)


def filter_md5(df: DataFrame, key_col: str, frequency: int) -> DataFrame:
    """MD5Filter: keep keys whose md5 bucket is 0 mod f. Reference:
    SequenceFileInputFilter.java:203."""
    bucket = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast("bigint")
    return df.filter(F.pmod(bucket, F.lit(frequency)) == 0)


def read_sequence_file(spark: SparkSession, path: str,
                       schema: str = "key string, value string") -> DataFrame:
    """SequenceFileInputFormat parity (io/SequenceFile.java:1684 Reader;
    mapreduce/lib/input/SequenceFileInputFormat.java): read a Hadoop
    SequenceFile of Writable KV pairs into a DataFrame. Splittability
    (5 KB sync markers, SequenceFile.java:226) is handled by the Hadoop
    input format underneath."""
    rdd = spark.sparkContext.sequenceFile(path)
    return spark.createDataFrame(rdd, schema)


def read_auto(spark: SparkSession, path: str) -> DataFrame:
    """AutoInputFormat parity (hadoop-streaming/.../AutoInputFormat.java):
    sniff the on-disk format and dispatch the right reader. Detection:
    SequenceFile magic bytes ('SEQ') in any data file → sequence file;
    parquet footer magic ('PAR1') → parquet; otherwise line text."""
    def first_data_file(p: str) -> str | None:
        if os.path.isfile(p):
            return p
        for name in sorted(os.listdir(p)):
            if name.startswith(("_", ".")):
                continue
            f = os.path.join(p, name)
            if os.path.isfile(f):
                return f
        return None

    probe = first_data_file(path)
    magic = b""
    if probe:
        with open(probe, "rb") as fh:
            magic = fh.read(4)
    if magic[:3] == b"SEQ":
        return read_sequence_file(spark, path)
    if magic == b"PAR1":
        return spark.read.parquet(path)
    return read_lines(spark, path)
