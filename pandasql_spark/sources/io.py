"""Readers (reference ``/root/reference/pandasql/io.py``).

Every reader returns a lazy :class:`pandasql_spark.core.DataFrame`.

Scale notes: ``read_csv``/``read_json``/``read_parquet`` are distributed
Spark scans — partitioned, predicate-pushdown-capable (parquet). CSV and
JSON schemas are inferred by sampling (the reference's 1,000-row sample
at ``memory_utils.py:15-35`` is the same idea, single-node). A parquet
schema is read from the file footers by a Spark job; `open_parquet` —
the one place in the library that opens a parquet table — runs that job
once per file identity per process and reuses the result. ``read_pickle``
and ``read_numpy`` are driver-side by nature (pickle is not splittable);
they parallelize the resulting frame out to executors and are only meant
for small inputs — matching the reference, where they are thin
``pd.read_*`` wrappers (``io.py:31-40``).
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from ..core import DataFrame
from ..session import get_spark


def read_csv(
    path: str,
    name: str | None = None,
    header: bool = True,
    infer_schema: bool = True,
    sql_load: bool = False,
    spark: SparkSession | None = None,
    **options: Any,
) -> DataFrame:
    """CSV → DataFrame (reference ``read_csv``, io.py:12-28). The
    reference's memory-estimation / chunking / CLI-import machinery is
    subsumed by Spark's distributed scan. ``name`` is accepted for API
    parity and used as a temp-view name when given; ``sql_load`` (the
    reference's read-through-SQLite path, io.py:19-20) is a no-op —
    there is one engine here. ``nrows`` is rejected exactly like the
    reference (io.py:14-16)."""
    if "nrows" in options:
        raise ValueError("nrows is not supported")
    spark = spark or get_spark()
    sdf = spark.read.options(**options).csv(path, header=header, inferSchema=infer_schema)
    df = DataFrame(sdf=sdf)
    if name:
        sdf.createOrReplaceTempView(name)
    return df


def read_json(path: str, name: str | None = None, spark: SparkSession | None = None,
              **options: Any) -> DataFrame:
    """JSON lines → DataFrame (reference ``read_json``, io.py:31-32)."""
    spark = spark or get_spark()
    sdf = spark.read.options(**options).json(path)
    df = DataFrame(sdf=sdf)
    if name:
        sdf.createOrReplaceTempView(name)
    return df


#: Inferred schemas kept by `open_parquet`, least recently used evicted
#: first. One entry per (file identity, parquet confs); a StructType is
#: a few KB at most.
_SCHEMA_MEMO_SIZE = 256
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_memo_lock = threading.Lock()


def _file_identity(spark: SparkSession, path: str) -> tuple | None:
    """(qualified path, length, mtime in ms) of the single file at
    ``path`` from its Hadoop ``FileStatus`` — any filesystem — or None
    for a directory, a glob or a path that does not resolve."""
    jvm = spark._jvm
    try:
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
        status = fs.getFileStatus(hpath)
    except Py4JJavaError:
        return None
    if not status.isFile():
        return None
    return (status.getPath().toString(), status.getLen(), status.getModificationTime())


def _parquet_confs(spark: SparkSession) -> tuple:
    """The session's explicitly set confs that change how parquet types
    map to Spark types (``spark.sql.parquet.*``,
    ``spark.sql.legacy.parquet.*``, ``spark.sql.caseSensitive``); unset
    ones hold their process-wide defaults. The keys cross py4j as one
    string, not one round trip per entry; only matching keys' values
    are fetched."""
    jconf = spark.conf._jconf
    keys = jconf.getAll().keys().mkString("\n").split("\n")
    return tuple(sorted(
        (k, jconf.get(k))
        for k in keys
        if k.startswith(("spark.sql.parquet.", "spark.sql.legacy.parquet."))
        or k == "spark.sql.caseSensitive"
    ))


def open_parquet(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> SparkDataFrame:
    """Open a parquet table: the one parquet read in the library.

    With ``schema``, read with it (no inference). Without, Spark infers
    the schema from the file footers, which costs one Spark job per
    read. For a path that is a single file, the inferred StructType is
    memoized process-wide, keyed by the qualified path, the file's
    length and modification time (Hadoop ``FileStatus``), and the
    session's parquet type-mapping confs; a hit returns
    ``spark.read.schema(memo).parquet(path)`` — a new relation with a
    fresh file listing and fresh attribute ids (a self-join of two reads
    resolves), built without the job. Directories and globs (whose
    listing can change), missing paths and failed inferences behave as a
    plain ``spark.read.parquet``; only successful inferences are stored.

    Limit: the identity is (length, millisecond mtime), so a rewrite at
    the same path that keeps both is not detected and reads with the old
    schema."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    ident = _file_identity(spark, path)
    if ident is None:
        return spark.read.parquet(path)
    key = (ident, _parquet_confs(spark))
    with _schema_memo_lock:
        memo = _schema_memo.get(key)
        if memo is not None:
            _schema_memo.move_to_end(key)
    if memo is not None:
        return spark.read.schema(memo).parquet(path)
    sdf = spark.read.parquet(path)
    inferred = sdf.schema
    with _schema_memo_lock:
        _schema_memo[key] = inferred
        _schema_memo.move_to_end(key)
        while len(_schema_memo) > _SCHEMA_MEMO_SIZE:
            _schema_memo.popitem(last=False)
    return sdf


def read_parquet(path: str, spark: SparkSession | None = None) -> DataFrame:
    """Parquet → DataFrame (beyond-reference; the scale-native format),
    opened by `open_parquet`."""
    return DataFrame(sdf=open_parquet(spark or get_spark(), path))


def read_pickle(path: str, spark: SparkSession | None = None) -> DataFrame:
    """Pickled pandas frame → DataFrame (reference io.py:39-40).
    Driver-side read, then parallelized out — small inputs only."""
    return DataFrame(pd.read_pickle(path))


def read_numpy(array, columns=None, spark: SparkSession | None = None) -> DataFrame:
    """ndarray → DataFrame. The reference's version calls a nonexistent
    ``pd.read_numpy`` (latent bug, io.py:35-36); ours actually works."""
    pdf = pd.DataFrame(array, columns=columns)
    return DataFrame(pdf)


def read_orc(path: str, spark: SparkSession | None = None) -> DataFrame:
    """ORC scan (beyond-reference format; same distributed-scan contract
    as read_parquet — predicate pushdown and column pruning apply)."""
    spark = spark or get_spark()
    return DataFrame(sdf=spark.read.orc(path))


def read_binary_files(
    path: str,
    pattern: str | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Directory of media/blob files → DataFrame via Spark's built-in
    ``binaryFile`` source: (path, modificationTime, length, content:
    binary). The ingest half of the multimodal pipeline
    (operators/multimodal.py consumes exactly this shape): each file
    becomes one row, scans are distributed and partition-pruned by
    path, and ``pattern`` (e.g. ``"*.jpg"``) pushes a pathGlobFilter to
    the listing — no driver-side file walking. Large blobs: one file
    per row, so set ``spark.sql.files.maxPartitionBytes`` to bound
    per-task memory rather than splitting (binary files aren't
    splittable)."""
    spark = spark or get_spark()
    reader = spark.read.format("binaryFile")
    if pattern:
        reader = reader.option("pathGlobFilter", pattern)
    return DataFrame(sdf=reader.load(path))


def write_compacted(
    df,
    path: str,
    target_file_mb: int = 256,
    compression_ratio: float = 0.25,
    fmt: str = "parquet",
    mode: str = "overwrite",
    max_files: int = 100_000,
) -> int:
    """Small-files-proof sink: size the output file count from the
    optimizer's size estimate instead of inheriting the upstream
    partitioning. A 100 TB pipeline stage that ends in 200k shuffle
    partitions would otherwise write 200k tiny files — the classic
    downstream-killer; conversely one giant partition serializes the
    write. Returns the file count used.

    ``compression_ratio`` converts the in-memory estimate to on-disk
    parquet/orc bytes (~4× columnar compression by default). Uses
    ``repartition`` (round-robin, even files); if the frame is already
    hash/range-partitioned on a useful key, write it directly instead.
    """
    import math

    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    est_bytes = int(sdf._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    disk_bytes = est_bytes * compression_ratio
    n = max(1, min(max_files, math.ceil(disk_bytes / (target_file_mb * 1024 * 1024))))
    sdf.repartition(n).write.mode(mode).format(fmt).save(path)
    return n
