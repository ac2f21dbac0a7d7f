"""Shared registry infrastructure: QueryDef, the semantics
wrapper, the table loader, and the events normalizer.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import pandasql_spark as ps
from pandasql_spark.functions import similarity, text
from pandasql_spark.session import ensure_semantics
from pandasql_spark.sources.io import open_parquet

@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], SparkDataFrame]
    oracle: str | None  # None → driver records rows-only check
    doc: str


def _with_semantics(
    fn: Callable[[SparkSession, str], SparkDataFrame],
) -> Callable[[SparkSession, str], SparkDataFrame]:
    """Pin the engine's semantics confs (ANSI off, UTC) on whatever
    session the caller hands us — the driver owns the *session*, this
    library owns the *semantics* of its operators (session.py)."""

    def wrapped(spark: SparkSession, sf: str) -> SparkDataFrame:
        ensure_semantics(spark)
        return fn(spark, sf)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


def _t(spark: SparkSession, sf_dir: str, name: str) -> ps.DataFrame:
    return ps.DataFrame(sdf=open_parquet(spark, f"{sf_dir}/{name}.parquet"))


def load_events(spark: SparkSession, sf_dir: str) -> SparkDataFrame:
    """Load events.parquet with ``ts`` normalized to TIMESTAMP (LTZ,
    session pinned to UTC) whatever the file's physical type:

    - TIMESTAMP(MICROS, isAdjustedToUTC=false) — the current testdata —
      reads as TIMESTAMP directly under ``inferTimestampNTZ=false``
      (session.py semantics conf); a residual TIMESTAMP_NTZ (conf raced
      by another thread) is cast, value-identical under UTC.
    - TIMESTAMP(NANOS) — earlier testdata generations — is rejected by
      the vectorized reader; read nanos as long (runtime-settable legacy
      conf, restored right after: the parquet relation captures it at
      creation) and truncate to micros, lossless for every windowing op
      here (coarsest unit we window by is seconds).
    """
    ensure_semantics(spark)
    try:
        ev = open_parquet(spark, f"{sf_dir}/events.parquet")
    except Exception as exc:  # TIMESTAMP(NANOS) file: legacy long-read path
        if "nanos" not in str(exc).lower():
            raise  # missing file / genuine failure — don't mask it
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            ev = open_parquet(spark, f"{sf_dir}/events.parquet")
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    ts_type = dict(ev.dtypes).get("ts")
    if ts_type == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev



def _codec_corpus(spark: SparkSession, sf: str, *cols: str) -> SparkDataFrame:
    """documents scan spread across the session's cores. The media
    gates render/decode per row in Python — real CPU work — and a
    small-SF corpus arrives as ONE parquet split, which would
    serialize the whole codec pipeline on one core of local[32]
    (measured: q96 18.1 s -> 2.2 s at sf0.1; see SCALING.md round 9).
    At 100 TB inputs are already split and this repartition is the
    no-op case.

    Measured A/B at sf0.1 (min-of-3, warm): the spread wins where the
    per-row codec is a pure-Python bit loop — q90 JPEG 1.96 -> 0.69 s,
    q41 PNG-pipeline 2.01 -> 1.02 s, q86 GIF 1.14 -> 0.96 s, q96 AVI
    18.1 -> 2.2 s — and LOSES where the codec is numpy-fast and the
    shuffle of the text column dominates (q80 WAV 0.91 -> 1.47 s, q81
    2.96 -> 5.12 s), so the audio gates keep the direct scan."""
    return (
        open_parquet(spark, f"{sf}/documents.parquet")
        .select(*cols)
        .repartition(spark.sparkContext.defaultParallelism)
    )


def swap_session_cache(cache, lock, spark, new_df) -> SparkDataFrame:
    """Persist ``new_df`` as ``spark``'s one resident cache in
    ``cache`` (a WeakKeyDictionary keyed by session), unpersisting the
    previous holder — the q41/q96 media-cache pattern, centralized.

    Sessions-sharing-a-JVM hazard (VERDICT r12): the weak key means a
    session that is GARBAGE-COLLECTED without ``stop()`` (a dropped
    ``newSession()``) silently erases the dict entry — losing the only
    handle to the persisted blocks, which live in the SHARED
    SparkContext storage pool until context shutdown (disk blocks of
    MEMORY_AND_DISK are not LRU-reclaimed). So each swap also registers
    a ``weakref.finalize`` on the session that unpersists through the
    JAVA DataFrame handle — a py4j object that does not root the
    Python session, so collection still happens. Two LIVE sessions on
    one JVM each hold one cache by design; the finalizer closes the
    dead-session leak. Caveat (pinned in test_cache_hooks.py):
    pyspark's global ``RDD.toDF`` monkey-patch closure roots the most
    recently CREATED session, so a dropped session's finalizer fires
    once any newer session displaces that patch (or at shutdown) —
    eventual, not instant, release."""
    import weakref

    from pyspark import StorageLevel

    with lock:
        fin_prev = cache.pop(spark, None)
        if fin_prev is not None:
            fin_prev()  # unpersist prev through its java handle; idempotent
        new_df = new_df.persist(StorageLevel.MEMORY_AND_DISK)
        jdf = new_df._jdf

        def _release(j=jdf):
            try:
                j.unpersist(False)
            except Exception:
                pass  # JVM already gone at interpreter shutdown

        fin = weakref.finalize(spark, _release)
        fin.atexit = False  # blocks die with the JVM anyway
        # value holds ONLY the finalizer (callback → java handle): a
        # DataFrame value would root the session through df.sparkSession
        # and make the weak key immortal — the leak this helper closes.
        cache[spark] = fin
    return new_df
