"""`sources.io.open_parquet`: the one parquet read in the library, and
its process-wide memo of inferred schemas.

Each memo test fails if the memo serves a stale schema, is shared across
confs it must not be shared across, or hands out one relation twice. Job
counts come from the status tracker under a job group private to the
probe; the listener bus is drained first so finished jobs are visible."""

from __future__ import annotations

import ast
import shutil
import sys
import threading
import uuid
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from pandasql_spark.queries import REGISTRY
from pandasql_spark.queries._shared import load_events
from pandasql_spark.sources import io
from pandasql_spark.sources.io import open_parquet
from tests.conftest import SF_DIR as SF

PKG = Path(__file__).resolve().parent.parent / "pandasql_spark"

#: perfbench's `relational` workload (perfbench/workloads.py).
RELATIONAL = (
    "q01_pricing_summary", "q12_having", "q04_topk", "q15_window_topn",
    "q05_join_groupby", "q06_multijoin_region", "q35_shipping_priority",
    "q45_cross_join",
)


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs fn submitted)."""
    sc = spark.sparkContext
    group = f"memo-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "open_parquet memo probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy(name, tmp_path):
    dst = str(tmp_path / f"{name}.parquet")
    shutil.copyfile(f"{SF}/{name}.parquet", dst)
    return dst


def test_second_read_submits_no_job(spark, tmp_path):
    path = _copy("orders", tmp_path)
    _, cold = _jobs(spark, lambda: open_parquet(spark, path))
    assert cold >= 1  # the probe sees the inference job of a miss
    warm, n = _jobs(spark, lambda: open_parquet(spark, path))
    assert n == 0
    fresh = spark.read.parquet(path)
    assert warm.schema == fresh.schema
    assert warm.schema.json() == fresh.schema.json()
    assert sorted(warm.collect()) == sorted(fresh.collect())


def test_rewrite_at_same_path_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert open_parquet(spark, path).columns == ["a"]
    pq.write_table(
        pa.table({"a": pa.array([1, 2], pa.int64()), "b": ["x", "y"]}), path
    )
    df = open_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_parquet_conf_change_reinfers(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"k": pa.array([b"ab", b"c"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert dict(open_parquet(spark, path).dtypes)["k"] == "binary"
        spark.conf.set(key, "true")
        df, n = _jobs(spark, lambda: open_parquet(spark, path))
        assert n >= 1
        assert dict(df.dtypes)["k"] == "string"
        assert sorted(r.k for r in df.collect()) == ["ab", "c"]
        spark.conf.set(key, "false")
        assert dict(open_parquet(spark, path).dtypes)["k"] == "binary"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _attr_ids(sdf):
    out = sdf._jdf.queryExecution().analyzed().output()
    return {out.apply(i).exprId().id() for i in range(out.size())}


def test_self_join_of_two_reads_resolves(spark, tmp_path):
    path = _copy("orders", tmp_path)
    a = open_parquet(spark, path)
    b, n = _jobs(spark, lambda: open_parquet(spark, path))
    assert n == 0
    assert not _attr_ids(a) & _attr_ids(b)
    joined = a.join(b, a.o_orderkey == b.o_custkey)
    x, y = spark.read.parquet(path).alias("x"), spark.read.parquet(path).alias("y")
    want = x.join(y, F.col("x.o_orderkey") == F.col("y.o_custkey"))
    assert joined.count() == want.count() > 0


def test_missing_path_raises_at_read(spark, tmp_path):
    with pytest.raises(AnalysisException):
        open_parquet(spark, str(tmp_path / "absent.parquet"))


def test_nanos_events_fallback(spark, tmp_path):
    """TIMESTAMP(NANOS) events: the plain inference fails, load_events
    retries under nanosAsLong. The failure is never memoized, so a
    second load takes the same path and sees the same rows."""
    ts = pd.to_datetime(["2024-01-01 00:00:01.000001", "2024-01-02 03:04:05.000000"])
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts.values, pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["a", "b"],
            "value": [1.5, 2.5],
            "props": ["{}", "{}"],
        }),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    with pytest.raises(Exception, match="(?i)nanos"):
        spark.read.parquet(str(tmp_path / "events.parquet")).schema
    for _ in range(2):
        ev = load_events(spark, str(tmp_path))
        assert dict(ev.dtypes)["ts"] == "timestamp"
        got = sorted((r.event_id, r.ts) for r in ev.collect())
        assert [g[1] for g in got] == list(ts.to_pydatetime())
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) in (None, "false")


def test_relational_queries_build_without_jobs(spark):
    for name in RELATIONAL:
        REGISTRY[name].fn(spark, SF)
    built, n = _jobs(spark, lambda: [REGISTRY[q].fn(spark, SF) for q in RELATIONAL])
    assert n == 0
    assert len(built) == len(RELATIONAL)


def test_memo_is_bounded_lru(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(io, "_SCHEMA_MEMO_SIZE", 2)
    a, b, c = (_copy(t, tmp_path) for t in ("region", "nation", "supplier"))
    for p in (a, b, a, c):  # a is re-used before c evicts the oldest, b
        open_parquet(spark, p)
    assert len(io._schema_memo) == 2
    assert _jobs(spark, lambda: open_parquet(spark, a))[1] == 0
    assert _jobs(spark, lambda: open_parquet(spark, b))[1] >= 1


def test_memo_under_concurrent_readers(spark, tmp_path, monkeypatch):
    """More threads than cores hammer a memo two entries wide with
    three files, so inserts, hits and evictions interleave; every read
    must still see its own file's schema and the bound must hold."""
    monkeypatch.setattr(io, "_SCHEMA_MEMO_SIZE", 2)
    names = ("region", "nation", "supplier")
    paths = {t: _copy(t, tmp_path) for t in names}
    want = {t: spark.read.parquet(p).schema for t, p in paths.items()}
    errors = []

    def reader(k):
        try:
            for i in range(6):
                t = names[(k + i) % 3]
                if open_parquet(spark, paths[t]).schema != want[t]:
                    errors.append(t)
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(repr(exc))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(io._schema_memo) <= 2


def _batch_parquet_reads(tree):
    """Line of every ``<...>.read<...>.parquet(...)`` call under
    ``tree`` — a batch parquet read, whatever the reader chain between."""
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            recv = node.func.value
            while isinstance(recv, (ast.Attribute, ast.Call)):
                if isinstance(recv, ast.Attribute) and recv.attr == "read":
                    lines.append(node.lineno)
                    break
                recv = recv.value if isinstance(recv, ast.Attribute) else recv.func
    return lines


def test_one_parquet_open_path():
    """Every batch parquet read in the library goes through
    `open_parquet`; the way a table is opened is decided in one place."""
    io_path = PKG / "sources" / "io.py"
    fn = next(
        n for n in ast.parse(io_path.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "open_parquet"
    )
    found = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        inside = (
            (lambda line: fn.lineno <= line <= fn.end_lineno)
            if path == io_path
            else (lambda line: False)
        )
        for i, text in enumerate(src.splitlines(), 1):
            if ".read.parquet(" in text and not inside(i):
                found.append(f"{path.relative_to(PKG)}:{i}")
        for line in _batch_parquet_reads(ast.parse(src)):
            if not inside(line):
                found.append(f"{path.relative_to(PKG)}:{line}")
    assert found == []
    # the scan sees the reads open_parquet makes itself: with a given
    # schema, on a memo hit, and the two plain inferring reads
    assert len(_batch_parquet_reads(fn)) == 4
