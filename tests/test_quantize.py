"""Scalar embedding quantization: code correctness vs a numpy
replication (same half-up rounding), the scale/2 error bound,
constant-vector exactness, the audit report against a numpy+hashlib
reference, NULL/empty vectors, and the zero-shuffle plan claim."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pandasql_spark.operators.quantize import (
    dequantize_embeddings,
    quantization_report,
    quantize_embeddings,
)

SF = "/root/testdata/sf0.001"


def _codes_numpy(v):
    v = np.asarray(v, np.float64)
    lo, hi = v.min(), v.max()
    if hi == lo:
        return np.zeros(len(v), np.int64), lo, 0.0
    scale = (hi - lo) / 255.0
    return np.floor((v - lo) / scale + 0.5).astype(np.int64), lo, scale


def test_codes_match_numpy_halfup(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(100)
    orig = {r["vec_id"]: r["embedding"] for r in e.collect()}
    got = quantize_embeddings(e).collect()
    assert len(got) == len(orig)
    for r in got:
        exp_codes, lo, scale = _codes_numpy(orig[r["vec_id"]])
        assert r["codes"] == exp_codes.tolist()
        assert math.isclose(r["lo"], lo, rel_tol=0, abs_tol=0)
        assert math.isclose(r["scale"], scale, rel_tol=0, abs_tol=0)
        assert all(0 <= q <= 255 for q in r["codes"])


def test_roundtrip_error_bound(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    orig = {r["vec_id"]: np.array(r["embedding"], np.float64) for r in e.collect()}
    deq = dequantize_embeddings(quantize_embeddings(e))
    for r in deq.collect():
        v = orig[r["vec_id"]]
        err = np.abs(np.array(r["embedding"]) - v).max()
        scale = (v.max() - v.min()) / 255.0
        assert err <= scale / 2 + 1e-12


def test_constant_vector_exact(spark):
    df = spark.createDataFrame(
        [(1, [3.5, 3.5, 3.5]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = quantize_embeddings(df).collect()
    by_id = {r["vec_id"]: r for r in q}
    assert by_id[1]["codes"] == [0, 0, 0] and by_id[1]["scale"] == 0.0
    deq = {r["vec_id"]: r["embedding"] for r in dequantize_embeddings(quantize_embeddings(df)).collect()}
    assert deq[1] == [3.5, 3.5, 3.5]
    assert deq[2] == [0.0, 0.0]


def test_report_err_consistent_and_bounded(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    rep = quantization_report(e).collect()
    for r in rep:
        if r["scale"] > 0:
            assert r["max_abs_err"] <= r["scale"] / 2 + 1e-6
        else:
            assert r["max_abs_err"] == 0.0


def test_zero_shuffle_plan(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    for sdf in (quantize_embeddings(e), quantization_report(e)):
        plan = sdf._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def _report_row(vec_id, v):
    """quantization_report's row for one vector: exact half-up codes
    (floor(t) plus one when the fractional part t - floor(t) is >= 0.5),
    the true reconstruction error, and md5 of the comma-joined codes."""
    x = np.asarray(v, np.float64)
    lo = hi = 0.0
    if len(x):
        lo, hi = float(x.min()), float(x.max())
    if hi == lo:
        scale, q, err = 0.0, np.zeros(len(x), np.int64), 0.0
    else:
        scale = (hi - lo) / 255.0
        t = (x - lo) / scale
        q = np.floor(t).astype(np.int64) + (t - np.floor(t) >= 0.5)
        err = float(np.abs(x - (lo + q * scale)).max())
    fp = hashlib.md5(",".join(str(int(c)) for c in q).encode()).hexdigest()
    return (vec_id, len(x), round(lo, 6), round(scale, 6), round(err, 6), fp)


def test_report_matches_reference(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = sorted(map(tuple, quantization_report(e).collect()))
    expected = sorted(
        _report_row(r["vec_id"], r["embedding"])
        for r in e.select("vec_id", "embedding").collect()
    )
    assert len(got) == len(expected) > 0
    assert got == expected


def test_report_null_and_empty_vectors(spark):
    # a NULL embedding (parquet list columns are nullable) reports its id
    # with NULL stats instead of crashing the kernel; an empty vector
    # keeps its degenerate all-zero row
    df = spark.createDataFrame(
        [(1, None), (2, []), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    for frame in (df, df.coalesce(1)):  # a batch per row, then one batch
        got = {r["vec_id"]: tuple(r)[1:] for r in quantization_report(frame).collect()}
        assert got[1] == (None, None, None, None, None)
        assert got[2] == (0, 0.0, 0.0, 0.0, hashlib.md5(b"").hexdigest())
        assert got[3] == _report_row(3, [0.0, 1.0])[1:]
