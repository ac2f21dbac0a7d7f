"""Workload definitions and the once-per-run output check.

An op is one closed-loop request: build a lazy frame through the
library's public surface, then materialize it. Kinds:

- ``noop``: a registry query written to the ``noop`` sink — full
  execution, no driver fetch;
- ``compute``: a registry query wrapped as a ``pandasql_spark``
  DataFrame and fetched with ``compute()`` (fetch guard + Arrow
  transfer);
- ``csv_ingest``: ``read_csv`` of the lineitem CSV exported in set-up,
  then ``to_parquet``;
- ``fetch``: ``read_parquet(lineitem).compute()``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@dataclass(frozen=True)
class Op:
    name: str
    kind: str  # noop | compute | csv_ingest | fetch
    query: str | None = None  # registry name for noop/compute


def _queries(kind: str, names: str) -> list[Op]:
    return [Op(n, kind, n) for n in names.split()]


#: Paper chart 1 shapes (filter/agg, top-n, joins, cross-join filter):
#: Catalyst plus JVM scan/exchange/aggregate. The Python worker and the
#: fetch guard do no work here, so this is the bypass side for kernel
#: and fetch changes.
RELATIONAL = _queries("noop", (
    "q01_pricing_summary q12_having q04_topk q15_window_topn "
    "q05_join_groupby q06_multijoin_region q35_shipping_priority "
    "q45_cross_join"
))

#: The user-facing round trip (paper chart 2): CSV ingest beside
#: reads, the driver fetch of a base table, and compute() on pipeline
#: results — relational (q05, where the fetch guard re-executes the
#: pipeline; q35, where it does not) and corpus kernels that run in the
#: Python worker as Arrow-batched mapInPandas (q67 repetition signals,
#: q89 embedding quantization) — plus the write_compacted round trip
#: (q48). The only workload that runs the fetch guard and
#: ``sources.io``.
INGEST_FETCH = [
    Op("csv_ingest", "csv_ingest"),
    Op("lineitem_fetch", "fetch"),
    *_queries("compute", (
        "q05_join_groupby q35_shipping_priority q67_repetition_signals "
        "q89_quantize q48_write_roundtrip"
    )),
]

WORKLOADS = {"relational": RELATIONAL, "ingest_fetch": INGEST_FETCH}


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """The registry gate's comparison form (tests/test_entry_contract.py):
    numeric dtypes widened, timestamps naive, columns sorted by name,
    rows sorted by every column."""
    out = pdf.copy()
    for c in out.columns:
        dt = out[c].dtype
        if pd.api.types.is_integer_dtype(dt):
            out[c] = out[c].astype("int64")
        elif pd.api.types.is_float_dtype(dt):
            out[c] = out[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(dt):
            out[c] = pd.to_datetime(out[c]).dt.tz_localize(None).astype("datetime64[ns]")
        elif dt == object:
            try:
                out[c] = pd.to_numeric(out[c])
                return canonicalize(out)
            except (ValueError, TypeError):
                out[c] = out[c].astype(str)
    out = out.sort_index(axis=1)
    return out.sort_values(list(out.columns), ignore_index=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` by the gate's rule (row count,
    columns, exact canonicalized values), else the first difference."""
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    a, b = canonicalize(got), canonicalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != oracle {list(b.columns)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c].dtype):
            ok = np.allclose(a[c].to_numpy(), b[c].to_numpy(), rtol=0, atol=0,
                             equal_nan=True)
        else:
            ok = a[c].equals(b[c])
        if not ok:
            return f"column {c} values differ"
    return None


class Oracle:
    """DuckDB over the same parquet tables the ops read."""

    def __init__(self, data_dir: str):
        import duckdb

        self._con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def frame(self, sql: str) -> pd.DataFrame:
        return self._con.execute(sql).fetchdf()

    def close(self) -> None:
        self._con.close()


_CSV_SUMMARY = (
    "SELECT count(*) AS n, sum(l_orderkey) AS orderkeys, "
    "round(sum(CAST(l_quantity AS DOUBLE)), 2) AS qty, "
    "round(sum(CAST(l_extendedprice AS DOUBLE)), 2) AS price FROM {}"
)


def check(op: Op, got, oracle: Oracle, oracle_sql: dict[str, str]) -> str | None:
    """Compare one op's output with its oracle. ``got`` is the fetched
    pandas frame, or for ``csv_ingest`` the directory it wrote."""
    if op.kind == "csv_ingest":
        written = f"read_parquet('{got}/*.parquet')"
        cols = list(oracle.frame(f"SELECT * FROM {written} LIMIT 0").columns)
        want_cols = list(oracle.frame("SELECT * FROM lineitem LIMIT 0").columns)
        if cols != want_cols:
            return f"columns {cols} != lineitem {want_cols}"
        return mismatch(oracle.frame(_CSV_SUMMARY.format(written)),
                        oracle.frame(_CSV_SUMMARY.format("lineitem")))
    if op.kind == "fetch":
        return mismatch(got, oracle.frame("SELECT * FROM lineitem"))
    return mismatch(got, oracle.frame(oracle_sql[op.query]))
