"""I/O + compute-surface tests (reference io.py paths + §2.9 compute
API): every reader round-trips, every sink writes what compute() shows."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import pandasql_spark as ps


@pytest.fixture()
def sample(tmp_path):
    pdf = pd.DataFrame({"c0": range(20), "c1": [i * 2 for i in range(20)]})
    return pdf, tmp_path


def test_read_csv(spark, sample):
    pdf, tmp = sample
    path = str(tmp / "t.csv")
    pdf.to_csv(path, index=False)
    df = ps.read_csv(path)
    got = df.compute().sort_values("c0", ignore_index=True)
    pd.testing.assert_frame_equal(got, pdf, check_dtype=False)


def test_read_csv_named_view(spark, sample):
    pdf, tmp = sample
    path = str(tmp / "t.csv")
    pdf.to_csv(path, index=False)
    ps.read_csv(path, name="mytable")
    assert spark.sql("SELECT count(*) c FROM mytable").collect()[0].c == 20


def test_read_json(spark, sample):
    pdf, tmp = sample
    path = str(tmp / "t.json")
    pdf.to_json(path, orient="records", lines=True)
    got = ps.read_json(path).compute().sort_values("c0", ignore_index=True)
    pd.testing.assert_frame_equal(got[["c0", "c1"]], pdf, check_dtype=False)


def test_read_pickle(spark, sample):
    pdf, tmp = sample
    path = str(tmp / "t.pkl")
    pdf.to_pickle(path)
    got = ps.read_pickle(path).compute().sort_values("c0", ignore_index=True)
    pd.testing.assert_frame_equal(got, pdf, check_dtype=False)


def test_read_numpy(spark):
    arr = np.arange(12).reshape(6, 2)
    df = ps.read_numpy(arr, columns=["a", "b"])
    got = df.compute().sort_values("a", ignore_index=True)
    assert got["a"].tolist() == [0, 2, 4, 6, 8, 10]


def test_read_parquet_roundtrip(spark, sample):
    pdf, tmp = sample
    df = ps.DataFrame(pdf)
    path = str(tmp / "t.parquet")
    df.to_parquet(path)
    got = ps.read_parquet(path).compute().sort_values("c0", ignore_index=True)
    pd.testing.assert_frame_equal(got, pdf, check_dtype=False)


def test_to_csv_json_pickle_numpy(spark, sample):
    pdf, tmp = sample
    df = ps.DataFrame(pdf)
    df.to_csv(str(tmp / "out.csv"), index=False)
    back = pd.read_csv(str(tmp / "out.csv")).sort_values("c0", ignore_index=True)
    pd.testing.assert_frame_equal(back, pdf, check_dtype=False)

    df.to_pickle(str(tmp / "out.pkl"))
    back = pd.read_pickle(str(tmp / "out.pkl")).sort_values("c0", ignore_index=True)
    pd.testing.assert_frame_equal(back, pdf, check_dtype=False)

    arr = df.to_numpy()
    assert arr.shape == (20, 2)


def test_compute_len_columns(spark, sample):
    pdf, _ = sample
    df = ps.DataFrame(pdf)
    assert len(df) == 20
    assert list(df.columns) == ["c0", "c1"]
    assert isinstance(df.compute(), pd.DataFrame)
    assert isinstance(df.to_pandas(), pd.DataFrame)


def test_cache_returns_self(spark, sample):
    pdf, _ = sample
    df = ps.DataFrame(pdf)
    assert df.cache() is df
    assert len(df) == 20


def test_orc_roundtrip(spark, tmp_path):
    import pandasql_spark as ps
    import pandas as pd

    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    df = ps.DataFrame(pdf)
    path = str(tmp_path / "t.orc")
    df.to_orc(path)
    back = ps.read_orc(path)
    got = back.compute().sort_values("a", ignore_index=True)
    pd.testing.assert_frame_equal(got, pdf, check_dtype=False)


def test_write_compacted(spark, tmp_path):
    import glob

    import pandas as pd

    import pandasql_spark as ps
    from pandasql_spark.sources import write_compacted

    df = ps.DataFrame(pd.DataFrame({"x": range(10_000), "s": ["pad" * 10] * 10_000}))
    # huge target → single output file regardless of input partitioning
    p1 = str(tmp_path / "one")
    n1 = write_compacted(df.to_spark().repartition(16), p1, target_file_mb=1024)
    assert n1 == 1
    assert len(glob.glob(p1 + "/part-*")) == 1
    # tiny target → multiple files
    p2 = str(tmp_path / "many")
    n2 = write_compacted(df, p2, target_file_mb=1, compression_ratio=50.0)
    assert n2 > 1
    assert len(glob.glob(p2 + "/part-*")) == n2
    # round-trip intact
    assert ps.read_parquet(p1).to_spark().count() == 10_000


def test_compute_fetch_guard(spark):
    """Oversized compute() raises MemoryError (reference _out_of_memory,
    core.py:181-187) instead of OOM-ing the driver; bounded fetches
    (head/limit) stay under the same cap and succeed."""
    import pandas as pd
    import pytest

    import pandasql_spark as ps
    from pandasql_spark.core import set_max_fetch_bytes

    df = ps.DataFrame(
        pd.DataFrame({"x": range(50_000), "s": ["payload" * 8] * 50_000})
    )
    try:
        set_max_fetch_bytes(10_000)  # ~10 kB cap; frame is megabytes
        with pytest.raises(MemoryError, match="smaller subset"):
            df.compute()
        with pytest.raises(MemoryError):
            df[["s"]].compute()  # Projection path shares the guard
        with pytest.raises(MemoryError):
            df.to_csv("/tmp/_guard_should_not_write.csv")
        # bounded fetches pass under the same cap
        assert len(df.head(5).compute()) == 5
        assert len(df[:7].compute()) == 7
        # disabling the guard restores the full fetch
        set_max_fetch_bytes(float("inf"))
        assert len(df.compute()) == 50_000
    finally:
        set_max_fetch_bytes(None)

    # auto mode (free driver memory) lets ordinary small frames through
    assert len(df.head(3).compute()) == 3


def test_compute_guard_join_overestimate_probe(spark):
    """The non-CBO sizeInBytes stat multiplies through joins (a 1000x1000
    merge 'estimates' hundreds of MB for a 24 kB result); the guard must
    confirm with its bounded count probe instead of raising on the
    estimate alone."""
    import pandas as pd

    import pandasql_spark as ps
    from pandasql_spark.core import set_max_fetch_bytes

    a = ps.DataFrame(pd.DataFrame({"k": range(1000), "x": range(1000)}))
    b = ps.DataFrame(pd.DataFrame({"k": range(1000), "y": range(1000)}))
    j = a.merge(b, on="k")
    try:
        set_max_fetch_bytes(1_000_000)  # far below the bogus estimate
        assert j.memory_usage() > 1_000_000  # the over-estimate is real
        assert len(j.compute()) == 1000      # ...but compute() still works
        # and a genuinely over-cap join result still raises
        set_max_fetch_bytes(100)
        import pytest

        with pytest.raises(MemoryError, match="rows"):
            j.compute()
    finally:
        set_max_fetch_bytes(None)


def test_compute_guard_measures_wide_strings(spark):
    """ADVICE r5: the schema-only flat rate (24 B/string) inflated the
    row cap ~200x for document-shaped rows, letting a genuinely
    over-cap fetch through the probe. The guard now floors bytes/row
    with a measured sample: 2,000 rows x ~5 kB strings (~10 MB real)
    under a 1 MB cap must raise even though the flat estimate
    (32 B/row -> 31k-row cap) would have passed the count probe."""
    import pandas as pd
    import pytest

    import pandasql_spark as ps
    from pandasql_spark.core import set_max_fetch_bytes

    df = ps.DataFrame(
        pd.DataFrame({"doc_id": range(2_000), "text": ["x" * 5_000] * 2_000})
    )
    try:
        set_max_fetch_bytes(1_000_000)
        with pytest.raises(MemoryError, match="smaller subset"):
            df.compute()
        # bounded fetches still fine under the same cap
        assert len(df.head(10).compute()) == 10
    finally:
        set_max_fetch_bytes(None)


def test_compute_guard_heavy_tailed_widths(spark):
    """VERDICT r6 task 5: the old sample-MEAN probe missed heavy tails —
    one 8 MB doc hiding among 5,000 1 KB docs pushed the true fetch to
    ~13 MB while the sampled mean said ~1 KB/row. The guard now measures
    EXACT payload bytes engine-side (one distributed agg, no Arrow
    fetch), so the skewed corpus must refuse under a 6 MB cap and the
    same corpus without the whale must pass."""
    import pandas as pd
    import pytest

    import pandasql_spark as ps
    from pandasql_spark.core import set_max_fetch_bytes

    texts = ["x" * 1_000] * 5_000
    whale = texts + ["y" * 8_000_000]
    df = ps.DataFrame(pd.DataFrame({"doc_id": range(5_001), "text": whale}))
    slim = ps.DataFrame(pd.DataFrame({"doc_id": range(5_000), "text": texts}))
    try:
        set_max_fetch_bytes(6_000_000)
        with pytest.raises(MemoryError, match="smaller subset"):
            df.compute()
        assert len(slim.compute()) == 5_000  # ~5 MB true payload passes
        assert len(df.head(10).compute()) == 10  # bounded fetch still fine
    finally:
        set_max_fetch_bytes(None)


def _payload_frame():
    """The 50k-row, megabyte-sized frame of test_compute_fetch_guard."""
    return ps.DataFrame(
        pd.DataFrame({"x": range(50_000), "s": ["payload" * 8] * 50_000})
    )


def _last_execution_id(spark) -> int:
    """Id of the latest SQL execution, read after the listener bus
    drained. Ids count every execution; the store's executionsCount()
    stops growing once it holds spark.sql.ui.retainedExecutions."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return int(store.executionsList(n - 1, 1).head().executionId()) if n else -1


def test_compute_cap_covers_grouped_and_arithmetic(spark):
    """Grouped aggregates and arithmetic expressions fetch through the
    same capped path as frames: a high-cardinality groupby or a
    per-row expression over the 50k-row frame refuses under a 10 kB cap
    and fetches in full under the auto cap."""
    from pandasql_spark.core import set_max_fetch_bytes

    df = _payload_frame()
    fetches = {
        "grouped": lambda: df.groupby("x").count().compute(),
        "grouped_multi": lambda: df.groupby("x").agg(["count", "max"]).compute(),
        "arithmetic": lambda: (df["x"] * 2).compute(),
    }
    try:
        set_max_fetch_bytes(10_000)
        for fetch in fetches.values():
            with pytest.raises(MemoryError, match="smaller subset"):
                fetch()
    finally:
        set_max_fetch_bytes(None)
    for name, fetch in fetches.items():
        assert len(fetch()) == 50_000, name


def test_compute_cap_covers_ungrouped_aggregates(spark):
    """Ungrouped aggregates fetch through the capped path as well: under
    a 1-byte cap they refuse, and under the auto cap all eight and
    agg([...]) give pandas' values, their fetched frame equal to a raw
    toPandas() of the same aggregate."""
    from pandasql_spark.core import _fetch_pandas, set_max_fetch_bytes

    pdf = pd.DataFrame({"n": [1, 2, 3, 4], "f": [0.5, 0.0, -2.0, 4.0]})
    df = ps.DataFrame(pdf)
    try:
        set_max_fetch_bytes(1)
        for fetch in (df.sum, df["n"].sum, lambda: df.agg(["sum", "min"])):
            with pytest.raises(MemoryError, match="smaller subset"):
                fetch().compute()
    finally:
        set_max_fetch_bytes(None)

    for name in ("sum", "count", "mean", "min", "max", "prod", "any", "all"):
        agg = getattr(df, name)()
        pd.testing.assert_frame_equal(
            _fetch_pandas(agg.to_spark()), agg.to_spark().toPandas()
        )
        expected = getattr(pdf, name)()
        pd.testing.assert_series_equal(
            agg.compute(), expected, check_dtype=False, check_names=False
        )
        assert getattr(df["n"], name)().compute() == expected["n"], name
    multi = df.agg(["sum", "min", "max"])
    pd.testing.assert_frame_equal(
        _fetch_pandas(multi.to_spark()), multi.to_spark().toPandas()
    )
    pd.testing.assert_frame_equal(
        multi.compute(), pdf.agg(["sum", "min", "max"]), check_dtype=False
    )


def test_compute_is_one_execution(spark):
    """compute() submits exactly one SQL execution on a join + groupby
    frame (the q05 shape) whether the cap is auto, finite and passing,
    or exceeded — the cap is counted on the fetch itself, never by
    re-running the pipeline to probe its size."""
    from pandasql_spark.core import set_max_fetch_bytes

    a = ps.DataFrame(pd.DataFrame({"k": range(2_000), "g": [i % 500 for i in range(2_000)]}))
    b = ps.DataFrame(pd.DataFrame({"k": range(2_000), "v": range(2_000)}))
    agg = a.merge(b, on="k").groupby("g").sum()
    out = agg[agg.v >= 0]  # HAVING: a plain DataFrame over the aggregate

    def executions_of(fetch):
        before = _last_execution_id(spark)
        result = fetch()
        return _last_execution_id(spark) - before, result

    def over_cap():
        with pytest.raises(MemoryError, match="rows"):
            out.compute()

    try:
        for cap in (None, 10_000_000):  # auto, then a finite cap that passes
            set_max_fetch_bytes(cap)
            n, got = executions_of(out.compute)
            assert (n, len(got)) == (1, 500)
        set_max_fetch_bytes(100)
        assert executions_of(over_cap) == (1, None)
    finally:
        set_max_fetch_bytes(None)


def test_compute_abort_cleans_up(spark):
    """A fetch stopped at the cap leaves the session clean: its jobs
    are cancelled and drain from the status tracker long before the
    uncancelled job could finish, no warning escapes, and the next
    compute() on the same session returns the full result."""
    import time
    import warnings

    from pandasql_spark.core import set_max_fetch_bytes

    # 128 partitions x 4 rows x 250 ms: 32 s of task time, 2 kB a row
    slow = ps.DataFrame(
        sdf=spark.range(0, 512, 1, 128).selectExpr(
            "id",
            "repeat('x', 2000) AS s",
            "reflect('java.lang.Thread', 'sleep', 250L) AS z",
        )
    )
    tracker = spark.sparkContext.statusTracker()
    try:
        set_max_fetch_bytes(10_000)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            with pytest.raises(MemoryError, match="smaller subset"):
                slow.compute()
    finally:
        set_max_fetch_bytes(None)
    deadline = time.monotonic() + 5
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.1)
    assert tracker.getActiveJobsIds() == []
    got = _payload_frame().compute()
    assert len(got) == 50_000
    assert sorted(got["x"]) == list(range(50_000))


def test_compute_cap_without_arrow(spark):
    """The cap holds when the session fetches rows instead of Arrow
    batches (``spark.sql.execution.arrow.pyspark.enabled=false``)."""
    from pandasql_spark.core import set_max_fetch_bytes

    df = _payload_frame()
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        set_max_fetch_bytes(10_000)
        with pytest.raises(MemoryError, match="smaller subset"):
            df.compute()
        assert len(df.head(5).compute()) == 5
    finally:
        set_max_fetch_bytes(None)
        spark.conf.set(key, prior)
