"""Join / union / aggregation tests, differential against pandas.

Mirrors the reference's join and aggregation matrices
(``/root/reference/tests/test_data_frame.py:138-200, 414-538``)."""

from __future__ import annotations

import pandas as pd
import pytest

import pandasql_spark as ps
from tests.conftest import assert_frame_equals_pandas


@pytest.fixture(scope="module")
def join_frames(spark):
    ns1 = pd.DataFrame([{"n": i, "s1": str(i * 2)} for i in range(10)])
    ns2 = pd.DataFrame([{"n": i, "s2": str(i * 2)} for i in range(10)])
    ms2 = pd.DataFrame([{"m": i, "s2": str(i * 2)} for i in range(10)])
    return {k: (ps.DataFrame(v), v) for k, v in {"ns1": ns1, "ns2": ns2, "ms2": ms2}.items()}


@pytest.fixture(scope="module")
def abcd(spark):
    pdf = pd.DataFrame(
        [{"a": str(i), "b": str(j), "c": 100 * i, "d": -j} for i in range(3) for j in range(3)]
    )
    return ps.DataFrame(pdf), pdf


def test_join_on(join_frames):
    (df1, p1), (df2, p2) = join_frames["ns1"], join_frames["ns2"]
    out = df1.merge(df2, on="n")
    expected = p1.merge(p2, on="n")
    assert list(out.columns) == sorted(["n", "s1", "s2"])  # lexicographic (core.py:880)
    assert_frame_equals_pandas(out, expected)


def test_join_left_right_on_keeps_both_keys(join_frames):
    (df1, p1), (dfm, pm) = join_frames["ns1"], join_frames["ms2"]
    out = ps.merge(df1, dfm, left_on="n", right_on="m")
    # both key columns survive (reference tests/test_data_frame.py:167-170)
    assert set(out.columns) == {"m", "n", "s1", "s2"}
    expected = p1.merge(pm, left_on="n", right_on="m")
    assert_frame_equals_pandas(out, expected)


def test_left_right_on_merge_projects_once(join_frames):
    """One Project directly above the Join in the analyzed plan: the
    aliased columns come out sorted from a single select."""
    (df1, _), (dfm, _) = join_frames["ns1"], join_frames["ms2"]
    for how in ("inner", "left", "semi"):
        out = ps.merge(df1, dfm, left_on="n", right_on="m", how=how)
        plan = out.to_spark()._jdf.queryExecution().analyzed()
        assert plan.nodeName() == "Project"
        assert plan.children().apply(0).nodeName() == "Join"
        want = ["n", "s1"] if how == "semi" else ["m", "n", "s1", "s2"]
        assert list(out.columns) == want


def test_join_composite_keys(spark):
    a = pd.DataFrame(
        [{"a": str(i), "b": str(j), "c": 100 * i, "d": -j} for i in range(3) for j in range(3)]
    )
    b = pd.DataFrame(
        [{"a": str(i), "b": str(j), "e": 50 * i, "f": j} for i in range(3) for j in range(3)]
    )
    out = ps.DataFrame(a).merge(ps.DataFrame(b), on=["a", "b"])
    assert_frame_equals_pandas(out, a.merge(b, on=["a", "b"]))


def test_join_outer_superset(join_frames):
    (df1, p1), (df2, p2) = join_frames["ns1"], join_frames["ns2"]
    half = df2[df2["n"] < 5]
    phalf = p2[p2["n"] < 5]
    out = df1.merge(half, on="n", how="left")
    assert_frame_equals_pandas(out, p1.merge(phalf, on="n", how="left"))


def test_ungrouped_agg_series(abcd):
    df, pdf = abcd
    got = df.sum().compute()
    assert isinstance(got, pd.Series)
    assert got["c"] == pdf["c"].sum()
    assert got["d"] == pdf["d"].sum()


def test_ungrouped_agg_scalar(abcd):
    df, pdf = abcd
    assert df["c"].sum().compute() == pdf["c"].sum()
    assert df["c"].max().compute() == pdf["c"].max()
    assert df["d"].min().compute() == pdf["d"].min()
    assert df["c"].count().compute() == pdf["c"].count()
    assert df["c"].mean().compute() == pytest.approx(pdf["c"].mean())


def test_prod_any_all(spark):
    pdf = pd.DataFrame({"n": [1, 2, 3, 4], "b": [True, True, False, True]})
    df = ps.DataFrame(pdf)
    assert df["n"].prod().compute() == 24
    assert bool(df["b"].any().compute()) is True
    assert bool(df["b"].all().compute()) is False


def test_groupby_sum(abcd):
    df, pdf = abcd
    got = df.groupby("a").sum().compute()
    expected = pdf.groupby("a")[["c", "d"]].sum()
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


def test_groupby_multi_keys(abcd):
    df, pdf = abcd
    got = df.groupby(["a", "b"]).max().compute()
    expected = pdf.groupby(["a", "b"]).max()
    pd.testing.assert_frame_equal(got.sort_index(), expected.sort_index(), check_dtype=False)


def test_groupby_projection(abcd):
    df, pdf = abcd
    got = df.groupby("a")["c"].sum().compute()
    expected = pdf.groupby("a")[["c"]].sum()
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


def test_groupby_multi_agg(abcd):
    df, pdf = abcd
    got = df.groupby("a")[["c", "d"]].agg(["sum", "max"]).compute()
    expected = pdf.groupby("a")[["c", "d"]].agg(["sum", "max"])
    pd.testing.assert_frame_equal(
        got.sort_index(axis=1), expected.sort_index(axis=1), check_dtype=False
    )


def test_ungrouped_multi_agg(abcd):
    df, pdf = abcd
    got = df.agg(["sum", "min"]).compute()
    expected = pdf[["c", "d"]].agg(["sum", "min"])
    pd.testing.assert_frame_equal(
        got[["c", "d"]].astype(float), expected[["c", "d"]].astype(float), check_dtype=False
    )


def test_having_pattern(spark):
    """Post-agg filter = HAVING (reference tests/test_data_frame.py:521-538)."""
    pdf = pd.DataFrame([{"r": i // 3, "n": i, "m": 2 * i} for i in range(1, 9)])
    df = ps.DataFrame(pdf)
    agg = df.groupby("r", as_index=False).sum()
    filtered = agg[agg["n"] > 10]
    expected = pdf.groupby("r", as_index=False).sum()
    expected = expected[expected["n"] > 10]
    assert_frame_equals_pandas(filtered, expected)


def test_agg_dict_form(spark):
    import pandas as pd

    import pandasql_spark as ps

    pdf = pd.DataFrame({"g": ["a", "a", "b"], "v": [1.0, 3.0, 5.0], "w": [2, 4, 6]})
    df = ps.DataFrame(pdf)
    got = df.groupby("g").agg({"v": "sum", "w": ["min", "max"]}).compute()
    expected = pdf.groupby("g").agg({"v": "sum", "w": ["min", "max"]})
    assert got.loc["a", ("v", "sum")] == expected.loc["a", ("v", "sum")]
    assert got.loc["b", ("w", "max")] == expected.loc["b", ("w", "max")]
    assert list(got.columns) == list(expected.columns)


def test_cogroup_apply(spark):
    import pandas as pd

    import pandasql_spark as ps

    a = ps.DataFrame(pd.DataFrame({"k": [1, 1, 2], "x": [1.0, 2.0, 3.0]}))
    b = ps.DataFrame(pd.DataFrame({"k": [1, 2, 3], "y": [10.0, 20.0, 30.0]}))

    def summarize(left, right):
        k = left["k"].iloc[0] if len(left) else right["k"].iloc[0]
        return pd.DataFrame(
            {"k": [k], "x_sum": [left["x"].sum()], "y_sum": [right["y"].sum()]}
        )

    got = (
        a.groupby("k")
        .cogroup(b.groupby("k"))
        .apply(summarize, "k long, x_sum double, y_sum double")
        .compute()
        .sort_values("k", ignore_index=True)
    )
    assert got["k"].tolist() == [1, 2, 3]
    assert got["x_sum"].tolist() == [3.0, 3.0, 0.0]
    assert got["y_sum"].tolist() == [10.0, 20.0, 30.0]


def test_repartition_coalesce(spark):
    import pandas as pd

    import pandasql_spark as ps

    df = ps.DataFrame(pd.DataFrame({"k": list(range(100))}))
    r = df.repartition(8)
    assert r.to_spark().rdd.getNumPartitions() == 8
    c = r.coalesce(2)
    assert c.to_spark().rdd.getNumPartitions() == 2
    byk = df.repartition(4, "k")
    assert byk.to_spark().rdd.getNumPartitions() == 4
    assert byk.to_spark().count() == 100
