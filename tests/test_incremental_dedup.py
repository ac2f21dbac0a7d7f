"""Incremental streaming near-dup dedup (streaming/incremental.py):
differential vs the batch pair relation, cross-batch detection, and
idempotent store writes (the foreachBatch exactly-once contract)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import SparkSession

from pandasql_spark.operators.dedup import minhash_neardup_pairs
from pandasql_spark.queries import REGISTRY
from pandasql_spark.streaming.incremental import (
    process_batch,
    replay_incremental_dedup,
)

SF = "/root/testdata/sf0.001"


def _batch_survivors(docs):
    """The relation the incremental pipeline must reproduce: drop every
    id_b of the batch near-dup pairs (min-id representative wins)."""
    pairs = minhash_neardup_pairs(docs, threshold=0.5)
    dropped = {r.id_b for r in pairs.collect()}
    return sorted(
        r.doc_id for r in docs.select("doc_id").collect() if r.doc_id not in dropped
    )


def test_replay_matches_batch_relation(spark):
    """3-micro-batch replay through the real engine == batch dedup."""
    surv = replay_incremental_dedup(
        spark, f"{SF}/documents.parquet", n_batches=3, threshold=0.5
    )
    got = sorted(r.doc_id for r in surv.collect())
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert got == _batch_survivors(docs)
    assert len(got) < docs.count()  # the corpus does contain near-dups


@pytest.fixture()
def mini_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    near = base.replace("lazy", "sleepy")
    uniq = [
        f"document {i} totally distinct content alpha{i} beta{i} gamma{i} delta{i}"
        for i in range(8)
    ]
    # ids ordered so doc 0 (batch 0) and doc 9 (batch 1) are near-dups
    rows = [(0, base)] + [(i + 1, uniq[i]) for i in range(4)]
    rows += [(9, near)] + [(10 + i, uniq[4 + i]) for i in range(4)]
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def test_cross_batch_neardup_dropped(spark, mini_corpus, tmp_path):
    store, surv_dir = str(tmp_path / "store"), str(tmp_path / "surv")
    b0 = spark.createDataFrame(mini_corpus[mini_corpus.doc_id < 9])
    b1 = spark.createDataFrame(mini_corpus[mini_corpus.doc_id >= 9])
    process_batch(b0, 0, store, surv_dir)
    process_batch(b1, 1, store, surv_dir)
    surv = set(
        spark.read.parquet(surv_dir).select("doc_id").toPandas()["doc_id"]
    )
    assert 0 in surv  # first-seen representative kept
    assert 9 not in surv  # its cross-batch near-dup dropped
    assert surv == set(mini_corpus.doc_id) - {9}
    # the store holds EVERY doc (survivor or not) — order-independence
    sigs = spark.read.parquet(os.path.join(store, "sigs"))
    assert sigs.count() == len(mini_corpus)


def test_batch_replay_is_idempotent(spark, mini_corpus, tmp_path):
    """Re-running a batch_id (foreachBatch retry after a failure before
    the checkpoint commit) must overwrite, not append — store and
    survivor counts unchanged."""
    store, surv_dir = str(tmp_path / "store"), str(tmp_path / "surv")
    b0 = spark.createDataFrame(mini_corpus[mini_corpus.doc_id < 9])
    b1 = spark.createDataFrame(mini_corpus[mini_corpus.doc_id >= 9])
    process_batch(b0, 0, store, surv_dir)
    process_batch(b1, 1, store, surv_dir)

    def snapshot():
        return (
            spark.read.parquet(os.path.join(store, "sigs")).count(),
            spark.read.parquet(os.path.join(store, "bands")).count(),
            sorted(
                spark.read.parquet(surv_dir)
                .select("doc_id")
                .toPandas()["doc_id"]
            ),
        )

    before = snapshot()
    process_batch(b1, 1, store, surv_dir)  # retry of the last batch
    assert snapshot() == before


def test_empty_batch_is_noop(spark, mini_corpus, tmp_path):
    """A micro-batch with zero rows (idle trigger) must not corrupt the
    store or emit survivors."""
    store, surv_dir = str(tmp_path / "store"), str(tmp_path / "surv")
    b0 = spark.createDataFrame(mini_corpus[mini_corpus.doc_id < 9])
    process_batch(b0, 0, store, surv_dir)
    empty = spark.createDataFrame([], schema="doc_id long, text string")
    process_batch(empty, 1, store, surv_dir)
    sigs = spark.read.parquet(os.path.join(store, "sigs"))
    assert sigs.count() == (mini_corpus.doc_id < 9).sum()
    surv = spark.read.parquet(surv_dir)
    assert surv.filter(surv.batch_id == 1).count() == 0


def test_bucket_cap_applies_across_history(spark, tmp_path):
    """With a cap, a bucket that is under the cap per batch but over it
    across history+batch stops generating candidates — the online
    semantics the docstring promises (and without a cap, the pair IS
    found: the control assertion)."""
    base = "aa bb cc dd ee ff gg hh ii jj kk ll"
    # 6 identical docs in batch 0, 6 more (plus one near-dup of base) in
    # batch 1 → bucket size 6 per batch, 13 across history+batch
    b0 = pd.DataFrame({"doc_id": range(6), "text": [base] * 6})
    b1 = pd.DataFrame(
        {"doc_id": range(10, 17), "text": [base] * 6 + [base.replace("kk", "zz")]}
    )
    # uncapped: all 7 batch-1 docs near-match history (the one-token
    # variant's jaccard ≈ 0.54 ≥ 0.5 too) → 0 survivors. cap=10: the
    # boilerplate bucket holds 13 > 10 across history+batch, so it
    # stops generating candidates and all 7 survive — the documented
    # online-cap semantics (exact_dedup upstream is the real guard).
    for cap, expect_b1_survivors in ((None, 0), (10, 7)):
        store = str(tmp_path / f"store_{cap}")
        surv = str(tmp_path / f"surv_{cap}")
        process_batch(
            spark.createDataFrame(b0), 0, store, surv, max_bucket_size=cap
        )
        process_batch(
            spark.createDataFrame(b1), 1, store, surv, max_bucket_size=cap
        )
        got = spark.read.parquet(surv)
        n_b1 = got.filter(got.batch_id == 1).count()
        assert n_b1 == expect_b1_survivors, (cap, n_b1)


def test_string_ids_round_trip_the_store(spark, tmp_path):
    """The persisted sigs/bands schemas must follow the id column's
    type — a string-id stream reads back its own store (regression:
    hardcoded 'id long' broke batch 2's history read)."""
    store = str(tmp_path / "store_str")
    surv = str(tmp_path / "surv_str")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id string, text string")
    text = "alpha beta gamma delta epsilon zeta eta theta"
    process_batch(mk([("a", text), ("b", "totally different words here")]),
                  0, store, surv)
    process_batch(mk([("c", text)]), 1, store, surv)  # near-dup of 'a'
    surv_ids = {
        r.doc_id for r in spark.read.parquet(surv).select("doc_id").collect()
    }
    assert "a" in surv_ids and "b" in surv_ids and "c" not in surv_ids


def _batch_substring(docs, k):
    from pandasql_spark.operators.dedup import substring_dedup

    return {
        r.doc_id: (r.text, r.n_tokens, r.sub_dup_windows, r.sub_dup_tokens)
        for r in substring_dedup(docs, k=k).toPandas().itertuples()
    }


def test_substring_replay_matches_batch_operator(spark):
    """3-micro-batch replay of incremental substring dedup through the
    real engine == the batch substring_dedup(keep='first') over the
    full corpus, column-exact (spliced text included)."""
    from pandasql_spark.streaming.incremental import (
        replay_incremental_substring_dedup,
    )

    surv = replay_incremental_substring_dedup(
        spark, f"{SF}/documents.parquet", n_batches=3, k=20
    )
    got = {
        r.doc_id: (r.text, r.n_tokens, r.sub_dup_windows, r.sub_dup_tokens)
        for r in surv.toPandas().itertuples()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    want = _batch_substring(docs, k=20)
    assert got == want
    assert sum(g[2] for g in got.values()) > 0  # spans actually bound


def test_substring_batch_replay_is_idempotent(spark, tmp_path):
    """Retrying the last batch_id (failure before checkpoint commit)
    overwrites its own partitions — store and survivors byte-identical
    to the clean run."""
    from pandasql_spark.streaming.incremental import process_substring_batch

    passage = " ".join(f"s{i}" for i in range(5))
    b0 = spark.createDataFrame(
        [(0, f"alpha {passage} beta"), (1, "unrelated words here")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(2, f"gamma {passage} delta"), (3, f"{passage} {passage}")],
        "doc_id long, text string",
    )
    store, surv = str(tmp_path / "store"), str(tmp_path / "surv")
    process_substring_batch(b0, 0, store, surv, k=5)
    process_substring_batch(b1, 1, store, surv, k=5)

    def snap():
        s = spark.read.parquet(surv).toPandas()
        return sorted(map(tuple, s.values.tolist()))

    clean = snap()
    process_substring_batch(b1, 1, store, surv, k=5)  # retry
    assert snap() == clean
    got = {r[0]: r[1] for r in clean}
    assert passage in got[0]          # canonical (earliest) keeps
    assert passage not in got[2]      # cross-batch duplicate spliced
    assert passage not in got[3]      # and the within-doc repeats too


def test_substring_store_compaction(spark, tmp_path):
    """compact_substring_store folds the per-batch partitions into one
    (distinct-fp, highest-batch-id) partition; subsequent batches see
    identical history, so the survivor set equals the uncompacted
    run's. The TTL variant drops pre-horizon fingerprints and lets
    their duplicates resurface — the documented policy change."""
    from pandasql_spark.streaming.incremental import (
        compact_substring_store,
        process_substring_batch,
    )

    passage = " ".join(f"s{i}" for i in range(5))
    batches = [
        spark.createDataFrame(
            [(0, f"alpha {passage} beta"), (1, "unrelated words here now")],
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(2, f"gamma {passage} delta")], "doc_id long, text string"
        ),
        spark.createDataFrame(
            [(3, f"{passage} coda")], "doc_id long, text string"
        ),
    ]

    def run(compact_after=None, min_batch_id=None):
        import uuid

        work = tmp_path / uuid.uuid4().hex
        store, surv = str(work / "store"), str(work / "surv")
        for i, b in enumerate(batches):
            if compact_after is not None and i == compact_after + 1:
                n = compact_substring_store(
                    spark, store, min_batch_id=min_batch_id
                )
                assert n >= 0
            process_substring_batch(b, i, store, surv, k=5)
        out = spark.read.parquet(surv).toPandas()
        return {r.doc_id: r.text for r in out.itertuples()}, store

    plain, _ = run()
    compacted, store = run(compact_after=1)
    assert compacted == plain
    # exactly one partition remains after compaction ran (plus batch 2's)
    import os

    parts = sorted(
        d for d in os.listdir(os.path.join(store, "winfps"))
        if d.startswith("batch_id=")
    )
    assert parts == ["batch_id=1", "batch_id=2"]

    # TTL horizon at batch 1 drops batch-0 fps: doc 3's passage copy
    # resurfaces only if batch 1 hadn't re-recorded it (it did — its own
    # occurrence re-entered the store), so splice still happens; push
    # the horizon past batch 1 and the passage survives in doc 3
    ttl, _ = run(compact_after=1, min_batch_id=2)
    assert passage not in compacted[3]
    assert passage in ttl[3], "pre-horizon duplicates must resurface"


def test_compaction_crash_recovery(spark, tmp_path):
    """The _COMPACTING marker makes the staging→store swap
    crash-detectable and self-healing (ADVICE r12 / VERDICT r12 #9):
    a crash mid-swap (staging complete, old partitions partially
    deleted, rename never ran) is finished on the next call with zero
    fingerprint loss; a marker orphaned AFTER the swap completed is
    simply cleared. Non-local store paths raise instead of silently
    no-opping."""
    import os
    import shutil

    import pytest

    from pandasql_spark.streaming.incremental import (
        compact_substring_store,
        process_substring_batch,
    )

    store, surv = str(tmp_path / "store"), str(tmp_path / "surv")
    passage = " ".join(f"w{i}" for i in range(5))
    for i, text in enumerate(
        [f"alpha {passage} beta", f"gamma {passage} delta"]
    ):
        b = spark.createDataFrame([(i, text)], "doc_id long, text string")
        process_substring_batch(b, i, store, surv, k=5)

    path = os.path.join(store, "winfps")
    before = spark.read.parquet(path).select("fp").distinct().count()

    with pytest.raises(ValueError, match="non-local"):
        compact_substring_store(spark, "s3a://bucket/store")

    n = compact_substring_store(spark, store)
    parts = [d for d in os.listdir(path) if d.startswith("batch_id=")]
    assert n == before and parts == ["batch_id=1"]
    marker = os.path.join(store, "_COMPACTING")
    assert not os.path.exists(marker)

    # simulate the crash window: staging dir fully written, marker
    # placed, old partition already deleted, rename never happened
    tmp = path + "_compact_tmp"
    src = os.path.join(path, "batch_id=1")
    shutil.copytree(src, tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    with open(marker, "w") as fh:
        fh.write("1")
    shutil.rmtree(src)
    n2 = compact_substring_store(spark, store)
    assert n2 == before, "recovery must lose no fingerprints"
    assert not os.path.exists(tmp) and not os.path.exists(marker)
    assert spark.read.parquet(path).select("fp").distinct().count() == before

    # marker orphaned after a completed swap (no staging dir): cleared
    with open(marker, "w") as fh:
        fh.write("1")
    assert compact_substring_store(spark, store) == before
    assert not os.path.exists(marker)


def test_compaction_file_uri_and_corrupt_marker(spark, tmp_path):
    """r14 hardening: a file:// store_dir is normalized to a local
    path (previously isdir() on the URI was False and compaction
    silently returned 0 — the no-op the non-local guard exists to
    prevent); an unparsable _COMPACTING marker with staging debris is
    cleared and compaction proceeds instead of wedging every later
    call on int()."""
    import os

    from pandasql_spark.streaming.incremental import (
        compact_substring_store,
        process_substring_batch,
    )

    store, surv = str(tmp_path / "store"), str(tmp_path / "surv")
    passage = " ".join(f"w{i}" for i in range(5))
    for i, text in enumerate(
        [f"alpha {passage} beta", f"gamma {passage} delta"]
    ):
        b = spark.createDataFrame([(i, text)], "doc_id long, text string")
        process_substring_batch(b, i, store, surv, k=5)
    path = os.path.join(store, "winfps")
    before = spark.read.parquet(path).select("fp").distinct().count()

    n = compact_substring_store(spark, "file://" + store)
    assert n == before, "file: URI must compact, not silently no-op"
    parts = [d for d in os.listdir(path) if d.startswith("batch_id=")]
    assert parts == ["batch_id=1"]

    # corrupt (empty) marker, no staging dir: the store is intact by
    # construction (partitions are deleted only after a VALID marker
    # exists) — recovery clears the debris and compaction proceeds
    marker = os.path.join(store, "_COMPACTING")
    open(marker, "w").close()
    os.makedirs(path + "_compact_tmp", exist_ok=True)
    assert compact_substring_store(spark, store) == before
    assert not os.path.exists(marker)
    assert not os.path.exists(path + "_compact_tmp")


def test_store_fp_method_marker(spark, tmp_path):
    """The substring store records its fingerprint method+version
    (_FP_METHOD): mixing methods raises; a marker-less store with
    xxhash128 history predates the r13 fold-order fix (its values are
    incompatible) and raises instead of silently resurfacing every
    duplicate; marker-less xxhash history is value-compatible and
    adopts the marker in place."""
    import os

    import pytest

    from pandasql_spark.streaming.incremental import (
        process_substring_batch,
    )

    passage = " ".join(f"w{i}" for i in range(5))

    def batch(i):
        return spark.createDataFrame(
            [(i, f"doc{i} {passage} tail{i}")], "doc_id long, text string"
        )

    # method mismatch on a marked store raises
    store, surv = str(tmp_path / "a"), str(tmp_path / "a_surv")
    process_substring_batch(batch(0), 0, store, surv, k=5)
    assert open(os.path.join(store, "_FP_METHOD")).read() == "xxhash"
    with pytest.raises(ValueError, match="fingerprint method"):
        process_substring_batch(
            batch(1), 1, store, surv, k=5, fingerprint="xxhash128"
        )

    # marker-less xxhash128 history: incompatible legacy store, raises
    store2, surv2 = str(tmp_path / "b"), str(tmp_path / "b_surv")
    process_substring_batch(
        batch(0), 0, store2, surv2, k=5, fingerprint="xxhash128"
    )
    assert (
        open(os.path.join(store2, "_FP_METHOD")).read() == "xxhash128-v2"
    )
    os.remove(os.path.join(store2, "_FP_METHOD"))
    with pytest.raises(ValueError, match="fold-order"):
        process_substring_batch(
            batch(1), 1, store2, surv2, k=5, fingerprint="xxhash128"
        )

    # marker-less xxhash history: values never changed — adopts marker
    store3, surv3 = str(tmp_path / "c"), str(tmp_path / "c_surv")
    process_substring_batch(batch(0), 0, store3, surv3, k=5)
    os.remove(os.path.join(store3, "_FP_METHOD"))
    process_substring_batch(batch(1), 1, store3, surv3, k=5)
    assert open(os.path.join(store3, "_FP_METHOD")).read() == "xxhash"


@pytest.mark.parametrize("name", ["q63_incremental_dedup", "q99_crawl_ingest_stream"])
def test_registry_replay_keeps_active_session(spark, name):
    """A foreachBatch replay must leave the caller's session active:
    PySpark makes the batch's cloned session active on its first
    createDataFrame, and later get_spark() callers (read_csv(name=)'s
    temp view, say) would otherwise land on the clone."""
    assert SparkSession.getActiveSession() is spark
    REGISTRY[name].fn(spark, SF).count()
    assert SparkSession.getActiveSession() is spark
