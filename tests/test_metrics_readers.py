"""One reader per measurement: the harnesses (bench.py and tools/) read
Spark's status stores and the kernel CPU counters only through
perfbench.sparkstore and perfbench.host, never through the Spark UI."""

from __future__ import annotations

import importlib.util
import json
import os
import re
from pathlib import Path

from conftest import SF_DIR
from perfbench.sparkstore import StatusStores

REPO = Path(__file__).resolve().parent.parent


def _load(path: Path):
    spec = importlib.util.spec_from_file_location(path.stem, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_UI_ON = re.compile(r"""spark\.ui\.enabled["']\s*[,:]\s*["']true""")


def test_harnesses_use_one_reader():
    """No harness opens the UI's REST endpoint, lists executors itself or
    parses /proc/stat: those reads live in perfbench/ alone."""
    found = []
    for path in [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]:
        for i, line in enumerate(path.read_text().splitlines(), 1):
            hits = [w for w in ("urlopen", "uiWebUrl", "executorList", "/proc/stat")
                    if w in line]
            if _UI_ON.search(line):
                hits.append("spark.ui.enabled=true")
            found += [f"{path.relative_to(REPO)}:{i}: {w}" for w in hits]
    assert found == []


def test_scan_probe_total_matches_file_size(spark):
    """q01 scans lineitem once: the probe's sum of ``size of files read``
    over the executions q01 adds is the file's on-disk size, up to the
    metric's 0.1 KiB display rounding."""
    from pandasql_spark.queries import REGISTRY

    scan_probe = _load(REPO / "tools" / "scan_probe.py")
    stores = StatusStores(spark)

    # the store keeps only the latest spark.sql.ui.retainedExecutions, so
    # in a long session its count stops growing: select q01's by id
    n = stores.execution_count()
    last = stores.executions_since(n - 1)[0].id if n else -1
    REGISTRY["q01_pricing_summary"].fn(spark, SF_DIR).count()
    n = stores.execution_count()
    added = [e for e in stores.executions_since(max(n - 20, 0)) if e.id > last]
    total, scans = scan_probe.files_read_bytes(stores, added)
    size = os.path.getsize(os.path.join(SF_DIR, "lineitem.parquet"))
    assert scans >= 1
    assert abs(total - size) <= 0.1 * 1024, (total, size)


def test_bench_cost_totals_carry_the_artifact_keys(spark):
    """bench.py's executor-totals adapter gives exactly the five cost
    keys BENCH_LOCAL.json carries per query, and a small job moves the
    task time."""
    bench = _load(REPO / "bench.py")
    with open(REPO / "BENCH_LOCAL.json") as f:
        entry = next(iter(json.load(f)["cost_metrics"].values()))
    per_run = {"n_runs", "steal_frac", "busy_frac", "steal_share"}

    before = bench._cost_totals(spark)
    spark.range(0, 2_000_000, numPartitions=4).selectExpr(
        "sum(id * id)"
    ).collect()
    after = bench._cost_totals(spark)

    assert list(before) == [k for k in entry if k not in per_run]
    assert list(after) == list(before)
    assert bench._totals_delta(before, after, 1)["task_time_ms"] > 0
