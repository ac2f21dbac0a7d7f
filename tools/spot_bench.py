"""Parallel-scaling spot bench and skew read (VERDICT r17 tasks 5, 7).

    SPARK_GRAFT_SF_DIR=/root/sfbig/sf1 SPARK_GRAFT_CPUS=8 \
        PYTHONPATH=. python tools/spot_bench.py [q01_... ...]

Times a fixed slate of shuffle/scan/agg-bound batch queries (min-of-2
after an untimed warmup run of each, noop sink — bench.py methodology)
at whatever SF dir and core count the env says, and prints one JSON
line with wall seconds plus the executor-totals deltas (task time, GC,
shuffle bytes, input bytes) per query. Run it twice — CPUS=8 and
CPUS=32 — over the tools/make_scaled_sf.py dataset and compare: at
sf0.1 every query is fixed-overhead dominated and the ratio reads ~1;
at ~sf1 the compute-bound queries should approach the core ratio.

The line's ``skew`` block is the skew/spill read of each query's LAST
timed run: every completed stage (heaviest first, at most 10) with its
task count, executor run time, shuffle read/write, spill, and the
per-task median/max of run time and shuffle-read bytes — the guide-§2.5
skew signal (max/median above ~5-10x is worth fixing) — plus
``aqe_skew_marker``: whether the final (post-AQE) plan carries
``skew=true`` on a join, so a fired skew split is visible even after
coalescing. The sf5 read the old tools/skew_probe.py made is now:

    SPARK_GRAFT_SF_DIR=path/to/sf5 SPOT_MAX_PARTITION_BYTES=16777216 \
        SPOT_ADVISORY_BYTES=8388608 PYTHONPATH=. \
        python tools/spot_bench.py q08_composite_join q06_multijoin_region

All of it is read from the in-process status stores between timed
windows, so the session runs with the UI off, as bench.py does.

The default slate deliberately avoids the content-dedup families
(the K-fold scaler duplicates document text verbatim, which changes
THEIR workload character) and the streaming replays (fixed micro-batch
machinery, the thing this probe is trying to see past).
"""
from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

SLATE = [
    "q01_pricing_summary",
    "q05_join_groupby",
    "q06_multijoin_region",
    "q08_composite_join",
    "q35_shipping_priority",
    "q21_events_hourly",
    "q26_sessionize",
    "q33_count_distinct",
    "q52_distribution",
    "q64_sequence_packing",
    "q65_exact_percentiles",
    "q91_quantile_normalize",
    "q98_bigram_lm",
    "q100_bpe_pair_stats",
]


def _doubles(spark, values):
    gw = spark.sparkContext._gateway
    arr = gw.new_array(gw.jvm.double, len(values))
    for i, v in enumerate(values):
        arr[i] = v
    return arr


def _stages(spark):
    """Every stage attempt in the core status store, newest first."""
    return spark.sparkContext._jsc.sc().statusStore().stageList(
        None, False, False, _doubles(spark, []), None
    )


def _marks(spark, stores) -> tuple[int, int]:
    """(newest stage id, newest SQL execution id). Ids, not counts: once
    a store holds its retention limit, its count stops growing."""
    stores.drain()
    stages = _stages(spark)
    n = stores.execution_count()
    return (stages.apply(0).stageId() if stages.size() else -1,
            stores.executions_since(n - 1)[0].id if n else -1)


def _skew_read(spark, stores, after_stage: int, after_execution: int) -> dict:
    """Skew rows of the stages completed after stage ``after_stage`` and
    the AQE skew-join marker of the SQL executions after execution
    ``after_execution``. perfbench.sparkstore serves no stage or plan
    read, so these two go to the stores directly."""
    newest_execution = _marks(spark, stores)[1]
    core = spark.sparkContext._jsc.sc().statusStore()
    quantiles = _doubles(spark, [0.0, 0.5, 1.0])
    stages = _stages(spark)
    rows = []
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() <= after_stage:
            break
        if s.status().toString() != "COMPLETE":
            continue
        row = {
            "stage": s.stageId(),
            "tasks": s.numCompleteTasks(),
            "run_time_s": round(s.executorRunTime() / 1000, 2),
            "shuffle_read_mb": round(s.shuffleReadBytes() / 1e6, 1),
            "shuffle_write_mb": round(s.shuffleWriteBytes() / 1e6, 1),
            "spill_disk_mb": round(s.diskBytesSpilled() / 1e6, 1),
        }
        if s.numCompleteTasks() > 1:
            summary = core.taskSummary(s.stageId(), s.attemptId(), quantiles)
            if summary.isDefined():  # task data may be evicted
                run = summary.get().executorRunTime()
                dmed, dmax = run.apply(1), run.apply(2)
                row["task_ms_med_max"] = [round(dmed), round(dmax)]
                row["task_skew_ratio"] = round(dmax / dmed, 1) if dmed else None
                rb = summary.get().shuffleReadMetrics().readBytes()
                row["task_shuffle_read_med_max"] = [
                    round(rb.apply(1)), round(rb.apply(2))
                ]
        rows.append((s.executorRunTime(), row))
    rows.sort(key=lambda r: -r[0])
    # the final (post-AQE) plan: the SQL store replaces the plan text on
    # every adaptive update
    sql = spark._jsparkSession.sharedState().statusStore()
    marker = any(
        "skew=true" in sql.execution(i).get().physicalPlanDescription()
        for i in range(after_execution + 1, newest_execution + 1)
    )
    return {"aqe_skew_marker": marker, "stages": [r for _, r in rows[:10]]}


def main() -> int:
    names = sys.argv[1:] or SLATE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/sfbig/sf1")
    import bench  # the repo-root harness: _cost_totals/_totals_delta

    from pandasql_spark.queries import REGISTRY
    from pandasql_spark.session import get_spark
    from perfbench.sparkstore import StatusStores

    # Scale-proportional task sizing, the point of the probe: a real
    # deployment sizes splits/partitions to the data (guide §2.2/§6.1 —
    # partitions in the 100 MB–1 GB band at 100 TB means task counts far
    # above core counts). At toy SFs the DEFAULT 128 MB splits / 64 MB
    # AQE advisory collapse every stage to 1–10 tasks, so c8-vs-c32
    # measures nothing but fixed overhead. 4 MB / 2 MB here reproduce
    # the cluster-shaped tasks-per-stage ratio at ~150 MB of input.
    # These are PROBE-session settings, not engine or bench settings.
    # scale-proportional to the probe SF; env-overridable so one tool
    # serves sf1 (4m/2m) and sf5 (16m/8m)
    mpb = os.environ.get("SPOT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024))
    adv = os.environ.get("SPOT_ADVISORY_BYTES", str(2 * 1024 * 1024))
    spark = get_spark("spot-bench", **{
        "spark.sql.files.maxPartitionBytes": mpb,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": adv,
    })
    spark.sparkContext.setLogLevel("ERROR")
    stores = StatusStores(spark)
    spark.range(1000).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    metrics: dict[str, dict] = {}
    skew: dict[str, dict] = {}
    for name in names:
        fn = REGISTRY[name].fn
        spark.sparkContext.setJobDescription(f"spot:{name}")
        try:
            # untimed warmup (first-touch JIT/codegen), then min-of-2
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            before = bench._cost_totals(spark)
            runs = []
            for _ in range(2):
                marks = _marks(spark, stores)
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            timings[name] = round(min(runs), 3)
            delta = bench._totals_delta(before, bench._cost_totals(spark), 2)
            if delta is not None:
                metrics[name] = delta
            skew[name] = _skew_read(spark, stores, *marks)
        except Exception as exc:  # noqa: BLE001 — keep probing
            metrics[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        finally:
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
    out = {
        "metric": "spot_bench",
        "sf_dir": sf_dir,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "value": round(sum(timings.values()), 3),
        "queries": timings,
        "cost_metrics": metrics,
        "skew": skew,
        "load_avg_start": [round(x, 2) for x in os.getloadavg()],
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
