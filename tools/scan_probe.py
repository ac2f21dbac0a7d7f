"""Scan-audit probe: run one registry query in a fresh session and sum
the parquet bytes its scans read.

    PYTHONPATH=. python tools/scan_probe.py <query_name>

Prints a human PROBE line and the exact machine-readable total that
tools/scan_gate.py reads. The total is every SQL execution's scan-node
``size of files read``, read from the in-process SQL status store
(perfbench.sparkstore), so the session runs with the UI off. This is the
r15 auditor that caught the lazy-persist race class (SCALING.md r15):
plan text cannot show it — only file-byte accounting can.
"""
import sys

from perfbench.sparkstore import StatusStores
from pyspark.sql import SparkSession

sf = "/root/testdata/sf0.01"


def files_read_bytes(stores: StatusStores, executions) -> tuple[int, int]:
    """(total bytes, scans that read any) of ``size of files read``
    over ``executions``."""
    sizes = [
        value
        for e in executions
        for _, value in stores.node_metrics(e.id, {"size of files read"})
        if value > 0
    ]
    return int(sum(sizes)), len(sizes)


def main() -> int:
    qname = sys.argv[1]
    # local[8] and 8 shuffle partitions: the session every committed
    # floor in tools/scan_floors.json was recorded under
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pandasql_spark.queries import REGISTRY

    n = REGISTRY[qname].fn(spark, sf).count()
    stores = StatusStores(spark)
    total, nodes = files_read_bytes(stores, stores.executions_since(0))
    print(f"PROBE {qname} rows={n} :: {total} B ({nodes} scans)")
    print(f"PROBE_TOTAL_BYTES {qname} {total}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
