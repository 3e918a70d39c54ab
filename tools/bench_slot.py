"""Isolated per-slot bench: run named workload slots N times each in one
session with bench.py's warmup + quiesce discipline, print per-pass
seconds and the Spark job count per pass (read from the app status
store, so it works with the UI off, as ``get_spark`` runs). The
before/after measurement harness for optimization work — same
noop-sink methodology as bench.py, minus the other 49 slots.

Usage::

    python tools/bench_slot.py q37_ngram_jaccard q61_connected_components \
        [--n 3] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def n_jobs(spark) -> int:
    """Jobs submitted so far: the newest job id + 1. Job ids count up
    from 0 per SparkContext, so a difference stays exact after the
    status store drops old jobs."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return 0 if jobs.isEmpty() else jobs.head().jobId() + 1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("slots", nargs="+")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from sea_serpent_spark.session import get_spark

    spark = get_spark(app_name="bench-slot")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # bench.py warmups: parquet footers + Python worker pool
    next(iter(qs.values()))(spark, args.sf).count()
    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()

    def quiesce():
        from sea_serpent_spark.operators.util import release_checkpoints

        release_checkpoints()  # every persisted frame and checkpoint
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    import os

    for name in args.slots:
        fn = qs[name]
        passes = []
        for i in range(args.n):
            quiesce()
            j0 = n_jobs(spark)
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            j1 = n_jobs(spark)
            passes.append(round(dt, 3))
            print(
                f"# {name} pass{i}: {dt:.2f}s jobs={j1 - j0}"
                f" load={os.getloadavg()[0]:.1f}",
                file=sys.stderr,
                flush=True,
            )
        print(json.dumps({"slot": name, "passes": passes}), flush=True)


if __name__ == "__main__":
    main()
