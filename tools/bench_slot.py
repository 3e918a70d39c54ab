"""Isolated per-slot bench and profile: run named workload slots N times
each in one session with bench.py's warmup + quiesce discipline, print
per-pass seconds and the Spark jobs of each pass. The before/after
measurement harness for optimization work — same noop-sink methodology
as bench.py, minus the other 49 slots.

stdout gets one JSON line per slot (``{"slot", "passes"}``, seconds).
stderr gets, per pass, the job count and then every job (duration,
stages, tasks run, description) with the driver gap before it, and the
tail gap after the last one: a pass's wall time split into cluster work
and driver-side orchestration (planning, py4j, file ops). Jobs are read
from the app status store, so this works with the UI off, as
``get_spark`` runs.

Usage::

    python tools/bench_slot.py q37_ngram_jaccard q61_connected_components \
        [--n 3] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


class Jobs:
    """The jobs of one SparkContext's app status store, read through
    ``perfbench/probes.py``'s :class:`StatusStore` (its listener-bus
    drain and Scala-aware Jackson mapper: dates are epoch ms, options
    are a value or null)."""

    def __init__(self, spark):
        from perfbench.probes import StatusStore

        self._status = StatusStore(spark)
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def listed(self) -> list[dict]:
        """Every retained job, oldest first, once the listener bus has
        delivered every event posted so far."""
        self._status.drain()
        jobs = json.loads(
            self._status.mapper.writeValueAsString(self._store.jobsList(None))
        )
        return sorted(jobs, key=lambda j: j["jobId"])

    @staticmethod
    def next_id(jobs: list[dict]) -> int:
        """Jobs submitted so far: the newest job id + 1. Job ids count
        up from 0 per SparkContext, so a difference stays exact after
        the status store drops old jobs."""
        return jobs[-1]["jobId"] + 1 if jobs else 0


def print_pass(jobs: list[dict], t0: float, t1: float) -> None:
    """Each job of a pass that ran from ``t0`` to ``t1`` (epoch
    seconds) with the driver gap before it, then the tail gap."""
    prev_end, job_sum, gap_sum = t0, 0.0, 0.0
    for j in jobs:
        sub = j["submissionTime"] / 1000.0
        end = (j.get("completionTime") or j["submissionTime"]) / 1000.0
        gap = max(0.0, sub - prev_end)
        gap_sum += gap
        job_sum += end - sub
        desc = (j.get("description") or j.get("name") or "")[:90]
        print(
            f"#   gap {gap:6.3f}s | job {j['jobId']:4d} {end - sub:6.3f}s"
            f" stages={len(j.get('stageIds', []))}"
            f" tasks={j['numTasks'] - j.get('numSkippedTasks', 0):4d}"
            f" | {desc}",
            file=sys.stderr,
        )
        prev_end = max(prev_end, end)
    print(
        f"#   tail gap {max(0.0, t1 - prev_end):.3f}s"
        f" | jobs {job_sum:.2f}s + gaps {gap_sum:.2f}s of {t1 - t0:.2f}s",
        file=sys.stderr,
        flush=True,
    )


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

    store = Jobs(spark)
    for name in args.slots:
        fn = qs[name]
        passes = []
        for i in range(args.n):
            quiesce()
            j0 = Jobs.next_id(store.listed())
            t0, c0 = time.time(), time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - c0
            t1 = time.time()
            jobs = store.listed()
            passes.append(round(dt, 3))
            print(
                f"# {name} pass{i}: {dt:.2f}s jobs={Jobs.next_id(jobs) - j0}"
                f" load={os.getloadavg()[0]:.1f}",
                file=sys.stderr,
            )
            print_pass([j for j in jobs if j["jobId"] >= j0], t0, t1)
        print(json.dumps({"slot": name, "passes": passes}), flush=True)


if __name__ == "__main__":
    main()
