"""Benchmark runner: executes the workload at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully executed with a ``noop``-format write: every result
row is produced by the engine (no column pruning, unlike ``count()``)
but nothing is serialized to the Python driver — so times measure the
distributed plan, not single-threaded Py4J row deserialization. Times
are end-to-end per query, excluding Spark session startup.

Per-slot Janino compiles (count and milliseconds, cold and warm runs)
go to a JSON sidecar, ``$SPARK_GRAFT_BENCH_SIDECAR`` (default
``bench_sidecar.json`` in the working directory); stdout is unchanged."""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent)
sys.path.insert(0, ROOT)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    # load BEFORE the run starts (r14): two rounds of judging were
    # dominated by host noise — loadavg at start + end brackets whether
    # a slow total was a load wave or a plan change
    loadavg_start = round(os.getloadavg()[0], 1)

    # CPU steal over the run (r14): on this virtualized box, host
    # contention is invisible to guest loadavg/ps — two back-to-back
    # runs of an identical tree measured cold 209.7 vs 236.8 with
    # loadavg_start 0.1-0.2 both times, while /proc/stat recorded 6.1%
    # steal (≈26% of busy time) during the slower one. steal_pct below
    # is the fraction of guest-runnable time the host withheld; >2-3%
    # means per-slot numbers are not comparable across runs.
    def _cpu_ticks() -> tuple[int, int] | None:
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()[1:]
            vals = [int(x) for x in parts]
            steal = vals[7] if len(vals) > 7 else 0
            return steal, sum(vals)
        except (OSError, ValueError, IndexError):
            return None

    ticks_start = _cpu_ticks()
    # optional extra cold passes per slot (SPARK_GRAFT_BENCH_REPEAT=N):
    # per-slot best-of feeds best_total below; default 1 keeps the
    # driver's wall-clock budget (the warm rerun is already a second
    # full pass and participates in best-of either way)
    try:
        repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "1")))
    except ValueError:
        repeat = 1

    # the Python workers import the package too (slots with UDFs unpickle
    # them there): they inherit the environment of the JVM started
    # below, so a run from another directory needs the root on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from sea_serpent_spark.session import get_spark

    spark = get_spark(app_name="sea-serpent-bench")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # Warm the JVM + parquet footers so per-query numbers measure the plan,
    # not first-touch costs.
    next(iter(qs.values()))(spark, sf_dir).count()
    # Warm the Python worker pool too: the first Arrow exchange of a
    # session pays per-core worker fork + import (~2s), which otherwise
    # lands on whichever pandas-path query runs first (observed as a
    # phantom 4.5x regression on q53 in round 3 when the query order
    # shifted).
    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()

    def _quiesce() -> None:
        """Per-query hygiene: drop operator checkpoints and pay GC debt
        NOW instead of mid-measurement. Accumulated broadcast/cache
        garbage across 50 queries otherwise lands a multi-second GC
        pause inside whichever query happens to trigger it (observed
        6x outliers on late queries)."""
        # one sweep frees operator caches AND localCheckpoint blocks (CC
        # labels, loser sets, packed shards) — left to JVM GC they pile
        # up across 50 queries and the round-4 driver bench measured the
        # accumulation as a 7x warm-run outlier on q61. It swallows
        # dead-JVM errors itself; anything else is a bug and surfaces.
        from sea_serpent_spark.operators.util import release_checkpoints

        release_checkpoints()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    def _compiled() -> tuple[int, float]:
        """(classes compiled, Janino ms) so far in this JVM: cache hits
        compile nothing. JVM counters, readable with the UI off."""
        org = spark.sparkContext._jvm.org
        return (
            org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount(),
            org.apache.spark.sql.catalyst.expressions.codegen
            .CodeGenerator.compileTime() / 1e6,
        )

    compiles: dict[str, dict] = {}

    def _record(name: str, run: str, start: tuple[int, float]) -> None:
        end = _compiled()
        compiles.setdefault(name, {})[run] = {
            "compiles": end[0] - start[0],
            "compile_ms": round(end[1] - start[1], 1),
        }

    times: dict[str, float] = {}
    warm_times: dict[str, float] = {}
    best_times: dict[str, float] = {}
    total = 0.0
    for name, fn in qs.items():
        _quiesce()
        c0 = _compiled()
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            _record(name, "cold", c0)
            best_times[name] = dt
            for _ in range(repeat - 1):
                # extra cold passes (repeat knob): per-slot min is the
                # noise floor; `times` stays the FIRST pass so the
                # headline metric's definition never shifts. A
                # transient failure here must not discard the valid
                # first-pass measurement — own try, logged, move on.
                try:
                    _quiesce()
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    best_times[name] = min(
                        best_times[name], time.perf_counter() - t0
                    )
                except Exception as re_err:
                    print(
                        f"# bench repeat error {name}: {re_err}",
                        file=sys.stderr,
                    )
            # every slot also gets a WARM run (codegen classes cached,
            # JIT paid; the sidecar's warm compile count shows it), so
            # warm and best totals always cover the same slot set —
            # reported separately so cold stays the headline: the
            # round-2 best-of-two silently redefined the metric and
            # flattered round-over-round comparisons. Same failure
            # isolation as the repeat passes: a warm-pass crash keeps
            # the cold number.
            try:
                _quiesce()  # warm measures the plan, not the cold
                # run's leftover checkpoint blocks / GC debt
                c0 = _compiled()
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                warm_times[name] = round(
                    time.perf_counter() - t0, 3
                )
                _record(name, "warm", c0)
                best_times[name] = min(
                    best_times[name], warm_times[name]
                )
            except Exception as warm_err:
                print(
                    f"# bench warm error {name}: {warm_err}",
                    file=sys.stderr,
                )
        except Exception as e:  # a failing query must not hide the rest
            print(f"# bench error {name}: {e}", file=sys.stderr)
            dt = -1.0
            # If the JVM/gateway died, recover with a fresh session so
            # one crash doesn't zero out every remaining query.
            try:
                spark.sql("SELECT 1").collect()
            except Exception:
                print("# restarting dead Spark session", file=sys.stderr)
                try:
                    spark.stop()
                except Exception:
                    pass
                from pyspark.sql import SparkSession

                SparkSession._instantiatedSession = None
                SparkSession._activeSession = None
                spark = get_spark(app_name="sea-serpent-bench-recovery")
        times[name] = round(dt, 3)
        if dt > 0:
            total += dt
        wnote = (
            f" (warm {warm_times[name]:.2f}s)" if name in warm_times else ""
        )
        print(f"# {name}: {dt:.2f}s{wnote}", file=sys.stderr, flush=True)
    warm_total = sum(
        warm_times.get(n, t) for n, t in times.items() if t > 0
    )
    # A warm run >3x its own cold run is an environment glitch (GC
    # pause, disk contention), not an operator regression — flag those
    # and also report warm_total with them swapped for their cold time,
    # so one anomaly can't dominate the round-over-round comparison
    # (round 4: a single 20.7s warm q61 vs 3.8s cold hid every warm win).
    warm_outliers = sorted(
        n
        for n, w in warm_times.items()
        if times.get(n, 0) > 0 and w > 3.0 * times[n]
    )
    warm_total_ex = sum(
        (times[n] if n in warm_outliers else warm_times.get(n, t))
        for n, t in times.items()
        if t > 0
    )
    # Key order matters: the driver records only the LAST 2000 chars of
    # this line, so the bulky per-slot dicts go FIRST and every scalar
    # total goes LAST — two rounds of judges had to reconstruct cold
    # totals from older artifacts because "value" printed before the
    # 50-slot "queries" dict pushed it out of the captured tail.
    best_total = sum(
        best_times.get(n, t) for n, t in times.items() if t > 0
    )

    def _steal_pct() -> float | None:
        ticks_end = _cpu_ticks()
        if ticks_start is None or ticks_end is None:
            return None
        d_steal = ticks_end[0] - ticks_start[0]
        d_total = ticks_end[1] - ticks_start[1]
        if d_total <= 0:
            return None
        return round(100.0 * d_steal / d_total, 2)

    sidecar = os.environ.get(
        "SPARK_GRAFT_BENCH_SIDECAR", "bench_sidecar.json"
    )
    with open(sidecar, "w") as f:
        json.dump({"sf": sf, "compiles": compiles}, f, indent=1)
    print(f"# sidecar {os.path.abspath(sidecar)}", file=sys.stderr)
    # Compact totals to STDERR (r15, verdict task 6): the r13
    # round-over-round comparison died because the driver's 2000-char
    # tail capture of the stdout line lost the totals to the per-slot
    # dicts. stdout stays exactly ONE JSON line (the driver contract);
    # this stderr twin is a recovery path that always fits a tail
    # capture. Additive only — no stdout parser can see it.
    print(
        "# totals "
        + json.dumps(
            {
                "value": round(total, 3),
                "warm_total": round(warm_total, 3),
                "best_total": round(best_total, 3),
                "steal_pct": _steal_pct(),
                "loadavg_start": loadavg_start,
            }
        ),
        file=sys.stderr,
        flush=True,
    )
    print(
        json.dumps(
            {
                "queries": times,
                "warm_queries": warm_times,
                "best_queries": {
                    n: round(v, 3) for n, v in best_times.items()
                },
                "warm_outliers": warm_outliers,
                # headline value = COLD sum (first-execution times, what a
                # one-shot pipeline pays); warm re-runs of every query
                # are reported alongside, never substituted
                "metric": "workload_total",
                "unit": "sec",
                "sf": sf,
                # 1-min system load BEFORE attributing a per-query move
                # to code: sibling processes on a shared box inflate
                # individual queries 1.5-3x (r5's warm q39 "regression"
                # was exactly this — unreproducible in isolation)
                "loadavg_1m": round(os.getloadavg()[0], 1),
                "loadavg_start": loadavg_start,
                # fraction of CPU time the hypervisor withheld during
                # the run (see _cpu_ticks above); None when /proc/stat
                # is unavailable
                "steal_pct": _steal_pct(),
                "repeat": repeat,
                "warm_total": round(warm_total, 3),
                "warm_total_ex_outliers": round(warm_total_ex, 3),
                # best_total = per-slot min over every pass taken (cold
                # passes + the warm rerun) — the load-robust
                # round-over-round comparator (r14); `value` below stays
                # the first-pass cold sum, the headline since round 1
                "best_total": round(best_total, 3),
                "value": round(total, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
