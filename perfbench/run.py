"""Layered benchmark for sea-serpent-spark.

Usage, from the repository root::

    python3 perfbench/run.py --workload write --seed 1 --seconds 16 --trace 0

A run is a closed loop: one process, one client, one op at a time on
``local[<cpus>]``. It generates its inputs from ``--seed`` (``datagen``),
sets up a session (``setup_s``: process start to first op ready), runs a
first pass over the workload's slots in slot order, then steady passes
in orders the seed permutes: as many as take ``--seconds`` at the
workload's nominal pass time (at least one). Before each op it releases
operator caches and checkpoints and runs a JVM GC (``bench.py``'s
quiesce), timed apart. Each op's rows are checked once per run, in the
first steady pass, against the DuckDB oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` traces the
first pass and every other steady pass (traced, untraced, ...) and
prints the per-layer metrics of the traced steady passes. The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; a summary goes to stderr and the full record (plus spans
when traced) to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import oracle  # noqa: E402
import probes  # noqa: E402
from tracing import Tracer, layer_self_times, union_length  # noqa: E402

#: Slots per workload, and the nominal time of one steady pass on 4
#: idle cores. Every run pays a cold set-up and a first pass before it
#: measures, so each workload keeps only the slots its layers need.
#: bench.py and the oracle still cover the other 33. BENCHMARK.json
#: lists write and pipeline only: with a third workload, the hour its
#: runs may take leaves no room for two steady passes per run. ``read``
#: can still be run by hand.
WORKLOADS = {
    "read": {
        "why": "many sub-second lazy reads, so core, Catalyst and per-job fixed costs dominate",
        "slots": "q01 q02 q03 q09 q13 q19 q22 q25 q26 q44 q54 q58".split(),
        "pass_s": 5.0,
    },
    "write": {
        "why": "managed-store mutations, time travel and streaming ingest exercise mutation and streaming",
        "slots": "q47 q50 q57".split(),
        "pass_s": 8.0,
    },
    "pipeline": {
        "why": "execution-bound extension operators: overlap_build, checkpoints, local literal frames, persisted state",
        "slots": "q43 q65".split(),
        "pass_s": 8.0,
    },
}

#: Passes are measured in CPU seconds of the whole process tree (this
#: process, the driver JVM, the Python workers). On a 4-core guest of a
#: shared host whose steal swung between 0% and 12% from run to run, ten
#: runs per workload spread 14% (write) and 25% (pipeline) in steady-pass
#: wall time, quartile distance over median, and 6.5% and 13% in
#: steady-pass CPU time. Wall times are per-layer metrics and go to
#: stderr.
END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
}
PER_LAYER = {
    "wall.first_pass_s": "s",
    "wall.pass_s": "s",
    "wall.op_geomean_s": "s",
    "core.build_s": "s",
    "core.exec_s": "s",
    "catalyst.plan_s": "s",
    "catalyst.executions": "count",
    "scheduler.jobs": "count",
    "scheduler.tasks": "count",
    "scheduler.job_s": "s",
    "scheduler.concurrency": "ratio",
    "driver.gap_s": "s",
    "pyworker.run_s": "s",
    "pyworker.init_s": "s",
    "pyworker.mb_sent": "MB",
    "pyworker.mb_recv": "MB",
    "pyworker.peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "mutation.calls": "count",
    "mutation.s": "s",
    "mutation.mb_written": "MB",
    "mutation.files_written": "count",
    "mutation.write_amp": "ratio",
    "mutation.space_amp": "ratio",
    "streaming.queries": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "operators.overlap_s": "s",
    "operators.checkpoints": "count",
    "operators.local_rows_calls": "count",
    "lifetime.resident_rdds": "count",
    "lifetime.resident_mb": "MB",
    "lifetime.quiesce_s": "s",
    "trace.overhead_frac": "frac",
    "host.steal_pct": "%",
}

#: A run adds no steady pass beyond its minimum once this much wall time
#: has gone, which keeps a run on a very slow host under three minutes.
RUN_BUDGET_S = 120.0


@contextmanager
def _no_span(*_args):
    yield None


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def driver_memory() -> str:
    """A quarter of physical memory, at most 4g: the session default
    (48g) is sized for a 32-core host."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Scratch:
    """Benchmark-owned directories inside the checkout."""

    def __init__(self, root: Path):
        self.root = root
        self.work = root / ".perfbench"
        self.tmp = self.work / "tmp"
        self.spark_local = self.work / "spark-local"
        self.data = self.work / "data"
        self.out = self.work / "out"
        self.oracle_cache = self.work / "oracle-cache"

    def reset(self) -> None:
        for d in (self.tmp, self.spark_local, self.data):
            shutil.rmtree(d, ignore_errors=True)
            d.mkdir(parents=True)
        self.out.mkdir(parents=True, exist_ok=True)

    def clear(self) -> None:
        for d in (self.tmp, self.spark_local, self.data):
            shutil.rmtree(d, ignore_errors=True)


def snapshot(root: Path) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) of every file under root."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def store_amplification(new_logs: list[str]) -> tuple[float, float, float]:
    """(ingested, live, on-disk) bytes over managed tables whose log was
    created in this op: the first version's files, the latest version's
    files, and everything under the table directory."""
    ingested = live = disk = 0.0
    for log_path in new_logs:
        tdir = Path(log_path).parent
        with open(log_path) as f:
            entries = [json.loads(ln) for ln in f if ln.strip()]
        if not entries:
            continue

        def size(entry):
            files = entry.get("files") or {}
            return sum(
                (tdir / p).stat().st_size
                for ps in files.values() for p in ps if (tdir / p).exists()
            )

        ingested += size(entries[0])
        live += size(max(entries, key=lambda e: e["version"]))
        disk += sum(p.stat().st_size for p in tdir.rglob("*") if p.is_file())
    return ingested, live, disk


class Bench:
    """One benchmark run: set-up, first pass, steady passes, output
    check."""

    def __init__(self, root: Path, slot_names: list[str], seed: int,
                 seconds: float, trace: bool, scale: float = 1.0,
                 min_steady: int | None = None, nominal_pass_s: float = 8.0,
                 extra_ops: list[tuple[str, object]] = ()):
        self.root = root
        self.slot_names = slot_names
        self.extra_ops = list(extra_ops)
        self.seed = seed
        self.seconds = seconds
        self.nominal_pass_s = nominal_pass_s
        self.trace = trace
        self.scale = scale
        self.min_steady = min_steady or (2 if trace else 1)
        self.scratch = Scratch(root)
        self.rng = random.Random(seed)
        self.t0 = probes.process_start()
        self.ticks0 = probes.cpu_ticks()
        self.attempted = 0
        self.failed: list[str] = []
        self.digests: dict[str, dict] = {}
        self.passes: list[dict] = []
        self.spark = None
        self.tracer = Tracer() if trace else None

    # -- environment and session ---------------------------------------
    def _environment(self) -> None:
        cpus = len(os.sched_getaffinity(0))
        self.cpus = cpus
        self.driver_mem = driver_memory()
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": self.driver_mem,
            "SPARK_LOCAL_DIRS": str(self.scratch.spark_local),
            "TMPDIR": str(self.scratch.tmp),
            # every JVM (spark-submit's launcher too): temp files and no
            # perf-data file under /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={self.scratch.tmp}",
            "PYTHONPATH": os.pathsep.join(
                [str(self.root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
        })
        import tempfile

        tempfile.tempdir = str(self.scratch.tmp)
        sys.path.insert(0, str(self.root))

    def _start_session(self):
        from sea_serpent_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.scratch.tmp / "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        # bench.py's warmups: parquet footers, then the Python worker pool
        spark.read.parquet(str(self.scratch.data / "lineitem.parquet")).count()
        par = spark.sparkContext.defaultParallelism
        spark.range(par * 4).repartition(par).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
        return spark

    def _quiesce(self) -> float:
        t = time.perf_counter()
        self._release_caches()
        self._release_checkpoints()
        self.spark.sparkContext._jvm.System.gc()
        return time.perf_counter() - t

    # -- one op --------------------------------------------------------
    def _run_op(self, name: str, fn, check: bool, traced: bool) -> dict:
        """Quiesce, then time one op: the slot call (build) and its final
        noop write (exec). Traced ops also get their layer record."""
        rec = {"op": name, "quiesce_s": self._quiesce()}
        span = self.tracer.span if traced else _no_span
        if traced:
            self._drain_probes()
            fs_before = snapshot(self.scratch.tmp)
            gc_before = self.status.gc_seconds()
        self.attempted += 1
        ok = True
        cpu0 = probes.tree_cpu_seconds()
        t0 = t1 = time.perf_counter()
        with span(name, "op") as op_id:
            try:
                with span("core.build", "core.build"):
                    df = fn(self.spark, str(self.scratch.data))
                t1 = time.perf_counter()
                with span("core.exec", "core.exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failing op must not hide the rest
                ok = False
                log(f"# op {name} failed: {type(e).__name__}: {str(e)[:300]}")
                self.failed.append(name)
            t2 = time.perf_counter()
        rec["cpu_s"] = probes.tree_cpu_seconds() - cpu0
        if not ok:
            t1 = t2
        rec.update(ok=ok, build_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0)
        if traced:
            rec.update(self._op_layers(op_id, fs_before, gc_before))
        if ok and check:
            try:
                self.digests[name] = oracle.table_digest(list(df.columns), df.collect())
            except Exception as e:
                log(f"# op {name} check collect failed: {type(e).__name__}: {str(e)[:300]}")
                self.failed.append(name)
        return rec

    def _drain_probes(self) -> None:
        """Discard probe state left by work outside op spans."""
        self.status.drain()
        self.status.new_jobs()
        self.status.new_python_metrics()
        self.plan_listener.take()
        self.stream_listener.take()

    def _op_layers(self, op_id: int, fs_before, gc_before: float) -> dict:
        st, tr = self.status, self.tracer
        st.drain()
        jobs = st.new_jobs()
        py = st.new_python_metrics()
        n_exec, phases = self.plan_listener.take()
        n_queries, batches = self.stream_listener.take()
        rdds, rdd_mb = st.resident()
        gc = st.gc_seconds() - gc_before
        leaves = [
            (f"job {j['id']}", "spark.job", j["start"], j["end"], {"tasks": j["tasks"]})
            for j in jobs
        ] + [(f"catalyst.{n}", "catalyst", s, e, {}) for n, s, e in phases]
        tr.attach(op_id, leaves)
        tr.seal(op_id)
        spans = tr.subtree(op_id)
        op = spans[0]
        wall = op["end"] - op["start"]
        intervals = [(j["start"], j["end"]) for j in jobs]
        cover = union_length(intervals, op["start"] - 0.002, op["end"] + 0.002)
        busy = sum(e - s for s, e in intervals)
        layer_of = {s["id"]: s["layer"] for s in spans}
        mutation = [  # outermost Base write calls
            s for s in spans
            if s["layer"] == "mutation" and layer_of.get(s["parent"]) != "mutation"
        ]
        fs_after = snapshot(self.scratch.tmp)
        written = [p for p, v in fs_after.items() if fs_before.get(p) != v]
        new_logs = [p for p in written if p.endswith("_log.jsonl") and p not in fs_before]
        ingested, live, disk = store_amplification(new_logs)
        names = [s["name"] for s in spans]
        return {
            "wall_s": wall,
            "jobs": len(jobs),
            "job_intervals": intervals,
            "span": [op["start"], op["end"]],
            "tasks": sum(j["tasks"] for j in jobs),
            "job_s": cover,
            "job_busy_s": busy,
            "gap_s": max(0.0, wall - cover),
            "plan_s": sum(e - s for _, s, e in phases),
            "executions": n_exec,
            "py_run_s": py["run_s"],
            "py_init_s": py["init_s"],
            "py_mb_sent": py["mb_sent"],
            "py_mb_recv": py["mb_recv"],
            "gc_s": gc,
            "mutation_calls": len(mutation),
            "mutation_s": sum(s["end"] - s["start"] for s in mutation),
            "written_mb": sum(fs_after[p][0] for p in written) / 2**20,
            "files_written": len(written),
            "ingested_mb": ingested / 2**20,
            "live_mb": live / 2**20,
            "disk_mb": disk / 2**20,
            "stream_queries": n_queries,
            "stream_batches": len(batches),
            "stream_batch_s": sum(batches),
            "overlap_s": sum(
                s["end"] - s["start"] for s in spans if s["name"] == "operators.overlap_build"
            ),
            "checkpoints": names.count("operators.tracked_checkpoint"),
            "local_rows_calls": names.count("operators.local_rows_df"),
            "resident_rdds": rdds,
            "resident_mb": rdd_mb,
            "self_s": layer_self_times(tr, op_id),
        }

    # -- passes --------------------------------------------------------
    def _pass(self, index: int, kind: str, traced: bool, check: bool) -> dict:
        order = list(self.slots)
        if kind == "steady":
            # the first pass keeps slot order: cold costs carry from op
            # to op (q64 once warmed q43's paths by 5 s), so a permuted
            # first pass would measure the order, not the program
            self.rng.shuffle(order)
        span = self.tracer.span if traced else _no_span
        if traced:
            self._trace_on()
        ticks0 = probes.cpu_ticks()
        try:
            with span(f"pass {index} ({kind})", "pass") as pass_id:
                ops = [self._run_op(name, fn, check, traced) for name, fn in order]
            if traced:
                self.tracer.seal(pass_id)
        finally:
            if traced:
                self._trace_off()
        p = {
            "index": index,
            "kind": kind,
            "traced": traced,
            "pass_s": sum(o["latency_s"] for o in ops),
            "cpu_s": sum(o["cpu_s"] for o in ops),
            "steal_pct": probes.steal_pct(ticks0, probes.cpu_ticks()),
            "ops": ops,
        }
        log(f"# pass {index} {kind}{' traced' if traced else ''}: "
            f"{p['pass_s']:.3f}s cpu {p['cpu_s']:.2f}s steal {p['steal_pct']}%")
        return p

    def _trace_on(self) -> None:
        self.tracer.install()
        self.tracer.recording = True
        self.spark._jsparkSession.listenerManager().register(self.plan_listener)
        self.spark.streams.addListener(self.stream_listener)

    def _trace_off(self) -> None:
        self.tracer.recording = False
        self.tracer.uninstall()
        self.spark._jsparkSession.listenerManager().unregister(self.plan_listener)
        self.spark.streams.removeListener(self.stream_listener)

    # -- run -----------------------------------------------------------
    def run(self) -> dict:
        import datagen

        self.scratch.reset()
        self._environment()
        self.slots = resolve_slots(self.slot_names) + self.extra_ops
        t = time.time()
        datagen.write_tables(self.scratch.data, self.seed, self.scale)
        datagen_s = time.time() - t

        from sea_serpent_spark.operators.dedup import release_caches
        from sea_serpent_spark.operators.util import release_checkpoints

        self._release_caches = release_caches
        self._release_checkpoints = release_checkpoints
        self.spark = self._start_session()
        setup_s = time.time() - self.t0 - datagen_s
        setup_steal = probes.steal_pct(self.ticks0, probes.cpu_ticks())
        log(f"# setup (cold): {setup_s:.3f}s steal {setup_steal}%")
        if self.trace:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.spark.sparkContext._gateway)
            self.status = probes.StatusStore(self.spark)
            self.plan_listener = probes.PlanListener(self.status.mapper)
            self.stream_listener = probes.streaming_listener()
        rss = probes.RssSampler()
        rss.start()
        ticks0, load0 = probes.cpu_ticks(), os.getloadavg()[0]
        try:
            with (self.tracer.span if self.trace else _no_span)("run", "run"):
                rss.reset()
                self.passes.append(self._pass(0, "first", self.trace, check=False))
                # A fixed number of steady passes, not as many as fit in the
                # time: ops still get cheaper from pass to pass (a pipeline
                # pass's CPU time falls by a quarter from the first steady
                # pass to the second), so a median over a count that depends
                # on host speed would move with the host.
                n = max(self.min_steady, round(self.seconds / self.nominal_pass_s))
                for i in range(n):
                    if i >= self.min_steady and time.time() - self.t0 > RUN_BUDGET_S:
                        break
                    traced = self.trace and i % 2 == 0
                    self.passes.append(self._pass(i + 1, "steady", traced, check=i == 0))
                peak_jvm, peak_workers = rss.peaks_mb()
            ticks1, load1 = probes.cpu_ticks(), os.getloadavg()[0]
            env = {
                "commit": probes.git_commit(self.root),
                "seed": self.seed,
                "nproc": self.cpus,
                "driver_mem": self.driver_mem,
                **probes.versions(self.spark),
                "steal_pct": probes.steal_pct(ticks0, ticks1),
                "setup_steal_pct": setup_steal,
                "first_pass_steal_pct": self.passes[0]["steal_pct"],
                "loadavg_start": load0,
                "loadavg_end": load1,
                "datagen_s": datagen_s,
                "peak_jvm_rss_mb": peak_jvm,
                "peak_worker_rss_mb": peak_workers,
            }
        finally:
            rss.close()
            t = time.time()
            self._shutdown()
            log(f"# shutdown: {time.time() - t:.3f}s")
        t = time.time()
        self._check()
        log(f"# check: {time.time() - t:.3f}s")
        env["run_wall_s"] = time.time() - self.t0
        return self._report(setup_s, env)

    def _shutdown(self) -> None:
        """Stop the session and the gateway JVM, and wait for every
        process this run started (JVM, Python workers) to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as e:
                log(f"# spark.stop: {e}")
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception as e:
                log(f"# gateway shutdown: {e}")
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        me = os.getpid()
        while probes.descendants(me) and time.time() < deadline:
            time.sleep(0.1)
        for pid in probes.descendants(me):
            try:
                os.kill(pid, 9)
            except OSError:
                pass

    def _check(self) -> None:
        import __spark_entry__ as entry

        sqls = entry.oracle_sql()
        cache = oracle.OracleCache(self.scratch.data, self.scratch.oracle_cache)
        try:
            for name, _ in self.slots:
                if name in self.failed or name not in self.digests:
                    continue
                want = cache.digest(sqls[name])
                if want != self.digests[name]:
                    log(f"# op {name} wrong output: {self.digests[name]} != oracle {want}")
                    self.failed.append(name)
        finally:
            cache.close()

    # -- report --------------------------------------------------------
    def _report(self, setup_s: float, env: dict) -> dict:
        steady = [p for p in self.passes if p["kind"] == "steady"]
        untraced = [p for p in steady if not p["traced"]]
        traced = [p for p in steady if p["traced"]]
        per_op: dict[str, list[float]] = {}
        for p in untraced or steady:
            for o in p["ops"]:
                if o["ok"]:
                    per_op.setdefault(o["op"], []).append(o["latency_s"])
        op_medians = [median(v) for v in per_op.values()]
        wall = {
            "wall.first_pass_s": self.passes[0]["pass_s"],
            "wall.pass_s": median([p["pass_s"] for p in untraced or steady]),
            "wall.op_geomean_s": math.exp(
                sum(math.log(max(v, 1e-9)) for v in op_medians) / max(1, len(op_medians))
            ),
        }
        e2e = {
            "setup_s": setup_s,
            "first_pass_cpu_s": self.passes[0]["cpu_s"],
            "pass_cpu_s": median([p["cpu_s"] for p in untraced or steady]),
        }
        failed = len(self.failed)
        record = {
            "env": env,
            "end_to_end": e2e,
            "wall": wall,
            "attempted": self.attempted,
            "failed": failed,
            "fail_frac": failed / max(1, self.attempted),
            "failed_ops": sorted(set(self.failed)),
            "passes": [
                {**p, "ops": [{k: v for k, v in o.items() if k != "job_intervals"} for o in p["ops"]]}
                for p in self.passes
            ],
        }
        if self.trace:
            record["per_layer"] = {
                **wall,
                **self._per_layer(traced, untraced),
                "jvm.peak_rss_mb": env["peak_jvm_rss_mb"],
                "pyworker.peak_rss_mb": env["peak_worker_rss_mb"],
                "host.steal_pct": env["steal_pct"] or 0.0,
            }
            record["attribution"] = self._attribution(traced)
        return record

    def _per_layer(self, traced: list[dict], untraced: list[dict]) -> dict:
        def per_pass(p):
            ops = p["ops"]
            s = lambda k: sum(o.get(k, 0.0) for o in ops)  # noqa: E731
            busy, cover = s("job_busy_s"), s("job_s")
            ingested, live = s("ingested_mb"), s("live_mb")
            return {
                "core.build_s": s("build_s"),
                "core.exec_s": s("exec_s"),
                "catalyst.plan_s": s("plan_s"),
                "catalyst.executions": s("executions"),
                "scheduler.jobs": s("jobs"),
                "scheduler.tasks": s("tasks"),
                "scheduler.job_s": cover,
                "scheduler.concurrency": busy / cover if cover else 0.0,
                "driver.gap_s": s("gap_s"),
                "pyworker.run_s": s("py_run_s"),
                "pyworker.init_s": s("py_init_s"),
                "pyworker.mb_sent": s("py_mb_sent"),
                "pyworker.mb_recv": s("py_mb_recv"),
                "jvm.gc_s": s("gc_s"),
                "mutation.calls": s("mutation_calls"),
                "mutation.s": s("mutation_s"),
                "mutation.mb_written": s("written_mb"),
                "mutation.files_written": s("files_written"),
                # bytes written under the scratch dir per byte of the first
                # committed version of the stores created; bytes on disk in
                # those stores per byte of their latest version
                "mutation.write_amp": s("written_mb") / ingested if ingested else 0.0,
                "mutation.space_amp": s("disk_mb") / live if live else 0.0,
                "streaming.queries": s("stream_queries"),
                "streaming.batches": s("stream_batches"),
                "streaming.batch_s": s("stream_batch_s"),
                "operators.overlap_s": s("overlap_s"),
                "operators.checkpoints": s("checkpoints"),
                "operators.local_rows_calls": s("local_rows_calls"),
                "lifetime.resident_rdds": s("resident_rdds"),
                "lifetime.resident_mb": s("resident_mb"),
                "lifetime.quiesce_s": s("quiesce_s"),
            }

        rows = [per_pass(p) for p in traced]
        out = {k: median([r[k] for r in rows]) for k in rows[0]}
        t_pass = median([p["pass_s"] for p in traced])
        u_pass = median([p["pass_s"] for p in untraced])
        out["trace.overhead_frac"] = t_pass / u_pass - 1.0 if u_pass else 0.0
        return out

    def _attribution(self, traced: list[dict]) -> dict:
        """Per op: median over traced steady passes of wall time and of
        self time per layer."""
        out: dict[str, dict] = {}
        by_op: dict[str, list[dict]] = {}
        for p in traced:
            for o in p["ops"]:
                by_op.setdefault(o["op"], []).append(o)
        for name, recs in by_op.items():
            layers = sorted({k for r in recs for k in r.get("self_s", {})})
            out[name] = {
                "wall_s": median([r["wall_s"] for r in recs]),
                "jobs": median([r["jobs"] for r in recs]),
                "self_s": {
                    k: median([r.get("self_s", {}).get(k, 0.0) for r in recs])
                    for k in layers
                },
            }
        return out


def resolve_slots(names: list[str]) -> list[tuple[str, object]]:
    import __spark_entry__ as entry

    queries = entry.queries()
    by_prefix = {q.split("_", 1)[0]: (q, fn) for q, fn in queries.items()}
    return [by_prefix[n] for n in names]


def result_line(rec: dict, trace: bool) -> dict:
    """The stdout result: end-to-end metrics, or per-layer ones when traced."""
    wanted = PER_LAYER if trace else END_TO_END
    values = rec["per_layer"] if trace else rec["end_to_end"]
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in wanted.items()},
    }


def summarize(rec: dict, metrics: dict) -> None:
    log("# env " + json.dumps(rec["env"]))
    log(f"# fail_frac {rec['fail_frac']:.4f} ({rec['failed']}/{rec['attempted']}) {rec['failed_ops']}")
    log("# wall " + " ".join(f"{k}={v:.4g}" for k, v in rec["wall"].items()))
    for name, m in metrics.items():
        log(f"# {name} = {m['value']:.6g} {m['unit']}")
    for op, a in sorted(rec.get("attribution", {}).items()):
        parts = " ".join(f"{k}={v:.3f}" for k, v in sorted(a["self_s"].items(), key=lambda kv: -kv[1]))
        log(f"# self {op}: wall={a['wall_s']:.3f}s jobs={a['jobs']:g} {parts}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "__spark_entry__.py").is_file() or not (root / "sea_serpent_spark").is_dir():
        log("perfbench: run from the repository root (no sea_serpent_spark package here)")
        return 2
    # keep fd 1 for the result line; the JVM and everything else print to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    spec = WORKLOADS[args.workload]
    bench = Bench(root, spec["slots"], args.seed, args.seconds, bool(args.trace),
                  nominal_pass_s=spec["pass_s"])
    try:
        rec = bench.run()
    finally:
        bench.scratch.clear()
    rec["workload"] = args.workload
    result = result_line(rec, bool(args.trace))
    summarize(rec, result["metrics"])
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (bench.scratch.out / f"{stem}.json").write_text(json.dumps(rec, indent=1, default=str))
    if args.trace:
        (bench.scratch.out / f"{stem}-spans.json").write_text(json.dumps(bench.tracer.spans))
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
