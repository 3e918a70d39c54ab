"""Self-test of the benchmark on a small input (the frozen data's sf0.001
row counts). Run from the repository root::

    python3 perfbench/selftest.py

It makes one traced run over q01, q47 and an op that always raises, with
three steady passes (traced, untraced, traced), and checks that:

- every metric ``BENCHMARK.json`` names is printed with its unit;
- the Catalyst listener, the job probe and the mutation wrappers record
  something;
- each traced op's Spark job intervals fall inside its op span;
- ``scheduler.jobs`` of q01 repeats exactly across the two traced
  steady passes;
- the injected failing op shows up in ``fail_frac``.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import run  # noqa: E402

SLOT = "q01"
INJECTED = "q00_injected_failure"


def injected_failure(spark, data_dir):
    raise RuntimeError("injected failure")


def main() -> int:
    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    bench = run.Bench(
        root, [SLOT, "q47"], seed=7, seconds=0, trace=True, scale=0.1,
        min_steady=3, extra_ops=[(INJECTED, injected_failure)],
    )
    try:
        rec = bench.run()
    finally:
        bench.scratch.clear()
    problems = []

    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        printed = run.result_line(rec, trace)["metrics"]
        for m in spec[key]:
            got = printed.get(m["name"])
            if got is None or got["unit"] != m["unit"] or not math.isfinite(got["value"]):
                problems.append(f"metric {m['name']}: printed {got}, want unit {m['unit']}")

    for name in ("catalyst.executions", "scheduler.jobs", "mutation.calls"):
        if not rec["per_layer"][name] > 0:
            problems.append(f"{name} recorded nothing: {rec['per_layer'][name]}")

    traced = [p for p in bench.passes if p["traced"]]
    for p in traced:
        for o in p["ops"]:
            lo, hi = o["span"]
            for s, e in o["job_intervals"]:
                # job times are whole milliseconds
                if s < lo - 0.002 or e > hi + 0.002:
                    problems.append(
                        f"pass {p['index']} {o['op']}: job [{s}, {e}] outside op [{lo}, {hi}]"
                    )

    steady_jobs = [
        o["jobs"] for p in traced if p["kind"] == "steady"
        for o in p["ops"] if o["op"].startswith(SLOT)
    ]
    if len(steady_jobs) != 2 or steady_jobs[0] != steady_jobs[1] or steady_jobs[0] < 1:
        problems.append(f"{SLOT} scheduler.jobs across traced steady passes: {steady_jobs}")

    if INJECTED not in rec["failed_ops"] or not rec["fail_frac"] > 0:
        problems.append(f"injected failure missing: fail_frac={rec['fail_frac']} {rec['failed_ops']}")
    if set(rec["failed_ops"]) != {INJECTED}:
        problems.append(f"unexpected failures: {rec['failed_ops']}")

    for msg in problems:
        print(f"FAIL {msg}")
    print("selftest " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
