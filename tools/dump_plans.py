"""Dump ``explain("formatted")`` for declared queries to text files.

Usage::

    python tools/dump_plans.py <out_dir> [sf_dir] [query ...]

Writes ``<out_dir>/<query>.txt`` for each requested query (default:
every ``queries()`` entry). Building a mutation/streaming query runs
its driver-side setup (managed-store copies, stream drains) — the dump
therefore reflects the plan of the RETURNED DataFrame, which is what
bench.py's noop write executes.

The dumps are normalized so that two trees' dumps diff line by line and
two runs of one tree diff empty: expression ids (``#123L``), exchange
and broadcast plan ids (``[plan_id=7]``), RDD ids (``RDD[42]``) and
whole-stage codegen ids (``[codegen id : 3]``) and lambda variable
suffixes (``lambda x_12``) become ``N``. They count objects the session
made earlier, not the plan's shape.
"""

from __future__ import annotations

import os
import re
import sys
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_VOLATILE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    # higher-order-function variables draw from one JVM-wide counter,
    # which plans built on concurrent threads advance in any order
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+"), r"\1_N"),
]


def normalize(plan: str) -> str:
    """``plan`` with every session-counter id replaced by ``N``."""
    for pat, rep in _VOLATILE:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    out_dir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    from sea_serpent_spark.session import get_spark

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if names:
        qs = {n: qs[n] for n in names}
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name, fn in qs.items():
        path = os.path.join(out_dir, f"{name}.txt")
        try:
            df = fn(spark, sf_dir)
            txt = normalize(df._jdf.queryExecution().explainString(mode))
        except Exception:
            txt = "ERROR building plan:\n" + traceback.format_exc()
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)", file=sys.stderr)


if __name__ == "__main__":
    main()
