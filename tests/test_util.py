"""``operators.util`` contracts: ``local_rows_df`` accepts the same rows
and returns the same frame on both sides of its cell cap, no module
flips a session-global conf outside the places that own one, no
module cuts a lineage outside the lifetime registry or gates a size
outside ``take_upto``, group members are expanded in one place, and a
repeated plan or bounded take compiles no new codegen class."""

import ast
import datetime
import pathlib

import pytest

from sea_serpent_spark.operators import util

PKG = pathlib.Path(util.__file__).resolve().parents[1]

#: (module path relative to the package, enclosing function) of every
#: conf write allowed to touch a session: the posture helper writes only
#: its own clone, ``ensure_nanos_readable`` sets one session-level read
#: flag, and ``start_to_memory`` clamps the shuffle width that Spark
#: snapshots into the query it starts.
_CONF_WRITERS = {
    ("operators/util.py", "posture"),
    ("workload.py", "ensure_nanos_readable"),
    ("streaming/events.py", "start_to_memory"),
}


def _calls(tree):
    """→ [(enclosing function name, call node)] of every call."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if isinstance(child, ast.Call):
                out.append((name, child))
            visit(child, name)

    visit(tree, None)
    return out


def _is_method(call, name: str) -> bool:
    return isinstance(call.func, ast.Attribute) and call.func.attr == name


def _conf_writes(tree):
    """→ [(function name, line)] of every ``<...>conf.set/unset(...)``."""
    out = []
    for fn, call in _calls(tree):
        if _is_method(call, "set") or _is_method(call, "unset"):
            recv = call.func.value
            if isinstance(recv, ast.Call):  # jsession.conf().set
                recv = recv.func
            if (
                isinstance(recv, ast.Attribute) and recv.attr == "conf"
            ) or (isinstance(recv, ast.Name) and recv.id == "conf"):
                out.append((fn, call.lineno))
    return out


def test_no_session_global_conf_flips():
    found = set()
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn, line in _conf_writes(ast.parse(path.read_text())):
            if (rel, fn) in _CONF_WRITERS:
                found.add((rel, fn))
            else:
                stray.append(f"{rel}:{line} in {fn}")
    assert not stray, "session conf written outside util.posture: " + ", ".join(
        stray
    )
    assert found == _CONF_WRITERS  # the scan still sees the allowed ones


def test_size_gates_go_through_take_upto():
    """Every "small enough to finish on the driver?" decision is one
    ``util.take_upto``: no other ``.take(`` passes a cap (an existence
    probe's literal ``take(1)`` is not a gate), and no ``.limit(n)``
    feeds a ``.count()``. The JPEG decoder's bit reader (``bits.take``)
    is not a DataFrame."""
    gates, stray = [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn, call in _calls(ast.parse(path.read_text())):
            where = f"{rel}:{call.lineno} in {fn}"
            if _is_method(call, "take"):
                arg = call.args[0] if call.args else None
                recv = call.func.value
                if (rel, fn) == ("operators/util.py", "take_upto"):
                    gates.append(where)
                elif isinstance(arg, ast.Constant) and arg.value == 1:
                    pass
                elif rel == "operators/multimodal.py" and isinstance(
                    recv, ast.Name
                ) and recv.id == "bits":
                    pass
                else:
                    stray.append(where)
            elif (
                _is_method(call, "count")
                and isinstance(call.func.value, ast.Call)
                and _is_method(call.func.value, "limit")
            ):
                stray.append(where)
    assert not stray, "size gate outside util.take_upto: " + ", ".join(stray)
    assert len(gates) == 1, gates  # the scan still sees the one gate


def test_member_expansion_lives_in_one_helper():
    """Rep-level edges become member edges in ``dedup._expand_groups``
    only: no other function explodes a ``members`` list or orders an
    expanded ``m_a``/``m_b`` pair."""
    sites = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn, call in _calls(ast.parse(path.read_text())):
            name = getattr(call.func, "attr", getattr(call.func, "id", None))
            first = call.args[0] if call.args else None
            if (name, getattr(first, "value", None)) in (
                ("explode", "members"), ("least", "m_a"),
            ):
                sites.add((rel, fn))
    assert sites == {("operators/dedup.py", "_expand_groups")}


def test_local_checkpoints_go_through_lifetime():
    """Every lineage cut is a ``tracked_checkpoint``: a bare
    ``.localCheckpoint(`` call leaves blocks no release or sweep can
    reach, freed only by JVM GC."""
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "operators/lifetime.py":
            continue
        stray += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(ast.parse(path.read_text()))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "localCheckpoint"
        ]
    assert not stray, "localCheckpoint outside operators/lifetime.py: " + (
        ", ".join(stray)
    )


_SCHEMA = "k long, v double, d date, xs array<double>"


def _rows(n: int, with_date: bool):
    day = datetime.date(2024, 2, 28)
    return [
        (
            i,
            i if i % 2 else i + 0.5,  # ints in a double column
            day + datetime.timedelta(days=i) if with_date else None,
            [i, 1.25],
        )
        for i in range(n)
    ]


@pytest.mark.parametrize("with_date", [False, True])
def test_local_rows_df_same_frame_across_cap(spark, monkeypatch, with_date):
    rows = _rows(12, with_date)
    cells = 12 * 5  # four columns, the array counting two
    outs = []
    for cap in (cells + 1, cells - 1):  # rows below the cap, then above
        monkeypatch.setattr(util, "_LOCAL_ROWS_CELL_CAP", cap)
        df = util.local_rows_df(spark, rows, _SCHEMA)
        outs.append((df.schema, sorted(df.collect())))
    assert outs[0] == outs[1]
    got = outs[0][1]
    assert [r["v"] for r in got[:3]] == [0.5, 1.0, 2.5]
    assert all(isinstance(r["v"], float) for r in got)
    assert got[0]["xs"] == [0.0, 1.25]
    if with_date:
        assert got[1]["d"] == datetime.date(2024, 2, 29)


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (a codegen-cache hit does not
    count)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeat_plan_hits_codegen_cache(spark):
    """The session's codegen cache holds more than Spark's default 100
    classes, so a plan repeated after 120 others compiles nothing."""

    def run(i):
        return spark.range(8).selectExpr(f"id + {i} AS v").collect()

    first = run(0)
    for i in range(1, 121):  # each inlines its literal: a new class
        run(i)
    before = _compiles(spark)
    assert run(0) == first
    assert _compiles(spark) - before == 0


def test_stage_code_compiles_once_under_two_stage_ids(spark):
    """The codegen stage id is not part of the generated source: a
    stage compiled as stage 1 is a cache hit when the next plan numbers
    the same code stage 2 (a union's second child)."""
    a = spark.range(10).selectExpr("id + 9187 AS x")
    b = spark.range(10).selectExpr("id * 9187 AS x")
    a.collect()  # a's code is codegen stage 1
    before = _compiles(spark)
    spark.range(10).selectExpr("id - 9187 AS x").collect()
    one_stage = _compiles(spark) - before
    assert one_stage > 0
    before = _compiles(spark)
    assert len(b.union(a).collect()) == 20  # b is stage 1, a stage 2
    assert _compiles(spark) - before == one_stage  # b's stage only


def test_repeat_take_compiles_nothing(spark):
    """A bounded take over a union, repeated, generates the same source:
    ``ONE_SHOT_TAKE`` keeps ``LimitPushDown`` from adding per-branch
    limits, whose counter names come from a JVM-global sequence."""
    a = spark.range(100).selectExpr("id", "id * 2 AS v")
    b = spark.range(50).selectExpr("id", "id * 3 AS v")

    def take():
        return util.posture(a.unionByName(b), util.ONE_SHOT_TAKE).take(10)

    first = take()
    before = _compiles(spark)
    assert take() == first
    assert _compiles(spark) - before == 0


def test_posture_appends_to_session_excluded_rules(spark):
    held = "org.apache.spark.sql.catalyst.optimizer.ConstantFolding"
    session = spark.newSession()
    session.conf.set(util.EXCLUDED_RULES, held)
    df = util.posture(session.range(3), util.ONE_SHOT_TAKE)
    assert df.sparkSession.conf.get(util.EXCLUDED_RULES) == (
        held + "," + util.ONE_SHOT_TAKE[util.EXCLUDED_RULES]
    )
    assert session.conf.get(util.EXCLUDED_RULES) == held
    assert df.collect() == session.range(3).collect()


_FIRST_PLAN_ON_A_THREAD = """
import threading
from sea_serpent_spark.session import get_spark
spark = get_spark(app_name="codegen-cache-init", shuffle_partitions=2)
df = spark.range(8).selectExpr("id + 1000 AS v")
t = threading.Thread(target=lambda: df.rdd.getNumPartitions())
t.start()
t.join()
metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
run = lambda i: spark.range(8).selectExpr(f"id + {i} AS v").collect()
for i in range(121):
    run(i)
before = metrics.METRIC_COMPILATION_TIME().getCount()
run(0)
print("repeat compiles", metrics.METRIC_COMPILATION_TIME().getCount() - before)
"""


def test_codegen_cache_sized_when_first_plan_runs_on_a_thread():
    """``get_spark`` sizes the JVM's codegen cache itself: a first plan
    on a thread with no active session (here ``df.rdd``, as in an
    overlap_build chain) would otherwise size it from Spark's defaults
    for the life of the JVM."""
    import os
    import subprocess
    import sys

    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _FIRST_PLAN_ON_A_THREAD],
        cwd=PKG.parent, env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "repeat compiles 0" in out.stdout
