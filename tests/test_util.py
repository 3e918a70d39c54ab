"""``operators.util`` contracts: ``local_rows_df`` accepts the same rows
and returns the same frame on both sides of its cell cap, no module
flips a session-global conf outside the places that own one, and no
module cuts a lineage outside the lifetime registry."""

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


def _conf_writes(tree):
    """→ [(function name, line)] of every ``<...>conf.set/unset(...)``."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("set", "unset")
            ):
                recv = child.func.value
                if isinstance(recv, ast.Call):  # jsession.conf().set
                    recv = recv.func
                if (
                    isinstance(recv, ast.Attribute) and recv.attr == "conf"
                ) or (isinstance(recv, ast.Name) and recv.id == "conf"):
                    out.append((name, child.lineno))
            visit(child, name)

    visit(tree, None)
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
