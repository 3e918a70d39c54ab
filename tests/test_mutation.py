"""Mutation surface tests — reproduce the reference README walkthrough
(README.md:85-224, the de-facto test suite per SURVEY §5) on the versioned
store."""

import warnings

import pandas as pd
import pytest

from sea_serpent_spark import Base


@pytest.fixture()
def base(spark, tmp_path):
    return Base(str(tmp_path / "wh"), spark, user="tester")


@pytest.fixture()
def mytable(base):
    """F1 `mytable` fixture (FIXTURES.md): column1 1..10, labels A..J,
    checked all-NULL."""
    pdf = pd.DataFrame(
        {
            "column1": range(1, 11),
            "labels": [chr(65 + i) for i in range(10)],
        }
    )
    t = base.from_frame(pdf, "mytable")
    t.add_column("checked", "checkbox")
    return base.table("mytable")


def test_from_frame_types_and_ids(mytable):
    assert mytable.columns == ["_id", "_seq", "column1", "labels", "checked"]
    pdf = mytable.to_frame()
    assert pdf.index.name == "row_id"
    assert len(pdf) == 10
    assert pdf["checked"].isna().all()


def test_head(mytable):
    pdf = mytable.head(3)
    assert pdf["column1"].tolist() == [1, 2, 3]


def test_filter_read(mytable):
    pdf = mytable.loc[mytable.column1 >= 7, ["column1", "labels"]].to_frame(
        row_id_index=False
    )
    assert sorted(pdf["column1"]) == [7, 8, 9, 10]


def test_scalar_column_assignment(base, mytable):
    mytable["checked"] = False
    pdf = mytable.to_frame()
    assert (pdf["checked"] == False).all()  # noqa: E712
    assert len(base.history("mytable")) == 3  # from_frame, add_column, set


def test_list_column_assignment(mytable):
    vals = [bool(i % 2) for i in range(10)]
    mytable["checked"] = vals
    pdf = mytable.to_frame().sort_values("_seq")
    assert pdf["checked"].tolist() == vals


def test_predicate_write(mytable):
    mytable.loc[mytable.labels == "C", "checked"] = True
    pdf = mytable.to_frame().sort_values("_seq")
    assert pdf.loc[pdf["labels"] == "C", "checked"].tolist() == [True]
    assert pdf.loc[pdf["labels"] != "C", "checked"].isna().all()


def test_rowid_write(mytable):
    ids = mytable.to_frame().index.tolist()
    mytable.loc[ids[0], "labels"] = "ZZ"
    pdf = mytable.to_frame()
    assert pdf.loc[ids[0], "labels"] == "ZZ"


def test_mask_write(mytable):
    mask = [i < 5 for i in range(10)]
    mytable.loc[mask, "checked"] = True
    pdf = mytable.to_frame().sort_values("_seq")
    assert pdf["checked"].tolist()[:5] == [True] * 5
    assert pdf["checked"].isna().tolist()[5:] == [True] * 5


def test_update_diff_write_oplog(mytable):
    mytable["checked"] = False
    before = mytable.fetch_logs().count()
    vals = [False] * 9 + [True]  # only one changed cell
    mytable.checked.update(vals)
    logs = mytable.fetch_logs()
    assert logs.count() - before == 1
    row = logs.orderBy(logs.op_id.desc()).limit(1).collect()[0]
    assert row["column"] == "checked"
    assert row["old_value"] == "false" and row["new_value"] == "true"


def test_clear_column(mytable):
    mytable["checked"] = True
    mytable.checked.clear()
    assert mytable.to_frame()["checked"].isna().all()


def test_delete_rows_by_position(mytable):
    mytable.delete_rows([0, 1])
    pdf = mytable.to_frame().sort_values("_seq")
    assert len(pdf) == 8
    assert pdf["column1"].tolist() == list(range(3, 11))


def test_delete_rows_by_filter(mytable):
    mytable.delete_rows(mytable.column1 > 8)
    assert len(mytable) == 8


def test_delete_rows_confirmation_refused(mytable, monkeypatch):
    """Reference parity: delete_rows prompts by default (base.py:919-927)
    with the RESOLVED row count; answering 'n' deletes nothing. The
    prompt is tty-gated, so the test fakes an interactive stdin."""
    import sea_serpent_spark.core.table as table_mod

    monkeypatch.setattr(table_mod, "_stdin_isatty", lambda: True)
    prompts = []

    def fake_input(msg):
        prompts.append(msg)
        return "n"

    monkeypatch.setattr("builtins.input", fake_input)
    mytable.delete_rows(mytable.column1 > 8)
    assert len(mytable) == 10  # refused → nothing deleted
    assert "Delete 2 rows" in prompts[0]

    monkeypatch.setattr("builtins.input", lambda msg: "y")
    mytable.delete_rows(mytable.column1 > 8)
    assert len(mytable) == 8

    # headless (non-tty) path proceeds without prompting
    monkeypatch.setattr(table_mod, "_stdin_isatty", lambda: False)
    mytable.delete_rows([0])
    assert len(mytable) == 7


def test_delete_table_confirmation_refused(base, mytable, monkeypatch):
    import sea_serpent_spark.core.table as table_mod

    monkeypatch.setattr(table_mod, "_stdin_isatty", lambda: True)
    monkeypatch.setattr("builtins.input", lambda msg: "n")
    mytable.delete()
    assert "mytable" in base
    monkeypatch.setattr("builtins.input", lambda msg: "y")
    mytable.delete()
    assert "mytable" not in base


def test_append_intersecting_columns(base, mytable):
    extra = pd.DataFrame({"column1": [100, 200], "other": ["x", "y"]})
    mytable.append(extra)
    pdf = mytable.to_frame().sort_values("_seq")
    assert len(pdf) == 12
    assert pdf["column1"].tolist()[-2:] == [100, 200]
    assert pdf["labels"].isna().tolist()[-2:] == [True, True]
    # _ids stay unique
    assert pdf.index.is_unique


def test_append_pandas_matches_distributed(base, mytable, spark):
    """r14: a pandas append stamps _seq/_id on the driver (no persist +
    partition-count collect); the result must be bit-identical to
    appending the same rows as a Spark DataFrame through _with_seq."""
    extra = pd.DataFrame({"column1": [100, 200], "other": ["x", "y"]})
    t2 = mytable.copy("mytable_dist")
    mytable.append(extra)  # pandas fast path
    t2.append(spark.createDataFrame(extra))  # distributed path
    a = base.table("mytable").to_frame().sort_values("_seq")
    b = base.table("mytable_dist").to_frame().sort_values("_seq")
    assert a.index.tolist() == b.index.tolist()  # _id parity
    for c in ("_seq", "column1", "labels"):
        assert a[c].tolist() == b[c].tolist(), c


def test_add_rename_drop_column(base, mytable):
    mytable.add_column("score", "number")
    assert "score" in mytable.columns
    assert base.meta("mytable")["columns"]["score"]["type"] == "number"
    mytable.rename_column("score", "points")
    assert "points" in mytable.columns and "score" not in mytable.columns
    mytable.drop_column("points")
    assert "points" not in mytable.columns


def test_duplicate_column_rejected(mytable):
    with pytest.raises(ValueError):
        mytable.add_column("labels", "text")


def test_select_option_registry_warns_and_extends(base):
    pdf = pd.DataFrame({"cat": pd.Categorical(["red", "green", "red"])})
    t = base.from_frame(pdf, "seltable")
    assert base.meta("seltable")["columns"]["cat"]["options"] == ["green", "red"]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        t.loc[t.cat == "green", "cat"] = "blue"
    assert any("blue" in str(x.message) for x in w)
    assert "blue" in base.meta("seltable")["columns"]["cat"]["options"]


def test_type_validation_rejects_bad_write(mytable):
    with pytest.raises(TypeError):
        mytable["column1"] = "not a number"
    with pytest.raises(ValueError):
        mytable["column1"] = float("inf")


def test_bundle_edits_single_commit(base, mytable):
    n0 = len(base.history("mytable"))
    with mytable.bundle():
        mytable.loc[mytable.labels == "A", "checked"] = True
        mytable.loc[mytable.labels == "B", "checked"] = True
        mytable["column1"] = list(range(11, 21))
    hist = base.history("mytable")
    assert len(hist) == n0 + 1
    assert hist[-1]["op"] == "bundle"
    pdf = mytable.to_frame().sort_values("_seq")
    assert pdf["column1"].tolist() == list(range(11, 21))
    assert pdf.loc[pdf["labels"].isin(["A", "B"]), "checked"].all()


def test_time_travel(base, mytable):
    mytable["checked"] = True
    v_before = base._current_version("mytable")
    mytable.loc[mytable.column1 <= 5, "labels"] = "LOW"
    old = base.table("mytable", version=v_before)
    assert (old.to_frame()["labels"] != "LOW").all()
    new = base.table("mytable")
    assert (new.to_frame()["labels"] == "LOW").sum() == 5
    # pinned versions are read-only
    with pytest.raises(PermissionError):
        old["checked"] = False


def test_read_only_guard(base, mytable):
    ro = base.table("mytable", read_only=True)
    with pytest.raises(PermissionError):
        ro["checked"] = True


def test_row_logs(mytable):
    ids = mytable.to_frame().index.tolist()
    mytable.loc[ids[3], "labels"] = "Q"
    logs = mytable.fetch_row_logs(ids[3]).collect()
    assert len(logs) == 1 and logs[0]["new_value"] == "Q"


def test_drop_table(base, mytable):
    assert "mytable" in base
    base.drop_table("mytable")
    assert "mytable" not in base


def test_column_meta_ops(base, mytable):
    """resize/freeze/unfreeze/add_options (base.py:2106-2156, 2222-2258)."""
    mytable.labels.resize(120)
    mytable.labels.freeze()
    meta = base.meta("mytable")["columns"]["labels"]
    assert meta["width"] == 120 and meta["frozen"] is True
    mytable.labels.unfreeze()
    assert base.meta("mytable")["columns"]["labels"]["frozen"] is False
    # add_options is select-only
    with pytest.raises(TypeError):
        mytable.labels.add_options(["X"])
    mytable.add_column("status", "single-select", col_options=["open"])
    t = base.table("mytable")
    t.status.add_options(["closed", "open"])
    assert base.meta("mytable")["columns"]["status"]["options"] == [
        "closed",
        "open",
    ]


def test_row_ids_dir_array(mytable):
    """Table.row_ids / __dir__ / __array__ (base.py:327, 181-186)."""
    import numpy as np

    assert list(mytable.row_ids) == [f"r{i:08d}" for i in range(10)]
    assert "column1" in dir(mytable) and "labels" in dir(mytable)
    arr = np.array(mytable)
    assert arr.shape[0] == 10


def test_column_key_stable_across_rename(base, mytable):
    """Column.key (base.py:1795-1805): distinct from the name, survives
    renames."""
    k = mytable.labels.key
    assert k.startswith("c") and k != "labels"
    mytable.rename_column("labels", "tags")
    t = base.table("mytable")
    assert t.tags.key == k
    # keys are unique per table
    keys = [
        m["key"] for m in base.meta("mytable")["columns"].values()
    ]
    assert len(set(keys)) == len(keys)


def test_column_options_property(base, mytable):
    """Column.options (base.py:1824-1828): select-only, typed error."""
    mytable.add_column("status", "single-select", col_options=["open", "done"])
    t = base.table("mytable")
    assert t.status.options == ["open", "done"]
    with pytest.raises(TypeError):
        _ = t.column1.options


def test_fetch_logs_params(base, mytable):
    """fetch_logs(max_entries / unpack) (base.py:1037-1213)."""
    mytable["checked"] = False          # op: 10 cell edits
    vals = [False] * 9 + [True]
    mytable.checked.update(vals)        # op: 1 cell edit
    # unpacked (default): cell-level rows
    all_logs = mytable.fetch_logs(max_entries=None)
    assert all_logs.count() == 11
    # entry limit counts operations, not cells → newest op only
    last_op = mytable.fetch_logs(max_entries=1)
    assert last_op.count() == 1
    # packed: one row per op with rows_modified
    ops = mytable.fetch_logs(max_entries=None, unpack=False)
    rows = {r["op_id"]: r for r in ops.collect()}
    assert len(rows) == 2
    assert sorted(r["rows_modified"] for r in rows.values()) == [1, 10]
    assert all(r["columns"] == ["checked"] for r in rows.values())


def test_time_machine_columns_subset(base, mytable):
    """time_machine(date, columns=) (base.py:973-1000)."""
    import datetime as dt

    mytable["checked"] = True
    future = dt.datetime.now(dt.timezone.utc) + dt.timedelta(seconds=1)
    old = base.table("mytable").time_machine(future, columns=["column1"])
    assert old.columns == ["_id", "_seq", "column1"]


def test_table_delete(base, mytable):
    """Table.delete (base.py:942-971) — drop from the handle."""
    mytable.delete(skip_confirmation=True)
    assert "mytable" not in base


def test_from_df_distributed_ingest(base, spark, sf_dir):
    """Base.from_df: distributed ingest, no pandas round-trip; _seq is
    parquet file order, so positional ops match the from_frame path."""
    sdf = spark.read.parquet(f"{sf_dir}/nation.parquet")
    t = base.from_df(sdf, "nation_d")
    assert t.columns[:2] == ["_id", "_seq"]
    pdf = t.to_frame()
    assert len(pdf) == sdf.count()
    assert pdf["_seq"].tolist() == list(range(len(pdf)))
    assert pdf.index.is_unique
    # inferred meta from the Spark schema
    assert base.meta("nation_d")["columns"]["n_name"]["type"] == "text"
    assert base.meta("nation_d")["columns"]["n_nationkey"]["type"] == "number0"
    # same row order as the parquet file
    assert (
        pdf.sort_values("_seq")["n_nationkey"].tolist()
        == sdf.select("n_nationkey").toPandas()["n_nationkey"].tolist()
    )


def test_cow_commit_rewrites_only_touched_buckets(base, spark, sf_dir):
    """File-granular copy-on-write: a 1-row mutation rewrites exactly the
    bucket owning that row; every other bucket file is reused by
    reference in the new version's manifest (r1 verdict §6/§7)."""
    # explicit buckets=16: the sized default gives this small table ONE
    # bucket; the COW reuse invariant needs a multi-bucket layout
    t = base.from_df(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "orders_cow",
        buckets=16,
    )
    m0 = base._manifest("orders_cow", 0)
    assert m0 and len(m0) > 1  # multiple buckets populated
    rid = str(t.row_ids[0])
    t.loc[rid, "o_orderpriority"] = "X-TEST"
    m1 = base._manifest("orders_cow", 1)
    changed = {b for b in m1 if m1[b] != m0.get(b)}
    assert len(changed) == 1
    reused = {b for b in m1 if m1[b] == m0.get(b)}
    assert len(reused) == len(m0) - 1
    # the mutation is visible; time travel to v0 is exact
    cur = base.table("orders_cow")
    assert cur.df.where("o_orderpriority = 'X-TEST'").count() == 1
    old = base.table("orders_cow", version=0)
    assert old.df.where("o_orderpriority = 'X-TEST'").count() == 0
    # appends add files without rewriting any existing bucket file
    import pandas as pd

    t = base.table("orders_cow")
    t.append(pd.DataFrame({"o_orderkey": [999999999]}))
    m2 = base._manifest("orders_cow", 2)
    assert all(set(m1[b]) <= set(m2.get(b, [])) for b in m1)
    assert sum(len(ps) for ps in m2.values()) == sum(
        len(ps) for ps in m1.values()
    ) + 1


def test_bucket_hash_portable(base, spark):
    """Driver-side _bucket_of matches the Spark-side _bucket_expr — the
    invariant behind point-lookup pruning (no Spark job to locate a
    row's bucket)."""
    import pyspark.sql.functions as F

    ids = [f"r{i:08d}" for i in range(50)] + ["abc", "zzz-42"]
    sdf = spark.createDataFrame([(i,) for i in ids], ["_id"])
    # unknown table → the base-default bucket count (16): exercises the
    # full-width hash spread
    got = {
        r["_id"]: r["b"]
        for r in sdf.select(
            "_id", base._bucket_expr("no_such_table").alias("b")
        ).collect()
    }
    for i in ids:
        assert base._bucket_of("no_such_table", i) == got[i], i
    assert len(set(got.values())) > 1  # ids actually spread


def test_bucket_count_sized_to_table(base, spark):
    """Tiny tables get ONE bucket (one file per commit, one write task) —
    the 16-near-empty-files-per-commit constant the round-2 bench
    flagged on nation-sized commits."""
    sdf = spark.createDataFrame([(i, f"n{i}") for i in range(25)], ["k", "v"])
    t = base.from_df(sdf, "tiny_sized")
    assert base._bcount("tiny_sized") == 1
    m = base._manifest("tiny_sized", 0)
    assert set(m.keys()) == {0} and len(m[0]) == 1
    # mutations keep using the recorded count
    t.loc[t.k < 5, "v"] = "small"
    m1 = base._manifest("tiny_sized", 1)
    assert set(m1.keys()) == {0}


def test_pruned_rewrite_scan(base, spark, sf_dir):
    """Cell edits record rewrite='pruned' — the commit re-read ONLY the
    touched bucket files, not the whole table (replay via the edit's
    changed-id set)."""
    t = base.from_df(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "orders_pr"
    )
    assert base.history("orders_pr")[-1]["detail"]["rewrite"] == "full"
    rid = str(t.row_ids[3])
    t.loc[rid, "o_orderpriority"] = "PRUNE-ME"  # row-id scalar write
    assert base.history("orders_pr")[-1]["detail"]["rewrite"] == "pruned"
    t = base.table("orders_pr")
    t.loc[t.o_orderkey <= 37, "o_orderstatus"] = "Q"  # predicate write
    assert base.history("orders_pr")[-1]["detail"]["rewrite"] == "pruned"
    t = base.table("orders_pr")
    t.delete_rows(t.o_orderkey == 37)  # predicate delete
    assert base.history("orders_pr")[-1]["detail"]["rewrite"] == "pruned"
    # values all landed correctly through the pruned replays
    cur = base.table("orders_pr")
    assert cur.df.where("o_orderpriority = 'PRUNE-ME'").count() == 1
    assert (
        cur.df.where("o_orderkey <= 37").where("o_orderstatus != 'Q'").count()
        == 0
    )
    assert cur.df.where("o_orderkey = 37").count() == 0


def test_bundle_flush_is_pruned(base, spark, sf_dir):
    """A bundle of pure cell edits flushes as ONE pruned commit, each
    edit replayed in order with its own change set."""
    t = base.from_df(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "orders_bp"
    )
    rid = str(t.row_ids[0])
    with t.bundle():
        t.loc[rid, "o_orderpriority"] = "B1"
        t.loc[rid, "o_orderstatus"] = "Z"
        t.loc[rid, "o_orderpriority"] = "B2"  # same column twice
    e = base.history("orders_bp")[-1]
    assert e["op"] == "bundle"
    assert e["detail"]["rewrite"] == "pruned"
    row = (
        base.table("orders_bp")
        .df.where(f"_id = '{rid}'")
        .select("o_orderpriority", "o_orderstatus")
        .collect()[0]
    )
    assert (row[0], row[1]) == ("B2", "Z")


def test_point_lookup_prunes_files(base, spark, sf_dir):
    """t.loc[row_id] opens only the owning bucket's files (read-side COW
    pruning), and still returns exactly that row."""
    # explicit buckets: the sized default gives this small table ONE
    # bucket, and pruning below a single file is unobservable
    t = base.from_df(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "orders_pl",
        buckets=16,
    )
    all_files = set(t.df.inputFiles())
    rid = str(t.row_ids[7])
    hit = t.loc[rid]
    hit_files = set(hit.df.inputFiles())
    assert hit_files and hit_files < all_files
    m = base._manifest("orders_pl", 0)
    assert len(hit_files) <= max(len(ps) for ps in m.values())
    pdf = hit.to_frame()
    assert list(pdf.index) == [rid]
    # id-list lookups prune to the union of owning buckets
    rids = [str(r) for r in t.row_ids[:3]]
    multi = t.loc[rids]
    assert set(multi.df.inputFiles()) < all_files
    assert multi.df.count() == 3


def test_compact_and_vacuum(base, spark, sf_dir):
    """OPTIMIZE/VACUUM analogues: compaction folds append-accumulated
    bucket files back to one per bucket; vacuum drops files only
    referenced by versions outside the retention window."""
    import os

    t = base.from_df(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "orders_cv"
    )
    t.append(pd.DataFrame({"o_orderkey": [111]}))
    t = base.table("orders_cv")
    t.append(pd.DataFrame({"o_orderkey": [222]}))
    m = base._manifest("orders_cv", 2)
    assert any(len(ps) > 1 for ps in m.values())
    n_before = base.table("orders_cv").df.count()
    base.compact("orders_cv")
    mc = base._manifest("orders_cv", 3)
    assert all(len(ps) == 1 for ps in mc.values())
    assert base.table("orders_cv").df.count() == n_before
    removed = base.vacuum("orders_cv", keep_versions=1)
    assert removed  # old commits' files dropped
    tdir = base._tdir("orders_cv")
    for ps in mc.values():  # retained files untouched
        for p in ps:
            assert os.path.isdir(os.path.join(tdir, p))
    assert base.table("orders_cv").df.count() == n_before


def test_loc_write_semijoin_selector(base, mytable):
    """isin(online=False) selector in a write — broadcast semi-probe,
    no driver collect of the id list (r1 verdict §5/§6)."""
    sel = mytable.labels.isin(["B", "D"], online=False)
    mytable.loc[sel, "checked"] = True
    pdf = mytable.to_frame().sort_values("_seq")
    assert pdf.loc[pdf["labels"].isin(["B", "D"]), "checked"].tolist() == [
        True,
        True,
    ]
    assert pdf.loc[~pdf["labels"].isin(["B", "D"]), "checked"].isna().all()


def test_seq_fastpath_positional_after_delete(base, mytable):
    """Gap-free tables use _seq directly for positions (no window);
    after a delete the flag flips and positions renumber correctly."""
    assert base._seq_contiguous(mytable)
    mytable.delete_rows([0])
    t = base.table("mytable")
    assert not base._seq_contiguous(t)
    # position 0 is now the row with column1 == 2
    t.loc[[True] + [False] * 8, "checked"] = True
    pdf = base.table("mytable").to_frame().sort_values("_seq")
    assert pdf.loc[pdf["column1"] == 2, "checked"].tolist() == [True]
    assert pdf.loc[pdf["column1"] != 2, "checked"].isna().all()


def test_copy_table(base, mytable):
    """Clone incl. views (Table.from_table, base.py:484-581)."""
    mytable.add_view(
        "big",
        filters=[
            {"column": "column1", "filter_predicate": "is_any_of",
             "filter_term": [7, 8, 9, 10]}
        ],
        sorts=[{"column": "column1", "sort_type": "down"}],
    )
    clone = base.table("mytable").copy("mytable2")
    assert clone.name == "mytable2"
    assert clone.columns == ["_id", "_seq", "column1", "labels", "checked"]
    assert len(clone) == 10
    assert clone.views == ["big"]
    got = clone.get_view("big").to_frame(row_id_index=False)
    assert got["column1"].tolist() == [10, 9, 8, 7]
    # clone is independently mutable
    clone["checked"] = True
    assert base.table("mytable").to_frame()["checked"].isna().all()


def test_metadata_only_ddl_and_column_mapping(base, mytable):
    """add/drop/rename commit metadata-only (no files written); the
    stable-key column mapping keeps renamed data and prevents a
    dropped-then-readded name from resurrecting old file data."""
    import os

    def n_files():
        total = 0
        for root, _, fs in os.walk(os.path.join(base.path, "mytable", "files")):
            total += len([f for f in fs if f.endswith(".parquet")])
        return total

    f0 = n_files()
    t = mytable
    t.add_column("score", "number")
    assert base.history("mytable")[-1]["detail"]["rewrite"] == "metadata"
    assert n_files() == f0
    assert base.table("mytable").to_frame()["score"].isna().all()

    labels = list(t.to_frame()["labels"])
    t.rename_column("labels", "tags")
    assert base.history("mytable")[-1]["detail"]["rewrite"] == "metadata"
    assert n_files() == f0
    assert list(base.table("mytable").to_frame()["tags"]) == labels

    t = base.table("mytable")
    t.drop_column("tags")
    assert base.history("mytable")[-1]["detail"]["rewrite"] == "metadata"
    t = base.table("mytable")
    t.add_column("tags", "text")
    # old `labels`/`tags` data must NOT reappear under the re-added name
    assert base.table("mytable").to_frame()["tags"].isna().all()
    assert n_files() == f0

    # a write after a metadata-only add fills the new key via COW
    t = base.table("mytable")
    t.loc[t["column1"] > 8, "tags"] = "hi"
    pdf = base.table("mytable").to_frame()
    assert (pdf.loc[pdf["column1"] > 8, "tags"] == "hi").all()
    assert pdf.loc[pdf["column1"] <= 8, "tags"].isna().all()

    # time travel still presents each version's own schema
    v0 = base.table("mytable", version=0).to_frame()
    assert "column1" in v0.columns and "score" not in v0.columns


def test_upsert_merge_by_key(base, mytable):
    """MERGE semantics: matched keys update (including to NULL), new
    keys insert, untouched rows intact, oplog records changed cells,
    time travel sees the pre-merge state."""
    v0 = base._current_version("mytable")
    src = pd.DataFrame(
        {
            "column1": [3, 5, 100],          # 3,5 exist; 100 is new
            "labels": ["C2", None, "NEW"],
        }
    )
    res = mytable.upsert(src, on="column1")
    assert res == {"updated": 2, "inserted": 1}

    pdf = mytable.to_frame().sort_values("_seq")
    assert len(pdf) == 11
    by_key = dict(zip(pdf["column1"], pdf["labels"]))
    assert by_key[3] == "C2"
    assert pd.isna(by_key[5])            # explicit NULL update applied
    assert by_key[4] == "D"              # untouched row intact
    assert by_key[100] == "NEW"

    # oplog: exactly the two changed cells of this merge
    logs = mytable.fetch_logs().collect()
    top_op = max(r["op_id"] for r in logs)  # append logs no cells, so
    cells = sorted(                          # top = the update commit
        (r["old_value"], r["new_value"])
        for r in logs
        if r["op_id"] == top_op and r["column"] == "labels"
    )
    assert cells == [("C", "C2"), ("E", None)]
    # history records the merge op by name
    assert any(e["op"] == "upsert" for e in base.history("mytable"))

    # time travel: pre-merge state is reachable
    old = base.table("mytable", version=v0).to_frame()
    assert dict(zip(old["column1"], old["labels"]))[3] == "C"
    assert 100 not in set(old["column1"])


def test_upsert_guards(base, mytable):
    dup = pd.DataFrame({"column1": [3, 3], "labels": ["x", "y"]})
    with pytest.raises(ValueError):
        mytable.upsert(dup, on="column1")
    with pytest.raises(ValueError):
        mytable.upsert(
            pd.DataFrame({"nope": [1]}), on="nope"
        )


def test_upsert_insert_only_and_update_only(base, mytable):
    # pure insert
    r1 = mytable.upsert(
        pd.DataFrame({"column1": [500], "labels": ["Z"]}), on="column1"
    )
    assert r1 == {"updated": 0, "inserted": 1}
    # pure update (no change → zero changed cells but counted as matched)
    r2 = mytable.upsert(
        pd.DataFrame({"column1": [500], "labels": ["Z"]}), on="column1"
    )
    assert r2 == {"updated": 1, "inserted": 0}
    assert mytable.to_frame()["column1"].tolist().count(500) == 1


def test_upsert_update_cols_empty_is_insert_only(base, mytable):
    """Explicit update_cols=[] means insert-only: matched rows keep
    their current values (review finding: [] used to be treated as
    falsy and fall back to updating every common column)."""
    before = dict(
        zip(mytable.to_frame()["column1"], mytable.to_frame()["labels"])
    )
    src = pd.DataFrame({"column1": [3, 888], "labels": ["CHANGED", "NEW"]})
    res = mytable.upsert(src, on="column1", update_cols=[])
    assert res == {"updated": 0, "inserted": 1}
    after = dict(
        zip(mytable.to_frame()["column1"], mytable.to_frame()["labels"])
    )
    assert after[3] == before[3]       # matched row untouched
    assert after[888] == "NEW"


def test_upsert_key_only_source_inserts(base, mytable):
    """A source with only the key column is a valid insert-if-absent
    merge (review finding: used to IndexError on the empty oplog)."""
    res = mytable.upsert(pd.DataFrame({"column1": [3, 777]}), on="column1")
    assert res == {"updated": 0, "inserted": 1}
    pdf = mytable.to_frame()
    assert 777 in set(pdf["column1"])
    assert pdf["column1"].tolist().count(3) == 1


def test_single_bucket_update_commit_job_budget(spark, base, mytable):
    """A diff update of a single-bucket table runs its whole commit in
    the micro posture (AQE off, 4 shuffle partitions): pinned at the 7
    Spark jobs it took when the posture was a session-wide conf flip."""
    assert base._bcount("mytable") == 1
    sc = spark.sparkContext
    sc.setJobGroup("commit-budget", "job-budget pin")
    try:
        mytable.column1.update([1, 2, 3, 40, 5, 6, 70, 8, 9, 10])
    finally:
        sc.setJobGroup(None, None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("commit-budget"))
    assert n_jobs <= 7, n_jobs
    assert base.table("mytable").to_frame()["column1"].tolist() == [
        1, 2, 3, 40, 5, 6, 70, 8, 9, 10,
    ]
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_upsert_duplicate_probe_job_budget(spark, base, mytable):
    """A Spark-frame upsert probes its keyed source for duplicate keys
    with one 1-row take job: the whole merge is pinned at 20 jobs (a
    ``limit(1).count()`` probe ran two, 21 in all). A duplicate key
    still raises on this path."""
    src = spark.createDataFrame(
        [(3, "C2"), (100, "NEW")], "column1 long, labels string"
    )
    sc = spark.sparkContext
    sc.setJobGroup("upsert-budget", "job-budget pin")
    try:
        res = mytable.upsert(src, on="column1")
    finally:
        sc.setJobGroup(None, None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("upsert-budget"))
    assert res == {"updated": 1, "inserted": 1}
    assert n_jobs <= 20, n_jobs
    dup = spark.createDataFrame(
        [(4, "x"), (4, "y")], "column1 long, labels string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        base.table("mytable").upsert(dup, on="column1")


def test_repeat_commit_compiles_nothing(spark, base, mytable):
    """A commit's op-log stamp (time and version) reaches generated code
    by reference, not as inlined literals: a second update, and a third
    delete, of the same shape compile no new classes."""
    from test_util import _compiles

    mytable.column1.update([x + 10 for x in range(1, 11)])
    before = _compiles(spark)
    base.table("mytable").column1.update([x + 20 for x in range(1, 11)])
    assert _compiles(spark) - before == 0
    assert base.table("mytable").to_frame()["column1"].tolist() == [
        x + 20 for x in range(1, 11)
    ]
    # string literals are not inlined, so deletes by label share a shape
    for label in "AB":
        t = base.table("mytable")
        t.delete_rows(t.labels == label)
    before = _compiles(spark)
    t = base.table("mytable")
    t.delete_rows(t.labels == "C")
    assert _compiles(spark) - before == 0
    assert base.table("mytable").to_frame()["column1"].tolist() == [
        x + 20 for x in range(4, 11)
    ]
