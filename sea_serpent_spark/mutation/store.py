"""Versioned table store — the engine's mutation + time-travel substrate.

Reference parity: the whole write surface of ``seaserpent.base.Table``
(append base.py:822, __setitem__ base.py:230, LocIndexer.__setitem__
base.py:2379, Column.update base.py:2171, delete_rows base.py:865,
add_column base.py:693, Column.rename/delete/clear base.py:2073/1922/1897)
plus the operation log (fetch_logs base.py:1037-1213) and
``time_machine`` (base.py:973-1034).

Spark-first design: every mutation is expressed as a DataFrame transform
over the current snapshot (MERGE-shaped: predicate + conditional column
replacement, never row-at-a-time), and committed as a **new immutable
version** of a file-granular copy-on-write layout — the Delta Lake
contract, minimized for a local filesystem: data lives in per-_id-bucket
parquet files, each version is a manifest in a JSONL transaction log, a
k-row edit rewrites (and with a row-local replay closure, also *reads*)
only the touched buckets, appends only add files, point lookups prune to
the owning bucket's files, and ``compact``/``vacuum`` mirror
OPTIMIZE/VACUUM. At cluster scale the sink swaps for Delta proper
(``MERGE INTO`` / ``DESCRIBE HISTORY`` / ``VERSION AS OF``) with no
change to the plan shapes.

Time travel here is *exact* — a snapshot per version — which is stronger
than the reference's log-replay reconstruction (misses added/deleted rows,
base.py:976-977).

Cell-level audit: each mutating commit also appends the changed cells
(old value, new value, row id, column, user, time) to an ``_oplog``
parquet directory mirroring ``fetch_logs(unpack=True)``'s schema
(base.py:1195-1207) — the op-log is itself queryable as a table and is
the source for the streaming CDC feed (streaming/).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import warnings
from datetime import datetime, timezone
from typing import Any, Iterable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import types as T

from ..core.column import Column, _SemiJoinFilter
from ..core.filter import Filter
from ..core.table import Table
from ..lease import writer_lease
from ..types import (
    infer_from_spark_type,
    infer_seatable_type,
    normalize_type,
    spark_type,
    validate_scalar,
)

#: Spark simple-type names whose per-bucket min/max are recorded in the
#: manifest for data skipping. Deliberately narrow: orderable scalars
#: whose values JSON-roundtrip losslessly AND whose Python comparison
#: order equals Spark's (ints/floats; str — Python code-point order ==
#: Spark's UTF-8 binary order). Decimals (JSON-lossy), timestamps/dates
#: (tz-sensitive reconstruction), booleans, and nested types are
#: excluded — an absent stat only disables pruning, never breaks it.
_STAT_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "string"
)

#: Temporal columns get data-skipping stats too (round 10) — stored as
#: tz-independent INTEGERS (timestamp → epoch micros, date → epoch
#: days), never as formatted strings (tz-sensitive and JSON-lossy, the
#: r9 exclusion reason). Predicate literals are converted to the same
#: integers at prune time (:func:`_temporal_literal`).
_TEMPORAL_STAT_TYPES = ("timestamp", "date")


def _temporal_literal(val, kind: str, session_tz: str):
    """A predicate literal against a timestamp/date column → the stats'
    integer representation (epoch micros / epoch days), or None when the
    conversion isn't exact (the term is then skipped — bucket kept,
    sound). Naive datetime literals are interpreted in the SESSION
    timezone, exactly as Spark casts them."""
    import datetime as dt

    def to_micros(d: "dt.datetime") -> int | None:
        if d.tzinfo is None:
            try:
                from zoneinfo import ZoneInfo

                d = d.replace(tzinfo=ZoneInfo(session_tz))
            except Exception:
                return None
        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        return (d - epoch) // dt.timedelta(microseconds=1)

    if isinstance(val, str):
        try:
            val = dt.datetime.fromisoformat(val)
        except ValueError:
            return None
    if isinstance(val, dt.datetime):
        if kind == "timestamp":
            return to_micros(val)
        # date column: only an exact-midnight naive literal converts
        # losslessly (Spark promotes the DATE side to timestamp in mixed
        # comparisons, which integer day bounds cannot mirror)
        if val.tzinfo is None and val.time() == dt.time(0, 0):
            return (val.date() - dt.date(1970, 1, 1)).days
        return None
    if isinstance(val, dt.date):
        if kind == "date":
            return (val - dt.date(1970, 1, 1)).days
        return to_micros(dt.datetime(val.year, val.month, val.day))
    return None


def _stat_ok(v) -> bool:
    """Value is storable as a pruning bound. NaN is NOT (any comparison
    with it is False, which would falsely prune matching buckets)."""
    if v is None:
        return True
    if isinstance(v, float) and v != v:
        return False
    return isinstance(v, (int, float, str)) and not isinstance(v, bool)


def _merge_stats(old: dict | None, new: dict) -> dict:
    """Column-wise union of two [min, max] stat dicts (the append path:
    existing bucket files plus newly appended ones). A column present on
    only one side has unknown bounds for the other's files — dropped to
    stay sound. [None, None] means 'no non-null values', the identity."""
    if old is None:
        return new

    def lo(a, b):
        vals = [x for x in (a, b) if x is not None]
        return min(vals) if vals else None

    def hi(a, b):
        vals = [x for x in (a, b) if x is not None]
        return max(vals) if vals else None

    return {
        c: [lo(old[c][0], new[c][0]), hi(old[c][1], new[c][1])]
        for c in old.keys() & new.keys()
    }


def _cmp_ok(a, b) -> bool:
    """The literal and the stored bound compare meaningfully: both
    numeric (bool excluded) or both strings."""

    def num(x):
        return isinstance(x, (int, float)) and not isinstance(x, bool)

    return (num(a) and num(b)) or (
        isinstance(a, str) and isinstance(b, str)
    )


def _bucket_may_match(st: dict | None, terms) -> bool:
    """Can ANY row of a bucket with stats ``st`` satisfy every conjunct?
    Missing stats (None / absent column / incomparable literal) make the
    term unusable — the bucket is kept. [None, None] bounds mean the
    bucket holds NO non-null value for the column, and every term op
    here is NULL-rejecting — the bucket is skipped."""
    if not st:
        return True
    for col, op, val in terms:
        s = st.get(col)
        if s is None:
            continue
        mn, mx = s
        if mn is None and mx is None:
            return False
        if op == "in":
            vs = list(val)
            if not all(_cmp_ok(x, mn) for x in vs):
                continue
            if all(x < mn or x > mx for x in vs):
                return False
            continue
        if not _cmp_ok(val, mn):
            continue
        if op == "=" and (val < mn or val > mx):
            return False
        if op == "<" and mn >= val:
            return False
        if op == "<=" and mn > val:
            return False
        if op == ">" and mx <= val:
            return False
        if op == ">=" and mx < val:
            return False
    return True


OPLOG_SCHEMA = T.StructType(
    [
        T.StructField("user", T.StringType()),
        T.StructField("app", T.StringType()),
        T.StructField("op_time", T.TimestampType()),
        T.StructField("op_id", T.LongType()),
        T.StructField("row_id", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("old_value", T.StringType()),
        T.StructField("new_value", T.StringType()),
    ]
)


class Base:
    """A warehouse of managed, versioned tables (reference "base": a
    database of tables discovered via ``find_base``, utils.py:248-368)."""

    def __init__(self, path: str, spark: SparkSession | None = None,
                 user: str = "local", bucket_count: int = 16,
                 checkpoint_every: int = 20):
        self.path = os.path.abspath(path)
        os.makedirs(self.path, exist_ok=True)
        if spark is None:
            from ..session import get_spark

            spark = get_spark()
        self.spark = spark
        self.user = user
        #: Write a ``_last_checkpoint.json`` every N commits (Delta's
        #: checkpoint cadence). ≤0 disables checkpoint WRITES (reads
        #: still honor an existing checkpoint).
        self.checkpoint_every = int(checkpoint_every)
        #: MAX number of _id-hash buckets per table — the copy-on-write
        #: file granularity. A mutation rewrites only the buckets owning
        #: changed rows; at cluster scale this is sized so a bucket ≈ a
        #: healthy parquet file (hundreds of MB). The EFFECTIVE count is
        #: sized per table at creation (``_sized_buckets``) and recorded
        #: in its meta: a 25-row dimension gets ONE bucket (one file, one
        #: write task), not 16 near-empty files per commit.
        self.bucket_count = int(bucket_count)

    #: bucket sizing target at creation: ≈rows for a healthy ~100 MB
    #: parquet file at typical row widths. Tables below it get one bucket
    #: — their full rewrite is cheaper than the COW bookkeeping.
    TARGET_ROWS_PER_BUCKET = 1_000_000

    def _sized_buckets(self, n_rows: int) -> int:
        import math as _math

        return max(
            1,
            min(self.bucket_count,
                _math.ceil(n_rows / self.TARGET_ROWS_PER_BUCKET)),
        )

    def _bcount(self, name: str) -> int:
        """Effective bucket count of a table (recorded at creation;
        stores written before per-table sizing fall back to the base
        default, which matches what they were written with)."""
        try:
            return int(self.meta(name).get("bucket_count", self.bucket_count))
        except FileNotFoundError:
            return self.bucket_count

    # ------------------------------------------------------------------
    # paths / log helpers
    # ------------------------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.path, name)

    def _vdir(self, name: str, version: int) -> str:
        return os.path.join(self._tdir(name), f"v{version:05d}")

    def _log_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_log.jsonl")

    def _meta_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_meta.json")

    def history(self, name: str) -> list[dict]:
        """Version log — DESCRIBE HISTORY analogue (full scan by
        design: this is the "give me everything" audit API; the hot
        paths — open, commit, version lookup — go through the
        checkpoint instead, see :meth:`_load_ckpt`)."""
        with open(self._log_path(name)) as f:
            return [json.loads(ln) for ln in f if ln.strip()]

    # -- log checkpoint (Delta _last_checkpoint analogue) ---------------
    #
    # ``_log.jsonl`` is append-only and each entry is SELF-CONTAINED
    # (full manifest + cstats), so unlike Delta no state replay is
    # needed — the scale problem is purely that finding "the latest
    # entry" or "entry v" used to JSON-parse the whole O(versions ×
    # buckets) file on every open and commit. The checkpoint fixes the
    # read cost: ``_last_checkpoint.json`` carries (a) the latest entry
    # verbatim (the overwhelmingly common lookup: open + commit's
    # prev-manifest read) and (b) ``tail_offset`` — the byte length of
    # the log when the checkpoint was cut, so readers parse ONLY the
    # ≤N tail commits after it. A version → byte-offset index lives in
    # a SEPARATE ``_checkpoint_offsets.json`` sidecar loaded only by
    # deep time travel — keeping the O(versions) index out of the open
    # path, whose cost is thereby O(checkpoint_every), flat in table
    # age (BENCH_NOTES "Version-log checkpoint rehearsal": 500 commits; with
    # the index inline the open path re-grew ~1 µs/version — measured,
    # hence the split). Every read path verifies the checkpoint
    # against the live log (size, version echo) and falls back to the
    # full scan on any mismatch — a deleted/stale/corrupt checkpoint
    # or index can never change results, only speed. Log SIZE is
    # handled separately: ``vacuum(..., trim_log=True)`` drops entries
    # whose data files were vacuumed.

    def _ckpt_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_last_checkpoint.json")

    def _ckpt_idx_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_checkpoint_offsets.json")

    def _load_ckpt_idx(self, name: str) -> dict:
        """version(str) → byte offset, best-effort ({} on any problem —
        the offset consumer verifies the version echo and full-scans on
        mismatch, so a stale index is slow, never wrong)."""
        try:
            with open(self._ckpt_idx_path(name)) as f:
                idx = json.load(f)
            return idx if isinstance(idx, dict) else {}
        except (FileNotFoundError, json.JSONDecodeError, OSError):
            return {}

    def _load_ckpt(self, name: str) -> dict | None:
        """Validated checkpoint, or None (missing / corrupt / stale).
        Stale = the log shrank below the recorded tail offset (log was
        replaced externally); growth is fine — that's the tail."""
        try:
            with open(self._ckpt_path(name)) as f:
                ck = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None
        try:
            size = os.path.getsize(self._log_path(name))
        except OSError:
            return None
        # r12 (r11 advice): honor the "corrupt checkpoint can never
        # change results, only speed" contract fully — a JSON-valid
        # file with entry not-a-dict used to crash at .get(), and a
        # NEGATIVE tail_offset passed the `> size` check only to raise
        # in _scan_log's seek. bool is an int subclass, so reject it
        # explicitly; any other malformed shape degrades to None (full
        # scan) rather than an exception on the read path.
        try:
            if (
                not isinstance(ck, dict)
                or not isinstance(ck.get("entry"), dict)
                or ck["entry"].get("version") != ck.get("version")
                or not isinstance(ck.get("tail_offset"), int)
                or isinstance(ck.get("tail_offset"), bool)
                or not (0 <= ck["tail_offset"] <= size)
            ):
                return None
        except Exception:
            return None
        return ck

    def _scan_log(
        self, name: str, from_offset: int = 0
    ) -> list[tuple[int, dict]]:
        """(byte_offset, entry) pairs from ``from_offset`` to EOF."""
        out: list[tuple[int, dict]] = []
        with open(self._log_path(name), "rb") as f:
            f.seek(from_offset)
            pos = from_offset
            for raw in f:
                ln = raw.strip()
                if ln:
                    out.append((pos, json.loads(ln)))
                pos += len(raw)
        return out

    def _tail_entries(self, name: str, ck: dict) -> list[dict] | None:
        """Entries after checkpoint ``ck``, or None if the seek lands
        mid-line (externally rewritten log) — callers full-scan then."""
        try:
            return [e for _, e in self._scan_log(name, ck["tail_offset"])]
        except (json.JSONDecodeError, UnicodeDecodeError):
            return None

    def _write_ckpt(
        self, name: str, v: int, entry: dict, entry_offset: int,
        tail_offset: int,
    ) -> None:
        """Cut a checkpoint at version ``v`` (just appended at
        ``entry_offset``; log is ``tail_offset`` bytes long). Offsets
        are carried forward incrementally — only the tail since the
        previous checkpoint is rescanned, so the amortized cost per
        commit is O(1). Atomic tmp+replace: readers see old or new,
        never a torn file."""
        prev = self._load_ckpt(name)
        if prev is not None:
            offsets = self._load_ckpt_idx(name)
            scan_from = prev["tail_offset"]
            monotone = bool(prev.get("ts_monotone", False))
            last_ts = prev.get("last_ts")
        else:
            offsets = {}
            scan_from = 0
            monotone, last_ts = True, None
        try:
            scanned = self._scan_log(name, scan_from)
        except (json.JSONDecodeError, UnicodeDecodeError):
            # rebuild fully — including the monotonicity chain
            offsets, scanned = {}, self._scan_log(name)
            monotone, last_ts = True, None
        for off, e in scanned:
            if off < tail_offset:  # exclude anything at/after this entry
                offsets[str(e["version"])] = off
                # track commit-timestamp monotonicity incrementally —
                # a system clock stepping backward between commits is
                # recorded here, and the timestamp-time-travel binary
                # search (_version_at_ckpt) declines on the flag (a
                # non-monotone region can hide from its local checks)
                ts = e.get("ts")
                if isinstance(ts, str):
                    if last_ts is not None and ts < last_ts:
                        monotone = False
                    last_ts = ts
                else:
                    monotone = False
        offsets[str(v)] = entry_offset
        # index FIRST, then the checkpoint (each atomically): a crash
        # in between leaves an index slightly ahead of the checkpoint,
        # which is harmless — offsets are facts about an append-only
        # file, and every seek verifies the version echo anyway
        tmp = self._ckpt_idx_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(offsets, f)
        os.replace(tmp, self._ckpt_idx_path(name))
        ck = {
            "version": v,
            "entry": entry,
            "tail_offset": tail_offset,
            "ts_monotone": monotone,
            "last_ts": last_ts,
        }
        tmp = self._ckpt_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(ck, f)
        os.replace(tmp, self._ckpt_path(name))

    def checkpoint(self, name: str) -> None:
        """Force-cut a checkpoint at the current version (the every-N
        cadence in ``_commit`` calls this logic automatically)."""
        entries = self._scan_log(name)
        if not entries:
            return
        off, entry = max(entries, key=lambda oe: oe[1]["version"])
        self._write_ckpt(
            name, entry["version"], entry, off,
            os.path.getsize(self._log_path(name)),
        )

    def meta(self, name: str) -> dict:
        with open(self._meta_path(name)) as f:
            return json.load(f)

    def _write_meta(self, name: str, meta: dict) -> None:
        with open(self._meta_path(name), "w") as f:
            json.dump(meta, f, indent=1)

    def list_tables(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.path)
            if os.path.isfile(self._log_path(d))
        )

    def __contains__(self, name: str) -> bool:
        return name in self.list_tables()

    # ------------------------------------------------------------------
    # commit
    # ------------------------------------------------------------------
    def _bucket_expr(self, name: str, col: str = "_id"):
        """Bucket of a row id — md5-based so the DRIVER can compute it too
        (``_bucket_of``): point lookups and row-id writes then know which
        bucket files to read without a Spark job. Same portable-hash
        rationale as operators/hashing.py."""
        return F.pmod(
            F.conv(F.substring(F.md5(F.col(col)), 1, 8), 16, 10).cast("long"),
            F.lit(self._bcount(name)),
        ).cast("int")

    def _bucket_of(self, name: str, row_id: str) -> int:
        """Driver-side twin of ``_bucket_expr`` (bit-identical)."""
        h = int(hashlib.md5(str(row_id).encode()).hexdigest()[:8], 16)
        return h % self._bcount(name)

    # -- column mapping (Delta column-mapping analogue) -----------------
    def _colmap(self, name: str) -> dict[str, str]:
        """logical column name → PHYSICAL parquet column name.

        Physical names are the stable per-column keys minted at creation
        (``_with_keys``) and never reused, so: renames are metadata-only
        (key unchanged), dropped-then-readded names cannot resurrect old
        file data (new key), and files written under different schema
        vintages agree on what each physical column means. Reserved
        engine columns (``_id``/``_seq``) and create-on-assign columns
        missing from meta map to themselves."""
        try:
            cols = self.meta(name).get("columns", {})
        except FileNotFoundError:
            cols = {}
        cm = {c: e.get("key", c) for c, e in cols.items()}
        phys = list(cm.values())
        if len(set(phys)) != len(phys):
            raise RuntimeError(
                f"physical column-name collision in {name!r}: {sorted(phys)}"
            )
        return cm

    def _normalized_read(
        self, entry: dict, paths: list[str], spark=None
    ) -> DataFrame:
        """Read bucket files and present them under the version's LOGICAL
        schema: files are scanned with the physical (key-named) schema —
        columns a file lacks (metadata-only adds) come back NULL, columns
        it has that the version dropped are pruned by the scan — then
        aliased back to logical names. No footer-based schema inference."""
        schema = T.StructType.fromJson(json.loads(entry["schema"]))
        cm = entry.get("colmap") or {}
        phys = T.StructType(
            [
                T.StructField(cm.get(f.name, f.name), f.dataType, True)
                for f in schema.fields
            ]
        )
        raw = (spark or self.spark).read.schema(phys).parquet(*paths)
        return raw.select(
            *[
                F.col(cm.get(f.name, f.name)).alias(f.name)
                for f in schema.fields
            ]
        )

    def _commit(
        self,
        name: str,
        df: DataFrame,
        op: str,
        detail: dict | None = None,
        oplog: DataFrame | None = None,
        touched: str | None = None,
        append_df: DataFrame | None = None,
        transform=None,
    ) -> None:
        """Single-writer gate around :meth:`_commit_impl` (r11): the
        whole commit — version discovery through log append — runs
        under the table's writer lease, so a second concurrent writer
        raises ``LeaseHeldError`` instead of silently interleaving
        versions (two writers computing the same ``v`` was the r10
        verdict's silent-corruption scenario). Stale leases (dead local
        pid / TTL) break automatically — see ``lease.py``."""
        tdir = self._tdir(name)
        os.makedirs(tdir, exist_ok=True)
        with writer_lease(tdir, owner=f"commit:{op}:{self.user}"):
            return self._commit_impl(
                name, df, op, detail, oplog, touched, append_df, transform
            )

    def _commit_impl(
        self,
        name: str,
        df: DataFrame,
        op: str,
        detail: dict | None = None,
        oplog: DataFrame | None = None,
        touched: str | None = None,
        append_df: DataFrame | None = None,
        transform=None,
    ) -> None:
        """Size-gated plan posture around :meth:`_commit_body` (r14):
        single-bucket tables are auto-sized under 1 M rows
        (``_sized_buckets``), so every plan a commit on one runs —
        diff, oplog write, bucketed rewrite — is micro-sized by
        construction, and the whole commit runs in the streaming
        sinks' per-batch posture (AQE off + narrow static shuffle
        width, ``util.micro``): AQE's per-exchange materialization
        jobs are pure scheduler latency at this size (measured: a
        whole-column diff-update commit dropped 22 → 13 driver jobs).
        Every frame the body reads or builds then comes from the
        posture session. Multi-bucket tables — the 100 TB shape — keep
        AQE and the session shuffle width untouched."""
        spark = self.spark
        if self._bcount(name) <= 1:
            from ..operators.util import micro, posture, rebind

            df = posture(df, micro(4))
            spark = df.sparkSession
            if oplog is not None:
                oplog = rebind(oplog, spark)
            if append_df is not None:
                append_df = rebind(append_df, spark)
        return self._commit_body(
            spark, name, df, op, detail, oplog, touched, append_df,
            transform,
        )

    def _commit_body(
        self,
        spark,
        name: str,
        df: DataFrame,
        op: str,
        detail: dict | None = None,
        oplog: DataFrame | None = None,
        touched: str | None = None,
        append_df: DataFrame | None = None,
        transform=None,
    ) -> None:
        """Write a new version + log entry (+ cell-level oplog).

        **File-granular copy-on-write** (the Delta contract, minimized for
        a local filesystem): table data lives in per-``_id``-hash-bucket
        parquet files; each version is a *manifest* (in the log entry)
        mapping bucket → file list. ``touched`` picks the commit mode:

        - ``None`` — full rewrite (initial loads and schema changes; Delta
          does DDL as metadata-only, noted as the next refinement);
        - ``"oplog"`` — rewrite ONLY the buckets owning rows recorded in
          this commit's oplog: a mutation of k rows rewrites
          O(k/bucket_count · table) bytes, not O(table). The bucket set
          is read back from the just-written oplog parquet (tiny), so the
          change-diff plan is executed once, not twice;
        - ``"append"`` — write ``append_df`` (the incoming rows only) as
          *additional* bucket files; existing files are never rewritten;
        - ``"metadata"`` — schema-only change (add/drop/rename column):
          the new log entry reuses the previous manifest verbatim and NO
          files are written — the column-mapped read reconciles (Delta's
          metadata-only DDL).

        ``transform`` is the edit as a ROW-LOCAL closure (src → mutated
        src): when given, the rewrite *scan* is pruned to the touched
        buckets' files and the closure re-applied there, so a k-row edit
        also READS O(touched buckets), not O(table). Without it the full
        ``df`` plan is filtered (write pruned, scan not — the Delta MERGE
        baseline). The chosen mode lands in the log entry as
        ``detail["rewrite"]`` ∈ full|append|pruned|filtered|noop.
        Every read goes through ``spark``, the commit's posture session.
        """
        # checkpoint-aware version discovery: O(tail), not O(versions)
        if os.path.exists(self._log_path(name)):
            try:
                v = self._current_version(name) + 1
            except FileNotFoundError:  # log file exists but is empty
                v = 0
        else:
            v = 0
        versions = v > 0  # truthiness only: "does a previous version exist"
        tdir = self._tdir(name)
        os.makedirs(tdir, exist_ok=True)
        opdir = os.path.join(tdir, "_oplog")
        new_oplog_files: list[str] = []
        if oplog is not None:
            # remember which files THIS commit adds: the stats read-back
            # below then opens only them, not the whole history-sized dir
            before = (
                set(os.listdir(opdir)) if os.path.isdir(opdir) else set()
            )
            oplog.write.mode("append").parquet(opdir)
            new_oplog_files = [
                os.path.join(opdir, f)
                for f in os.listdir(opdir)
                if f.endswith(".parquet") and f not in before
            ]
        prev = self._manifest(name, v - 1) if versions else None
        n_buckets = self._bcount(name)
        bexpr = self._bucket_expr(name)
        cm = self._colmap(name)
        commit_rel = os.path.join("files", f"c{v:05d}")
        commit_dir = os.path.join(tdir, commit_rel)

        def _write_bucketed(src: DataFrame) -> dict[int, str]:
            """One parquet leaf dir per touched bucket, one file each
            (repartition by bucket → no small-file explosion). Columns
            land under their PHYSICAL (stable-key) names."""
            (
                src.withColumn("_b", bexpr)
                .select(
                    "_b",
                    *[F.col(c).alias(cm.get(c, c)) for c in src.columns],
                )
                .repartition(n_buckets, "_b")
                .write.partitionBy("_b")
                .mode("overwrite")
                .parquet(commit_dir)
            )
            out: dict[int, str] = {}
            if os.path.isdir(commit_dir):
                for d in os.listdir(commit_dir):
                    if d.startswith("_b="):
                        out[int(d.split("=")[1])] = os.path.join(commit_rel, d)
            return out

        def _fresh_stats() -> dict[str, dict[str, list]]:
            """Per-bucket min/max of the files THIS commit wrote — the
            data-skipping side of the manifest (Delta stats analogue).
            One aggregation over the just-written commit dir (the same
            read-back posture as the oplog bucket probe above); keyed by
            PHYSICAL column name so renames stay metadata-only.

            Single-bucket tables (the auto-sizer's answer below 1 M
            rows) skip the job entirely — with one bucket there is
            nothing to skip TO, so the stats could never prune a read."""
            if n_buckets <= 1 or not os.path.isdir(commit_dir):
                return {}
            wdf = spark.read.parquet(commit_dir)
            kinds = {
                f.name: f.dataType.simpleString()
                for f in wdf.schema.fields
            }
            cols = [
                c for c, k in kinds.items()
                if c != "_b"
                and k in _STAT_TYPES + _TEMPORAL_STAT_TYPES
            ]
            if not cols:
                return {}
            aggs = []
            for c in cols:
                # temporal bounds land as tz-independent INTEGERS
                # (epoch micros / epoch days) — see _temporal_literal
                if kinds[c] == "timestamp":
                    aggs.append(F.unix_micros(F.min(c)).alias(f"mn_{c}"))
                    aggs.append(F.unix_micros(F.max(c)).alias(f"mx_{c}"))
                elif kinds[c] == "date":
                    e = F.to_date(F.lit("1970-01-01"))
                    aggs.append(F.datediff(F.min(c), e).alias(f"mn_{c}"))
                    aggs.append(F.datediff(F.max(c), e).alias(f"mx_{c}"))
                else:
                    aggs.append(F.min(c).alias(f"mn_{c}"))
                    aggs.append(F.max(c).alias(f"mx_{c}"))
            out: dict[str, dict[str, list]] = {}
            for r in wdf.groupBy("_b").agg(*aggs).collect():
                cs: dict[str, list] = {}
                for c in cols:
                    mn, mx = r[f"mn_{c}"], r[f"mx_{c}"]
                    if _stat_ok(mn) and _stat_ok(mx):
                        cs[c] = [mn, mx]
                out[str(int(r["_b"]))] = cs
            return out

        prev_stats: dict = (
            (self._log_entry(name, v - 1).get("cstats") or {})
            if versions else {}
        )
        rewrite = "full"
        if touched == "metadata" and prev is not None:
            manifest = prev
            cstats = prev_stats
            rewrite = "metadata"
        elif touched == "append" and prev is not None and append_df is not None:
            leaves = _write_bucketed(append_df)
            manifest = {b: list(ps) for b, ps in prev.items()}
            for b, p in leaves.items():
                manifest.setdefault(b, []).append(p)
            cstats = dict(prev_stats)
            for b, cs in _fresh_stats().items():
                if b in prev_stats:
                    cstats[b] = _merge_stats(prev_stats[b], cs)
                elif int(b) not in prev:
                    # genuinely new bucket — this commit's files are ALL
                    # of its files, so the fresh bounds are the bounds
                    cstats[b] = cs
                # else: legacy bucket (has files but no recorded stats,
                # written before cstats existed) — leave it stat-less so
                # _bucket_may_match keeps it. Recording only the fresh
                # files' bounds would prune rows living in the old files.
            rewrite = "append"
        elif touched == "oplog" and prev is not None and oplog is not None:
            # read back ONLY this commit's oplog files (listed above) —
            # the change-diff plan still runs once, and the probe no
            # longer scans an O(history) directory. They hold this
            # commit's rows alone, so no op_id filter: its literal would
            # make every commit's scan new generated code.
            if new_oplog_files:
                opl = spark.read.parquet(*new_oplog_files)
            else:
                opl = spark.read.parquet(opdir).where(
                    F.col("op_id") == v
                )
            buckets = n_changed = None
            if n_buckets <= 1 and new_oplog_files:
                # single-bucket fast path (r14): every row id hashes to
                # bucket 0, so the per-bucket distribution is just "did
                # this commit log anything" — read it off the freshly
                # written files' parquet FOOTERS (driver-side, no Spark
                # job). The footer count is changed CELLS, an upper
                # bound on changed rows — only consumed by the ≤1M
                # pruned-replay gate below, where a conservative count
                # merely prefers the filtered scan (same single bucket
                # either way). Multi-bucket tables keep the aggregate
                # job: footers cannot say which buckets the ids hash to.
                try:
                    import pyarrow.parquet as _pq

                    n_changed = sum(
                        _pq.ParquetFile(f).metadata.num_rows
                        for f in new_oplog_files
                    )
                    buckets = [0] if n_changed else []
                except Exception:
                    buckets = n_changed = None
            if buckets is None:
                stats = (
                    opl.groupBy(
                        self._bucket_expr(name, "row_id").alias("b")
                    )
                    .agg(F.countDistinct("row_id").alias("n"))
                    .collect()
                )
                buckets = [r["b"] for r in stats]
                n_changed = sum(r["n"] for r in stats)
            if not buckets:
                manifest = prev  # no cell actually changed
                cstats = prev_stats
                rewrite = "noop"
            else:
                src = None
                # pruned replay broadcasts the changed-id set — gate it
                # so a predicate touching most rows stays a plain filter
                if (
                    transform is not None
                    and n_changed <= 1_000_000
                    and all(b in prev for b in buckets)
                ):
                    tpaths = [
                        os.path.join(tdir, p)
                        for b in sorted(buckets)
                        for p in prev[b]
                    ]
                    if tpaths:
                        replay_entry = {
                            "schema": df.schema.json(),
                            "colmap": cm,
                        }
                        src = transform(
                            self._normalized_read(
                                replay_entry, tpaths, spark
                            ),
                            opl,
                        )
                        rewrite = "pruned"
                if src is None:
                    src = df.where(bexpr.isin(buckets))
                    rewrite = "filtered"
                leaves = _write_bucketed(src)
                manifest = {
                    b: ps for b, ps in prev.items() if b not in set(buckets)
                }
                for b, p in leaves.items():
                    manifest[b] = [p]
                fresh = _fresh_stats()
                cstats = {
                    b: cs for b, cs in prev_stats.items()
                    if int(b) not in set(buckets)
                }
                for b in leaves:
                    cstats[str(b)] = fresh.get(str(b), {})
        else:
            leaves = _write_bucketed(df)
            manifest = {b: [p] for b, p in leaves.items()}
            cstats = _fresh_stats()

        entry = {
            "version": v,
            "ts": datetime.now(timezone.utc).isoformat(),
            "op": op,
            "user": self.user,
            "detail": {**(detail or {}), "rewrite": rewrite},
            "files": {str(b): ps for b, ps in sorted(manifest.items())},
            "cstats": cstats,
            "schema": df.schema.json(),
            "colmap": cm,
        }
        with open(self._log_path(name), "a") as f:
            entry_offset = f.tell()
            f.write(json.dumps(entry) + "\n")
            tail_offset = f.tell()
        if self.checkpoint_every > 0 and v % self.checkpoint_every == 0:
            self._write_ckpt(name, v, entry, entry_offset, tail_offset)

    def _log_entry(self, name: str, version: int) -> dict:
        ck = self._load_ckpt(name)
        if ck is not None:
            if version == ck["version"]:
                return ck["entry"]
            if version > ck["version"]:  # tail: ≤ checkpoint_every lines
                for e in self._tail_entries(name, ck) or ():
                    if e["version"] == version:
                        return e
            else:  # deep time travel: direct seek via the offset sidecar
                off = self._load_ckpt_idx(name).get(str(version))
                if off is not None:
                    try:
                        with open(self._log_path(name), "rb") as f:
                            f.seek(off)
                            e = json.loads(f.readline())
                        if e.get("version") == version:
                            return e
                    except (json.JSONDecodeError, OSError):
                        pass  # corrupt index → full-scan fallback
        for e in self.history(name):
            if e["version"] == version:
                return e
        raise FileNotFoundError(f"no version {version} for table {name!r}")

    def _manifest(self, name: str, version: int) -> dict[int, list[str]] | None:
        """Bucket → file-paths manifest for a version; None for legacy
        whole-snapshot versions (pre-COW layout)."""
        entry = self._log_entry(name, version)
        files = entry.get("files")
        if files is None:
            return None
        return {int(b): list(ps) for b, ps in files.items()}

    def _read_version(self, name: str, version: int) -> DataFrame:
        entry = self._log_entry(name, version)
        files = entry.get("files")
        if files is None:  # legacy layout
            return self.spark.read.parquet(self._vdir(name, version))
        tdir = self._tdir(name)
        paths = [os.path.join(tdir, p) for ps in files.values() for p in ps]
        if not paths:
            schema = T.StructType.fromJson(json.loads(entry["schema"]))
            return self.spark.createDataFrame([], schema)
        return self._normalized_read(entry, paths)

    def _current_version(self, name: str) -> int:
        ck = self._load_ckpt(name)
        if ck is not None:
            tail = self._tail_entries(name, ck)
            if tail is not None:
                return max(
                    [ck["version"]] + [e["version"] for e in tail]
                )
        hist = self.history(name)
        if not hist:
            raise FileNotFoundError(f"no versions for table {name!r}")
        return max(e["version"] for e in hist)

    def scan_stats_pruned(
        self, name: str, terms, version: int | None = None
    ) -> DataFrame | None:
        """Current-version scan restricted to buckets whose min/max
        statistics can satisfy every predicate conjunct — the
        data-skipping half of the manifest (Delta stats pruning), and the
        predicate twin of :meth:`read_pruned`'s id pruning. ``terms`` is
        ``Filter.terms``: sound conjuncts (col, op, literal), so a bucket
        failing ANY term provably holds no matching row. Returns None
        when pruning can't help (no terms, no stats, legacy layout, or
        every bucket survives). ``version`` pins the manifest consulted
        (a Table handle passes the version its df was read at, so a
        concurrent commit through another handle can't skew the
        snapshot); None means current."""
        terms = list(terms or ())
        if not terms:
            return None
        v = self._current_version(name) if version is None else version
        entry = self._log_entry(name, v)
        files = entry.get("files")
        cstats = entry.get("cstats")
        if files is None or not cstats:
            return None
        cm = self._colmap(name)
        kinds = {
            f.name: f.dataType.simpleString()
            for f in T.StructType.fromJson(
                json.loads(entry["schema"])
            ).fields
        }
        tz = self.spark.conf.get("spark.sql.session.timeZone", "UTC")
        pterms = []
        for c, op, val in terms:
            if kinds.get(c) in _TEMPORAL_STAT_TYPES:
                # convert the literal to the stats' integer form;
                # inexact conversions drop the term (bucket kept)
                if op == "in":
                    vs = [
                        _temporal_literal(v, kinds[c], tz) for v in val
                    ]
                    if any(v is None for v in vs):
                        continue
                    val = tuple(vs)
                else:
                    val = _temporal_literal(val, kinds[c], tz)
                    if val is None:
                        continue
            pterms.append((cm.get(c, c), op, val))
        keep = [
            (b, ps) for b, ps in files.items()
            if _bucket_may_match(cstats.get(b), pterms)
        ]
        if len(keep) >= len(files):
            return None
        tdir = self._tdir(name)
        paths = [
            os.path.join(tdir, p) for _, ps in keep for p in ps
        ]
        if not paths:  # no bucket can hold a matching row
            schema = T.StructType.fromJson(json.loads(entry["schema"]))
            return self.spark.createDataFrame([], schema)
        return self._normalized_read(entry, paths)

    def read_pruned(
        self, name: str, row_ids, version: int | None = None
    ) -> DataFrame | None:
        """Version scan restricted to the bucket files owning
        ``row_ids`` — the read-side half of the COW layout: a point
        lookup opens 1/bucket_count of the table's files instead of all
        of them. Returns None when pruning can't help (legacy layout,
        huge id list, or every bucket touched). ``version`` pins the
        manifest consulted (see scan_stats_pruned); None means current."""
        row_ids = [str(r) for r in row_ids]
        if not row_ids or len(row_ids) > 10_000:
            return None
        v = self._current_version(name) if version is None else version
        manifest = self._manifest(name, v)
        if manifest is None:
            return None
        buckets = sorted({self._bucket_of(name, r) for r in row_ids})
        if len(buckets) >= len(manifest):
            return None
        tdir = self._tdir(name)
        paths = [
            os.path.join(tdir, p) for b in buckets for p in manifest.get(b, [])
        ]
        entry = self._log_entry(name, v)
        if not paths:  # rows cannot exist in this table
            schema = T.StructType.fromJson(json.loads(entry["schema"]))
            return self.spark.createDataFrame([], schema)
        return self._normalized_read(entry, paths)

    # ------------------------------------------------------------------
    # maintenance (Delta OPTIMIZE / VACUUM analogues)
    # ------------------------------------------------------------------
    def compact(self, name: str) -> None:
        """Rewrite every bucket to a single file (OPTIMIZE): appends
        accumulate one file per commit per bucket; compaction folds them
        so reads open O(bucket_count) files again."""
        df = self._read_version(name, self._current_version(name))
        self._commit(name, df, "compact")

    def vacuum(
        self, name: str, keep_versions: int = 10, trim_log: bool = False
    ) -> list[str]:
        """Delete data files referenced ONLY by versions older than the
        last ``keep_versions`` (Delta VACUUM semantics: time travel
        beyond the retention window stops working; the log entries stay
        for audit). Returns the removed paths.

        ``trim_log=True`` additionally drops the vacuumed versions'
        entries from ``_log.jsonl`` (Delta's log-retention analogue —
        each entry carries a full manifest + cstats, so a long-lived
        table's log grows O(versions × buckets) without it). Their data
        files are gone either way, so only the audit trail is lost; the
        default keeps it. The rewrite is atomic (tmp + replace) and the
        checkpoint is re-cut afterwards — a crash in between leaves a
        checkpoint the readers detect as stale (log shrank below its
        tail offset) and ignore.

        Vacuum is a writer: it holds the same single-writer lease as
        ``_commit`` so it cannot delete files out from under an
        in-flight commit's manifest read (r11)."""
        with writer_lease(self._tdir(name), owner=f"vacuum:{self.user}"):
            return self._vacuum_impl(name, keep_versions, trim_log)

    def _vacuum_impl(
        self, name: str, keep_versions: int, trim_log: bool
    ) -> list[str]:
        hist = self.history(name)
        versions = sorted(e["version"] for e in hist)
        keep = set(versions[-max(1, keep_versions):])
        referenced: set[str] = set()
        for v in keep:
            m = self._manifest(name, v)
            if m is None:
                continue
            for ps in m.values():
                referenced.update(ps)
        tdir = self._tdir(name)
        removed: list[str] = []
        files_root = os.path.join(tdir, "files")
        if os.path.isdir(files_root):
            for c in sorted(os.listdir(files_root)):
                cdir = os.path.join(files_root, c)
                if not os.path.isdir(cdir):
                    continue
                for leaf in sorted(os.listdir(cdir)):
                    rel = os.path.join("files", c, leaf)
                    if leaf.startswith("_b=") and rel not in referenced:
                        shutil.rmtree(os.path.join(cdir, leaf))
                        removed.append(rel)
                if not any(d.startswith("_b=") for d in os.listdir(cdir)):
                    shutil.rmtree(cdir)
        # legacy whole-snapshot dirs of dropped versions
        for e in hist:
            v = e["version"]
            if v not in keep and e.get("files") is None:
                vdir = self._vdir(name, v)
                if os.path.isdir(vdir):
                    shutil.rmtree(vdir)
                    removed.append(os.path.basename(vdir))
        if trim_log:
            lp = self._log_path(name)
            tmp = lp + ".tmp"
            with open(tmp, "w") as f:
                for e in hist:
                    if e["version"] in keep:
                        f.write(json.dumps(e) + "\n")
            # drop the checkpoint + offset index FIRST: their byte
            # offsets are meaningless against the rewritten file (and a
            # small-enough stale tail_offset would otherwise pass the
            # size check and seek mid-line). Crash anywhere in between
            # → no checkpoint → readers full-scan, still correct.
            for p in (self._ckpt_path(name), self._ckpt_idx_path(name)):
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
            os.replace(tmp, lp)
            self.checkpoint(name)
        return removed

    # ------------------------------------------------------------------
    # open / create / drop
    # ------------------------------------------------------------------
    def table(
        self,
        name: str,
        version: int | None = None,
        at: str | datetime | None = None,
        read_only: bool = False,
    ) -> Table:
        """Open a managed table, optionally at a past version/timestamp
        (time travel — base.py:973-1034, exact via snapshots)."""
        if at is not None:
            version = self._version_at(name, at)
        pinned = version is not None
        if version is None:
            version = self._current_version(name)
        df = self._read_version(name, version)
        return Table(
            df,
            name=name,
            spark=self.spark,
            id_col="_id",
            order_col="_seq",
            store=None if pinned else self,
            read_only=read_only or pinned,
            version=version,
        )

    def _version_at(self, name: str, at: str | datetime) -> int:
        if isinstance(at, str):
            at_dt = datetime.fromisoformat(at)
        else:
            at_dt = at
        if at_dt.tzinfo is None:
            at_dt = at_dt.replace(tzinfo=timezone.utc)
        fast = self._version_at_ckpt(name, at_dt)
        if fast is not None:
            return fast
        best = None
        for e in self.history(name):
            ts = datetime.fromisoformat(e["ts"])
            if ts <= at_dt:
                best = e["version"]
        if best is None:
            raise ValueError(f"no version of {name!r} at or before {at}")
        return best

    def _version_at_ckpt(self, name: str, at_dt) -> int | None:
        """Checkpoint-accelerated timestamp→version: commit timestamps
        are monotone in version (sequential single-writer commits), so
        the answer is findable with the tail + an O(log versions)
        binary search over the offset sidecar instead of parsing the
        whole log. Returns None to fall back to the full scan whenever
        the fast path can't answer soundly (no checkpoint, sparse
        index, or a non-monotonic timestamp observed — e.g. a clock
        step between commits); the verification reads cost one
        entry-seek each."""

        def ets(e) -> "datetime":
            return datetime.fromisoformat(e["ts"])

        ck = self._load_ckpt(name)
        if ck is None:
            return None
        if not ck.get("ts_monotone", False):
            # the checkpoint recorded a clock step somewhere in the
            # indexed history (or predates the flag) — the binary
            # search cannot be trusted there; scan instead
            return None
        tail = self._tail_entries(name, ck)
        if tail is None:
            return None
        entries_after = [ck["entry"]] + tail  # versions ≥ ckpt, in order
        if any(
            ets(a) > ets(b)
            for a, b in zip(entries_after, entries_after[1:])
        ):
            return None  # non-monotone recent history — scan instead
        if ets(entries_after[0]) <= at_dt:
            # answer is at/after the checkpoint: last tail entry ≤ at
            best = None
            for e in entries_after:
                if ets(e) <= at_dt:
                    best = e["version"]
            return best
        # answer is strictly before the checkpoint: binary-search the
        # offset sidecar (keys = every version up to the checkpoint)
        idx = self._load_ckpt_idx(name)
        try:
            versions = sorted(int(v) for v in idx)
        except (TypeError, ValueError):
            return None
        versions = [v for v in versions if v < ck["version"]]
        if not versions:
            return None

        def entry(v: int) -> dict | None:
            try:
                e = self._log_entry(name, v)
            except FileNotFoundError:
                return None
            return e if e.get("version") == v else None

        lo, hi, best = 0, len(versions) - 1, None
        while lo <= hi:
            mid = (lo + hi) // 2
            e = entry(versions[mid])
            if e is None:
                return None  # index hole — full scan decides
            if ets(e) <= at_dt:
                best = e
                lo = mid + 1
            else:
                hi = mid - 1
        if best is None:
            return None  # nothing at-or-before `at` — let the scan
            # produce the canonical "no version" error (or find a
            # non-indexed legacy entry)
        # soundness check against clock steps: the NEXT version (if
        # indexed) must be after `at`, else monotonicity is violated
        # for the binary-searched region — fall back
        nxt = entry(best["version"] + 1)
        if nxt is not None and ets(nxt) <= at_dt:
            return None
        return best["version"]

    def time_machine(
        self, name: str, date: str | datetime,
        columns: Iterable[str] | None = None,
    ) -> Table:
        """Table state as of ``date`` (base.py:973-1035); ``columns``
        subsets the projection (pruned at the scan, base.py:1002)."""
        t = self.table(name, at=date)
        if columns is not None:
            cols = [c for c in columns if c in t.df.columns]
            t = t.select(cols)
        return t

    def create_table(
        self, name: str, columns: Iterable[tuple[str, Any]] | None = None
    ) -> Table:
        """Create an empty managed table (Table.new, base.py:583-646).
        ``columns`` = [(name, seatable_type), ...]; duplicate names are
        rejected (base.py:1347-1353)."""
        if name in self:
            raise ValueError(f"table {name!r} already exists")
        cols = list(columns or [])
        names = [c for c, _ in cols]
        if len(set(names)) != len(names):
            raise ValueError("duplicate column names are not allowed")
        fields = [
            T.StructField("_id", T.StringType(), False),
            T.StructField("_seq", T.LongType(), False),
        ] + [T.StructField(c, spark_type(t), True) for c, t in cols]
        df = self.spark.createDataFrame([], T.StructType(fields))
        os.makedirs(self._tdir(name), exist_ok=True)
        self._write_meta(
            name,
            {
                "columns": _with_keys(
                    {c: {"type": normalize_type(t)} for c, t in cols}
                ),
                "next_key": len(cols),
                # empty table: rows arrive via append; keep the base cap
                # so appends spread across buckets as the table grows
                "bucket_count": self.bucket_count,
            },
        )
        self._commit(name, df, "create", {"columns": names})
        return self.table(name)

    def from_frame(
        self, frame, name: str, id_col: int | str | None = None,
        buckets: int | None = None,
    ) -> Table:
        """Import a pandas DataFrame with SeaTable-style type inference
        (Table.from_frame, base.py:372-481). ``buckets`` as in
        :meth:`from_df`."""
        import pandas as pd

        if not isinstance(frame, pd.DataFrame):
            raise TypeError("from_frame expects a pandas DataFrame")
        if name in self:
            raise ValueError(f"table {name!r} already exists")
        pdf = frame.reset_index(drop=True).copy()
        meta_cols: dict[str, dict] = {}
        for c in pdf.columns:
            st, m = infer_seatable_type(pdf[c])
            meta_cols[str(c)] = {"type": st, **m}
            if isinstance(pdf[c].dtype, pd.CategoricalDtype):
                pdf[c] = pdf[c].astype(str).where(pdf[c].notna(), None)
        pdf = _arrow_safe_pdf(pdf)
        pdf.insert(0, "_seq", range(len(pdf)))
        pdf.insert(0, "_id", [_row_id(i) for i in range(len(pdf))])
        sdf = self.spark.createDataFrame(pdf)
        os.makedirs(self._tdir(name), exist_ok=True)
        self._write_meta(
            name,
            {
                "columns": _with_keys(meta_cols),
                "next_seq": len(pdf),
                "next_key": len(meta_cols),
                "bucket_count": (
                    int(buckets) if buckets else self._sized_buckets(len(pdf))
                ),
            },
        )
        self._commit(name, sdf, "from_frame", {"rows": len(pdf)})
        return self.table(name)

    # low 33 bits of monotonically_increasing_id = row-in-partition
    _SEQ_LOCAL_MASK = (1 << 33) - 1

    #: analyzed-plan node names that imply an exchange (or a wide
    #: rewrite AQE might improve) somewhere in the input plan — the
    #: deny-list for the ingest fast path below. A miss in either
    #: direction only changes plan POSTURE, never results: a false hit
    #: (e.g. a column literally named "Join…" in the plan text) keeps
    #: AQE on; an unlisted wide node runs that one fill at the static
    #: shuffle width, pre-AQE Spark's default behavior.
    _WIDE_PLAN_TOKENS = (
        "Join", "Aggregate", "Window", "Deduplicate", "Distinct",
        "Repartition", "Sort", "Limit", "Intersect", "Except",
        "GroupsInPandas", "GroupsInArrow", "CoGroup", "Generate",
    )

    def _narrow_plan(self, df: DataFrame) -> bool:
        """True when ``df``'s ANALYZED plan is scan/project/filter
        shaped — no node that could introduce an exchange. Analysis
        is driver-cheap (no optimization or physical planning) and
        the QueryExecution is cached on the py4j handle, so a
        following action does not re-pay it."""
        try:
            plan = df._jdf.queryExecution().analyzed().toString()
        except Exception:
            return False
        return not any(tok in plan for tok in self._WIDE_PLAN_TOKENS)

    def _with_seq(
        self, df: DataFrame, cols: list, start: int = 0,
        micro: bool = False,
    ) -> tuple[DataFrame, int, "callable"]:
        """Assign a contiguous ``_seq`` (and ``_id``) following ``df``'s
        current row order with NO global sort.

        ``monotonically_increasing_id`` encodes
        ``partition_id << 33 | row_in_partition`` with the low bits dense
        from 0, so per-partition row counts (a metadata-sized aggregate —
        one output row per partition) are enough to make it a dense global
        sequence: ``seq = cum_offset[pid] + low_bits``. The data itself
        never shuffles and no single-partition window appears — the
        previous implementation's global ``row_number`` window was the one
        non-distributed step on the ingest path.

        The stamped frame is persisted for the bracket of (count job,
        write job): mid is only stable within one materialization, and the
        offsets are baked into the plan from the count job's partitioning.

        Returns ``(sdf, row_count, unpersist)`` — the caller must invoke
        ``unpersist()`` once the result has been materialized.
        """
        stamped = df.select(*cols).withColumn(
            "__mid", F.monotonically_increasing_id()
        )
        stamped.persist()
        # the offsets collect is a group-cardinality aggregate (one row
        # per input partition into a single exchange). When the source
        # plan is narrow — a scan/project/filter ingest, the common
        # case — the persist fill this action performs has no exchange
        # AQE could improve either, so AQE off collapses the 2-3-job
        # wave into one job (r14). Sources carrying joins/aggregates
        # keep AQE for the fill: their upstream shuffles are exactly
        # what runtime re-planning is for.
        from ..operators.util import posture

        # ``micro`` lets a caller that has already size-gated (e.g.
        # append onto a single-bucket table, the commit posture's own
        # criterion) take the fast path even for a wide source plan.
        src = posture(stamped) if micro or self._narrow_plan(df) else stamped
        rows = (
            src.groupBy(F.shiftright("__mid", 33).alias("__pid"))
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        offsets: dict[int, int] = {}
        acc = start
        for r in sorted(rows, key=lambda r: r["__pid"]):
            offsets[int(r["__pid"])] = acc
            acc += int(r["__n"])
        n = acc - start
        local = F.col("__mid").bitwiseAND(F.lit(self._SEQ_LOCAL_MASK))
        if not offsets:
            out = stamped.withColumn("_seq", F.lit(start).cast("long"))
        elif len(offsets) <= 1024:
            off = F.create_map(
                *[F.lit(x) for kv in offsets.items() for x in kv]
            )[F.shiftright("__mid", 33)]
            out = stamped.withColumn("_seq", (off + local).cast("long"))
        else:
            # many partitions: broadcast-join the offset table rather
            # than inflating the plan with a huge literal map
            off_df = self.spark.createDataFrame(
                list(offsets.items()), "__pid long, __off long"
            )
            out = (
                stamped.withColumn("__pid", F.shiftright("__mid", 33))
                .join(F.broadcast(off_df), "__pid")
                .withColumn("_seq", (F.col("__off") + local).cast("long"))
                .drop("__pid", "__off")
            )
        sdf = (
            out.withColumn("_id", F.format_string("r%08d", F.col("_seq")))
            .select("_id", "_seq", *cols)
        )
        return sdf, n, stamped.unpersist

    def from_df(
        self, df: DataFrame, name: str, buckets: int | None = None
    ) -> Table:
        """Distributed ingest: register a Spark DataFrame as a managed
        table with NO driver round-trip (the scale path; ``from_frame``
        is the pandas-parity edge). ``_seq`` follows the DataFrame's
        current row order — ``monotonically_increasing_id`` is
        partition-ordered, so for a parquet scan this is file order,
        matching the reference's server-row-order contract.

        Scale note: ``_seq`` comes from per-partition offset arithmetic
        (``_with_seq``) — no global sort, no single-partition stage; the
        one extra cost is caching the input for the count+write bracket.

        ``buckets`` overrides the row-count-based COW bucket sizing —
        set it when the table is expected to grow far past its ingest
        size (appends keep the creation-time count)."""
        if name in self:
            raise ValueError(f"table {name!r} already exists")
        meta_cols = {
            f.name: {"type": infer_from_spark_type(f.dataType)}
            for f in df.schema.fields
            if f.name not in ("_id", "_seq")
        }
        cols = [c for c in df.columns if c not in ("_id", "_seq")]
        sdf, n, unpersist = self._with_seq(df, cols)
        os.makedirs(self._tdir(name), exist_ok=True)
        self._write_meta(
            name,
            {
                "columns": _with_keys(meta_cols),
                "next_seq": n,
                "next_key": len(meta_cols),
                "bucket_count": (
                    int(buckets) if buckets else self._sized_buckets(n)
                ),
            },
        )
        try:
            self._commit(name, sdf, "from_df", {"rows": n})
        finally:
            unpersist()
        return self.table(name)

    def drop_table(self, name: str) -> None:
        """DROP TABLE (Table.delete, base.py:942-971)."""
        if name not in self:
            raise FileNotFoundError(name)
        shutil.rmtree(self._tdir(name))

    # ------------------------------------------------------------------
    # oplog reads (fetch_logs base.py:1037-1213)
    # ------------------------------------------------------------------
    def fetch_logs(
        self,
        name: str,
        max_entries: int | None = 25,
        max_time=None,
        unpack: bool = True,
    ) -> DataFrame:
        """Activity log (fetch_logs, base.py:1037-1213).

        ``unpack=True`` (default) → one row per *cell* edit — the
        reference's unpacked schema (base.py:1195-1207), which the oplog
        stores natively. ``unpack=False`` → one row per operation with
        ``rows_modified`` (base.py:1148-1149) and the touched columns.
        ``max_time`` bounds how far back to read and overrides
        ``max_entries`` (base.py:1066-1070); ``max_entries=None`` → all.
        Entry limits count *operations* (the reference pages ops, not
        cells), applied via the newest distinct op_ids."""
        p = os.path.join(self._tdir(name), "_oplog")
        if not os.path.exists(p):
            logs = self.spark.createDataFrame([], OPLOG_SCHEMA)
        else:
            logs = self.spark.read.parquet(p)
        if max_time is not None:
            if isinstance(max_time, str):
                max_time = datetime.fromisoformat(max_time)
            logs = logs.where(F.col("op_time") >= F.lit(max_time))
        elif max_entries is not None:
            recent = (
                logs.select("op_id")
                .distinct()
                .orderBy(F.desc("op_id"))
                .limit(int(max_entries))
            )
            logs = logs.join(F.broadcast(recent), "op_id")
        if unpack:
            return logs
        return logs.groupBy("op_id", "user", "app", "op_time").agg(
            F.countDistinct("row_id").alias("rows_modified"),
            F.array_sort(F.collect_set("column")).alias("columns"),
        )

    def fetch_row_logs(self, name: str, row_id: str) -> DataFrame:
        """Per-row history (base.py:1216-1326) — filter pushes to scan."""
        return self.fetch_logs(name, max_entries=None).where(
            F.col("row_id") == row_id
        )

    # ==================================================================
    # mutation hooks (called from Table / Column)
    # ==================================================================
    def _current_df(self, table: Table) -> DataFrame:
        return self._read_version(
            table.name, self._current_version(table.name)
        )

    def _stage(self, table: Table, new_df: DataFrame, op: str, detail: dict,
               oplog: DataFrame | None, touched: str | None = None,
               append_df: DataFrame | None = None, transform=None) -> None:
        """Commit immediately, or queue when inside BundleEdits.

        ``transform`` = the edit as a row-local closure (see _commit) —
        enables the pruned rewrite scan."""
        bundle = getattr(table, "_bundle", None)
        if bundle is not None:
            bundle.add(new_df, op, detail, oplog, touched, transform)
            table.df = new_df  # later edits in the bundle see this one
            return
        self._commit(table.name, new_df, op, detail, oplog, touched,
                     append_df, transform)
        fresh = self.table(table.name)
        table.df = fresh.df
        table._version = fresh._version

    def _oplog_stamp(self, table: Table):
        """The commit's op-log stamp, expanding to ``user``, ``app``,
        ``op_time`` and ``op_id``. Time and version ride in one
        array-of-struct literal that ``inline`` unpacks per row:
        whole-stage codegen writes a long or timestamp literal into the
        generated source, so as plain literals every commit would compile
        new classes, while an array literal reaches the code as a reference.
        One element, so one output row per input row."""
        return F.inline(F.array(F.struct(
            F.lit(self.user).alias("user"),
            F.lit("sea-serpent-spark").alias("app"),
            F.lit(datetime.now(timezone.utc)).alias("op_time"),
            F.lit(self._current_version(table.name) + 1)
            .cast("long")
            .alias("op_id"),
        )))

    def _oplog_entries(
        self, table: Table, old_df: DataFrame, new_col: str, new_expr
    ) -> DataFrame:
        """Changed cells only (NA-aware diff — Column.update semantics,
        base.py:2171-2203 / is_equal_array utils.py:676-731 — via
        eqNullSafe, the exact semantic match)."""
        changed = old_df.withColumn("__new", new_expr).where(
            ~F.col(new_col).eqNullSafe(F.col("__new"))
        )
        return changed.select(
            self._oplog_stamp(table),
            F.col("_id").alias("row_id"),
            F.lit(new_col).alias("column"),
            F.col(new_col).cast("string").alias("old_value"),
            F.col("__new").cast("string").alias("new_value"),
        )

    def _validate_write(self, table: Table, col: str, values) -> None:
        meta = self.meta(table.name)
        cmeta = meta.get("columns", {}).get(col)
        if cmeta is None:
            return
        ctype = cmeta.get("type")
        scalars = values if isinstance(values, (list, tuple)) else [values]
        for v in scalars[:1000]:
            if not isinstance(v, (list, tuple)):
                validate_scalar(v, ctype)
        # select-option registry: warn + auto-extend (utils.py:581-605)
        if ctype in ("single-select", "multiple-select"):
            opts = set(cmeta.get("options", []))
            new_opts = set()
            for v in scalars:
                items = v if isinstance(v, (list, tuple)) else [v]
                for it in items:
                    if it is not None and it not in opts:
                        new_opts.add(it)
            if new_opts:
                warnings.warn(
                    f"adding unknown select option(s) {sorted(new_opts)} to "
                    f"{col!r} (reference utils.py:581-605)"
                )
                cmeta["options"] = sorted(opts | new_opts)
                meta["columns"][col] = cmeta
                self._write_meta(table.name, meta)

    # -- whole-column assignment (base.py:230-284) ----------------------
    def set_column(self, table: Table, col: str, values) -> None:
        df = table.df
        transform = None
        if _is_listlike(values):
            values = list(values)
            self._validate_write(table, col, values)
            new_df, oplog, transform = self._aligned_update(
                table, df, None, col, values
            )
            if col not in df.columns:
                self._register_column(table, col, new_df.schema[col].dataType)
        else:
            self._validate_write(table, col, values)
            if col in df.columns:
                expr = F.lit(values).cast(df.schema[col].dataType)
                oplog = self._oplog_entries(table, df, col, expr)
                new_df = df.withColumn(col, expr)
                # whole-column literal: row-local by construction
                transform = (
                    lambda src, opl=None: src.withColumn(col, expr)  # noqa: E731
                )
            else:
                # create-on-assign (reference requires add_column first;
                # we infer — NULL-only new columns default to string so
                # parquet never sees NullType)
                expr = (
                    F.lit(values)
                    if values is not None
                    else F.lit(None).cast("string")
                )
                oplog = None
                new_df = df.withColumn(col, expr)
                self._register_column(table, col, new_df.schema[col].dataType)
        self._stage(table, new_df, "set_column", {"column": col}, oplog,
                    touched="oplog" if oplog is not None else None,
                    transform=transform)

    def set_column_from_df(
        self, table: Table, col: str, src: DataFrame, value_col: str
    ) -> None:
        """MERGE a computed column keyed on ``_id`` (link/rollup
        materialization sink). ``src`` = DataFrame[_id, value_col]."""
        df = table.df
        upd = src.select(
            F.col("_id").alias("__uid"), F.col(value_col).alias("__newval")
        )
        joined = df.join(upd, df["_id"] == F.col("__uid"), "left")
        new_df = joined.withColumn(col, F.col("__newval")).drop(
            "__uid", "__newval"
        )
        if col not in df.columns:
            self._register_column(table, col, new_df.schema[col].dataType)
        self._stage(table, new_df, "set_column_from_df", {"column": col}, None)

    def clear_column(self, table: Table, col: str) -> None:
        """Set every cell to NULL (Column.clear, base.py:1897-1918)."""
        self.set_column(table, col, None)

    def update_column(self, table: Table, col: str, values) -> None:
        """Diff-write: only changed cells logged (base.py:2171-2203).
        With snapshot commits the data result equals set_column; the
        difference is the oplog already records only real changes."""
        self.set_column(table, col, values)

    # -- predicate / mask / id writes (base.py:2379-2463) ---------------
    def loc_write(self, table: Table, where, col: str, values) -> None:
        df = table.df
        if col not in df.columns:
            raise KeyError(col)
        applier, row_local = self._pred_applier(where, table)
        dfp = applier(df)
        if _is_listlike(values):
            values = list(values)
            self._validate_write(table, col, values)
            new_df, oplog, transform = self._aligned_update(
                table, dfp, F.col("__pred"), col, values
            )
            new_df = new_df.drop("__pred")
            oplog = oplog.drop("__pred") if "__pred" in oplog.columns else oplog
        else:
            self._validate_write(table, col, values)
            lit = F.lit(values).cast(df.schema[col].dataType)
            expr = F.when(F.col("__pred"), lit).otherwise(F.col(col))
            oplog = self._oplog_entries(table, dfp, col, expr)
            new_df = dfp.withColumn(col, expr).drop("__pred")
            transform = self._oplog_id_transform(col, lit, oplog)
        self._stage(table, new_df, "loc_write", {"column": col}, oplog,
                    touched="oplog" if oplog is not None else None,
                    transform=transform)

    @staticmethod
    def _oplog_id_transform(col: str, lit, own_oplog: DataFrame):
        """Row-local replay of a scalar write: the edit's oplog names
        exactly the changed row ids, so on a bucket-restricted scan the
        edit is a broadcast id-join + conditional assignment. Valid for
        ANY selector (predicates bound to the original plan can't be
        re-resolved on a fresh scan — changed-id sets always can).
        ``opl`` (the commit's just-written oplog parquet) avoids
        re-running the diff; bundles pass None and replay each edit's own
        captured diff lineage instead."""

        def transform(src, opl=None):
            entries = opl if opl is not None else own_oplog
            ids = F.broadcast(
                entries.select(F.col("row_id").alias("__uid")).distinct()
            )
            j = src.join(ids, src["_id"] == F.col("__uid"), "left")
            return j.withColumn(
                col,
                F.when(F.col("__uid").isNotNull(), lit).otherwise(F.col(col)),
            ).drop("__uid")

        return transform

    def _with_pred(self, df: DataFrame, where, table: Table) -> DataFrame:
        applier, _ = self._pred_applier(where, table)
        return applier(df)

    def _pred_applier(self, where, table: Table):
        """The write selector as ``(applier, row_local)``: ``applier(src)``
        adds a boolean ``__pred`` column to ``src``. ``row_local`` means
        the predicate evaluates per-row (possibly against broadcast aux
        data), so the same applier is valid on a bucket-restricted scan —
        the key that lets _commit prune the rewrite to touched files.

        Positional selectors (boolean mask / row positions) need row
        positions — a pushed ``_seq`` filter when the table is gap-free
        (row-local), else a window over ``_seq`` projected into a column
        (window expressions are legal in a projection but not in WHERE),
        which is NOT row-local."""
        if where is None or (isinstance(where, slice) and where == slice(None)):
            expr, row_local = F.lit(True), True
        elif isinstance(where, _SemiJoinFilter):
            # Broadcast semi-probe — same plan the read path uses
            # (core/table.py _semi_join), no driver collect. distinct()
            # guarantees ≤1 match/row so the left join can't fan out.
            probe = F.broadcast(
                where.lit_df.select(
                    F.col(where.col_name).alias("__sj_key")
                ).distinct()
            )
            key = where.col_name

            def applier(src):
                joined = src.join(
                    probe, src[key] == F.col("__sj_key"), "left"
                )
                return joined.withColumn(
                    "__pred", F.col("__sj_key").isNotNull()
                ).drop("__sj_key")

            return applier, True
        elif isinstance(where, Filter):
            expr, row_local = where.expr, True
        elif isinstance(where, Column):
            expr, row_local = where.expr == F.lit(True), True
        elif isinstance(where, str):
            expr, row_local = F.col("_id") == where, True
        elif _is_bool_mask(where):
            positions = [i for i, m in enumerate(list(where)) if m]
            row_local = self._seq_contiguous(table)
            expr = self._pos_expr(table).isin(positions)
        elif isinstance(where, (list, tuple)):
            expr, row_local = F.col("_id").isin(list(where)), True
        else:
            raise TypeError(f"unsupported loc-write selector: {type(where)}")
        return (lambda src: src.withColumn("__pred", expr)), row_local

    def _seq_contiguous(self, table: Table) -> bool:
        """True when _seq has no deletion gaps, i.e. position == _seq.

        Tracked as a meta flag flipped by delete_rows — no count job.
        Gap-free is the common case; it turns every positional selector
        into a pushed int64 filter instead of a global window."""
        return not self.meta(table.name).get("has_deletes", False)

    def _pos_expr(self, table: Table | None = None):
        """Row position in insertion (_seq) order (base.py:2411-2417).

        Fast path: gap-free tables use ``_seq`` directly (pushdown-able,
        no window, no single-partition sort)."""
        if table is not None and self._seq_contiguous(table):
            return F.col("_seq")
        w = Window.orderBy(F.asc("_seq"))
        return F.row_number().over(w) - 1

    def _aligned_update(
        self, table: Table, df: DataFrame, pred, col: str, values: list
    ) -> tuple[DataFrame, DataFrame | None, Any]:
        """List values aligned positionally (by _seq order) to the target
        rows — MERGE with a literal source keyed on computed position.

        Returns ``(new_df, oplog, transform)``; the transform replays the
        MERGE (an ``_id`` join against the typed update source) on any
        scan — row-local, so _commit can prune the rewrite to touched
        bucket files. The update-source lineage still scans (_id, _seq)
        of the full table to compute positions, but never the data
        columns."""
        target = df.where(pred) if pred is not None else df
        if pred is None and self._seq_contiguous(table):
            # whole-table assignment on a gap-free table: the row count
            # IS the next sequence number, maintained eagerly by every
            # ingest/append (incl. bundled appends) and invalidated by
            # delete_rows via has_deletes — no count job (r14)
            meta = self.meta(table.name)
            n = (
                int(meta["next_seq"])
                if "next_seq" in meta
                else target.count()
            )
        else:
            n = target.count()
        if len(values) != n:
            raise ValueError(f"length mismatch: {len(values)} values for {n} rows")
        if pred is None and self._seq_contiguous(table):
            # gap-free whole-table assignment: rank == _seq, no window
            keyed = target.select("_id", F.col("_seq").alias("__vidx"))
        else:
            w = Window.orderBy(F.asc("_seq"))
            keyed = target.withColumn(
                "__vidx", F.row_number().over(w) - 1
            ).select("_id", "__vidx")
        is_new = col not in df.columns
        # Arrow-batched pandas conversion: orders of magnitude faster than
        # a row-at-a-time Python tuple list for 100k+-value assignments.
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "__vidx": range(len(values)),
                "__newval": pd.Series(values, dtype="object"),
            }
        )
        if is_new:
            src = self.spark.createDataFrame(pdf)
        else:
            dtype = df.schema[col].dataType
            src = self.spark.createDataFrame(
                pdf,
                T.StructType(
                    [
                        T.StructField("__vidx", T.LongType()),
                        T.StructField("__newval", dtype),
                    ]
                ),
            )
        upd = keyed.join(src.withColumnRenamed("__vidx", "__vidx2"),
                         keyed["__vidx"] == F.col("__vidx2")).select(
            F.col("_id").alias("__uid"), "__newval"
        )
        # Materialize the MERGE source once: the oplog-diff job and the
        # pruned-rewrite job otherwise each re-execute its lineage (a
        # (_id,_seq) scan of the table + the positional join). k narrow
        # rows — exactly the rows being written — truncated to a local
        # checkpoint both jobs read back.
        from ..operators.util import tracked_checkpoint

        upd, _ = tracked_checkpoint(upd)
        # MERGE-source broadcast gate: rows are narrow (_id string +
        # value ≈ 40 B), so 1M rows ≈ 40 MB — well inside executor
        # memory, and it converts BOTH downstream joins (oplog diff and
        # bucket rewrite) from full-table shuffles into broadcast-hash
        # probes. Above the gate the joins fall back to shuffle (AQE may
        # still upgrade at runtime).
        upd_src = F.broadcast(upd) if n <= 1_000_000 else upd
        joined = df.join(upd_src, df["_id"] == F.col("__uid"), "left")
        old = F.lit(None) if is_new else F.col(col)
        expr = F.when(F.col("__uid").isNotNull(), F.col("__newval")).otherwise(old)
        if is_new:
            oplog = None
        else:
            oplog = self._oplog_entries(table, joined, col, expr).drop(
                "__uid", "__newval"
            )
        new_df = joined.withColumn(col, expr).drop("__uid", "__newval")

        def transform(s, opl=None):
            j = s.join(upd_src, s["_id"] == F.col("__uid"), "left")
            e = F.when(
                F.col("__uid").isNotNull(), F.col("__newval")
            ).otherwise(F.lit(None) if is_new else F.col(col))
            return j.withColumn(col, e).drop("__uid", "__newval")

        return new_df, oplog, transform

    # -- append (base.py:822-861) ---------------------------------------
    def append(self, table: Table, other) -> None:
        import pandas as pd

        df = table.df
        pdf = None
        if isinstance(other, Table):
            odf = other.df
        elif isinstance(other, DataFrame):
            odf = other
        elif isinstance(other, pd.DataFrame):
            pdf = _arrow_safe_pdf(other.reset_index(drop=True).copy())
            odf = None
        else:
            raise TypeError(f"cannot append {type(other)}")
        ocols = list(pdf.columns) if pdf is not None else odf.columns
        common = [
            c for c in df.columns if c in ocols and c not in ("_id", "_seq")
        ]
        if not common:
            raise ValueError("no intersecting columns to append")
        start = self._next_seq(table)
        if pdf is not None and len(pdf) > 0:
            # driver-resident input: the dense sequence IS the pandas
            # row order, so stamp _seq/_id here (as from_frame does) —
            # no persist + per-partition-count collect + unpersist
            # round-trip through _with_seq for a frame we already hold
            # (the empty case keeps the generic path: inserting empty
            # columns would degrade their pandas dtypes to object)
            import numpy as np

            n_new = len(pdf)
            pdf = pdf[common].copy()
            pdf.insert(
                0, "_seq", np.arange(start, start + n_new, dtype="int64")
            )
            pdf.insert(
                0, "_id", [_row_id(i) for i in range(start, start + n_new)]
            )
            incoming = self.spark.createDataFrame(pdf)
            unpersist = _noop
        else:
            if pdf is not None:
                odf = self.spark.createDataFrame(pdf)
            # no ``micro`` here (r15): the TARGET's bucket count does
            # not bound the INCOMING frame — a large wide-plan first
            # append to a single-bucket table must keep AQE for its
            # persist fill. Narrow (scan/project/filter) sources still
            # take the fast path via _with_seq's own plan gate, which
            # is size-independent: a narrow fill has no exchange AQE
            # could improve at any scale.
            incoming, n_new, unpersist = self._with_seq(
                odf, common, start,
            )
        for c in df.columns:
            if c not in incoming.columns:
                incoming = incoming.withColumn(
                    c, F.lit(None).cast(df.schema[c].dataType)
                )
        incoming = incoming.select(*df.columns)
        for c in common:
            incoming = incoming.withColumn(c, F.col(c).cast(df.schema[c].dataType))
        self._set_next_seq(table, start + n_new)
        self._stage(
            table, df.unionByName(incoming), "append", {"rows": n_new}, None,
            touched="append", append_df=incoming,
        )
        bundle = getattr(table, "_bundle", None)
        if bundle is None:
            unpersist()
        else:
            # commit is deferred to the bundle flush — the cache must
            # outlive it (mid is only stable within one materialization)
            bundle._cleanups.append(unpersist)

    def upsert(self, table: Table, source, on, update_cols=None) -> dict:
        """MERGE by business key (beyond the reference, which only
        appends or updates by ``_id``; this is Delta's
        ``MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT``):
        source rows whose key exists update the matching row's columns,
        new keys append. Returns ``{"updated": n, "inserted": n}``
        (cells actually changed are what the oplog records — a matched
        row with identical values logs nothing).

        Two commits through the proven paths: the update phase stages a
        keyed left join with cell-level oplog (bucket-pruned rewrite —
        ``touched='oplog'``), the insert phase reuses ``append``
        (append-only files). Source keys must be unique — a multi-match
        MERGE is ambiguous and raises, mirroring Delta's
        ``DeltaUnsupportedOperationException`` on duplicate matches."""
        import pandas as pd

        from ..operators.util import tracked_checkpoint

        df = table.df
        spdf = None
        if isinstance(source, Table):
            sdf = source.df
        elif isinstance(source, DataFrame):
            sdf = source
        elif isinstance(source, pd.DataFrame):
            spdf = _arrow_safe_pdf(source.reset_index(drop=True).copy())
            sdf = self.spark.createDataFrame(spdf)
        else:
            raise TypeError(f"cannot upsert {type(source)}")
        keys = [on] if isinstance(on, str) else list(on)
        for k in keys:
            if k not in df.columns or k not in sdf.columns:
                raise ValueError(f"upsert key {k!r} missing from a side")
        if spdf is not None:
            # driver-resident source: uniqueness is checkable in pandas,
            # and the LocalRelation behind createDataFrame re-executes
            # for free — no keyed aggregate, no eager checkpoint, no
            # duplicate-probe job
            if bool(spdf.duplicated(subset=keys).any()):
                raise ValueError("duplicate keys in upsert source")
            src = sdf
        else:
            # One materialization of the source serves the duplicate-key
            # probe, the update join, and the insert anti-join: group by
            # key (first() per column is exact because singleton groups
            # are then enforced), checkpoint eagerly, and every later
            # pass reads the stored blocks instead of re-running the
            # source plan.
            s_keyed, _ = tracked_checkpoint(
                sdf.groupBy(*keys).agg(
                    F.count(F.lit(1)).alias("__src_cnt"),
                    *[
                        F.first(c).alias(c)
                        for c in sdf.columns
                        if c not in keys
                    ],
                )
            )
            if s_keyed.where(F.col("__src_cnt") > 1).limit(1).count():
                raise ValueError("duplicate keys in upsert source")
            src = s_keyed.drop("__src_cnt")
        # update_cols=None → every common non-key column; an explicit []
        # means insert-only (matched rows untouched)
        cols = update_cols if update_cols is not None else [
            c
            for c in src.columns
            if c in df.columns and c not in (*keys, "_id", "_seq")
        ]
        if cols:
            s_sel = src.select(
                *[F.col(k) for k in keys],
                *[F.col(c).alias(f"__s_{c}") for c in cols],
                F.lit(True).alias("__m"),
            )
            # checkpoint the keyed join once: the matched-row count, the
            # per-column oplog scans, and the staged rewrite all read it —
            # uncheckpointed, each was a separate execution of the join
            joined, _ = tracked_checkpoint(df.join(s_sel, keys, "left"))
            oplogs = []
            # counts matched rows — including matches whose new values
            # equal the old (the oplog records only real cell changes)
            n_updated = (
                joined.where(F.col("__m").isNotNull()).count()
            )
            new_df = joined
            for c in cols:
                new_val = F.when(
                    F.col("__m").isNotNull(),
                    F.col(f"__s_{c}").cast(df.schema[c].dataType),
                ).otherwise(F.col(c))
                oplogs.append(
                    self._oplog_entries(table, joined, c, new_val)
                )
                new_df = new_df.withColumn(c, new_val)
            new_df = new_df.select(*df.columns)
            oplog = oplogs[0]
            for o in oplogs[1:]:
                oplog = oplog.unionByName(o)
            if n_updated:
                self._stage(
                    table, new_df, "upsert",
                    {"keys": keys, "updated": n_updated},
                    oplog, touched="oplog",
                )
        else:
            # insert-if-absent only (explicit update_cols=[] or key-only
            # source)
            n_updated = 0
        inserts = src.join(df.select(*keys), keys, "left_anti")
        n_inserted = inserts.count()
        if n_inserted:
            # _stage already refreshed table.df (commit or bundle), so
            # append sees the post-update state on the same handle
            self.append(table, inserts)
        return {"updated": n_updated, "inserted": n_inserted}

    def _next_seq(self, table: Table) -> int:
        meta = self.meta(table.name)
        if "next_seq" in meta:
            return int(meta["next_seq"])
        mx = table.df.agg(F.max("_seq")).collect()[0][0]
        return (mx + 1) if mx is not None else 0

    def _set_next_seq(self, table: Table, value: int) -> None:
        meta = self.meta(table.name)
        meta["next_seq"] = int(value)
        self._write_meta(table.name, meta)

    # -- delete rows (base.py:865-938) ----------------------------------
    def _rows_pred(self, table: Table, rows) -> DataFrame:
        """Resolve the reference's polymorphic row selector (positions /
        ids / mask / Filter, base.py:884-917) to a ``__pred`` column."""
        df = table.df
        if isinstance(rows, int):
            rows = [rows]
        if (
            isinstance(rows, (list, tuple))
            and rows
            and all(isinstance(r, int) for r in rows)
            and not _is_bool_mask(rows)
        ):
            # index positions → _seq order (base.py:884-893)
            return df.withColumn(
                "__pred", self._pos_expr(table).isin(list(rows))
            )
        return self._with_pred(df, rows, table)

    def count_rows_matching(self, table: Table, rows) -> int:
        """How many rows a ``delete_rows`` selector resolves to — feeds
        the confirmation prompt (base.py:919-922 shows the count)."""
        return self._rows_pred(table, rows).where(F.col("__pred")).count()

    def delete_rows(self, table: Table, rows) -> None:
        dfp = self._rows_pred(table, rows)
        removed = dfp.where(F.col("__pred")).drop("__pred")
        oplog = removed.select(
            self._oplog_stamp(table),
            F.col("_id").alias("row_id"),
            F.lit("_row").alias("column"),
            F.lit("present").alias("old_value"),
            F.lit("deleted").alias("new_value"),
        )
        kept = dfp.where(~F.col("__pred")).drop("__pred")
        # deletes leave gaps in _seq → positional fast path off from now on
        meta = self.meta(table.name)
        if not meta.get("has_deletes"):
            meta["has_deletes"] = True
            self._write_meta(table.name, meta)

        own_oplog = oplog

        def transform(src, opl=None):
            entries = opl if opl is not None else own_oplog
            ids = F.broadcast(
                entries.select(F.col("row_id").alias("_id")).distinct()
            )
            return src.join(ids, "_id", "left_anti")

        self._stage(table, kept, "delete_rows", {}, oplog, touched="oplog",
                    transform=transform)

    # -- schema ops (base.py:693-744, 2073-2102, 1922-1936) --------------
    def add_column(self, table: Table, col_name: str, col_type,
                   col_data=None, col_options=None) -> None:
        df = table.df
        if col_name in df.columns:
            raise ValueError(f"duplicate column name {col_name!r}")
        st = normalize_type(col_type)
        meta = self.meta(table.name)
        nk = int(meta.get("next_key", len(meta.get("columns", {}))))
        centry: dict = {"type": st, "key": f"c{nk:04d}"}
        meta["next_key"] = nk + 1
        if col_options:
            centry["options"] = list(col_options)
        if col_data:
            centry["data"] = col_data
        meta["columns"][col_name] = centry
        self._write_meta(table.name, meta)
        new_df = df.withColumn(col_name, F.lit(None).cast(spark_type(st)))
        # metadata-only: no files written — existing files simply lack
        # the new physical key and the column-mapped read NULL-fills it
        self._stage(table, new_df, "add_column", {"column": col_name}, None,
                    touched="metadata")

    def rename_column(self, table: Table, old: str, new: str) -> None:
        df = table.df
        if old not in df.columns:
            raise KeyError(old)
        if new in df.columns:
            raise ValueError(f"duplicate column name {new!r}")
        meta = self.meta(table.name)
        if old in meta.get("columns", {}):
            meta["columns"][new] = meta["columns"].pop(old)
            self._write_meta(table.name, meta)
        # metadata-only: the stable key is the physical name, so a rename
        # moves the meta entry and never touches a file
        self._stage(
            table,
            df.withColumnRenamed(old, new),
            "rename_column",
            {"from": old, "to": new},
            None,
            touched="metadata",
        )

    def drop_column(self, table: Table, col: str) -> None:
        df = table.df
        if col not in df.columns:
            raise KeyError(col)
        if col in ("_id", "_seq"):
            raise ValueError(f"cannot drop reserved column {col!r}")
        meta = self.meta(table.name)
        meta.get("columns", {}).pop(col, None)
        self._write_meta(table.name, meta)
        # metadata-only: the physical column stays in old files but no
        # version's schema selects it (and a re-added name gets a fresh
        # key, so stale data cannot resurrect)
        self._stage(table, df.drop(col), "drop_column", {"column": col}, None,
                    touched="metadata")

    # -- column metadata ops (base.py:2106-2128 resize, 2132-2156
    #    freeze/unfreeze, 2222-2258 add_options) — metadata-only, no new
    #    data snapshot --------------------------------------------------
    def _register_column(self, table: Table, col: str, dtype) -> None:
        """Mint a meta entry (stable physical key) for a column created
        outside ``add_column`` — create-on-assign and computed-column
        sinks — so the column-mapped commit writes it under a key."""
        if col in ("_id", "_seq"):
            return
        meta = self.meta(table.name)
        cols = meta.setdefault("columns", {})
        if col in cols:
            return
        nk = int(meta.get("next_key", len(cols)))
        cols[col] = {"type": infer_from_spark_type(dtype), "key": f"c{nk:04d}"}
        meta["next_key"] = nk + 1
        self._write_meta(table.name, meta)

    def update_column_meta(self, table: Table, col: str, **updates) -> dict:
        if col not in table.df.columns:
            raise KeyError(col)
        meta = self.meta(table.name)
        centry = meta.setdefault("columns", {}).setdefault(col, {})
        centry.update(updates)
        self._write_meta(table.name, meta)
        return centry

    def add_select_options(self, table: Table, col: str, options) -> None:
        """Extend a select column's allowed options (base.py:2222-2258);
        type-gated to single-/multiple-select like the reference."""
        meta = self.meta(table.name)
        centry = meta.get("columns", {}).get(col, {})
        ctype = centry.get("type", "")
        if ctype not in ("single-select", "multiple-select"):
            raise TypeError(
                "Can only set options for single- or multiple-select "
                f"columns. This column is of type {ctype!r}."
            )
        if not _is_listlike(options) and not isinstance(options, set):
            raise ValueError("`options` must be list, set or array")
        merged = sorted(set(centry.get("options", [])) | {str(o) for o in options})
        self.update_column_meta(table, col, options=merged)

    # -- clone (Table.from_table / _from_ss_table, base.py:484-581) ------
    def copy_table(self, src: Table, new_name: str,
                   include_views: bool = True) -> Table:
        """Clone a table into this store: column metadata (link columns
        skipped, as in the reference base.py:497-500), data, and view
        specs. The data copy is a distributed parquet→parquet write —
        no driver collect, so it scales with executor count."""
        if new_name in self:
            raise ValueError(f"table {new_name!r} already exists")
        if src.store is not None:
            src_meta = src.store.meta(src.name)
        else:
            src_meta = {"columns": {}, "views": list(src._views)}
        src_cols = src_meta.get("columns", {})
        link_cols = [c for c, m in src_cols.items() if m.get("type") == "link"]
        if link_cols:
            warnings.warn(
                "Table contains `link` columns which will not be copied."
            )
        new_cols = {
            c: dict(m) for c, m in src_cols.items() if c not in link_cols
        }
        df = src.df.drop(*link_cols) if link_cols else src.df
        os.makedirs(self._tdir(new_name), exist_ok=True)
        new_meta: dict = {"columns": new_cols}
        if include_views and src_meta.get("views"):
            new_meta["views"] = [dict(v) for v in src_meta["views"]]
        if "next_seq" in src_meta:
            new_meta["next_seq"] = src_meta["next_seq"]
        if "next_key" in src_meta:
            # key counter must survive the copy — a fresh counter could
            # re-mint a key still borne by a copied column
            new_meta["next_key"] = src_meta["next_key"]
        if "bucket_count" in src_meta:
            new_meta["bucket_count"] = src_meta["bucket_count"]
        self._write_meta(new_name, new_meta)
        self._commit(new_name, df, "copy_table", {"from": src.name})
        return self.table(new_name)


def _row_id(i: int) -> str:
    return f"r{i:08d}"


def _noop() -> None:
    """Stands in for _with_seq's unpersist handle on paths that never
    persisted (bundle cleanups call it unconditionally)."""


def _arrow_safe_pdf(pdf):
    """Convert pandas nullable extension columns (Int64/boolean/string/
    Float64…) to object-with-``None`` so ``createDataFrame`` round-trips
    NULLs identically whether or not the session has Arrow enabled.

    On the non-Arrow path ``pd.NA`` silently becomes a NaN double —
    ``IS NULL`` turns false and integer columns arrive as doubles (the
    round-2 driver q05 failure mode). Callers own ``pdf`` (already
    copied)."""
    import pandas as pd

    for c in pdf.columns:
        dt = pdf[c].dtype
        if pd.api.types.is_extension_array_dtype(dt) and not isinstance(
            dt, pd.CategoricalDtype
        ):
            pdf[c] = pdf[c].astype(object).where(pdf[c].notna(), None)
    return pdf


def _with_keys(meta_cols: dict) -> dict:
    """Assign stable column keys at creation (reference meta['columns']
    carry a server-generated 'key' distinct from the name, base.py:1795;
    renames keep the key because the whole entry moves)."""
    for i, centry in enumerate(meta_cols.values()):
        centry.setdefault("key", f"c{i:04d}")
    return meta_cols


def _is_listlike(v) -> bool:
    if isinstance(v, (str, bytes, dict)):
        return False
    try:
        import numpy as np
        import pandas as pd

        if isinstance(v, (pd.Series, np.ndarray)):
            return True
    except ImportError:  # pragma: no cover
        pass
    return isinstance(v, (list, tuple))


def _is_bool_mask(obj) -> bool:
    try:
        import numpy as np
        import pandas as pd

        if isinstance(obj, (pd.Series, np.ndarray)):
            return obj.dtype == bool
    except ImportError:  # pragma: no cover
        pass
    return (
        isinstance(obj, (list, tuple))
        and len(obj) > 0
        and all(isinstance(x, bool) for x in obj)
    )
