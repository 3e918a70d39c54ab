"""Generations of the persisted index artifacts: open, cache, append to,
compact and commit.

The two probe indexes (the LSH band index in
``operators/incremental.py``, the IVF list index in
``operators/ann_index.py``) share one on-disk discipline, and this
module is its only implementation; the index modules keep only their
format (partition and sort columns, ``kb``/bloom metadata, codebooks).

Commit (the mutation store's versioned-manifest pattern,
``mutation/store.py _commit``):

- every (re)build or compaction writes a COMPLETE new layout into a
  fresh generation directory ``{root}/g{N:05d}`` — existing generations
  are never modified;
- the artifact's current generation is named by a ``_versions.json``
  manifest at the root, published by write-temp + ``os.rename`` of a
  single FILE — atomic on posix, so a reader resolves either the old
  or the new generation, never a mix, and there is no instant at which
  the artifact does not exist;
- readers PIN the generation at open time: the resolved directory is
  immutable, so a compaction racing a probe cannot change the files
  under the probe's plan;
- old generations are garbage-collected at publish time, keeping
  ``keep`` of them (default 2: current + previous) so a reader that
  resolved just before a publish still finds its files;
- appends land in the current generation's unsorted ``_tail`` (the
  LSM L0 shape), which every open re-lists; a compaction folds the
  tail back into a new generation under one writer lease.

Open (:func:`open_generation`, :func:`open_frame`): the generation's
sidecar JSON is parsed once and the main layout's ANALYZED frame (file
listing plus the sidecar-pinned schema) is built once per generation
and process, in one cache keyed by (application id, generation dir,
sidecar stat triple), then re-bound to each caller's session. A
published generation never changes, but deleting an artifact and
rebuilding it at the same path reuses the generation NAME with new
files, so the dir alone is no identity; every build writes a new
sidecar, whose (inode, mtime_ns, size) is. The application id keeps a
restarted session from being served dead JVM plan handles.

Legacy flat layouts (data directly under the root, no manifest) remain
readable — ``current_dir`` falls back to the root — are never cached
(their appends may land in the root itself), and migrate to
generations on their next compaction/rebuild.

At multi-writer scale the manifest maps 1:1 onto a Delta/Iceberg
transactional commit; the single-file rename is the container-friendly
stand-in (documented single-host, multi-reader/single-writer scope).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..lease import LeaseHeldError, writer_lease  # noqa: F401  (re-export)
from .util import rebind

#: Root-level manifest naming the current generation. Underscore-prefixed
#: so Spark's parquet directory scans ignore it.
MANIFEST = "_versions.json"

#: Unsorted append tail (LSM L0) under a generation: per-batch appends
#: land here as a few files instead of fanning tiny files across every
#: partition directory; underscore-prefixed so the main partitioned
#: scan never double-reads it.
TAIL = "_tail"

#: The one cache of opened generations: (application id, generation
#: dir, sidecar stat triple) → ``[parsed sidecar, analyzed main frame
#: or None]``. Cleared whole when full. Unlocked: two threads opening
#: one generation at once can only parse or analyze it twice, since every
#: entry under a key describes the same immutable files.
_MAIN_FRAME_CACHE: dict = {}
_MAIN_FRAME_CACHE_MAX = 32


def read_manifest(root: str) -> dict | None:
    """The artifact's manifest, or None (absent / legacy layout)."""
    p = os.path.join(root, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def current_dir(root: str) -> str:
    """Directory holding the CURRENT generation's data — the generation
    the manifest names, or the root itself for legacy flat layouts."""
    m = read_manifest(root)
    if m and m.get("current"):
        return os.path.join(root, m["current"])
    return root


def new_generation_dir(root: str) -> tuple[str, str]:
    """→ (generation name, absolute staging path) for the next
    generation. The directory is NOT created and NOT yet visible to
    readers — write the complete layout there, then
    :func:`publish_generation`."""
    m = read_manifest(root) or {}
    cur = m.get("current")
    n = int(cur[1:]) + 1 if cur else 1
    name = f"g{n:05d}"
    return name, os.path.join(root, name)


def publish_generation(root: str, generation: str, keep: int = 2) -> None:
    """Atomically make ``generation`` the artifact's current one and GC
    generations older than the newest ``keep``. Crash analysis: a crash
    before the rename leaves the old manifest intact (the new generation
    directory is unreferenced garbage, removed by the next publish's
    GC); the rename itself is atomic; a crash after it loses only
    not-yet-GC'd old generations' disk space.

    Publish holds the artifact's single-writer lease (r11): a second
    concurrent publisher raises ``LeaseHeldError`` instead of silently
    interleaving generations. Builder flows that stage first should
    hold the SAME lease across ``new_generation_dir`` → publish (it is
    re-entrant in-process), so two builders cannot stage into the same
    generation name either."""
    os.makedirs(root, exist_ok=True)
    with writer_lease(root, owner="artifact-publish"):
        prev = read_manifest(root) or {}
        gens = [g for g in prev.get("generations", []) if g != generation]
        gens.append(generation)
        manifest = {
            "current": generation,
            "generations": gens[-max(1, keep):],
        }
        tmp = os.path.join(root, f".{MANIFEST}.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, os.path.join(root, MANIFEST))  # atomic publish
        keep_set = set(manifest["generations"])
        for d in os.listdir(root):
            full = os.path.join(root, d)
            if (
                os.path.isdir(full)
                and d.startswith("g")
                and d[1:].isdigit()
                and d not in keep_set
            ):
                shutil.rmtree(full, ignore_errors=True)


def clear_legacy_layout(root: str) -> None:
    """Remove a pre-versioning flat layout's data from the root (called
    after the first generation is published over it, so readers already
    resolve the generation). Only partition directories, parquet files,
    and the legacy tail/_SUCCESS markers are touched."""
    for d in list(os.listdir(root)):
        full = os.path.join(root, d)
        if d.startswith("g") and d[1:].isdigit():
            continue
        if d == MANIFEST:
            continue
        if os.path.isdir(full) and ("=" in d or d == TAIL):
            shutil.rmtree(full, ignore_errors=True)
        elif d == "_SUCCESS" or d.endswith(".parquet"):
            os.remove(full)


@dataclass(frozen=True)
class Generation:
    """A pinned generation: its data ``dir``, its parsed sidecar
    ``meta`` (``{}`` when absent or unreadable) and its cache ``key``
    (None for legacy flat layouts and unreadable sidecars, which are
    never cached)."""

    dir: str
    meta: dict
    key: tuple | None


def open_generation(
    spark: SparkSession, root: str, sidecar: str
) -> Generation:
    """Resolve ``root``'s current generation and parse its ``sidecar``
    (once per generation: the parse is cached with the frame)."""
    src = current_dir(root)
    path = os.path.join(src, sidecar)
    try:
        st = os.stat(path)
    except OSError:
        return Generation(src, {}, None)
    key = None
    if src != root:  # legacy flat layout — mutable dir, never cache
        key = (
            spark.sparkContext.applicationId, src,
            (st.st_ino, st.st_mtime_ns, st.st_size),
        )
        hit = _MAIN_FRAME_CACHE.get(key)
        if hit is not None:
            return Generation(src, hit[0], key)
    try:
        with open(path) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        # an unreadable sidecar never blocks the open, but it is no
        # identity to cache on either
        return Generation(src, {}, None)
    if key is not None:
        if len(_MAIN_FRAME_CACHE) >= _MAIN_FRAME_CACHE_MAX:
            _MAIN_FRAME_CACHE.clear()
        _MAIN_FRAME_CACHE[key] = [meta, None]
    return Generation(src, meta, key)


def open_frame(spark: SparkSession, gen: Generation) -> DataFrame:
    """The generation's main layout UNION its append tail, in
    ``spark``. The main frame is read with the sidecar's pinned
    ``schema`` (no footer-inference job; a corrupt or missing entry
    falls back to inference) and reused across opens of the same
    generation. The tail is re-listed on every open and read with the
    main schema: an all-duplicate batch appends zero rows (no data
    files, just ``_SUCCESS``), and a schema-less read of that empty dir
    fails inference."""
    entry = _MAIN_FRAME_CACHE.get(gen.key) if gen.key else None
    if entry is not None and entry[1] is not None:
        # the frame may come from another session (a sink batch's
        # posture clone): plan it under the caller's own conf
        df = rebind(entry[1], spark)
    else:
        reader = spark.read
        if gen.meta.get("schema"):
            try:
                from pyspark.sql.types import StructType

                reader = spark.read.schema(
                    StructType.fromJson(json.loads(gen.meta["schema"]))
                )
            except Exception:
                reader = spark.read
        df = reader.parquet(gen.dir)
        if entry is not None:
            entry[1] = df
    tail = os.path.join(gen.dir, TAIL)
    if os.path.isdir(tail):
        df = df.unionByName(
            spark.read.schema(df.schema).parquet(tail).select(*df.columns)
        )
    return df


def write_layout(
    frame: DataFrame,
    target: str,
    partition_by: list[str],
    sort_by: list[str],
    sidecar: str,
    meta: dict,
) -> None:
    """One sorted file per partition directory of ``target`` (one
    partition group per task; the writer streams because the
    within-task sort leads with the partition columns), then the
    ``sidecar``: ``meta`` plus the full schema, so every open skips the
    footer-inference job."""
    (
        frame.repartition(*partition_by)
        .sortWithinPartitions(*partition_by, *sort_by)
        .write.mode("overwrite")
        .partitionBy(*partition_by)
        .parquet(target)
    )
    with open(os.path.join(target, sidecar), "w") as fh:
        json.dump({**meta, "schema": frame.schema.json()}, fh)


def write_generation(
    root: str, owner: str, stage: Callable[[str], None]
) -> None:
    """Commit a new generation: under the writer lease, ``stage`` writes
    the complete layout into the fresh generation directory, which is
    then published; a legacy flat layout it replaces is cleared."""
    with writer_lease(root, owner=owner):
        legacy = read_manifest(root) is None
        gen, staging = new_generation_dir(root)
        stage(staging)
        publish_generation(root, gen)
        if legacy:  # readers already resolve the generation
            clear_legacy_layout(root)


def append_tail(
    frame: DataFrame,
    gen_dir: str,
    by: str,
    sort_by: list[str],
    micro: bool,
    partitioned: bool,
) -> None:
    """Append ``frame`` to ``gen_dir``'s tail, sorted by (``by``,
    ``sort_by``) within each file, partitioned by ``by`` when
    ``partitioned``. Micro-batch appends write from one task (no
    shuffle stage for a few-hundred-row batch); backfill-sized appends
    keep the parallel repartition by ``by``."""
    shaped = frame.coalesce(1) if micro else frame.repartition(by)
    w = shaped.sortWithinPartitions(by, *sort_by).write.mode("append")
    if partitioned:
        w = w.partitionBy(by)
    w.parquet(os.path.join(gen_dir, TAIL))


def parquet_files(d: str) -> int:
    """Number of parquet files under ``d``."""
    return sum(
        1 for _, _, files in os.walk(d)
        for f in files if f.endswith(".parquet")
    )


def compact(
    spark: SparkSession,
    root: str,
    sidecar: str,
    owner: str,
    stage: Callable[[Generation, DataFrame, str], None],
) -> dict:
    """Fold the current generation's tail into a new generation →
    ``{"files_before": n, "files_after": m}``. ``stage`` writes the
    pinned generation's main ∪ tail frame into the staging directory
    (:func:`write_generation`). The writer lease covers the whole
    compaction, from the open to the publish; a concurrent probe keeps
    the generation it pinned."""
    with writer_lease(root, owner=owner):
        gen = open_generation(spark, root, sidecar)
        before = parquet_files(gen.dir)
        frame = open_frame(spark, gen)
        write_generation(
            root, owner, lambda staging: stage(gen, frame, staging)
        )
    return {
        "files_before": before,
        "files_after": parquet_files(current_dir(root)),
    }
