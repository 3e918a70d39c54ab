"""Incremental dedup against a persisted index == batch dedup over the
union — the contract that lets an ingest pipeline stop re-shuffling
history. The documents table is split at the id median into a 'history'
half and a 'delta' half; every property is checked against the batch
operators on the union."""

import pyspark.sql.functions as F
import pytest

from sea_serpent_spark.operators import dedup as D
from sea_serpent_spark.operators import incremental as I

THRESH = 0.5


@pytest.fixture(scope="module")
def halves(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    old = docs.where(F.col("doc_id") <= mid)
    new = docs.where(F.col("doc_id") > mid)
    return old, new


def test_incremental_pairs_match_batch_restriction(spark, halves):
    """Pairs from (delta vs index ∪ delta) == batch pairs over the union
    restricted to pairs touching the delta — banding and the agreement
    estimate are deterministic, so the sets are identical."""
    old, new = halves
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    idx = I.minhash_band_index(old)
    inc = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in I.incremental_minhash_pairs(
            new, idx, jaccard_threshold=THRESH
        ).collect()
    }
    batch = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.minhash_lsh_pairs(
            old.unionByName(new), jaccard_threshold=THRESH
        ).collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert inc == batch
    assert inc  # the corpus actually contains cross-half near-dups


def test_incremental_dedup_matches_batch_on_prededuped_history(
    spark, halves
):
    """With history pre-deduped (no old-old pairs remain) and old ids
    below new ids (min of an old-touching component is old), the
    incremental survivors equal the batch survivors' new side."""
    old_raw, new = halves
    old = D.dedup_corpus(old_raw, threshold=THRESH)
    idx = I.minhash_band_index(old)

    inc = {
        r["doc_id"]
        for r in I.incremental_dedup(
            new, idx, jaccard_threshold=THRESH
        ).select("doc_id").collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    batch = {
        r["doc_id"]
        for r in D.dedup_corpus(
            old.unionByName(new), threshold=THRESH
        ).select("doc_id").collect()
    } & new_ids
    assert inc == batch
    assert inc < new_ids  # something was actually dropped


def test_incremental_dedup_reingest_is_idempotent(spark, halves):
    """Re-ingesting already-indexed docs (same ids — the foreachBatch
    replay case under at-least-once delivery) drops them ALL instead of
    double-appending: pre-fix, an id-colliding delta doc was classified
    'old', escaped the loser set, and 100% of a fully-indexed corpus
    survived re-ingest (round-8 rehearsal)."""
    old_raw, new = halves
    idx = I.minhash_band_index(old_raw)
    replay = I.incremental_dedup(old_raw, idx, jaccard_threshold=THRESH)
    assert replay.count() == 0
    # a mixed batch: replayed docs drop, genuinely-new survivors keep
    mixed = old_raw.unionByName(new)
    kept = {
        r["doc_id"]
        for r in I.incremental_dedup(
            mixed, idx, jaccard_threshold=THRESH
        ).select("doc_id").collect()
    }
    old_ids = {r["doc_id"] for r in old_raw.select("doc_id").collect()}
    assert not (kept & old_ids)
    fresh_only = {
        r["doc_id"]
        for r in I.incremental_dedup(
            new, idx, jaccard_threshold=THRESH
        ).select("doc_id").collect()
    }
    assert kept == fresh_only


def test_incremental_exact_matches_batch(spark, halves):
    old, new = halves
    seen = D.exact_dedup_groups(old)  # the persisted exact index
    inc = {
        r["doc_id"]
        for r in I.incremental_exact_dedup(new, seen)
        .select("doc_id")
        .collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    batch = {
        r["doc_id"]
        for r in D.dedup_corpus(
            old.unionByName(new), method="exact"
        ).select("doc_id").collect()
    } & new_ids
    assert inc == batch


def test_unique_delta_survives_whole(spark, halves):
    """A delta with no duplicates (against history or itself) passes
    through untouched, full schema preserved."""
    old, _ = halves
    uniq = spark.createDataFrame(
        [
            (100_000, "zyx wvu tsr qpo nml", "en", "synth", 19),
            (100_001, "aaa bbb ccc ddd eee fff", "en", "synth", 23),
        ],
        schema=old.schema,
    )
    idx = I.minhash_band_index(old)
    out = I.incremental_dedup(uniq, idx, jaccard_threshold=THRESH)
    assert {r["doc_id"] for r in out.collect()} == {100_000, 100_001}
    assert out.columns == old.columns

    seen = D.exact_dedup_groups(old)
    out2 = I.incremental_exact_dedup(uniq, seen)
    assert out2.count() == 2


def test_index_roundtrip_through_parquet(spark, halves, tmp_path):
    """The index is a plain DataFrame artifact: writing it out
    (partitioned by band — the probe join's first key) and reading it
    back yields identical incremental results."""
    old, new = halves
    idx = I.minhash_band_index(old)
    p = str(tmp_path / "lsh_index")
    idx.write.partitionBy("band").parquet(p)
    idx2 = spark.read.parquet(p)
    a = {
        (r["id_a"], r["id_b"])
        for r in I.incremental_minhash_pairs(
            new, idx, jaccard_threshold=THRESH
        ).collect()
    }
    b = {
        (r["id_a"], r["id_b"])
        for r in I.incremental_minhash_pairs(
            new, idx2, jaccard_threshold=THRESH
        ).collect()
    }
    assert a == b


def test_incremental_spanning_same_survivors(spark, halves):
    """incremental_dedup consumes spanning edges; the survivor set must
    equal a pairs-mode replica of the same keeper logic."""
    old, new = halves
    idx = I.minhash_band_index(old)

    def survivors(emit):
        pairs = I.incremental_minhash_pairs(
            new, idx, jaccard_threshold=THRESH, emit=emit
        )
        comp = D.connected_components(pairs)
        old_ids = idx.select("id").distinct().withColumn(
            "__old", F.lit(True)
        )
        lab = comp.join(old_ids, "id", "left")
        keep_new = (
            lab.groupBy("component")
            .agg(
                F.max(F.coalesce("__old", F.lit(False))).alias("has_old"),
                F.min(
                    F.when(F.col("__old").isNull(), F.col("id"))
                ).alias("min_new"),
            )
            .where(~F.col("has_old"))
            .select(F.col("min_new").alias("id"))
        )
        new_in_pairs = comp.join(old_ids.select("id"), "id", "left_anti")
        losers = {
            r["id"]
            for r in new_in_pairs.join(keep_new, "id", "left_anti").collect()
        }
        return losers

    assert survivors("spanning") == survivors("pairs")
    # and the public entry point (spanning by default) agrees
    all_new = {r["doc_id"] for r in new.select("doc_id").collect()}
    kept = {
        r["doc_id"]
        for r in I.incremental_dedup(
            new, idx, jaccard_threshold=THRESH
        ).collect()
    }
    assert kept == all_new - survivors("pairs")


# ---------------------------------------------------------------------------
# prunable on-disk layout (round 9): write_band_index / read_band_index /
# compact_band_index + the probe's partition pruning
# ---------------------------------------------------------------------------

def _pairset(df):
    return {(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()}


def test_prune_toggle_bit_identical(spark, halves):
    """prune_index=True (default) and False produce identical pairs —
    the pruning is an exact restriction, not an approximation."""
    old, new = halves
    idx = I.minhash_band_index(old)
    on = _pairset(I.incremental_minhash_pairs(new, idx,
                                              jaccard_threshold=THRESH))
    off = _pairset(I.incremental_minhash_pairs(
        new, idx, jaccard_threshold=THRESH, prune_index=False
    ))
    assert on == off and on


def test_band_index_layout_roundtrip_and_partition_pruning(
    spark, halves, tmp_path
):
    """The write_band_index layout (partitioned by band + kb, sorted by
    key) probes bit-identically to an in-memory index, and the probe's
    scan carries literal PartitionFilters on kb — whole bucket
    directories are skipped, the flat-scan growth term is gone."""
    old, new = halves
    small = new.limit(25)  # a small delta → only a few buckets touched
    p = str(tmp_path / "idx")
    I.write_band_index(
        I.minhash_band_index(old, key_buckets=16), p, key_buckets=16
    )
    idx = I.read_band_index(spark, p)
    assert (idx.schema["kb"].metadata or {}).get("key_buckets") == 16

    pruned = I.incremental_minhash_pairs(
        small, idx, jaccard_threshold=THRESH
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [((" in plan and "kb#" in plan
    flat = I.incremental_minhash_pairs(
        small, I.minhash_band_index(old), jaccard_threshold=THRESH,
        prune_index=False,
    )
    assert _pairset(pruned) == _pairset(flat)


def test_compact_band_index_folds_appends(spark, halves, tmp_path):
    """Per-batch appends accumulate small files; compaction folds each
    (band, kb) bucket back to one sorted file without changing a single
    probe result, and the sidecar survives the swap."""
    import os

    old, new = halves
    third = new.count() // 3
    slices = [
        new.where(F.col("doc_id") % 3 == i) for i in range(3)
    ]
    p = str(tmp_path / "idx")
    I.write_band_index(
        I.minhash_band_index(old, key_buckets=8), p, key_buckets=8
    )
    for s in slices[:2]:
        I.write_band_index(
            I.minhash_band_index(s, key_buckets=8), p,
            mode="append", key_buckets=8,
        )
    probe = slices[2]
    before = _pairset(I.incremental_minhash_pairs(
        probe, I.read_band_index(spark, p), jaccard_threshold=THRESH
    ))
    stats = I.compact_band_index(spark, p)
    assert stats["files_after"] < stats["files_before"]
    from sea_serpent_spark.operators import artifact as A

    assert os.path.exists(
        os.path.join(A.current_dir(p), "_band_index_meta.json")
    )
    after_idx = I.read_band_index(spark, p)
    assert (after_idx.schema["kb"].metadata or {}).get("key_buckets") == 8
    after = _pairset(I.incremental_minhash_pairs(
        probe, after_idx, jaccard_threshold=THRESH
    ))
    assert before == after and before
    assert third >= 0  # slices cover the delta; silence the unused var


def test_versioned_manifest_probe_during_compaction(spark, halves, tmp_path):
    """Round-10 commit discipline (r9 verdict item 5 / advice): a reader
    opened BEFORE a compaction keeps a consistent pinned generation (its
    files are retained through one publish); a fresh reader resolves the
    compacted generation; the manifest swap is a single atomic file
    rename, so the index path never stops resolving; old generations GC
    after the retention window."""
    import os

    from sea_serpent_spark.operators import artifact as A

    old, new = halves
    p = str(tmp_path / "idx")
    I.write_band_index(
        I.minhash_band_index(old, key_buckets=8), p, key_buckets=8
    )
    I.write_band_index(
        I.minhash_band_index(new, key_buckets=8), p,
        mode="append", key_buckets=8,
    )
    pinned = I.read_band_index(spark, p)
    gen_before = A.read_manifest(p)["current"]
    n_before = pinned.count()
    I.compact_band_index(spark, p)
    m = A.read_manifest(p)
    assert m["current"] != gen_before
    assert gen_before in m["generations"]  # retained for pinned readers
    # the pinned frame still reads its CONSISTENT pre-compaction snapshot
    assert pinned.count() == n_before
    # a fresh reader resolves the compacted generation, same content
    assert I.read_band_index(spark, p).count() == n_before
    # the next publish GCs the oldest generation
    I.compact_band_index(spark, p)
    m2 = A.read_manifest(p)
    assert gen_before not in m2["generations"]
    assert not os.path.isdir(os.path.join(p, gen_before))
    assert os.path.isdir(A.current_dir(p))


def test_legacy_flat_layout_migrates_on_compaction(spark, halves, tmp_path):
    """A pre-r10 flat layout (data directly under the root, no manifest)
    stays readable, and its first compaction migrates it into a
    generation — probe results unchanged, root data cleared."""
    import os

    from sea_serpent_spark.operators import artifact as A

    old, new = halves
    p = str(tmp_path / "idx_legacy")
    idx = I.minhash_band_index(old, key_buckets=8)
    I._write_layout(idx, p, 8)  # the r9 on-disk shape, no manifest
    assert A.read_manifest(p) is None
    small = new.limit(25)
    before = _pairset(I.incremental_minhash_pairs(
        small, I.read_band_index(spark, p), jaccard_threshold=THRESH
    ))
    I.compact_band_index(spark, p)
    assert A.read_manifest(p) is not None
    # legacy partition dirs are gone from the root; data lives in a gen
    assert not any(
        d.startswith("band=") for d in os.listdir(p)
    )
    after = _pairset(I.incremental_minhash_pairs(
        small, I.read_band_index(spark, p), jaccard_threshold=THRESH
    ))
    assert before == after and before


def test_id_bloom_primitive(spark, monkeypatch):
    """Bloom invariants: every inserted id is a member (NO false
    negatives — the correctness contract); absent ids false-positive at
    roughly the design rate, not wildly above it. ``build_id_bloom``
    writes the blob ``build_id_bloom_local`` writes, byte for byte, at
    ``_BLOOM_DRIVER_CAP`` − 1, the cap and + 1 (NULL ids and duplicates
    included, free or pinned parameters), and builds it on the driver
    exactly while the ids fit."""
    from sea_serpent_spark.operators.incremental import (
        _bloom_contains,
        _load_id_bloom,
        build_id_bloom,
    )
    import struct

    ids = spark.range(0, 5000).select(
        F.concat(F.lit("doc_"), F.col("id")).alias("id")
    )
    blob = build_id_bloom(ids)
    m, k = struct.unpack("<QQ", blob[:16])
    bloom = (int(m), int(k), blob[16:])
    for i in range(0, 5000, 97):
        assert _bloom_contains(bloom, f"doc_{i}")
    fp = sum(
        _bloom_contains(bloom, f"absent_{i}") for i in range(4000)
    )
    assert fp < 4000 * 0.05, fp
    assert _load_id_bloom("/nonexistent") is None
    vals = [f"doc_{i % 700}" if i % 11 else None for i in range(1000)]
    df = spark.createDataFrame([(v,) for v in vals], "id string")
    df = df.repartition(4)
    local = []
    real_local = I.build_id_bloom_local

    def spy(*a, **kw):
        local.append(True)
        return real_local(*a, **kw)

    monkeypatch.setattr(I, "build_id_bloom_local", spy)
    for params in (None, (4096, 3)):
        want = real_local(vals, params=params)
        # cap below the row count: the fold; at or above it: driver take
        for cap, on_driver in ((len(vals) - 1, False), (len(vals), True),
                               (len(vals) + 1, True)):
            monkeypatch.setattr(I, "_BLOOM_DRIVER_CAP", cap)
            local.clear()
            assert build_id_bloom(df, params=params) == want
            assert bool(local) is on_driver, cap


def test_reingest_check_through_bloom(spark, halves, tmp_path):
    """The persisted layout's id bloom must (a) never change results —
    novel batches, pure replays, and id-reuse all behave exactly as the
    bloom-less in-memory index — and (b) cover APPENDED ids too (the
    bloom delta is written before the tail, so a replay of an appended
    batch is still caught)."""
    import os

    from sea_serpent_spark.operators import artifact as A

    old, new = halves
    p = str(tmp_path / "idx")
    I.write_band_index(
        I.minhash_band_index(old, key_buckets=8), p, key_buckets=8
    )
    assert os.path.exists(
        os.path.join(A.current_dir(p), "_id_bloom.bin")
    )
    idx = I.read_band_index(spark, p)
    assert (idx.schema["id"].metadata or {}).get("bloom_dir")
    mem = I.minhash_band_index(old)
    # novel batch: same survivors as the bloom-less in-memory index
    kept_disk = {
        r["doc_id"] for r in I.incremental_dedup(
            new, idx, jaccard_threshold=THRESH
        ).collect()
    }
    kept_mem = {
        r["doc_id"] for r in I.incremental_dedup(
            new, mem, jaccard_threshold=THRESH
        ).collect()
    }
    assert kept_disk == kept_mem and kept_disk
    # pure replay: all dropped (bloom positives verify exactly)
    assert I.incremental_dedup(
        old, idx, jaccard_threshold=THRESH
    ).count() == 0
    # append survivors, then replay the appended batch: the bloom
    # delta written with the tail must catch every appended id
    survivors = new.join(
        spark.createDataFrame(
            [(i,) for i in sorted(kept_disk)], "doc_id long"
        ),
        "doc_id", "left_semi",
    )
    I.write_band_index(
        I.minhash_band_index(survivors, key_buckets=8), p,
        mode="append", key_buckets=8,
    )
    tdir = os.path.join(A.current_dir(p), "_bloom_tail")
    assert os.path.isdir(tdir) and os.listdir(tdir)
    idx2 = I.read_band_index(spark, p)
    assert I.incremental_dedup(
        survivors, idx2, jaccard_threshold=THRESH
    ).count() == 0
    # compaction folds the tail and rebuilds one bloom for the new gen
    I.compact_band_index(spark, p)
    gen = A.current_dir(p)
    assert os.path.exists(os.path.join(gen, "_id_bloom.bin"))
    assert not os.path.isdir(os.path.join(gen, "_bloom_tail"))
    idx3 = I.read_band_index(spark, p)
    assert I.incremental_dedup(
        survivors, idx3, jaccard_threshold=THRESH
    ).count() == 0


def test_incremental_dedup_stats_surface_id_collisions(spark, halves):
    """ADVICE r8: id-colliding delta rows are dropped by design, but a
    stats dict surfaces how many collided and how many of those carry
    DIFFERENT content than the indexed copy (an upstream id-reuse bug,
    not a replay)."""
    old, _ = halves
    idx = I.minhash_band_index(old)
    # pure replay: all collide, none mismatch
    stats: dict = {}
    out = I.incremental_dedup(
        old, idx, jaccard_threshold=THRESH, stats=stats
    )
    n_old = old.count()
    assert out.count() == 0
    assert stats["id_collisions"] == n_old
    assert stats["id_collision_content_mismatch"] == 0
    # id reuse with different text: still dropped, but now visible
    one = old.orderBy("doc_id").limit(1).withColumn(
        "text", F.lit("entirely different content zz qq ww ee rr tt")
    )
    stats = {}
    out2 = I.incremental_dedup(
        one, idx, jaccard_threshold=THRESH, stats=stats
    )
    assert out2.count() == 0  # by-id idempotency contract holds
    assert stats["id_collisions"] == 1
    assert stats["id_collision_content_mismatch"] == 1
    # strict mode (r10): the same id reuse becomes a loud failure ...
    import pytest as _pytest

    with _pytest.raises(ValueError, match="DIFFERENT content"):
        I.incremental_dedup(
            one, idx, jaccard_threshold=THRESH,
            on_id_collision="error",
        )
    # ... while a pure same-content replay stays idempotent under it
    assert I.incremental_dedup(
        old, idx, jaccard_threshold=THRESH, on_id_collision="error"
    ).count() == 0
    with _pytest.raises(ValueError, match="on_id_collision"):
        I.incremental_dedup(
            one, idx, jaccard_threshold=THRESH, on_id_collision="nope"
        )


def test_band_index_empty_append_then_read(spark, halves, tmp_path):
    """Regression (r9 rehearsal): an all-duplicate batch appends ZERO
    survivor rows — the tail dir then holds no data files, and a
    schema-less read of it failed inference and killed the ingest loop.
    The tail read now carries the main schema."""
    old, _ = halves
    p = str(tmp_path / "idx")
    I.write_band_index(
        I.minhash_band_index(old, key_buckets=8), p, key_buckets=8
    )
    empty = old.limit(0)
    I.write_band_index(
        I.minhash_band_index(empty, key_buckets=8), p,
        mode="append", key_buckets=8,
    )
    idx = I.read_band_index(spark, p)
    n = idx.count()
    assert n > 0  # readable despite the empty tail
    # a full replay still dedups to zero through the tail-bearing index
    assert I.incremental_dedup(old, idx, jaccard_threshold=THRESH).count() == 0
    st = I.compact_band_index(spark, p)  # empty tail folds away
    assert I.read_band_index(spark, p).count() == n
    assert st["files_after"] <= st["files_before"]


def test_driver_path_matches_distributed(spark, halves, tmp_path,
                                         monkeypatch):
    """r13: the driver-assisted micro-batch path (union-find + isin
    predicate) must keep EXACTLY the rows the distributed flow
    (connected_components + anti-join) keeps — same min-root canonical
    choice, same witness rule, same reingest drop, with either key
    restriction of the pruned scan (isin or broadcast semi-join). Also
    pins the overflow fallback: a row cap of 0 forces the distributed
    flow through the deferred-stat plan and must not change output."""
    old, new = halves
    p = str(tmp_path / "idx")
    I.write_band_index(
        I.minhash_band_index(old, key_buckets=8), p, key_buckets=8
    )

    def survivors():
        idx = I.read_band_index(spark, p)
        out = {}
        kept = I.incremental_dedup(
            new, idx, jaccard_threshold=THRESH, key_buckets=8,
            ingest_out=out,
        )
        return (
            sorted(r["doc_id"] for r in kept.select("doc_id").collect()),
            out,
        )

    drv, out_drv = survivors()
    assert out_drv.get("driver_path") is True
    assert sorted(out_drv["survivor_ids"]) == drv
    # the sink's hand-off: the signature cache restricted to survivors
    assert sorted(
        r["id"] for r in out_drv["survivors"].select("id").collect()
    ) == drv
    # key sets past _ISIN_PRED_CAP restrict the pruned scan by a
    # broadcast semi-join instead of isin: same driver path, same rows
    key_frames = []
    real_rows_df = I.local_rows_df

    def spy(*a, **kw):
        key_frames.append(True)
        return real_rows_df(*a, **kw)

    with monkeypatch.context() as m:
        m.setattr(I, "_ISIN_PRED_CAP", 0)
        m.setattr(I, "local_rows_df", spy)
        semi, out_semi = survivors()
    assert key_frames and out_semi.get("driver_path") is True
    assert drv == semi
    # force the distributed flow: doc cap 0 disqualifies the gate
    monkeypatch.setattr(I, "_DRIVER_PROBE_DOC_CAP", 0)
    dist, out_dist = survivors()
    assert out_dist["driver_path"] is False
    assert drv == dist
    # the distributed path hands the sink its survivors too
    assert sorted(
        r["id"] for r in out_dist["survivors"].select("id").collect()
    ) == dist
    # overflow fallback: the gate passes but the collect cap trips —
    # the deferred-stat plan falls back to the distributed flow
    monkeypatch.setattr(I, "_DRIVER_PROBE_DOC_CAP", 1_000_000)
    monkeypatch.setattr(I, "_DRIVER_PROBE_ROW_CAP", 0)
    over, out_over = survivors()
    assert out_over["driver_path"] is False
    assert drv == over
    # width guard survives the driver path: probing with the wrong
    # num_hashes must still raise, not silently deflate
    monkeypatch.setattr(I, "_DRIVER_PROBE_ROW_CAP", 200_000)
    idx = I.read_band_index(spark, p)
    with pytest.raises(ValueError, match="hashes wide"):
        I.incremental_dedup(
            new, idx, num_hashes=8, bands=4,
            jaccard_threshold=THRESH, key_buckets=8,
        )


def test_driver_path_string_ids(spark, tmp_path):
    """r13: the driver path's min() keeper choice must follow the id
    column's OWN ordering for strings too (Python code-point order ==
    Spark UTF-8 binary order) — '10' beats '2' lexically, unlike
    numeric ids."""
    rows = [
        ("2", "alpha beta gamma delta"),
        ("10", "alpha beta gamma delta"),     # same text, '10' < '2'
        ("b", "unique one content here"),
        ("a9", "totally different words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    p = str(tmp_path / "idx")
    hist = spark.createDataFrame(
        [("zz", "completely unrelated history doc")],
        "doc_id string, text string",
    )
    I.write_band_index(
        I.minhash_band_index(hist, key_buckets=8), p, key_buckets=8
    )
    out = {}
    kept = sorted(
        r["doc_id"]
        for r in I.incremental_dedup(
            df, I.read_band_index(spark, p), jaccard_threshold=THRESH,
            key_buckets=8, ingest_out=out,
        ).collect()
    )
    assert out.get("driver_path") is True
    # the duplicate pair {'2','10'} keeps '10' (lexicographic min)
    assert kept == sorted(["10", "b", "a9"])


# one hand-built ingest decision per id type: edges, probed old ids,
# the full index's ids and a delta holding a replayed id and a NULL id
_RULE_CASES = {
    "int": dict(
        idt="long",
        # {1,10,11}: indexed witness 1 drops 10 and 11; {13,12,14} and
        # {21,20}: pure-new, min id keeps
        edges=[(1, 10), (10, 11), (13, 12), (13, 14), (21, 20)],
        old=[1, 2, 3],
        index=[1, 2, 3, 50],
        delta=[10, 11, 12, 13, 14, 20, 21, 30, 50, None, 12],
        kept=[12, 12, 20, 30, None],
    ),
    "str": dict(
        idt="string",
        # '10' < '9' in the id column's own (code-point) order
        edges=[("a1", "x"), ("x", "y"), ("9", "10"), ("z", "zz")],
        old=["a1", "b2"],
        index=["a1", "b2", "r"],
        delta=["x", "y", "9", "10", "z", "zz", "q", "r", None],
        kept=["10", "q", "z", None],
    ),
}


@pytest.mark.parametrize("case", sorted(_RULE_CASES))
def test_ingest_rule_same_on_both_paths(spark, case):
    """The ingest decision both probes share, pinned directly: a
    component with an indexed witness keeps no new rows, a pure-new
    component keeps its min id, a replayed id is dropped and NULL-id
    rows are kept. The driver helper and the distributed helper (both
    broadcast settings) keep the same rows and the same survivor ids,
    and both survivor hand-offs hold exactly those rows."""
    from sea_serpent_spark.operators.util import MinRootUnionFind

    c = _RULE_CASES[case]
    idt = c["idt"]
    new_df = spark.createDataFrame(
        [(v, f"t{i}") for i, v in enumerate(c["delta"])],
        f"doc_id {idt}, text string",
    )
    cached = new_df.select(F.col("doc_id").alias("id"), "text")

    def ids(vals):
        return spark.createDataFrame([(v,) for v in vals], f"id {idt}")

    def rows(df):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: (t[0] is None, t[0] or "", t[1]),
        )

    def id_list(vals):
        return sorted(vals, key=lambda v: (v is None, v or ""))

    uf = MinRootUnionFind()
    for a, b in c["edges"]:
        uf.union(a, b)
    out: dict = {}
    drv = I._ingest_keep_local(
        uf, set(c["old"]), list(dict.fromkeys(c["delta"])),
        [v for v in c["delta"] if v in set(c["index"])],
        new_df, "doc_id", cached, out,
    )
    assert out["driver_path"] is True
    assert id_list(r["doc_id"] for r in drv.collect()) == id_list(c["kept"])
    assert id_list(out["survivor_ids"]) == id_list(set(c["kept"]))
    assert id_list(
        r["id"] for r in out["survivors"].collect()
    ) == id_list(c["kept"])
    pairs = spark.createDataFrame(c["edges"], f"id_a {idt}, id_b {idt}")
    for bcast in (True, False):
        dout: dict = {}
        dist = I._ingest_keep_distributed(
            new_df, "doc_id", pairs, ids(c["old"]), ids(c["index"]), bcast,
            cached, dout,
        )
        assert rows(dist) == rows(drv), bcast
        assert id_list(
            {r["doc_id"] for r in dist.collect()}
        ) == id_list(out["survivor_ids"])
        assert dout["driver_path"] is False
        assert rows(dout["survivors"]) == rows(out["survivors"]), bcast


def test_xxh64_matches_spark(spark):
    """r14: the local probe computes the partition key bucket with the
    driver-side hashing.xxh64 — it must be bit-identical to Spark's
    F.xxhash64 (seed 42) and pmod, or partition pruning silently
    drops matching buckets."""
    import random
    import string as _string

    from sea_serpent_spark.operators.hashing import xxh64

    rng = random.Random(14)
    cases = [""] + [
        "".join(
            rng.choice(_string.printable)
            for _ in range(rng.randrange(0, 80))
        )
        for _ in range(120)
    ] + ["é漢字" * 11, "x" * 32, "1234567-89", "-".join(["9"] * 16)]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = {
        r["s"]: (r["h"], r["p"])
        for r in df.select(
            "s",
            F.xxhash64("s").alias("h"),
            F.pmod(F.xxhash64("s"), F.lit(8)).cast("int").alias("p"),
        ).collect()
    }
    for c in cases:
        h = xxh64(c.encode("utf-8"))
        assert got[c] == (h, h % 8), c


def test_local_probe_job_budget(spark, sf_dir, tmp_path):
    """r14 regression pin for the ingest loop's planning floor: a
    steady-state sink-shaped batch (open -> probe -> output write ->
    tail append) runs the LOCAL probe and stays within a small fixed
    Spark-job budget (measured 5; pinned with slack). The r12 shape
    cost ~30 jobs and r13 ~9-11 — this is the floor the r13/r14
    verdicts graded, kept honest against future plan growth."""
    import pyspark.sql.functions as F

    from sea_serpent_spark.operators.dedup import banded_signatures
    from sea_serpent_spark.operators.incremental import (
        _kb_expr,
        incremental_dedup,
        minhash_band_index,
        read_band_index,
        write_band_index,
    )

    sc = spark.sparkContext
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = str(tmp_path / "idx")
    write_band_index(
        minhash_band_index(docs.where(F.col("doc_id") < 120)),
        root, key_buckets=4,
    )
    per_batch: list = []
    for b in range(3):
        lo = 120 + b * 120
        batch = docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 120)
        )
        sc.setJobGroup(f"probe-budget-{b}", "job-budget pin")
        try:
            idx = read_band_index(spark, root)
            res: dict = {}
            kept = incremental_dedup(
                batch, idx, key_buckets=4, ingest_out=res
            )
            kept.write.mode("append").parquet(str(tmp_path / "out"))
            br = banded_signatures(
                res["survivors"], 16, 4, keep=("sig",)
            ).select(
                "id", "band", "key", "sig"
            ).withColumn("kb", _kb_expr(4))
            write_band_index(
                br, root, mode="append", key_buckets=4,
                ids_hint=res["survivor_ids"], _micro=res["driver_path"],
            )
        finally:
            sc.setJobGroup(None, None)
        assert res.get("driver_path") is True
        per_batch.append(
            len(sc.statusTracker().getJobIdsForGroup(f"probe-budget-{b}"))
        )
    # batch 0 may pay one-time opens; steady state is the contract
    assert all(n <= 8 for n in per_batch[1:]), per_batch


def test_sigless_replay_dropped_on_both_paths(spark, tmp_path,
                                              monkeypatch):
    """r14 review fix: a delta doc with NULL text produces no minhash
    signature row (empty/whitespace text still shingles to the
    empty-string token, but split(NULL) explodes to zero rows) — the
    local probe's reingest id check must still see it (via the probe
    take's raw-id branch), so a sig-less replay of an indexed id is
    dropped identically on the driver and distributed paths, and a
    sig-less NOVEL doc survives on both."""
    seed = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    p = str(tmp_path / "idx")
    I.write_band_index(
        I.minhash_band_index(seed, key_buckets=4), p, key_buckets=4
    )
    delta = spark.createDataFrame(
        [(2, None), (7, None), (8, "totally novel content here")],
        "doc_id long, text string",
    )

    def survivors():
        idx = I.read_band_index(spark, p)
        res: dict = {}
        kept = I.incremental_dedup(
            delta, idx, key_buckets=4, jaccard_threshold=0.5,
            ingest_out=res,
        )
        return (
            sorted(r["doc_id"] for r in kept.select("doc_id").collect()),
            res.get("driver_path"),
        )

    drv, used_driver = survivors()
    assert used_driver is True
    # id 2 is a sig-less REPLAY of an indexed id -> dropped; 7 is
    # sig-less but novel -> kept; 8 pairs with nothing -> kept
    assert drv == [7, 8]
    monkeypatch.setattr(I, "_DRIVER_PROBE_DOC_CAP", 0)
    dist, used_driver2 = survivors()
    assert used_driver2 is False
    assert dist == drv
