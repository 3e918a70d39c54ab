"""Persisted IVF index (operators/ann_index.py): build → probe parity
with the in-memory operator, partition pruning in the probe plan, and
multi-probe recall monotonicity."""

import pyspark.sql.functions as F
import pytest

from sea_serpent_spark.operators import ann_index as A
from sea_serpent_spark.operators import artifact as ART
from sea_serpent_spark.operators import similarity as S
from sea_serpent_spark.operators.pinned import SEMDEDUP_CENTROIDS


@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def index_path(spark, vectors, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ann") / "idx")
    cents = A.build_ivf_index(vectors, p, centroids=SEMDEDUP_CENTROIDS)
    assert cents == SEMDEDUP_CENTROIDS
    return p


def _ranks(df):
    return {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in df.collect()
    }


def test_nprobe1_equals_in_memory_ivf(spark, vectors, index_path):
    """With the same quantizer and nprobe=1 the persisted probe equals
    ivf_topk over ivf_assign-labeled frames — the exactness contract."""
    q = vectors.where(F.col("vec_id") < 20)
    ref = _ranks(
        S.ivf_topk(
            S.ivf_assign(vectors, SEMDEDUP_CENTROIDS),
            S.ivf_assign(q, SEMDEDUP_CENTROIDS),
            k=3,
        )
    )
    got = _ranks(A.ivf_index_topk(spark, index_path, q, k=3, nprobe=1))
    assert got == ref and got


def test_probe_scan_prunes_partitions(spark, vectors, index_path):
    """A single query's probe reads ONLY its probed list directory —
    literal PartitionFilters on the label partition column."""
    one = vectors.where(F.col("vec_id") == 5)
    out = A.ivf_index_topk(spark, index_path, one, k=3, nprobe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*label[^\]]*\]", plan)
    assert m, "no label partition filter in the probe plan"
    assert out.count() == 3


def test_multi_probe_recall_monotone(spark, vectors, index_path):
    """nprobe=2 candidates ⊇ nprobe=1 candidates per query, so ranked
    results can only get closer to brute force; with nprobe = all
    lists, the persisted probe EQUALS brute force exactly."""
    q = vectors.where(F.col("vec_id") < 20)
    brute = _ranks(S.brute_force_topk(vectors, q, k=3))
    full = _ranks(
        A.ivf_index_topk(
            spark, index_path, q, k=3, nprobe=len(SEMDEDUP_CENTROIDS)
        )
    )
    assert full == brute

    def top1_cos_hits(nprobe):
        got = _ranks(
            A.ivf_index_topk(spark, index_path, q, k=3, nprobe=nprobe)
        )
        return sum(
            1 for key, nb in got.items() if brute.get(key) == nb
        )

    assert top1_cos_hits(2) >= top1_cos_hits(1)


def test_sidecar_roundtrip(spark, index_path):
    df, cents = A.read_ivf_index(spark, index_path)
    assert cents == SEMDEDUP_CENTROIDS
    assert set(df.columns) >= {"vec_id", "embedding", "label"}
    # lists partition the corpus: every vector appears exactly once
    n = df.count()
    assert df.select("vec_id").distinct().count() == n


def test_rebuild_is_versioned_and_probe_consistent(
    spark, vectors, tmp_path
):
    """Round-10 commit discipline: rebuilding a live IVF index cuts a
    new generation under an atomic manifest swap — a probe plan opened
    before the rebuild keeps its pinned (retained) generation, a fresh
    probe resolves the new one, and a second rebuild GCs the oldest."""
    import os

    p = str(tmp_path / "idx")
    A.build_ivf_index(vectors, p, centroids=SEMDEDUP_CENTROIDS)
    gen1 = ART.read_manifest(p)["current"]
    q = vectors.where(F.col("vec_id") < 10)
    pinned = A.ivf_index_topk(spark, p, q, k=3, nprobe=1)
    before = _ranks(pinned)
    # rebuild over the live index (same corpus/quantizer here — the
    # point is the commit mechanics, not the content)
    A.build_ivf_index(vectors, p, centroids=SEMDEDUP_CENTROIDS)
    m = ART.read_manifest(p)
    assert m["current"] != gen1 and gen1 in m["generations"]
    # the pre-rebuild plan still collects its consistent snapshot
    assert _ranks(pinned) == before and before
    # a fresh probe resolves the new generation, same results
    assert _ranks(A.ivf_index_topk(spark, p, q, k=3, nprobe=1)) == before
    A.build_ivf_index(vectors, p, centroids=SEMDEDUP_CENTROIDS)
    m2 = ART.read_manifest(p)
    assert gen1 not in m2["generations"]
    assert not os.path.isdir(os.path.join(p, gen1))


def test_ivfpq_probe_prunes_partitions_and_columns(
    spark, vectors, tmp_path
):
    """The IVF-PQ probe must read ONLY probed list directories
    (PartitionFilters on label) and ONLY the code column (ReadSchema
    without the raw vector) — the ADC memory shape."""
    import re

    from sea_serpent_spark.operators.pinned import PQ_CODEBOOKS

    ed = vectors.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    p = str(tmp_path / "idx")
    A.build_ivf_index(
        ed, p, centroids=SEMDEDUP_CENTROIDS, codebooks=PQ_CODEBOOKS
    )
    one = ed.where(F.col("vec_id") == 5)
    out = A.ivf_index_pq_topk(spark, p, one, k=3, nprobe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*label[^\]]*\]", plan)
    scans = re.findall(r"ReadSchema: struct<[^>]*>", plan)
    idx_scans = [s for s in scans if "pq_code" in s]
    assert idx_scans and all(
        "embedding" not in s for s in idx_scans
    ), idx_scans
    assert out.count() == 3


def test_ivfpq_all_probes_equals_plain_pq(spark, vectors, tmp_path):
    """nprobe = all lists ⇒ every candidate scored ⇒ the persisted ADC
    probe equals plain pq_topk over the full corpus, rank for rank."""
    from sea_serpent_spark.operators.pinned import PQ_CODEBOOKS

    ed = vectors.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    p = str(tmp_path / "idx")
    A.build_ivf_index(
        ed, p, centroids=SEMDEDUP_CENTROIDS, codebooks=PQ_CODEBOOKS
    )
    q = ed.where(F.col("vec_id") < 15)
    got = _ranks(
        A.ivf_index_pq_topk(
            spark, p, q, k=3, nprobe=len(SEMDEDUP_CENTROIDS)
        )
    )
    ref = _ranks(
        S.pq_topk(S.pq_encode(ed, PQ_CODEBOOKS), q, PQ_CODEBOOKS, k=3)
    )
    assert got == ref and got
    # an index built WITHOUT codebooks refuses the ADC probe
    p2 = str(tmp_path / "idx2")
    A.build_ivf_index(ed, p2, centroids=SEMDEDUP_CENTROIDS)
    with pytest.raises(ValueError):
        A.ivf_index_pq_topk(spark, p2, q, k=3)


def test_probe_udf_path_matches_literal_path(
    spark, vectors, monkeypatch
):
    """Probe selection has two physical forms (literal expression under
    the k·dim cap, Arrow-batched numpy above it — the r10 rehearsal
    found the literal tree's analysis cost exceeding execution at
    k=64); both must pick the same probe lists in the same order."""
    q = vectors.where(F.col("vec_id") < 50).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    lit = {
        r["vec_id"]: r["probes"]
        for r in A.ivf_probes(
            q, SEMDEDUP_CENTROIDS, nprobe=3
        ).select("vec_id", "probes").collect()
    }
    monkeypatch.setattr(S, "_LITERAL_TREE_CAP", 0)  # force the UDF
    udf = {
        r["vec_id"]: r["probes"]
        for r in A.ivf_probes(
            q, SEMDEDUP_CENTROIDS, nprobe=3
        ).select("vec_id", "probes").collect()
    }
    assert udf == lit and lit


def test_ivf_assign_udf_path_matches_literal(
    spark, vectors, monkeypatch
):
    """ivf_assign's capped Arrow path (large quantizers) must pick the
    same list as the literal argmax expression — including the
    highest-index tie rule of array_max over struct(s, i)."""
    import math

    from sea_serpent_spark.operators import similarity as SIM

    ed = vectors.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    lit = {
        r["vec_id"]: (r["label"], r["aff"])
        for r in SIM.ivf_assign(
            ed, SEMDEDUP_CENTROIDS, sim_col="aff"
        ).select("vec_id", "label", "aff").collect()
    }
    monkeypatch.setattr(SIM, "_LITERAL_TREE_CAP", 0)  # force the UDF
    udf = {
        r["vec_id"]: (r["label"], r["aff"])
        for r in SIM.ivf_assign(
            ed, SEMDEDUP_CENTROIDS, sim_col="aff"
        ).select("vec_id", "label", "aff").collect()
    }
    assert set(udf) == set(lit) and lit
    for vid, (label, aff) in lit.items():
        ul, ua = udf[vid]
        assert ul == label, vid
        assert math.isclose(ua, aff, rel_tol=1e-12), vid
    # kmeans_fit routes through the same path: still returns k unit
    # centroids under the forced UDF assignment
    cents = SIM.kmeans_fit(ed, k=4, iters=2)
    assert len(cents) == 4
    for c in cents:
        assert math.isclose(sum(x * x for x in c), 1.0, rel_tol=1e-9)


def test_udf_paths_keep_their_tie_rules(spark, monkeypatch):
    """The two numpy UDF paths share one affinity kernel but not a tie
    rule: on an exact tie assignment takes the HIGHEST centroid index
    (``array_max`` over struct(s, i)) and probe selection lists the
    LOWEST first (``array_sort`` over struct(−s, i)), as their literal
    forms do."""
    cents = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]  # 0 and 1 tie
    df = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [0.0, 3.0])],
        "vec_id int, embedding array<double>",
    )

    def picks():
        lab = S.ivf_assign(df, cents).select("vec_id", "label")
        pr = A.ivf_probes(df, cents, nprobe=2).select("vec_id", "probes")
        return sorted(map(tuple, lab.collect())), sorted(
            (r[0], tuple(r[1])) for r in pr.collect()
        )

    lit = picks()
    monkeypatch.setattr(S, "_LITERAL_TREE_CAP", 0)  # force the UDFs
    assert picks() == lit == (
        [(1, 1), (2, 2)], [(1, (0, 1)), (2, (2, 0))]
    )


def test_probes_staging_collision_guard(spark, vectors):
    bad = vectors.withColumn("__an", F.lit(1))
    with pytest.raises(ValueError):
        A.ivf_probes(bad, SEMDEDUP_CENTROIDS)


def test_append_equals_full_build(spark, vectors, tmp_path):
    """r12: build on half the corpus, append the rest with the PINNED
    quantizer — probes (plain and ADC) equal a fresh full build, for
    every nprobe; compaction folds the tail into one sorted file per
    list and changes nothing."""
    import os

    from sea_serpent_spark.operators.pinned import PQ_CODEBOOKS

    ed = vectors.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    half_a = ed.where(F.col("vec_id") % 2 == 0)
    half_b = ed.where(F.col("vec_id") % 2 == 1)
    q = ed.where(F.col("vec_id") < 20)

    full_p = str(tmp_path / "full")
    inc_p = str(tmp_path / "inc")
    A.build_ivf_index(
        ed, full_p, centroids=SEMDEDUP_CENTROIDS, codebooks=PQ_CODEBOOKS
    )
    A.build_ivf_index(
        half_a, inc_p, centroids=SEMDEDUP_CENTROIDS, codebooks=PQ_CODEBOOKS
    )
    A.append_to_ivf_index(half_b, inc_p)

    for nprobe in (1, 2):
        assert _ranks(
            A.ivf_index_topk(spark, inc_p, q, k=3, nprobe=nprobe)
        ) == _ranks(
            A.ivf_index_topk(spark, full_p, q, k=3, nprobe=nprobe)
        )
    assert _ranks(
        A.ivf_index_pq_topk(spark, inc_p, q, k=3, nprobe=2)
    ) == _ranks(A.ivf_index_pq_topk(spark, full_p, q, k=3, nprobe=2))

    # tail exists pre-compaction, is folded afterwards
    src = ART.current_dir(inc_p)
    assert os.path.isdir(os.path.join(src, ART.TAIL))
    stats = A.compact_ivf_index(spark, inc_p)
    assert stats["files_after"] <= stats["files_before"]
    gen2 = ART.open_generation(spark, inc_p, A._ANN_META)
    assert gen2.dir != src  # fresh generation
    assert not os.path.isdir(os.path.join(gen2.dir, ART.TAIL))
    assert gen2.meta.get("codebooks")  # sidecar carried over
    assert _ranks(
        A.ivf_index_topk(spark, inc_p, q, k=3, nprobe=2)
    ) == _ranks(A.ivf_index_topk(spark, full_p, q, k=3, nprobe=2))


def test_append_respects_lease(spark, vectors, tmp_path):
    """A concurrent holder blocks appends (LeaseHeldError), and the
    index is unchanged."""
    from sea_serpent_spark.operators import artifact
    from sea_serpent_spark.lease import LeaseHeldError
    import threading

    p = str(tmp_path / "idx")
    A.build_ivf_index(vectors, p, centroids=SEMDEDUP_CENTROIDS)
    n0 = A.read_ivf_index(spark, p)[0].count()
    inside, release = threading.Event(), threading.Event()
    errs = []

    def hold():
        with artifact.writer_lease(p, owner="builder"):
            inside.set()
            release.wait(30)

    def challenge():
        inside.wait(30)
        try:
            A.append_to_ivf_index(
                vectors.where(F.col("vec_id") < 5), p
            )
            errs.append("entered")
        except LeaseHeldError:
            errs.append("refused")

    a = threading.Thread(target=hold)
    b = threading.Thread(target=challenge)
    a.start(); b.start(); b.join(60); release.set(); a.join(60)
    assert errs == ["refused"]
    assert A.read_ivf_index(spark, p)[0].count() == n0


def test_incremental_semantic_dedup_batch_parity(spark, vectors, tmp_path):
    """r12: with a pre-deduped history whose ids sort below the delta's,
    incremental_semantic_dedup keeps exactly the NEW rows
    semantic_dedup(keep='min_id') over history ∪ delta keeps — the same
    parity contract as the LSH incremental operator. (Old-row outcomes
    legitimately differ: history is immutable, batch could retract.)"""
    ed = vectors.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    mid = 300
    hist_raw = ed.where(F.col("vec_id") < mid)
    delta = ed.where(F.col("vec_id") >= mid)
    # pre-dedup history so it carries no internal near-dups
    hist = S.semantic_dedup(
        hist_raw, threshold=0.45, centroids=SEMDEDUP_CENTROIDS,
        keep="min_id", nbits=0,
    )
    p = str(tmp_path / "semidx")
    A.build_ivf_index(hist, p, centroids=SEMDEDUP_CENTROIDS)
    got = sorted(
        r["vec_id"]
        for r in A.incremental_semantic_dedup(
            delta, p, threshold=0.45
        ).select("vec_id").collect()
    )
    batch = S.semantic_dedup(
        hist.unionByName(delta), threshold=0.45,
        centroids=SEMDEDUP_CENTROIDS, keep="min_id", nbits=0,
    )
    want = sorted(
        r["vec_id"]
        for r in batch.where(F.col("vec_id") >= mid)
        .select("vec_id").collect()
    )
    # precondition for the parity argument: history ids BELOW delta ids
    # (a mixed component's min id is then always an indexed one, so
    # batch min-id == incremental history-wins on the NEW rows)
    assert got == want and got


def test_incremental_semantic_dedup_loop_idempotent(spark, vectors, tmp_path):
    """Append survivors, re-ingest the same delta → zero survivors (the
    replay contract); a fresh batch still dedups against BOTH history
    and the first batch's survivors through the index."""
    ed = vectors.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    hist = ed.where(F.col("vec_id") >= 300)
    b1 = ed.where(F.col("vec_id") < 150)
    b2 = ed.where((F.col("vec_id") >= 150) & (F.col("vec_id") < 300))
    p = str(tmp_path / "loop")
    A.build_ivf_index(hist, p, centroids=SEMDEDUP_CENTROIDS)
    s1 = A.incremental_semantic_dedup(b1, p, threshold=0.45)
    A.append_to_ivf_index(s1, p)
    # replay of batch 1: every id is now indexed → all dropped
    assert A.incremental_semantic_dedup(b1, p, threshold=0.45).count() == 0
    # batch 2 dedups against hist ∪ surviving b1
    s2 = A.incremental_semantic_dedup(b2, p, threshold=0.45)
    ids1 = {r["vec_id"] for r in s1.select("vec_id").collect()}
    ids2 = {r["vec_id"] for r in s2.select("vec_id").collect()}
    assert ids2 and not (ids1 & ids2)
    # survivors of b2 have no >=threshold same-list twin in the index
    idx, cents = A.read_ivf_index(spark, p)
    asg_idx = S.ivf_assign(
        idx.select("vec_id", "embedding"), cents
    ).select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"), F.col("label"),
    )
    asg_s2 = S.ivf_assign(s2.select("vec_id", "embedding"), cents).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"), F.col("label"),
    )
    from sea_serpent_spark.operators.similarity import dot, norm

    twin = (
        asg_s2.join(asg_idx, "label")
        .where(F.col("id_a") != F.col("id_b"))
        .where(
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.greatest(norm(F.col("va")), F.lit(1e-12))
                   * F.greatest(norm(F.col("vb")), F.lit(1e-12))), 4
            ) >= 0.45
        )
    )
    assert twin.count() == 0


def test_semantic_driver_path_matches_distributed(
    spark, vectors, tmp_path, monkeypatch
):
    """r13: the driver-assisted semantic probe (one take with the
    reingest branch folded in, union-find, isin predicate) keeps
    EXACTLY what the distributed flow keeps, and the overflow fallback
    is transparent."""
    from sea_serpent_spark.operators import incremental as I

    ed = vectors.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    p = str(tmp_path / "semidx")
    A.build_ivf_index(
        ed.where(F.col("vec_id") < 300), p, centroids=SEMDEDUP_CENTROIDS
    )
    # overlap the delta with indexed ids so the folded reingest branch
    # has real hits
    delta = ed.where(
        (F.col("vec_id") >= 280) & (F.col("vec_id") < 420)
    )

    def survivors():
        out = {}
        kept = A.incremental_semantic_dedup(
            delta, p, threshold=0.45, ingest_out=out
        )
        return (
            sorted(r["vec_id"] for r in kept.select("vec_id").collect()),
            out,
        )

    drv, out_drv = survivors()
    assert out_drv.get("driver_path") is True
    assert sorted(out_drv["survivor_ids"]) == drv
    # the sink's hand-off: the cached assignment restricted to survivors
    assert sorted(
        r["id"] for r in out_drv["survivors"].select("id").collect()
    ) == drv
    # indexed ids 280-299 are reingest drops — never survivors
    assert all(v >= 300 for v in drv)
    monkeypatch.setattr(I, "_DRIVER_PROBE_DOC_CAP", 0)
    dist, out_dist = survivors()
    assert out_dist["driver_path"] is False
    assert drv == dist
    # the distributed path hands the sink its survivors too
    assert sorted(
        r["id"] for r in out_dist["survivors"].select("id").collect()
    ) == dist
    monkeypatch.setattr(I, "_DRIVER_PROBE_DOC_CAP", 1_000_000)
    monkeypatch.setattr(I, "_DRIVER_PROBE_ROW_CAP", 0)
    over, out_over = survivors()
    assert out_over["driver_path"] is False
    assert drv == over


def _frame_entries(spark, gen_dir):
    """The shared artifact cache's entries for ``gen_dir`` in this
    application."""
    return [
        v for k, v in ART._MAIN_FRAME_CACHE.items()
        if k[0] == spark.sparkContext.applicationId and k[1] == gen_dir
    ]


def test_direct_probe_frame_cache_per_generation(spark, vectors, tmp_path):
    """Direct (non-sink) probes reuse the analyzed main frame per
    generation — appends stay visible (the tail is re-listed every
    call), compaction cuts a new generation and misses the cache by
    key, and results are identical cache-hot vs cache-cold."""
    ed = vectors.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    p = str(tmp_path / "idx")
    A.build_ivf_index(
        ed.where(F.col("vec_id") % 2 == 0), p,
        centroids=SEMDEDUP_CENTROIDS,
    )
    q = ed.where(F.col("vec_id") < 20)
    ART._MAIN_FRAME_CACHE.clear()
    cold = _ranks(A.ivf_index_topk(spark, p, q, k=3, nprobe=2))
    src = ART.current_dir(p)
    (entry,) = _frame_entries(spark, src)
    frame = entry[1]
    assert frame is not None
    # hot probe: same cached frame served, same result
    hot = _ranks(A.ivf_index_topk(spark, p, q, k=3, nprobe=2))
    assert hot == cold
    assert _frame_entries(spark, src)[0][1] is frame
    # an append lands in _tail only — the cached main frame stays
    # valid and the new rows are visible through the fresh tail read
    A.append_to_ivf_index(ed.where(F.col("vec_id") % 2 == 1), p)
    with_tail = _ranks(A.ivf_index_topk(spark, p, q, k=3, nprobe=2))
    assert _frame_entries(spark, src)[0][1] is frame
    full_ref = str(tmp_path / "ref")
    A.build_ivf_index(ed, full_ref, centroids=SEMDEDUP_CENTROIDS)
    assert with_tail == _ranks(
        A.ivf_index_topk(spark, full_ref, q, k=3, nprobe=2)
    )
    # compaction publishes a fresh generation → new cache key
    A.compact_ivf_index(spark, p)
    src2 = ART.current_dir(p)
    assert src2 != src
    post = _ranks(A.ivf_index_topk(spark, p, q, k=3, nprobe=2))
    assert post == with_tail
    assert len(_frame_entries(spark, src2)) == 1  # its own cache slot


def test_probe_caches_survive_same_path_rebuild(spark, vectors, tmp_path):
    """Deleting the artifact and REBUILDING at the same path reuses the
    generation name (g00001) with new files — the cache must miss
    (sidecar stat identity), not serve frames over deleted parquet
    paths. bench.py's warm rerun replays exactly this in one process."""
    import shutil

    ed = vectors.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    p = str(tmp_path / "idx")
    q = ed.where(F.col("vec_id") < 20)
    A.build_ivf_index(
        ed.where(F.col("vec_id") % 2 == 0), p,
        centroids=SEMDEDUP_CENTROIDS,
    )
    half = _ranks(A.ivf_index_topk(spark, p, q, k=3, nprobe=2))
    src1 = ART.current_dir(p)
    shutil.rmtree(p)
    A.build_ivf_index(ed, p, centroids=SEMDEDUP_CENTROIDS)
    src2 = ART.current_dir(p)
    assert src1 == src2  # same generation NAME — the trap
    full = _ranks(A.ivf_index_topk(spark, p, q, k=3, nprobe=2))
    ref = str(tmp_path / "ref")
    A.build_ivf_index(ed, ref, centroids=SEMDEDUP_CENTROIDS)
    assert full == _ranks(A.ivf_index_topk(spark, ref, q, k=3, nprobe=2))
    assert full != half


def test_semantic_probe_job_budget(spark, vectors, tmp_path):
    """r14 regression pin, the semantic twin of
    test_local_probe_job_budget: a steady-state probe+append cycle
    against a persisted IVF index stays within a small fixed job
    budget (measured 6 for the full sink-shaped batch; pinned with
    slack) on the driver path. Runs in the sink's own per-batch
    posture (``util.posture`` with ``micro(8)`` and an 8-way fan-out)
    — AQE's per-exchange jobs are exactly what the sink disables, so
    the pin measures the sink shape."""
    from sea_serpent_spark.operators.util import FANOUT_CONF, micro, posture

    ed = vectors.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    p = str(tmp_path / "idx")
    A.build_ivf_index(
        ed.where(F.col("vec_id") < 200), p,
        centroids=SEMDEDUP_CENTROIDS,
    )
    sc = spark.sparkContext
    per_batch: list = []
    for b in range(3):
        lo = 200 + b * 150
        batch = ed.where(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 150)
        )
        res: dict = {}
        sc.setJobGroup(f"sem-budget-{b}", "job-budget pin")
        try:
            batch = posture(batch, {**micro(8), FANOUT_CONF: "8"})
            kept = A.incremental_semantic_dedup(
                batch, p, threshold=0.9, ingest_out=res,
            )
            kept.write.mode("append").parquet(str(tmp_path / "out"))
            A.append_to_ivf_index(kept.select("vec_id", "embedding"), p)
        finally:
            sc.setJobGroup(None, None)
        assert res.get("driver_path") is True
        per_batch.append(
            len(sc.statusTracker().getJobIdsForGroup(f"sem-budget-{b}"))
        )
    assert all(n <= 9 for n in per_batch[1:]), per_batch


@pytest.mark.parametrize("cap", [8, 39, 40, 41, 1000])
def test_probe_selection_runs_once(spark, monkeypatch, tmp_path, cap):
    """Probe selection runs once per row on both sides of
    ``_LOCAL_PROBE_QUERY_CAP``: an over-cap take's partitions stay
    cached, so the fallback checkpoint does not select again. Each
    evaluation appends a line to a file: an accumulator would miss the
    evaluations of a task the take stops early. The 40-row batch sits
    at cap+1, cap and cap−1 of the middle caps, and becomes a local
    relation exactly while it fits."""
    log = str(tmp_path / "selected")

    def select(i):
        with open(log, "a") as f:
            f.write(f"{i}\n")
        return int(i % 3)

    n = 40
    q_plan = spark.range(0, n, 1, 4).select(
        F.col("id").alias("query_id"),
        F.udf(select, "int")("id").alias("label"),
    )
    monkeypatch.setattr(A, "_LOCAL_PROBE_QUERY_CAP", cap)
    q, probed, _ = A._probe_frame(spark, q_plan)
    plan = q._jdf.queryExecution().analyzed().toString()
    assert ("LocalRelation" in plan) == (n <= cap)
    assert sorted(r["query_id"] for r in q.collect()) == list(range(n))
    assert probed == [0, 1, 2]
    with open(log) as f:
        assert sorted(int(x) for x in f) == list(range(n))
    assert not q_plan.is_cached
