"""Structured Streaming tests: stream results must equal their batch twins."""

import pyspark.sql.functions as F
import pytest

from sea_serpent_spark.streaming import (
    oplog_stream,
    read_events_stream,
    run_to_memory,
    session_counts,
    tumbling_counts,
)
from sea_serpent_spark.workload import df as load_df


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return read_events_stream(spark, sf_dir)


def test_tumbling_equals_batch(spark, sf_dir, events_stream):
    got = run_to_memory(
        tumbling_counts(events_stream), "t_tumbling", spark
    ).toPandas()
    batch = (
        load_df(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .toPandas()
    )
    key = ["window_start", "event_type"]
    got_s = got.sort_values(key).reset_index(drop=True)
    batch_s = batch.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(batch_s)
    assert (got_s["n"].values == batch_s["n"].values).all()
    assert (abs(got_s["sum_value"].values - batch_s["sum_value"].values) < 1e-6).all()


def test_session_window_stream(spark, events_stream):
    out = run_to_memory(
        session_counts(events_stream), "t_sessions", spark
    ).toPandas()
    assert len(out) > 0
    assert (out["session_end"] > out["session_start"]).all()
    assert (out["n_events"] >= 1).all()


def test_oplog_cdc_stream(spark, tmp_path):
    import pandas as pd

    from sea_serpent_spark import Base

    base = Base(str(tmp_path / "wh"), spark)
    t = base.from_frame(pd.DataFrame({"x": [1, 2, 3]}), "cdc_t")
    t["x"] = [10, 2, 3]  # one changed cell
    t.loc[t.x == 10, "x"] = 99
    stream = oplog_stream(spark, str(tmp_path / "wh"), "cdc_t")
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("t_cdc")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    logs = spark.table("t_cdc").toPandas()
    assert len(logs) == 2  # 1->10, 10->99
    assert set(logs["column"]) == {"x"}


def test_stateful_user_totals(spark, sf_dir, events_stream):
    """applyInPandasWithState totals equal the batch GROUP BY."""
    import pyspark.sql.functions as F

    from sea_serpent_spark.streaming.events import (
        final_user_totals,
        run_to_memory,
        stateful_user_totals,
    )

    drained = run_to_memory(
        stateful_user_totals(events_stream), "t_state", spark, mode="update"
    )
    got = {
        (r.user_id, r.n_events, r.sum_value)
        for r in final_user_totals(drained).collect()
    }
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        (r.user_id, r.n, r.s)
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
        .collect()
    }
    assert got == want


def test_streaming_exact_dedup(spark, sf_dir):
    """Streaming dropDuplicates on content fingerprint equals the batch
    exact-dedup canonical set."""
    from sea_serpent_spark.operators import dedup as D
    from sea_serpent_spark.streaming.events import (
        read_documents_stream,
        run_to_memory,
        streaming_exact_dedup,
    )

    stream = streaming_exact_dedup(read_documents_stream(spark, sf_dir))
    got = run_to_memory(stream, "t_sdedup", spark, mode="append").toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = (
        D.exact_dedup_groups(docs)
        .select("fp")
        .toPandas()
    )
    # one survivor per distinct fingerprint, same fingerprint set
    assert sorted(got["fp"]) == sorted(batch["fp"])
    assert got["doc_id"].is_unique


def test_streaming_minhash_signature_parity(spark, sf_dir):
    """The stateless per-row streaming signature must be bit-identical
    to the batch explode+groupBy signature."""
    from sea_serpent_spark.operators import dedup as D
    from sea_serpent_spark.streaming.dedup import streaming_minhash_signature

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = {(r.id, tuple(r.sig)) for r in D.minhash_signature(docs).collect()}
    stream_expr = {
        (r.id, tuple(r.sig))
        for r in streaming_minhash_signature(docs).collect()
    }
    assert batch == stream_expr


def test_streaming_minhash_pairs_equals_batch(spark, sf_dir):
    """Draining the stateful LSH stream yields exactly the batch
    operator's near-dup pair set — regardless of micro-batch split
    (maxFilesPerTrigger forces multiple batches on multi-file input)."""
    from sea_serpent_spark.operators import dedup as D
    from sea_serpent_spark.streaming.dedup import streaming_minhash_pairs
    from sea_serpent_spark.streaming.events import (
        read_documents_stream,
        run_to_memory,
    )

    stream = streaming_minhash_pairs(
        read_documents_stream(spark, sf_dir), jaccard_threshold=0.5
    )
    drained = run_to_memory(stream, "t_sminhash", spark, mode="update")
    got = {
        (r.id_a, r.id_b)
        for r in drained.dropDuplicates(["id_a", "id_b"]).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert got == batch and len(batch) > 0


def test_streaming_curation_pipeline(spark, sf_dir):
    """The stateless curation stages (normalize/redact → repetition
    filter → chunk) apply unchanged to a document stream — each
    micro-batch flows through the same codegen'd projections, no state
    store involved — and the drained result equals the batch run."""
    import pyspark.sql.functions as F

    from sea_serpent_spark.operators.curation import (chunk_documents,
                                                      gopher_filter,
                                                      normalize_text,
                                                      redact_pii)
    from sea_serpent_spark.streaming.events import (read_documents_stream,
                                                    run_to_memory)

    def pipeline(df):
        cleaned = df.withColumn(
            "text", redact_pii(normalize_text(F.col("text")))
        )
        kept = gopher_filter(cleaned, min_tokens=5, rules={
            "dup_line_frac": (0.0, 1.0)})
        return chunk_documents(kept, chunk_tokens=16, overlap=4)

    stream = pipeline(read_documents_stream(spark, sf_dir))
    assert stream.isStreaming
    got = run_to_memory(stream, "t_cur", spark, mode="append").toPandas()

    batch = pipeline(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).toPandas()
    key = ["doc_id", "chunk_id"]
    assert sorted(map(tuple, got[key + ["chunk_text"]].values.tolist())) == \
        sorted(map(tuple, batch[key + ["chunk_text"]].values.tolist()))


def test_streaming_dedup_against_static_index(spark, sf_dir):
    """Stream-static incremental dedup == batch incremental_exact_dedup:
    content already in the static seen-index never reaches the stateful
    dedup; fresh content keeps exactly one survivor per fingerprint.
    (Fingerprint sets compared — stream arrival order makes the
    surviving *id* per group nondeterministic, same as batch min-id only
    by accident.)"""
    import pyspark.sql.functions as F

    from sea_serpent_spark.operators import dedup as D
    from sea_serpent_spark.operators.text import fingerprint
    from sea_serpent_spark.streaming.events import (
        read_documents_stream,
        run_to_memory,
        streaming_dedup_against,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.where(F.col("doc_id") < 250)
    seen = D.exact_dedup_groups(old)

    stream = streaming_dedup_against(
        read_documents_stream(spark, sf_dir), seen
    )
    got = run_to_memory(stream, "t_sinc", spark, mode="append").toPandas()

    want = {
        r["fp"]
        for r in docs.select(
            fingerprint(F.col("text")).alias("fp")
        ).distinct().join(seen.select("fp"), "fp", "left_anti").collect()
    }
    assert set(got["fp"]) == want
    assert got["fp"].is_unique
    # nothing from the indexed half's content survives
    old_fps = {r["fp"] for r in seen.select("fp").collect()}
    assert not (set(got["fp"]) & old_fps)


@pytest.mark.parametrize("layout", ["legacy_flat", "bucketed_compacting"])
def test_incremental_dedup_sink_loop(spark, sf_dir, tmp_path, layout):
    """The foreachBatch ingest loop: multi-batch stream deduped against
    a seeded index; survivors land in the output, their bands grow the
    index, and the final output contains no near-dup of the seed
    history or of itself. Run twice: against a legacy flat index (old
    deployments keep working) and against the prunable
    write_band_index layout with periodic compaction — the 100 TB
    shape."""
    import pyspark.sql.functions as F

    from sea_serpent_spark.operators import dedup as D
    from sea_serpent_spark.operators import incremental as I
    from sea_serpent_spark.streaming.dedup import incremental_dedup_sink

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seed = docs.where(F.col("doc_id") < 100)
    delta = docs.where(F.col("doc_id") >= 100)

    src = str(tmp_path / "arrivals")
    idxp = str(tmp_path / "idx")
    outp = str(tmp_path / "clean")
    # history pre-deduped, its bands seed the index
    hist = D.dedup_corpus(seed, threshold=0.5)
    sink_kw = {}
    if layout == "legacy_flat":
        I.minhash_band_index(hist).write.partitionBy("band").parquet(idxp)
    else:
        I.write_band_index(
            I.minhash_band_index(hist, key_buckets=8), idxp, key_buckets=8
        )
        sink_kw = {"compact_every": 2}  # key_buckets from the sidecar
    # the delta arrives as 4 files → multiple micro-batches
    delta.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            incremental_dedup_sink(
                idxp, outp, jaccard_threshold=0.5, **sink_kw
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = spark.read.parquet(outp)
    survivors = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert survivors  # something made it through
    assert survivors <= {
        r["doc_id"] for r in delta.select("doc_id").collect()
    }

    # invariant 1: nothing in the output near-dups the seeded history
    cross = I.incremental_minhash_pairs(
        out, I.minhash_band_index(hist), jaccard_threshold=0.5
    )
    hist_ids = {r["doc_id"] for r in hist.select("doc_id").collect()}
    bad = [
        r for r in cross.collect()
        if (r["id_a"] in hist_ids) != (r["id_b"] in hist_ids)
    ]
    assert not bad
    # invariant 2: the output contains no internal near-dup pair
    assert D.minhash_lsh_pairs(out, jaccard_threshold=0.5).count() == 0
    # invariant 3: the index grew by exactly the survivors' bands
    # (read through the API — the root now holds versioned generations)
    idx = I.read_band_index(spark, idxp)
    assert {r["id"] for r in idx.select("id").distinct().collect()} == (
        hist_ids | survivors
    )
    if layout == "bucketed_compacting":
        import os

        from sea_serpent_spark.operators import artifact as A

        # the layout survives the append+compact cycle: sidecar intact
        # in the current generation, kb partition dirs present, ≤1 file
        # per (band, kb) directory after the final compaction folded
        # the per-batch appends
        cur = A.current_dir(idxp)
        assert cur != idxp  # compaction published a generation
        assert os.path.exists(
            os.path.join(cur, "_band_index_meta.json")
        )
        assert "kb" in idx.columns
        for root, dirs, files in os.walk(cur):
            if "kb=" in os.path.basename(root):
                pq = [f for f in files if f.endswith(".parquet")]
                assert len(pq) <= 1, (root, pq)


def test_sink_size_based_autocompaction(spark, sf_dir, tmp_path):
    """r12: compact_tail_files folds the L0 tail whenever its parquet
    file count exceeds the threshold — the tail stays bounded across a
    serial drain, and the survivor set matches an uncompacted run."""
    import os

    import pyspark.sql.functions as F

    from sea_serpent_spark.operators import artifact as ART
    from sea_serpent_spark.operators import dedup as D
    from sea_serpent_spark.operators import incremental as I
    from sea_serpent_spark.operators.incremental import _TAIL_DIR
    from sea_serpent_spark.streaming.dedup import incremental_dedup_sink

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = D.dedup_corpus(docs.where(F.col("doc_id") < 100), threshold=0.5)
    batches = [
        docs.where(
            (F.col("doc_id") >= 100 + i * 100)
            & (F.col("doc_id") < 200 + i * 100)
        )
        for i in range(3)
    ]

    def tail_files(p):
        t = os.path.join(ART.current_dir(p), _TAIL_DIR)
        if not os.path.isdir(t):
            return 0
        return sum(
            1 for root, _, files in os.walk(t)
            for f in files if f.endswith(".parquet")
        )

    outs = {}
    for tag, kw in (("auto", {"compact_tail_files": 2}), ("plain", {})):
        idxp = str(tmp_path / f"idx_{tag}")
        outp = str(tmp_path / f"out_{tag}")
        I.write_band_index(
            I.minhash_band_index(hist, key_buckets=8), idxp, key_buckets=8
        )
        sink = incremental_dedup_sink(
            idxp, outp, jaccard_threshold=0.5, **kw
        )
        peak = 0
        for i, b in enumerate(batches):
            sink(b, i)
            peak = max(peak, tail_files(idxp))
        outs[tag] = sorted(
            r["doc_id"]
            for r in spark.read.parquet(outp).select("doc_id").collect()
        )
        if tag == "auto":
            # compaction fired at least once → tail never ran away
            assert peak <= 2 + 4  # threshold + one batch's band files
            assert tail_files(idxp) <= 2 + 4
        else:
            assert peak >= 3  # uncompacted tail accumulates
    assert outs["auto"] == outs["plain"] and outs["auto"]


def test_incremental_semantic_dedup_sink_loop(spark, sf_dir, tmp_path):
    """r12: the embedding ingest loop — serial micro-batches deduped
    against a seeded IVF index; survivors equal sequential
    incremental_semantic_dedup calls with interleaved appends, replay
    of a drained batch adds nothing, and the index grows by exactly
    the survivors."""
    import pyspark.sql.functions as F

    from sea_serpent_spark.operators import ann_index as A
    from sea_serpent_spark.operators.pinned import SEMDEDUP_CENTROIDS
    from sea_serpent_spark.streaming.dedup import (
        incremental_semantic_dedup_sink,
    )

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    hist = vecs.where(F.col("vec_id") < 200)
    batches = [
        vecs.where(
            (F.col("vec_id") >= 200 + 100 * i)
            & (F.col("vec_id") < 300 + 100 * i)
        )
        for i in range(2)
    ]
    # reference: sequential operator calls with manual appends
    ref_idx = str(tmp_path / "refidx")
    A.build_ivf_index(hist, ref_idx, centroids=SEMDEDUP_CENTROIDS)
    want = []
    for b in batches:
        s = A.incremental_semantic_dedup(b, ref_idx, threshold=0.45)
        want += [r["vec_id"] for r in s.select("vec_id").collect()]
        A.append_to_ivf_index(s.select("vec_id", "embedding"), ref_idx)

    idxp = str(tmp_path / "semidx")
    outp = str(tmp_path / "semout")
    A.build_ivf_index(hist, idxp, centroids=SEMDEDUP_CENTROIDS)
    sink = incremental_semantic_dedup_sink(
        idxp, outp, threshold=0.45, batch_parallelism=8
    )
    for i, b in enumerate(batches):
        sink(b, i)
    got = sorted(
        r["vec_id"]
        for r in spark.read.parquet(outp).select("vec_id").collect()
    )
    assert got == sorted(want) and got
    # replay: every id already indexed → nothing appended
    n0 = spark.read.parquet(outp).count()
    sink(batches[0], 99)
    assert spark.read.parquet(outp).count() == n0
    # index = seed + survivors exactly
    idx_ids = {
        r["vec_id"]
        for r in A.read_ivf_index(spark, idxp)[0].select("vec_id").collect()
    }
    assert idx_ids == (
        {r["vec_id"] for r in hist.select("vec_id").collect()} | set(got)
    )
    # conf restored after the knob-wrapped batches
    assert spark.conf.get(
        "spark.sea_serpent.fanout.parallelism", None
    ) is None


def test_sink_band_append_rows_bit_parity(spark, sf_dir, tmp_path):
    """r15: the sink's per-batch band-index append rows are
    row-identical — id, band, key, sig, kb — to an independent
    ``banded_signatures(minhash_signature(survivors)) + _kb_expr``
    recomputation. (Pins the append layout; originally added for a
    driver-built variant that was REVERTED after it measured +4-5 s
    per batch — parallelize-backed frames pay per-slice Python-runner
    overhead in every consuming job. See BENCH_NOTES r15.)"""
    import pyspark.sql.functions as F

    from sea_serpent_spark.operators import dedup as D
    from sea_serpent_spark.operators import incremental as I
    from sea_serpent_spark.streaming.dedup import incremental_dedup_sink

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = docs.where(F.col("doc_id") < 150)
    delta = docs.where(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 300)
    )  # overlap [100,150) exercises reingest drops
    idxp = str(tmp_path / "idx")
    outp = str(tmp_path / "out")
    src = str(tmp_path / "src")
    I.write_band_index(
        I.minhash_band_index(hist, key_buckets=8), idxp, key_buckets=8
    )
    files_before = {
        str(p) for p in __import__("pathlib").Path(idxp).rglob("*.parquet")
    }
    delta.coalesce(1).write.parquet(src)
    (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.foreachBatch(
            incremental_dedup_sink(idxp, outp, jaccard_threshold=0.5)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start().awaitTermination()
    )
    new_files = [
        str(p) for p in __import__("pathlib").Path(idxp).rglob("*.parquet")
        if str(p) not in files_before
    ]
    assert new_files  # the append happened
    appended = spark.read.option("basePath", I._current(idxp)).parquet(
        *new_files
    ) if hasattr(I, "_current") else None
    if appended is None:
        from sea_serpent_spark.operators import artifact as A

        appended = spark.read.option(
            "basePath", A.current_dir(idxp)
        ).parquet(*new_files)
    # old formulation, computed independently over the same survivors
    out_df = spark.read.parquet(outp)
    sigs = D.minhash_signature(out_df, "text", "doc_id", 16, 1)
    expect = D.banded_signatures(sigs, 16, 4, keep=("sig",)).select(
        "id", "band", "key", "sig"
    ).withColumn("kb", I._kb_expr(8))
    got = appended.select("id", "band", "key", "sig", "kb")
    def keyed(rows):
        return sorted(
            (r["id"], r["band"], r["key"], tuple(r["sig"]), r["kb"])
            for r in rows
        )
    assert keyed(got.collect()) == keyed(expect.collect())


def test_sink_batch_fan_out_sees_batch_parallelism(
    spark, sf_dir, tmp_path, monkeypatch
):
    """``batch_parallelism`` reaches the operators through FANOUT_CONF
    on the batch's session clone: every ``fan_out`` in the batch sizes
    to it, and the caller's session never carries it."""
    import pyspark.sql.functions as F

    from sea_serpent_spark.operators import incremental as I
    from sea_serpent_spark.operators import util
    from sea_serpent_spark.streaming.dedup import incremental_dedup_sink

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idxp = str(tmp_path / "idx")
    I.write_band_index(
        I.minhash_band_index(docs.where(F.col("doc_id") < 60), key_buckets=4),
        idxp, key_buckets=4,
    )
    targets: list = []
    real = util._fanout_target

    def _spy(df):
        targets.append(real(df))
        return targets[-1]

    monkeypatch.setattr(util, "_fanout_target", _spy)
    sink = incremental_dedup_sink(
        idxp, str(tmp_path / "out"), batch_parallelism=3
    )
    sink(docs.where(F.col("doc_id").between(60, 119)), 0)
    assert targets and set(targets) == {3}, targets
    assert spark.conf.get(util.FANOUT_CONF, None) is None
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


@pytest.mark.parametrize("semantic", [False, True])
def test_sink_releases_batch_frame_when_append_fails(
    spark, sf_dir, tmp_path, monkeypatch, semantic
):
    """The sinks' distributed append path persists the batch's survivor
    frame; a failed parquet append must still unpersist it, not leave it
    cached and untracked."""
    from pyspark.sql.readwriter import DataFrameWriter

    from sea_serpent_spark.operators import ann_index as A
    from sea_serpent_spark.operators import incremental as I
    from sea_serpent_spark.streaming.dedup import (
        incremental_dedup_sink,
        incremental_semantic_dedup_sink,
    )

    # the dedup operator passes the batch through without a driver-path
    # result, so the sink takes its persist-then-append branch
    def _passthrough(batch_df, *args, **kwargs):
        return batch_df

    appended: list = []

    def _failing_append(self, *args, **kwargs):
        appended.append(self._df)
        raise RuntimeError("append-boom")

    if semantic:
        monkeypatch.setattr(A, "incremental_semantic_dedup", _passthrough)
        sink = incremental_semantic_dedup_sink(
            str(tmp_path / "semidx"), str(tmp_path / "out")
        )
        batch = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    else:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        idxp = str(tmp_path / "idx")
        I.write_band_index(
            I.minhash_band_index(
                docs.where(F.col("doc_id") < 60), key_buckets=4
            ),
            idxp, key_buckets=4,
        )
        monkeypatch.setattr(I, "incremental_dedup", _passthrough)
        sink = incremental_dedup_sink(idxp, str(tmp_path / "out"))
        batch = docs.where(F.col("doc_id").between(60, 119))
    monkeypatch.setattr(DataFrameWriter, "parquet", _failing_append)
    with pytest.raises(RuntimeError, match="append-boom"):
        sink(batch, 0)
    assert len(appended) == 1
    assert not appended[0].storageLevel.useMemory
