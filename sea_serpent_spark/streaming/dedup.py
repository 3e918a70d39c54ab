"""Streaming minhash-LSH near-duplicate detection.

Beyond-reference extension: the batch LSH pipeline
(``operators.dedup.minhash_lsh_pairs``) re-expressed over Structured
Streaming — each arriving document is checked against everything seen so
far, emitting (new_id, seen_id, jaccard-estimate) pairs as the stream is
drained. This is the online-ingest dedup shape of a training-data
pipeline: shards arrive as micro-batches and near-dups against the whole
history are flagged without re-running a batch job.

Design:

- **Stateless signatures.** A streaming groupBy-aggregate would need
  watermarks and would hold doc state; instead the minhash signature is
  computed per-row with higher-order array functions
  (``array_min(transform(words, ...))`` per permutation). Interpreted
  HOFs are slower per element than the batch explode→groupBy plan, but
  micro-batches are small by construction — and the expression is the
  bit-identical portable hash family, so streaming and batch signatures
  agree exactly.
- **State = LSH buckets.** Band keys shuffle the stream by
  (band, key) and ``applyInPandasWithState`` keeps, per bucket, the
  (id, signature) list seen so far — exactly the inverted index a batch
  band self-join materializes, built incrementally. A new doc compares
  against only its bucket's members (the LSH candidate guarantee), and
  every k-batch split of the input yields the same final pair set as the
  batch operator (tested batch==stream).
- **Scale posture.** State is per-bucket and proportional to distinct
  signatures per bucket — the same cardinality the batch band join
  shuffles; hot buckets are bounded by ``max_bucket`` (oldest entries
  evicted FIFO, trading recall for bounded state — the standard online
  LSH compromise, off by default).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators.hashing import MINHASH_COEFFS, P, h32

def _batch_posture(batch_df: DataFrame, batch_parallelism: int | None):
    """→ ``batch_df`` in its own session clone with ``batch_parallelism``
    as shuffle width and operator fan-out (as is when unset).

    Also disables ADAPTIVE execution for the batch (r13): AQE
    materializes every exchange as its own Spark job to re-plan at
    runtime — the right trade for big unknown-stats queries, pure
    scheduler-latency overhead for a trigger-sized micro-batch whose
    shuffle width this knob just pinned statically (measured:
    20 → 9 jobs/probe, identical survivors). Backfill-sized batches
    should leave ``batch_parallelism`` unset and keep AQE."""
    if not batch_parallelism:
        return batch_df
    from ..operators.util import FANOUT_CONF, micro, posture

    n = int(batch_parallelism)
    return posture(batch_df, {**micro(n), FANOUT_CONF: str(n)})


def streaming_minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
) -> DataFrame:
    """→ [id, sig array<bigint>] per-row (stateless) minhash — the
    streaming twin of ``operators.dedup.minhash_signature``, same hash
    family, bit-identical output."""
    ws = F.array_distinct(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    )
    h = F.transform(ws, lambda w: h32(w) % F.lit(P))
    sig = F.array(
        *[
            F.array_min(
                F.transform(h, lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(P))
            )
            for a, b in MINHASH_COEFFS[:num_hashes]
        ]
    )
    return docs.select(F.col(id_col).alias("id"), sig.alias("sig"))


PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("estimate", T.DoubleType()),
    ]
)
_STATE_SCHEMA = "ids ARRAY<BIGINT>, sigs ARRAY<ARRAY<BIGINT>>"


def streaming_minhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """→ streaming [id_a, id_b, estimate ≥ threshold]: near-dup pairs of
    each arriving doc against every doc seen so far in a shared band
    bucket. The same pair can surface from several bands — dedupe at the
    sink (``drained.dropDuplicates(["id_a","id_b"])``); estimates are
    deterministic per pair so the duplicates are identical rows."""
    rows = num_hashes // bands
    sigs = streaming_minhash_signature(docs, text_col, id_col, num_hashes)
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.concat_ws(
                "-",
                *[
                    F.element_at("sig", i * rows + r + 1).cast("string")
                    for r in range(rows)
                ],
            ).alias("key"),
        )
        for i in range(bands)
    ]
    banded = sigs.select(
        "id", "sig", F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        "id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )

    thresh = float(jaccard_threshold)
    nh = num_hashes
    cap = max_bucket

    def update(key, pdfs, state):
        import pandas as pd

        ids, sigs_seen = state.get if state.exists else ([], [])
        ids, sigs_seen = list(ids), [list(s) for s in sigs_seen]
        out_a, out_b, out_e = [], [], []
        for pdf in pdfs:
            # deterministic order regardless of batch split
            pdf = pdf.sort_values("id")
            for rid, sig in zip(pdf["id"], pdf["sig"]):
                rid = int(rid)  # plain Python values: state is pickled
                sig = [int(x) for x in sig]
                for sid, ssig in zip(ids, sigs_seen):
                    if sid == rid:
                        continue
                    m = sum(1 for x, y in zip(sig, ssig) if x == y)
                    est = round(m / nh, 4)
                    if est >= thresh:
                        out_a.append(min(rid, sid))
                        out_b.append(max(rid, sid))
                        out_e.append(est)
                ids.append(rid)
                sigs_seen.append(sig)
        if cap is not None and len(ids) > cap:
            ids, sigs_seen = ids[-cap:], sigs_seen[-cap:]
        state.update((ids, sigs_seen))
        yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "estimate": out_e})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return banded.groupBy("band", "key").applyInPandasWithState(
        update,
        outputStructType=PAIR_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def incremental_dedup_sink(
    index_path: str,
    output_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    jaccard_threshold: float = 0.5,
    key_buckets: int | None = None,
    compact_every: int | None = None,
    batch_parallelism: int | None = None,
    compact_tail_files: int | None = None,
):
    """→ a ``foreachBatch`` function closing the full streaming ingest
    loop: each micro-batch is deduped against the persisted LSH index
    (``operators.incremental.incremental_dedup``), survivors append to
    ``output_path``, and their band rows append to ``index_path`` — so
    batch N+1 automatically dedups against batches 1..N *and* all
    history the index started with.

    This is the recommended shape for streaming NEAR-dup ingest: the
    stateful in-query variant (``streaming_minhash_pairs``) holds the
    inverted index in stream state, which the state store rebuilds from
    the checkpoint on restart and cannot share with batch jobs; a
    parquet/Delta index is durable, shared, and append-only. Exact-dup
    streaming stays in-query (``events.streaming_dedup_against``) where
    a fingerprint anti-join needs no verification step.

    Usage::

        stream.writeStream.foreachBatch(
            incremental_dedup_sink("/idx", "/clean")
        ).trigger(availableNow=True).start()

    The index directory must exist with ≥1 band file (seed it with
    ``write_band_index(minhash_band_index(history), path)`` — or an
    empty frame for a cold start). Batches are processed serially by
    Structured Streaming, so the read-modify-append on the index is
    race-free.

    Scale posture: the index is opened via ``read_band_index`` and
    probed with ``prune_index`` on, so when it carries the
    ``write_band_index`` layout (partitioned by band + coarse key
    bucket, seeded layout's ``key_buckets`` is auto-discovered from the
    sidecar unless overridden here) each batch reads only the bucket
    directories its documents touch — per-batch cost stays ~flat as the
    index accumulates instead of growing with history
    (BENCH_NOTES "Prunable band-index layout"). Survivor band rows are
    appended in the same layout; pass ``compact_every=N`` to fold each
    bucket's accumulated small per-batch files back into one sorted
    file after every N batches (serial batches make the rewrite+swap
    race-free).

    ``compact_tail_files`` (r12) is the SIZE-based compaction trigger —
    fold the L0 tail back into the bucket layout whenever its parquet
    file count exceeds the threshold. Unlike ``compact_every`` (a
    batch-count cadence), it tracks what actually degrades probes: the
    unpruned tail scan. The check is a driver-local directory listing
    per batch; both triggers may be combined (either firing compacts).

    ``batch_parallelism`` (r12) sizes the probe's shuffle width and
    operator fan-out to the TRIGGER volume instead of the cluster
    default for the duration of each batch: a few-hundred-row
    micro-batch spread 32 ways pays 32 task launches per stage of pure
    scheduler latency across the probe's ~30 jobs — the dominant term
    of the per-batch floor at high trigger cadence. Set it to roughly
    ``batch_rows / 50k`` (min 1); leave None for big-batch backfills.
    The confs live on the batch's own session clone, so nothing else
    planning on the query's session sees them.

    Replay semantics (at-least-once foreachBatch): a batch replayed
    AFTER its index append completed is dropped wholesale —
    ``incremental_dedup`` treats already-indexed ids as duplicates of
    history — so the loop is idempotent past that point. The remaining
    window is a crash BETWEEN the output append and the index append:
    the replay then re-appends the same survivors to ``output_path``.
    The appends are deliberately ordered output-first because the two
    failure modes are asymmetric — duplicated output rows are
    recoverable downstream (exact dedup by id), rows recorded in the
    index but never written to the output are silently LOST. Exactly-
    once needs an atomic sink for both paths (e.g. a transactional
    table format) — out of scope for plain parquet."""
    from ..operators.dedup import banded_signatures
    from ..operators.incremental import (
        _kb_expr,
        compact_band_index,
        incremental_dedup,
        minhash_band_index,
        read_band_index,
        write_band_index,
    )

    batches_seen = {"n": 0}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _batch_posture(batch_df, batch_parallelism)
        _sink_body(batch_df.sparkSession, batch_df)

    def _sink_body(spark, batch_df: DataFrame) -> None:
        idx = read_band_index(spark, index_path)
        nb = key_buckets
        if nb is None and "kb" in idx.columns:
            nb = (idx.schema["kb"].metadata or {}).get("key_buckets")
        out: dict = {}
        kept = incremental_dedup(
            batch_df, idx, text_col, id_col,
            num_hashes, bands, shingle_n, jaccard_threshold,
            key_buckets=nb, ingest_out=out,
        )
        if out.get("driver_path"):
            # r15 NOTE: a driver-built local band frame (from the
            # probe's collected delta sigs) was tried here and REVERTED
            # after an interleaved A/B showed +4-5 s PER BATCH: a
            # parallelize-backed frame pays ~130 ms of Python-runner
            # overhead PER PARTITION in every consuming job (measured;
            # 32 default slices -> ~4 s), while this JVM path scans the
            # already-persisted signature cache with no Python anywhere.
            # See BENCH_NOTES "round 15".
            # r13 collapsed append path: the probe hands over the
            # survivor ids and its cached signature frame restricted to
            # survivors — derive the band rows from the cache (zero
            # re-shingling, zero text re-read) and build the bloom
            # delta locally from the survivor ids (zero jobs). No
            # persist needed: the output write is the only scan of the
            # batch data, and the band append scans the sig cache.
            kept.write.mode("append").parquet(output_path)
            band_rows = banded_signatures(
                out["survivors"], num_hashes, bands, keep=("sig",)
            ).select("id", "band", "key", "sig")
            if nb:
                band_rows = band_rows.withColumn("kb", _kb_expr(nb))
            write_band_index(
                band_rows, index_path, mode="append",
                key_buckets=nb, ids_hint=out["survivor_ids"],
            )
        else:
            # materialize survivors BEFORE touching the index so the
            # band append below cannot observe its own output
            kept.persist()
            try:
                kept.write.mode("append").parquet(output_path)
                band_rows = minhash_band_index(
                    kept, text_col, id_col, num_hashes, bands, shingle_n,
                    key_buckets=nb,
                )
                write_band_index(
                    band_rows, index_path, mode="append", key_buckets=nb,
                )
            finally:
                kept.unpersist()
        batches_seen["n"] += 1
        due = (
            compact_every
            and batches_seen["n"] % compact_every == 0
        )
        if not due and compact_tail_files:
            from ..operators import artifact as _art

            due = _art.parquet_files(os.path.join(
                _art.current_dir(index_path), _art.TAIL
            )) > compact_tail_files
        if due:
            compact_band_index(spark, index_path, key_buckets=nb)

    return _sink


def incremental_semantic_dedup_sink(
    index_path: str,
    output_path: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_parallelism: int | None = None,
    compact_every: int | None = None,
):
    """→ a ``foreachBatch`` function closing the streaming EMBEDDING
    ingest loop — the semantic twin of :func:`incremental_dedup_sink`:
    each micro-batch of vectors is deduped against the persisted IVF
    index (``ann_index.incremental_semantic_dedup`` — same-list cosine
    pairs, history-wins, min-id-survives, idempotent replays),
    survivors append to ``output_path`` AND into the index's L0 tail
    (``append_to_ivf_index``), so batch N+1 dedups against history and
    batches 1..N. Seed the index with
    ``build_ivf_index(history, path, centroids=...)`` first; batches
    run serially, so the read-modify-append is race-free.

    ``batch_parallelism`` and ``compact_every`` behave exactly as in
    :func:`incremental_dedup_sink` (trigger-sized fan-out/shuffles;
    periodic tail compaction via ``compact_ivf_index``). The
    output-first append ordering and its at-least-once window are the
    same documented trade as the LSH sink."""
    from ..operators.ann_index import (
        append_to_ivf_index,
        compact_ivf_index,
        incremental_semantic_dedup,
    )

    batches_seen = {"n": 0}

    def _body(spark, batch_df: DataFrame) -> None:
        out: dict = {}
        kept = incremental_semantic_dedup(
            batch_df, index_path, threshold=threshold,
            id_col=id_col, vec_col=vec_col, ingest_out=out,
        )
        if out.get("driver_path"):
            # r13 collapsed append: survivors' labels come from the
            # probe's cached pinned-quantizer assignment — no
            # re-assignment, no persist (the output write is the only
            # scan of the batch data; the append scans the cache)
            kept.write.mode("append").parquet(output_path)
            append_to_ivf_index(
                kept.select(id_col, vec_col), index_path,
                id_col=id_col, vec_col=vec_col,
                _assigned=out["survivors"].select(
                    F.col("id").alias(id_col),
                    F.col("v").alias(vec_col),
                    "label",
                ),
            )
        else:
            kept.persist()
            try:
                kept.write.mode("append").parquet(output_path)
                append_to_ivf_index(
                    kept.select(id_col, vec_col), index_path,
                    id_col=id_col, vec_col=vec_col,
                )
            finally:
                kept.unpersist()
        batches_seen["n"] += 1
        if compact_every and batches_seen["n"] % compact_every == 0:
            compact_ivf_index(spark, index_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _batch_posture(batch_df, batch_parallelism)
        _body(batch_df.sparkSession, batch_df)

    return _sink
