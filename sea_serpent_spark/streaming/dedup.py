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


def _ingest_sink(probe, append, compact, output_path: str,
                 batch_parallelism: int | None,
                 compact_every: int | None, tail_due=None):
    """→ the one ``foreachBatch`` body both ingest sinks run. Each
    batch runs in its :func:`_batch_posture`; ``probe(batch_df, out)``
    returns the kept rows and fills ``out`` (the probes' ``ingest_out``
    contract); the kept rows append to ``output_path``, then
    ``append(survivors, survivor_ids, micro)`` grows the index from
    the probe's survivors frame, with ``micro`` set when the probe
    took its driver path. ``compact(spark)`` runs after every
    ``compact_every`` batches, or when ``tail_due()`` says so.

    The appends are ordered output-first: a crash between them makes
    the replay re-append the same survivors to ``output_path``
    (recoverable downstream by exact dedup on id), where the other
    order would record rows in the index that never reach the output.
    A batch replayed after its index append is dropped wholesale by
    the probe's already-indexed rule, so the loop is idempotent past
    that point. Exactly-once needs an atomic sink for both paths (a
    transactional table format), out of scope for plain parquet."""
    batches_seen = [0]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _batch_posture(batch_df, batch_parallelism)
        out: dict = {}
        kept = probe(batch_df, out)
        kept.write.mode("append").parquet(output_path)
        append(
            out["survivors"], out.get("survivor_ids"), out["driver_path"]
        )
        batches_seen[0] += 1
        if (
            compact_every and batches_seen[0] % compact_every == 0
        ) or (tail_due is not None and tail_due()):
            compact(batch_df.sparkSession)

    return _sink


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

    The index is opened via ``read_band_index`` and probed with
    ``prune_index`` on: with the ``write_band_index`` layout (``kb``
    buckets; ``key_buckets`` is read from the sidecar unless given
    here) each batch reads only the bucket directories its documents
    touch, so per-batch cost stays about flat as the index grows.
    Survivor band rows are banded from the probe's cached signatures
    (no text re-read) and land in the index's append tail.
    ``compact_every=N`` folds the tail back into the bucket layout
    after every N batches; ``compact_tail_files=N`` folds it whenever
    it holds more than N parquet files (a driver-local listing per
    batch); either firing compacts.

    ``batch_parallelism`` sizes each batch's shuffle width and operator
    fan-out to the trigger volume (roughly ``batch_rows / 50k``, min 1)
    on the batch's own session clone; leave None for backfills.

    Replay semantics (at-least-once foreachBatch) and the output-first
    append order are :func:`_ingest_sink`'s."""
    from ..operators import artifact as _art
    from ..operators.dedup import banded_signatures
    from ..operators.incremental import (
        _kb_expr,
        _key_buckets,
        compact_band_index,
        incremental_dedup,
        read_band_index,
        write_band_index,
    )

    layout: dict = {}  # the bucket count the current batch probed with

    def probe(batch_df: DataFrame, out: dict) -> DataFrame:
        idx = read_band_index(batch_df.sparkSession, index_path)
        layout["nb"] = nb = _key_buckets(idx, key_buckets)
        return incremental_dedup(
            batch_df, idx, text_col, id_col,
            num_hashes, bands, shingle_n, jaccard_threshold,
            key_buckets=nb, ingest_out=out,
        )

    def append(survivors: DataFrame, ids, micro: bool) -> None:
        nb = layout["nb"]
        rows = banded_signatures(
            survivors, num_hashes, bands, keep=("sig",)
        ).select("id", "band", "key", "sig")
        if nb:
            rows = rows.withColumn("kb", _kb_expr(nb))
        write_band_index(
            rows, index_path, mode="append", key_buckets=nb,
            ids_hint=ids, _micro=micro,
        )

    def tail_due() -> bool:
        return bool(compact_tail_files) and _art.parquet_files(
            os.path.join(_art.current_dir(index_path), _art.TAIL)
        ) > compact_tail_files

    return _ingest_sink(
        probe, append,
        lambda spark: compact_band_index(
            spark, index_path, key_buckets=layout["nb"]
        ),
        output_path, batch_parallelism, compact_every, tail_due,
    )


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
    (``append_to_ivf_index``, with the labels the probe already
    assigned), so batch N+1 dedups against history and batches 1..N.
    Seed the index with ``build_ivf_index(history, path,
    centroids=...)`` first; batches run serially, so the
    read-modify-append is race-free.

    ``batch_parallelism`` and ``compact_every`` behave as in
    :func:`incremental_dedup_sink` (compaction via
    ``compact_ivf_index``); both sinks run :func:`_ingest_sink`."""
    from ..operators.ann_index import (
        append_to_ivf_index,
        compact_ivf_index,
        incremental_semantic_dedup,
    )

    def probe(batch_df: DataFrame, out: dict) -> DataFrame:
        return incremental_semantic_dedup(
            batch_df, index_path, threshold=threshold,
            id_col=id_col, vec_col=vec_col, ingest_out=out,
        )

    def append(survivors: DataFrame, ids, micro: bool) -> None:
        assigned = survivors.select(
            F.col("id").alias(id_col), F.col("v").alias(vec_col), "label"
        )
        append_to_ivf_index(
            assigned, index_path, id_col=id_col, vec_col=vec_col,
            _assigned=assigned, _micro=micro,
        )

    return _ingest_sink(
        probe, append,
        lambda spark: compact_ivf_index(spark, index_path),
        output_path, batch_parallelism, compact_every,
    )
