"""Persisted IVF index for approximate nearest-neighbor search.

The similarity-search twin of the incremental LSH band index
(``operators/incremental.py``): ``ivf_topk`` answers "search THIS
corpus"; a production pipeline builds the index ONCE and serves probe
queries against the artifact without re-assigning the corpus per job.

Layout (the 100 TB design, same playbook as ``write_band_index``):

- the corpus is assigned to its argmax-cosine coarse centroid
  (``similarity.ivf_assign`` — the IVF list id) and written PARTITIONED
  BY ``label``, rows sorted by id within each list;
- the quantizer (k × dim centroids) rides a ``_ivf_index_meta.json``
  sidecar — centroids are a versioned artifact, pinned at build time
  (the ``kmeans_fit`` docstring's reproducibility posture);
- a probe computes each query's top-``nprobe`` lists from the sidecar
  centroids as a broadcast-literal expression, collects the DISTINCT
  probed list ids (bounded by the centroid count — a constant, never
  data-sized), and pushes them as literal partition predicates: the
  scan reads ONLY the probed list directories. Per-query work is then
  proportional to the probed lists' sizes, not the corpus — the IVF
  contract, realized at the file-layout level.

Exactness contract: with the same centroids, ``ivf_index_topk`` on the
persisted index equals ``ivf_topk`` over ``ivf_assign``-labeled frames
(nprobe=1), and multi-probe widens recall by scanning the next-best
lists — probe SELECTION is deterministic (affinity desc, index asc tie
order), which the q41 oracle replays in SQL.

Reference: the reference has no vector surface at all — this is a
beyond-reference LLM-pipeline extension (SURVEY §7 Phase 5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from . import artifact, similarity
from .similarity import dot, ivf_assign, kmeans_fit, norm
from .util import fan_out, tracked_checkpoint

_ANN_META = "_ivf_index_meta.json"

#: Query batches at or under this many (query, probe) rows broadcast in
#: the candidate join; ~512 B/row at dim=64 → ≈250 MB worst case.
_QUERY_BROADCAST_CAP = 500_000

#: r15: probe batches at or under this many (query × nprobe) rows have
#: their probe frame pulled to the driver in ONE bounded take and
#: rebuilt as a local relation — collapsing the probe setup's three
#: actions (checkpoint fill, probed-label collect, broadcast count
#: gate) into one job. 2048 rows of (id, vector, label) is ≤ ~0.5 MB
#: driver-side at typical dims; bulk scoring batches overflow the take
#: and keep the distributed checkpoint flow.
_LOCAL_PROBE_QUERY_CAP = 2048


def _probe_frame(spark, q_plan, label_col: str = "label"):
    """→ (q, probed_labels, broadcastable) for an exploded probe plan.

    Trigger-sized batches: ONE ``take`` executes probe selection once;
    the probed label set and the row count come from the in-hand rows,
    and the join side is rebuilt as a driver-local relation (a
    LocalRelation when small enough; its broadcast build still runs a
    Spark job, but over one scan task per row instead of a
    parallelized list's full slice count — see ``util.local_rows_df``).
    Values round-trip exactly: floats are IEEE754 doubles both sides,
    so the rebuilt literals score bit-identically. Oversized batches keep the r10 checkpointed flow
    (one materialization serving the label collect, the count gate and
    the candidate join).

    ``q_plan`` is cached for the take, so an oversized batch's
    checkpoint reads the partitions the take already computed: probe
    selection runs once per row on both paths. The cache is dropped
    once the rows are in hand or the checkpoint is filled."""
    from .dedup import _verify_gate
    from .lifetime import _keep_cache
    from .util import local_rows_df, take_upto

    _keep_cache(q_plan)
    try:
        rows = take_upto(q_plan, _LOCAL_PROBE_QUERY_CAP)
        if rows is not None:
            probed = sorted({int(r[label_col]) for r in rows})
            q = local_rows_df(
                spark, [tuple(r) for r in rows], q_plan.schema
            )
            return q, probed, True
        q, _ = tracked_checkpoint(q_plan)
    finally:
        q_plan.unpersist(False)
    probed = sorted(
        {
            int(r[label_col])
            for r in q.select(label_col).distinct().collect()
        }
    )  # ≤ len(centroids) rows — constant-bounded collect
    return q, probed, _verify_gate(q, None, _QUERY_BROADCAST_CAP)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    centroids: list[list[float]] | None = None,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> list[list[float]]:
    """Assign every corpus vector to its IVF list and persist the
    list-partitioned layout + the quantizer sidecar. Returns the
    centroids actually used (pass pinned ones for byte-stable builds;
    ``kmeans_fit`` is the from-scratch path).

    ``codebooks`` (round 10) additionally stores each vector's PQ code
    (``similarity.pq_encode``) as a ``pq_code`` column of the SAME
    list-partitioned layout — the IVF-PQ artifact. An ADC probe
    (:func:`ivf_index_pq_topk`) then selects ONLY (id, code, label):
    parquet column pruning keeps the raw vectors on disk, so the probed
    lists are scanned as m-byte codes instead of full vectors — the
    production memory shape at 100 TB (the billion-scale FAISS layout).
    The codebooks ride the sidecar next to the quantizer.

    Versioned-manifest commit (round 10): the layout lands in a fresh
    generation directory and is published by the atomic manifest swap
    of ``operators/artifact.py`` — a REBUILD over a live index cannot
    tear a concurrent probe (readers pin the generation they resolved;
    the previous one is retained through one publish)."""
    if centroids is None:
        centroids = kmeans_fit(corpus, vec_col, k)
    assigned = ivf_assign(
        corpus.select(id_col, vec_col), centroids, vec_col
    )
    if codebooks is not None:
        from .similarity import pq_encode

        assigned = pq_encode(assigned, codebooks, vec_col=vec_col)
    meta = {"centroids": centroids, "id_col": id_col}
    if codebooks is not None:
        meta["codebooks"] = codebooks
    artifact.write_generation(
        path, "ivf-build",
        lambda staging: artifact.write_layout(
            assigned, staging, ["label"], [id_col], _ANN_META, meta
        ),
    )
    return centroids


def _open(spark: SparkSession, path: str) -> artifact.Generation:
    """The index's pinned generation; its sidecar carries the
    quantizer (``centroids``), ``id_col`` and any PQ ``codebooks``."""
    gen = artifact.open_generation(spark, path, _ANN_META)
    if "centroids" not in gen.meta:
        raise FileNotFoundError(f"no IVF index sidecar under {path}")
    return gen


def read_ivf_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, list[list[float]]]:
    """→ (list-partitioned corpus frame incl. any append tail,
    quantizer centroids), pinned to the manifest's current
    generation."""
    gen = _open(spark, path)
    return artifact.open_frame(spark, gen), gen.meta["centroids"]


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _assigned: DataFrame | None = None,
) -> None:
    """Append vectors to a live IVF(-PQ) index WITHOUT a rebuild —
    the ANN twin of the band index's per-batch ingest
    (``write_band_index(mode='append')``): daily embedding batches
    join the index as they arrive, full rebuilds become a compaction
    cadence instead of a per-batch cost.

    New vectors are assigned with the index's PINNED quantizer (and
    encoded against its codebooks when the index is IVF-PQ), so
    build-then-append equals a fresh full build over the union — the
    exactness contract probes rely on (tested). Rows land in the
    current generation's flat L0 tail (≤ a few files per batch, label
    as a data column); probes union the tail in and filter it by the
    probed labels (small by the compaction contract, like the band
    index's). :func:`compact_ivf_index` folds the tail back into one
    sorted file per list directory. Lease-guarded: appends serialize
    against builds, compactions, and each other.

    ``_assigned`` (r13, the streaming sink's hand-off): a frame with
    columns (``id_col``, ``vec_col``, ``label``) whose labels were
    ALREADY computed with this index's pinned quantizer — the
    incremental probe's cached assignment. Skips the re-assignment
    expression; the caller guarantees quantizer identity (same index
    path the probe read)."""
    spark = new_vectors.sparkSession
    with artifact.writer_lease(path, owner="ivf-append"):
        gen = _open(spark, path)
        meta = gen.meta
        if _assigned is not None:
            assigned = _assigned.select(id_col, vec_col, "label")
        else:
            assigned = ivf_assign(
                new_vectors.select(id_col, vec_col),
                meta["centroids"], vec_col,
            )
        if meta.get("codebooks"):
            from .similarity import pq_encode

            assigned = pq_encode(
                assigned, meta["codebooks"], vec_col=vec_col
            )
        # the sink's pre-assigned hand-off is a micro-batch append
        artifact.append_tail(
            assigned, gen.dir, "label", [id_col],
            micro=_assigned is not None, partitioned=False,
        )


def incremental_semantic_dedup(
    new_df: DataFrame,
    path: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ingest_out: dict | None = None,
) -> DataFrame:
    """Surviving rows of ``new_df`` after SEMANTIC dedup against a
    persisted IVF index AND within the delta itself — the SemDeDup
    analogue of ``incremental.incremental_dedup``: a production
    embedding pipeline asks "which of today's vectors near-duplicate
    anything already ingested?" without re-clustering history.

    Semantics (mirroring the LSH incremental operator exactly):

    - new vectors are assigned with the index's PINNED quantizer; the
      candidate set is same-list pairs — delta×(indexed list rows) and
      delta×delta — verified by exact cosine ≥ ``threshold`` (rounded
      to 4 decimals, the module's convention). Same-list scoping IS
      SemDeDup's within-cluster scoping; cross-list near-dups are
      invisible by design (the paper's recall trade).
    - transitive duplicate components over those delta-touching pairs
      (indexed-indexed pairs are invisible — history is immutable); a
      component containing ANY indexed vector keeps no new rows
      (history wins), a pure-new component keeps its min id.
    - a delta id already present in the index is dropped outright —
      the idempotent-replay contract (re-running a partially ingested
      batch cannot double-append).

    Complete the loop with ``append_to_ivf_index(survivors, path)``.

    Scale terms: assignment is row-local; the index scan is partition-
    pruned to the delta's lists (collected label set ≤ k, a constant);
    pair enumeration is bounded by delta×probed-list sizes (the IVF
    probe cost class); components/keeper move ids only. The reingest
    id check scans the index's id column only (parquet column
    pruning).

    Driver-assisted micro-batch path (r13, mirroring
    ``incremental.incremental_dedup``): for trigger-sized deltas
    (≤ ``incremental._DRIVER_PROBE_DOC_CAP`` ids), ONE take() collects
    the verified pairs, the probed lists' old ids, the delta's ids,
    AND the reingest semi-join's hits (a fourth tagged branch — the
    index id-column scan folds into the same job instead of its own);
    union-find + the witness/keeper rule run locally and the anti-join
    becomes an ``isin`` predicate — no CC checkpoint/take, no loser
    checkpoint, no separate reingest job. Output bit-identical
    (parity-tested); oversized collects fall back to the distributed
    flow. Both paths make the band probe's decision through the same
    helpers (``incremental._ingest_keep_local`` /
    ``_ingest_keep_distributed``).

    ``ingest_out`` follows ``incremental_dedup``'s contract: on the
    driver path ``driver_path=True``, ``survivor_ids`` and
    ``survivors`` — here the cached pinned-quantizer assignment
    (``id``, ``v``, ``label``) restricted to survivors, so the
    streaming sink appends without re-assigning; the distributed flow
    leaves it empty. The survivors frame stays persisted until the
    caller's next operator boundary."""
    import pyspark.sql.functions as _F

    from .dedup import BROADCAST_VERIFY_CAP, _maybe_broadcast
    from .lifetime import _keep_cache, _retire_scope

    spark = new_df.sparkSession
    gen = _open(spark, path)
    centroids = gen.meta["centroids"]
    _retire_scope()
    delta = _keep_cache(
        ivf_assign(
            new_df.select(
                _F.col(id_col).alias("id"),
                _F.col(vec_col).alias("v"),
            ),
            centroids, vec_col="v",
        )
    )
    # ONE job: the delta's list set (≤ len(centroids) rows — the
    # partition-prune predicate) AND its row count (broadcast gates),
    # materializing the cached assignment as a side effect — the r12
    # folded-gate shape of the LSH probe
    lab_rows = delta.groupBy("label").agg(
        _F.count(_F.lit(1)).alias("n")
    ).collect()
    labels = sorted(int(r["label"]) for r in lab_rows)
    n_delta = sum(int(r["n"]) for r in lab_rows)
    # ONE open per probe (sidecar-pinned schema, per-generation main
    # frame) shared by the pruned scan AND the reingest id scan — two
    # separate opens each paid a footer-inference job before r13
    full = artifact.open_frame(spark, gen)
    pruned = _keep_cache(
        full
        .where(_F.col("label").isin(labels))
        .select(
            _F.col(id_col).alias("id"),
            _F.col(vec_col).alias("v"),
            "label",
        )
    )
    allv = pruned.withColumn("__new", _F.lit(False)).unionByName(
        delta.withColumn("__new", _F.lit(True))
    ).withColumn("__n", _F.greatest(norm(_F.col("v")), _F.lit(1e-12)))
    a = allv.where("__new").select(
        _F.col("id").alias("id_a"), _F.col("v").alias("va"),
        _F.col("__n").alias("na"), "label",
    )
    # the candidate join is keyed on the LIST id — deliberately
    # low-cardinality, so a shuffle join collapses to ≤ |labels|
    # reducers and the cosine verify serializes (measured: one 5-task
    # job carrying the whole slot). Broadcast the DELTA side under the
    # usual cap and fan the probe-all side out, exactly the
    # ivf_index_topk posture — the verify then runs map-local at scan
    # parallelism.
    b = fan_out(allv).select(
        _F.col("id").alias("id_b"), _F.col("v").alias("vb"),
        _F.col("__n").alias("nb"), _F.col("__new").alias("new_b"),
        "label",
    )
    pairs = (
        b.join(
            _maybe_broadcast(a, n_delta <= BROADCAST_VERIFY_CAP),
            "label",
        )
        .where(
            (_F.col("id_a") != _F.col("id_b"))
            # each unordered pair once: new-new pairs meet from both
            # probe orientations, new-old only from the new side
            & ((~_F.col("new_b")) | (_F.col("id_a") < _F.col("id_b")))
        )
        .select(
            "id_a", "id_b",
            _F.round(
                dot(_F.col("va"), _F.col("vb"))
                / (_F.col("na") * _F.col("nb")),
                4,
            ).alias("cos"),
        )
        .where(_F.col("cos") >= float(threshold))
    )
    from .incremental import (
        _DRIVER_PROBE_DOC_CAP,
        _DRIVER_PROBE_ROW_CAP,
        _ingest_keep_distributed,
        _ingest_keep_local,
    )

    if n_delta <= _DRIVER_PROBE_DOC_CAP:
        idt = delta.schema["id"].dataType
        null_id = _F.lit(None).cast(idt)
        # the reingest check rides the same take as a 4th branch: the
        # index's id column streams past the broadcast delta ids —
        # no separate job, and only matching ids reach the driver
        reing = (
            full
            .select(_F.col(id_col).alias("id"))
            .join(
                _F.broadcast(delta.select("id")), "id", "left_semi"
            )
            .select(
                _F.col("id").alias("id_a"),
                null_id.alias("id_b"),
                _F.lit("r").alias("__t"),
            )
        )
        payload = (
            pairs.select("id_a", "id_b", _F.lit("e").alias("__t"))
            .unionByName(
                pruned.select(
                    _F.col("id").alias("id_a"),
                    null_id.alias("id_b"),
                    _F.lit("o").alias("__t"),
                )
            )
            .unionByName(
                delta.select(
                    _F.col("id").alias("id_a"),
                    null_id.alias("id_b"),
                    _F.lit("d").alias("__t"),
                )
            )
            .unionByName(reing)
        )
        from .util import MinRootUnionFind, take_upto

        rows = take_upto(payload, _DRIVER_PROBE_ROW_CAP)
        if rows is not None:
            uf = MinRootUnionFind()
            old: set = set()
            delta_ids: dict = {}  # distinct, in take order
            hits: list = []
            for r in rows:
                t = r["__t"]
                if t == "e":
                    uf.union(r["id_a"], r["id_b"])
                elif t == "o":
                    old.add(r["id_a"])
                elif t == "d":
                    delta_ids[r["id_a"]] = None
                else:  # 'r' — already-ingested id (idempotent replay)
                    hits.append(r["id_a"])
            return _ingest_keep_local(
                uf, old, list(delta_ids), hits, new_df, id_col, delta,
                ingest_out,
            )
    return _ingest_keep_distributed(
        new_df, id_col, pairs, pruned.select("id"),
        full.select(_F.col(id_col).alias("id")),
        n_delta <= BROADCAST_VERIFY_CAP,
    )


def compact_ivf_index(spark: SparkSession, path: str) -> dict:
    """Fold the append tail back into the sorted list-partitioned
    layout → ``{"files_before": n, "files_after": m}``. The compacted
    layout lands in a fresh generation published by the atomic
    manifest swap (a concurrent probe keeps the generation it pinned)
    — the same commit discipline as ``compact_band_index``
    (``artifact.compact``)."""

    def stage(gen, full, staging):
        # sort key = the id column the build recorded in the sidecar
        # (r13); the first-non-label-column fallback only serves
        # pre-r13 indexes whose sidecar predates the key
        id_sort = gen.meta.get("id_col") or [
            c for c in full.columns if c not in ("label",)
        ][0]
        artifact.write_layout(
            full, staging, ["label"], [id_sort], _ANN_META, gen.meta
        )

    return artifact.compact(spark, path, _ANN_META, "ivf-compact", stage)


def ivf_probes(
    df: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 1,
    vec_col: str = "embedding",
    out_col: str = "probes",
) -> DataFrame:
    """Attach each row's top-``nprobe`` IVF list ids — the probe
    SELECTION. Deterministic order: affinity descending, centroid index
    ascending on ties.

    Two physical forms, same semantics: small quantizers (k·dim ≤
    ``similarity._LITERAL_TREE_CAP``) use the pure broadcast-literal
    expression (no shuffle, no join, bit-pinned by the q41 oracle —
    array_sort over struct(−affinity, index), the lexicographic tie
    rule the SQL replays); larger quantizers use an Arrow-batched numpy
    UDF over ``similarity._affinities`` (the centroid matrix rides the
    closure). The UDF path is parity-tested against the literal path;
    its float64 matrix product may differ from the in-order fold in the
    last ulp, which can only matter on exact affinity ties — the
    oracle-pinned path stays literal."""
    for staging in ("__an",):
        if staging in df.columns:
            raise ValueError(
                f"ivf_probes stages an internal column {staging!r}; "
                "rename the conflicting input column first"
            )
    k = len(centroids)
    dim = len(centroids[0]) if k else 0
    if k * dim > similarity._LITERAL_TREE_CAP:
        from pyspark.sql.types import ArrayType, IntegerType

        C = np.asarray(centroids, dtype=np.float64)  # (k, dim)
        npb = int(nprobe)

        @F.pandas_udf(ArrayType(IntegerType()))
        def _probes(vs: pd.Series) -> pd.Series:
            res: list = [None] * len(vs)
            for i, v in enumerate(vs):
                aff = similarity._affinities(C, v)
                if aff is None:
                    continue
                # affinity desc, index asc on ties == lexicographic
                # sort of (−aff, index); argsort is stable, so sorting
                # −aff alone gives index-ascending tie order
                order = np.argsort(-aff, kind="stable")[:npb]
                res[i] = [int(x) for x in order]
            return pd.Series(res)

        # optimizer fence against duplicate evaluation (see pq_encode)
        _probes = _probes.asNondeterministic()
        return df.withColumn(out_col, _probes(F.col(vec_col)))
    staged = df.withColumn(
        "__an", F.greatest(norm(F.col(vec_col)), F.lit(1e-12))
    )
    from .similarity import (
        _expr_cache_get,
        _expr_cache_key,
        _expr_cache_put,
        _quantizer_key,
    )

    ck = _expr_cache_key(
        "probes", vec_col, int(nprobe), _quantizer_key(centroids)
    )
    probes = _expr_cache_get(ck)
    if probes is None:
        scored = F.array(
            *[
                F.struct(
                    (
                        -(dot(F.col(vec_col),
                              F.array(*[F.lit(float(x)) for x in c]))
                          / F.col("__an"))
                    ).alias("ns"),
                    F.lit(i).alias("i"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        probes = F.transform(
            F.slice(F.array_sort(scored), 1, int(nprobe)),
            lambda x: x["i"],
        )
        _expr_cache_put(ck, probes)
    return staged.withColumn(out_col, probes).drop("__an")


def ivf_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ [query_id, neighbor_id, rank]: cosine top-k of each query over
    the PROBED lists of a persisted IVF index.

    Scale shape: probe selection is row-local; the distinct probed list
    ids (≤ centroid count, a CONSTANT-bounded collect) become literal
    partition predicates so the index scan opens only probed
    directories; the candidate join is (list id)-keyed with the query
    side exploded per probe and broadcast under a count gate (the list
    id is deliberately low-cardinality, so the shuffle fallback bounds
    parallelism by |probed| — split bulk batches instead); ranking is
    the standard per-query window."""
    gen = _open(spark, path)
    centroids = gen.meta["centroids"]
    q = ivf_probes(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
        ),
        centroids, nprobe, vec_col="qv",
    ).withColumn(
        "nq", F.greatest(norm(F.col("qv")), F.lit(1e-12))
    ).select(
        "query_id", "qv", "nq", F.explode("probes").alias("label")
    )
    # ONE bounded take materializes probe selection and yields the
    # probed labels + count gate from the in-hand rows (r15 —
    # collapsing the r10 three-action setup; bulk batches overflow to
    # the checkpointed flow inside the helper)
    q, probed, bcast = _probe_frame(spark, q)
    idx = fan_out(
        artifact.open_frame(spark, gen).where(F.col("label").isin(probed))
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.greatest(norm(F.col(vec_col)), F.lit(1e-12)).alias("nc"),
        "label",
    )
    # the candidate join is keyed on the LIST id — a deliberately
    # low-cardinality key, so a shuffle join would collapse to
    # ≤ |probed| reducers. Broadcasting the (exploded) query side keeps
    # the index side map-local — but only while the batch is genuinely
    # broadcastable; a bulk scoring job (millions of queries) falls
    # back to the shuffle join and should split its batch instead.
    if bcast:
        q = F.broadcast(q)
    scored = (
        idx.join(q, "label")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv"))
             / (F.col("nq") * F.col("nc"))).alias("cos"),
        )
        # a neighbor can sit in two probed lists of the SAME query only
        # if lists overlapped — they don't (argmax assignment is a
        # partition), so no dedup is needed
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_index_pq_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ [query_id, neighbor_id, rank]: ADC top-k of each query over
    the PROBED lists of a persisted IVF-PQ index (built with
    ``codebooks``) — the production memory shape at 100 TB: probe
    selection and partition pruning exactly as :func:`ivf_index_topk`,
    but the index scan selects ONLY (id, pq_code, label); the raw
    vectors never leave disk (parquet column pruning), and scoring is
    the per-query LUT + m array lookups of ``similarity.pq_topk``.

    With ``nprobe = len(centroids)`` the result equals plain
    ``pq_topk`` over the full corpus (every list probed — tested); the
    probe order/tie rules match ``ivf_index_topk`` so the q41 oracle
    replays the whole pipeline in SQL."""
    gen = _open(spark, path)
    centroids = gen.meta["centroids"]
    codebooks = gen.meta.get("codebooks")
    if not codebooks:
        raise ValueError(
            "index was built without PQ codebooks — rebuild with "
            "build_ivf_index(..., codebooks=...)"
        )
    from .similarity import pq_topk

    q = ivf_probes(
        queries.select(F.col(id_col), F.col(vec_col)),
        centroids, nprobe, vec_col=vec_col,
    ).select(
        id_col, vec_col, F.explode("probes").alias("label")
    )
    # ONE bounded take serves the label collect and the join side
    # (r15 — see ivf_index_topk; pq_topk broadcasts q itself)
    q, probed, _bcast = _probe_frame(spark, q)
    idx = artifact.open_frame(spark, gen).where(
        F.col("label").isin(probed)
    ).select(id_col, "pq_code", "label")
    # assignment partitions the corpus, so a neighbor sits in exactly
    # one probed list — pq_topk's per-query ranking needs no dedup
    return pq_topk(
        idx, q, codebooks, k=k,
        id_col=id_col, vec_col=vec_col, cluster_col="label",
    )
