"""Similarity search over embedding columns (array<float>).

Beyond-reference extensions (SURVEY §7 Phase 5): top-k nearest neighbors
by cosine similarity.

- **brute_force_topk** — exact: query×corpus join, cosine via
  ``zip_with``/``aggregate`` (JVM-side, no Python). The correctness
  baseline; at scale this is the right choice only for small query sets
  (broadcast the queries, stream the corpus — one pass, no shuffle of the
  corpus).
- **lsh_topk** — locality-sensitive hashing: seeded signed random
  projections (``projection='random'``, optionally multi-band) or the
  oracle-portable axis-sign stand-in; probes only same-bucket
  candidates. The scale path: corpus is bucketed once (narrow), each
  query touches ``bands`` buckets. Recall < 1 by construction; the axis
  variant is verified rank-for-rank against the oracle running the
  identical bucketing, the random variant recall-tested against the
  exact baseline.
- **ivf_topk** — inverted-file variant using a provided coarse label
  (cluster id) column as the quantizer: probe only same-cluster vectors.

All return (query_id, neighbor_id, rank) — rank-based output keeps the
oracle hash stable under float summation-order differences.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .util import fan_out, tracked_checkpoint


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    """dot(a,b)/(‖a‖·‖b‖), left-to-right accumulation (oracle-portable).

    In pairwise joins prefer precomputing ``norm`` per *vector* side
    (see ``_sided``) — the quotient is then bit-identical to this form
    (same per-vector arithmetic) at a third of the per-pair HOF work."""
    return dot(a, b) / (norm(a) * norm(b))


# MEASURED REJECTION (round 8, BENCH_NOTES): unrolling the fold into a
# flat element_at chain over a probed dimension ("codegen'd dot") is
# ~6x SLOWER than the interpreted HOF fold at dim=64 (alternating A/B
# on the sf0.1 all-pairs scorer: fold ~1.0 s steady-state, chain ~6.5 s;
# driver bench confirmed q43 1.8 -> 15.2 s). The 64-node Add tree also
# costs seconds of Catalyst analysis per plan and, per-pair, evaluates
# 128 ANSI-checked element_at nodes — worse than zip_with/aggregate's
# tight specialized loop. Keep the fold; when per-row vector math truly
# dominates (PQ encode: m·ksub subdistances/row) the fast path is an
# Arrow-batched pandas UDF (see ``pq_encode``), not expression surgery.


def _sided(
    df: DataFrame, id_col: str, vec_col: str, id_as: str, vec_as: str,
    n_as: str, **extra: Column,
) -> DataFrame:
    """Project (id, vec, ‖vec‖ [, extras]): norms computed once per
    vector instead of once per pair. Higher-order array functions are
    interpreted in Spark, so per-pair work is the scale cost driver."""
    return df.select(
        F.col(id_col).alias(id_as),
        F.col(vec_col).alias(vec_as),
        norm(F.col(vec_col)).alias(n_as),
        *[c.alias(name) for name, c in extra.items()],
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast queries × corpus, rank by cosine.

    Scale: the corpus never shuffles — each partition scores its vectors
    against the broadcast query set and the window is per-query over a
    k-bounded candidate set (Catalyst folds rank+filter into a top-k sort)."""
    q = _sided(queries, id_col, vec_col, "query_id", "qv", "nq")
    c = fan_out(_sided(corpus, id_col, vec_col, "neighbor_id", "cv", "nc"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv"))
             / (F.col("nq") * F.col("nc"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def sign_bucket(vec: Column, nbits: int = 8) -> Column:
    """Axis-aligned sign bucket: sign bits of the first nbits dims.
    Deterministic and oracle-portable (plain SQL in DuckDB) — the
    correctness-check variant. For production recall use
    ``srp_band_buckets`` (true signed random projections)."""
    out = F.lit(0)
    for i in range(nbits):
        out = out + F.when(
            F.element_at(vec, i + 1) > 0, F.lit(2**i)
        ).otherwise(0)
    return out


def _hyperplanes(n: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes — seeded so every executor and
    every run agrees; embedded as array literals (constant-folded, no
    side channel needed to ship them)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, dim)).tolist()


def srp_band_buckets(
    vec: Column, nbits: int, bands: int, dim: int, seed: int = 42
) -> Column:
    """Signed-random-projection bucket id per band (array of ``bands``
    ints): band j's id packs the signs of ``nbits`` seeded Gaussian
    hyperplane projections. Two vectors at cosine angle θ match one bit
    with prob 1−θ/π; banding (match on ALL bits of ANY band) gives the
    standard LSH S-curve — recall is tuned by (nbits, bands), not by
    corpus luck on axis signs.

    Scale: nbits·bands·dim multiply-adds per vector, once, JVM-side;
    the pair join stays bucket-equality."""
    H = _hyperplanes(nbits * bands, dim, seed)
    out = []
    for j in range(bands):
        b: Column = F.lit(0)
        for i in range(nbits):
            h = F.array(*[F.lit(float(x)) for x in H[j * nbits + i]])
            b = b + F.when(dot(vec, h) > 0, F.lit(2**i)).otherwise(0)
        out.append(b)
    return F.array(*out)


def _vec_dim(df: DataFrame, vec_col: str,
             default: int | None = None) -> int:
    """Embedding width probed from one non-NULL row (metadata-cheap).

    ``default`` is returned for an empty / all-NULL corpus: search/pair
    operators pass a placeholder so an empty corpus yields an empty
    result rather than an error. (A non-empty query side may still
    project against the placeholder hyperplanes — dimension-mismatched
    ``dot`` null-propagates through ``zip_with``, every bucket
    collapses, and the join against the empty corpus is empty, which is
    the verified contract.) Model fitting (``pq_fit``) leaves it None —
    fitting on nothing is a real error."""
    row = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .limit(1)
        .collect()
    )
    if not row:
        if default is not None:
            return default
        raise ValueError("cannot infer vector dim from an empty corpus")
    return int(row[0]["d"])


def tune_srp(
    threshold: float, p_target: float = 0.9, max_total_bits: int = 64
) -> tuple[int, int]:
    """Pick (nbits, bands) for signed random projections so a pair AT the
    cosine threshold is caught with probability ≥ p_target, minimizing
    candidate volume (≈ bands/2^nbits of all pairs) under a bucketing
    budget of nbits·bands hyperplane projections per vector — the
    datasketch-style S-curve optimization, on the SRP collision law
    p_bit = 1 − θ/π."""
    import math

    s = 1 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    best: tuple[float, int, int] | None = None
    for r in range(2, max_total_bits + 1):
        pr = s**r
        if pr <= 0:
            break
        if pr >= 1:
            b = 1
        else:
            b = math.ceil(math.log(1 - p_target) / math.log(1 - pr))
        if b < 1 or r * b > max_total_bits:
            continue
        cost = b / (2**r)
        if best is None or cost < best[0]:
            best = (cost, r, b)
    if best is None:
        raise ValueError(
            f"no (nbits, bands) meets p_target={p_target} at "
            f"threshold={threshold} within {max_total_bits} bits"
        )
    return best[1], best[2]


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    projection: str = "axis",
    seed: int = 42,
    bands: int = 1,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k probing only the query's sign bucket(s).

    ``projection='axis'`` (oracle-portable) buckets on raw sign bits;
    ``'random'`` uses seeded Gaussian hyperplanes (``srp_band_buckets``)
    with optional multi-band probing (bands>1 → union of per-band
    candidates → higher recall at proportional probe cost).

    ``nprobe>1`` adds **multi-probe** (Lv et al., VLDB'07): per band the
    query also probes the ``nprobe−1`` buckets reached by flipping its
    smallest-|margin| sign bits — the bits whose projection sat closest
    to the hyperplane, i.e. the buckets a true neighbor most likely
    fell into. Recall rises like adding bands, but the CORPUS side is
    untouched (no extra tables, no re-bucketing): only the
    broadcast-sized query side fans out ×nprobe.

    Scale: corpus bucketing is a narrow projection; the equality join on
    (band, bucket) replaces the cross join — each query scores
    ~bands·nprobe·N/2^nbits candidates."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if projection == "random":
        dim = _vec_dim(corpus, vec_col, default=1)
        H = _hyperplanes(nbits * bands, dim, seed)

        def proj(col, band, i):
            h = F.array(*[F.lit(float(x)) for x in H[band * nbits + i]])
            return dot(col, h)

        n_bands = bands

        def bucketize(col):
            return srp_band_buckets(col, nbits, bands, dim, seed)
    else:

        def proj(col, band, i):
            return F.element_at(col, i + 1)

        n_bands = 1

        def bucketize(col):
            return F.array(sign_bucket(col, nbits))

    def probes(col):
        """array<struct<band,bucket>>: base bucket per band plus the
        nprobe−1 smallest-margin single-bit flips."""
        per_band = []
        for band in range(n_bands):
            base = F.lit(0)
            for i in range(nbits):
                base = base + F.when(
                    proj(col, band, i) > 0, F.lit(2**i)
                ).otherwise(0)
            head = F.array(F.struct(
                F.lit(band).alias("band"), base.alias("bucket")
            ))
            if nprobe <= 1:
                per_band.append(head)
                continue
            margins = F.array_sort(F.array(*[
                F.struct(
                    F.abs(proj(col, band, i)).alias("m"),
                    F.lit(i).alias("i"),
                )
                for i in range(nbits)
            ]))
            masks = F.array(*[F.lit(1 << i) for i in range(nbits)])
            flips = F.transform(
                F.slice(margins, 1, min(nprobe - 1, nbits)),
                lambda s: F.struct(
                    F.lit(band).alias("band"),
                    base.bitwiseXOR(
                        F.element_at(masks, s["i"] + 1)
                    ).alias("bucket"),
                ),
            )
            per_band.append(F.concat(head, flips))
        return per_band[0] if len(per_band) == 1 else F.concat(*per_band)

    q = _sided(queries, id_col, vec_col, "query_id", "qv", "nq").select(
        "*", F.explode(probes(F.col("qv"))).alias("pb")
    ).select(
        "*", F.col("pb.band").alias("band"), F.col("pb.bucket").alias("bucket")
    ).drop("pb")
    c = fan_out(
        _sided(corpus, id_col, vec_col, "neighbor_id", "cv", "nc")
    ).select(
        "*", F.posexplode(bucketize(F.col("cv"))).alias("band", "bucket")
    )
    scored = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .dropDuplicates(["query_id", "neighbor_id"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv"))
             / (F.col("nq") * F.col("nc"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> DataFrame:
    """IVF probe using an existing coarse-cluster column as quantizer."""
    q = _sided(
        queries, id_col, vec_col, "query_id", "qv", "nq",
        cl=F.col(cluster_col),
    )
    c = fan_out(
        _sided(
            corpus, id_col, vec_col, "neighbor_id", "cv", "nc",
            cl=F.col(cluster_col),
        )
    )
    scored = (
        c.join(F.broadcast(q), "cl")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv"))
             / (F.col("nq") * F.col("nc"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 5,
    seed: int = 42,
) -> list[list[float]]:
    """Distributed spherical k-means (Lloyd's) — the IVF coarse-quantizer
    trainer. Returns ``k`` unit-norm centroids.

    Iterative algorithm on DataFrames: per iteration, (1) each vector is
    assigned to the argmax-cosine centroid via a broadcast literal array
    (no join, no shuffle for assignment), (2) new centroids are the
    per-cluster elementwise means — ``posexplode`` + one groupBy over
    (cluster, dim): k·dim cells shuffle, never vectors. Only the k×dim
    centroid matrix ever reaches the driver; the corpus is scanned once
    per iteration. At 100 TB one would sample the fit set (standard
    practice) — assignment cost is the same either way.

    Empty clusters are re-seeded from the corpus sample, so ``k``
    centroids always come back.

    Reproducibility: the seed pins the init and the assignment argmax
    is exact, but the per-cell means are FLOAT aggregates whose
    partial-aggregation order follows the data layout — a re-layout
    can move a centroid coordinate by an ulp, and a boundary vector
    whose two best affinities are within that ulp can then flip
    clusters. Byte-stable pipelines (and every oracle here) should fit
    once and PIN the centroids (``operators/pinned.py`` — the
    production posture at scale anyway: quantizers are versioned
    artifacts, never re-fit per job)."""
    import random

    samp = [
        [float(x) for x in r[vec_col]]
        for r in df.select(vec_col)
        .where(F.size(vec_col) > 0)
        .limit(max(k * 20, 100))
        .collect()
    ]
    if len(samp) < k:
        raise ValueError(f"need at least {k} vectors to fit {k} centroids")
    rng = random.Random(seed)
    cents = rng.sample(samp, k)

    def _unit(v):
        n = sum(x * x for x in v) ** 0.5 or 1.0
        return [x / n for x in v]

    cents = [_unit(c) for c in cents]
    for _ in range(iters):
        # assignment through ivf_assign: identical argmax/tie semantics,
        # and large quantizers route through its capped UDF path instead
        # of recompiling a k·dim literal tree every iteration (r10)
        assigned = ivf_assign(
            fan_out(df.select(F.col(vec_col).alias("__v"))).where(
                F.size("__v") > 0
            ),
            cents, vec_col="__v", cluster_col="__c",
        ).select("__v", "__c").where(F.col("__c").isNotNull())
        sums = (
            assigned.select(
                "__c", F.posexplode("__v").alias("__p", "__x")
            )
            .groupBy("__c", "__p")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("__c")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__p", "__m"))
                    ),
                    lambda s: s.getField("__m"),
                ).alias("__cent")
            )
            .collect()
        )
        new = {int(r["__c"]): [float(x) for x in r["__cent"]] for r in sums}
        cents = [
            _unit(new[i]) if i in new else _unit(rng.choice(samp))
            for i in range(k)
        ]
    return cents


#: Above this many centroid×dim literal terms, IVF list assignment
#: (:func:`ivf_assign`) and probe selection (``ann_index.ivf_probes``)
#: switch from the constant-folded literal expression to an
#: Arrow-batched numpy UDF: the literal form embeds k·dim literals
#: inside k structs, and Catalyst analysis/codegen of that tree grows
#: superlinearly — the r10 rehearsal measured a k=64/dim=64 probe
#: spending MORE wall in plan compilation than brute force spends
#: scanning (BENCH_NOTES r10). The oracle-pinned k=8 paths (q41/q43)
#: stay on the literal form.
_LITERAL_TREE_CAP = 1024


def _affinities(C: np.ndarray, v):
    """The numpy UDF paths' one kernel: → the cosine affinities
    ``C @ u / |u|`` of vector ``v`` against the (k, dim) centroid
    matrix ``C``, or None for a NULL or wrong-dimension vector."""
    if v is None or len(v) != C.shape[1]:
        return None
    u = np.asarray(v, dtype=np.float64)
    nv = max(float(np.sqrt((u * u).sum())), 1e-12)
    return C @ u / nv

from .util import (  # noqa: F401  (re-exported for ann_index)
    _expr_cache_get,
    _expr_cache_key,
    _expr_cache_put,
    _quantizer_key,
)


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cluster_col: str = "label",
    sim_col: str | None = None,
) -> DataFrame:
    """Attach the argmax-cosine centroid index as ``cluster_col`` — the
    IVF list assignment, a pure broadcast-literal expression (no
    shuffle). ``sim_col`` additionally emits the winning cosine itself
    (centroid affinity — SemDeDup's keep-policy signal) from the same
    argmax, no extra pass.

    The vector norm is STAGED once per row behind a projection boundary
    (CollapseProject keeps a non-cheap alias referenced k times) — the
    naive form re-inlined the norm fold into every centroid score.

    Quantizers above ``_LITERAL_TREE_CAP`` (k·dim literal terms)
    assign via an Arrow-batched numpy UDF with the SAME tie rule as
    ``array_max`` over struct(s, i) — highest affinity, HIGHEST index
    on ties — parity-tested against the literal path; malformed rows
    (NULL / wrong dimension) get a NULL label there instead of the
    literal path's degenerate all-zero scores."""
    for staging in ("__an", "__best"):
        if staging in df.columns:
            raise ValueError(
                f"ivf_assign stages an internal column {staging!r}; "
                "rename the conflicting input column first"
            )
    k = len(centroids)
    dim = len(centroids[0]) if k else 0
    if k * dim > _LITERAL_TREE_CAP:
        from pyspark.sql import types as T

        C = np.asarray(centroids, dtype=np.float64)

        @F.pandas_udf(
            T.StructType(
                [
                    T.StructField("s", T.DoubleType()),
                    T.StructField("i", T.IntegerType()),
                ]
            )
        )
        def _best_udf(vs: pd.Series) -> pd.DataFrame:
            s_out: list = [None] * len(vs)
            i_out: list = [None] * len(vs)
            for r, v in enumerate(vs):
                aff = _affinities(C, v)
                if aff is None:
                    continue
                # array_max(struct(s, i)) ties take the HIGHEST index;
                # argmax takes the first max, so scan the reversal
                bi = len(aff) - 1 - int(np.argmax(aff[::-1]))
                s_out[r] = float(aff[bi])
                i_out[r] = bi
            return pd.DataFrame({"s": s_out, "i": i_out})

        # optimizer fence against duplicate evaluation (see pq_encode)
        _best_udf = _best_udf.asNondeterministic()
        best = df.withColumn("__best", _best_udf(F.col(vec_col)))
        out = best.withColumn(cluster_col, F.col("__best").getField("i"))
        if sim_col is not None:
            out = out.withColumn(sim_col, F.col("__best").getField("s"))
        return out.drop("__best")
    staged = df.withColumn(
        "__an", F.greatest(norm(F.col(vec_col)), F.lit(1e-12))
    )
    ck = _expr_cache_key("assign", vec_col, _quantizer_key(centroids))
    scores = _expr_cache_get(ck)
    if scores is None:
        scores = F.array(
            *[
                F.struct(
                    (
                        dot(F.col(vec_col),
                            F.array(*[F.lit(float(x)) for x in c]))
                        / F.col("__an")
                    ).alias("s"),
                    F.lit(i).alias("i"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        _expr_cache_put(ck, scores)
    # __best staged too: referenced once per output column, and without
    # the projection boundary the k·dim argmax tree is duplicated into
    # each (CollapseProject inlines once-used aliases)
    best = staged.withColumn("__best", F.array_max(scores))
    out = best.withColumn(cluster_col, F.col("__best").getField("i"))
    if sim_col is not None:
        out = out.withColumn(sim_col, F.col("__best").getField("s"))
    return out.drop("__an", "__best")


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int | None = None,
    bands: int | None = None,
    projection: str = "random",
    seed: int = 42,
    p_target: float = 0.9,
    group_col: str | None = None,
    emit: str = "pairs",
) -> DataFrame:
    """→ [id_a, id_b, cos ≥ threshold] near-duplicate vectors.

    ``emit="spanning"`` (what ``semantic_dedup`` feeds its clustering):
    rows are first canonicalized by EXACT vector equality (URL re-posts
    and mirrored shards embed to byte-identical vectors at corpus
    scale), the pair machinery below runs on one representative per
    distinct vector, and the result is the connectivity-equivalent
    edge set — rep-level cross pairs plus one star edge per group
    member, carrying the rep's self-cosine (the same rounded value the
    naive formulation computes for an identical pair). O(cluster)
    edges instead of O(cluster²); connected components are identical.

    The DEFAULT is the scale path: banded signed-random-projection LSH —
    same-band-bucket pairs are candidates (union over bands), each
    verified by exact cosine, so precision is exact and only recall is
    approximate. Cost ~ bands·Σ bucket², never all-pairs. With
    nbits/bands unset they are TUNED from the threshold (``tune_srp``)
    so a pair at the threshold is caught with probability ≥ ``p_target``
    — pairs further above it with higher probability still.

    ``nbits=0`` → exact all-pairs (correctness baseline for oracle
    checks; quadratic — small corpora only). ``projection='axis'`` →
    single-band raw sign bits (oracle-portable stand-in).

    ``group_col`` scopes candidates to rows sharing that column (it must
    already exist on ``df``): the group id joins ahead of (band, bucket),
    so cross-group pairs are never enumerated — the SemDeDup
    within-cluster shape. With ``nbits=0`` the exact path becomes a
    per-group equi-join instead of a global crossJoin."""
    if emit not in ("pairs", "spanning"):
        raise ValueError(f"emit must be 'pairs' or 'spanning', got {emit!r}")
    if emit == "spanning":
        from .dedup import _scalar_fill

        keys = ([group_col] if group_col is not None else []) + [vec_col]
        # aggregation-only fill — SCALAR posture (r14)
        groups, _ = _scalar_fill(
            df.groupBy(*keys).agg(
                F.min(id_col).alias("__gid"),
                F.collect_list(id_col).alias("__members"),
            )
        )
        reps = groups.select(
            F.col("__gid").alias(id_col),
            *([group_col] if group_col is not None else []),
            vec_col,
        )
        rep_pairs = embedding_near_dup_pairs(
            reps, threshold, id_col, vec_col, nbits, bands,
            projection, seed, p_target, group_col,
        )
        v = F.col(vec_col)
        self_cos = F.round(dot(v, v) / (norm(v) * norm(v)), 4)
        stars = (
            groups.select(
                "__gid",
                self_cos.alias("cos"),
                F.explode("__members").alias("__mid"),
            )
            .where(
                (F.col("__mid") != F.col("__gid"))
                & (F.col("cos") >= threshold)
            )
            .select(
                F.col("__gid").alias("id_a"),
                F.col("__mid").alias("id_b"),
                "cos",
            )
        )
        return rep_pairs.unionByName(stars)
    if nbits is None:
        nbits, tuned_bands = tune_srp(threshold, p_target)
        bands = bands or tuned_bands
    bands = bands or 1
    ga: dict = (
        {"ga": F.col(group_col)} if group_col is not None else {}
    )
    gb: dict = (
        {"gb": F.col(group_col)} if group_col is not None else {}
    )
    if nbits:
        if projection == "random":
            dim = _vec_dim(df, vec_col, default=1)

            def bucketize(col):
                return srp_band_buckets(col, nbits, bands, dim, seed)
        else:

            def bucketize(col):
                return F.array(sign_bucket(col, nbits))

        a = fan_out(
            _sided(df, id_col, vec_col, "id_a", "va", "na", **ga)
        ).select(
            "*", F.posexplode(bucketize(F.col("va"))).alias("band", "bucket")
        )
        b = _sided(df, id_col, vec_col, "id_b", "vb", "nb", **gb).select(
            "*", F.posexplode(bucketize(F.col("vb"))).alias("band", "bucket")
        )
        keys = ["band", "bucket"]
        if group_col is not None:
            joined = (
                a.join(
                    b,
                    (F.col("ga") == F.col("gb"))
                    & (a["band"] == b["band"])
                    & (a["bucket"] == b["bucket"]),
                )
                .where(F.col("id_a") < F.col("id_b"))
                .dropDuplicates(["id_a", "id_b"])
            )
        else:
            joined = (
                a.join(b, keys)
                .where(F.col("id_a") < F.col("id_b"))
                # a pair can match in several bands — verify each cosine once
                .dropDuplicates(["id_a", "id_b"])
            )
    else:
        a = fan_out(_sided(df, id_col, vec_col, "id_a", "va", "na", **ga))
        b = _sided(df, id_col, vec_col, "id_b", "vb", "nb", **gb)
        if group_col is not None:
            joined = a.join(b, F.col("ga") == F.col("gb")).where(
                F.col("id_a") < F.col("id_b")
            )
        else:
            joined = a.crossJoin(F.broadcast(b)).where(
                F.col("id_a") < F.col("id_b")
            )
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    threshold: float = 0.95,
    centroids: list[list[float]] | None = None,
    keep: str = "far_from_centroid",
    nbits: int | None = None,
    bands: int | None = None,
    seed: int = 42,
    p_target: float = 0.9,
    kmeans_iters: int = 5,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with spherical
    k-means, find cosine-≥-threshold duplicate pairs WITHIN each
    cluster, and keep one representative per duplicate group. Returns
    the surviving rows of ``df`` (all original columns).

    ``keep`` picks the representative: ``'far_from_centroid'`` (the
    paper's policy — keep the group member with the LOWEST centroid
    affinity, preserving the diverse tail; ties broken by id) or
    ``'min_id'`` (the canonical-id policy every other dedup op here
    uses — fully deterministic under re-clustering).

    Scale shape, stage by stage:
    - centroid fit: sampled driver-side seed + per-iteration
      (cluster, dim) cell aggregation — only the k×dim matrix is ever
      collected (``kmeans_fit``);
    - assignment: broadcast-literal argmax, zero shuffle
      (``ivf_assign``);
    - pairs: banded SRP-LSH *scoped by cluster id*
      (``embedding_near_dup_pairs(group_col=...)``) — candidates never
      cross clusters, so the quadratic term is per (cluster, band,
      bucket), not per corpus;
    - groups: transitive closure over id pairs only
      (``dedup.connected_components``);
    - final keep: broadcast-gated anti-join of the loser id set —
      embeddings move exactly once, at the end.

    Cross-cluster near-duplicates are invisible by construction —
    that is SemDeDup's documented approximation, not a defect of this
    implementation."""
    if keep not in ("far_from_centroid", "min_id"):
        raise ValueError(f"unknown keep policy: {keep!r}")
    from .dedup import _filled_gate, connected_components

    if centroids is None:
        centroids = kmeans_fit(
            df, vec_col, k, iters=kmeans_iters, seed=seed
        )
    assigned = ivf_assign(
        df, centroids, vec_col, cluster_col="__sem_c", sim_col="__sem_s"
    )
    # materialize the assignment once (r11): the pair graph's rep and
    # star halves AND the keep-policy sims join all sit under the one
    # losers execution, so without this the broadcast-argmax assignment
    # recomputes ≥3× per run — the q43 first-execution debt measured in
    # BENCH_NOTES. One corpus-sized localCheckpoint trades that for a
    # single write + three narrow reads.
    assigned, _ = tracked_checkpoint(assigned)
    pairs = embedding_near_dup_pairs(
        assigned,
        threshold,
        id_col,
        vec_col,
        nbits=nbits,
        bands=bands,
        seed=seed,
        p_target=p_target,
        group_col="__sem_c",
        # connectivity-equivalent star+rep edges: identical vectors
        # contribute O(group) edges, not an O(group²) clique
        emit="spanning",
    )
    cc_stats: dict = {}
    comp = connected_components(pairs, stats=cc_stats)
    if keep == "min_id":
        losers = comp.where(F.col("id") != F.col("component"))
    else:
        sims = assigned.select(
            F.col(id_col).alias("id"), F.col("__sem_s").alias("__s")
        )
        labeled = comp.join(sims, "id")
        # deterministic argmin over (affinity, id) via struct MIN —
        # min_by's tie behavior is engine-defined, struct ordering isn't
        keepers = labeled.groupBy("component").agg(
            F.min(F.struct(F.col("__s"), F.col("id")))
            .getField("id")
            .alias("__keep_id")
        )
        losers = labeled.join(keepers, "component").where(
            F.col("id") != F.col("__keep_id")
        )
    losers = losers.select(F.col("id").alias("__lid"))
    if cc_stats.get("small_graph"):
        # components came off the driver union-find: ``comp`` is a local
        # relation bounded by 2× the small-graph take cap, so the loser
        # set is guaranteed broadcastable and the keeper subtree (narrow
        # joins against the checkpointed assignment) is cheap — let the
        # anti-join's broadcast build execute it ONCE, with no
        # checkpoint fill and no gate count job (r14).
        losers = F.broadcast(losers)
    else:
        # the (small: one id per duplicate) loser set, filled once
        losers = _filled_gate(losers)
    return df.join(losers, F.col(id_col) == F.col("__lid"), "left_anti")


# ---------------------------------------------------------------------------
# product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011)
#
# Vectors are L2-NORMALIZED before codebook fit / encode / query: on unit
# vectors ‖a−b‖² = 2 − 2·cos(a,b), so ADC's L2 ranking is exactly the
# cosine ranking the rest of this module uses — one similarity semantics
# across brute/LSH/IVF/PQ.
# ---------------------------------------------------------------------------

def _unit(vec: Column) -> Column:
    n = F.greatest(norm(vec), F.lit(1e-12))
    return F.transform(vec, lambda x: x / n)


def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
    iters: int = 4,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks of ``ksub`` L2 centroids each
    (dims must divide evenly by ``m``). Returns
    ``codebooks[j][c] = centroid c of subspace j``.

    Scale shape mirrors ``kmeans_fit`` but amortized across subspaces:
    every Lloyd's iteration assigns ALL m subspaces in one corpus pass
    (m broadcast-literal argmins in a single projection), and the new
    centroids come from one (subspace, code, dim) cell aggregation —
    m·ksub·dsub cells shuffle, never vectors. Only the codebook matrix
    (m·ksub·dsub floats) reaches the driver."""
    import random

    dim = _vec_dim(df, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    def _u(v):
        n = sum(x * x for x in v) ** 0.5 or 1.0
        return [float(x) / n for x in v]

    samp = [
        _u(r[vec_col])
        for r in df.select(vec_col)
        .where(F.size(vec_col) == dim)
        .limit(max(ksub * 20, 200))
        .collect()
    ]
    if len(samp) < ksub:
        raise ValueError(f"need ≥{ksub} vectors to fit {ksub} codes")
    rng = random.Random(seed)
    books = [
        [list(v[j * dsub:(j + 1) * dsub]) for v in rng.sample(samp, ksub)]
        for j in range(m)
    ]

    src = fan_out(
        df.select(_unit(F.col(vec_col)).alias("__v")).where(
            F.size("__v") == dim
        )
    )
    for _ in range(iters):
        # one pass: argmin-L2 code for every subspace at once
        code_cols = []
        for j in range(m):
            sub = F.slice("__v", j * dsub + 1, dsub)
            scored = F.array(*[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            sub,
                            F.array(*[F.lit(float(x)) for x in c]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    ).alias("d"),
                    F.lit(ci).alias("c"),
                )
                for ci, c in enumerate(books[j])
            ])
            code_cols.append(
                F.array_min(scored).getField("c").alias(f"__c{j}")
            )
        assigned = src.select("__v", *code_cols)
        # one cell aggregation for all subspaces: (j, code, dim) → mean
        cells = assigned.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.col(f"__c{j}").alias("c"),
                        F.slice("__v", j * dsub + 1, dsub).alias("sv"),
                    )
                    for j in range(m)
                ])
            ).alias("e")
        ).select(
            "e.j", "e.c", F.posexplode("e.sv").alias("p", "x")
        )
        means = (
            cells.groupBy("j", "c", "p")
            .agg(F.avg("x").alias("mu"))
            .groupBy("j", "c")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "mu"))),
                    lambda s: s.getField("mu"),
                ).alias("cent")
            )
            .collect()
        )
        new = {(int(r["j"]), int(r["c"])): [float(x) for x in r["cent"]]
               for r in means}
        books = [
            [
                new.get(
                    (j, c),
                    # empty code: re-seed from the sample
                    list(rng.choice(samp)[j * dsub:(j + 1) * dsub]),
                )
                for c in range(ksub)
            ]
            for j in range(m)
        ]
    return books


def _pq_unit_rows(vs: pd.Series, dim: int):
    """(valid row indexes, unit-normalized float64 matrix) for an Arrow
    batch of vectors. Rows that are NULL or dimension-mismatched are
    excluded (callers emit NULL for them — predictable degradation).

    BIT-PARITY CORE (shared by ``pq_encode`` and ``pq_topk``'s LUT):
    the norm accumulates IN ORDER (``acc += v[i]·v[i]`` left-to-right
    in float64) and squares are taken in the source dtype (float32 in,
    float32 square) then widened — Spark and DuckDB both promote AFTER
    the multiply, and bit-exactness vs their SQL fold requires matching
    that."""
    ok = [i for i, v in enumerate(vs) if v is not None and len(v) == dim]
    if not ok:
        return ok, None
    V = np.stack([np.asarray(vs.iloc[i]) for i in ok])
    acc = np.zeros(len(ok))
    for i in range(dim):
        x = V[:, i]
        acc += (x * x).astype(np.float64, copy=False)
    nv = np.maximum(np.sqrt(acc), 1e-12)
    return ok, V.astype(np.float64, copy=False) / nv[:, None]


def _pq_subdists(U, books, m: int, ksub: int, dsub: int):
    """(n, m, ksub) table of ‖uv_j − C_j[c]‖² — each subdistance an
    explicit in-order ``acc += (uv[i]−c[i])²`` loop (see
    ``_pq_unit_rows`` for why order matters)."""
    n = U.shape[0]
    D = np.empty((n, m, ksub))
    for j in range(m):
        off = j * dsub
        for c in range(ksub):
            sub = np.zeros(n)
            for i in range(dsub):
                d = U[:, off + i] - books[j][c, i]
                sub += d * d
            D[:, j, c] = sub
    return D


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Attach the ``m``-byte PQ code (array<int>, one code id per
    subspace) — Arrow-batched pandas UDF, zero shuffle. At 100 TB this
    is the point: the stored index is m small ints per vector instead
    of the float vector itself (e.g. 768-dim float32 → 8 bytes, a 384×
    compression), and it is all the search reads.

    Encode is the one vector op where per-row math truly dominates
    (m·ksub subdistance folds per row = ~1k element steps), so the fast
    path is numpy over Arrow batches, not Spark expressions: the
    expression forms both lose — interpreted HOF folds pay ~µs per
    element step, and the round-7 unrolled-chain experiment was a
    measured 3-6× REGRESSION plus seconds of Catalyst analysis per plan
    (BENCH_NOTES round 8). The UDF is a pure map over (vector) →
    (code), embarrassingly parallel, no state.

    BIT-PARITY with the DuckDB oracle (workload_ext q41): every
    accumulation below is an explicit in-order loop — norm as
    ``acc += v[i]·v[i]`` left-to-right, subdistance as
    ``acc += (uv[i]−c[i])²`` left-to-right — so each float64 op is the
    same IEEE-754 operation in the same order as the SQL fold the
    oracle runs (numpy's pairwise ``sum()`` would NOT be). Squares of a
    float32 input are computed in float32 then widened, matching
    Spark/DuckDB's promote-after-multiply. Argmin ties take the lowest
    code id on both sides.

    Rows whose vector is NULL or dimension-mismatched get a NULL code
    (predictable degradation — the expression form under ANSI mode
    would fail the whole job; ADVICE round 7).

    ``fan_out`` first: encode is pure per-row compute, so a thin-split
    input must not serialize it."""
    from pyspark.sql.types import ArrayType, IntegerType

    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    dim = m * dsub
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]

    @F.pandas_udf(ArrayType(IntegerType()))
    def _encode(vs: pd.Series) -> pd.Series:
        res: list = [None] * len(vs)
        ok, U = _pq_unit_rows(vs, dim)
        if not ok:
            return pd.Series(res)
        D = _pq_subdists(U, books, m, ksub, dsub)
        codes = np.argmin(D, axis=2)  # first min = lowest c
        for r, i in enumerate(ok):
            res[i] = [int(x) for x in codes[r]]
        return pd.Series(res)

    # OPTIMIZER FENCE, not actual nondeterminism: the encode IS a pure
    # function, but Catalyst duplicates deterministic UDFs freely — a
    # downstream isnotnull(code) filter pushed below the join re-ran the
    # ENCODE of the whole corpus a second time (two ArrowEvalPython
    # nodes over the same scan, round-8 plan audit). Nondeterministic
    # UDFs are never duplicated or pushed into, so the corpus encodes
    # exactly once.
    _encode = _encode.asNondeterministic()

    return fan_out(df).withColumn(code_col, _encode(F.col(vec_col)))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    cluster_col: str | None = None,
) -> DataFrame:
    """→ [query_id, neighbor_id, rank]: approximate top-k by asymmetric
    distance (ADC): the query stays a full vector, each corpus item is
    its m-code; distance ≈ Σⱼ ‖q_j − C_j[code_j]‖².

    Per query row a lookup table of all m·ksub subdistances is built
    once (row-local, constant-folded codebook literals); scoring a
    corpus code is then m array lookups — no vector math per pair. The
    corpus side carries ONLY (id, code): it never shuffles (queries are
    broadcast) and never re-reads embeddings. With ``cluster_col``
    present on both sides (``ivf_assign``), the scan narrows to
    same-cluster candidates — IVF-PQ, the standard billion-scale
    layout.

    ``corpus`` must already carry ``code_col`` (``pq_encode``); ties
    break by neighbor id for determinism."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    for staging in ("__lut", "__code", "__qc", "__cc"):
        if staging in queries.columns or staging in corpus.columns:
            raise ValueError(
                f"pq_topk stages an internal column {staging!r}; "
                "rename the conflicting input column first"
            )
    from pyspark.sql.types import ArrayType, DoubleType

    dim = m * dsub
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]

    # per-query LUT: luts[j*ksub + c] = ‖q_j − C_j[c]‖² — the same
    # in-order numpy core as pq_encode (bit-identical to the oracle's
    # SQL fold). The expression form (m·ksub aggregate/zip_with trees)
    # evaluated fine on the broadcast-sized query side but cost ~1 s of
    # Catalyst ANALYSIS per plan at the 4×16 defaults.
    @F.pandas_udf(ArrayType(DoubleType()))
    def _lut(vs: pd.Series) -> pd.Series:
        res: list = [None] * len(vs)
        ok, U = _pq_unit_rows(vs, dim)
        if not ok:
            return pd.Series(res)
        D = _pq_subdists(U, books, m, ksub, dsub)
        flat = D.reshape(len(ok), m * ksub)
        for r, i in enumerate(ok):
            res[i] = [float(x) for x in flat[r]]
        return pd.Series(res)

    # optimizer fence against duplicate evaluation — see pq_encode
    _lut = _lut.asNondeterministic()

    qsel = [
        F.col(id_col).alias("query_id"),
        _lut(F.col(vec_col)).alias("__lut"),
    ]
    csel = [
        F.col(id_col).alias("neighbor_id"),
        F.col(code_col).alias("__code"),
    ]
    if cluster_col is not None:
        qsel.append(F.col(cluster_col).alias("__qc"))
        csel.append(F.col(cluster_col).alias("__cc"))
    q = queries.select(*qsel)
    c = fan_out(corpus.select(*csel))
    if cluster_col is not None:
        joined = c.join(
            F.broadcast(q), F.col("__cc") == F.col("__qc")
        )
    else:
        joined = c.crossJoin(F.broadcast(q))
    dist = None
    for j in range(m):
        term = F.element_at(
            "__lut",
            F.lit(j * ksub + 1) + F.element_at("__code", j + 1),
        )
        dist = term if dist is None else dist + term
    scored = joined.where(
        # NULL codes/LUTs (the NULL/ragged-vector degrade on either
        # side) must not reach the ranking: a NULL distance sorts FIRST
        # under the ascending window order and would outrank every real
        # neighbor
        F.col("__code").isNotNull()
        & F.col("__lut").isNotNull()
        & (F.col("neighbor_id") != F.col("query_id"))
    ).select("query_id", "neighbor_id", dist.alias("__d"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("__d"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
