"""Data selection by distributional importance weighting (DSIR).

DSIR (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling", arXiv:2302.03169) selects raw-corpus documents
that look like a small target corpus: fit cheap bag-of-hashed-n-gram
models of both distributions, weight every raw document by the
likelihood ratio p_target/p_raw of its features, and resample
proportionally to the weights. ``dsir_weights`` computes the weights;
``sampling.weighted_sample`` is the resampling step; ``dsir_select``
composes the two.

Spark shape (no driver-side model, no Python in the path):

- featurization is a row-local projection: words → hashed buckets via
  the portable md5 family (``hashing.h48``), so features are identical
  across runs, layouts, and engines;
- each corpus' bucket distribution is ONE groupBy over the hashed
  buckets (map-side combined: ≤ ``buckets`` rows shuffle);
- the per-document score joins the exploded features against the
  bucket-ratio table — ``buckets`` rows, broadcast — and sums
  count·log(p_t/p_r): one more shuffle of (doc, partial-sum) pairs;
- weights are normalized to (0, 1] by the corpus max log-weight (one
  scalar aggregate), ready for the hash-predicate sampler without
  overflow.

Add-α smoothing over the bucket vocabulary keeps unseen buckets finite
on both sides; hash collisions are the technique's documented
dimensionality reduction, not an error source.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .hashing import h48
from .sampling import weighted_sample
from .text import words
from .util import fan_out, posture, tracked_checkpoint

DSIR_BUCKETS = 10_000


def _feature_buckets(
    col: Column, buckets: int, ngram: int = 2
) -> Column:
    """array<long>: hashed buckets of the word n-grams (unigrams when
    the doc is shorter than ``ngram``) — row-local, portable. Empty
    documents yield an empty array (split('') is [''], not [])."""
    ws = F.filter(words(col), lambda w: w != "")
    if ngram > 1:
        m = F.greatest(F.size(ws) - (ngram - 1), F.lit(0))
        out = F.slice(ws, 1, m)
        for k in range(1, ngram):
            out = F.zip_with(
                out,
                F.slice(ws, k + 1, m),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        grams = F.when(F.size(ws) < ngram, ws).otherwise(out)
    else:
        grams = ws
    return F.transform(grams, lambda g: F.pmod(h48(g), F.lit(buckets)))


def explode_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DSIR_BUCKETS,
    ngram: int = 2,
) -> DataFrame:
    """→ ``[__did, b]``: one row per hashed n-gram occurrence — the
    shared featurization frame. Checkpoint it (``tracked_checkpoint``)
    and hand it to ``dsir_weights`` / ``ngram_cross_entropy`` via their
    ``features``/``target_features``/``ref_features`` params to
    featurize a corpus ONCE for several selection signals; a slice
    predicate on ``__did`` restricts it to a sub-corpus with bit-equal
    features (explode preserves per-doc feature multisets)."""
    return fan_out(df).select(
        F.col(id_col).alias("__did"),
        F.explode(
            _feature_buckets(F.col(text_col), buckets, ngram)
        ).alias("b"),
    )


def _model_from_buckets(
    bdf: DataFrame, buckets: int, alpha: float
) -> tuple[DataFrame, float]:
    """([b, logp], unseen_floor) from an exploded bucket frame (one row
    per n-gram occurrence, column ``b``): add-α-smoothed log
    probability per hashed bucket, plus the floor for buckets this
    corpus never saw."""
    counts, _ = tracked_checkpoint(
        bdf.groupBy("b").agg(F.count(F.lit(1)).alias("n")),
        # ≤ ``buckets`` rows: materialize the model once — the total
        # collect below and the downstream broadcast join would
        # otherwise EACH run the full corpus featurization.
        # aggregation-only fill → SCALAR posture (r14)
        scalar_plan=True,
    )
    # counts is checkpoint-truncated (≤ ``buckets`` narrow rows), so
    # the total is a pure scalar agg — AQE's per-exchange job buys
    # nothing here (r14, SCALAR posture)
    total = posture(counts).agg(F.sum("n")).collect()[0][0] or 0
    denom = math.log(total + alpha * buckets)
    lp = counts.select(
        "b", (F.log(F.col("n") + F.lit(alpha)) - F.lit(denom)).alias("logp")
    )
    return lp, math.log(alpha) - denom


def bucket_model(
    features: DataFrame, buckets: int = DSIR_BUCKETS, alpha: float = 0.1
) -> tuple[DataFrame, float]:
    """([b, logp], unseen_floor): build the add-α-smoothed bucket model
    from an :func:`explode_features` frame ONCE, for callers that score
    several signals under the same model (r14) — ``dsir_weights``'s
    ``target_model=`` and ``ngram_cross_entropy``'s ``ref_model=``
    accept the returned tuple, skipping their per-call model aggregate
    (a checkpoint + a total-collect job each)."""
    return _model_from_buckets(features.select("b"), buckets, alpha)


def _bucket_logprobs(
    df: DataFrame, text_col: str, buckets: int, ngram: int, alpha: float,
) -> tuple[DataFrame, float]:
    """([b, logp], unseen_floor): add-α-smoothed log probability per
    hashed bucket, plus the floor for buckets this corpus never saw."""
    return _model_from_buckets(
        fan_out(df).select(
            F.explode(
                _feature_buckets(F.col(text_col), buckets, ngram)
            ).alias("b")
        ),
        buckets,
        alpha,
    )


def _dsir_scored(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int,
    ngram: int,
    alpha: float,
    length_normalize: bool,
    features: DataFrame | None = None,
    target_features: DataFrame | None = None,
    target_model: tuple | None = None,
) -> tuple[DataFrame, "callable"]:
    """(scored, total_weight): shared core of ``dsir_weights`` /
    ``dsir_select``. ``per_doc`` — the expensive explode→broadcast-
    join→groupBy featurization — is checkpointed ONCE; the max-logw
    normalizer, the sampler's total mass, and the final join against
    ``raw`` all read the stored (doc, logw) blocks instead of
    re-running the pipeline (it used to execute 3–4×). ``total_weight``
    is Σ exp(logw − max) computed from ``per_doc`` directly — the
    sampler needs it and must NOT pay a full pass over the scored
    corpus for a scalar (empty-feature docs weigh 0, so they drop out
    of the sum exactly as they would in the corpus-wide aggregate).

    ``features`` / ``target_features`` (r14): pre-exploded
    ``(__did, b)`` frames from :func:`explode_features` — when given,
    the corresponding featurization pass is skipped entirely (the
    caller owns their materialization); a caller scoring one corpus
    several ways (DSIR + cross-entropy in one report) featurizes once.
    ``total`` is returned as a THUNK: only the resampling composition
    (``dsir_select``) needs Σw, so ``dsir_weights`` callers no longer
    pay its aggregate job."""
    if target_model is not None:
        t_lp, t_floor = target_model
    elif target_features is not None:
        t_lp, t_floor = _model_from_buckets(
            target_features.select("b"), buckets, alpha
        )
    else:
        t_lp, t_floor = _bucket_logprobs(target, text_col, buckets,
                                         ngram, alpha)
    # ONE featurization of the raw corpus (r14): the exploded
    # (doc, bucket) frame is checkpointed and feeds BOTH the raw-side
    # model (a bucket aggregate over it — bit-identical counts to the
    # dedicated pass it replaces) and the per-document scoring join
    # below; the raw corpus' words are split and hashed once, not twice.
    if features is not None:
        feats = features
    else:
        feats, _ = tracked_checkpoint(
            explode_features(raw, text_col, id_col, buckets, ngram)
        )
    r_lp, r_floor = _model_from_buckets(
        feats.select("b"), buckets, alpha
    )
    # buckets unseen in BOTH corpora contribute floor−floor' — a
    # constant — to every doc equally after length normalization only
    # if present; keep them via the outer join so the ratio table is
    # complete for every bucket either corpus saw
    ratios = (
        t_lp.withColumnRenamed("logp", "lt")
        .join(r_lp.withColumnRenamed("logp", "lr"), "b", "outer")
        .select(
            "b",
            (
                F.coalesce(F.col("lt"), F.lit(t_floor))
                - F.coalesce(F.col("lr"), F.lit(r_floor))
            ).alias("lratio"),
        )
    )

    per_doc = (
        feats.join(F.broadcast(ratios), "b")
        .groupBy("__did")
        .agg(
            F.sum("lratio").alias("__lsum"),
            F.count(F.lit(1)).alias("__nf"),
        )
    )
    logw = (
        F.col("__lsum") / F.col("__nf")
        if length_normalize
        else F.col("__lsum")
    )
    per_doc, _ = tracked_checkpoint(
        per_doc.select("__did", logw.alias("dsir_logw")),
        # explicit-broadcast join + one groupBy: aggregation-only
        # shuffle, nothing for AQE to re-plan (r14)
        scalar_plan=True,
    )
    # per_doc is checkpoint-truncated: both the max and the softmax
    # total below are scalar aggs over it — no AQE job pair (r14)
    mx = posture(per_doc).agg(F.max("dsir_logw")).collect()[0]
    mx = mx[0] if mx and mx[0] is not None else 0.0
    pd_ck = per_doc

    def total() -> float:
        return float(
            posture(pd_ck).agg(
                F.sum(F.exp(F.col("dsir_logw") - F.lit(float(mx))))
            ).collect()[0][0]
            or 0.0
        )

    scored = raw.join(
        per_doc, F.col(id_col) == F.col("__did"), "left"
    ).drop("__did")
    # docs with no features (empty text): weight 0 — nothing to match on
    scored = scored.withColumn(
        "dsir_logw", F.coalesce("dsir_logw", F.lit(float("-inf")))
    ).withColumn(
        "dsir_weight",
        F.when(F.col("dsir_logw") == float("-inf"), F.lit(0.0)).otherwise(
            F.exp(F.col("dsir_logw") - F.lit(float(mx)))
        ),
    )
    return scored, total


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DSIR_BUCKETS,
    ngram: int = 2,
    alpha: float = 0.1,
    length_normalize: bool = True,
    features: DataFrame | None = None,
    target_features: DataFrame | None = None,
    target_model: tuple | None = None,
) -> DataFrame:
    """→ ``raw`` + [dsir_logw, dsir_weight]: per-document importance of
    looking like ``target``. ``dsir_logw`` = Σ_features log(p_t/p_r)
    (divided by the feature count when ``length_normalize`` — without
    it long documents dominate on length, not on similarity);
    ``dsir_weight`` = exp(logw − max logw) ∈ (0, 1], directly usable by
    ``weighted_sample``.

    ``features``/``target_features``: optional pre-exploded
    :func:`explode_features` frames (caller-materialized) replacing the
    raw/target featurization passes. ``target_model``: an optional
    prebuilt :func:`bucket_model` tuple (takes precedence over
    ``target_features``) — share one model across scorers."""
    return _dsir_scored(
        raw, target, text_col, id_col, buckets, ngram, alpha,
        length_normalize, features=features,
        target_features=target_features, target_model=target_model,
    )[0]


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    target_rows: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """DSIR end-to-end: weight ``raw`` against ``target`` and
    deterministically resample toward ``target_rows`` (original columns
    only). The sampler's Σw is handed over precomputed from the
    checkpointed per-doc weights, so the whole composition costs ONE
    featurization pass plus the consumer's scan — not the 3–4
    executions the naive chaining paid."""
    scored, total = _dsir_scored(
        raw, target, text_col, id_col,
        kwargs.get("buckets", DSIR_BUCKETS),
        kwargs.get("ngram", 2),
        kwargs.get("alpha", 0.1),
        kwargs.get("length_normalize", True),
    )
    return weighted_sample(
        scored, "dsir_weight", target_rows, id_col, total=total()
    ).drop("dsir_logw", "dsir_weight")


def ngram_cross_entropy(
    df: DataFrame,
    reference: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DSIR_BUCKETS,
    ngram: int = 2,
    alpha: float = 0.1,
    score_col: str = "xent",
    features: DataFrame | None = None,
    ref_features: DataFrame | None = None,
    ref_model: tuple | None = None,
) -> DataFrame:
    """→ ``df`` + ``score_col``: per-document cross-entropy (mean
    −log p, nats/feature) under ``reference``'s hashed n-gram model —
    the CCNet-style perplexity quality signal (Wenzek et al. 2020,
    arXiv:1911.00359, with a hashed count model standing in for the
    KenLM the sandbox can't ship): documents unlike the reference
    (gibberish, wrong language, boilerplate soup) score HIGH and can be
    cut at a threshold or fed to ``weighted_sample`` inverted.

    ``reference=None`` scores ``df`` against its own distribution
    (self-perplexity — outlier detection). Empty documents score NULL.

    Same scale shape as ``dsir_weights``: one bounded groupBy for the
    model, one broadcast join + per-doc aggregation for the scores.

    ``features``/``ref_features``: optional pre-exploded
    :func:`explode_features` frames (caller-materialized) replacing the
    scoring/reference featurization passes. ``ref_model``: an optional
    prebuilt :func:`bucket_model` tuple (takes precedence over
    ``ref_features``) — share one model across scorers."""
    if ref_model is not None:
        lp, floor = ref_model
    elif ref_features is not None:
        lp, floor = _model_from_buckets(
            ref_features.select("b"), buckets, alpha
        )
    else:
        ref = reference if reference is not None else df
        lp, floor = _bucket_logprobs(ref, text_col, buckets, ngram,
                                     alpha)
    feats = features if features is not None else fan_out(df).select(
        F.col(id_col).alias("__did"),
        F.explode(
            _feature_buckets(F.col(text_col), buckets, ngram)
        ).alias("b"),
    )
    per_doc = (
        feats.join(F.broadcast(lp), "b", "left")
        .groupBy("__did")
        .agg(
            (-F.avg(F.coalesce("logp", F.lit(floor)))).alias(score_col)
        )
    )
    return df.join(
        per_doc, F.col(id_col) == F.col("__did"), "left"
    ).drop("__did")
