"""Deterministic sampling & splitting for training-data curation.

Beyond-reference extensions (SURVEY §7 Phase 5). Random sampling is the
wrong tool for dataset curation at scale: ``df.sample`` depends on
partition layout and seed plumbing, re-runs don't reproduce, and a doc's
split assignment changes when the corpus is re-sharded. Everything here
keys off the PORTABLE md5 hash of a stable id (operators/hashing.py), so

- assignment is a pure function of the row id — layout-, partition- and
  engine-independent (DuckDB computes the identical buckets, so pipelines
  can be audited off-cluster);
- adding documents never reassigns existing ones (the property that keeps
  a train/test split honest across corpus versions);
- everything is one narrow projection — no shuffle, no state.

Ops:
- :func:`hash_bucket` — uniform bucket 0..buckets-1 from md5(id).
- :func:`deterministic_split` — train/val/test (any weights) split
  column via hash-bucket ranges.
- :func:`stratified_sample` — EXACT floor(n_s·fraction) rows per
  stratum, chosen by hash order (deterministic top-k per group).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .hashing import h48

#: bucket space for split assignment — fine enough that a 0.1% slice is
#: expressible, coarse enough that bucket boundaries are exact doubles
SPLIT_BUCKETS = 1_000_000


def hash_bucket(col, buckets: int = SPLIT_BUCKETS):
    """Uniform deterministic bucket in [0, buckets) from the portable
    48-bit md5 prefix of ``col`` (cast to string first so numeric and
    string ids hash identically across engines)."""
    return F.pmod(h48(F.col(col).cast("string")), F.lit(buckets))


def deterministic_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a split label by hash-bucket range.

    ``weights`` maps label → fraction (normalized if they don't sum to
    1). A row's label depends only on its id: re-sharding, re-ordering,
    or growing the corpus never moves an existing row between splits —
    the contamination guarantee a train/test split needs across dataset
    versions."""
    weights = dict(weights or {"train": 0.9, "val": 0.05, "test": 0.05})
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError(f"invalid split weights: {weights!r}")
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("split weights sum to zero")
    b = hash_bucket(id_col)
    expr = None
    hi = 0.0
    labels = list(weights)
    for label in labels[:-1]:
        hi += weights[label] / total * SPLIT_BUCKETS
        cond = b < F.lit(int(round(hi)))
        expr = (
            F.when(cond, label)
            if expr is None
            else expr.when(cond, label)
        )
    # last label takes the remainder — no row can fall through
    expr = (
        F.lit(labels[-1]) if expr is None else expr.otherwise(labels[-1])
    )
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fraction: float,
    id_col: str,
) -> DataFrame:
    """Exactly ``floor(n_s * fraction)`` rows from every stratum
    (per-group deterministic top-k by hash order).

    ``df.sample`` gives binomial counts that wobble per run and per
    layout; curation recipes ("2% of every language") need exact,
    reproducible counts. Rows are ranked inside each stratum by
    (md5-hash, id) — a uniform, stable order — and the first
    floor(n_s·fraction) are kept. One shuffle on the stratum key; ranking
    state is (hash, id) pairs, never payloads."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    w = Window.partitionBy(strata_col).orderBy(
        hash_bucket(id_col), F.col(id_col)
    )
    cnt = Window.partitionBy(strata_col)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(cnt))
        .where(F.col("__rk") <= F.floor(F.col("__n") * fraction))
        .drop("__rk", "__n")
    )


def epoch_key(col, seed: int = 0):
    """Deterministic per-epoch shuffle key: the portable 48-bit md5 of
    ``seed || ':' || id``. Ordering by it is a reproducible global
    shuffle of the corpus that changes completely between epochs (seed)
    but never between re-runs — feed it to ``pack_shards(order_col=...)``
    to cut shuffled fixed-token training shards. A different-seed order
    is uncorrelated, so epoch boundaries don't re-read the same shard
    neighborhoods."""
    return h48(
        F.concat(F.lit(str(seed)), F.lit(":"), F.col(col).cast("string"))
    )


def cap_per_group(
    df: DataFrame, group_col: str, n: int, id_col: str
) -> DataFrame:
    """At most ``n`` rows per group, chosen deterministically by hash
    order (the domain-quota rule: no single source may dominate the
    mix). Same shape as :func:`stratified_sample` — one shuffle on the
    group key, rank state only."""
    if n < 0:
        raise ValueError(f"cap must be >= 0, got {n}")
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(id_col), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= n)
        .drop("__rk")
    )


def mix_corpora(
    df: DataFrame,
    source_col: str,
    rates: dict[str, float],
    id_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Down-sample each source to its mixture rate — the training-mix
    recipe ("keep 100% of wiki, 30% of crawl"). Keep iff
    ``hash_bucket(id) < rate(source)·BUCKETS``: a pure row-local
    predicate (no shuffle, fuses into the scan), deterministic per id,
    and monotone in the rate — raising a source's rate only ADDS
    documents, never swaps them, so mixture revisions stay comparable.
    Unknown sources get ``default_rate`` (drop, by default)."""
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} must be in [0, 1], got {r}")
    b = hash_bucket(id_col)
    expr = F.lit(int(round(default_rate * SPLIT_BUCKETS)))
    for s, r in rates.items():
        expr = F.when(
            F.col(source_col) == s, F.lit(int(round(r * SPLIT_BUCKETS)))
        ).otherwise(expr)
    return df.where(b < expr)


def token_budget_mix(
    df: DataFrame,
    source_col: str,
    token_col: str,
    budgets: dict[str, int],
    id_col: str,
    default: str = "drop",
    seed: int = 0,
    checkpoint: bool = True,
) -> DataFrame:
    """Cap each source's contribution at a TOKEN budget — the mixture
    recipe stated the way teams actually state it ("50 B tokens of
    web, 10 B of code"), where ``mix_corpora``'s row-rate form needs
    token counts converted to rates by hand and drifts as the corpus
    grows. Keeps the deterministic prefix of each source under a
    seeded hash order: a doc is kept iff its source's running token
    sum up to it (exclusive) is still under the budget — so the first
    boundary-straddling doc is kept and budgets are exceeded by at
    most one document.

    Determinism & monotonicity: order is ``epoch_key(id, seed)`` (a
    pure hash — layout-independent), so re-runs pick the same docs and
    raising a budget only ADDS documents. Appending new docs to the
    corpus can displace old picks (new ids interleave into the hash
    order) — pin ``seed`` and snapshot inputs for strict
    reproducibility across corpus versions, same as any hash-order
    sample of a growing set.

    ``default``: ``'drop'`` removes sources without a budget,
    ``'keep'`` passes them through uncapped.

    Scale shape — the ``pack_shards`` distributed-running-sum pattern,
    applied per source. Semantically the keep predicate is
    ``SUM(tokens) OVER (PARTITION BY source ORDER BY epoch_key) -
    tokens < budget``, but a source-partitioned window is ONE task per
    source: a 100 TB corpus that is 80% "web" would sort and scan 80%
    of itself in a single thread. Instead:

    1. ``repartitionByRange(source, epoch_key, id)`` + in-partition
       sort — partitions are globally ordered (source, key) ranges, so
       each source occupies a consecutive run of partitions (one
       range-exchange shuffle, every task range-sized);
    2. per-(partition, source) token sums via ``spark_partition_id``
       — a metadata-sized aggregate (≤ #partitions + #sources rows)
       collected to build per-source cumulative offsets;
    3. in-partition running sum by a window PARTITIONED BY (partition
       id, source) — every window group is one already-sorted slice of
       one partition, never a whole source — plus the broadcast
       offset.

    A hot source spans many range partitions, so no stage has a task
    bounded by source size. Only (id, source, tokens, key) move
    through the shuffles. NULL/negative token counts count as 0.

    The result is local-checkpointed by default: the collected offsets
    are only valid for THIS materialization of the range exchange
    (a recompute would re-sample the range boundaries and shift
    partition ids). ``checkpoint=False`` returns the lazy plan for
    inspection/tests and deliberately leaves the range-partitioned
    input pinned to keep the offsets honest."""
    if default not in ("drop", "keep"):
        raise ValueError(
            f"default must be 'drop' or 'keep', got {default!r}"
        )
    for s, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for {s!r} must be >= 0, got {b}")
    from pyspark.sql import Window

    from .util import tracked_checkpoint

    capped = df.where(F.col(source_col).isin(list(budgets)))
    toks = F.greatest(
        F.coalesce(F.col(token_col).cast("long"), F.lit(0)), F.lit(0)
    )
    num = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    part = (
        capped.withColumn("__ek", epoch_key(id_col, seed))
        .withColumn("__tok", toks)
        .repartitionByRange(
            num, F.col(source_col), F.col("__ek"), F.col(id_col)
        )
        .sortWithinPartitions(source_col, "__ek", id_col)
        .withColumn("__pid", F.spark_partition_id())
    )
    pinned = part.persist()
    try:
        # group-cardinality collect (≤ num×|sources| rows); the range
        # repartition above has an explicit width AQE never touches,
        # so AQE off here only drops the per-exchange job wave (r14)
        from .util import posture

        sums = (
            posture(part).groupBy("__pid", source_col)
            .agg(F.sum("__tok").alias("__t"))
            .collect()
        )
        # per-source cumulative offsets in partition order — a source's
        # rows sit in consecutive range partitions, so summing its
        # earlier partitions gives the exclusive prefix total
        acc: dict = {}
        offsets = []
        for r in sorted(
            sums, key=lambda r: (str(r[source_col]), int(r["__pid"]))
        ):
            s, pid = r[source_col], int(r["__pid"])
            offsets.append((pid, s, acc.get(s, 0)))
            acc[s] = acc.get(s, 0) + int(r["__t"] or 0)
        if offsets:
            from pyspark.sql.types import (
                IntegerType, LongType, StructField, StructType,
            )

            odf = df.sparkSession.createDataFrame(
                offsets,
                StructType([
                    StructField("__pid", IntegerType()),
                    StructField(source_col, part.schema[source_col].dataType),
                    StructField("__off", LongType()),
                ]),
            )
            part = part.join(F.broadcast(odf), ["__pid", source_col], "left")
            off = F.coalesce(F.col("__off"), F.lit(0)).cast("long")
        else:
            off = F.lit(0).cast("long")
            part = part.withColumn("__off", F.lit(None).cast("long"))
        w = (
            Window.partitionBy("__pid", source_col)
            .orderBy("__ek", id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        budget = F.lit(None).cast("long")
        for s, b in budgets.items():
            budget = F.when(
                F.col(source_col) == s, F.lit(int(b))
            ).otherwise(budget)
        kept = (
            part.withColumn(
                "__cum", off + F.sum("__tok").over(w) - F.col("__tok")
            )
            .where(F.col("__cum") < budget)
            .select(*df.columns)
        )
        if checkpoint:
            kept, _ = tracked_checkpoint(kept)
            pinned.unpersist()
        else:
            # the pin must outlive this call (resampling the range
            # boundaries on recompute would shift __pid and break the
            # collected offsets), so hand it to the quiesce sweep
            # instead of leaking an unreleasable cache
            from .lifetime import _pin

            _pin(pinned)
    except Exception:
        pinned.unpersist()
        raise
    if default == "keep":
        rest = df.where(
            ~F.col(source_col).isin(list(budgets))
            | F.col(source_col).isNull()
        )
        return kept.unionByName(rest)
    return kept


def temperature_rates(
    df: DataFrame,
    source_col: str,
    alpha: float = 0.3,
    target_rows: int | None = None,
) -> dict[str, float]:
    """Per-source keep rates implementing temperature sampling
    (p_g ∝ n_g^α — the multilingual mixing law of mT5/XLM-R; α=1 is the
    natural distribution, α→0 uniform across sources).

    With ``target_rows`` unset, rates are normalized so the most
    up-weighted source keeps 100% (pure down-sampling — no source is
    replicated); with it set, rate_g = min(1, target·p_g / n_g) sizes
    the output toward ``target_rows`` (sources whose quota exceeds
    their size saturate at 1 — repetition/up-sampling is an epoch-level
    concern, see ``epoch_key``, not a sampling one).

    One count-by-source aggregate (group-cardinality rows to the
    driver — metadata-sized); feed the dict to :func:`mix_corpora`,
    which applies it as a row-local hash predicate."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    # group-cardinality aggregate (partial-agg'd narrow rows into one
    # exchange) — AQE off per action, no job pair (r14)
    from .util import posture

    sizes = {
        r[source_col]: r["n"]
        for r in posture(df).groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not sizes:
        return {}
    # sum in SORTED source order: collect() row order varies run to run,
    # and a float sum in arrival order would move the rates by an ulp —
    # enough to flip the integer hash threshold mix_corpora derives and
    # swap a boundary document between otherwise-identical runs
    tot = sum(sizes[s] ** alpha for s in sorted(sizes))
    p = {s: n**alpha / tot for s, n in sizes.items()}
    ratio = {s: p[s] / sizes[s] for s in sizes}
    if target_rows is None:
        top = max(ratio.values())
        return {s: ratio[s] / top for s in sizes}
    return {s: min(1.0, target_rows * ratio[s]) for s in sizes}


def temperature_mix(
    df: DataFrame,
    source_col: str,
    id_col: str,
    alpha: float = 0.3,
    target_rows: int | None = None,
) -> DataFrame:
    """Apply :func:`temperature_rates` through :func:`mix_corpora`:
    deterministic, layout-independent temperature resampling in one
    row-local predicate after one count aggregate."""
    rates = temperature_rates(df, source_col, alpha, target_rows)
    return mix_corpora(df, source_col, rates, id_col)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    target_rows: int,
    id_col: str,
    max_weight: float | None = None,
    total: float | None = None,
) -> DataFrame:
    """Deterministic importance sampling: keep each row with probability
    proportional to ``weight_col``, sized toward ``target_rows`` — the
    quality-/importance-weighted resampling step of data-selection
    pipelines (DSIR, Xie et al. 2023, arXiv:2302.03169: importance
    weights in, kept subset out; this implements the *selection* given
    precomputed weights).

    keep ⇔ hash_bucket(id) < p(row)·BUCKETS with
    p = min(1, target·w / Σw): a row-local predicate over one
    sum-aggregate, reproducible and monotone — raising a row's weight
    or the target only ever ADDS rows. Zero/negative weights never
    keep. ``max_weight`` clips weights before normalization (heavy-tail
    control — standard importance-sampling hygiene).

    Reproducibility caveat: the computed Σw is a FLOAT sum whose
    partial-aggregation order follows the data layout, so a re-layout
    (repartition, compaction) can move Σw by an ulp and flip a row
    whose hash lands exactly on the derived threshold (~2⁻⁵² per row —
    negligible but nonzero). Byte-stable reruns across layouts should
    pass the pinned ``total=`` explicitly; this is also why the DSIR
    family is property-tested rather than hash-oracled (BENCH_NOTES).

    Expected output size is ≈ target_rows minus the mass lost where
    p saturates at 1 (rows can't be kept twice; up-replication is an
    epoch concern, not a sampling one)."""
    if target_rows < 0:
        raise ValueError(f"target_rows must be >= 0, got {target_rows}")
    w = F.col(weight_col).cast("double")
    if max_weight is not None:
        w = F.least(w, F.lit(float(max_weight)))
    w = F.greatest(w, F.lit(0.0))
    # callers that already know Σw (of the CLIPPED weights — e.g. DSIR,
    # whose per-doc frame is checkpointed) pass it in and skip the
    # sum-aggregate pass, which would otherwise re-execute the whole
    # upstream scoring plan just to fetch a scalar
    if total is None:
        total = df.agg(F.sum(w)).collect()[0][0] or 0.0
    if total <= 0:
        return df.where(F.lit(False))
    p = F.least(F.lit(1.0), w * F.lit(float(target_rows)) / F.lit(total))
    return df.where(
        hash_bucket(id_col) < (p * SPLIT_BUCKETS).cast("long")
    )
