"""Deduplication operators — exact and near-duplicate, designed for 100 TB.

Beyond-reference extensions (SURVEY §7 Phase 5). All hot paths are
``pyspark.sql.functions`` expressions (JVM codegen); the only shuffles are
the group-bys/joins that the algorithms fundamentally require:

- **exact**: hash-groupBy on a normalized md5 fingerprint — one shuffle of
  (16-byte key, id), the minimum possible.
- **minhash-LSH**: per-doc signature (narrow, no shuffle) → band keys →
  self-join per band bucket → candidate pairs → exact Jaccard verify.
  At scale the band join shuffles only (band_key, doc_id) pairs, never
  documents; skewed buckets (boilerplate docs) are handled by AQE skew
  splitting plus an optional bucket-size cap.
- **simhash**: 48-bit signature via bitwise majority (portable hashing,
  see hashing.py) → near-dup = hamming distance ≤ k, found by banding the
  signature into 4 chunks (pigeonhole: any pair within distance 3 shares
  ≥1 exact chunk) — again joining only ids + 12-bit chunks.
- **ngram-jaccard**: token-shingle explode → inverted-index self-join →
  |∩| per pair → Jaccard. Quadratic only within shingle buckets.
- **embedding near-dup**: cosine ≥ threshold via the similarity module.

Every operator is verified against a DuckDB oracle running the *same*
portable hash arithmetic (workload_ext).
"""

from __future__ import annotations

import math
import time

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .hashing import MINHASH_COEFFS, P, SIMHASH_BITS, h32, h48
from .lifetime import _keep_cache, _retire_scope, _sweep
from .text import fingerprint, words
from .util import (fan_out, has_rows, local_rows_df, posture, rebind,
                   release_all, spread as _spread, take_upto,
                   tracked_checkpoint)

#: Default row cap for broadcasting the doc-level verify side of a pair
#: join. 2M rows × (8B id + 16×8B signature) ≈ 300 MB — comfortably
#: inside a typical executor; above it, forcing a broadcast OOMs the
#: executors at billion-doc scale, so the join is left to AQE (which
#: still broadcasts at runtime if the side turns out small).
BROADCAST_VERIFY_CAP = 2_000_000


def _fits_broadcast(n: int, cap: int | None = None) -> bool:
    """``n`` rows ≤ ``cap`` (None: :data:`BROADCAST_VERIFY_CAP`, read
    at call time)."""
    return n <= (BROADCAST_VERIFY_CAP if cap is None else cap)


def _verify_gate(
    df: DataFrame, broadcast_verify=None, cap: int | None = None
) -> bool:
    """Resolve the broadcast-verify tri-state: explicit bool wins; None
    (the scale-safe default) size-gates on a cheap corpus row count
    (metadata-only for parquet scans — docs upper-bound the verify side,
    which holds one narrow row per distinct doc)."""
    if broadcast_verify is not None:
        return bool(broadcast_verify)
    # scan → count: partial-agg'd scalar plan, no AQE job wave (r14)
    return _fits_broadcast(posture(df).count(), cap)


def _maybe_broadcast(side: DataFrame, flag: bool) -> DataFrame:
    return F.broadcast(side) if flag else side


def _filled_gate(side: DataFrame) -> DataFrame:
    """``side`` filled once (a tracked checkpoint), broadcast when its
    row count fits the cap. Without the fill the gate's count and the
    consuming join each execute ``side``'s whole subtree."""
    side, _ = tracked_checkpoint(side)
    return _maybe_broadcast(side, _verify_gate(side))


#: The quiesce sweep under its pre-merge name (``util.release_checkpoints``
#: is the same function): frees every persisted frame and checkpoint.
release_caches = _sweep


def _scalar_fill(df: DataFrame) -> tuple[DataFrame, int]:
    """→ (``df`` kept and filled, its row count) for an
    aggregation-only fill. Cache registration and the count both run in
    the SCALAR posture: persist() compiles the cached child plan under
    its session's conf, so the cached plan is the static one (r14: an
    AQE stage wave → one job). The frame comes back bound to ``df``'s
    own session."""
    kept = _keep_cache(posture(df))
    return rebind(kept, df.sparkSession), kept.count()


def _bm_intersect(col_a, col_b, nwords: int | None = None) -> Column:
    """|a ∩ b| from packed bitmap arrays: Σ popcount(aᵢ & bᵢ).

    With a known small width (``nwords`` ≤ 8) the fold is unrolled into
    a flat ``bit_count(element_at & element_at)`` sum — whole-stage
    codegen instead of the interpreted zip_with/aggregate HOF, which
    costs ~µs of interpreter dispatch per *pair* on the all-pairs
    verify (r14: q37's 3.9k-rep verify is ~7.7M evaluations). The
    round-8 unroll rejection was about dim-64 element chains (6× slower
    + seconds of analysis); at ≤8 nodes neither effect exists. Unknown
    or wide bitmaps keep the fold."""
    if nwords is not None and 0 < nwords <= 8:
        expr = F.bit_count(
            F.element_at(col_a, 1).bitwiseAND(F.element_at(col_b, 1))
        )
        for i in range(2, nwords + 1):
            expr = expr + F.bit_count(
                F.element_at(col_a, i).bitwiseAND(F.element_at(col_b, i))
            )
        return expr
    return F.aggregate(
        F.zip_with(col_a, col_b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def _dense_token_ids(
    dfreq: DataFrame, cached: bool = False
) -> tuple[DataFrame, int]:
    """→ ([s, tid], vocab): dense 1..V token ids in (document_frequency,
    token) ascending order — the rarest-first total order prefix
    filtering needs — computed WITHOUT a single-partition global window.

    Range-partition the vocabulary by the sort key, rank within each
    partition (a distributed window), and add per-partition offsets from
    a metadata-sized count collect — the same two-phase trick as the
    mutation store's ``_with_seq``. ``dfreq`` is checkpointed first so
    the range exchange's sampling pass doesn't recompute the
    tokenize→groupBy subtree; the range-partitioned frame is
    checkpointed because its sampled partition boundaries must be
    identical in the count job and every consumer job. Pass
    ``cached=True`` when the caller already ``_keep_cache``-d ``dfreq``
    (double-persist warns and re-registers the frame for release)."""
    if not cached:
        dfreq = _keep_cache(dfreq)
    parts = _keep_cache(
        dfreq.repartitionByRange(
            dfreq.sparkSession.sparkContext.defaultParallelism,
            F.asc("df"), F.asc("s"),
        ).withColumn("__pid", F.spark_partition_id())
    )
    cnt = parts.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n")).collect()
    offs: dict[int, int] = {}
    acc = 0
    for r in sorted(cnt, key=lambda r: r["__pid"]):
        offs[int(r["__pid"])] = acc
        acc += int(r["__n"])
    if not offs:
        return parts.select("s", F.lit(0).cast("long").alias("tid")), 0
    om = F.create_map(*[F.lit(x) for kv in offs.items() for x in kv])
    wl = Window.partitionBy("__pid").orderBy(F.asc("df"), F.asc("s"))
    dic = parts.withColumn(
        "tid", (om[F.col("__pid")] + F.row_number().over(wl)).cast("long")
    ).select("s", "tid")
    return dic, acc


def _salted_pairs(
    indexed: DataFrame,
    keys: list[str],
    sym_cond=None,
    k: int | None = None,
    carry: tuple[str, ...] = (),
    distinct: bool = True,
) -> DataFrame:
    """Distinct unordered id-pairs of rows sharing ``keys`` — the bucket
    self-join at the heart of every LSH/banding scheme — enumerated with
    **k-way salting** so one hot bucket does not serialize the stage.

    Each row gets a chunk ``c = hash(id) mod k``; the probe side is
    replicated to target chunks ``t ∈ [c, k)`` and matched against build
    rows with ``c == t``. A pair with chunks (cu < cv) matches exactly
    once (u probing chunk cv); equal chunks are ordered by id. The join
    key becomes (keys…, chunk): a bucket of B rows splits into k·(k+1)/2
    balanced sub-joins instead of one B² task — this is what survives a
    shuffle join at 100 TB where buckets (boilerplate shingles, common
    signatures) are heavily skewed. ``sym_cond(x, y)`` adds a symmetric
    pruning predicate (e.g. the PPJoin length filter) inside the join.

    ``carry`` names payload columns of ``indexed`` to ride along into the
    output as ``{c}_a``/``{c}_b`` (aligned with id_a/id_b) — this lets a
    caller verify pairs *inside the enumeration stage* instead of
    re-joining per-id state afterwards. Pass ``distinct=False`` with a
    selective post-filter, then dedupe the (small) survivor set.

    ``k`` is CAPPED, not cluster-sized: the probe side is replicated
    ~k/2 times, so tying k to ``defaultParallelism`` would blow the
    index shuffle up ~16,000x on a 1000-executor cluster. A bounded
    salt (64) splits any hot bucket into enough sub-joins to keep every
    core of a large executor busy; whole-stage parallelism at scale
    comes from the NUMBER of buckets, and residual probe-side imbalance
    inside one (bucket, chunk) cell is AQE-splittable. No finite salt
    fixes a quadratic bucket — rep canonicalization (bounding bucket
    size by distinct content) and verify-in-join are the structural
    mitigations, and both sit upstream of this join."""
    spark = indexed.sparkSession
    dp = spark.sparkContext.defaultParallelism
    k = k or min(dp, 64)
    salted = indexed.withColumn("_c", F.pmod(F.hash("id"), F.lit(k)))
    # Explicit (AQE-honored) round-robin: the probe's *input* is tiny, so
    # adaptive planning would otherwise run the expansive join in 1-2
    # tasks; if Catalyst broadcasts the build side this also guarantees a
    # balanced probe regardless of key skew. Partition count tracks the
    # CLUSTER (max(k, defaultParallelism)) — the capped salt bounds
    # replication, never stage parallelism.
    probe = (
        salted.withColumn("_t", F.explode(F.sequence("_c", F.lit(k - 1))))
        .repartition(max(k, dp))
        .alias("x")
    )
    build = salted.alias("y")
    cond = (F.col("y._c") == F.col("x._t")) & (
        (F.col("x._t") > F.col("x._c")) | (F.col("x.id") < F.col("y.id"))
    )
    for c in keys:
        cond = (F.col(f"x.{c}") == F.col(f"y.{c}")) & cond
    if sym_cond is not None:
        cond = cond & sym_cond
    lt = F.col("x.id") < F.col("y.id")
    sel = [
        F.least(F.col("x.id"), F.col("y.id")).alias("id_a"),
        F.greatest(F.col("x.id"), F.col("y.id")).alias("id_b"),
    ]
    for c in carry:
        sel.append(
            F.when(lt, F.col(f"x.{c}")).otherwise(F.col(f"y.{c}")).alias(f"{c}_a")
        )
        sel.append(
            F.when(lt, F.col(f"y.{c}")).otherwise(F.col(f"x.{c}")).alias(f"{c}_b")
        )
    out = probe.join(build, cond).select(*sel)
    return out.distinct() if distinct else out


def _salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_id: str,
    right_id: str,
    k: int | None = None,
) -> DataFrame:
    """Skew-proof equi-join of two DISTINCT relations on ``keys`` — the
    R⋈S generalization of :func:`_salted_pairs`' self-join salting.

    Grid salting: side L gets a fixed row chunk ``_ca = hash(id) mod a``
    and is replicated across all ``b`` values of ``_cb``; side R gets a
    fixed ``_cb = hash(id) mod b`` replicated across all ``a`` values of
    ``_ca``; the join key becomes (keys…, _ca, _cb). Every (l, r) pair
    meets exactly once — at (ca(l), cb(r)) — and a hot key bucket of
    Bl×Br rows splits into a·b balanced sub-joins of (Bl/a)×(Br/b)
    instead of one task. With a = b ≈ ⌈√k⌉ each side is replicated only
    √k ways (vs k for one-sided replication) — the shape that survives a
    shared-scaffold hot gram at 100 TB without leaning on AQE's
    post-shuffle skew estimates, which only split oversized shuffle
    blocks AFTER a stage has already paid to write them.

    ``k`` is CAPPED (256 → √k = 16 replicas per side), not
    cluster-sized: on a large cluster ``defaultParallelism``-driven
    salting would replicate each prefix row hundreds of times. 256
    balanced sub-joins per hot gram saturate a big executor; bucket
    COUNT provides the stage-level parallelism at scale."""
    spark = left.sparkSession
    dp = spark.sparkContext.defaultParallelism
    k = k or min(dp, 256)
    a = max(1, math.isqrt(k))
    b = max(1, (k + a - 1) // a)
    ls = left.withColumn(
        "_ca", F.pmod(F.hash(left_id), F.lit(a))
    ).withColumn("_cb", F.explode(F.sequence(F.lit(0), F.lit(b - 1))))
    rs = right.withColumn(
        "_cb", F.pmod(F.hash(right_id), F.lit(b))
    ).withColumn("_ca", F.explode(F.sequence(F.lit(0), F.lit(a - 1))))
    # explicit (AQE-honored) spread: if Catalyst broadcasts one side the
    # other's parallelism would otherwise be its pre-explode partitioning
    # (cluster-sized — the capped salt never bounds stage parallelism)
    ls = ls.repartition(max(k, dp))
    return ls.join(rs, keys + ["_ca", "_cb"]).drop("_ca", "_cb")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """→ [id, fp, is_canonical]: canonical = min id per fingerprint group.
    ``dropDuplicates`` equivalent but keeps full group visibility."""
    fp = fingerprint(F.col(text_col)).alias("fp")
    w = Window.partitionBy("fp").orderBy(F.asc(id_col))
    return (
        df.select(F.col(id_col), fp)
        .withColumn("rn", F.row_number().over(w))
        .select(
            id_col, "fp", (F.col("rn") == 1).alias("is_canonical")
        )
    )


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """→ [fp, n_dups, canonical_id] one row per distinct content."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("canonical_id"),
        )
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

def shingles(col: Column, n: int = 1) -> Column:
    """Distinct word n-gram shingles. n=1 → distinct words; n>1 → joined
    n-word windows."""
    ws = words(col)
    if n == 1:
        return F.array_distinct(ws)
    idx = F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(-1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n)))
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 1,
) -> DataFrame:
    """→ [id, sig array<bigint>] minhash signature, all JVM-side.

    sig[i] = min over shingles of ((md5_32(s) mod P) * a_i + b_i) mod P —
    the portable universal-hash family shared with the DuckDB oracle.

    Shape: explode(shingles) → one md5 per (doc, shingle) row → groupBy
    with ``num_hashes`` MIN aggregates. Everything stays in whole-stage
    codegen (higher-order array functions are interpreted in Spark — an
    order of magnitude slower per element), and map-side partial
    aggregation reduces the shuffle to ~num_hashes longs per doc per
    partition before any exchange."""
    if num_hashes > len(MINHASH_COEFFS):
        raise ValueError(f"at most {len(MINHASH_COEFFS)} hashes supported")
    tok = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    hashed = tok.select("id", (h32(F.col("s")) % P).alias("h"))
    # the permutation-MIN aggregate list and the sig-array projection
    # are data-independent — cached per num_hashes so a streaming
    # micro-batch doesn't rebuild ~5·num_hashes expression nodes per
    # probe (r14, the quantizer-literal treatment)
    from .util import _expr_cache_get, _expr_cache_key, _expr_cache_put

    ck = _expr_cache_key("minhash", num_hashes)
    cached = _expr_cache_get(ck)
    if cached is None:
        cached = (
            [
                F.min(
                    (F.col("h") * F.lit(a) + F.lit(b)) % P
                ).alias(f"m{i}")
                for i, (a, b) in enumerate(MINHASH_COEFFS[:num_hashes])
            ],
            F.array(
                *[f"m{i}" for i in range(num_hashes)]
            ).alias("sig"),
        )
        _expr_cache_put(ck, cached)
    agg_cols, sig_col = cached
    mins = hashed.groupBy("id").agg(*agg_cols)
    return mins.select("id", sig_col)


def encoded_token_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 1,
) -> DataFrame:
    """→ [id, toks array<long>]: each doc's distinct shingle set
    **dictionary-encoded** to dense longs and sorted rarest-first.

    The dictionary order is (document_frequency, shingle) ascending, so
    ascending tid order *is* the global rarest-first total order that
    prefix filtering needs — and set intersections over long arrays are
    several times cheaper than over strings (ArrayIntersect is
    interpreted; per-element cost is equality+hash, which dominates for
    UTF8 strings). Token-id assignment is injective, so intersection /
    union cardinalities — hence Jaccard — are exactly those of the
    original string sets.

    The dictionary is ranked distributedly (``_dense_token_ids``) — no
    single-partition stage even for extreme vocabularies."""
    tok = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    dfreq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    dic, _ = _dense_token_ids(dfreq)
    return tok.join(dic, "s").groupBy("id").agg(
        F.array_sort(F.collect_list("tid")).alias("toks")
    )


def _check_banding(num_hashes: int, bands: int) -> int:
    """Validate the band layout once, at plan build: every hash row
    must belong to exactly one band, or banding silently drops
    signature bits (recall loss) and the first-agreeing-band emission
    predicate degenerates."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must be in [1, num_hashes] and divide "
            f"num_hashes={num_hashes}"
        )
    return num_hashes // bands


def banded_signatures(
    src: DataFrame, num_hashes: int, bands: int, keep: tuple = ()
) -> DataFrame:
    """[id, *keep, band, key] — the ONE definition of the LSH band key
    layout (band i = concat of its rows' minhash values). Both the batch
    self-join (``minhash_lsh_pairs``) and the persisted incremental
    index (``incremental.minhash_band_index``) band through this
    function, so index/probe bit-parity is structural, not a convention
    two copies have to keep."""
    rows = _check_banding(num_hashes, bands)
    from .util import _expr_cache_get, _expr_cache_key, _expr_cache_put

    ck = _expr_cache_key("bands", num_hashes, bands)
    bk = _expr_cache_get(ck)
    if bk is None:
        band_cols = [
            F.struct(
                F.lit(i).alias("band"),
                F.concat_ws(
                    "-",
                    *[F.element_at("sig", i * rows + r + 1).cast("string")
                      for r in range(rows)]
            ).alias("key"),
            )
            for i in range(bands)
        ]
        bk = F.array(*band_cols)
        _expr_cache_put(ck, bk)
    return src.select(
        "id", *keep, F.explode(bk).alias("bk")
    ).select(
        "id", *keep,
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )


def first_agreeing_band(
    sig_x: Column, sig_y: Column, band_col: Column,
    num_hashes: int, bands: int,
) -> Column:
    """TRUE iff no band BEFORE ``band_col`` also agrees between the two
    signatures — the in-join exactly-once emission predicate paired
    with :func:`banded_signatures`' layout (band i = signature elements
    ``i·rows+1 .. i·rows+rows``). A pair agreeing on j bands meets in j
    buckets of the band join; this predicate lets it out of exactly
    one, replacing a survivor ``distinct`` (a shuffle of the
    output-sized candidate set) with pure codegen element comparisons.
    Kept next to the banding definition so the two can never drift —
    a layout change that skipped this predicate would silently emit
    duplicate or missing pairs now that the distinct is gone."""
    rows = _check_banding(num_hashes, bands)
    pred = F.lit(True)
    for i in range(bands - 1):
        band_i_agrees = F.lit(True)
        for r in range(rows):
            j = i * rows + r + 1
            band_i_agrees = band_i_agrees & (
                F.element_at(sig_x, j) == F.element_at(sig_y, j)
            )
        pred = pred & ((F.lit(i) >= band_col) | (~band_i_agrees))
    return pred


def _expand_groups(
    gpairs: DataFrame,
    groups: DataFrame,
    ident: Column,
    emit: str,
    bcast=False,
    delta: bool = False,
) -> DataFrame:
    """Rep-level edges → member edges, for the pair operators that
    enumerate on one representative per group of identical sketches.

    ``gpairs`` is the rep edges ``(rep_a, rep_b, value)`` (any column
    names; the output is ``(id_a, id_b, value)``); ``groups`` is one
    row per group, ``(gid, members)`` with ``gid`` the min member id.
    Members of one group are identical, so their pairs carry ``ident``
    (the value of a self-pair: Jaccard 1.0, hamming 0).

    - ``emit="spanning"``: the rep edges plus one star edge
      ``(gid, member, ident)`` per non-gid member — connectivity-
      equivalent to the full expansion and linear in corpus size.
    - ``emit="pairs"``: the rep edges joined to both groups' member
      lists, plus every intra-group pair. The member lists hold one row
      per DOCUMENT, so they broadcast only when ``bcast`` says so;
      ``bcast`` may be a zero-arg gate, evaluated — its count job
      paid — on this path only (r14). Groups are disjoint, so the
      salted intra enumeration emits each pair once (no dedup shuffle
      on the largest output leg).

    ``delta=True`` keeps only edges touching a NEW doc: members are
    ``(id, __new)`` structs and ``groups`` carries ``has_new``."""
    ka, kb, val = gpairs.columns
    if delta:
        mem = groups.select(
            "gid", "has_new", F.explode("members").alias("m")
        ).select(
            "gid", "has_new", F.col("m.id").alias("id"),
            F.col("m.__new").alias("new"),
        )
    else:
        mem = groups.select("gid", F.explode("members").alias("id"))
    if emit == "spanning":
        non_rep = F.col("id") != F.col("gid")
        star = mem.where(
            F.col("has_new") & non_rep if delta else non_rep
        ).select(
            F.col("gid").alias("id_a"),
            F.col("id").alias("id_b"),
            ident.alias(val),
        )
        if (ka, kb) != ("id_a", "id_b"):
            gpairs = gpairs.select(
                F.col(ka).alias("id_a"), F.col(kb).alias("id_b"), val
            )
        return gpairs.unionByName(star)
    if callable(bcast):
        bcast = bcast()

    def side(key: str, s: str) -> DataFrame:
        cols = [F.col("gid").alias(key), F.col("id").alias(f"m_{s}")]
        if delta:
            cols.append(F.col("new").alias(f"n_{s}"))
        return _maybe_broadcast(mem.select(*cols), bcast)

    inter = gpairs.join(side(ka, "a"), ka).join(side(kb, "b"), kb)
    if delta:
        inter = inter.where(F.col("n_a") | F.col("n_b"))
    inter = inter.select(
        F.least("m_a", "m_b").alias("id_a"),
        F.greatest("m_a", "m_b").alias("id_b"),
        val,
    )
    intra = _salted_pairs(
        mem.select(
            F.col("gid").alias("g"), "id",
            *([F.col("new").alias("nn")] if delta else []),
        ),
        ["g"],
        sym_cond=(F.col("x.nn") | F.col("y.nn")) if delta else None,
        distinct=False,
    ).select("id_a", "id_b", ident.alias(val))
    return inter.unionByName(intra)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    jaccard_threshold: float = 0.5,
    verify: str = "estimate",
    broadcast_verify: bool | None = None,
    broadcast_cap: int | None = None,
    emit: str = "pairs",
) -> DataFrame:
    """→ [id_a, id_b, jaccard] candidate pairs sharing ≥1 LSH band, kept
    when their Jaccard similarity ≥ threshold.

    ``emit="spanning"`` (estimate verify only) returns a
    connectivity-equivalent edge set instead of every qualifying pair:
    one *star* edge (gid, member, 1.0) per identical-signature group
    member plus the rep-level cross edges — linear in corpus size where
    the full expansion is quadratic in dup-cluster size (a 10× rehearsal
    corpus: 559.6 M pairs vs 3.0 M spanning edges, see BENCH_NOTES.md).
    Connected components over either edge set are identical, so this is
    what ``dedup_corpus`` feeds the clustering; the default ``"pairs"``
    keeps the audit/oracle contract (every pair, with its similarity).
    Under exact verify docs are never grouped, so the pair set is
    already its own spanning set and ``emit`` is a no-op.

    ``verify`` picks the similarity used for the final filter:

    - ``"estimate"`` (default): fraction of agreeing minhashes — the
      standard MinHashLSH join semantics (Spark ML's
      ``approxSimilarityJoin`` does the same). Per-pair cost is
      ``num_hashes`` codegen'd array-element comparisons; the documents'
      token sets are never revisited. This is the 100 TB path: on a
      self-similar corpus the band join emits a large candidate set, and
      exact verification would re-intersect token arrays for every pair.
    - ``"exact"``: exact token-set Jaccard over dictionary-encoded
      shingle sets — full recall precision on the survivors, at
      ~|set| interpreted array ops per pair.

    ``broadcast_verify`` broadcasts the doc-level lookup side of the
    verify join (one narrow row per doc). Right whenever that side fits
    executor memory — candidates, not docs, dominate LSH cost. The
    default (``None``) is scale-safe: it size-gates on the corpus row
    count (``broadcast_cap``; None: ``BROADCAST_VERIFY_CAP``) and
    otherwise leaves the join to AQE, which still upgrades to broadcast
    at runtime when the side proves small. Pass True/False to force
    either plan.

    Scale shape: signatures are narrow (id + 16 longs); the band self-join
    shuffles (band_idx, band_key) — documents themselves never move."""
    if emit not in ("pairs", "spanning"):
        raise ValueError(f"emit must be 'pairs' or 'spanning', got {emit!r}")
    rows = num_hashes // bands
    _retire_scope()
    sigs = minhash_signature(df, text_col, id_col, num_hashes, shingle_n)

    def _banded(src: DataFrame, keep: tuple = ()) -> DataFrame:
        return banded_signatures(src, num_hashes, bands, keep)

    if verify == "estimate":
        # Canonicalize identical signatures first: banding, pair
        # enumeration, and verification run on one representative per
        # distinct signature, and member pairs are expanded afterwards.
        # Identical-signature docs land in identical buckets with
        # estimate 1.0, so the output is exactly the naive formulation's
        # — but LSH cost now scales with *distinct content*, not raw
        # rows. At 100 TB, exact-duplicate classes are enormous
        # (mirrors, boilerplate), which makes this the difference
        # between joining billions and joining the distinct tail.
        #
        # The whole group structure comes from ONE aggregation over the
        # signatures, persisted (memory-with-disk-spill): reps, both
        # member expansions, and the band index all fan out of it. The
        # unpersisted formulation re-runs the shingle→hash→groupBy
        # signature pipeline — the most expensive subtree — once per
        # branch (5×); persisting one narrow row per *distinct content*
        # is exactly the signature checkpoint a production LSH pipeline
        # writes out anyway (measured 2.4× on the bench corpus).
        sk = F.concat_ws(
            "-", F.transform("sig", lambda x: x.cast("string"))
        )
        # eager fill — the rep/member broadcasts race to populate the
        # cache otherwise and each re-run the signature pipeline. The
        # fill plan is aggregation-only (signatures → groupBy sk:
        # partial-agg'd, one row per distinct content into its single
        # exchange): a SCALAR-posture fill
        groups, _ = _scalar_fill(
            sigs.withColumn("sk", sk)
            .groupBy("sk")
            .agg(
                F.min("id").alias("gid"),
                F.collect_list("id").alias("members"),
                F.first("sig").alias("sig"),
            )
            .drop("sk")
        )
        reps = groups.select(F.col("gid").alias("id"), "sig")
        # Verify *inside* the enumeration join: the signature rides along
        # (carry) so no per-side lookup joins are needed, the agreement
        # count filters band-duplicates before the dedup, and distinct
        # runs on the (small) survivor set. The verified group-pair set
        # is then checkpointed: the member-expansion joins otherwise fuse
        # with the whole enumerate+verify subtree into one oversized
        # codegen stage that Spark executes an order of magnitude slower
        # (measured 8s → 0.5s on the bench corpus for the expansion leg).
        matches = sum(
            F.when(
                F.element_at("sig_a", i + 1) == F.element_at("sig_b", i + 1),
                1,
            ).otherwise(0)
            for i in range(num_hashes)
        )
        # Emit each rep pair only from its FIRST agreeing band: a pair
        # agreeing on j bands would otherwise be enumerated j times and
        # need a survivor distinct — a full shuffle of the candidate
        # set. Both signatures are join-local, so "no earlier band also
        # agrees" is a pure codegen predicate (same shape as
        # simhash_pairs' first-agreeing-chunk emission).
        first_band = first_agreeing_band(
            F.col("x.sig"), F.col("y.sig"), F.col("x.band"),
            num_hashes, bands,
        )
        gpairs_plan = (
            _salted_pairs(
                _banded(reps, keep=("sig",)),
                ["band", "key"],
                sym_cond=first_band,
                carry=("sig",),
                distinct=False,
            )
            .select(
                "id_a",
                "id_b",
                F.round(
                    matches / F.lit(float(num_hashes)), 4
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= jaccard_threshold)
        )
        if emit == "spanning":
            # no checkpoint on the spanning path (r14): the rep-pair set
            # has exactly ONE consumer (the union with the stars, which
            # read the groups cache) and no member-expansion joins to
            # fuse with — the caller's own materialization (CC edge
            # checkpoint, noop sink) executes enumerate+verify once
            # either way, so the eager fill here was a pure extra action
            return _expand_groups(gpairs_plan, groups, F.lit(1.0), emit)
        # pairs path: checkpoint before the member-expansion joins —
        # without the boundary they fuse with the whole enumerate+verify
        # subtree into one oversized codegen stage (measured 8s → 0.5s
        # for the expansion leg on the bench corpus)
        gpairs = _keep_cache(gpairs_plan)
        gpairs.count()
        return _expand_groups(
            gpairs, groups, F.lit(1.0), emit,
            bcast=lambda: _verify_gate(df, broadcast_verify, broadcast_cap),
        )

    if verify != "exact":
        raise ValueError(f"verify must be 'estimate' or 'exact', got {verify!r}")
    # Exact verify: identical signatures do NOT imply identical token
    # sets, so no signature canonicalization — enumerate on all docs.
    cand = _spread(_salted_pairs(_banded(sigs), ["band", "key"]))
    sets = encoded_token_sets(df, text_col, id_col, shingle_n)
    a = sets.select(F.col("id").alias("id_a"), F.col("toks").alias("t_a"))
    b = sets.select(F.col("id").alias("id_b"), F.col("toks").alias("t_b"))
    bcast = _verify_gate(df, broadcast_verify, broadcast_cap)
    a, b = _maybe_broadcast(a, bcast), _maybe_broadcast(b, bcast)
    inter = F.size(F.array_intersect("t_a", "t_b"))
    union = F.size("t_a") + F.size("t_b") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 4).alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted-index join)
# ---------------------------------------------------------------------------

def _dense_allpairs(
    groups: DataFrame,
    threshold: float,
    emit: str,
    bcast,
    nwords: int | None = None,
) -> DataFrame:
    """All-pairs popcount verify over distinct-token-set representatives.

    ``groups`` is one cached row per distinct bitmask: (bm, gid, members,
    sz). The rep×rep comparison is a broadcast nested-loop join —
    candidates never shuffle, never duplicate, and the verify is a few
    AND+popcounts per pair in whole-stage codegen. The reps table is
    bounded by ``allpairs_rep_cap`` (65536 rows by default) so
    broadcasting it is always safe; the member expansion
    (:func:`_expand_groups`) has one row per DOCUMENT, so its broadcast
    follows the ``bcast`` gate."""
    spark = groups.sparkSession
    k = spark.sparkContext.defaultParallelism
    reps = groups.select("gid", "sz", "bm")
    a = reps.select(
        F.col("gid").alias("id_a"), F.col("sz").alias("sz_a"),
        F.col("bm").alias("bm_a"),
    ).repartition(k)
    b = F.broadcast(reps.select(
        F.col("gid").alias("id_b"), F.col("sz").alias("sz_b"),
        F.col("bm").alias("bm_b"),
    ))
    length_ok = (F.col("sz_a") * threshold <= F.col("sz_b")) & (
        F.col("sz_b") * threshold <= F.col("sz_a")
    )
    inter = _bm_intersect("bm_a", "bm_b", nwords)
    union = F.col("sz_a") + F.col("sz_b") - inter
    gpairs = (
        a.join(b, (F.col("id_a") < F.col("id_b")) & length_ok)
        .select(
            "id_a", "id_b", F.round(inter / union, 4).alias("jaccard")
        )
        .where(F.col("jaccard") >= threshold)
    )
    # identical token sets: jaccard is exactly 1.0 ≥ any threshold
    return _expand_groups(gpairs, groups, F.lit(1.0), emit, bcast)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 1,
    threshold: float = 0.8,
    max_bitmap_words: int = 64,
    broadcast_verify: bool | None = None,
    broadcast_cap: int | None = None,
    allpairs_rep_cap: int = 65536,
    emit: str = "pairs",
) -> DataFrame:
    """→ [id_a, id_b, jaccard ≥ threshold], exact, via **prefix filtering**
    (AllPairs/PPJoin family: Bayardo et al., WWW'07).

    A naive shingle inverted-index self-join is quadratic in each token's
    document frequency — hot tokens (stopwords, boilerplate) dominate and
    the join explodes at scale. Prefix filtering keeps it exact while
    joining only on each document's *rarest* tokens:

    1. global document frequency per shingle (one groupBy);
    2. each doc's shingle set sorted rarest-first → a total order;
    3. any pair with J ≥ t must share a token within the first
       ``|s| - ceil(t·|s|) + 1`` tokens of each side ⇒ index only prefixes;
    4. length filter ``t·|a| ≤ |b|`` prunes candidates in the join;
    5. exact Jaccard verify on the full sets for surviving candidates.

    No false negatives (prefix-filter theorem), so output is identical to
    the quadratic formulation — the DuckDB oracle runs the naive version.

    Token sets are dictionary-encoded (``_dense_token_ids``, ranked
    distributedly): ascending token-id order is the rarest-first prefix
    order, and the verify intersects long arrays instead of strings.

    **Plan shape**: one pass builds the per-doc state (size + encoded
    token set + bitmap), checkpointed so the candidate and verify
    branches share it instead of re-running the tokenize→encode subtree
    per branch. Candidate pairs are enumerated *narrow* — ids only —
    through the salted prefix join, deduplicated, then verified against
    the (gated) broadcast per-doc state: the expansive join never
    carries token payloads.

    **Vocabulary-adaptive bitmap verify**: when V ≤ 64·max_bitmap_words,
    each token set is packed *exactly* (the dictionary is injective)
    into ⌈V/64⌉ longs and |a∩b| = Σ bit_count(bmᵢ_a & bmᵢ_b) —
    codegen'd, allocation-free. This is the defense against degenerate
    corpora (tiny shared vocabulary — e.g. templated boilerplate) where
    every token is hot and prefix filtering stops pruning: per-candidate
    cost drops from a hash-set intersection to a handful of
    AND+popcounts. Larger vocabularies (where prefix filtering actually
    works) verify with ``array_intersect`` on the encoded sets.

    **Dense-corpus all-pairs fallback**: in the tiny-vocab regime the
    prefix index degenerates — every token is in most prefixes, so the
    inverted-index self-join enumerates nearly all O(n²) pairs *through
    a shuffle*, each duplicated once per shared prefix token, and pays a
    giant distinct() to dedupe them. When the bitmap applies, docs are
    first grouped by identical bitmask (bm uniquely encodes the set); if
    the number of distinct sets D ≤ ``allpairs_rep_cap``, the operator
    switches to a broadcast nested-loop join over the D representatives
    (popcount verify inline, no shuffle, no dedup) and expands group
    members afterwards. The cap bounds the D²/2 rep comparisons, NOT
    broadcast memory (64k reps ≈ 2 MB): at the 65536 default that is
    ≤ 2.1e9 single-digit-ns codegen popcounts, seconds across one
    32-core executor and trivial on a cluster — while the prefix path
    in the same tiny-vocab regime enumerates near-O(n²) DOCUMENT pairs
    through a shuffle plus a giant distinct (measured: a 50k-doc /
    23.6k-distinct-set corpus was >10 min on prefix, 20 s on all-pairs
    — see BENCH_NOTES.md).
    Identical-set member pairs are emitted directly with jaccard 1.0 —
    the same canonicalization minhash_lsh_pairs applies. Output is
    identical to the prefix formulation; only the join strategy moves.

    ``emit="spanning"``: on the dense path, return star edges per
    identical-set group plus rep-level cross edges instead of the full
    member expansion — connectivity-equivalent, linear in corpus size
    (see minhash_lsh_pairs). The prefix path never groups docs, so its
    pair set is already its own spanning set."""
    if emit not in ("pairs", "spanning"):
        raise ValueError(f"emit must be 'pairs' or 'spanning', got {emit!r}")
    _retire_scope()
    tok = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    dfreq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # Regime probe (r14): ONE bounded take answers "does the vocabulary
    # fit the bitmap regime?" and, when it does, delivers the whole
    # dictionary to the driver — ≤ cap_v+1 narrow rows, bounded by the
    # gate, never corpus-sized. Rarest-first ranks are assigned on the
    # driver by the SAME (df, s) ascending order _dense_token_ids uses
    # (Python str < == Spark UTF-8 binary <), so the prefix fallback
    # below sees identical tids. The distributed rank machinery (cache
    # + range exchange + window + two collects) is reserved for the
    # large-vocab prefix path that actually needs a distributed
    # dictionary — measured 1.2 s → 0.3 s of the q37 pair member.
    cap_v = 64 * max_bitmap_words
    # r14: the probe take is a partial-agg-first aggregate (the
    # exchange carries per-partition (token, count) partials, never
    # corpus rows). AQE off folds its stage wave into one job; the
    # CACHE registration must happen in that posture too (persist()
    # compiles the InMemoryRelation's child plan with the conf of its
    # session), so the cached dfreq plan is the static one —
    # vocabulary-sized partitions either way.
    dfreq = _keep_cache(posture(dfreq))
    head = take_upto(dfreq, cap_v)
    dfreq = rebind(dfreq, df.sparkSession)
    if head is not None:
        ordered = sorted((int(r["df"]), r["s"]) for r in head)
        tid_of: dict[str, int] | None = {
            s: i + 1 for i, (_, s) in enumerate(ordered)
        }
        vocab = len(ordered)
        # LocalRelation (r15): the dictionary join's broadcast
        # build over a parallelize-backed frame paid a job + codegen
        # compile on first execution; a literal relation collects
        # driver-side with neither
        dic = local_rows_df(
            df.sparkSession,
            [(s, t) for s, t in tid_of.items()], "s string, tid long"
        )
    else:
        tid_of = None
        dic, vocab = _dense_token_ids(dfreq, cached=True)
    bitmap = 0 < vocab <= cap_v

    # one checkpointed row per doc: everything both branches need
    enc = tok.join(dic, "s").select("id", "tid")
    aggs = [
        F.count(F.lit(1)).alias("sz"),
        F.array_sort(F.collect_list("tid")).alias("toks"),
    ]
    if bitmap:
        nwords = (vocab + 63) // 64
        word = ((F.col("tid") - 1) / 64).cast("int")
        bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST((tid - 1) % 64 AS INT))")
        aggs.append(
            F.array(*[
                F.sum(F.when(word == l, bit).otherwise(F.lit(0)))
                for l in range(nwords)
            ]).alias("bm")
        )
    per_doc = enc.groupBy("id").agg(*aggs)

    if bitmap:
        if vocab <= 64 and tid_of is not None:
            # SINGLE-WORD FAST PATH (r14, guide §2.4): with the whole
            # vocabulary inside one bitmap word, the per-doc state the
            # dense probe needs — (id, sz, bm) — is a pure PROJECTION:
            # each doc's mask folds its distinct-shingle array through
            # a literal token→bit map built from the driver-side
            # dictionary the regime probe already holds. That removes
            # the explode→dictionary-join→per-doc-groupBy pipeline
            # (two exchanges + a collect_list) whose only dense-path
            # consumer is this mask. Same dictionary, same bits, same
            # sz (|distinct shingles|): groups/jaccard outputs are
            # integer-identical.
            # Docs with NULL text fold to NULL sz and are dropped by the
            # sz>0 filter exactly as their absent enc rows were.
            lookup = F.create_map(
                *[F.lit(x) for kv in tid_of.items() for x in kv]
            )
            staged = fan_out(df).select(
                F.col(id_col).alias("id"),
                shingles(F.col(text_col), shingle_n).alias("__sh"),
            )
            mask = F.aggregate(
                F.col("__sh"),
                F.lit(0).cast("long"),
                lambda acc, s: acc.bitwiseOR(
                    F.call_function(
                        "shiftleft",
                        F.lit(1).cast("long"),
                        (lookup[s] - 1).cast("int"),
                    )
                ),
            )
            per_doc_dense = staged.select(
                "id",
                F.size("__sh").alias("sz"),
                F.array(mask).alias("bm"),
            )
        else:
            per_doc_dense = per_doc
        # Dense-regime probe first: groups is the ONLY consumer of
        # per_doc here, so per_doc needs no cache/eager fill of its own —
        # one action (groups.count) materializes the whole chain. Only
        # the prefix fallback below pays the per_doc checkpoint.
        # the fill plan is scan → (statically-planned broadcast dic
        # join) → groupBy(bm): aggregation-only shuffle, a
        # SCALAR-posture fill
        groups, n_reps = _scalar_fill(
            per_doc_dense.where(F.col("sz") > 0)
            .groupBy("bm")
            .agg(
                F.min("id").alias("gid"),
                F.collect_list("id").alias("members"),
                F.first("sz").alias("sz"),
            )
        )
        if n_reps <= allpairs_rep_cap:
            return _dense_allpairs(
                groups, threshold, emit,
                lambda: _verify_gate(df, broadcast_verify, broadcast_cap),
                nwords=(vocab + 63) // 64,
            )

    # Materialize eagerly: the verify broadcasts below are built on the
    # driver's broadcast threads when the consuming job starts — without
    # an eager fill they'd race the candidate branch to populate the
    # cache and each recompute the encode subtree.
    per_doc = _keep_cache(per_doc)
    per_doc.count()

    # prefix index: a pair with J ≥ t must share one of each side's
    # |s| - ceil(t·|s|) + 1 rarest tokens
    plen = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    inv = per_doc.select(
        "id", "sz", F.explode(F.slice("toks", F.lit(1), plen)).alias("s")
    )
    # length filter: J ≥ t requires t·|a| ≤ |b| and t·|b| ≤ |a|
    length_ok = (F.col("x.sz") * threshold <= F.col("y.sz")) & (
        F.col("y.sz") * threshold <= F.col("x.sz")
    )
    cand = _spread(_salted_pairs(inv, ["s"], sym_cond=length_ok))

    # Verify sides are one narrow row per doc — broadcast them (under the
    # size gate) so the larger candidate set never shuffles again; above
    # the cap AQE plans the join, upgrading to broadcast at runtime when
    # the side proves small. See minhash_lsh_pairs.
    bcast = _verify_gate(df, broadcast_verify, broadcast_cap)
    vcol = "bm" if bitmap else "toks"
    a = _maybe_broadcast(
        per_doc.select(
            F.col("id").alias("id_a"),
            F.col("sz").alias("sz_a"),
            F.col(vcol).alias(f"{vcol}_a"),
        ),
        bcast,
    )
    b = _maybe_broadcast(
        per_doc.select(
            F.col("id").alias("id_b"),
            F.col("sz").alias("sz_b"),
            F.col(vcol).alias(f"{vcol}_b"),
        ),
        bcast,
    )
    if bitmap:
        inter = _bm_intersect("bm_a", "bm_b", (vocab + 63) // 64)
    else:
        inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def simhash_votes(col: Column, bits: int = SIMHASH_BITS) -> Column:
    """array<int> of per-bit majority-vote counters: votes[j] = Σ over the
    document's distinct words of (+1 if bit j of md5_48(word) else -1).
    Single pass over the word array (one md5 + one ±1-vector per word,
    accumulated with zip_with) — vs. ``bits`` separate traversals."""
    ws = F.array_distinct(words(col))

    def _bitvec(h):
        return F.array(
            *[
                F.when(
                    F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
                for j in range(bits)
            ]
        )

    return F.aggregate(
        F.transform(ws, lambda w: _bitvec(h48(w))),
        F.array_repeat(F.lit(0), bits),
        lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
    )


def simhash_from_votes(votes: Column, bits: int = SIMHASH_BITS) -> Column:
    """Signature from vote counters: bit j set iff votes[j] > 0."""
    weights = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    return F.aggregate(
        F.zip_with(
            votes, weights, lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )


def simhash(col: Column, bits: int = SIMHASH_BITS) -> Column:
    """48-bit simhash: bit j of the signature = majority vote of bit j
    across the 48-bit md5 hashes of the document's distinct words.
    Pure integer expression tree — portable to the DuckDB oracle.

    Note: prefer ``simhash_signatures`` on DataFrames — it stages the vote
    array as its own projection so it is evaluated once."""
    return simhash_from_votes(simhash_votes(col, bits), bits)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Fast path: explode(distinct words) → one md5_48 per (doc, word) →
    groupBy with ``bits`` SUM(±1) vote aggregates → fold into the
    signature. Identical values to ``simhash`` (same votes, same
    tie-break) but stays in codegen with map-side partial aggregation —
    the array-fold form interprets ``bits`` array ops per word."""
    tok = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(words(F.col(text_col)))).alias("w"),
    )
    h = tok.select("id", h48(F.col("w")).alias("h"))
    # the per-bit vote aggregates and the signature fold are
    # data-independent — cached per ``bits`` (r14, the minhash
    # treatment): ~5·bits expression nodes ≈ 1.4 s of py4j tree
    # construction per call otherwise
    from .util import _expr_cache_get, _expr_cache_key, _expr_cache_put

    ck = _expr_cache_key("simhash_sig", bits)
    cached = _expr_cache_get(ck)
    if cached is None:
        agg_cols = [
            F.sum(
                F.when(
                    F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
        sig = None
        for j in range(bits):
            term = F.when(
                F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            sig = term if sig is None else sig + term
        cached = (agg_cols, sig.alias("sim"))
        _expr_cache_put(ck, cached)
    agg_cols, sig_col = cached
    votes = h.groupBy("id").agg(*agg_cols)
    return votes.select("id", sig_col)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    allpairs_rep_cap: int = 8192,
    emit: str = "pairs",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """→ [id_a, id_b, hamming ≤ max_hamming] via chunk banding.

    ``emit="spanning"`` returns star edges (gid, member, hamming 0) per
    identical-signature group plus rep-level cross edges instead of the
    full member expansion — connectivity-equivalent, linear in corpus
    size (see minhash_lsh_pairs).

    Pigeonhole: with 4 chunks of 12 bits, any pair within hamming ≤ 3
    agrees exactly on ≥1 chunk — candidates come from equality joins on
    (chunk_idx, chunk_value), so the shuffle is ids + 12-bit ints. A
    pair agreeing on j chunks would be enumerated j times; instead of a
    survivor ``distinct`` (a full extra shuffle of the output-sized
    candidate set) each pair is emitted ONLY from its first agreeing
    chunk — an in-join codegen predicate on the carried signatures
    ("no earlier chunk also agrees"), so every qualifying pair leaves
    the enumeration stage exactly once.

    ``sigs`` optionally supplies a precomputed (id, sim) signature
    frame (persist/checkpoint it if it feeds other consumers too —
    Spark does not share subtrees across a union, so an uncached frame
    would tokenize the corpus once per consumer).

    Docs are first grouped by identical signature (the sketch-level
    canonicalization minhash_lsh_pairs applies): enumeration runs on one
    representative per distinct 48-bit value, identical-signature member
    pairs are emitted directly with hamming 0, and when the distinct
    count D ≤ ``allpairs_rep_cap`` the chunk join is skipped entirely in
    favor of a broadcast nested-loop XOR+popcount over the D reps —
    D²/2 codegen comparisons with no shuffle and no candidate dedup
    (the same dense-regime strategy as ``ngram_jaccard_pairs``). On a
    boilerplate-heavy corpus chunk buckets collapse to a few hot values
    and banding enumerates nearly all pairs through a shuffle anyway —
    the dense path is both exact and strictly cheaper there."""
    if emit not in ("pairs", "spanning"):
        raise ValueError(f"emit must be 'pairs' or 'spanning', got {emit!r}")
    _retire_scope()
    if sigs is None:
        sigs = simhash_signatures(df, text_col, id_col)
    # aggregation-only fill (signatures → groupBy sim)
    groups, n_reps = _scalar_fill(
        sigs.groupBy("sim").agg(
            F.min("id").alias("gid"),
            F.collect_list("id").alias("members"),
        )
    )
    reps = groups.select(F.col("gid").alias("id"), "sim")
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    # The dense path is output-equivalent to banding ONLY inside the
    # pigeonhole-complete regime (max_hamming < chunks). Above it,
    # banding is a deliberate recall filter (candidates must agree on a
    # full chunk) and IS the operator's defined semantics — all-pairs
    # would add pairs banding excludes.
    if max_hamming < chunks and n_reps <= allpairs_rep_cap:
        k = df.sparkSession.sparkContext.defaultParallelism
        a = reps.select(
            F.col("id").alias("id_a"), F.col("sim").alias("sim_a")
        ).repartition(k)
        b = F.broadcast(
            reps.select(F.col("id").alias("id_b"), F.col("sim").alias("sim_b"))
        )
        gpairs = (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", hamming.alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
        )
    else:
        width = SIMHASH_BITS // chunks
        mask = (1 << width) - 1
        chunk_cols = [
            F.struct(
                F.lit(i).alias("c"),
                F.shiftright("sim", i * width)
                .bitwiseAND(F.lit(mask))
                .alias("v"),
            )
            for i in range(chunks)
        ]
        banded = reps.select(
            "id", "sim", F.explode(F.array(*chunk_cols)).alias("ck")
        ).select("id", "sim", F.col("ck.c").alias("c"), F.col("ck.v").alias("v"))
        # The whole signature is one long — carry it through the chunk
        # join, verify hamming inside the enumeration stage (one
        # bit_count per raw pair), and emit each pair only from its
        # FIRST agreeing chunk: for bucket chunk c, require every chunk
        # i < c to disagree. Both signatures are join-local, so the
        # whole dedup is a codegen predicate — no survivor shuffle.
        def _chunk(col, i):
            return F.shiftright(col, i * width).bitwiseAND(F.lit(mask))

        in_join = F.bit_count(
            F.col("x.sim").bitwiseXOR(F.col("y.sim"))
        ) <= F.lit(max_hamming)
        for i in range(chunks - 1):
            earlier_disagrees = (
                _chunk(F.col("x.sim"), i) != _chunk(F.col("y.sim"), i)
            )
            in_join = in_join & (
                (F.lit(i) >= F.col("x.c")) | earlier_disagrees
            )
        raw = _salted_pairs(
            banded, ["c", "v"], sym_cond=in_join, carry=("sim",),
            distinct=False,
        )
        gpairs = raw.select("id_a", "id_b", hamming.alias("hamming"))
    # identical signatures: hamming is exactly 0
    return _expand_groups(
        gpairs, groups, F.lit(0).cast("int"), emit,
        lambda: _verify_gate(df),
    )


# ---------------------------------------------------------------------------
# near-dup clusters → corpus-level dedup
# ---------------------------------------------------------------------------

def _union_find_local(edges: DataFrame, id_type, rows=None) -> DataFrame:
    """[id, component] by driver-side min-root union-find over a
    metadata-sized (u, v) edge frame — the small-graph fast path of
    ``connected_components`` (callers gate on the edge count first;
    they pass the rows their ``take``-based gate already pulled so the
    fast path costs ONE job, not a count + a collect — r12 probe-floor
    fold). Min-root union: the smaller root adopts the larger, so every
    root stays the MIN of its merged set and the final label equals the
    distributed loop's min-reachable-id exactly."""
    from pyspark.sql import types as T

    from .util import MinRootUnionFind

    uf = MinRootUnionFind()
    if rows is None:
        rows = edges.collect()
    for r in rows:
        uf.union(r["u"], r["v"])
    schema = T.StructType(
        [
            T.StructField("id", id_type, False),
            T.StructField("component", id_type, False),
        ]
    )
    spark = edges.sparkSession
    # LocalRelation (r15): this frame feeds keeper joins / anti-joins
    # in every small-graph caller — as a parallelize-backed scan each
    # consumer's broadcast build paid a job + codegen compile
    return local_rows_df(
        spark, [(x, uf.find(x)) for x in uf.parent], schema
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    release_batch: int = 8,
    stats: dict | None = None,
    small_graph_threshold: int = 20_000,
) -> DataFrame:
    """→ [id, component]: connected components over an undirected pair
    edge list, component = MIN reachable id (the canonical-doc choice
    every dedup pipeline makes). Pass a dict as ``stats`` to receive
    convergence observability (``rounds``, per-round wall seconds) —
    metadata-sized, no extra jobs beyond the per-round ``changed``
    probe the loop already runs. Pair operators emit *pairs*; an actual
    corpus dedup needs the transitive closure — A~B, B~C must collapse
    A, B, C together even though (A, C) was never emitted.

    Algorithm: iterative min-label propagation with **pointer doubling**
    — each round every node takes the min label over itself and its
    neighbors, then shortcuts through its label's own label
    (label[x] ← label[label[x]]). The shortcut halves every label
    chain, so rounds are O(log diameter), not O(diameter): a
    million-node chain converges in ~20 rounds instead of a million
    (the same guarantee the alternating small-star/large-star algorithm
    of Kiveris et al., SoCC'14, gives, at one extra narrow join per
    round). Per round: one groupBy + one self-join over (id, label)
    pairs — longs/strings only, never documents. Labels are
    ``localCheckpoint``-ed every round: without the lineage cut, round k
    re-executes all k-1 predecessors and the plan grows quadratically
    (the classic iterative-algorithm-on-Spark failure).

    Raises ``RuntimeError`` if ``max_iterations`` rounds don't converge
    — a silently-partial clustering would dedup incorrectly downstream,
    and with doubling 25 rounds cover graphs of diameter ~2²⁵.

    SMALL-GRAPH FAST PATH: edge sets at or under
    ``small_graph_threshold`` rows (decided by one bounded take over
    the edge checkpoint, which also delivers the rows) are
    solved by a driver-side min-root union-find instead of the
    distributed loop. The distributed loop costs ~0.5 s of fixed job
    overhead PER ROUND regardless of size — for the metadata-sized
    graphs SemDeDup's cluster-scoped pairs or an incremental delta
    produce (tens to thousands of edges), that overhead is 10-50× the
    work. Result is identical by construction: min-root union keeps
    every root the MIN of its merged set (Python str comparison is
    code-point order == Spark's UTF-8 binary order, and UTF-8 preserves
    code-point order), so component = MIN reachable id on both paths
    (parity-tested). ``max_iterations`` does not apply on this path —
    union-find has no convergence budget. Pass
    ``small_graph_threshold=0`` to force the distributed loop."""
    # ids keep their native type: MIN as canonical choice must follow the
    # id column's own ordering (a string cast would pick '100' over '2')
    # Checkpoint BEFORE the symmetric union: both union branches read
    # ``edges``, and without the lineage cut each one re-executes the
    # whole upstream pair computation (for the exact near-dup graph
    # that's the scored crossJoin — observed 3× its cost at sf0.1).
    # DISK_ONLY: the edge set is *output*-sized (O(candidate pairs), not
    # O(corpus)) and a near-clique graph makes it quadratic in the dup
    # cluster size. The default MEMORY_AND_DISK level unrolls each block
    # as a row array in heap before deciding to spill — at 559M edges
    # (10x rehearsal corpus) 32 concurrent ~2 GB unrolls killed the JVM
    # with GCLocker exhaustion. DISK_ONLY streams blocks through the
    # serializer with no unroll; the O(rounds) sequential re-reads are
    # cheap next to the per-round shuffles. Label frames below stay at
    # the default level — they are node-count-sized and skinny.
    from pyspark import StorageLevel

    edges, edges_h = tracked_checkpoint(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct(),
        storage_level=StorageLevel.DISK_ONLY,
    )
    if small_graph_threshold:
        # ONE bounded take decides the gate AND (when small) delivers
        # the edge rows, replacing a count job + full collect job on a
        # small graph (r12 probe-floor fold).
        head = take_upto(edges, small_graph_threshold)
        if head is not None:
            out = _union_find_local(
                edges, pairs.schema[id_a].dataType, rows=head
            )
            if stats is not None:
                stats["rounds"] = 0
                stats["round_wall_s"] = []
                stats["small_graph"] = True
            release_all([edges_h])
            return out
    # undirected: propagate both ways (narrow union over the checkpoint —
    # cheap to recompute per round, no second materialization needed)
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels, labels_h = tracked_checkpoint(
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    # Superseded label checkpoints are dead weight the moment the next
    # round's ``changed`` is computed, but releasing them one-by-one
    # costs a getPersistentRDDs JVM round-trip INSIDE the convergence
    # loop (measured +29% cold q61 in the round-5 driver bench). Batch
    # them: up to ``release_batch`` node-sized (id, component) label
    # frames live concurrently, and one release_all call frees the
    # whole batch. TRADEOFF: each pending frame pins MEMORY_AND_DISK
    # blocks ~ one long pair per node, so on memory-tight executors the
    # batch competes with other cached frames — the per-round saving is
    # a single driver round-trip, so release_batch=2..4 captures most
    # of the win at a quarter of the peak pin (pass it down from
    # ``dedup_corpus`` for constrained deployments).
    superseded: list = []
    _BATCH = max(1, release_batch)
    round_walls: list[float] = []
    if stats is not None:
        stats["rounds"] = 0
        stats["round_wall_s"] = round_walls
        # key is present on BOTH paths so callers can branch on it
        stats["small_graph"] = False
    for _ in range(max_iterations):
        _t0 = time.perf_counter()
        # min over self + neighbor labels
        nbr = (
            sym.join(labels, sym["v"] == labels["id"])
            .select(F.col("u").alias("id"), "component")
        )
        stepped = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer doubling: follow the label's own label (left join —
        # a component root's label is itself and has a row, but keep
        # the coalesce for safety under partial label frames)
        hop = stepped.select(
            F.col("id").alias("__lid"), F.col("component").alias("__lc")
        )
        new_labels, new_h = tracked_checkpoint(
            stepped.join(
                hop, stepped["component"] == hop["__lid"], "left"
            )
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("__lc"), F.col("component")),
                ).alias("component"),
            )
        )
        changed = has_rows(
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.component") != F.col("o.component"))
        )
        # the superseded round's label blocks are dead weight the moment
        # ``changed`` is computed — O(rounds) un-freed node-sized frames
        # otherwise sit in the block manager until JVM GC (the round-4
        # driver bench measured the accumulation as a 7x warm-run q61)
        superseded.append(labels_h)
        if len(superseded) >= _BATCH:
            release_all(superseded)
            superseded.clear()
        labels, labels_h = new_labels, new_h
        round_walls.append(round(time.perf_counter() - _t0, 2))
        if stats is not None:
            stats["rounds"] += 1
        if not changed:
            superseded.append(edges_h)
            release_all(superseded)
            return labels
    superseded.append(edges_h)
    release_all(superseded)
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "rounds — graph diameter exceeds 2^rounds; raise max_iterations"
    )


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "minhash",
    threshold: float = 0.8,
    keep: str = "min_id",
    keep_col: str | None = None,
    release_batch: int = 8,
    cc_stats: dict | None = None,
    **kwargs,
) -> DataFrame:
    """End-to-end corpus dedup: near-dup pairs → connected components →
    keep ONE canonical doc per cluster. Returns the surviving rows of
    ``df`` (all original columns).

    ``method``: 'exact' (md5 fingerprint groups — no pair stage),
    'minhash' (LSH, ``jaccard_threshold``=threshold), 'ngram'
    (exact Jaccard), or 'simhash' (``max_hamming`` via kwargs).

    ``keep`` picks the canonical survivor per duplicate cluster:

    - ``"min_id"`` (default): the minimum id — cheap (for pair methods
      the component label IS the min id, no extra pass) and stable
      under re-runs.
    - ``"max"`` / ``"min"``: the member with the largest / smallest
      ``keep_col`` (ties → min id; NULL scores lose) — what real
      curation pipelines want: keep the longest / highest-quality copy
      of each near-dup cluster, e.g.
      ``keep="max", keep_col="quality_score"``. Costs one extra
      ids+score shuffle: a per-component window over (score, id) rows —
      never documents.

    Scale shape: pairs and components shuffle only ids; the final keep
    is a broadcast-gated anti-join of the (small) non-canonical id set
    against the corpus — documents move exactly once, at the end. The
    pair stage runs with ``emit="spanning"`` — the clustering only
    needs connectivity, so identical-content groups contribute O(size)
    star edges instead of O(size²) clique edges (at the 10× rehearsal
    corpus that is the difference between feeding CC 559.6 M and 3.0 M
    edges — end-to-end 25 s vs 540 s for the CC stage alone;
    BENCH_NOTES.md).

    ``release_batch`` forwards to ``connected_components``: how many
    superseded per-round label checkpoints may stay pinned before one
    batched release (8 = fewest driver round-trips; 2-4 for
    memory-tight executors — see the tradeoff note there)."""
    if keep not in ("min_id", "max", "min"):
        raise ValueError(
            f"keep must be 'min_id', 'max' or 'min', got {keep!r}"
        )
    if keep != "min_id" and keep_col is None:
        raise ValueError(f"keep={keep!r} requires keep_col")

    def _best_losers(grouped: DataFrame) -> DataFrame:
        """[__lid]: non-keepers of each cluster under the keep_col
        policy. ``grouped`` is (__grp, id) — component labels or
        fingerprint groups; only ids and scores shuffle."""
        scored = grouped.join(
            df.select(
                F.col(id_col).alias("id"),
                F.col(keep_col).alias("__score"),
            ),
            "id",
        )
        order = (
            F.desc_nulls_last("__score")
            if keep == "max"
            else F.asc_nulls_last("__score")
        )
        w = Window.partitionBy("__grp").orderBy(order, F.asc("id"))
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") > 1)
            .select(F.col("id").alias("__lid"))
        )

    if method == "exact":
        if keep == "min_id":
            canon = exact_dedup(df, text_col, id_col).where("is_canonical")
            keep_ids = canon.select(F.col(id_col).alias("__kid"))
            return df.join(
                keep_ids, F.col(id_col) == F.col("__kid"), "left_semi"
            )
        grouped = df.select(
            fingerprint(F.col(text_col)).alias("__grp"),
            F.col(id_col).alias("id"),
        )
        return df.join(
            _filled_gate(_best_losers(grouped)),
            F.col(id_col) == F.col("__lid"), "left_anti",
        )
    kwargs.setdefault("emit", "spanning")
    if method == "minhash":
        pairs = minhash_lsh_pairs(
            df, text_col, id_col, jaccard_threshold=threshold, **kwargs
        )
    elif method == "ngram":
        pairs = ngram_jaccard_pairs(
            df, text_col, id_col, threshold=threshold, **kwargs
        )
    elif method == "simhash":
        pairs = simhash_pairs(df, text_col, id_col, **kwargs)
    else:
        raise ValueError(f"unknown dedup method: {method!r}")
    stats = cc_stats if cc_stats is not None else {}
    comp = connected_components(
        pairs, release_batch=release_batch, stats=stats
    )
    if keep == "min_id":
        # drop every clustered doc that is not its component's minimum
        losers = comp.where(F.col("id") != F.col("component")).select(
            F.col("id").alias("__lid")
        )
    else:
        losers = _best_losers(
            comp.select(F.col("component").alias("__grp"), "id")
        )
    if stats.get("small_graph"):
        # CC took the driver union-find path, so ``comp`` is a local
        # relation bounded by 2·small_graph_threshold rows — orders of
        # magnitude under the broadcast cap. Skipping the count gate
        # here removes a full execution of the losers subtree (for
        # keep_col policies that is a corpus-scan + window job paid
        # purely to learn a size we already know).
        losers = F.broadcast(losers)
    elif keep == "min_id":
        # a filter over CC's label checkpoint: cheap to run twice
        losers = _maybe_broadcast(losers, _verify_gate(losers))
    else:
        losers = _filled_gate(losers)
    return df.join(losers, F.col(id_col) == F.col("__lid"), "left_anti")


# ---------------------------------------------------------------------------
# cross-corpus decontamination (train/test n-gram overlap)
# ---------------------------------------------------------------------------

def contamination_check(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    min_hits: int = 1,
    broadcast_reference: bool | None = None,
) -> DataFrame:
    """→ [id, n_hits]: corpus docs sharing ≥``min_hits`` distinct
    ``ngram``-grams with ANY reference doc — the train/test
    decontamination sweep every eval-honest training pipeline runs
    (8-gram overlap is the GPT-3/Pile convention). Join the survivors
    back with ``left_anti`` to drop them.

    Scale shape: both sides reduce to DISTINCT 64-bit n-gram hashes
    (never strings) — the reference side (an eval set, typically ≪
    corpus) is broadcast by default, so the corpus-side gram stream is
    probed map-side with NO shuffle of corpus data; the only shuffle is
    the per-doc hit count (id, n_hits). With ``broadcast_reference=
    False`` (a reference too big to broadcast) it degrades to a
    shuffle semi-join on the gram hash. Short docs (< ngram tokens)
    produce no grams and can never be flagged — by design, matching the
    convention."""
    def grams(df, idc):
        toks = words(F.col(text_col))
        n_tok = F.size(toks)
        # sequence(1, 0) DESCENDS (auto step -1) — short docs must yield
        # an empty index array, not indices [1, 0]
        idx = F.when(
            n_tok >= ngram, F.sequence(F.lit(1), n_tok - ngram + 1)
        ).otherwise(F.array().cast("array<int>"))
        g = F.explode(
            F.transform(
                idx,
                lambda i: h48(
                    F.concat_ws(" ", F.slice(toks, i, F.lit(ngram)))
                ),
            )
        )
        return df.select(F.col(idc).alias("__cid"), g.alias("__g"))

    ref_grams = grams(reference, id_col).select("__g").distinct()
    if broadcast_reference is None or broadcast_reference:
        ref_grams = F.broadcast(ref_grams)
    # Per-doc distinctness moves AFTER the semi-join: the probe filters
    # map-side against the broadcast gram set, so only MATCHING gram
    # occurrences reach a shuffle (count_distinct), instead of
    # distinct-ing the corpus's entire exploded gram stream first
    # (an O(total grams) exchange for an output that only needs the
    # rare hits — measured 4.6 s → the semi-join-first shape at sf0.1).
    # fan_out: the gram hashing is CPU-bound per row and a small file
    # count must not bound parallelism (same posture as the tokenizing
    # operators above)
    hits = (
        grams(fan_out(corpus), id_col)
        .join(ref_grams, "__g", "left_semi")
        .groupBy("__cid")
        .agg(F.count_distinct("__g").alias("n_hits"))
        .where(F.col("n_hits") >= min_hits)
        .select(F.col("__cid").alias("id"), "n_hits")
    )
    return hits


def decontaminate(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    min_hits: int = 1,
    **kwargs,
) -> DataFrame:
    """Drop every corpus row flagged by :func:`contamination_check`;
    returns the clean corpus with all original columns. The flagged-id
    set is contamination-sized (small), so the final anti-join
    broadcasts under the usual gate."""
    flagged = _filled_gate(
        contamination_check(
            corpus, reference, text_col, id_col, ngram, min_hits, **kwargs
        ).select(F.col("id").alias("__bad"))
    )
    return corpus.join(
        flagged, F.col(id_col) == F.col("__bad"), "left_anti"
    )
