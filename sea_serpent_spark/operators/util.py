"""Partitioning helpers shared by the pair-generating operators.

Local-mode scans of small files arrive as one split and AQE sizes stages
by their *inputs*, so compute-heavy or expansive operators need explicit
fan-out to use the cluster. At real scale inputs have thousands of splits
and these become no-ops / cheap narrow shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .lifetime import (  # noqa: F401  (re-exported for the call sites)
    _chain_scopes,
    _sweep,
    release_all,
    tracked_checkpoint,
)

#: The quiesce sweep under its pre-merge name: frees every persisted
#: frame and checkpoint in every lifetime scope.
release_checkpoints = _sweep


#: Session conf key overriding the operators' fan-out width. Default
#: (unset) is ``defaultParallelism`` — right for corpus-sized inputs.
#: A streaming micro-batch of a few hundred rows gains nothing from a
#: 32-way spread but pays 32 task launches PER STAGE of fixed
#: scheduler latency, which multiplied by a probe's ~30 jobs IS the
#: per-batch floor (r12 q69 decomposition) — so the ingest sink sets
#: this for the duration of each batch (``incremental_dedup_sink``'s
#: ``batch_parallelism``), exactly the per-trigger parallelism tuning
#: a real cluster deployment does.
FANOUT_CONF = "spark.sea_serpent.fanout.parallelism"


def _fanout_target(df: DataFrame) -> int:
    spark = df.sparkSession
    v = spark.conf.get(FANOUT_CONF, None)
    if v:
        try:
            return max(1, int(v))
        except ValueError:
            pass
    return spark.sparkContext.defaultParallelism


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition iff the input has fewer partitions than the target.

    CPU-heavy per-row operators (hashing, shingling, vector math) are
    otherwise bound by scan parallelism — a single small parquet file is
    one split, so on local[32] the whole operator would run on one core."""
    target = min_parts or _fanout_target(df)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def spread(df: DataFrame) -> DataFrame:
    """Unconditional round-robin repartition to the fan-out target.

    For candidate-pair sets before a verify join: candidate generation is
    *expansive*, and AQE sizes the enumerate stage by its (tiny) input,
    so the expensive verification would otherwise run in one or two
    tasks. An explicit repartition (which AQE honors) moves only narrow
    id-pairs and parallelizes the verify."""
    return df.repartition(_fanout_target(df))


#: r14 plan-construction cache for data-independent Column trees (the
#: quantizer-literal argmax in similarity.ivf_assign, the probe
#: selection in ann_index.ivf_probes, the band-struct array in
#: dedup.banded_signatures): building these costs tens-to-hundreds of
#: py4j round-trips plus their incremental Catalyst analysis — a fixed
#: per-call tax the streaming ingest loops paid EVERY micro-batch for
#: expressions that cannot change between batches. Columns are
#: immutable expression handles (unresolved attribute refs), safe to
#: reuse across plans; keys carry the expression's full content plus
#: the Spark application id, so a session restart can never serve dead
#: JVM handles.
_EXPR_CACHE: dict = {}
_EXPR_CACHE_MAX = 64


def _expr_cache_key(*parts) -> tuple | None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    return (sc.applicationId,) + parts


def _expr_cache_get(key):
    return _EXPR_CACHE.get(key) if key is not None else None


def _expr_cache_put(key, value) -> None:
    if key is None:
        return
    if len(_EXPR_CACHE) >= _EXPR_CACHE_MAX:
        _EXPR_CACHE.clear()
    _EXPR_CACHE[key] = value


def _quantizer_key(x):
    """Content fingerprint of a centroid / codebook nest — tuples of
    floats hash fast, and two sidecar reloads of the same generation
    produce equal keys even though the list objects differ."""
    if isinstance(x, (list, tuple)):
        return tuple(_quantizer_key(v) for v in x)
    return float(x)


#: Plan postures: the conf sets :func:`posture` applies to one action's
#: session clone. ``SCALAR`` turns AQE off. AQE materializes every
#: exchange as its own Spark job to re-plan with runtime stats; for a
#: scalar/metadata-sized aggregate (count, sum, group-cardinality
#: collect) partial aggregation has already shrunk each partition to a
#: few narrow rows, so that re-plan buys nothing and each exchange
#: still costs a driver job (measured r14: each 2-3-job wave becomes
#: one job). The shuffle width stays the session's, so it is safe over
#: corpus-sized inputs. Do NOT use it when the plan carries joins whose
#: strategy AQE should pick at runtime.
SCALAR = {"spark.sql.adaptive.enabled": "false"}

#: Optimizer rules a posture turns off. :func:`posture` appends to the
#: session's own list instead of replacing it.
EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"

#: ``take()`` scans 64 partitions in its FIRST job. ``executeTake``'s
#: default scale-up (1 partition, then 4x per retry) suits LIMIT over a
#: big scan; a capped probe collect over a handful of post-shuffle
#: partitions that are ALL needed pays 2-4 retry jobs of scheduler
#: latency per take (r14 audit: 8 of the LSH probe's 12 per-batch jobs).
#: 64 one-shots every trigger-sized frame and bounds a cap-overflow
#: take's overscan to one pass.
#:
#: It also excludes ``LimitPushDown``. That rule puts a ``LocalLimit``
#: into each branch of a union under the take, and Spark names each
#: limit's counter from a JVM-global sequence (``_limit_counter_N``), so
#: every such take generated new source and missed the codegen cache.
#: Results cannot change, because ``executeTake`` already stops each
#: partition at n rows.
ONE_SHOT_TAKE = {
    "spark.sql.limit.initialNumPartitions": "64",
    EXCLUDED_RULES: "org.apache.spark.sql.catalyst.optimizer.LimitPushDown",
}


def take_upto(df: DataFrame, cap: int) -> list | None:
    """The ONE size gate: → ``df``'s rows when it has at most ``cap``,
    else None. One ``take(cap + 1)`` in the ``ONE_SHOT_TAKE`` posture
    both decides "small enough to finish on the driver?" and, when it
    is, delivers the rows, so no gate pays a count job before its
    collect. A caller that caches ``df`` registers the cache in the
    posture it takes in (``persist()`` compiles under its session's
    conf) and passes the posture frame."""
    rows = posture(df, ONE_SHOT_TAKE).take(cap + 1)
    return rows if len(rows) <= cap else None


def has_rows(df: DataFrame) -> bool:
    """Existence probe: one ``take(1)`` job that stops each partition
    at its first row, with no limit operator."""
    return take_upto(df, 0) is None


def micro(parts: int) -> dict:
    """AQE off + a narrow static shuffle width: the posture for plans
    the caller has already bounded to micro size (a single-bucket
    commit, a trigger-sized stream batch). Callers whose data CAN be
    large must size-gate first."""
    return {**SCALAR, "spark.sql.shuffle.partitions": str(int(parts))}


def rebind(df: DataFrame, spark) -> DataFrame:
    """``df``'s ANALYZED plan as a frame of ``spark``. The analyzed plan,
    not the logical one: a temp view created after a clone does not
    exist in it, and an analyzed plan needs no catalog lookup. Persisted
    and checkpointed data is shared across sessions, so the rebound
    frame reads the same cache and checkpoint blocks."""
    if df.sparkSession is spark:
        return df
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.queryExecution().analyzed()
    )
    return DataFrame(jdf, spark)


def posture(df: DataFrame, confs: dict = SCALAR) -> DataFrame:
    """``df`` rebound into a clone of its session with ``confs`` set.

    The ONE plan-posture mechanism: each action that wants a different
    plan shape (``SCALAR``, ``micro(parts)``, ``ONE_SHOT_TAKE``) runs on
    its own clone (about 6 ms of py4j round trips on a 4-core box,
    clone included), so the parent session's conf is never
    written. Concurrent threads, ``overlap_build`` sibling chains and
    streaming queries keep planning under their own conf, and no lock or
    restore step exists. The clone inherits the parent's confs,
    registered query listeners, temp views and UDFs. Results never
    depend on posture, only plans and job counts do.

    Frames that outlive the action must go back through :func:`rebind`
    to the caller's session, so downstream plans do not inherit the
    posture."""
    parent = df.sparkSession
    clone = SparkSession(
        parent.sparkContext, parent._jsparkSession.cloneSession()
    )
    for k, v in confs.items():
        if k == EXCLUDED_RULES:
            held = clone.conf.get(k, None)
            if held:
                v = f"{held},{v}"
        clone.conf.set(k, v)
    return rebind(df, clone)


def overlap_build(*thunks, workers: int = 3) -> list:
    """Run independent member-builder thunks concurrently and return
    their results in SUBMISSION order (guide §2.6: Spark happily runs
    several jobs at once inside one application; member chains that
    only share read-only inputs are sequential purely because driver
    code calls their eager actions — checkpoint fills, sizing
    collects — back to back). Wall becomes the max chain instead of
    the sum. 2-3 workers is plenty: enough to fill each chain's
    driver-latency gaps with another chain's tasks, not so many that
    they fight for executors. Results must be order-insensitive by
    construction (each thunk a pure function of its inputs —
    deterministic frames/checkpoints); the caller assembles them in
    the same fixed order as the sequential formulation, so the output
    plan is identical. Exceptions re-raise at collection, preserving
    the sequential error surface. A chain's :func:`posture` actions
    plan on their own session clones, so sibling chains keep the
    session's steady-state conf. Each chain also keeps its persisted
    frames in its own lifetime scope, so a sibling's operator-entry
    retire cannot drop them mid-build; once every chain is done, the
    caller's scope takes them over and retires them at its next
    boundary."""
    from concurrent.futures import ThreadPoolExecutor

    with _chain_scopes() as chain, ThreadPoolExecutor(
        max_workers=workers
    ) as pool:
        futs = [pool.submit(chain(t)) for t in thunks]
        return [f.result() for f in futs]


#: local_rows_df falls back to createDataFrame past this many CELLS:
#: the one-statement SQL text stays driver-cheap into the thousands of
#: cells (~µs/cell of string building + one JVM parse), but the whole
#: relation lives in the PLAN — caps at a size where plan bloat and
#: broadcast re-serialization stay trivially bounded.
_LOCAL_ROWS_CELL_CAP = 4096


def _sql_lit(v) -> str:
    """One value → a Spark SQL literal, exactly round-trippable under
    the per-column CAST local_rows_df wraps around it. Floats go
    through a STRING cast (Java ``Double.parseDouble`` of Python's
    shortest ``repr`` reproduces the exact IEEE754 double — and it
    covers Infinity/NaN); strings escape backslash + quote (the only
    escapes Spark's default string literal needs)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        r = repr(v)
        r = {"inf": "Infinity", "-inf": "-Infinity", "nan": "NaN"}.get(
            r, r
        )
        return f"CAST('{r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (list, tuple)):
        return "ARRAY(" + ",".join(_sql_lit(x) for x in v) + ")"
    raise TypeError(
        f"local_rows_df cannot inline a {type(v).__name__} literal"
    )


def _normalizer(dt):
    """→ a value fixer for data type ``dt``, or None when values pass
    as they are. An int in a fractional column becomes a float: the
    VALUES path would CAST it anyway, while createDataFrame's schema
    verifier rejects it."""
    from pyspark.sql import types as _T

    if isinstance(dt, (_T.DoubleType, _T.FloatType)):
        return lambda v: float(v) if isinstance(v, int) else v
    if isinstance(dt, _T.ArrayType):
        inner = _normalizer(dt.elementType)
        if inner is not None:
            return lambda v: (
                [inner(x) for x in v] if isinstance(v, (list, tuple)) else v
            )
    return None


def local_rows_df(spark, rows, schema: str):
    """Literal LocalRelation frame (r15). ``spark.createDataFrame``
    over a Python list parallelizes it into an RDD-backed scan
    (``LogicalRDD``) of ``defaultParallelism`` slices of pickled rows.
    A VALUES relation folds to a ``LocalTableScan`` instead, whose
    scan has one task per row up to that parallelism. A BROADCAST
    build over either form still runs its own Spark job: a 5-row
    broadcast join collects in 2 jobs both ways (at a default
    parallelism of 32: 5 and 32 tasks local, 32 and 32 parallelized;
    at 4: 4 and 4 both ways). So the local form saves the
    parallelized scan's surplus slices and pickled-row decoding, not a
    job.

    Values are INLINED as SQL literals in one statement — one py4j
    round trip total (the named-parameter form measured ~5 ms/cell of
    per-arg py4j traffic); strings are escaped, floats round-trip
    exactly through a string cast, and every column is cast to its
    declared type, so the result schema and values are identical to
    the ``createDataFrame(rows, schema)`` twin. ``schema`` is the DDL
    string form (columns nullable, as createDataFrame infers for
    list-of-rows input) or a ``StructType`` (declared nullability
    honored — values for non-nullable fields must be non-NULL). Use
    for SMALL literal tables only (rule snapshots, driver-computed id
    lists, probe batches, single-row tags): the whole relation lives
    in the plan and on the driver.

    One input contract on both sides of the cell cap: values are
    normalized against the schema once, before the size branch, and
    rows holding a value with no SQL literal form (date, datetime,
    Decimal, bytes) take the ``createDataFrame`` path at any size."""
    from pyspark.sql import types as _T

    fields = (
        _T._parse_datatype_string(schema)
        if isinstance(schema, str)
        else schema
    )
    fixers = [_normalizer(f.dataType) for f in fields]
    if any(fixers):
        rows = [
            tuple(v if fx is None else fx(v) for fx, v in zip(fixers, row))
            for row in rows
        ]
    cells = sum(
        len(v) if isinstance(v, (list, tuple)) else 1
        for row in rows
        for v in row
    )
    if not rows:
        return spark.createDataFrame(rows, schema)
    tuples = None
    if cells <= _LOCAL_ROWS_CELL_CAP:
        try:
            tuples = [
                "(" + ",".join(_sql_lit(v) for v in row) + ")"
                for row in rows
            ]
        except TypeError:
            pass  # no literal form for some value: createDataFrame
    if tuples is None:
        # parallelize with FEW slices. createDataFrame(list) defaults
        # to defaultParallelism (32) slices, and every consuming job
        # pays ~130 ms of Python-runner overhead PER SLICE (measured
        # r15 — a 1700-row 32-slice frame cost ~4 s per write/scan); a
        # handful of slices keeps the conversion parallel enough at
        # this size with ~100× less runner overhead.
        n_slices = max(1, min(8, cells // _LOCAL_ROWS_CELL_CAP))
        rdd = spark.sparkContext.parallelize(list(rows), n_slices)
        return spark.createDataFrame(rdd, schema)
    raw_cols = ", ".join(f"c{j}" for j in range(len(fields)))
    # IF(TRUE, c, NULL) makes a column NULLABLE in the ANALYZED plan
    # (which is what df.schema reports — exact createDataFrame parity,
    # whose list-of-rows columns are always nullable); the optimizer
    # folds the IF away, so the executed plan is still a bare
    # LocalRelation. Non-nullable StructType fields skip the wrapper
    # (their non-NULL literals already infer non-null).
    proj = ", ".join(
        (
            "IF(TRUE, CAST(c{j} AS {t}), CAST(NULL AS {t})) AS `{n}`"
            if f.nullable
            else "CAST(c{j} AS {t}) AS `{n}`"
        ).format(j=j, t=f.dataType.simpleString(), n=f.name)
        for j, f in enumerate(fields)
    )
    return spark.sql(
        f"SELECT {proj} FROM VALUES {', '.join(tuples)} "
        f"AS t({raw_cols})"
    )


class MinRootUnionFind:
    """Driver-side union-find whose every root is the MIN of its merged
    set — the canonical-doc choice ``connected_components`` makes, so
    local fast paths agree bit-for-bit with the distributed loop
    (Python int/str ordering == Spark's: UTF-8 binary order is
    code-point order). Shared by the three local probes (r14 — they
    each hand-rolled this; one copy keeps the canonical-order contract
    in one place)."""

    def __init__(self) -> None:
        self.parent: dict = {}

    def find(self, x):
        p = self.parent
        while p.setdefault(x, x) != x:
            p[x] = p[p[x]]  # path halving
            x = p[x]
        return x

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            self.parent[rb] = ra

    def components(self) -> dict:
        """→ {root: [members]} over every node ever seen."""
        out: dict = {}
        for n in self.parent:
            out.setdefault(self.find(n), []).append(n)
        return out
