"""Structured Streaming over the events table + op-log CDC.

Beyond-reference extension (SURVEY §2.7: the reference has **no** streaming;
its closest analogue is the activity-log pagination poller,
base.py:1082-1128). Spark-first equivalents:

- event streams: ``readStream`` over a parquet directory with watermarked
  tumbling / sliding / session windows — late data handled by
  ``withWatermark``, not client-side pagination;
- change-data-capture: the mutation store's cell-level ``_oplog`` parquet
  directory is itself streamable — the Delta Change Data Feed pattern on
  a plain-parquet substrate.

Scale posture: streaming aggregations are keyed by (window, type) — state
store size is bounded by watermark horizon × key cardinality, not input
volume; file sources scale by listing parallelism (maxFilesPerTrigger
controls micro-batch size under backpressure).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

def read_events_stream(spark: SparkSession, sf_dir: str,
                       glob: str = "events.parquet") -> DataFrame:
    """readStream over the events parquet file(s); normalize ``ts``.

    FileStreamSource requires an explicit schema, and ``events.ts`` has
    shipped as both raw int64 nanos (nanosAsLong) and native
    TIMESTAMP(MICROS): resolve the actual schema with a footer-only batch
    read of the same path, then convert whichever ``ts`` encoding arrived
    to a TIMESTAMP.  ``sf_dir`` must be a directory (FileStreamSource
    requirement); the glob filter selects the events file(s) within it.

    The nanosAsLong conf is (re)set before the schema probe: on a
    driver-created session without it, a TIMESTAMP(NANOS) events file
    fails the footer schema read itself — the LongType dispatch below
    never gets a chance."""
    from ..workload import ensure_nanos_readable

    ensure_nanos_readable(spark)
    schema = (
        spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .option("pathGlobFilter", glob)
        .parquet(sf_dir)
    )
    # Event time must be TIMESTAMP (LTZ) — watermarks reject NTZ. Build
    # the LTZ from epoch micros so its instant EQUALS the data's naive-UTC
    # wall time regardless of session timezone (``cast("timestamp")`` on
    # NTZ would interpret values in the session zone instead); window
    # boundaries convert back to NTZ on output (`_ntz_out`).
    from ..workload import epoch_us_from_ntz

    dt = schema["ts"].dataType
    if isinstance(dt, T.LongType):
        us = (F.col("ts") / 1000).cast("long")
    elif isinstance(dt, T.TimestampNTZType):
        us = epoch_us_from_ntz(F.col("ts"))
    else:  # already TIMESTAMP (LTZ)
        us = F.unix_micros(F.col("ts"))
    return raw.withColumn("ts", F.timestamp_micros(us))


def _ntz_out(events: DataFrame, col) -> "F.Column":
    """Convert a window-boundary column back to UTC-naive NTZ, session-TZ
    independently. When the input frame's ``ts`` is already NTZ (the
    batch-parity path) the boundary is NTZ too — returned as-is."""
    from ..workload import ntz_from_epoch_us

    if isinstance(events.schema["ts"].dataType, T.TimestampNTZType):
        return col
    return ntz_from_epoch_us(F.unix_micros(col))


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window count/sum per event_type with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            _ntz_out(events, F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            _ntz_out(events, F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user (F.session_window — stateful, the
    streaming twin of workload_ext.q44_sessionize)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            _ntz_out(events, F.col("w.start")).alias("session_start"),
            _ntz_out(events, F.col("w.end")).alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


STATE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)
STATE_SCHEMA = "n BIGINT, s DOUBLE"


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum) maintained in the state store across
    micro-batches, emitted after each update.

    Beyond-reference extension (the reference has no streaming, SURVEY
    §2.7); this is the harness for arbitrary per-key streaming state —
    sessionization with custom close rules, rate limiting, online
    feature accumulation. Scale posture: state is one (long, double) per
    user; the shuffle is keyed by user_id and the state store is
    partitioned the same way, so throughput scales with executors.

    The cumulative totals after draining all input equal the batch
    ``GROUP BY user_id`` — use ``final_user_totals`` to extract them
    (that equivalence is the oracle check)."""
    import pandas as pd  # noqa: F401  (required by the UDF runtime)

    def update(key, pdfs, state):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += int(len(pdf))
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=STATE_OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def final_user_totals(drained: DataFrame) -> DataFrame:
    """Reduce per-batch emissions to each user's final totals.

    ``n_events`` is nondecreasing per user, so the row with the maximal
    (n_events, sum_value) struct is the last state emission — robust to
    any micro-batch split of the input."""
    return (
        drained.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("m"))
        .select(
            "user_id",
            F.col("m.n_events").alias("n_events"),
            F.round(F.col("m.sum_value"), 2).alias("sum_value"),
        )
    )


def read_documents_stream(spark: SparkSession, sf_dir: str,
                          glob: str = "documents.parquet") -> DataFrame:
    """readStream over the documents parquet file(s) — the ingest shape
    of a streaming corpus pipeline (each micro-batch = a shard batch)."""
    schema = spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .option("pathGlobFilter", glob)
        .parquet(sf_dir)
    )


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    event_time: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup: first-seen doc per content fingerprint.

    ``dropDuplicates`` on the md5 content fingerprint — Spark keeps one
    state-store entry per distinct fingerprint and drops every later
    arrival, across micro-batches: the streaming twin of
    ``operators.dedup.exact_dedup``. With ``event_time``+``watermark``
    set it uses ``dropDuplicatesWithinWatermark`` so state is EVICTED
    once the watermark passes — the bounded-state production shape
    (exactly-once dedup within the horizon); without them state grows
    with distinct content (fine for bounded backfills, documented here
    because at 100 TB the watermarked variant is the only safe default).
    """
    from ..operators.text import fingerprint

    out = docs.withColumn("fp", fingerprint(F.col(text_col)))
    if event_time and watermark:
        return out.withWatermark(event_time, watermark) \
            .dropDuplicatesWithinWatermark(["fp"])
    return out.dropDuplicates(["fp"])


def streaming_dedup_against(
    docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    event_time: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.incremental.incremental_exact_dedup``:
    drop stream documents whose content fingerprint is already in the
    STATIC ``seen`` index (any DataFrame with an ``fp`` column —
    ``exact_dedup_groups`` output, typically read back from the ingest
    pipeline's index location), then keep the first arrival per fresh
    fingerprint within the stream.

    Plan shape: the fingerprint is a row-local projection; the index
    check is a stream-static anti-join (the static side is planned per
    micro-batch, broadcast when small — no stream state); only the
    first-seen dedup holds state, and with ``event_time``/``watermark``
    that state is evicted at the horizon. History stays on disk,
    exactly like the batch incremental path."""
    from ..operators.text import fingerprint

    out = docs.withColumn("fp", fingerprint(F.col(text_col))).join(
        seen.select("fp").distinct(), "fp", "left_anti"
    )
    if event_time and watermark:
        return out.withWatermark(event_time, watermark) \
            .dropDuplicatesWithinWatermark(["fp"])
    return out.dropDuplicates(["fp"])


def oplog_stream(spark: SparkSession, base_path: str, table: str) -> DataFrame:
    """CDC stream over a managed table's cell-level op-log (the Delta
    Change Data Feed pattern; reference analogue: fetch_logs polling,
    base.py:1082-1128)."""
    from ..mutation.store import OPLOG_SCHEMA

    return spark.readStream.schema(OPLOG_SCHEMA).parquet(
        f"{base_path}/{table}/_oplog"
    )


def drop_stale_sinks(spark: SparkSession, prefix: str) -> None:
    """Drop leftover memory-sink temp views from PREVIOUS invocations of
    a uuid-named streaming query. Each drain registers a fresh
    session-local temp view holding its full result in driver memory; a
    long session re-running the workload (bench cold+warm, repeated
    driver rounds) would otherwise accumulate one result set per run.
    Called at slot entry so the CURRENT invocation's sink — which the
    returned lazy frame still reads — is never touched.

    CALLER CONTRACT: every prefix-matching view from a prior invocation
    must already be fully consumed (collected / written) — the lazy
    frame a previous call returned reads its view on execution, and
    this sweep drops ALL prefix matches, not just dead ones."""
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith(prefix):
            spark.catalog.dropTempView(t.name)


def start_to_memory(stream: DataFrame, name: str, spark: SparkSession,
                    mode: str | None = None, state_partitions: int = 16):
    """``run_to_memory`` without the await: start the availableNow
    drain and return the ``StreamingQuery`` immediately — the guide
    §2.6 overlap pattern for INDEPENDENT drains (start A, start B,
    await both: wall = max, not sum; each drain's result is identical
    to its sequential run because the queries share nothing but the
    session). Spark snapshots the shuffle-partition conf into the query
    at start, so the clamp is restored before returning — callers may
    start several drains back-to-back from one thread with no conf
    race. Read the sink with ``spark.table(name)`` after
    ``q.awaitTermination()``."""
    conf = spark.conf
    old = conf.get("spark.sql.shuffle.partitions", "200")
    if state_partitions:
        try:
            clamp = str(min(int(old), int(state_partitions)))
        except (TypeError, ValueError):
            clamp = str(state_partitions)
        conf.set("spark.sql.shuffle.partitions", clamp)
    try:
        return (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(
                mode or ("complete" if stream.isStreaming else "append")
            )
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if state_partitions:
            conf.set("spark.sql.shuffle.partitions", old)


def run_to_memory(stream: DataFrame, name: str, spark: SparkSession,
                  mode: str | None = None, state_partitions: int = 16):
    """Drain all available input into an in-memory table (test/dev sink).
    Returns after the availableNow trigger completes. ``mode`` overrides
    the output mode (stateful update-mode operators need ``update``).

    ``state_partitions`` caps ``spark.sql.shuffle.partitions`` for the
    duration of the stream start: the state store inherits the session's
    shuffle-partition count at a checkpoint's FIRST start, and a bare
    driver session's default of 200 means 200 state tasks per
    micro-batch for a dev-scale drain. The conf is restored afterwards
    (Spark snapshots it into the query at start). Pass ``None`` to keep
    the session value (production streams size this deliberately)."""
    start_to_memory(
        stream, name, spark, mode=mode, state_partitions=state_partitions
    ).awaitTermination()
    return spark.table(name)
