"""Corpus-curation operators: PII redaction, repetition filters, shard
packing.

Beyond-reference extensions (SURVEY §7 Phase 5; the reference's text
surface stops at typed text columns, utils.py:22 — it has no corpus
hygiene). The three families a pre-training data pipeline needs between
dedup and tokenization:

- :func:`redact_pii` / :func:`normalize_text` — regex scrubbing and
  canonicalization, pure ``regexp_replace`` chains (JVM-side, one
  codegen'd projection, no Python);
- :func:`repetition_metrics` / :func:`gopher_filter` — Gopher-style
  (Rae et al. 2021, arXiv:2112.11446 §A1.1) repetition/shape signals,
  all computed per-row with higher-order array functions — zero
  shuffles, so the filter runs at scan speed on any corpus size;
- :func:`pack_shards` — assign documents to fixed-token-budget training
  shards by global running token count WITHOUT a global sort: range
  repartition + per-partition offsets (the ``_with_seq`` pattern,
  mutation/store.py:631) keeps every stage distributed;
- :func:`chunk_documents` — overlapping fixed-token windows
  (sequence-length prep), row-local explode.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .lifetime import _pin
from .text import round_half_up, words
from .util import posture, tracked_checkpoint

# ---------------------------------------------------------------------------
# PII redaction / normalization
# ---------------------------------------------------------------------------

#: Redaction patterns, applied in declaration order. Order matters:
#: email first (its local part can look like anything), ipv4 before phone
#: (dotted octet pairs match the phone shape), card before phone (a
#: 16-digit run must not be half-eaten). Digit patterns bound by
#: lookarounds, not ``\b`` — a leading ``+`` or trailing space is a word
#: boundary too, which let ``\b`` start matches mid-number.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"(?<![\d.])(?:\d{1,3}\.){3}\d{1,3}(?![\d.])", "<IP>"),
    "ssn": (r"(?<![\d-])\d{3}-\d{2}-\d{4}(?![\d-])", "<SSN>"),
    "card": (r"(?<!\d)\d(?:[ -]?\d){12,15}(?!\d)", "<CARD>"),
    "phone": (
        r"(?<!\d)(?:\+?\d{1,3}[ .-])?(?:\(\d{2,4}\)[ .-]?)?"
        r"\d{3}[ .-]\d{3,4}(?:[ .-]\d{3,4})?(?!\d)",
        "<PHONE>",
    ),
}


def redact_pii(col: Column, kinds: list[str] | None = None) -> Column:
    """Replace PII spans with typed placeholder tokens.

    A chained ``regexp_replace`` — one JVM projection per kind, fused by
    whole-stage codegen into a single pass; no UDF, so redaction runs at
    scan throughput on the full corpus. ``kinds`` subsets/orders the
    patterns (default: all, in :data:`PII_PATTERNS` order)."""
    for kind in kinds or list(PII_PATTERNS):
        pat, repl = PII_PATTERNS[kind]
        col = F.regexp_replace(col, pat, repl)
    return col


def normalize_text(col: Column) -> Column:
    """Canonicalize whitespace: strip C0 control chars (except \\n/\\t),
    collapse horizontal runs to one space, collapse 3+ newlines to 2,
    trim. Pure regexp chain — the cheap half of a Unicode normalizer;
    NFC/NFKC needs ICU, which is a tokenizer-side concern."""
    c = F.regexp_replace(col, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return F.trim(c)


# ---------------------------------------------------------------------------
# Gopher-style repetition / shape metrics
# ---------------------------------------------------------------------------

def _ngrams(toks: Column, n: int) -> Column:
    """array<string> of word n-grams of ``toks`` (empty when < n).

    Built by ``zip_with`` over n shifted slices, NOT
    ``transform(sequence(...), i -> slice(toks, i, n))`` — higher-order
    exprs run interpreted, and the per-element slice/concat_ws variant
    measured ~10× slower than zipping pre-sliced arrays."""
    if n == 1:
        return toks
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for k in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, k + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return out


def dup_frac(arr: Column) -> Column:
    """Fraction of array elements that are repeats of an earlier element
    (0 for empty arrays): 1 - |distinct| / |all|."""
    return F.when(F.size(arr) <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(arr)) / F.size(arr)
    )


def top_ngram_frac(toks: Column, n: int) -> Column:
    """Fraction of all n-gram slots covered by the single most frequent
    n-gram — the boilerplate signal (a nav bar repeated 40× dominates).

    Computed as the longest equal run of the SORTED gram array — one
    ``aggregate`` pass carrying (prev, run, best) state. O(g log g) per
    row; the naive count-each-distinct-gram form is O(g·distinct),
    quadratic on exactly the long repetitive documents this metric
    exists to catch. Still row-local: zero shuffles."""
    grams = _ngrams(toks, n)
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(acc.prev.eqNullSafe(x), acc.run + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.best, run).alias("best"),
        )

    top = F.aggregate(F.array_sort(grams), zero, step, lambda acc: acc.best)
    return F.when(F.size(grams) <= 0, F.lit(0.0)).otherwise(
        top / F.size(grams)
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Append the Gopher repetition/shape columns in ONE projection:

    - ``dup_line_frac`` — duplicated lines / lines;
    - ``dup_word_frac`` — duplicated tokens / tokens;
    - ``dup_2gram_frac`` / ``dup_3gram_frac`` — duplicated word n-grams;
    - ``top_2gram_frac`` — share of the most frequent 2-gram;
    - ``mean_word_len`` — mean token length;
    - ``alpha_word_frac`` — fraction of tokens containing a letter.

    Every metric is row-local (higher-order array functions) — the whole
    frame is a single codegen'd scan, no shuffle, no Python. Rounding is
    ``round_half_up`` (floor(x·10⁴+0.5)) so the DuckDB oracle agrees
    bit-for-bit at representation boundaries."""
    c = F.col(text_col)
    toks = words(c)
    lines = F.filter(F.split(c, r"\n"), lambda l: F.trim(l) != "")
    # re-running over a frame that already carries metric columns (a
    # keep_metrics=True output fed back through quality_filter) must
    # REPLACE them, not produce ambiguous duplicates
    metric_names = (
        "dup_line_frac", "dup_word_frac", "dup_2gram_frac",
        "dup_3gram_frac", "top_2gram_frac", "mean_word_len",
        "alpha_word_frac",
    )
    df = df.drop(*[m for m in metric_names if m in df.columns])
    return df.select(
        "*",
        round_half_up(dup_frac(lines), 4).alias("dup_line_frac"),
        round_half_up(dup_frac(toks), 4).alias("dup_word_frac"),
        round_half_up(dup_frac(_ngrams(toks, 2)), 4).alias("dup_2gram_frac"),
        round_half_up(dup_frac(_ngrams(toks, 3)), 4).alias("dup_3gram_frac"),
        round_half_up(top_ngram_frac(toks, 2), 4).alias("top_2gram_frac"),
        round_half_up(
            F.when(F.size(toks) <= 0, F.lit(0.0)).otherwise(
                F.aggregate(
                    toks, F.lit(0), lambda a, w: a + F.length(w)
                )
                / F.size(toks)
            ),
            4,
        ).alias("mean_word_len"),
        round_half_up(
            F.when(F.size(toks) <= 0, F.lit(0.0)).otherwise(
                F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
                / F.size(toks)
            ),
            4,
        ).alias("alpha_word_frac"),
    )


#: Gopher rule thresholds (arXiv:2112.11446 Table A1, adapted to the
#: whitespace tokenizer): reject when any bound is breached.
GOPHER_RULES: dict[str, tuple[float, float]] = {
    # metric: (min allowed, max allowed)
    "dup_line_frac": (0.0, 0.30),
    "dup_2gram_frac": (0.0, 0.20),
    "dup_3gram_frac": (0.0, 0.18),
    "top_2gram_frac": (0.0, 0.20),
    "mean_word_len": (3.0, 10.0),
    "alpha_word_frac": (0.80, 1.0),
}


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    rules: dict[str, tuple[float, float]] | None = None,
    keep_metrics: bool = False,
) -> DataFrame:
    """Quality-filter a corpus by the Gopher repetition rules + length
    bounds. Returns surviving rows (original columns; pass
    ``keep_metrics=True`` to keep the metric columns for auditing).
    Still one scan: metrics and predicate fuse into the same stage."""
    rules = rules if rules is not None else GOPHER_RULES
    m = repetition_metrics(df, text_col)
    toks = F.size(words(F.col(text_col)))
    pred = toks.between(min_tokens, max_tokens)
    for name, (lo, hi) in rules.items():
        pred = pred & F.col(name).between(lo, hi)
    out = m.where(pred)
    return out if keep_metrics else out.select(*df.columns)


# ---------------------------------------------------------------------------
# token-budget shard packing
# ---------------------------------------------------------------------------

def pack_shards(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str,
    shard_col: str = "shard",
    checkpoint: bool = True,
) -> DataFrame:
    """Assign each document a training-shard id so consecutive documents
    (in ``order_col`` order) fill ~``budget``-token shards:
    ``shard = floor(cumulative_tokens_before_doc / budget)``.

    Semantically this is ``floor((SUM(tokens) OVER (ORDER BY order_col) -
    tokens) / budget)`` — but a bare global window is ONE partition and
    dies at scale. The distributed plan:

    1. ``repartitionByRange(order_col)`` + in-partition sort — partitions
       are globally ordered ranges (one range-exchange shuffle);
    2. per-partition token sums via ``spark_partition_id`` — a
       metadata-sized aggregate (rows = #partitions) collected to build
       cumulative partition offsets;
    3. in-partition running sum by a window PARTITIONED BY the partition
       id — every window group is one already-sorted partition, never a
       single global one — plus the broadcast offset.

    The data shuffles once for the range exchange and once for the pid
    window hash — both full-width, never a 1-task stage. Deterministic
    for a given ``order_col`` (ties broken by it being unique)."""
    num = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    part = (
        df.repartitionByRange(num, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("__pid", F.spark_partition_id())
    )
    pinned = part.persist()
    try:
        # group-cardinality collect (≤ num partition rows) whose only
        # AQE-eligible exchange is the groupBy's own — the range
        # repartition above has an explicit width AQE never touches
        # (r14, SCALAR posture)
        sums = (
            posture(part).groupBy("__pid")
            .agg(F.sum(token_col).alias("__t"))
            .collect()
        )
        offsets: dict[int, int] = {}
        acc = 0
        for r in sorted(sums, key=lambda r: r["__pid"]):
            offsets[int(r["__pid"])] = acc
            acc += int(r["__t"] or 0)
        if not offsets:
            off = F.lit(0).cast("long")
        elif len(offsets) <= 1024:
            mapping = F.create_map(
                *[
                    F.lit(x)
                    for pid, o in offsets.items()
                    for x in (pid, o)
                ]
            )
            off = mapping[F.col("__pid")].cast("long")
        else:
            # thousands of partitions: a literal map bloats the plan —
            # broadcast-join the (pid → offset) table instead
            odf = df.sparkSession.createDataFrame(
                list(offsets.items()), "__pid int, __cum_off long"
            )
            part = part.join(F.broadcast(odf), "__pid", "left")
            off = F.coalesce(F.col("__cum_off"), F.lit(0)).cast("long")
        from pyspark.sql import Window

        w = (
            Window.partitionBy("__pid")
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = part.withColumn(
            shard_col,
            F.floor(
                (off + F.sum(token_col).over(w) - F.col(token_col))
                / F.lit(budget)
            ),
        ).drop("__pid", "__cum_off")
        # Checkpoint by default: the baked offsets are only valid for
        # THIS materialization — a later recompute would re-sample the
        # range boundaries and shift pids. checkpoint=False hands back
        # the lazy plan (inspection/tests); the persisted input then
        # stays pinned to keep the offsets honest, until the quiesce
        # sweep frees it.
        if checkpoint:
            out, _ = tracked_checkpoint(out)
            pinned.unpersist()
        else:
            _pin(pinned)
        return out
    except Exception:
        pinned.unpersist()
        raise


def pack_sequences(
    df: DataFrame,
    token_col: str,
    seq_len: int,
    id_col: str = "doc_id",
    seq_col: str = "seq_id",
    oversize: str = "error",
    partitions: int | None = None,
) -> DataFrame:
    """Assign each document to a fixed-capacity training sequence
    (bin of ``seq_len`` tokens) minimizing padding — the
    sequence-packing step between curation and the dataloader.
    ``pack_shards`` fills shards *sequentially* in a given order (right
    for contiguous multi-sequence shards); this packs *bins* best-fit:
    docs sorted largest-first, each placed into the open bin with the
    smallest remainder that still fits (best-fit-decreasing — within
    ~11/9 of optimal padding, the classic bin-packing bound).

    Distributed shape: bin packing is inherently sequential, so the
    corpus hash-partitions by id into ``partitions`` independent
    packing groups and each group packs in ONE Arrow batch — but the
    Python worker only ever sees (id, token_count) pairs, never
    documents; the assignment joins back on id (one corpus shuffle,
    AQE-broadcast when the corpus is small). Group-local packing is
    the standard scale compromise: with thousands of docs per group
    the per-group BFD waste is already near the global bound, and
    hash grouping is layout-independent, so the packing is
    deterministic under repartition.

    ``oversize``: ``'error'`` raises if any doc exceeds ``seq_len``
    (chunk first — ``chunk_documents``); ``'isolate'`` gives each
    oversized doc its own flagged bin. NULL token counts pack as 0.

    Output: ``df`` + ``seq_col`` (globally unique long:
    group << 33 | local bin index)."""
    if oversize not in ("error", "isolate"):
        raise ValueError(
            f"oversize must be 'error' or 'isolate', got {oversize!r}"
        )
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    if oversize == "error":
        # sizing/guard counts: partial aggregation shrinks every input
        # partition to one row before the single exchange — a scalar
        # plan shape AQE only adds jobs to (r14, SCALAR posture)
        n_over = posture(df).where(F.col(token_col) > seq_len).count()
        if n_over:
            raise ValueError(
                f"{n_over} documents exceed seq_len={seq_len}; chunk "
                "them first (chunk_documents) or pass oversize='isolate'"
            )
    if partitions is not None:
        P = partitions
    else:
        # groups need THOUSANDS of docs each for near-optimal local
        # packing — a tiny corpus split across defaultParallelism
        # groups would open near-empty bins everywhere. One count
        # sizes the grouping; the cap keeps groups Arrow-batch-sized.
        n = posture(df).count()
        dp = df.sparkSession.sparkContext.defaultParallelism
        P = max(1, min(dp * 4, (n + 8191) // 8192))
    sized = df.select(
        F.col(id_col).alias("__id"),
        F.coalesce(F.col(token_col), F.lit(0)).cast("long").alias("__t"),
        F.pmod(F.xxhash64(id_col), F.lit(P)).cast("int").alias("__g"),
    )
    id_field = df.schema[id_col].dataType.simpleString()
    out_schema = f"__id {id_field}, {seq_col} long"
    cap = int(seq_len)

    def _bfd(pdf):
        import bisect

        import pandas as pd

        pdf = pdf.sort_values(
            ["__t", "__id"], ascending=[False, True], kind="mergesort"
        )
        g = int(pdf["__g"].iloc[0]) if len(pdf) else 0
        base = g << 33
        # parallel sorted lists: remainders + the bin index owning each
        rems: list[int] = []
        rbins: list[int] = []
        nbins = 0
        seq = []
        for t in pdf["__t"].to_numpy():
            t = int(t)
            if t > cap:  # oversize='isolate': dedicated overflowing bin
                seq.append(base | nbins)
                nbins += 1
                continue
            i = bisect.bisect_left(rems, t)
            if i < len(rems):  # best fit: smallest remainder ≥ t
                b = rbins.pop(i)
                r = rems.pop(i) - t
            else:  # nothing fits: open a bin
                b = nbins
                nbins += 1
                r = cap - t
            seq.append(base | b)
            if r > 0:
                j = bisect.bisect_left(rems, r)
                rems.insert(j, r)
                rbins.insert(j, b)
        return pd.DataFrame({"__id": pdf["__id"], seq_col: seq})

    packed = sized.groupBy("__g").applyInPandas(_bfd, out_schema)
    return df.join(
        packed, F.col(id_col) == F.col("__id"), "inner"
    ).drop("__id")


# ---------------------------------------------------------------------------
# sliding-window document chunking (sequence-length prep)
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split each document into overlapping fixed-token windows —
    the sequence-length prep step between curation and tokenization.
    → [id_col, chunk_id, chunk_text, n_chunk_tokens]; chunk ``k`` covers
    tokens [k·step, k·step + chunk_tokens), step = chunk_tokens −
    overlap; every doc yields ≥ 1 chunk (empty text → one empty chunk).

    Row-local: token split + posexplode over the chunk-start sequence +
    one slice/concat per chunk — no shuffle, output cardinality
    Σ ceil(tokens/step), each chunk built once. The explode multiplies
    rows before any downstream shuffle, so partition sizing follows
    output tokens (≈ input·(1+overlap/step)), not input rows."""
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})"
        )
    step = chunk_tokens - overlap
    toks = words(F.col(text_col))
    n = F.size(toks)
    # k_max = ceil(max(n - overlap, 1) / step) - 1, floor-div form
    k_max = F.greatest(
        (n - overlap + step - 1), F.lit(1)
    ).cast("long") / F.lit(step)
    k_max = F.floor(k_max) - 1
    k_max = F.greatest(k_max, F.lit(0))
    out = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.posexplode(F.sequence(F.lit(0), k_max.cast("int"))).alias(
            "chunk_id", "__k"
        ),
    )
    piece = F.slice(
        F.col("__toks"), F.col("__k") * step + 1, chunk_tokens
    )
    return out.select(
        id_col,
        "chunk_id",
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


def curation_funnel(
    df: DataFrame,
    stages: list[tuple[str, "object"]],
) -> tuple[DataFrame, list[dict]]:
    """Run a sequence of (name, DataFrame→DataFrame) curation stages and
    return (final_df, report) where report rows are
    ``{stage, rows_in, rows_out, dropped, drop_frac}`` — the funnel
    every data-quality review asks for ("where did my corpus go?").

    Each boundary is counted, so the pipeline executes roughly once per
    stage instead of once total — this is a DIAGNOSTIC mode for sampling
    runs and dashboards, not the production path (which chains the same
    stages unobserved and pays one pass). Intermediate frames are
    localCheckpointed so stage N+1 starts from N's materialization
    instead of re-running the whole prefix — total cost is the sum of
    single stages, not quadratic in their number."""
    report: list[dict] = []
    cur, cur_h = df, None
    # boundary counts run over checkpoint-truncated frames (and the
    # caller's input for n_in): scalar plans — AQE off per action
    # drops the exchange-materialization job pair (r14)
    n_in = posture(cur).count()
    for name, fn in stages:
        nxt = fn(cur)
        if nxt.isStreaming:
            raise ValueError("curation_funnel is batch-only")
        nxt, nxt_h = tracked_checkpoint(nxt)
        n_out = posture(nxt).count()
        report.append(
            {
                "stage": name,
                "rows_in": n_in,
                "rows_out": n_out,
                "dropped": n_in - n_out,
                "drop_frac": round((n_in - n_out) / n_in, 6)
                if n_in
                else 0.0,
            }
        )
        # stage N's blocks are dead once N+1 is materialized — release
        # eagerly instead of leaving O(stages) corpus-sized checkpoints
        # to the JVM garbage collector
        if cur_h is not None:
            cur_h.release()
        cur, cur_h, n_in = nxt, nxt_h, n_out
    return cur, report
