"""One-pass dataset profiling for training-data pipeline QA.

Beyond-reference extension (the reference exposes only row counts and
per-column ``value_counts``, base.py:357-360, 2205-2219). A corpus-scale
ingest job needs column-level health stats before anything else runs:
null fractions, cardinality estimates, numeric ranges and quantiles,
string length distribution. All of it is expressible as ONE aggregation
pass over the table — every statistic below compiles into the same
map-side-partial ``Aggregate`` (plus one lightweight follow-up for exact
quantiles at small N vs approx at scale), so profiling 100 TB costs a
single scan with no Python in the path.

Design choices for scale:

- ``approx_count_distinct`` (HyperLogLog++, fixed ~KB sketch per column)
  instead of exact COUNT DISTINCT — cardinality of an id column at 100 TB
  would otherwise shuffle billions of groups;
- ``percentile_approx`` (positional Greenwald-Khanna sketch, bounded
  memory) instead of exact percentiles — an exact percentile needs a full
  sort;
- one wide ``agg`` instead of per-column jobs: Catalyst fuses all the
  aggregate expressions into one partial+final pair, so adding a column
  adds expressions, not passes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    rsd: float = 0.05,
) -> DataFrame:
    """→ one row per profiled column:
    [column, dtype, n, n_null, null_frac, approx_distinct,
    min, max, mean, q25, q50, q75, avg_len]

    ``min``/``max``/``mean``/quantiles are NULL for non-numeric columns;
    ``avg_len`` is NULL for non-string columns. ``rsd`` is the HLL++
    relative standard deviation (accuracy/size trade-off).

    Single scan: all statistics for all columns are one ``agg`` call —
    the plan is one partial-aggregate + one final over zero groups
    (a metadata-sized result regardless of table size)."""
    cols = columns or df.columns
    aggs = []
    for c in cols:
        dt = df.schema[c].dataType
        aggs.append(F.count(F.lit(1)).alias(f"{c}__n"))
        aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nnull")
        )
        aggs.append(
            F.approx_count_distinct(c, rsd).alias(f"{c}__dist")
        )
        if isinstance(dt, _NUMERIC):
            aggs.append(F.min(c).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__max"))
            aggs.append(F.avg(F.col(c).cast("double")).alias(f"{c}__mean"))
            aggs.append(
                F.percentile_approx(
                    F.col(c).cast("double"), list(quantiles)
                ).alias(f"{c}__q")
            )
        if isinstance(dt, T.StringType):
            aggs.append(
                F.avg(F.length(c).cast("double")).alias(f"{c}__avglen")
            )
    wide = df.agg(*aggs)

    rows = []
    for c in cols:
        dt = df.schema[c].dataType
        num = isinstance(dt, _NUMERIC)
        s = isinstance(dt, T.StringType)
        q = (
            [F.col(f"{c}__q")[i] for i in range(len(quantiles))]
            if num
            else [F.lit(None).cast("double")] * len(quantiles)
        )
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dt.simpleString()).alias("dtype"),
                F.col(f"{c}__n").alias("n"),
                F.col(f"{c}__nnull").alias("n_null"),
                F.round(
                    F.col(f"{c}__nnull")
                    / F.greatest(F.col(f"{c}__n"), F.lit(1)),
                    6,
                ).alias("null_frac"),
                F.col(f"{c}__dist").alias("approx_distinct"),
                (F.col(f"{c}__min") if num else F.lit(None).cast("double")).alias("min"),
                (F.col(f"{c}__max") if num else F.lit(None).cast("double")).alias("max"),
                (
                    F.round(F.col(f"{c}__mean"), 6)
                    if num
                    else F.lit(None).cast("double")
                ).alias("mean"),
                *[qc.alias(f"q{int(p * 100)}") for qc, p in zip(q, quantiles)],
                (
                    F.round(F.col(f"{c}__avglen"), 4)
                    if s
                    else F.lit(None).cast("double")
                ).alias("avg_len"),
            )
        )
    return wide.select(
        F.explode(F.array(*rows)).alias("p")
    ).select("p.*")


def corpus_profile(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = None,
    top_k_tokens: int = 20,
) -> dict:
    """Corpus-level summary for a documents table → a small dict:
    ``{n_docs, total_tokens, total_chars, avg_doc_tokens, p50_doc_tokens,
    vocab, top_tokens: [(token, count)...], langs: {lang: docs}}``.

    TWO passes, both fully distributed and metadata-sized on the driver:

    1. one wide agg over per-doc scalars (counts, char/token totals,
       GK-sketch quantile) — same shape as :func:`profile`;
    2. one explode→groupBy over tokens for the exact vocabulary size and
       heavy-hitter top-k (the token groupBy is shared by both) — the groupBy is map-side partially aggregated
       so the shuffle carries (token, partial count), bounded by vocab
       size, not corpus size; top-k is TakeOrdered, never a full sort.

    The result is a plain dict (collected): this is a REPORT, not a
    relation — the inputs to every number stay distributed. For the
    hash-checkable relation shape see :func:`corpus_profile_rows` (same
    plans, shared via the private helpers below)."""
    base = _corpus_base(df, text_col, lang_col)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("total_tokens"),
        F.sum("__nc").alias("total_chars"),
        F.avg("__nt").alias("avg_doc_tokens"),
        F.percentile_approx("__nt", 0.5).alias("p50_doc_tokens"),
    ]
    row = base.agg(*aggs).collect()[0].asDict()
    toks = _corpus_tokens(df, text_col)
    vocab = toks.agg(
        F.count(F.lit(1)).alias("v")
    ).collect()[0]["v"]
    top = [
        (r["tok"], r["n"])
        for r in toks.orderBy(F.desc("n"), F.asc("tok"))
        .limit(top_k_tokens).collect()
    ]
    out = {
        "n_docs": row["n_docs"],
        "total_tokens": int(row["total_tokens"] or 0),
        "total_chars": int(row["total_chars"] or 0),
        "avg_doc_tokens": float(row["avg_doc_tokens"] or 0.0),
        "p50_doc_tokens": int(row["p50_doc_tokens"] or 0),
        "vocab": int(vocab),
        "top_tokens": top,
    }
    if lang_col:
        out["langs"] = {
            r["__lang"]: r["n"]
            for r in base.groupBy("__lang")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
    return out


def _corpus_base(df: DataFrame, text_col: str, lang_col: str | None):
    """Per-doc scalars (token count, char count, language) — pass 1's
    input, shared by the dict and relation profile shapes."""
    from .text import token_count

    c = F.col(text_col)
    return df.select(
        token_count(c).alias("__nt"),
        F.length(c).alias("__nc"),
        *([F.col(lang_col).alias("__lang")] if lang_col else []),
    )


def _corpus_tokens(df: DataFrame, text_col: str) -> DataFrame:
    """(token, count) — pass 2's groupBy, map-side partially aggregated
    so the shuffle carries ~|vocab|, not |corpus|."""
    from .text import words

    return (
        df.select(F.explode(words(F.col(text_col))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def corpus_profile_rows(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = None,
    top_k_tokens: int = 20,
) -> DataFrame:
    """:func:`corpus_profile` as a RELATION → [k, s1, n1, n2] — the
    hash-checkable shape (q70 ``op='corpus'`` rows, r11). Same two
    distributed passes; three row kinds tagged by ``s1``:

    - ``scalar``: k ∈ n_docs / total_tokens / total_chars /
      p50_doc_tokens / vocab, value in n1 (avg_doc_tokens is omitted —
      it is exactly total_tokens/n_docs, and an independent float
      division is oracle noise, not information);
    - ``top``: the top-k heavy-hitter tokens, count in n1, 1-based
      rank in n2 (row_number AFTER the TakeOrdered limit — the window
      sorts ``top_k_tokens`` rows, never the vocabulary);
    - ``lang``: per-language doc counts in n1 (when ``lang_col``).
    """
    from pyspark.sql import Window

    from .util import tracked_checkpoint

    base = _corpus_base(df, text_col, lang_col)
    # The (token, count) aggregate feeds TWO union branches — the vocab
    # scalar and the top-k rows — and Spark does not share subtrees
    # across a union: uncheckpointed, the corpus is exploded and
    # re-aggregated once per branch (r14, guide §2.4). The frame is
    # vocab-sized (narrow (token, count) rows), the cheapest possible
    # thing to materialize.
    # aggregation-only fill (explode → groupBy token) — r14
    toks, _ = tracked_checkpoint(
        _corpus_tokens(df, text_col), scalar_plan=True
    )
    lnull = F.lit(None).cast("long")
    scalars = (
        base.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").alias("total_tokens"),
            F.sum("__nc").alias("total_chars"),
            F.percentile_approx("__nt", 0.5).alias("p50_doc_tokens"),
        )
        .crossJoin(toks.agg(F.count(F.lit(1)).alias("vocab")))
        .selectExpr(
            "stack(5, "
            "'n_docs', CAST(n_docs AS BIGINT), "
            "'total_tokens', CAST(total_tokens AS BIGINT), "
            "'total_chars', CAST(total_chars AS BIGINT), "
            "'p50_doc_tokens', CAST(p50_doc_tokens AS BIGINT), "
            "'vocab', CAST(vocab AS BIGINT)) AS (k, n1)"
        )
        .select("k", F.lit("scalar").alias("s1"), "n1", lnull.alias("n2"))
    )
    top = (
        toks.orderBy(F.desc("n"), F.asc("tok"))
        .limit(top_k_tokens)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("n"), F.asc("tok"))),
        )
        .select(
            F.col("tok").alias("k"),
            F.lit("top").alias("s1"),
            F.col("n").cast("long").alias("n1"),
            F.col("rank").cast("long").alias("n2"),
        )
    )
    out = scalars.unionByName(top)
    if lang_col:
        out = out.unionByName(
            base.groupBy("__lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("__lang").alias("k"),
                F.lit("lang").alias("s1"),
                F.col("n").cast("long").alias("n1"),
                lnull.alias("n2"),
            )
        )
    return out


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top: int = 20,
) -> DataFrame:
    """→ [key, n, share, cum_share, rank]: the ``top`` heaviest values of
    the would-be shuffle key, with each value's share of all rows — the
    pre-flight check before keying a join/groupBy on ``key_cols`` at
    scale. A top key holding >1% of a 100 TB table means one reducer
    gets >1 TB: that join wants salting (``dedup._salted_pairs``-style),
    AQE skew splitting, or a different key — this report is how you find
    out BEFORE the 6-hour stage, not during it.

    Cost: one groupBy on the key (the exact shuffle the real job would
    do, but reduced to counts — map-side partials make the exchange
    ~|distinct keys|, not |rows|) + a driver-side top-k. The key is
    rendered as a concat'd string so multi-column keys profile the
    same."""
    from pyspark.sql import Window

    key = (
        F.concat_ws("␟", *[F.col(c).cast("string") for c in key_cols])
        if len(key_cols) > 1
        else F.col(key_cols[0]).cast("string")
    )
    counts = df.select(key.alias("key")).groupBy("key").agg(
        F.count(F.lit(1)).alias("n")
    )
    # scalar sizing count — no AQE job pair (r14, SCALAR posture)
    from .util import posture

    total_n = posture(df).count() or 1
    # orderBy+limit compiles to TakeOrderedAndProject (k-bounded per
    # partition, no global sort); rank/cum-share windows then run over
    # the k survivors only — never a single-partition window across all
    # distinct keys
    topk = counts.orderBy(F.desc("n"), F.asc("key")).limit(top)
    w = Window.orderBy(F.desc("n"), F.asc("key"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .withColumn("share", F.round(F.col("n") / F.lit(total_n), 6))
        .withColumn(
            "cum_share",
            F.round(
                F.sum("n").over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                )
                / F.lit(total_n),
                6,
            ),
        )
        .select("key", "n", "share", "cum_share", "rank")
    )


def expect(
    df: DataFrame,
    rules: dict[str, list],
) -> DataFrame:
    """Declarative data-quality gate → one report row per (column,
    rule): [column, rule, violations, total]. Rules per column:

    - ``"not_null"`` — NULL count;
    - ``"unique"`` — rows beyond one per value (NULLs excluded);
    - ``("between", lo, hi)`` — values outside [lo, hi];
    - ``("in", [v, ...])`` — values outside the allowed set;
    - ``("rlike", pattern)`` — strings not matching the regex.

    Everything except ``unique`` compiles into ONE conditional-count
    aggregation (a single scan, map-side combined, zero-group result);
    each ``unique`` adds one exact count-distinct to the same pass.
    Violations == 0 for every row ⇔ the contract holds — assert on
    ``where("violations > 0").count() == 0`` in pipelines, or eyeball
    the report."""
    aggs = []
    labels: list[tuple[str, str]] = []
    for col, col_rules in rules.items():
        if col not in df.columns:
            raise ValueError(f"expect: unknown column {col!r}")
        c = F.col(col)
        for rule in col_rules:
            tag = rule if isinstance(rule, str) else rule[0]
            if rule == "not_null":
                bad = c.isNull()
            elif rule == "unique":
                aggs.append(
                    (
                        F.count(c) - F.count_distinct(c)
                    ).alias(f"__v{len(labels)}")
                )
                labels.append((col, "unique"))
                continue
            elif tag == "between":
                _, lo, hi = rule
                bad = c.isNotNull() & ~c.between(lo, hi)
                tag = f"between({lo},{hi})"
            elif tag == "in":
                bad = c.isNotNull() & ~c.isin(list(rule[1]))
                tag = f"in({len(rule[1])} values)"
            elif tag == "rlike":
                bad = c.isNotNull() & ~c.rlike(rule[1])
                tag = f"rlike({rule[1]})"
            else:
                raise ValueError(f"expect: unknown rule {rule!r}")
            aggs.append(
                F.sum(F.when(bad, 1).otherwise(0))
                .cast("long")
                .alias(f"__v{len(labels)}")
            )
            labels.append((col, tag))
    aggs.append(F.count(F.lit(1)).alias("__total"))
    # one conditional-count pass, zero-group output (each `unique`
    # rule adds an exact count-distinct — still partial-agg'd narrow
    # rows into its exchanges): AQE off for the action collapses the
    # per-exchange job wave into one job (r14, SCALAR posture)
    from .util import posture

    row = posture(df).agg(*aggs).collect()[0]
    spark = df.sparkSession
    from .util import local_rows_df

    return local_rows_df(
        spark,
        [
            (col, tag, int(row[f"__v{i}"] or 0), int(row["__total"]))
            for i, (col, tag) in enumerate(labels)
        ],
        "column string, rule string, violations long, total long",
    )


def dataset_diff(
    left: DataFrame,
    right: DataFrame,
    on,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed diff of two datasets → [<keys...>, change, changed_cols]:
    ``change`` ∈ added (key only in right) / removed (only in left) /
    changed (key in both, some compared column differs, NULL-safely) —
    unchanged rows are omitted. The pipeline-regression tool: diff
    yesterday's curation output against today's before shipping.

    One full outer join on the key; comparison is a codegen'd
    eqNullSafe conjunction, and ``changed_cols`` names the differing
    columns so the report is actionable without re-querying. Keys must
    be unique per side (enforced — a multi-row key makes 'changed'
    ill-defined)."""
    keys = [on] if isinstance(on, str) else list(on)
    cols = compare_cols or [
        c for c in left.columns if c in right.columns and c not in keys
    ]
    # uniqueness probe for BOTH sides in ONE action (r14): each side is
    # a groupBy→max(count) scalar, unioned — two one-row branches. The
    # old per-side limit(1).count() probes paid the full per-key
    # aggregation anyway (a limit over an agg cannot early-exit), plus
    # an AQE job wave per exchange; this is the same work as one job.
    from .util import posture

    probe = None
    for side, d in (("left", left), ("right", right)):
        p = (
            d.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.max("__n").alias("__mx"))
            .select(F.lit(side).alias("__side"), "__mx")
        )
        probe = p if probe is None else probe.unionByName(p)
    dup_sides = {
        r["__side"] for r in posture(probe).collect()
        if (r["__mx"] or 0) > 1
    }
    for side in ("left", "right"):
        if side in dup_sides:
            raise ValueError(f"duplicate keys in {side} dataset")
    l = left.select(
        *keys, *[F.col(c).alias(f"__l_{c}") for c in cols],
        F.lit(True).alias("__in_l"),
    )
    r = right.select(
        *keys, *[F.col(c).alias(f"__r_{c}") for c in cols],
        F.lit(True).alias("__in_r"),
    )
    j = l.join(r, keys, "full_outer")
    changed_cols = F.filter(
        F.array(*[
            F.when(
                ~F.col(f"__l_{c}").eqNullSafe(F.col(f"__r_{c}")),
                F.lit(c),
            )
            for c in cols
        ]),
        lambda x: x.isNotNull(),
    )
    change = (
        F.when(F.col("__in_l").isNull(), F.lit("added"))
        .when(F.col("__in_r").isNull(), F.lit("removed"))
        .when(F.size(changed_cols) > 0, F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .where(F.col("change").isNotNull())
        .withColumn(
            "changed_cols",
            F.when(
                F.col("change") == "changed", changed_cols
            ).otherwise(F.array().cast("array<string>")),
        )
        .select(*keys, "change", "changed_cols")
    )
