"""Duplicate-span detection and removal (exact-substring dedup).

Document-level dedup misses the dominant contamination mode of web
corpora: long boilerplate passages (license blocks, navigation chrome,
quoted tweets) repeated inside otherwise-distinct documents. The
production treatment (Lee et al. 2022, "Deduplicating Training Data
Makes Language Models Better", arXiv:2107.06499) removes every repeated
substring over a length floor, keeping one copy corpus-wide. The exact
suffix-array construction is a per-shard batch job outside Spark's
sweet spot; the standard distributed approximation — used here — is
fixed-length token windows: a repeated substring of ≥ ``span_tokens``
tokens necessarily contains a repeated window, so window-level
detection catches every qualifying repeat (with boundary slack of up
to ``span_tokens``-1 tokens, the documented trade).

Scale shape:
- window hashes are a row-local projection (one ``transform`` over the
  token array — no token explode, no shuffle to build);
- only (hash) → (id, pos) pairs shuffle for the repeat groupBy — 8-16
  bytes per window, never text;
- the keep-first-occurrence choice is a deterministic MIN over
  (id, pos) inside the same aggregation;
- stripping is row-local again: flagged starts come back as one small
  array per affected document (broadcast-gated join), and the token
  mask is a single higher-order filter.

No reference analogue (HTTP client); beyond-reference LLM-pipeline
extension (SURVEY §7 Phase 5).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .dedup import _filled_gate
from .text import words
from .util import fan_out


def _span_hash_col(toks: Column, span_tokens: int) -> Column:
    """array<long>: xxhash64 of each ``span_tokens``-token window
    (empty when the doc is shorter). Row-local; cost O(tokens·span)
    interpreted array ops — the no-shuffle trade against exploding
    every token through a partitioned rolling-hash window."""
    m = F.greatest(F.size(toks) - (span_tokens - 1), F.lit(0))
    idx = F.sequence(F.lit(1), m)
    return F.when(m <= 0, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            idx,
            lambda i: F.xxhash64(
                F.concat_ws(" ", F.slice(toks, i, span_tokens))
            ),
        )
    )


def span_occurrences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 32,
) -> DataFrame:
    """→ [id, pos, h]: every token-window occurrence (pos is the
    0-based word index of the window start)."""
    toks = words(F.col(text_col))
    return (
        fan_out(df)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(_span_hash_col(toks, span_tokens)).alias(
                "pos", "h"
            ),
        )
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 32,
    keep_first: bool = True,
) -> DataFrame:
    """→ [id, pos, h, n_total]: window occurrences whose hash repeats
    anywhere in the corpus. With ``keep_first`` (default) the
    first occurrence — MIN (id, pos) corpus-wide, the copy Lee et al.
    keep — is excluded from the output, so the result is exactly the
    set of window starts ``strip_duplicate_spans`` will remove."""
    occ = span_occurrences(df, text_col, id_col, span_tokens)
    groups = (
        occ.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.min(F.struct("id", "pos")).alias("first"),
        )
        .where(F.col("n_total") >= 2)
    )
    out = occ.join(groups, "h")
    if keep_first:
        out = out.where(
            ~(
                (F.col("id") == F.col("first.id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
    return out.select("id", "pos", "h", "n_total")


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 32,
) -> DataFrame:
    """Remove repeated spans, keeping the corpus-wide first occurrence:
    every token covered by a flagged window is dropped and the document
    text rebuilt from the survivors (whitespace-normalized — the
    tokenization this module hashes is word-level). All original
    columns preserved; ``text_col`` replaced.

    A document with no flagged window passes through byte-identical
    (the join is a left join against the small flagged set, and the
    rebuild only triggers on matched rows)."""
    flagged = _filled_gate(
        duplicate_spans(df, text_col, id_col, span_tokens, keep_first=True)
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("pos")).alias("__starts"))
        .select(F.col("id").alias("__sid"), "__starts")
    )
    toks = words(F.col(text_col))
    span = F.lit(span_tokens)
    # token i survives unless some flagged start s covers it: s<=i<s+span
    kept = F.filter(
        F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(
            F.col("__starts"),
            lambda st: (st <= s.getField("i"))
            & (s.getField("i") < st + span),
        ),
    )
    rebuilt = F.concat_ws(
        " ", F.transform(kept, lambda s: s.getField("t"))
    )
    out = df.join(
        flagged, F.col(id_col) == F.col("__sid"), "left"
    ).drop("__sid")
    return out.withColumn(
        text_col,
        F.when(F.col("__starts").isNull(), F.col(text_col)).otherwise(
            rebuilt
        ),
    ).drop("__starts")
