"""Scale rehearsal for the pair operators (VERDICT round-3 item 7).

Builds a 10x documents corpus (50k rows — sf1-equivalent for the
documents table) under /tmp by replicating sf0.1 with id offsets and a
per-replica text perturbation on half the copies (so the corpus carries
exact dups, near dups, and novel docs), then runs the four pair
operators and records, per operator: wall time, output rows, and — from
the Spark UI REST API — per-stage max task time and shuffle read/write
bytes. The question under test is stage serialization: a salted/banded
plan is healthy when max task time stays a small multiple of the median
and shuffle volume scales with candidates, not with the corpus square.

Usage: python tools/rehearse_scale.py [replicas] [op ...]
(ops default to all four; the 10x corpus parquet is reused if already
written, so ops can run one per process inside a wall-clock budget).
Writes JSON to stdout; paste the summary into BENCH_NOTES.md.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402


def stage_stats(spark, since_stage: int) -> list[dict]:
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    stages = json.load(
        urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete"
        )
    )
    out = []
    for s in stages:
        if s["stageId"] < since_stage:
            continue
        # taskSummaries endpoint needs ?quantiles; the per-stage object
        # already carries aggregate task time + shuffle volumes
        tasks = json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages/{s['stageId']}/"
                f"{s['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )
        )
        out.append(
            {
                "stage": s["stageId"],
                "tasks": s["numCompleteTasks"],
                "shuffle_read_mb": round(s["shuffleReadBytes"] / 1e6, 1),
                "shuffle_write_mb": round(s["shuffleWriteBytes"] / 1e6, 1),
                "task_ms_p50": tasks["duration"][0],
                "task_ms_max": tasks["duration"][1],
            }
        )
    return out


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    chosen = sys.argv[2:]
    from sea_serpent_spark.session import get_spark

    spark = get_spark(
        app_name="rehearse-scale",
        extra_conf={"spark.ui.enabled": "true"},
    )
    import os

    path = f"/tmp/rehearse_docs_{replicas}x.parquet"
    if not os.path.exists(path + "/_SUCCESS"):
        docs = spark.read.parquet(
            "/root/testdata/sf0.1/documents.parquet"
        )
        n0 = docs.count()
        reps = []
        for r in range(replicas):
            d = docs.select(
                (F.col("doc_id") + F.lit(r * n0)).alias("doc_id"),
                # odd replicas get a perturbation token so the corpus
                # holds exact dups (even replicas), near dups (odd), and
                # the original — the regimes the pair operators branch on
                F.when(
                    F.lit(r % 2 == 1),
                    F.concat(F.col("text"), F.lit(f" replica{r}")),
                )
                .otherwise(F.col("text"))
                .alias("text"),
            )
            reps.append(d)
        big = reps[0]
        for d in reps[1:]:
            big = big.unionByName(d)
        big.repartition(32).write.mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
    print(f"# corpus rows: {corpus.count()}", file=sys.stderr)

    from sea_serpent_spark.operators import dedup as D
    from sea_serpent_spark.operators.util import release_checkpoints

    def tracker():
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        stages = json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages"
            )
        )
        return (max((s["stageId"] for s in stages), default=-1) + 1)

    results = {}
    ops = {
        "minhash_lsh_pairs": lambda: D.minhash_lsh_pairs(
            corpus, jaccard_threshold=0.5
        ),
        "ngram_jaccard_pairs": lambda: D.ngram_jaccard_pairs(
            corpus, shingle_n=1, threshold=0.8
        ),
        "simhash_pairs": lambda: D.simhash_pairs(corpus, max_hamming=8),
        "connected_components": lambda: D.connected_components(
            D.minhash_lsh_pairs(corpus, jaccard_threshold=0.5)
        ),
        # the production dedup path: spanning edges (star + rep-level),
        # not the full clique expansion the stress op above feeds CC
        "dedup_corpus_minhash": lambda: D.dedup_corpus(
            corpus, threshold=0.5
        ),
        "spanning_edges_minhash": lambda: D.minhash_lsh_pairs(
            corpus, jaccard_threshold=0.5, emit="spanning"
        ),
    }
    for name, fn in ops.items():
        if chosen and name not in chosen:
            continue
        release_checkpoints()
        first = tracker()
        t0 = time.perf_counter()
        rows = fn().count()
        wall = round(time.perf_counter() - t0, 2)
        stages = stage_stats(spark, first)
        worst = max(stages, key=lambda s: s["task_ms_max"], default=None)
        results[name] = {
            "wall_s": wall,
            "rows": rows,
            "n_stages": len(stages),
            "total_shuffle_write_mb": round(
                sum(s["shuffle_write_mb"] for s in stages), 1
            ),
            "worst_stage": worst,
        }
        print(f"# {name}: {wall}s rows={rows}", file=sys.stderr)
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
