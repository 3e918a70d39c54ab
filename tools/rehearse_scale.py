"""Scale rehearsals: the pair operators over a replicated documents
corpus, and single workload slots over scaled table directories.

Both build their inputs by replicating an sf directory's documents (and,
for slots, embeddings) with id offsets; odd replicas get a perturbation
token, so the corpus carries exact dups (even replicas), near dups (odd)
and the originals — the regimes the pair operators branch on.

``ops`` runs the pair operators and records, per operator: wall time,
output rows, and per-stage task counts, median and max task time and
shuffle read/write bytes, read from the app status store (so it works
with the UI off, as ``get_spark`` runs). A salted/banded plan is healthy
when max task time stays a small multiple of the median and shuffle
volume scales with candidates, not with the corpus square.

``build`` + ``run`` measure core scaling: ``build`` writes a directory
with 10x documents and 5x embeddings (every other table links to the
source sf directory), ``run`` times one slot per process with a noop
write, so ``SPARK_GRAFT_CPUS=8`` and ``=32`` runs give the ratio.

Usage::

    python tools/rehearse_scale.py ops --sf <sf_dir> [--replicas 10] [op ...]
    python tools/rehearse_scale.py build --sf <sf_dir> [--out <dir>]
    SPARK_GRAFT_CPUS=8 python tools/rehearse_scale.py run <slot> [--out <dir>]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``; scaled data goes under the
system temp directory unless ``--out`` names one, and is reused when
already written. ``ops`` writes JSON to stdout, ``run`` one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

DOCS_X = 10
EMB_X = 5


def replicate_docs(docs, replicas: int, extra=()):
    """``docs`` ``replicas`` times with offset ids; odd replicas carry a
    ``replica<r>`` token appended to their text."""
    n0 = docs.count()
    big = None
    for r in range(replicas):
        d = docs.select(
            (F.col("doc_id") + F.lit(r * n0)).alias("doc_id"),
            F.when(
                F.lit(r % 2 == 1),
                F.concat(F.col("text"), F.lit(f" replica{r}")),
            ).otherwise(F.col("text")).alias("text"),
            *extra,
        )
        big = d if big is None else big.unionByName(d)
    return big


class Stages:
    """Completed stages of one SparkContext, read from the app status
    store through ``perfbench/probes.py``'s :class:`StatusStore`."""

    def __init__(self, spark):
        from perfbench.probes import StatusStore

        self._status = StatusStore(spark)
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway

    def _json(self, obj):
        return json.loads(self._status.mapper.writeValueAsString(obj))

    def listed(self) -> list[dict]:
        self._status.drain()
        return self._json(self._store.stageList(
            None, False, False, self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        ))

    def next_id(self) -> int:
        return max((s["stageId"] for s in self.listed()), default=-1) + 1

    def since(self, first: int) -> list[dict]:
        """Per-stage stats of the completed stages with id ≥ ``first``."""
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        out = []
        for s in self.listed():
            if s["stageId"] < first or s["status"] != "COMPLETE":
                continue
            summary = self._json(
                self._store.taskSummary(s["stageId"], s["attemptId"], q)
            ) or {"duration": [0.0, 0.0]}
            out.append({
                "stage": s["stageId"],
                "tasks": s["numCompleteTasks"],
                "shuffle_read_mb": round(s["shuffleReadBytes"] / 1e6, 1),
                "shuffle_write_mb": round(s["shuffleWriteBytes"] / 1e6, 1),
                "task_ms_p50": summary["duration"][0],
                "task_ms_max": summary["duration"][1],
            })
        return sorted(out, key=lambda s: s["stage"])


def ops(args) -> None:
    from sea_serpent_spark.operators import dedup as D
    from sea_serpent_spark.operators.util import release_checkpoints
    from sea_serpent_spark.session import get_spark

    spark = get_spark(app_name="rehearse-scale")
    path = os.path.join(args.out, f"rehearse_docs_{args.replicas}x.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs = spark.read.parquet(os.path.join(args.sf, "documents.parquet"))
        replicate_docs(docs, args.replicas).repartition(32).write.mode(
            "overwrite"
        ).parquet(path)
    corpus = spark.read.parquet(path)
    print(f"# corpus rows: {corpus.count()}", file=sys.stderr)

    stages = Stages(spark)
    named = {
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
    results = {}
    for name, fn in named.items():
        if args.names and name not in args.names:
            continue
        release_checkpoints()
        first = stages.next_id()
        t0 = time.perf_counter()
        rows = fn().count()
        wall = round(time.perf_counter() - t0, 2)
        done = stages.since(first)
        results[name] = {
            "wall_s": wall,
            "rows": rows,
            "n_stages": len(done),
            "total_shuffle_write_mb": round(
                sum(s["shuffle_write_mb"] for s in done), 1
            ),
            "worst_stage": max(
                done, key=lambda s: s["task_ms_max"], default=None
            ),
        }
        print(f"# {name}: {wall}s rows={rows}", file=sys.stderr)
    print(json.dumps(results, indent=1))


def build(args) -> None:
    from sea_serpent_spark.session import get_spark

    spark = get_spark(app_name="scale-build")
    root = os.path.join(args.out, "scale")
    os.makedirs(root, exist_ok=True)
    for f in os.listdir(args.sf):
        dst = os.path.join(root, f)
        if f not in ("documents.parquet", "embeddings.parquet") and not (
            os.path.exists(dst)
        ):
            os.symlink(os.path.join(os.path.abspath(args.sf), f), dst)
    docs = spark.read.parquet(os.path.join(args.sf, "documents.parquet"))
    replicate_docs(
        docs, DOCS_X, ("lang", "source", "n_chars")
    ).repartition(32).write.mode("overwrite").parquet(
        os.path.join(root, "documents.parquet")
    )
    emb = spark.read.parquet(os.path.join(args.sf, "embeddings.parquet"))
    m0 = emb.count()
    big = None
    for r in range(EMB_X):
        e = emb.select(
            (F.col("vec_id") + F.lit(r * m0)).alias("vec_id"),
            # rotate one coordinate per replica so replicas are near
            # (not exact) neighbors — keeps pair counts linear-ish
            F.transform(
                "embedding",
                lambda x, i: x + (i == F.lit(r % 16)).cast("float")
                * F.lit(0.01 * r),
            ).alias("embedding"),
            "label",
        )
        big = e if big is None else big.unionByName(e)
    big.repartition(32).write.mode("overwrite").parquet(
        os.path.join(root, "embeddings.parquet")
    )
    print("built", root)


def run(args) -> None:
    from sea_serpent_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(app_name=f"scale-{args.slot}")
    fn = E.queries()[args.slot]
    t0 = time.monotonic()
    fn(spark, os.path.join(args.out, "scale")).write.format("noop").mode(
        "overwrite"
    ).save()
    print(json.dumps({
        "slot": args.slot,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "wall_s": round(time.monotonic() - t0, 2),
    }))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["ops", "build", "run"])
    ap.add_argument("names", nargs="*", help="ops to run, or the slot")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--replicas", type=int, default=DOCS_X)
    ap.add_argument(
        "--out", default=os.path.join(tempfile.gettempdir(), "rehearse")
    )
    args = ap.parse_intermixed_args()
    if args.mode != "run" and not args.sf:
        ap.error("--sf (or SPARK_GRAFT_SF_DIR) names the source sf dir")
    if args.mode == "run":
        if len(args.names) != 1:
            ap.error("run takes exactly one slot")
        args.slot = args.names[0]
    os.makedirs(args.out, exist_ok=True)
    {"ops": ops, "build": build, "run": run}[args.mode](args)


if __name__ == "__main__":
    main()
