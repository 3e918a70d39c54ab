"""The member expansion the group-canonicalizing pair operators share
(``dedup._expand_groups``): the same pairs on both sides of the
broadcast gate, and the loser/fresh sides of the keep policies run
once per execution."""

import collections
import functools

import pyspark.sql.functions as F
import pytest

from sea_serpent_spark.operators import dedup as D
from sea_serpent_spark.operators import incremental as I


@pytest.fixture(scope="module")
def dup_docs(spark, sf_dir):
    """120 documents plus exact copies of every fourth one (ids
    +1000): groups of identical sketches for every operator."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 120
    )
    copies = docs.where(F.col("doc_id") % 4 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000
    )
    return docs.unionByName(copies)


def _minhash(docs):
    return D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)


def _ngram(docs):
    return D.ngram_jaccard_pairs(docs, threshold=0.8)


def _simhash(docs):
    return D.simhash_pairs(docs)


def _incremental(docs):
    index = I.minhash_band_index(docs.where(F.col("doc_id") < 60))
    return I.incremental_minhash_pairs(
        docs.where(F.col("doc_id") >= 60), index, jaccard_threshold=0.5
    )


@pytest.mark.parametrize(
    "op", [_minhash, _ngram, _simhash, _incremental],
    ids=["minhash", "ngram_dense", "simhash", "incremental"],
)
def test_expansion_same_pairs_across_broadcast_gate(
    spark, monkeypatch, dup_docs, op
):
    """``emit="pairs"`` expands rep edges to member edges with the
    member lists broadcast (default cap) and shuffled (cap 0): the gate
    moves the join strategy only, never a pair."""
    flags, dense = [], []
    real_broadcast, real_dense = D._maybe_broadcast, D._dense_allpairs

    def spy_broadcast(side, flag):
        flags.append(flag)
        return real_broadcast(side, flag)

    def spy_dense(*args, **kwargs):
        dense.append(1)
        return real_dense(*args, **kwargs)

    monkeypatch.setattr(D, "_maybe_broadcast", spy_broadcast)
    monkeypatch.setattr(D, "_dense_allpairs", spy_dense)
    out = {}
    for cap in (D.BROADCAST_VERIFY_CAP, 0):
        monkeypatch.setattr(D, "BROADCAST_VERIFY_CAP", cap)
        flags.clear()
        out[cap] = sorted(tuple(r) for r in op(dup_docs).collect())
        assert flags == [cap > 0] * 2  # both member sides, this gate
    default, shuffled = out.values()
    assert default == shuffled
    pairs = {(a, b) for a, b, _ in default}
    assert (0, 1000) in pairs and (116, 1116) in pairs  # intra-group
    # a rep edge expanded to a copy: the inter-group joins ran too
    assert any(b >= 1000 and b - 1000 != a for a, b in pairs)
    assert bool(dense) == (op is _ngram)


def _logging_udf(log, fn, ret):
    """``fn`` as a UDF that appends its first argument to ``log`` on
    every call: an accumulator would miss the calls of a task a take
    stops early."""
    def call(doc_id, *args):
        with open(log, "a") as f:
            f.write(f"{doc_id}\n")
        return fn(doc_id, *args)

    return F.udf(call, ret)


def _calls(log):
    with open(log) as f:
        return collections.Counter(int(x) for x in f)


@pytest.mark.parametrize("path", ["exact", "minhash_distributed_cc"])
def test_keep_policy_losers_run_once(spark, monkeypatch, tmp_path, sf_dir,
                                     path):
    """``dedup_corpus(keep="max")`` fills its loser side once before
    the broadcast gate: each row's score is computed once for the
    losers and once for the returned rows. The gate's count used to
    execute the whole loser subtree a second time."""
    log = str(tmp_path / "scored")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 24
    )
    docs = docs.unionByName(
        docs.where(F.col("doc_id") % 4 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000
        )
    )
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    docs = docs.withColumn(
        "score", _logging_udf(log, lambda i: i % 7, "long")("doc_id")
    )
    if path == "minhash_distributed_cc":
        monkeypatch.setattr(
            D, "connected_components",
            functools.partial(D.connected_components, small_graph_threshold=0),
        )
    stats = {}
    out = D.dedup_corpus(
        docs, method=path.split("_")[0], threshold=0.5, keep="max",
        keep_col="score", cc_stats=stats,
    ).collect()
    assert stats.get("small_graph", False) is False
    kept = {r["doc_id"] for r in out}
    # a copy and its original never both survive
    assert not any(i in kept and i + 1000 in kept for i in range(0, 24, 4))
    assert _calls(log) == {i: 2 for i in ids}


def test_incremental_exact_fresh_side_runs_once(spark, tmp_path, sf_dir):
    """``incremental_exact_dedup`` fills its fresh-id side once before
    the broadcast gate: each delta row's text is computed once for the
    fresh ids and once for the returned rows."""
    log = str(tmp_path / "read")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seen = D.exact_dedup_groups(docs.where(F.col("doc_id") < 10))
    delta = docs.where(F.col("doc_id") < 30).withColumn(
        "text", _logging_udf(log, lambda i, t: t, "string")("doc_id", "text")
    )
    out = I.incremental_exact_dedup(delta, seen).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(10, 30))
    assert _calls(log) == {i: 2 for i in range(30)}
