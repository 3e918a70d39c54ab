"""``util.take_upto`` at its boundary: each size-gated operator that
no other test pins runs with its cap lowered around a tiny frame, so
the frame sits at cap−1, cap and cap+1. Both sides of the gate must
return the same output, and the driver path must fire exactly while
the frame fits."""

import pyspark.sql.functions as F
import pytest

from sea_serpent_spark.operators import ann_index as A
from sea_serpent_spark.operators import dedup as D
from sea_serpent_spark.operators import incremental as I
from sea_serpent_spark.operators import util
from sea_serpent_spark.operators.pinned import SEMDEDUP_CENTROIDS

#: frame size minus cap: below, at and above the cap
OFFSETS = (-1, 0, 1)


def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def _gate_size(monkeypatch, cap: int, run) -> int:
    """→ the row count the one ``take_upto`` call made with ``cap``
    saw while ``run()`` ran with every cap at its default."""
    seen = []
    real = util.take_upto

    def spy(df, c):
        rows = real(df, c)
        if c == cap:
            seen.append(len(rows))
        return rows

    with monkeypatch.context() as m:
        m.setattr(util, "take_upto", spy)
        run()
    assert len(seen) == 1, seen
    return seen[0]


def _spy(monkeypatch, module, name: str) -> list:
    """Wrap ``module.name``; → the list each of its calls appends to."""
    calls = []
    real = getattr(module, name)

    def spy(*a, **kw):
        calls.append(True)
        return real(*a, **kw)

    monkeypatch.setattr(module, name, spy)
    return calls


def _components(spark, monkeypatch, tmp_path, sf_dir):
    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (7, 6), (8, 7), (9, 9)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    n = 6  # distinct non-self edges

    def run(offset):
        stats: dict = {}
        out = D.connected_components(
            pairs, stats=stats, small_graph_threshold=n - offset
        )
        return sorted(map(tuple, out.collect())), stats["small_graph"]

    return run


def _vocabulary(spark, monkeypatch, tmp_path, sf_dir):
    # 11 words in the paired docs; a padding doc of new words (it pairs
    # with nothing) brings the vocabulary to the bitmap cap ± 1
    cap = 64
    paired = [(1, _words("a", 8)), (2, _words("a", 7) + " x"),
              (3, "b0 b1")]
    dictionaries = _spy(monkeypatch, D, "_dense_token_ids")

    def run(offset):
        pad = _words("p", cap + offset - 11)
        docs = spark.createDataFrame(
            paired + [(4, pad)], "doc_id long, text string"
        )
        dictionaries.clear()
        out = D.ngram_jaccard_pairs(docs, threshold=0.5, max_bitmap_words=1)
        return sorted(map(tuple, out.collect())), not dictionaries

    return run


def _band_index(spark, tmp_path):
    base = _words("w", 12)
    old = spark.createDataFrame(
        [(1, base), (2, _words("v", 12)), (3, _words("u", 12))],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (3, _words("u", 12)),      # replay of an indexed id
            (10, base + " extra"),     # near-dup of indexed doc 1
            (11, _words("v", 11) + " y"),  # near-dup of indexed doc 2
            (12, _words("z", 12)),     # new pair 12 ~ 13
            (13, _words("z", 12) + " q"),
            (14, _words("t", 12)),     # unique
        ],
        "doc_id long, text string",
    )
    p = str(tmp_path / "band")
    I.write_band_index(
        I.minhash_band_index(old, key_buckets=8), p, key_buckets=8
    )

    def probe():
        out: dict = {}
        kept = I.incremental_dedup(
            new, I.read_band_index(spark, p), jaccard_threshold=0.5,
            key_buckets=8, ingest_out=out,
        )
        ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
        return ids, out.get("driver_path") is True

    return probe


def _band_docs(spark, monkeypatch, tmp_path, sf_dir):
    probe = _band_index(spark, tmp_path)
    d = 6  # distinct delta docs; the take reads a sig and an id each

    def run(offset):
        monkeypatch.setattr(I, "_DRIVER_PROBE_DOC_CAP", d - offset)
        return probe()

    return run


def _band_rows(spark, monkeypatch, tmp_path, sf_dir):
    probe = _band_index(spark, tmp_path)
    n = _gate_size(monkeypatch, I._DRIVER_PROBE_ROW_CAP, probe)
    assert n > 1

    def run(offset):
        monkeypatch.setattr(I, "_DRIVER_PROBE_ROW_CAP", n - offset)
        return probe()

    return run


def _ivf_rows(spark, monkeypatch, tmp_path, sf_dir):
    vectors = spark.read.parquet(
        f"{sf_dir}/embeddings.parquet"
    ).withColumn("embedding", F.col("embedding").cast("array<double>"))
    p = str(tmp_path / "ivf")
    A.build_ivf_index(
        vectors.where(F.col("vec_id") < 40), p,
        centroids=SEMDEDUP_CENTROIDS,
    )
    # ids 30-39 replay indexed ids; 1010 copies indexed 10 and 1045
    # copies new 45: all dropped, the rest kept
    delta = vectors.where(
        (F.col("vec_id") >= 30) & (F.col("vec_id") < 50)
    ).unionByName(
        vectors.where(F.col("vec_id").isin(10, 45))
        .withColumn("vec_id", F.col("vec_id") + 1000)
    )

    def probe():
        out: dict = {}
        kept = A.incremental_semantic_dedup(
            delta, p, threshold=0.45, ingest_out=out
        )
        ids = sorted(r["vec_id"] for r in kept.select("vec_id").collect())
        return ids, out.get("driver_path") is True

    n = _gate_size(monkeypatch, I._DRIVER_PROBE_ROW_CAP, probe)
    assert n > 1

    def run(offset):
        monkeypatch.setattr(I, "_DRIVER_PROBE_ROW_CAP", n - offset)
        return probe()

    return run


#: the kept rows where the site decides which rows survive
_WANT = {
    "band_docs": [12, 14],
    "band_rows": [12, 14],
    "ivf_rows": list(range(40, 50)),
}

_SITES = {
    "components": _components,
    "vocabulary": _vocabulary,
    "band_docs": _band_docs,
    "band_rows": _band_rows,
    "ivf_rows": _ivf_rows,
}


@pytest.mark.parametrize("site", sorted(_SITES))
def test_take_upto_sites_across_cap(spark, sf_dir, monkeypatch, tmp_path,
                                    site):
    """``ann_index._probe_frame``'s gate is pinned the same way by
    ``test_ann_index::test_probe_selection_runs_once``, and
    ``build_id_bloom``'s by ``test_incremental::test_id_bloom_primitive``."""
    run = _SITES[site](spark, monkeypatch, tmp_path, sf_dir)
    outs, fired = zip(*(run(offset) for offset in OFFSETS))
    assert outs[0] == outs[1] == outs[2]
    assert outs[0] == _WANT.get(site, outs[0]) and outs[0]
    assert fired == (True, True, False)
