"""The shared generation opener (operators/artifact.py) over both index
kinds: the LSH band index and the IVF index open, cache, append to and
compact their generations through the same code, so one test pins the
opener's safety properties for both."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from sea_serpent_spark.operators import ann_index as A
from sea_serpent_spark.operators import artifact as ART
from sea_serpent_spark.operators import incremental as I
from sea_serpent_spark.operators.pinned import SEMDEDUP_CENTROIDS
from sea_serpent_spark.operators.util import SCALAR, posture


class _Band:
    sidecar = I._INDEX_META
    id_col = "id"

    def __init__(self, spark, sf_dir):
        self.docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def rows(self, lo, hi):
        return I.minhash_band_index(
            self.docs.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ),
            key_buckets=4,
        )

    def build(self, path, lo, hi):
        I.write_band_index(self.rows(lo, hi), path, key_buckets=4)

    def append(self, path, lo, hi):
        I.write_band_index(
            self.rows(lo, hi), path, mode="append", key_buckets=4
        )

    def legacy(self, path, lo, hi):
        I._write_layout(self.rows(lo, hi), path, 4)  # no manifest

    def open(self, spark, path):
        return I.read_band_index(spark, path)

    def compact(self, spark, path):
        I.compact_band_index(spark, path)


class _Ivf:
    sidecar = A._ANN_META
    id_col = "vec_id"

    def __init__(self, spark, sf_dir):
        self.vecs = spark.read.parquet(
            f"{sf_dir}/embeddings.parquet"
        ).select(
            "vec_id", F.col("embedding").cast("array<double>").alias(
                "embedding"
            ),
        )

    def rows(self, lo, hi):
        return self.vecs.where(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        )

    def build(self, path, lo, hi):
        A.build_ivf_index(
            self.rows(lo, hi), path, centroids=SEMDEDUP_CENTROIDS
        )

    def append(self, path, lo, hi):
        A.append_to_ivf_index(self.rows(lo, hi), path)

    def legacy(self, path, lo, hi):
        from sea_serpent_spark.operators.similarity import ivf_assign

        ART.write_layout(
            ivf_assign(self.rows(lo, hi), SEMDEDUP_CENTROIDS, "embedding"),
            path, ["label"], ["vec_id"], A._ANN_META,
            {"centroids": SEMDEDUP_CENTROIDS, "id_col": "vec_id"},
        )

    def open(self, spark, path):
        return A.read_ivf_index(spark, path)[0]

    def compact(self, spark, path):
        A.compact_ivf_index(spark, path)


def _ids(kind, df):
    return {r[0] for r in df.select(kind.id_col).distinct().collect()}


def _cached(spark, gen_dir):
    """The cache entries opened for ``gen_dir`` in this application."""
    return [
        v for k, v in ART._MAIN_FRAME_CACHE.items()
        if k[0] == spark.sparkContext.applicationId and k[1] == gen_dir
    ]


@pytest.mark.parametrize("kind_cls", [_Band, _Ivf], ids=["band", "ivf"])
def test_index_generation_open(spark, sf_dir, tmp_path, kind_cls):
    kind = kind_cls(spark, sf_dir)
    p = str(tmp_path / "idx")
    ART._MAIN_FRAME_CACHE.clear()

    def want(lo, hi):
        return _ids(kind, kind.rows(lo, hi))

    # a hot open reuses the generation's analyzed main frame
    kind.build(p, 0, 60)
    gen1 = ART.current_dir(p)
    assert _ids(kind, kind.open(spark, p)) == want(0, 60)
    (entry,) = _cached(spark, gen1)
    main = entry[1]
    assert main is not None
    kind.open(spark, p)
    assert _cached(spark, gen1)[0][1] is main

    # a same-path rebuild reuses the generation NAME with new files: the
    # sidecar's stat triple makes it a cache miss, never a frame over
    # deleted parquet
    shutil.rmtree(p)
    kind.build(p, 100, 130)
    assert ART.current_dir(p) == gen1
    assert _ids(kind, kind.open(spark, p)) == want(100, 130)
    assert len(_cached(spark, gen1)) == 2

    # an empty append leaves a tail with no rows (the band tail's
    # partitioned write leaves no data file at all, the IVF tail's an
    # empty one, dropped here to get the same state); it reads with the
    # main schema, where inference would fail
    main_schema = kind.open(spark, p).schema
    kind.append(p, 10_000, 10_001)
    tail = os.path.join(gen1, ART.TAIL)
    for d, _, files in os.walk(tail):
        for f in files:
            if f.endswith(".parquet"):
                os.remove(os.path.join(d, f))
    assert os.path.exists(os.path.join(tail, "_SUCCESS"))
    opened = kind.open(spark, p)
    assert opened.schema == main_schema
    assert _ids(kind, opened) == want(100, 130)

    # a frame cached from a posture clone (a sink batch's session) is
    # rebound to the session of the caller that hits it
    clone = posture(spark.range(1), SCALAR).sparkSession
    assert clone is not spark
    ART._MAIN_FRAME_CACHE.clear()
    assert kind.open(clone, p).sparkSession is clone
    (entry,) = _cached(spark, gen1)
    assert entry[1].sparkSession is clone
    hit = kind.open(spark, p)
    assert hit.sparkSession is spark
    assert _cached(spark, gen1)[0][1] is entry[1]
    assert _ids(kind, hit) == want(100, 130)

    # a probe during a compaction keeps its generation: appended rows
    # are visible through the re-listed tail, the pinned frame reads the
    # same rows after the compaction publishes, a fresh open resolves
    # the compacted generation
    kind.append(p, 130, 160)
    pinned = kind.open(spark, p)
    assert _ids(kind, pinned) == want(100, 160)
    kind.compact(spark, p)
    gen2 = ART.current_dir(p)
    assert gen2 != gen1
    assert _ids(kind, pinned) == want(100, 160)
    assert _ids(kind, kind.open(spark, p)) == want(100, 160)
    assert len(_cached(spark, gen2)) == 1

    # a legacy flat layout (data at the root, no manifest) is never
    # cached: its appends may land in the root itself
    lp = str(tmp_path / "legacy")
    kind.legacy(lp, 0, 40)
    assert ART.read_manifest(lp) is None
    gen = ART.open_generation(spark, lp, kind.sidecar)
    assert gen.dir == lp and gen.key is None
    assert _ids(kind, kind.open(spark, lp)) == want(0, 40)
    kind.append(lp, 40, 50)
    assert _ids(kind, kind.open(spark, lp)) == want(0, 50)
    assert not _cached(spark, lp)
