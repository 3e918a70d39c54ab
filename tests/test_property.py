"""Property-based equivalence: random predicate trees through the
engine's Filter algebra must select exactly the rows pandas selects.

The engine compiles ``Column`` comparisons to Spark boolean expressions
(core/column.py, core/filter.py — the reference builds SQL strings,
base.py:2261-2314); hypothesis hammers the composition space
(&, |, ~ over comparison/string/membership leaves) far beyond the
hand-written cases. lineitem has no NULLs, so three-valued-logic
divergence (Spark NOT(NULL) drops the row, pandas keeps it) can't
mask a real algebra bug — NULL semantics get their own directed tests
(q05/q06/q12 oracles).
"""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

NUM_COLS = ["l_quantity", "l_discount", "l_extendedprice"]
STR_COLS = ["l_returnflag", "l_linestatus"]


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    from sea_serpent_spark import Table

    t = Table.from_parquet(f"{sf_dir}/lineitem.parquet", "lineitem", spark)
    cols = ["l_orderkey", "l_linenumber", *NUM_COLS, *STR_COLS]
    t = t.select(cols)
    t.df.persist().count()
    pdf = t.to_frame()
    return t, pdf


def _num_leaf(draw):
    col = draw(st.sampled_from(NUM_COLS))
    op = draw(st.sampled_from(["==", "<", "<=", ">", ">=", "!=", "between"]))
    if col == "l_quantity":
        lo, hi = 1.0, 50.0
    elif col == "l_discount":
        lo, hi = 0.0, 0.1
    else:
        lo, hi = 900.0, 100_000.0
    a = draw(st.floats(lo, hi, allow_nan=False))
    if op == "between":
        b = draw(st.floats(a, hi, allow_nan=False))
        return (
            lambda t: t[col].between(a, b),
            lambda p: (p[col] >= a) & (p[col] <= b),
        )
    import operator

    ops = {"==": operator.eq, "<": operator.lt, "<=": operator.le,
           ">": operator.gt, ">=": operator.ge, "!=": operator.ne}
    return (lambda t: ops[op](t[col], a), lambda p: ops[op](p[col], a))


def _str_leaf(draw):
    col = draw(st.sampled_from(STR_COLS))
    op = draw(st.sampled_from(
        ["==", "contains", "startswith", "endswith", "isin"]))
    s = draw(st.text(alphabet="ABFNORAIL MErego", min_size=1, max_size=3))
    if op == "==":
        return (lambda t: t[col] == s, lambda p: p[col] == s)
    if op == "contains":
        return (
            lambda t: t[col].contains(s),
            lambda p: p[col].str.contains(s, regex=False),
        )
    if op == "startswith":
        return (
            lambda t: t[col].startswith(s),
            lambda p: p[col].str.startswith(s),
        )
    if op == "endswith":
        return (
            lambda t: t[col].endswith(s),
            lambda p: p[col].str.endswith(s),
        )
    vals = draw(st.lists(
        st.text(alphabet="ABFNORAIL", min_size=1, max_size=2),
        min_size=1, max_size=4))
    return (lambda t: t[col].isin(vals), lambda p: p[col].isin(vals))


@st.composite
def predicate_tree(draw, depth=0):
    kind = draw(st.sampled_from(
        ["num", "str"] if depth >= 2 else ["num", "str", "and", "or", "not"]
    ))
    if kind == "num":
        return _num_leaf(draw)
    if kind == "str":
        return _str_leaf(draw)
    if kind == "not":
        f, g = draw(predicate_tree(depth=depth + 1))
        return (lambda t: ~f(t), lambda p: ~g(p))
    f1, g1 = draw(predicate_tree(depth=depth + 1))
    f2, g2 = draw(predicate_tree(depth=depth + 1))
    if kind == "and":
        return (lambda t: f1(t) & f2(t), lambda p: g1(p) & g2(p))
    return (lambda t: f1(t) | f2(t), lambda p: g1(p) | g2(p))


@settings(max_examples=40, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(tree=predicate_tree())
def test_filter_algebra_matches_pandas(li, tree):
    t, pdf = li
    make_filter, make_mask = tree
    got = t.loc[make_filter(t), ["l_orderkey", "l_linenumber"]].to_frame()
    got_keys = set(map(tuple, got.values.tolist()))
    want = pdf[make_mask(pdf)]
    want_keys = set(
        map(tuple, want[["l_orderkey", "l_linenumber"]].values.tolist())
    )
    assert got_keys == want_keys


# ---------------------------------------------------------------------------
# fuzzy edit-distance join vs brute force, random corpora
# ---------------------------------------------------------------------------

def _lev(a, b):
    m, n = len(a), len(b)
    if m == 0:
        return n
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
    return prev[n]


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.text(alphabet="abcx ", min_size=0, max_size=12),
        min_size=2, max_size=14,
    ),
    k=st.integers(0, 2),
)
def test_edit_distance_pairs_property(spark, data, k):
    """Random small-alphabet corpora (high collision rates, boundary
    lengths around the gram-filter floor): the q-gram path must equal
    quadratic Levenshtein exactly — no false negatives from the prefix
    filter, no false positives past the verify."""
    from sea_serpent_spark.operators.fuzzy import edit_distance_pairs

    rows = [(i, s) for i, s in enumerate(data)]
    df = spark.createDataFrame(rows, ["sid", "txt"])
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in edit_distance_pairs(df, "txt", "sid", k).collect()
    }
    want = {
        (a, b, _lev(sa, sb))
        for a, sa in rows
        for b, sb in rows
        if a < b and _lev(sa, sb) <= k
    }
    assert got == want


@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]),
            min_size=0, max_size=12,
        ),
        min_size=2, max_size=8,
    ),
    span=st.integers(2, 4),
)
def test_duplicate_spans_property(spark, docs, span):
    """Random token sequences over a tiny vocabulary (maximal window
    collisions): flagged occurrences must equal brute force — every
    repeat window except the corpus-wide (id, pos)-min occurrence."""
    from sea_serpent_spark.operators import spans as SP

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id"], r["pos"])
        for r in SP.duplicate_spans(
            df, span_tokens=span, keep_first=True
        ).collect()
    }
    occ = {}
    for i, toks in enumerate(docs):
        for p in range(max(len(toks) - span + 1, 0)):
            occ.setdefault(tuple(toks[p:p + span]), []).append((i, p))
    want = set()
    for ks in occ.values():
        if len(ks) >= 2:
            want.update(sorted(ks)[1:])
    assert got == want


# ---------------------------------------------------------------------------
# round-4 operators: packing, layout, spanning equivalence
# ---------------------------------------------------------------------------

@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_pack_sequences_invariants(spark, data):
    """Random size multisets: every doc assigned exactly once, no bin
    over capacity, and bins ≥ the information-theoretic lower bound
    ceil(total/cap) — BFD can't beat it, must not violate capacity."""
    import math

    from sea_serpent_spark.operators.curation import pack_sequences

    cap = data.draw(st.integers(8, 64))
    sizes = data.draw(
        st.lists(st.integers(0, cap), min_size=1, max_size=60)
    )
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)], "doc_id long, n long"
    )
    out = pack_sequences(df, "n", cap, partitions=1).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(len(sizes)))
    fills: dict = {}
    for r in out:
        fills[r["seq_id"]] = fills.get(r["seq_id"], 0) + sizes[r["doc_id"]]
    assert all(v <= cap for v in fills.values())
    total = sum(sizes)
    assert len(fills) >= math.ceil(total / cap) if total else True


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_zorder_key_matches_reference_morton(spark, data):
    """Random cell grids: the engine's interleaved key equals the pure-
    python Morton reference for every (x, y) drawn."""
    from sea_serpent_spark.operators.layout import zorder_key

    bits = data.draw(st.integers(1, 8))
    n = 1 << bits
    pts = data.draw(st.lists(
        st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
        min_size=1, max_size=30, unique=True))
    df = spark.createDataFrame(pts, "x long, y long")
    got = df.withColumn("z", zorder_key(
        df, ["x", "y"], bits=bits, ranges={"x": (0, n), "y": (0, n)}
    )).collect()

    def morton(x, y):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for r in got:
        assert r["z"] == morton(r["x"], r["y"]), (r["x"], r["y"])


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_minhash_pairs_equal_naive_banded_join(spark, data):
    """Random dup-structured corpora: the production operator (signature
    canonicalization + salted band join + first-agreeing-band emission)
    emits EXACTLY the naive formulation's pair set — an uncanonicalized
    all-docs band self-join with a distinct, built from the same
    banding primitive but none of the optimizations under test."""
    import pyspark.sql.functions as F

    from sea_serpent_spark.operators.dedup import (
        banded_signatures,
        minhash_lsh_pairs,
        minhash_signature,
    )

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    n_docs = data.draw(st.integers(4, 20))
    rows = []
    for i in range(n_docs):
        k = data.draw(st.integers(1, len(words)))
        toks = data.draw(st.permutations(words))[:k]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(df, jaccard_threshold=0.5).collect()
    }

    sigs = minhash_signature(df)
    banded = banded_signatures(sigs, 16, 4, keep=("sig",))
    a = banded.select(
        F.col("id").alias("ia"), F.col("sig").alias("sa"), "band", "key"
    )
    b = banded.select(
        F.col("id").alias("ib"), F.col("sig").alias("sb"), "band", "key"
    )
    agree = sum(
        F.when(
            F.element_at("sa", i + 1) == F.element_at("sb", i + 1), 1
        ).otherwise(0)
        for i in range(16)
    )
    naive = {
        (r.ia, r.ib, r.jaccard)
        for r in a.join(b, ["band", "key"])
        .where(F.col("ia") < F.col("ib"))
        .select(
            "ia", "ib", F.round(agree / F.lit(16.0), 4).alias("jaccard")
        )
        .where(F.col("jaccard") >= 0.5)
        .distinct()
        .collect()
    }
    assert got == naive


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_simhash_pairs_equal_naive_chunk_join(spark, data):
    """Random corpora AND a drawn max_hamming spanning both execution
    regimes (dense all-pairs when mh < chunks, banded enumeration with
    first-agreeing-chunk emission otherwise): the production operator
    equals the naive uncanonicalized chunk join with a distinct."""
    import pyspark.sql.functions as F

    from sea_serpent_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash_pairs,
        simhash_signatures,
    )

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta"]
    n_docs = data.draw(st.integers(4, 20))
    mh = data.draw(st.sampled_from([2, 5, 8, 11]))
    rows = []
    for i in range(n_docs):
        k = data.draw(st.integers(1, len(words)))
        toks = data.draw(st.permutations(words))[:k]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(df, max_hamming=mh).collect()
    }

    sigs = simhash_signatures(df)
    width = SIMHASH_BITS // 4
    mask = (1 << width) - 1
    chunk_cols = [
        F.struct(
            F.lit(i).alias("c"),
            F.shiftright("sim", i * width)
            .bitwiseAND(F.lit(mask))
            .alias("v"),
        )
        for i in range(4)
    ]
    banded = sigs.select(
        "id", "sim", F.explode(F.array(*chunk_cols)).alias("ck")
    ).select("id", "sim", F.col("ck.c").alias("c"),
             F.col("ck.v").alias("v"))
    a = banded.select(
        F.col("id").alias("ia"), F.col("sim").alias("sa"), "c", "v"
    )
    b = banded.select(
        F.col("id").alias("ib"), F.col("sim").alias("sb"), "c", "v"
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    naive = {
        (r.ia, r.ib, r.hamming)
        for r in a.join(b, ["c", "v"])
        .where(F.col("ia") < F.col("ib"))
        .select("ia", "ib", ham.alias("hamming"))
        .where(F.col("hamming") <= mh)
        .distinct()
        .collect()
    }
    assert got == naive


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_incremental_pairs_equal_batch_restriction_random(spark, data):
    """Random corpora + random history/delta split: the incremental
    probe (index join, first-agreeing-band + orientation dedup) equals
    the batch operator's pair set restricted to delta-touching pairs —
    the exactness-of-the-restriction claim, fuzzed beyond the fixed
    doc_id<N fixtures."""
    from sea_serpent_spark.operators.dedup import minhash_lsh_pairs
    from sea_serpent_spark.operators.incremental import (
        incremental_minhash_pairs,
        minhash_band_index,
    )

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    n_docs = data.draw(st.integers(4, 18))
    cut = data.draw(st.integers(1, n_docs - 1))
    rows = []
    for i in range(n_docs):
        k = data.draw(st.integers(1, len(words)))
        toks = data.draw(st.permutations(words))[:k]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hist = df.where(f"doc_id < {cut}")
    delta = df.where(f"doc_id >= {cut}")

    idx = minhash_band_index(hist)
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in incremental_minhash_pairs(
            delta, idx, jaccard_threshold=0.5
        ).collect()
    }
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(df, jaccard_threshold=0.5).collect()
        if r.id_a >= cut or r.id_b >= cut
    }
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_spanning_equivalence_random_corpora(spark, data):
    """Random dup-structured corpora: minhash spanning edges give the
    same connected components as the full pair expansion."""
    from sea_serpent_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    n_docs = data.draw(st.integers(4, 24))
    rows = []
    for i in range(n_docs):
        k = data.draw(st.integers(1, len(words)))
        # draw a subset; duplicates across docs arise naturally
        toks = data.draw(st.permutations(words))[:k]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = minhash_lsh_pairs(df, jaccard_threshold=0.5)
    span = minhash_lsh_pairs(df, jaccard_threshold=0.5, emit="spanning")
    cf = {r.id: r.component for r in connected_components(full).collect()}
    cs = {r.id: r.component for r in connected_components(span).collect()}
    assert cf == cs


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_incremental_driver_path_parity_fuzz(spark, tmp_path_factory,
                                             data, monkeypatch):
    """r14 fuzz of the local-probe contract: for random seeded indexes
    and adversarial deltas (dup ids, replayed ids, NULL ids, NULL /
    empty / whitespace texts, near-dup and exact-dup content), the
    driver path and the forced-distributed flow keep EXACTLY the same
    survivor multiset."""
    from sea_serpent_spark.operators import incremental as I

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]

    def text(d):
        draw = d.draw
        kind = draw(st.integers(0, 5))
        if kind == 0:
            return None
        if kind == 1:
            return ""
        if kind == 2:
            return "   "
        k = draw(st.integers(1, len(words)))
        return " ".join(draw(st.permutations(words))[:k])

    n_seed = data.draw(st.integers(2, 8))
    seed_rows = [(i, text(data)) for i in range(n_seed)]
    # seed docs need non-null text to land in the index at all, but a
    # few NULLs in the seed exercise the sig-less write path too
    n_delta = data.draw(st.integers(1, 10))
    delta_rows = []
    for _ in range(n_delta):
        rid = data.draw(
            st.one_of(st.none(), st.integers(0, n_seed + 5))
        )
        delta_rows.append((rid, text(data)))

    p = str(tmp_path_factory.mktemp("fuzz") / "idx")
    seed = spark.createDataFrame(seed_rows, "doc_id long, text string")
    I.write_band_index(
        I.minhash_band_index(seed, key_buckets=4), p, key_buckets=4
    )
    delta = spark.createDataFrame(delta_rows, "doc_id long, text string")

    def survivors(force_distributed):
        if force_distributed:
            monkeypatch.setattr(I, "_DRIVER_PROBE_DOC_CAP", 0)
        else:
            monkeypatch.setattr(I, "_DRIVER_PROBE_DOC_CAP", 20_000)
        res: dict = {}
        kept = I.incremental_dedup(
            delta, I.read_band_index(spark, p), key_buckets=4,
            jaccard_threshold=0.5, ingest_out=res,
        )
        got = sorted(
            ((r["doc_id"], r["text"]) for r in kept.collect()),
            key=lambda t: (t[0] is None, t[0], t[1] is None, t[1]),
        )
        return got, res.get("driver_path")

    drv, path_a = survivors(False)
    assert path_a is True
    dist, path_b = survivors(True)
    assert path_b is False
    assert drv == dist


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_semantic_driver_path_parity_fuzz(spark, tmp_path_factory,
                                          data, monkeypatch):
    """r14 fuzz, the semantic twin of the LSH parity fuzz: random
    seeded IVF indexes and adversarial deltas (dup ids, replayed ids,
    exact-dup vectors, near-dup vectors) keep the same survivors on
    the driver path and the forced-distributed flow."""
    from sea_serpent_spark.operators import ann_index as A
    from sea_serpent_spark.operators import incremental as I
    from sea_serpent_spark.operators.similarity import kmeans_fit

    dim = 4

    def vec(d):
        kind = d.draw(st.integers(0, 2))
        if kind == 0:  # axis-ish cluster members
            ax = d.draw(st.integers(0, dim - 1))
            base = [0.05] * dim
            base[ax] = 1.0
            return [round(v + d.draw(
                st.floats(-0.02, 0.02, allow_nan=False)
            ), 4) for v in base]
        if kind == 1:  # exact canonical axis (exact-dup generator)
            ax = d.draw(st.integers(0, dim - 1))
            return [1.0 if i == ax else 0.0 for i in range(dim)]
        return [round(d.draw(
            st.floats(-1.0, 1.0, allow_nan=False)
        ), 4) or 0.1 for _ in range(dim)]

    n_seed = data.draw(st.integers(3, 8))
    seed_rows = [(i, vec(data)) for i in range(n_seed)]
    n_delta = data.draw(st.integers(1, 8))
    delta_rows = [
        (data.draw(st.integers(0, n_seed + 4)), vec(data))
        for _ in range(n_delta)
    ]
    p = str(tmp_path_factory.mktemp("semfuzz") / "idx")
    seed = spark.createDataFrame(
        seed_rows, "vec_id long, embedding array<double>"
    )
    cents = kmeans_fit(seed, "embedding", 2)
    A.build_ivf_index(seed, p, centroids=cents)
    delta = spark.createDataFrame(
        delta_rows, "vec_id long, embedding array<double>"
    )

    def survivors(force_distributed):
        monkeypatch.setattr(
            I, "_DRIVER_PROBE_DOC_CAP",
            0 if force_distributed else 20_000,
        )
        res: dict = {}
        kept = A.incremental_semantic_dedup(
            delta, p, threshold=0.9, ingest_out=res
        )
        got = sorted(
            (r["vec_id"], tuple(r["embedding"]))
            for r in kept.collect()
        )
        return got, res.get("driver_path")

    drv, path_a = survivors(False)
    assert path_a is True
    dist, path_b = survivors(True)
    assert path_b is False
    assert drv == dist
