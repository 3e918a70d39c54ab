"""Physical-plan assertions: the properties that make operators scale.

Each test inspects ``explain``-level output, not results — a plan that
reads every column, skips predicate pushdown, or shuffles a broadcastable
dimension would still pass value checks at test scale and then fall over
at 100 TB. These pin the plan shape Catalyst must produce.
"""

import pyspark.sql.functions as F
import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    from sea_serpent_spark import Table

    return Table.from_parquet(f"{sf_dir}/lineitem.parquet", "lineitem")


def test_filter_pushdown_reaches_scan(lineitem):
    t = lineitem.loc[lineitem.l_quantity >= 45, ["l_orderkey"]]
    plan = _plan(t.df)
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1][:200]


def test_projection_prunes_scan_schema(lineitem):
    t = lineitem.loc[lineitem.l_quantity >= 45, ["l_orderkey", "l_quantity"]]
    plan = _plan(t.df)
    read = plan.split("ReadSchema")[1][:300]
    assert "l_orderkey" in read and "l_quantity" in read
    # untouched wide columns must not be read
    assert "l_comment" not in read and "l_shipinstruct" not in read


def test_isin_becomes_pushed_in_filter(lineitem):
    t = lineitem.loc[lineitem.l_returnflag.isin(["A", "R"]), ["l_orderkey"]]
    plan = _plan(t.df)
    assert "In(l_returnflag" in plan.split("PushedFilters")[1][:300]


def test_whole_stage_codegen_covers_filter_project(lineitem):
    t = lineitem.loc[lineitem.l_quantity >= 45, ["l_orderkey"]]
    plan = _plan(t.df)
    # '*(n)' prefixes mark WholeStageCodegen spans in the plan string
    assert "*(1) Project" in plan and "*(1) Filter" in plan


def test_aggregate_is_partial_then_final(spark, sf_dir):
    """Map-side combine: two HashAggregate phases around the exchange."""
    from sea_serpent_spark.workload import q22_tpch_q1

    plan = _plan(q22_tpch_q1(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial_count" in plan


def test_rollup_broadcasts_dimension_side(spark, sf_dir):
    """Link rollups join fact→dim; the dim side must broadcast, not
    shuffle the fact table."""
    from sea_serpent_spark.workload import q16_rollup_aggs

    plan = _plan(q16_rollup_aggs(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_count_pushes_to_metadata_or_agg(lineitem):
    """COUNT(*) must not materialize data columns."""
    df = lineitem.df.groupBy().count()
    plan = _plan(df)
    read = plan.split("ReadSchema")[-1][:120] if "ReadSchema" in plan else ""
    assert "l_comment" not in read


def test_sketches_stay_jvm_side(spark, sf_dir):
    """Minhash/simhash hot paths must contain no Python evaluation."""
    from sea_serpent_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (D.minhash_signature(docs), D.simhash_signatures(docs)):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_topn_sort_is_take_ordered(lineitem):
    """orderBy + limit must fuse into TakeOrdered (no global sort)."""
    t = lineitem.sort("l_extendedprice", ascending=False).limit(10)
    assert "TakeOrderedAndProject" in _plan(t.df)


def test_slice_seq_range_avoids_window(spark, tmp_path, sf_dir):
    """Gap-free managed slice: pushed _seq range filter, no Window
    (r1 verdict §9). After a delete, falls back to the window."""
    from sea_serpent_spark import Base

    base = Base(str(tmp_path / "wh"), spark)
    t = base.from_df(
        spark.read.parquet(f"{sf_dir}/nation.parquet"), "nation_p"
    )
    plan = _plan(t.slice(2, 5).df)
    assert "Window" not in plan
    assert "_seq" in plan.split("PushedFilters")[1][:200]
    t.delete_rows([0])
    t = base.table("nation_p")
    assert "Window" in _plan(t.slice(2, 5).df)


def test_brute_topk_broadcasts_queries(spark, sf_dir):
    """Similarity search: corpus never shuffles; query set broadcasts."""
    from sea_serpent_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 5)
    plan = _plan(S.brute_force_topk(e, q, k=3))
    assert "BroadcastExchange" in plan


def test_dense_jaccard_uses_broadcast_nlj(spark, sf_dir):
    """On the tiny-vocab corpus the n-gram Jaccard operator must pick the
    dense all-pairs strategy: representatives compared via a broadcast
    nested-loop join (no candidate shuffle), not the prefix inverted
    index."""
    from sea_serpent_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = D.ngram_jaccard_pairs(docs, shingle_n=1, threshold=0.8)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    # the prefix path's candidate dedup (HashAggregate over id pairs
    # after the salted join) must be absent - only expansion joins remain
    assert "BatchEvalPython" not in plan


def test_curation_metrics_single_scan_no_exchange(spark, sf_dir):
    """Repetition metrics + quality predicate are one scan stage: no
    shuffle anywhere in the plan (the zero-shuffle filter contract)."""
    from sea_serpent_spark.operators.curation import (gopher_filter,
                                                      repetition_metrics)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert "Exchange" not in _plan(repetition_metrics(d))
    assert "Exchange" not in _plan(gopher_filter(d, min_tokens=5))


def test_chunk_documents_no_exchange(spark, sf_dir):
    """Chunking is explode + projection — row-local, no shuffle."""
    from sea_serpent_spark.operators.curation import chunk_documents

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(chunk_documents(d))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode


def test_mix_and_split_fuse_into_scan_stage(spark, sf_dir):
    """Hash-predicate sampling ops are pure filters/projections — no
    shuffle, no extra pass."""
    from sea_serpent_spark.operators.sampling import (deterministic_split,
                                                      mix_corpora)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert "Exchange" not in _plan(mix_corpora(
        d, "source", {"src0": 0.5}, "doc_id"))
    assert "Exchange" not in _plan(deterministic_split(d, "doc_id"))


def test_pack_shards_no_single_partition_stage(spark, sf_dir):
    """Shard packing must never collapse to one partition: the window
    is keyed by the (many-valued) partition id, the order exchange is a
    range partitioning — no SinglePartition / global-window stage."""
    from sea_serpent_spark.operators.curation import pack_shards

    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "n_chars")
    out = pack_shards(d, "n_chars", budget=20_000, order_col="doc_id",
                      checkpoint=False)
    plan = _plan(out)
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan
    # the running-sum window is keyed by the partition id, never empty
    assert "windowspecdefinition(__pid" in plan


def test_plan_report_fields(lineitem, spark, sf_dir):
    """plan_report answers the scale checklist on known shapes:
    pushdown+pruning on a filtered projection, broadcast join
    detection, cartesian flagging, python-eval counting."""
    from sea_serpent_spark.operators.plan_report import plan_report

    q = lineitem.loc[
        lineitem.l_quantity >= 45, ["l_orderkey", "l_quantity"]
    ]
    r = plan_report(q.df)
    assert r["n_scans"] == 1
    assert r["scans"][0]["pushed_filters"]
    assert set(r["scans"][0]["columns"]) == {"l_orderkey", "l_quantity"}
    assert r["n_exchanges"] == 0 and not r["has_cartesian"]

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rj = plan_report(
        o.join(c.hint("broadcast"), o.o_custkey == c.c_custkey)
    )
    assert "BroadcastHashJoin" in rj["joins"]
    assert rj["n_broadcasts"] >= 1

    rx = plan_report(o.limit(5).crossJoin(c.limit(5)))
    assert rx["has_cartesian"]

    # Table-level delegate
    assert lineitem.explain_report()["n_scans"] == 1


def test_new_dedup_ops_plan_shapes(spark, sf_dir):
    """Pin the scale-critical plan properties of the round-3 operators:
    no cartesian joins, shuffles bounded, no Python in the path."""
    import pyspark.sql.functions as F

    from sea_serpent_spark.operators import incremental as I
    from sea_serpent_spark.operators import similarity as S
    from sea_serpent_spark.operators import spans as SP
    from sea_serpent_spark.operators.plan_report import plan_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # incremental probe: equi-join against the index, python-free
    idx = I.minhash_band_index(docs.where(F.col("doc_id") < 250))
    rp = plan_report(
        I.incremental_minhash_pairs(docs.where(F.col("doc_id") >= 250), idx)
    )
    assert not rp["has_cartesian"] and rp["python_evals"] == 0

    # semantic-dedup pair stage: cluster-scoped LSH equi-join
    cents = S.kmeans_fit(emb, k=2, iters=1, seed=1)
    assigned = S.ivf_assign(emb, cents, cluster_col="__c")
    rs = plan_report(
        S.embedding_near_dup_pairs(assigned, 0.45, group_col="__c")
    )
    assert not rs["has_cartesian"] and rs["python_evals"] == 0

    # span dedup: no python, no cartesian; scans read only (id, text)
    rd = plan_report(SP.duplicate_spans(docs, span_tokens=8))
    assert not rd["has_cartesian"] and rd["python_evals"] == 0
    assert all(
        set(s["columns"]) <= {"doc_id", "text"} for s in rd["scans"]
    )


def test_plan_report_counts_only_global_sorts(spark, sf_dir):
    """sorts counts global sorts only — partition-local sorts (e.g.
    sortWithinPartitions) are harmless at scale and excluded (review
    finding)."""
    from sea_serpent_spark.operators.plan_report import plan_report

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert plan_report(o.sortWithinPartitions("o_custkey"))["sorts"] == 0
    assert plan_report(o.orderBy("o_custkey"))["sorts"] == 1


def test_zorder_plan_shape(spark, sf_dir):
    """zorder_frame: exactly one range exchange, no Python evals, no
    global sort (the in-partition sort is partial), and the scan still
    prunes to the needed columns."""
    from sea_serpent_spark.operators.layout import zorder_frame
    from sea_serpent_spark.operators.plan_report import plan_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rep = plan_report(zorder_frame(ev, ["user_id", "event_id"], bits=8))
    assert rep["python_evals"] == 0
    assert rep["sorts"] == 0  # sortWithinPartitions is partial
    assert not rep["has_cartesian"]
    # one range exchange for the curve; the min/max agg ran at build
    # time as its own job, not inside this plan
    assert rep["n_exchanges"] == 1


def test_pq_topk_plan_single_encode_broadcast_queries(spark, sf_dir):
    """IVF-free PQ ADC: exactly ONE Arrow eval per side (the round-8
    duplicate-evaluation regression — Catalyst cloning the encode UDF
    below a pushed isnotnull filter — re-encoded the whole corpus), the
    QUERY side broadcast (BuildRight under the corpus-streaming cross
    join), and the top-k rank pushed down as WindowGroupLimit rather
    than a full per-query sort."""
    from sea_serpent_spark.operators import similarity as S
    from sea_serpent_spark.operators.pinned import PQ_CODEBOOKS
    from sea_serpent_spark.operators.plan_report import plan_report

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = S.pq_topk(
        S.pq_encode(e, PQ_CODEBOOKS),
        e.where(F.col("vec_id") < 5),
        PQ_CODEBOOKS,
        k=3,
    )
    rep = plan_report(out)
    assert rep["python_evals"] == 2, rep["python_evals"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin BuildRight" in plan
    assert "WindowGroupLimit" in plan


def test_pack_sequences_python_sees_only_ids(spark, sf_dir):
    """pack_sequences: exactly one grouped-Pandas eval, and its input
    schema carries only (id, tokens, group) — documents never enter the
    Python worker."""
    from sea_serpent_spark.operators.curation import pack_sequences
    from sea_serpent_spark.operators.plan_report import plan_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", F.length("text").alias("n_tok")
    )
    out = pack_sequences(docs, "n_tok", 10**6, partitions=4)
    rep = plan_report(out)
    assert rep["python_evals"] == 1
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"FlatMapGroupsInPandas[^\n]*", plan)
    assert m is not None
    assert "text" not in m.group(0)  # only __id/__t/__g cross the bridge


def test_workload_plan_audit(spark, sf_dir):
    """Sweep EVERY driver query's executed plan: cartesian/nested-loop
    joins only where they are the documented broadcast-bounded design,
    Python evaluation only in the multimodal slot. A new query (or a
    regression in an operator an existing query uses) that introduces
    an unbounded join or a stray Python UDF fails here before it ever
    reaches a 100 TB plan."""
    import __spark_entry__ as E
    from sea_serpent_spark.operators.plan_report import plan_report

    # q08: carries the folded scalar shapes (limit-1 existence probe,
    #      1×1 cross join of single-row aggregates — formerly q06)
    # q37: dense-regime all-pairs — reps broadcast under allpairs_rep_cap
    # q41: carries the brute-force ANN baseline tag — broadcast-bounded
    # q43: the oracle-pinned exact (nbits=0) all-pairs variant
    # q70: corpus_profile_rows' 1×1 cross join of the scalar aggregate
    #      row with the vocab aggregate row (r11 — the q08 shape)
    CARTESIAN_OK = {
        "q08_value_counts", "q37_ngram_jaccard",
        "q41_ann_topk", "q43_embedding_near_dup",
        "q70_profile_qa",
    }
    # q53: mapInPandas multimodal decode; q41: pq_encode + the ADC LUT
    # are DESIGNED Arrow-batched pandas UDFs — per-row vector math heavy
    # enough that the expression forms lose (round-8 measured rejection
    # of the unrolled-chain variant, BENCH_NOTES); q60: pack_sequences'
    # grouped BFD fold is inherently sequential per group (Arrow batch
    # sees only (id, tokens) pairs — plan-pinned in its own test)
    PYEVAL_OK = {"q53_media_features", "q41_ann_topk",
                 "q60_deterministic_split"}
    bad_cart, bad_py = [], []
    for name, fn in E.queries().items():
        rep = plan_report(fn(spark, sf_dir))
        if rep["has_cartesian"] and name not in CARTESIAN_OK:
            bad_cart.append((name, rep["joins"]))
        if rep["python_evals"] and name not in PYEVAL_OK:
            bad_py.append(name)
    assert not bad_cart, f"unexpected cartesian/NLJ plans: {bad_cart}"
    assert not bad_py, f"unexpected Python evals: {bad_py}"


def test_token_budget_mix_window_is_partition_local(spark, sf_dir):
    """The running token sum is windowed by (range-partition id, source)
    — never a single global partition AND never one window task per
    source (a source-keyed running sum funnels a dominant source — 80%
    of a 100 TB corpus — through a single thread; the pack_shards
    range-partition + broadcast-offset pattern is the scale shape)."""
    from sea_serpent_spark.operators import lifetime
    from sea_serpent_spark.operators.curation import pack_shards
    from sea_serpent_spark.operators.sampling import token_budget_mix

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", F.length("text").alias("n")
    )

    def _entries():
        with lifetime._LOCK:
            return [h for hs in lifetime._SCOPES.values() for h in hs]

    def _pinned(call):
        # a checkpoint=False pin is registered for the quiesce sweep as
        # a frame that retires skip, not leaked as an unreleasable cache
        before = {id(h) for h in _entries()}
        res = call()
        new = [h for h in _entries() if id(h) not in before]
        assert len(new) == 1, new
        assert new[0].df is not None and not new[0].recomputable
        return res, new[0]

    out, pin = _pinned(lambda: token_budget_mix(
        d, "source", "n", {"src0": 100}, "doc_id", checkpoint=False
    ))
    _, shard_pin = _pinned(
        lambda: pack_shards(d, "n", 1000, "doc_id", checkpoint=False)
    )
    plan = _plan(out)
    assert "SinglePartition" not in plan
    # window keyed by the spark_partition_id column first — each window
    # group is a slice of one range partition, not a whole source
    assert "windowspecdefinition(__pid" in plan
    assert "windowspecdefinition(source" not in plan
    # the offsets ride a broadcast join, not a shuffle
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # don't leak the pins into the shared test session
    for h in (pin, shard_pin):
        h.release()
        assert h not in _entries() and not h.df.storageLevel.useMemory


def test_edit_distance_join_no_cartesian(spark, sf_dir):
    """The cross-table fuzzy join plans as equi-joins (gram / length
    buckets) — never a nested-loop or cartesian product."""
    from sea_serpent_spark.operators.fuzzy import edit_distance_join
    from sea_serpent_spark.operators.plan_report import plan_report

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    rep = plan_report(edit_distance_join(
        c, s, "c_name", "s_name", "c_custkey", "s_suppkey", 1
    ))
    assert not rep["has_cartesian"]
    assert rep["python_evals"] == 0


def test_edit_distance_join_gram_join_is_grid_salted(spark, sf_dir):
    """The long-string prefix equi-join carries the √k×√k grid salt
    (_ca, _cb) alongside the gram key — a hot scaffold gram shared by
    both sides splits into a·b balanced sub-joins instead of funneling
    Bl×Br pairs through one task. AQE's post-shuffle skew split cannot
    do this: it only divides oversized blocks AFTER the stage paid to
    write them, and cannot split a single build-side key."""
    import re

    from sea_serpent_spark.operators.fuzzy import edit_distance_join

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    out = edit_distance_join(
        c, s, "c_name", "s_name", "c_custkey", "s_suppkey", 1
    )
    plan = _plan(out)
    # the gram join's key set includes both grid-salt columns (at test
    # scale the sides broadcast; at 100 TB the same keys shuffle — the
    # salt composes with either physical strategy)
    joins = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[[^\]]*\]",
        plan,
    )
    salted = [j for j in joins if "_ca" in j and "_cb" in j and "g#" in j]
    assert salted, f"no grid-salted gram join in plan:\n{joins}"
