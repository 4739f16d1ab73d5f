"""Round-13 optimization internals: plan-object memos, the spread() width
memo, the sorted-run-fold top-frequency rewrite, and the ivf_topk centroid
memo. Value-level regressions of the rewritten queries themselves are
auto-covered by tests/test_oracle_parity.py; these pin the MECHANISMS."""

from __future__ import annotations

from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.caching import memo_df
from koby_s_ai_vector_db_spark.functions.partitioning import _WIDTH_MEMO, spread
from tests.conftest import SF_DIRS

SF_DIR = SF_DIRS["t2"]


def test_memo_df_returns_same_plan_object(spark):
    built = []

    def builder():
        built.append(1)
        return spark.createDataFrame([(1, "a")], "id bigint, s string")

    a = memo_df(spark, ("t_r13", "memo_df"), builder)
    b = memo_df(spark, ("t_r13", "memo_df"), builder)
    assert a is b, "memo_df must return the identical DataFrame object"
    assert built == [1], "builder must run exactly once per key"
    # distinct key -> fresh build
    c = memo_df(spark, ("t_r13", "memo_df", 2), builder)
    assert c is not a and built == [1, 1]


def test_spread_width_memo_consistent_and_cached(spark):
    df = spark.range(0, 1000)
    before = dict(_WIDTH_MEMO)
    s1 = spread(df)
    key_added = [k for k in _WIDTH_MEMO if k not in before]
    # The probe result must actually be STORED under the plan's key
    # (ADVICE r13: the old <=1 assertion also held with memoization
    # completely broken).
    assert len(key_added) == 1, "first spread() must add exactly one entry"
    # Poison the memo: if the second call re-probed instead of hitting
    # the memo, it would see the true width and make the true decision —
    # with the poisoned width >= defaultParallelism it must NOT
    # repartition, proving the stored value was read, not recomputed.
    sc = df.sparkSession.sparkContext
    _WIDTH_MEMO[key_added[0]] = sc.defaultParallelism + 1000
    try:
        s2 = spread(spark.range(0, 1000))  # semantically identical plan
        assert s2.rdd.getNumPartitions() == df.rdd.getNumPartitions(), (
            "second spread() must consume the memoized width (no re-probe)"
        )
    finally:
        _WIDTH_MEMO.pop(key_added[0], None)
    # Restore the honest entry and confirm the decision is consistent.
    s1b = spread(spark.range(0, 1000))
    assert s1.rdd.getNumPartitions() == s1b.rdd.getNumPartitions()


def test_evict_application_clears_width_memo(spark):
    """evict_application must drop this app's width entries alongside
    _PLANS/_SCALARS/_TABLE_MEMO (ADVICE r13) — and only this app's."""
    from koby_s_ai_vector_db_spark.functions.caching import evict_application

    spread(spark.range(0, 2000))  # ensure at least one entry for this app
    app = spark.sparkContext.applicationId
    _WIDTH_MEMO[("other-app", 12345)] = 7
    try:
        assert any(k[0] == app for k in _WIDTH_MEMO)
        evict_application(spark)
        assert not any(k[0] == app for k in _WIDTH_MEMO)
        assert ("other-app", 12345) in _WIDTH_MEMO  # foreign apps untouched
    finally:
        _WIDTH_MEMO.pop(("other-app", 12345), None)


def test_input_sized_partitions_reads_file_uris_and_never_falls_to_one(spark):
    """`file:` URIs (what DataFrame.inputFiles() returns) count the same
    bytes as bare paths, and an input with no measurable bytes gets the
    session's shuffle width, not a single partition."""
    from koby_s_ai_vector_db_spark.functions.partitioning import (
        input_sized_partitions,
    )

    bare = [f"{SF_DIR}/lineitem.parquet", f"{SF_DIR}/orders.parquet"]
    n = input_sized_partitions(bare, bytes_per_partition=4096)
    assert n > 1
    assert input_sized_partitions(
        [f"file:{p}" for p in bare], bytes_per_partition=4096
    ) == n
    assert input_sized_partitions([f"{SF_DIR}/no_such_table.parquet"]) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_gopher_top_frac_fold_equals_brute(spark):
    """The sorted-run fold must equal the old O(n·distinct) counting
    expression on adversarial token layouts (ties, singletons, runs at
    either end, empty-adjacent)."""
    from koby_s_ai_vector_db_spark.operators.text_analysis import (
        gopher_repetition,
    )

    rows = [
        (1, "a a a b c"),          # run at the start
        (2, "x y z z z"),          # run at the end
        (3, "m n m n m n"),        # tie between two tokens
        (4, "solo"),               # single token
        (5, "a b c d e f"),        # all distinct
        (6, "t t t t t t"),        # one token only
        (7, "b a b a c c c a b"),  # interleaved, sort regroups
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    cols = gopher_repetition("text")
    got = {
        r["doc_id"]: (r["tf"], r["bf"])
        for r in df.select(
            "doc_id",
            cols["top_token_frac"].alias("tf"),
            cols["top_bigram_frac"].alias("bf"),
        ).collect()
    }
    # brute force in Python
    for doc_id, text in rows:
        toks = [t for t in text.lower().split() if t]
        top = max(toks.count(t) for t in set(toks))
        exp_tf = round(top / len(toks), 6)
        if len(toks) >= 2:
            bgs = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
            exp_bf = round(max(bgs.count(b) for b in set(bgs)) / len(bgs), 6)
        else:
            exp_bf = 0.0
        assert got[doc_id] == (exp_tf, exp_bf), (doc_id, got[doc_id])


def test_ivf_topk_centroid_memo_matches_uncached(spark):
    """cache_key must be a pure memo: same rows with and without it."""
    from koby_s_ai_vector_db_spark.operators.similarity import ivf_topk
    from koby_s_ai_vector_db_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.select("vec_id", "label", "embedding")
    plain = ivf_topk(corpus, queries, k=4, n_probe_labels=2)
    memod = ivf_topk(
        corpus, queries, k=4, n_probe_labels=2,
        cache_key=("t_r13_ivf", SF_DIR),
    )
    # second memoized call exercises the cache-hit path
    memod2 = ivf_topk(
        corpus, queries, k=4, n_probe_labels=2,
        cache_key=("t_r13_ivf", SF_DIR),
    )
    rows = sorted(map(tuple, plain.collect()))
    assert rows == sorted(map(tuple, memod.collect()))
    assert rows == sorted(map(tuple, memod2.collect()))
