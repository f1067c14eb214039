"""Physical-plan assertions — the 100 TB design contract.

Correctness tests prove the small-SF answer; these prove the *plan*
is the one that survives a 1000-executor scale-up: filters reach the
parquet scan, projections prune the read schema, dimension joins
broadcast, and the scale-path batcher stays shuffle-free.
"""

import pytest
from pyspark.sql import functions as F

from fuel_spark import schemes
from fuel_spark.functions import ensure_parallelism
from fuel_spark.sources import from_rows, load_tables
from fuel_spark.plans import analytics

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_pricing_summary_pushdown_and_pruning(spark):
    t = load_tables(spark, SF)
    s = _explain(analytics.pricing_summary(t))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in s
    # projection pruning: unneeded fact columns never leave the scan
    assert "l_orderkey" not in s.split("ReadSchema")[1].split("\n")[0]
    # map-side combine before the exchange
    assert "partial_sum" in s


def test_revenue_forecast_all_filters_pushed(spark):
    t = load_tables(spark, SF)
    s = _explain(analytics.revenue_forecast(t))
    pushed = s.split("PushedFilters:")[1].split("\n")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_star_joins_broadcast_dims(spark):
    t = load_tables(spark, SF)
    assert "BroadcastHashJoin" in _plan(analytics.top_revenue_orders(t))
    p5 = _plan(analytics.regional_revenue(t))
    assert "BroadcastHashJoin" in p5
    # the one legitimate shuffle join: fact ⋈ fact on orderkey
    assert p5.count("SortMergeJoin") <= 1


def test_semi_join_for_exists(spark):
    t = load_tables(spark, SF)
    p = _plan(analytics.order_priority_counts(t))
    assert "LeftSemi" in p


_SPLIT_CONF = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")


@pytest.mark.parametrize(
    "source",
    ["post_shuffle", "one_row_group_parquet", "streaming", "many_files", "many_files_post_shuffle"],
)
def test_ensure_parallelism_decides_from_the_plan(spark, tmp_path, source):
    """The one width rule, decided without running a Spark job.  A batch
    frame gets a round-robin exchange to defaultParallelism unless it is
    a plain scan of at least that many files; a streaming frame is
    returned unchanged.  The one-row-group case is a file whose scan has
    >= defaultParallelism byte splits but only one split holding rows:
    a partition count would call it wide."""
    sc = spark.sparkContext
    n = sc.defaultParallelism
    saved = {k: spark.conf.get(k) for k in _SPLIT_CONF}
    try:
        if source == "post_shuffle":
            df = spark.range(10000).groupBy((F.col("id") % 7).alias("k")).count()
        elif source == "one_row_group_parquet":
            path = str(tmp_path / "one_row_group")
            spark.range(50000).selectExpr("id", "md5(cast(id AS string)) AS h") \
                .coalesce(1).write.parquet(path)
            for k in _SPLIT_CONF:
                spark.conf.set(k, "16k")
            df = spark.read.parquet(path)
            assert df.rdd.getNumPartitions() >= n
            assert df.select(F.spark_partition_id()).distinct().count() == 1
        elif source.startswith("many_files"):
            path = str(tmp_path / "many_files")
            spark.range(1000 * n).repartition(n).write.parquet(path)
            df = spark.read.parquet(path).where("id % 3 = 0")
            assert len(df.inputFiles()) == n
            if source == "many_files_post_shuffle":
                df = df.groupBy((F.col("id") % 7).alias("k")).count()
        else:
            df = spark.readStream.format("rate").load()
        group = f"test-plans-width-{source}"
        sc.setJobGroup(group, "ensure_parallelism")
        try:
            out = ensure_parallelism(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        if source in ("streaming", "many_files"):
            assert out is df
        else:
            assert f"RoundRobinPartitioning({n})" in _plan(out)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_partition_local_batches_no_exchange(spark):
    df = from_rows(spark, [(i,) for i in range(100)], schema="k bigint").repartition(4)
    p = _plan(schemes.partition_local_batches(df, 10))
    # one Exchange from the explicit repartition fixture, none added by
    # the batcher itself
    assert p.count("Exchange") == 1
    assert "Window" not in p


def test_filter_pushdown_through_operator_chain(spark):
    from fuel_spark.ops import core

    t = load_tables(spark, SF)
    out = core.rename_sources(t["orders"], {"o_totalprice": "price"})
    out = core.filter_rows(out, F.col("price") > 100000.0)
    s = _explain(out)
    assert "GreaterThan(o_totalprice,100000.0)" in s


def test_pack_batches_local_zero_exchange(spark):
    from fuel_spark.ops import core

    df = from_rows(spark, [(i,) for i in range(100)], schema="k bigint").repartition(4)
    packed = core.pack_batches_local(df, ["k"], 10)
    p = _plan(packed)
    # only the fixture repartition shuffles; the packer adds nothing
    assert p.count("Exchange") == 1
    assert "MapInPandas" in p and "Sort" not in p
    rows = packed.collect()
    assert sum(r.batch_size for r in rows) == 100
    # at most one trailing partial batch per partition, rest full
    sizes = [r.batch_size for r in rows]
    assert all(1 <= s <= 10 for s in sizes)
    assert sum(1 for s in sizes if s < 10) <= 4
    for r in rows:
        assert len(r.k) == r.batch_size
    assert len({r.batch_id for r in rows}) == len(rows)  # ids unique


def test_scale_batch_family_no_single_partition_sort(spark):
    from fuel_spark.ops import core

    d = from_rows(
        spark,
        [(i, list(range(i % 5 + 1))) for i in range(50)],
        schema="k bigint, seq array<bigint>",
    )
    b = schemes.partition_local_batches(d, 8)
    padded = _plan(core.pad_sequences(b, "seq", "batch_id"))
    sorted_p = _plan(core.sort_within_batches(b, "batch_id", "k", ["seq"]))
    # hash-partitioned window/agg only: a global order would plan an
    # Exchange SinglePartition (the single-task bottleneck at scale)
    assert "SinglePartition" not in padded
    assert "SinglePartition" not in sorted_p


def test_new_tpch_shapes_broadcast_and_partitioned(spark):
    t = load_tables(spark, SF)
    promo = _plan(analytics.promo_revenue(t))
    assert "BroadcastHashJoin" in promo  # part is a broadcast dim
    best = _plan(analytics.best_supplier_per_nation(t))
    assert "SinglePartition" not in best  # argmax window is per-nation
    waiting = _plan(analytics.waiting_customers(t))
    assert "LeftAnti" in waiting


def test_events_funnel_counts(spark):
    import datetime as dt

    from fuel_spark.plans import analytics
    from fuel_spark.sources import from_rows

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(uid, typ, minutes):
        return (uid, typ, t0 + dt.timedelta(minutes=minutes), 1.0)

    rows = [
        ev(1, "view", 0), ev(1, "click", 5), ev(1, "purchase", 9),
        ev(2, "view", 0), ev(2, "click", 3),
        ev(3, "click", 1),                      # click without view
        ev(4, "purchase", 0), ev(4, "view", 5),  # purchase BEFORE view
    ]
    e = from_rows(
        spark, rows,
        schema="user_id bigint, event_type string, ts timestamp, value double",
    )
    out = {r.stage: r for r in analytics.events_funnel({"events": e}).collect()}
    assert out[1].n_users == 3          # users 1, 2, 4 viewed
    assert out[2].n_users == 2          # 1 and 2 clicked after viewing
    assert out[3].n_users == 1          # only 1 purchased after clicking
    assert abs(out[3].conversion - 1 / 3) < 1e-5


def test_cohort_retention_offsets(spark):
    import datetime as dt

    from fuel_spark.plans import analytics
    from fuel_spark.sources import from_rows

    def ev(uid, day, hour):
        return (uid, "view", dt.datetime(2024, 1, day, hour), 1.0)

    rows = [
        ev(1, 1, 9), ev(1, 1, 17), ev(1, 2, 9),   # day-0 twice, day-1
        ev(2, 2, 9), ev(2, 4, 9),                 # cohort Jan 2: offsets 0, 2
    ]
    e = from_rows(
        spark, rows,
        schema="user_id bigint, event_type string, ts timestamp, value double",
    )
    out = analytics.events_cohort_retention({"events": e}).collect()
    got = {(str(r.cohort_day), r.day_offset): r.n_active_users for r in out}
    assert got[("2024-01-01", 0)] == 1
    assert got[("2024-01-01", 1)] == 1
    assert got[("2024-01-02", 0)] == 1
    assert got[("2024-01-02", 2)] == 1
    assert len(got) == 4


def test_no_regex_inlined_into_lambdas(spark):
    """Catalyst projection-collapse regression: no normalize/split
    regex may appear inside a higher-order-function lambda body (it
    would re-evaluate per array element - O(len^2) per doc)."""
    import re

    from fuel_spark.ops import dedup, text as text_ops
    from fuel_spark.sources import from_rows

    d = from_rows(
        spark, [(1, "some text to scan")], schema="doc_id bigint, text string"
    )

    def assert_clean(df, name):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.splitlines():
            lams = [m.start() for m in re.finditer("lambdafunction", line)]
            regs = [m.start() for m in
                    re.finditer("regexp_replace|split\\(", line)]
            if lams and regs:
                inlined = [r for r in regs if r > min(lams)]
                assert not inlined, f"{name}: regex inlined into lambda"

    assert_clean(text_ops.quality_score(d, "text"), "quality_score")
    assert_clean(text_ops.remove_stopwords(d, "text"), "remove_stopwords")
    assert_clean(text_ops.sentence_stats(d, "text"), "sentence_stats")
    assert_clean(text_ops.repetition_stats(d, "text"), "repetition_stats")
    assert_clean(
        dedup.cross_doc_ngram_dup(d, "doc_id", "text", 3), "cross_doc_ngram_dup"
    )
    assert_clean(
        dedup.with_minhash_bands(d, "doc_id", "text"), "with_minhash_bands"
    )


def test_quantize_int8_roundtrip(spark):
    from fuel_spark.ops import similarity
    from fuel_spark.sources import from_rows

    df = from_rows(
        spark, [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 2.0])],
        schema="vec_id bigint, embedding array<double>",
    )
    q = similarity.quantize_int8(df)
    dq = {r.vec_id: r for r in similarity.dequantize_int8(q).collect()}
    assert dq[1].qvec == [127, -64, 32]          # round(-63.5) away from 0
    assert abs(dq[1].scale - 1 / 127) < 1e-12
    for orig, rec in zip([1.0, -0.5, 0.25], dq[1].dq):
        assert abs(orig - rec) <= dq[1].scale / 2 + 1e-12
    assert dq[2].qvec == [0, 0, 127]


def test_quantiles_by_type_interpolation(spark):
    import datetime as dt

    from fuel_spark.plans import analytics
    from fuel_spark.sources import from_rows

    rows = [(i, "a", dt.datetime(2024, 1, 1), float(v))
            for i, v in enumerate([1.0, 2.0, 3.0, 4.0])]
    e = from_rows(
        spark, rows,
        schema="user_id bigint, event_type string, ts timestamp, value double",
    )
    out = {r.prob: r.quantile for r in
           analytics.events_value_quantiles_by_type({"events": e}).collect()}
    assert abs(out[0.5] - 2.5) < 1e-9    # linear interpolation
    assert abs(out[0.25] - 1.75) < 1e-9
    assert abs(out[0.9] - 3.7) < 1e-9


def test_rolling_revenue_range_frame(spark):
    import datetime as dt

    from fuel_spark.plans import analytics
    from fuel_spark.sources import from_rows

    def order(k, day, price):
        return (k, 1, dt.datetime(2024, 1, day), price)

    rows = [order(1, 1, 100.0), order(2, 2, 50.0), order(3, 10, 7.0)]
    o = from_rows(
        spark, rows,
        schema="o_orderkey bigint, o_custkey bigint, "
               "o_orderdate timestamp, o_totalprice double",
    )
    out = {r.o_orderkey: r.rolling_revenue for r in
           analytics.customer_rolling_revenue({"orders": o}).collect()}
    assert out[1] == 100.0
    assert out[2] == 150.0   # day 2 sees day 1 (within 7 days)
    assert out[3] == 7.0     # day 10 is past the frame


def test_text_ops_prune_documents_scan(spark):
    """Text operators must read only (doc_id, text) — a 100 TB
    documents table with heavy payload columns may not be fully
    scanned for a text-only feature."""
    from fuel_spark.ops import text as text_ops

    t = load_tables(spark, SF)
    d = t["documents"].select("doc_id", "text")
    for df in (
        text_ops.quality_score(d, "text"),
        text_ops.unigram_logprob(d, "doc_id", "text"),
    ):
        s = _explain(df.select("doc_id"))
        read = s.split("ReadSchema")[1].split("\n")[0]
        assert "lang" not in read and "source" not in read and "n_chars" not in read


def test_no_fact_table_auto_broadcast(spark):
    """Regression for the 10x smoke finding: a column-pruned fact scan
    (6M lineitem rows reading 3 columns) estimated under a 64MB
    autoBroadcastJoinThreshold and got hash-broadcast.  At sf0.001 the
    fact genuinely fits, so the plan legitimately broadcasts; the
    contract pinned here is the conservative threshold — dims rely on
    explicit broadcast() hints, which override it."""
    thr = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold").rstrip("b"))
    assert thr <= 16 * 1024 * 1024
    # and the dim hint stays present so lowering the bar costs nothing
    t = load_tables(spark, SF)
    assert "BroadcastHashJoin" in _plan(analytics.top_revenue_orders(t))


def test_user_rfm_hand_computed(spark):
    import datetime as dt

    from fuel_spark.sources import from_rows

    rows = [
        (1, "view", dt.datetime(2024, 1, 1, 0, 0, 0), 10.0),
        (1, "view", dt.datetime(2024, 1, 1, 0, 1, 40), 5.0),   # +100s
        (1, "view", dt.datetime(2024, 1, 3, 0, 0, 0), 1.0),
        (2, "view", dt.datetime(2024, 1, 5, 0, 0, 0), 2.5),
    ]
    e = from_rows(
        spark, rows,
        schema="user_id bigint, event_type string, ts timestamp, value double",
    )
    out = {r.user_id: r for r in
           analytics.events_user_rfm({"events": e}).collect()}
    assert out[1].recency_days == 2 and out[1].frequency == 3
    assert out[1].monetary == 16.0
    # telescoping mean gap: (2 days) / 2 = 86400s
    assert abs(out[1].mean_gap_sec - 86400.0) < 1e-6
    assert out[2].recency_days == 0 and out[2].mean_gap_sec == 0.0


def test_q2_q21_shapes_reuse_partitioning(spark):
    """The window-over-groupBy formulations must reuse the agg's
    exchange (window keys are a subset of the groupBy keys): pinned
    shuffle budgets — regressions to join-back/self-join shapes double
    the fact shuffles."""
    t = load_tables(spark, SF)
    mc = _plan(analytics.min_cost_supplier(t))
    assert mc.count("Exchange hashpartitioning") <= 2
    sb = _plan(analytics.sole_blame_suppliers(t))
    assert sb.count("Exchange hashpartitioning") <= 3
    # per-order counts must NOT re-join the pair set against itself
    assert sb.count("SortMergeJoin") == 0


def test_daily_anomalies_flags_planted_spike(spark):
    import datetime as dt

    from fuel_spark.sources import from_rows

    rows = []
    eid = 0
    for day in range(1, 21):
        v = 1000.0 if day == 15 else 10.0  # day 15 is the spike
        rows.append((eid, "view", dt.datetime(2024, 1, day), v))
        eid += 1
    e = from_rows(
        spark, rows,
        schema="event_id bigint, event_type string, ts timestamp, value double",
    )
    out = {int(r.day[-2:]): r for r in
           analytics.events_daily_anomalies({"events": e}).collect()}
    assert out[15].is_anomaly
    flagged = [d for d, r in out.items() if r.is_anomaly]
    assert flagged == [15]


def test_funnel_and_cohort_never_hint_broadcast_of_fact_aggregates(spark):
    """Per-user aggregates of the event log are unbounded at scale
    (every active user): a forced broadcast hint would be an
    unconditional executor OOM at 100 TB.  The optimized plans must
    carry NO broadcast hint — AQE may still choose broadcast at
    runtime when a side is measured small, which is exactly the
    desired behavior (hint = always, AQE = only-when-small)."""
    t = load_tables(spark, SF)
    for df in (analytics.events_funnel(t), analytics.events_cohort_retention(t)):
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in opt, opt


def _single_partition_only_over_count_agg(plan: str) -> bool:
    """True iff every Exchange SinglePartition in the plan feeds the
    metadata-sized per-partition count/total aggregate (its input is a
    HashAggregate on the synthetic partition-id key) — i.e. the STREAM
    data never collapses to one task."""
    lines = plan.split("\n")
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        below = "\n".join(lines[i + 1 : i + 3])
        if "HashAggregate" not in below:
            return False
    return True


def test_merge_streams_no_single_partition_exchange(spark):
    """Positional zip must not funnel either stream through one task:
    positions come from range-sort + partition offsets.  The only
    single-partition stage allowed is the cumulative-offset window
    over the per-partition COUNTS (num_partitions rows — metadata,
    invariant in data volume)."""
    from fuel_spark.ops import core

    a = from_rows(spark, [(i, i * 2) for i in range(100)], schema="ka bigint, va bigint")
    b = from_rows(spark, [(i, i * 3) for i in range(100)], schema="kb bigint, vb bigint")
    merged = core.merge_streams(a, b, "ka", "kb")
    p = _plan(merged)
    assert _single_partition_only_over_count_agg(p), p
    # r9: _offset_positions pins its sorted layout with a lazy
    # localCheckpoint (divergent-pruning fix), so the range exchange
    # happens inside the checkpointed subtree and the downstream plan
    # shows the checkpoint scan instead — either form is the
    # parallel-positions contract; a SinglePartition window over row
    # grain (the thing this test exists to forbid) shows in neither.
    assert "rangepartitioning" in p or "ExistingRDD" in p
    rows = {r.ka: r for r in merged.collect()}
    assert len(rows) == 100
    # exact positional semantics: i-th of a zips with i-th of b
    assert all(rows[i].kb == i for i in range(100))


def test_merge_streams_local_zero_sort(spark):
    """Scale tier: partition-arrival zip — no SinglePartition, no
    range sort, no Sort node over the streams at all (only the
    metadata-sized offset agg shuffles)."""
    from fuel_spark.ops import core

    a = from_rows(spark, [(i,) for i in range(60)], schema="ka bigint")
    b = from_rows(spark, [(i * 10,) for i in range(60)], schema="kb bigint")
    merged = core.merge_streams_local(a, b)
    p = _plan(merged)
    assert _single_partition_only_over_count_agg(p), p
    assert "rangepartitioning" not in p
    rows = merged.collect()
    assert len(rows) == 60
    # every row of both sides appears exactly once
    assert sorted(r.ka for r in rows) == list(range(60))
    assert sorted(r.kb for r in rows) == [i * 10 for i in range(60)]


def test_with_positions_matches_global_row_number(spark):
    from pyspark.sql import Window

    from fuel_spark.ops import core

    df = from_rows(
        spark, [((i * 37) % 101, i) for i in range(101)], schema="k bigint, v bigint"
    ).repartition(7)
    got = {r.k: r._pos for r in core.with_positions(df, "k").collect()}
    want = {
        r.k: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("k"))
        ).collect()
    }
    assert got == want


def test_pack_token_budget_parallel_and_exact(spark):
    """The reproducibility-tier packer must compute the global cumsum
    without any single-task stage: range sort + partition offsets.
    Result must equal the naive global-window formulation."""
    from pyspark.sql import Window

    from fuel_spark.ops import core

    df = from_rows(
        spark,
        [(i, (i * 13) % 90 + 10) for i in range(200)],
        schema="doc_id bigint, n_tokens bigint",
    ).repartition(6)
    packed = core.pack_token_budget(df, "doc_id", "n_tokens", budget=128)
    p = _plan(packed)
    assert _single_partition_only_over_count_agg(p), p
    # see merge_streams note: the r9 layout pin hides the range
    # exchange behind the checkpoint scan
    assert "rangepartitioning" in p or "ExistingRDD" in p
    got = {r.doc_id: r.pack_id for r in packed.collect()}
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = df.withColumn(
        "pack_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / 128),
    )
    want = {r.doc_id: r.pack_id for r in naive.collect()}
    assert got == want


def test_pq_ann_corpus_never_shuffles_before_scoring(spark):
    """PQ ADC scan shape: encode is a narrow projection (no Exchange
    on the corpus side), the query side is broadcast, and the only
    shuffle in the whole ADC plan is the per-query top-k ranking
    window over the already-scored rows."""
    from fuel_spark.ops import similarity
    from fuel_spark.sources import from_rows

    rows = [(i, [float(i % 7), float(i % 5), 1.0, 0.5]) for i in range(40)]
    df = from_rows(spark, rows, schema="vec_id bigint, embedding array<float>")
    books = similarity.pq_fit(df, m=2, k_codes=4, sample_n=40, seed=1, iters=5)

    enc_plan = similarity.pq_encode(df, books)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in enc_plan

    ann = similarity.pq_ann(
        df, df.where("vec_id < 2"), k=3, codebooks=books, rerank=0
    )
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # one hash-partition exchange for the ranking window, nothing else
    import re
    shuffles = re.findall(r"Exchange hashpartitioning", plan)
    assert len(shuffles) == 1, plan


def test_range_join_bucketed_never_cartesian(spark):
    """The non-equi point-in-interval query must run as an equi join on
    the grid cell — a naive inequality join would plan as
    BroadcastNestedLoopJoin/CartesianProduct, which is O(n*m)."""
    t = load_tables(spark, SF)
    s = _plan(analytics.events_range_join(t))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoop" not in s


def test_range_join_exact_pairs(spark):
    from fuel_spark.ops.core import range_join

    iv = from_rows(
        spark,
        [
            {"iid": 1, "s": 10.0, "e": 20.0},   # spans cells 1..2 at w=10
            {"iid": 2, "s": 35.0, "e": 36.0},   # inside one cell
            {"iid": 3, "s": 50.0, "e": 40.0},   # inverted: matches nothing
            {"iid": 4, "s": 100.0, "e": 200.0}, # no points at all
        ],
    )
    p = from_rows(
        spark,
        [
            {"pid": 10, "x": 10.0},  # == start (inclusive)
            {"pid": 11, "x": 20.0},  # == end (inclusive)
            {"pid": 12, "x": 21.0},  # just outside
            {"pid": 13, "x": 35.5},
            {"pid": 14, "x": 45.0},  # inside inverted interval's span
        ],
    )
    got = {
        (r.iid, r.pid)
        for r in range_join(p, iv, "x", "s", "e", bucket_width=10).collect()
    }
    assert got == {(1, 10), (1, 11), (2, 13)}
    left = range_join(
        p, iv, "x", "s", "e", bucket_width=10, how="left", interval_id=["iid"]
    )
    rows = {(r.iid, r.pid) for r in left.collect()}
    assert rows == {(1, 10), (1, 11), (2, 13), (3, None), (4, None)}


def test_range_join_equi_keys_scope_matches(spark):
    from fuel_spark.ops.core import range_join

    iv = from_rows(
        spark,
        [{"iid": 1, "u": 7, "s": 0.0, "e": 100.0},
         {"iid": 2, "u": 8, "s": 0.0, "e": 100.0}],
    )
    p = from_rows(spark, [{"pid": 1, "u": 7, "x": 50.0}])
    got = {
        (r.iid, r.pid)
        for r in range_join(
            p, iv, "x", "s", "e", bucket_width=10, equi_keys=["u"]
        ).collect()
    }
    assert got == {(1, 1)}


def test_attribution_hand_computed(spark):
    """Purchases credit the latest prior touch within the window; the
    'none' channel collects the rest (no touch / touch too old)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, mins, typ, uid, value=10.0):
        return {
            "event_id": eid,
            "ts": base + dt.timedelta(minutes=mins),
            "user_id": uid,
            "event_type": typ,
            "value": value,
            "props": "{}",
        }

    rows = [
        ev(1, 0, "click", 1),
        ev(2, 10, "purchase", 1),        # click 10 min before -> click
        ev(3, 0, "view", 2),
        ev(4, 5, "click", 2),
        ev(5, 6, "purchase", 2),         # click is latest -> click
        ev(6, 0, "click", 3),
        ev(7, 60, "purchase", 3),        # touch too old (>30min) -> none
        ev(8, 0, "purchase", 4),         # no touch at all -> none
        ev(9, 20, "view", 5),
        ev(10, 20, "purchase", 5),       # equal-ts touch counts -> view
    ]
    out = {
        r.channel: (r.n_purchases, r.purchase_value)
        for r in analytics.events_attribution(
            {"events": from_rows(spark, rows)}
        ).collect()
    }
    assert out == {
        "click": (2, 20.0),
        "view": (1, 10.0),
        "none": (2, 20.0),
    }


def test_attribution_linear_hand_computed(spark):
    """Every in-window touch shares the credit equally; conservation:
    per-channel credits sum back to the purchase count and value."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, mins, typ, uid, value=10.0):
        return {
            "event_id": eid,
            "ts": base + dt.timedelta(minutes=mins),
            "user_id": uid,
            "event_type": typ,
            "value": value,
            "props": "{}",
        }

    rows = [
        ev(1, 0, "click", 1),
        ev(2, 5, "view", 1),
        ev(3, 10, "purchase", 1),   # 2 touches -> 0.5 each, 5.0 each
        ev(4, 0, "click", 2),
        ev(5, 10, "purchase", 2),   # 1 touch -> click full credit
        ev(6, 0, "purchase", 3),    # no touch -> none full credit
    ]
    out = {
        r.channel: (r.credited_purchases, r.credited_value)
        for r in analytics.events_attribution_linear(
            {"events": from_rows(spark, rows)}
        ).collect()
    }
    assert out == {
        "click": (1.5, 15.0),
        "view": (0.5, 5.0),
        "none": (1.0, 10.0),
    }
    # conservation across channels
    assert sum(v[0] for v in out.values()) == 3.0
    assert sum(v[1] for v in out.values()) == 30.0


def test_stickiness_hand_computed(spark):
    """DAU/WAU over a hand-built 3-day trace: WAU(d) counts the
    distinct users of the trailing 7 days including d."""
    import datetime as dt

    def ev(eid, day, uid):
        return {
            "event_id": eid,
            "ts": dt.datetime(2024, 1, day, 9, 0, 0),
            "user_id": uid,
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }

    rows = [
        ev(1, 1, 1), ev(2, 1, 2),          # day 1: users {1,2}
        ev(3, 2, 1),                        # day 2: {1}
        ev(4, 8, 3),                        # day 8: {3}; window [2..8] has {1,3}
    ]
    out = {
        r.day: (r.dau, r.wau, r.stickiness)
        for r in analytics.events_stickiness(
            {"events": from_rows(spark, rows)}
        ).collect()
    }
    assert out["2024-01-01"] == (2, 2, 1.0)
    assert out["2024-01-02"] == (1, 2, 0.5)      # window [dec27..jan2] = {1,2}
    assert out["2024-01-08"] == (1, 2, 0.5)      # window [jan2..8] = {1,3}


def test_segment_dedup_shares_seg_hash_partitioning(spark):
    """One hash shuffle on seg_hash for the agg; the flag-join either
    broadcasts the stats (small input, AQE) or reuses the same
    partitioning — never a second full repartition of the segments."""
    from fuel_spark.ops.dedup import segment_dedup

    t = load_tables(spark, SF)
    p = _plan(segment_dedup(t["documents"]))
    assert "CartesianProduct" not in p
    hash_ex = [
        ln for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_ex) <= 2
    assert all("seg_hash" in ln for ln in hash_ex)


def test_engagement_hand_computed(spark):
    """Three days, overlapping users: DAU exact per day, WAU/MAU are
    trailing distinct unions, stickiness = dau/mau."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 3, 1, 8, 0, 0)
    for day, users in [(0, [1, 2]), (1, [2, 3]), (2, [3])]:
        for u in users:
            rows.append({
                "event_id": len(rows), "user_id": u, "event_type": "view",
                "value": 1.0, "props": "{}",
                "ts": base + dt.timedelta(days=day),
            })
    out = {
        r.day: (r.dau, r.wau, r.mau, r.stickiness)
        for r in analytics.events_engagement(
            {"events": from_rows(spark, rows)}
        ).collect()
    }
    assert out["2024-03-01"] == (2, 2, 2, 1.0)
    assert out["2024-03-02"] == (2, 3, 3, round(2 / 3, 6))
    assert out["2024-03-03"] == (1, 3, 3, round(1 / 3, 6))


def test_registry_wide_no_cartesian_product(spark):
    """Plan lint over EVERY registry query: a CartesianProduct node
    anywhere means some join degenerated to |L| x |R| — the one plan
    shape that can never survive a 100x scale-up.  (Broadcast
    nested-loop joins appear by design — in-plan scalar relations and
    bounded query sets — and single-partition exchanges are the
    metadata-sized final reduces / documented order-demo tiers; both
    are asserted per-op elsewhere.)"""
    import __spark_entry__ as E

    for name, fn in E.queries().items():
        p = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in p, name


# Queries whose plans legitimately contain Exchange SinglePartition —
# audited individually: every occurrence funnels AGGREGATE-SIZED data
# (per-partition offset cumsums in the scheme/batch machinery — 32
# rows; 1-row global finals like chi_square/diff_in_diff/corr; month/
# day/dow-grid windows; broadcast weight tables; the fit loops).  A
# query OUTSIDE this set growing a SinglePartition means a fact-sized
# global sort snuck in — the single-task bottleneck at scale.
SINGLE_PARTITION_ALLOWLIST = {
    # scheme/batch positional machinery: offsets cumsum over
    # per-partition counts (≤ #partitions rows)
    "scheme_sequential", "scheme_shuffled", "scheme_concat",
    "scheme_epoch_batches", "scheme_curriculum", "scheme_interleave",
    "cross_validation", "pack_batches", "pack_token_budget",
    "pad_sequences", "sort_within_batches", "unpack_batches",
    "merge_streams", "merge_streams_local", "cache_stream_rebatch",
    "split_select", "pack_concat_sequences",
    # same offsets-cumsum machinery: parallel_cumsum (ABC) and
    # with_positions (grouped Gini) window per-partition SUMS/COUNTS
    # (≤ #partitions rows); the data plane never funnels
    "part_abc_classification", "customer_gini_by_nation",
    # k-row final: top-20 rule table ordered for output
    "basket_association_rules",
    # k-row centroid set collapsed to ONE broadcast array row per
    # assign pass (r11 kmeans fold — the funneled frame is <= k=8
    # (cluster, cvec, norm) structs by construction; the corpus-sized
    # assignment itself is exchange-free)
    "embedding_kmeans_fixed",
    # 1-row / few-row global finals (counts, corr, chi-square, DiD,
    # expectation & referential suites, calibration/summary reports)
    "check_expectations", "check_referential", "events_chi_square",
    "events_diff_in_diff", "lineitem_qty_price_corr",
    "customer_balance_ltv_corr", "dedup_summary", "dedup_pair_quality",
    "dedup_minhash_calibration", "embedding_quantization_error",
    "embedding_label_separation", "profile_lineitem",
    "revenue_forecast", "promo_revenue", "small_quantity_revenue",
    "bracket_revenue", "waiting_customers", "important_parts",
    "top_supplier", "events_funnel", "events_funnel_windowed",
    # bounded-grid windows (days / months / dows / deciles / bins /
    # histogram buckets / retention offsets — aggregate-sized by
    # construction)
    "orders_backlog", "orders_monthly_growth", "orders_size_histogram",
    "events_dow_hour_heatmap", "events_retention_curve",
    "events_conversion_lag", "events_gap_histogram", "events_churn",
    "events_entry_points", "events_session_stats",
    "events_user_anomalies", "events_user_rfm", "events_rfm_segments",
    "events_segment_migration", "events_pareto_share",
    "events_key_skew", "customer_ltv_deciles", "customer_order_freq",
    "revenue_concentration", "supplier_revenue_concentration",
    "documents_length_histogram", "text_word_length_hist",
    "feature_quantile_bins", "embedding_block_profile",
    "embedding_sample_negatives", "corpus_source_divergence",
    "corpus_domains", "mixture_weights", "mixture_sample",
    # vocabulary-sized LM/IDF tables broadcast back
    "text_unigram_logprob", "text_bigram_logprob", "text_bm25",
    "text_tfidf_top_terms", "text_doc_frequency", "text_vocab_coverage",
    "text_dsir_weights", "text_similar_docs",
    # iterative fits (driver-documented constant-cost loops)
    "part_pagerank",
    # r5: vocab-sized or grid-sized finals — PMI totals (1 row),
    # Zipf rank window + OLS moments (vocab, then 1 row), burstiness
    # doc total (1 row), Benford digit grid (9 rows), Markov
    # stationary (|types| rows per iteration)
    "text_pmi_cooccurrence", "text_zipf_slope", "text_term_burstiness",
    "events_benford", "events_markov_stationary",
    # r5 continued: day-grid CUSUM (cumsum + global peak over ≤days
    # rows), 1-row OLS moments, duration-grid Kaplan–Meier, 24-row
    # Heaps growth grid, count-of-counts Good–Turing
    "events_cusum", "pricing_model_ols", "events_kaplan_meier",
    "text_heaps_fit", "text_good_turing",
    # HITS: the per-half-step L1 total is a 1-row aggregate
    "graph_hits_fixed",
    # r5 continued: bounded-grid AUC cumsum + 1-row agreement/MI/
    # entropy finals
    "quality_auc", "text_langid_kappa", "events_type_hour_mi",
    "events_markov_entropy",
    # r5 continued: value-grid midrank windows + 1-row moments
    # (spearman), 2×|types| JS rollup, day-grid ACF/runs/gap-fill
    "lineitem_spearman", "events_weekday_js", "events_daily_acf",
    "events_runs_test", "events_daily_gapfill",
    # day-grid windows (≤ days rows): Pettitt midrank/cumsum + 1-row
    # argmax; Hurst day-index window + 3-point fit; CCF 1-row norms
    "events_pettitt", "events_hurst", "events_crosscorr",
    # k-labels-row finals: DB index mean over k maxima; CH 1-row W/B
    "embedding_davies_bouldin", "embedding_calinski_harabasz",
    # nations-row between/within rollup + 1-row final; MW midrank
    # window over the bounded 4-dp value grid (the KS/AUC family)
    "customer_theil_decomposition", "events_mann_whitney",
    # 1-row base-month min; BH rank/step-up windows over ≤|types| rows
    "part_price_index", "events_ab_fdr",
    # 3× 1-row per-round census (vertex/edge counts + crossJoin)
    "graph_kcore_fixed",
    # 1-row corpus totals (N sources / N tokens) broadcast back
    "corpus_tfidf_terms", "corpus_fightin_words",
    # day-grid decompose + 1-row variance final
    "events_seasonality_strength",
    # ACF 3-row frame pivoted to one row (day-grid family)
    "events_pacf",
    # bigram-table 1-row total (LLR); day-grid S + 1-row moments (MK)
    "text_bigram_llr", "events_mann_kendall",
    # bounded-grid KS ECDF window + 1-row finals (KS/Theil/Chao1);
    # (groups × 30-word-panel) Burrows frames
    "events_ks_test", "customer_theil_index", "corpus_chao1",
    "corpus_burrows_delta",
    # 1-row census/moment finals over the co-purchase graph
    "graph_triangle_stats", "graph_assortativity",
    # 1-row four-moment final
    "events_jarque_bera",
    # r6: lag-grid (≤7 rows) decimal-cumsum window + 1-row n_days
    # broadcast (Ljung–Box); day-grid + 1-row dispersion moments;
    # |types|-row → 1-row ANOVA rollup; 1-row Cp/Cpk moments
    "events_ljung_box", "events_poisson_dispersion",
    "events_value_anova", "shipping_delay_capability",
    # r6: count-of-counts (≤max-r rows) GT table + 1-row N/N1 totals
    # broadcast back against the doc×word tf table
    "text_gt_logprob",
    # r6: 2-row → 1-row Welch pivot; 1-row Grubbs moments; month-grid
    # → 1-row Cochran–Armitage final
    "events_welch_weekend", "events_grubbs", "orders_priority_trend",
    # r6 late: value-grid midrank window (KW, the MW family) + 1-row
    # H/tie finals; |types|-row → 1-row Levene rollup; ≤7·|types|-row
    # contingency windows + 1-row V final; 1-row point-biserial
    "events_kruskal_wallis", "events_levene", "events_cramers_v",
    "lineitem_point_biserial",
    # r6 late: Theil–Sen exact median sorts run over the
    # calendar²-bounded pairwise-slope frame and the day grid — both
    # bounded by the CALENDAR span, never by row count (a decade is
    # ~6.6M pairs), plus the 1-row Np/Nd broadcasts
    "events_theil_sen",
    # r6 late: periodogram 1-row mean/N/x0 broadcast; Page–Hinkley
    # day-grid cumsum + running-extrema windows + 1-row final
    "events_periodogram", "events_page_hinkley",
    # r7: quantile-sketch global rank window runs over the SAMPLE
    # ONLY (deterministic 1/sample_mod hash-sample — N/8 rows here;
    # at 100 TB the rate is chosen so the sample fits one reduce,
    # and the grouped variant partitions by group instead) + the
    # 1-row sample_n aggregate broadcast back
    "sketch_quantile_value", "sketch_quantile_merge_cert",
    # r7 curation planners: 1-row totals broadcast back (mixture
    # normalizer; funnel's single conditional-sum row; PSI's 3-count
    # row) and value-grid cumulative windows (curriculum/truncation
    # cut points run over DISTINCT score/length values — bounded by
    # the score's domain, never corpus size); the Hamilton schedule's
    # remainder rank window runs over the DOMAIN-sized frame
    "mixture_domain_weights", "curriculum_quality_phases",
    "curation_funnel", "text_truncation_savings",
    "mixture_schedule_slots", "snapshot_length_psi",
    # r7 lifecycle composition: each of the 9 audit stages is a 1-row
    # count aggregate unioned into the constant-size summary
    "incremental_dedup_pipeline",
    # r7 late: rate-sweep = 3 sample-rate-bounded rank windows (the
    # sketch_quantile_value family); token Gini = one value-grid
    # cumulative window + a 1-row final; source-mix and alpha-sweep
    # reuse the curriculum value-grid / 1-row mixture normalizers
    "sketch_quantile_rate_sweep", "corpus_token_gini",
    "curriculum_source_mix", "mixture_alpha_sweep",
    # r7 seeds: 1-row certificate/sweep finals (bloom position census;
    # the funnel sweep's single conditional-sum row) and the
    # domain-sized share normalizers (mix shift's two 1-row totals)
    "sketch_bloom_merge_cert", "curation_threshold_sweep",
    "snapshot_source_mix_shift",
    # r7 seeds: the seq_len sweep's single conditional-sum row
    "packing_seqlen_sweep",
    # r7 late: theta set-ops' per-pair 1-row estimate/exact finals —
    # the sketch side is <= 2k rows by construction and the exact
    # side funnels map-side partials only (flag agg over distinct
    # keys is partial-aggregated before the single-partition final)
    "sketch_theta_set_ops",
    # r7 late: the linkage composite's 8 per-stage 1-row count
    # aggregates (each a map-side-combined count funnel)
    "linkage_pipeline",
    # r7 late: the broadcast planner's five per-dim 1-row size
    # aggregates (dimension tables are metadata-sized by definition —
    # that is the very property the query certifies)
    "join_broadcast_planner",
    # r7 late: inherits unigram_logprob's 1-row corpus-total
    # broadcast (the vocabulary-sized LM family above); the tercile
    # cutoffs run over the per-group DISTINCT-score histogram
    "text_lm_buckets",
    # r7 late: the ECE 1-row reduction over the ≤n_bins-row
    # reliability table, broadcast back (the binary_auc family)
    "quality_calibration",
    # r7 late: the 1-row min-day origin broadcast (the layout lanes
    # must share an absolute anchor); everything else is the
    # files-sized stats rollup
    "layout_zorder_certificate",
    # r7 late: the cut-selection rank window runs over the SAMPLE
    # ONLY (the sketch_quantile_value family), plus the ≤n-1 cut
    # array and 1-row total broadcasts
    "layout_range_planner",
    # r7 late: CUPED's 1-row pooled moments (and the 1-row min-day
    # origin) broadcast back to the user-grain frame — the
    # pricing_model_ols family
    "events_ab_cuped",
    # r7 late: the funnel family's per-stage 1-row count aggregates
    # (events_funnel's own rationale) × the window grid; the power
    # planner's 1-row moment reduction + literal MDE explode
    "events_funnel_window_sweep", "events_ab_power_sweep",
    # r7 late: the 1-row cross-source correlation moments over the
    # domains-sized joined frame, broadcast back
    "dedup_savings_calibration",
    # r8: ANN index lifecycle certificates — the merge cert's 1-row
    # drift rollup and the profile's 1-row bucket-stats final both
    # reduce the (≤2^n_planes)-bucket sizes frame; the pipeline's 6
    # per-stage 1-row count aggregates are the incremental_dedup /
    # linkage composite rationale (map-side-combined count funnels)
    "ann_index_merge_cert", "ann_index_bucket_profile",
    "ann_incremental_pipeline",
    # r8 late: the sweep is three merge-cert 1-row rollups unioned
    # (same rationale as the single certificate above)
    "ann_reindex_sweep",
    # r8 late: the ingest composite's 7 per-stage 1-row count
    # aggregates (the linkage_pipeline rationale) and the planes
    # sweep's three 1-row profile rollups over bucket-census frames
    "linkage_incremental", "ann_planes_sweep",
    # r8 late: the retemper's 1-row two-column normalizing total
    # broadcast back (the mixture_domain_weights rationale, twice)
    "mixture_after_dedup",
    # r8 late: inherits dsir_weights' 1-row corpus-total broadcast
    # (the text_dsir_weights rationale); the selection rank window
    # itself partitions by source
    "dsir_topk_by_source",
    # r9: the relative cap's 1-row (n_rows, n_buckets) totals over
    # the ≤2^n_planes-bucket sizes frame, broadcast back (the
    # ann_index_bucket_profile rationale)
    "ann_compact_relative",
    # r9: the dedup census's 1-row four-count final over the
    # per-signature group table (map-side-combined count funnel)
    "image_dedup_exact",
    # r9 catalog profiling: per-rule / per-table / per-column 1-row
    # finals over key-count or value-domain-bounded frames (the
    # check_expectations rationale, unioned), plus the IQR quartile
    # selection's value-grid cumulative window (the KS/midrank
    # family — the window runs over DISTINCT values, never row grain)
    "profile_fd_audit", "profile_duplicate_rows",
    "profile_iqr_outliers", "profile_date_coverage",
    "profile_categorical_entropy", "profile_constancy",
    # r9 training-order certificates: the positional machinery's
    # per-partition offsets cumsum (≤ #partitions rows — the
    # scheme_sequential rationale, once per positions pass), plus
    # 1-row certificate finals and domain-sized share normalizers
    "order_epoch_overlap", "order_seed_overlap_sweep",
    "order_batch_mix", "order_position_decorrelation",
    "order_stride_coverage", "order_epoch_batch_churn",
    "order_worker_token_balance", "order_interleave_proportionality",
    # r9 late: the same positional-offsets / 1-row-final rationales —
    # curriculum-vs-shuffle contrast (4 positions passes), the resume
    # midpoint's 1-row total broadcast, the per-table 1-row width
    # headers, and the image composite's per-stage 1-row counts
    "order_curriculum_stability", "order_resume_tail_mix",
    "profile_row_width", "image_dedup_pipeline",
    # r9 epilogue: knob sweeps of 1-row finals unioned (the
    # check_expectations rationale per setting), per-pair 1-row
    # correlation moments, per-column 1-row moment finals, and the
    # novelty curve's 1-row total broadcast + positional offsets
    "order_worker_sweep", "profile_corr_matrix",
    "profile_numeric_moments", "audio_decimate_sweep",
    "video_stride_sweep", "text_novelty_by_decile",
    # r10 tokenizer economics: 1-row total/corpus-scalar broadcasts
    # over the vocab-grain prefix-size table (the mixture normalizer
    # rationale) — the fold itself is vocab-sized, never corpus-sized
    "text_bpe_merge_utilization", "text_bpe_compression_curve",
    "text_bpe_token_length_hist",
    # r10 cluster planning: per-threshold 1-row graph-summary finals
    # (the check_expectations rationale, unioned) and the 1-row
    # corpus-words total broadcast behind the token profile's share
    "dedup_cc_threshold_sweep", "dedup_component_profile",
    # r10 pHash radius curve: per-radius 1-row count finals over the
    # banded candidate-pair set (the funnel-sweep rationale)
    "image_phash_radius_sweep",
    # r10 catalog round-out: per-candidate / per-column / per-cell
    # 1-row audit finals (the check_expectations rationale, unioned)
    # and the curation grid's 1-row corpus-total broadcast; the
    # sortedness audit's per-column 1-row reductions
    "profile_key_uniqueness", "lineitem_sortedness_audit",
    "curation_grid_tradeoff",
    # r10 sketch round-out: per-m/per-width/per-config/per-p 1-row
    # summary finals over sketch-sized or bucket-census frames (the
    # sketch_bloom_merge_cert rationale, swept)
    "sketch_bloom_fpr_curve", "text_ngram_collision_rate",
    "dedup_banding_precision_sweep", "layout_partition_evenness",
    # r10 closing five: the breadth profile's rank window runs over
    # the supplier DIMENSION (bounded) + 1-row profile finals; the
    # aging table's 1-row max-date anchor broadcast
    "supplier_part_breadth", "orders_priority_aging",
}


def test_registry_single_partition_regression(spark):
    """Regression pin for the single-partition audit: every query
    whose executed plan contains ``Exchange SinglePartition`` must be
    in the audited allowlist above.  New queries that accidentally
    plan a fact-sized global sort fail here instead of shipping."""
    import __spark_entry__ as E

    offenders = []
    for name, fn in E.queries().items():
        p = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if "Exchange SinglePartition" in p and name not in SINGLE_PARTITION_ALLOWLIST:
            offenders.append(name)
    assert not offenders, (
        f"unaudited Exchange SinglePartition in: {offenders} — verify the "
        "funneled data is aggregate-sized, then add to the allowlist "
        "with its family"
    )


def test_attribution_first_vs_last_touch(spark):
    """Two touches inside the window: last-touch credits the later
    (click), first-touch credits the earlier (view)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, mins, typ, uid):
        return {"event_id": eid, "ts": base + dt.timedelta(minutes=mins),
                "user_id": uid, "event_type": typ, "value": 10.0,
                "props": "{}"}

    rows = [
        ev(1, 0, "view", 1),
        ev(2, 5, "click", 1),
        ev(3, 10, "purchase", 1),
    ]
    t = {"events": from_rows(spark, rows)}
    last = {r.channel for r in analytics.events_attribution(t).collect()}
    first = {r.channel for r in analytics.events_attribution_first(t).collect()}
    assert last == {"click"}
    assert first == {"view"}


def test_windowed_funnel_excludes_out_of_window_steps(spark):
    """A click 2h after the first view converts in the unbounded
    funnel but not in a 1h-windowed one."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, mins, typ, uid):
        return {"event_id": eid, "ts": base + dt.timedelta(minutes=mins),
                "user_id": uid, "event_type": typ, "value": 1.0,
                "props": "{}"}

    rows = [
        ev(1, 0, "view", 1), ev(2, 30, "click", 1), ev(3, 45, "purchase", 1),
        ev(4, 0, "view", 2), ev(5, 120, "click", 2),  # outside 1h window
    ]
    t = {"events": from_rows(spark, rows)}
    unbounded = {r.stage: r.n_users for r in analytics.events_funnel(t).collect()}
    windowed = {r.stage: r.n_users
                for r in analytics.events_funnel_windowed(
                    t, max_gap_seconds=3600).collect()}
    assert unbounded == {1: 2, 2: 2, 3: 1}
    assert windowed == {1: 2, 2: 1, 3: 1}


def test_standardize_hand_computed(spark):
    from fuel_spark.ops.profile import standardize
    from fuel_spark.sources import from_rows as fr

    df = fr(spark, [{"g": "a", "v": 1.0}, {"g": "a", "v": 3.0},
                    {"g": "b", "v": 10.0}])
    out = {(r.g, r.v): (r.mean, r.z) for r in
           standardize(df, "v", "g").collect()}
    assert out[("a", 1.0)] == (2.0, -1.0)
    assert out[("a", 3.0)] == (2.0, 1.0)
    # singleton group: variance floors at 1e-12, z collapses to 0
    assert out[("b", 10.0)][1] == 0.0


def test_transitions_hand_computed(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def ev(eid, mins, typ, uid):
        return {"event_id": eid, "ts": base + dt.timedelta(minutes=mins),
                "user_id": uid, "event_type": typ, "value": 1.0,
                "props": "{}"}

    # user 1: a->b->a ; user 2: a->b   => a->b: 2 (p=1.0), b->a: 1 (p=1.0)
    rows = [ev(1, 0, "a", 1), ev(2, 1, "b", 1), ev(3, 2, "a", 1),
            ev(4, 0, "a", 2), ev(5, 1, "b", 2)]
    out = {(r.from_type, r.to_type): (r.n, r.p)
           for r in analytics.events_transitions(
               {"events": from_rows(spark, rows)}).collect()}
    assert out == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}


def test_parallel_ntile_matches_window_ntile(spark):
    """parallel_ntile must reproduce SQL ntile exactly — including the
    first-(n % k)-buckets-get-the-extra-row distribution — for bucket
    counts that do and do not divide the row count."""
    from pyspark.sql import Window as W

    from fuel_spark.ops.core import parallel_ntile

    df = spark.range(0, 103).select(
        F.col("id"), (F.col("id") * 37 % 103).alias("v")
    )
    for k in (4, 10, 103, 200):
        fast = {
            r.id: r.b
            for r in parallel_ntile(
                df, [F.col("v"), F.col("id")], k, out_col="b"
            ).collect()
        }
        slow = {
            r.id: r.b
            for r in df.withColumn(
                "b", F.ntile(k).over(W.orderBy("v", "id"))
            ).collect()
        }
        assert fast == slow, k


def test_pareto_and_ltv_deciles_no_data_single_partition(spark):
    """The decile queries must not funnel the per-user/customer
    aggregate through one task: the only SinglePartition stages
    allowed are the metadata-sized offset/total aggregates."""
    t = load_tables(spark, SF)
    for q in (
        analytics.events_pareto_share(t),
        analytics.customer_ltv_deciles(t),
        analytics.revenue_concentration(t),
    ):
        p = _plan(q)
        assert _single_partition_only_over_count_agg(p), p


def test_dictionary_and_range_split_no_data_single_partition(spark):
    """Vocabulary ranking and fuel-style (start, stop) range splits
    must not sort unbounded data in one task: the dictionary ranks a
    sort-limited top-vocab, the split uses partition-offset
    positions."""
    from fuel_spark.sources import load_tables
    from fuel_spark.sources.text import build_dictionary
    from fuel_spark.sources.splits import SplitDataset

    t = load_tables(spark, SF)
    d = build_dictionary(t["documents"], "text", 200)
    # the only single-partition stage ranks the 200-row top-vocab
    plan = _plan(d)
    for ln in plan.split("\n"):
        if "Exchange SinglePartition" in ln:
            assert "200" in plan  # bounded by the limit upstream
    sd = SplitDataset(t["customer"], "c_custkey")
    sd.add_split("train", 0, 100)
    p = _plan(sd.get_split("train"))
    assert _single_partition_only_over_count_agg(p), p


def test_salted_join_matches_plain_join_under_skew(spark):
    """A 90%-hot-key join must produce exactly the plain join's rows,
    with the hot key spread across salt buckets."""
    from fuel_spark.functions import salted_join

    left = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, 7).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("lv"),
    )
    right = from_rows(
        spark, [(7, "hot"), (950, "cold"), (999, "cold2")],
        "k bigint, rv string",
    )
    fast = salted_join(left, right, "k", salt_buckets=8).collect()
    slow = left.join(right, "k").collect()
    assert sorted((r.k, r.lv, r.rv) for r in fast) == sorted(
        (r.k, r.lv, r.rv) for r in slow
    )
    assert len(fast) == 902  # 900 hot + 2 cold


def test_plan_report_counts_known_plan(spark):
    from fuel_spark.functions import plan_report

    t = load_tables(spark, SF)
    q = analytics.pricing_summary(t)
    rep = plan_report(q)
    assert rep["cartesian_products"] == 0
    assert rep["hash_exchanges"] == 1  # the single groupBy shuffle
    # codegen spans appear once AQE finalizes the plan (post-action)
    q.collect()
    assert plan_report(q)["codegen_spans"] >= 1
    rep2 = plan_report(analytics.regional_revenue(t))
    assert rep2["broadcast_joins"] >= 2  # dim chain broadcasts
    assert rep2["cartesian_products"] == 0


def test_daily_ewma_hand_computed(spark):
    """Two purchase days: the EWMA of the later day blends both at
    the half-life decay; the first day's EWMA is itself."""
    import datetime as dt

    def ev(eid, day, value):
        return {
            "event_id": eid,
            "ts": dt.datetime(2024, 1, day, 12, 0, 0),
            "user_id": 1,
            "event_type": "purchase",
            "value": value,
            "props": "{}",
        }

    out = {
        r.day: (r.day_value, r.ewma)
        for r in analytics.events_daily_ewma(
            {"events": from_rows(spark, [ev(1, 1, 10.0), ev(2, 2, 20.0)])}
        ).collect()
    }
    assert out["2024-01-01"] == (10.0, 10.0)
    d = round(0.5 ** (1.0 / 7), 9)
    expected = round((round(1.0 * 20.0, 6) + round(d * 10.0, 6)) / (1.0 + d), 6)
    assert out["2024-01-02"] == (20.0, expected)


def test_orders_backlog_hand_computed(spark):
    """Order placed in Jan ships in Feb: backlog rises then clears;
    an unshipped order stays open forever."""
    import datetime as dt

    orders = from_rows(
        spark,
        [
            (1, dt.date(2024, 1, 5)),
            (2, dt.date(2024, 1, 20)),
            (3, dt.date(2024, 2, 1)),
        ],
        schema="o_orderkey bigint, o_orderdate date",
    )
    lineitem = from_rows(
        spark,
        [
            (1, 1, dt.date(2024, 1, 10)),   # order 1 fully ships in Jan
            (2, 1, dt.date(2024, 1, 25)),
            (2, 2, dt.date(2024, 2, 3)),    # order 2's LAST item ships Feb
            # order 3 never ships
        ],
        schema="l_orderkey bigint, l_linenumber bigint, l_shipdate date",
    )
    out = {
        r.month: (r.placed, r.shipped, r.open_backlog)
        for r in analytics.orders_backlog(
            {"orders": orders, "lineitem": lineitem}
        ).collect()
    }
    assert out["2024-01"] == (2, 1, 1)
    assert out["2024-02"] == (1, 1, 1)  # order 3 still open


def test_source_divergence_zero_for_identical(spark):
    """A group with the corpus-wide word distribution scores ~0 KL;
    a skewed group scores strictly higher; KL is never negative."""
    from fuel_spark.ops.text import source_divergence

    docs = from_rows(
        spark,
        [
            ("a", "cat dog cat dog"),
            ("b", "cat dog cat dog"),
            ("c", "zebra zebra zebra zebra"),
        ],
        schema="source string, text string",
    )
    out = {r.source: r.kl_divergence for r in
           source_divergence(docs, "source", "text").collect()}
    assert out["a"] == out["b"]
    assert out["c"] > out["a"] >= 0.0


def test_chi_square_zero_for_independent(spark):
    """A perfectly balanced type×dow table has chi_square exactly 0;
    dof = (types-1)(dows-1)."""
    import datetime as dt

    rows = []
    eid = 0
    # 2 types × 3 weekdays × equal count 4 -> perfectly independent
    for day in (1, 2, 3):          # Mon Tue Wed of 2024-01
        for typ in ("a", "b"):
            for _ in range(4):
                eid += 1
                rows.append({
                    "event_id": eid,
                    "ts": dt.datetime(2024, 1, day, 12, 0, 0),
                    "user_id": 1, "event_type": typ, "value": 1.0,
                    "props": "{}",
                })
    r = analytics.events_chi_square({"events": from_rows(spark, rows)}).first()
    assert r.chi_square == 0.0
    assert r.dof == 2 and r.n_cells == 6


def test_seasonal_forecast_leave_one_out(spark):
    """Two Mondays at 10 and 20: each forecasts the OTHER (20, 10);
    a lone Tuesday has no peers -> NULL forecast."""
    import datetime as dt

    def ev(eid, day, value):
        return {"event_id": eid, "ts": dt.datetime(2024, 1, day, 9, 0, 0),
                "user_id": 1, "event_type": "purchase", "value": value,
                "props": "{}"}

    # 2024-01-01 and 01-08 are Mondays; 01-02 a Tuesday
    rows = [ev(1, 1, 10.0), ev(2, 8, 20.0), ev(3, 2, 7.0)]
    out = {r.day: (r.day_value, r.forecast) for r in
           analytics.events_seasonal_forecast(
               {"events": from_rows(spark, rows)}).collect()}
    assert out["2024-01-01"] == (10.0, 20.0)
    assert out["2024-01-08"] == (20.0, 10.0)
    assert out["2024-01-02"] == (7.0, None)


def test_segment_migration_hand_computed(spark):
    """User 1 heavy->light, user 2 appears in half 2 only
    (inactive->light), user 3 stays regular."""
    import datetime as dt

    rows = []
    eid = 0

    def add(uid, day, n):
        nonlocal eid
        for i in range(n):
            eid += 1
            rows.append({
                "event_id": eid,
                "ts": dt.datetime(2024, 1, day, 6 + (i % 12), i % 60, 0),
                "user_id": uid, "event_type": "view", "value": 1.0,
                "props": "{}",
            })

    # window spans Jan 1..20 -> midpoint ~Jan 10
    add(1, 1, 25)    # half 1: heavy
    add(1, 20, 1)    # half 2: light
    add(2, 20, 2)    # half 2 only
    add(3, 1, 6)     # regular both halves
    add(3, 19, 6)
    out = {(r.from_segment, r.to_segment): r.n_users for r in
           analytics.events_segment_migration(
               {"events": from_rows(spark, rows)},
               heavy_n=20, regular_n=5).collect()}
    assert out[("heavy", "light")] == 1
    assert out[("inactive", "light")] == 1
    assert out[("regular", "regular")] == 1
    assert sum(out.values()) == 3


def test_cohort_ltv_offsets_and_revenue(spark):
    import datetime as dt

    orders = from_rows(
        spark,
        [
            (1, 10, dt.date(2024, 1, 5), 100.0),
            (2, 10, dt.date(2024, 3, 5), 50.0),   # offset 2
            (3, 20, dt.date(2024, 3, 1), 70.0),   # its own cohort
        ],
        schema="o_orderkey bigint, o_custkey bigint, "
               "o_orderdate date, o_totalprice double",
    )
    out = {(r.cohort_month, r.month_offset): (r.n_customers, r.revenue)
           for r in analytics.customer_cohort_ltv(
               {"orders": orders}).collect()}
    assert out[("2024-01", 0)] == (1, 100.0)
    assert out[("2024-01", 2)] == (1, 50.0)
    assert out[("2024-03", 0)] == (1, 70.0)


def test_diff_in_diff_hand_computed(spark):
    """Hand 2x2: treat arm value rises 5 -> 9, ctrl rises 1 -> 2
    (secular trend +1): DiD = (9-5) - (2-1) = 3."""
    import datetime as dt

    # find user ids that hash into each arm under salt exp1
    import hashlib

    def arm_of(uid):
        h = hashlib.md5(f"exp1-{uid}".encode()).hexdigest()[:6]
        return "treat" if int(h, 16) % 2 == 0 else "ctrl"

    treat = next(u for u in range(100) if arm_of(u) == "treat")
    ctrl = next(u for u in range(100) if arm_of(u) == "ctrl")
    rows = [
        # window Jan 1..10 -> midpoint Jan 5-ish
        {"event_id": 1, "ts": dt.datetime(2024, 1, 1), "user_id": treat,
         "event_type": "view", "value": 5.0, "props": "{}"},
        {"event_id": 2, "ts": dt.datetime(2024, 1, 10), "user_id": treat,
         "event_type": "view", "value": 9.0, "props": "{}"},
        {"event_id": 3, "ts": dt.datetime(2024, 1, 1), "user_id": ctrl,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 4, "ts": dt.datetime(2024, 1, 10), "user_id": ctrl,
         "event_type": "view", "value": 2.0, "props": "{}"},
    ]
    r = analytics.events_diff_in_diff(
        {"events": from_rows(spark, rows)}
    ).first()
    assert (r.treat_pre, r.treat_post, r.ctrl_pre, r.ctrl_post) == (
        5.0, 9.0, 1.0, 2.0
    )
    assert r.did_estimate == 3.0


def test_events_decompose_identity_and_flat_series(spark):
    """value = trend + seasonal + residual exactly (rounded pieces);
    a constant series decomposes to trend=const, seasonal=0,
    residual=0."""
    import datetime as dt

    def ev(eid, day):
        return {"event_id": eid, "ts": dt.datetime(2024, 1, day, 9, 0, 0),
                "user_id": 1, "event_type": "purchase", "value": 10.0,
                "props": "{}"}

    rows = [ev(i, i) for i in range(1, 15)]
    out = analytics.events_decompose(
        {"events": from_rows(spark, rows)}
    ).collect()
    assert len(out) == 14
    for r in out:
        assert r.trend == 10.0 and r.seasonal == 0.0 and r.residual == 0.0
        assert abs(r.day_value - (r.trend + r.seasonal + r.residual)) < 1e-9


def test_attribution_time_decay_weights(spark):
    """Two touches 0s and 600s before the purchase, half-life 600:
    weights 1 and 0.5 -> credits 2/3 and 1/3."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        {"event_id": 1, "ts": base - dt.timedelta(seconds=600),
         "user_id": 1, "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 2, "ts": base, "user_id": 1, "event_type": "view",
         "value": 0.0, "props": "{}"},
        {"event_id": 3, "ts": base, "user_id": 1, "event_type": "purchase",
         "value": 9.0, "props": "{}"},
    ]
    out = {r.channel: (r.credited_purchases, r.credited_value) for r in
           analytics.events_attribution_time_decay(
               {"events": from_rows(spark, rows)},
               window_seconds=1800, half_life_seconds=600).collect()}
    assert out["view"] == (round(1 / 1.5, 6), 6.0)     # weight 1
    assert out["click"] == (round(0.5 / 1.5, 6), 3.0)  # weight 0.5


def test_attribution_time_decay_underflow_guard(spark):
    """gap/half_life ≈ 1700: every raw weight rounds to 0 at 9 dp.
    The ≥1e-9 clamp must degrade to uniform credit instead of
    silently dropping the purchase (pre-fix, w/_wsum went NULL and
    neither a channel nor 'none' got the credit)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        {"event_id": 1, "ts": base - dt.timedelta(seconds=1700),
         "user_id": 1, "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 2, "ts": base - dt.timedelta(seconds=1702),
         "user_id": 1, "event_type": "view", "value": 0.0, "props": "{}"},
        {"event_id": 3, "ts": base, "user_id": 1, "event_type": "purchase",
         "value": 8.0, "props": "{}"},
    ]
    out = {r.channel: (r.credited_purchases, r.credited_value) for r in
           analytics.events_attribution_time_decay(
               {"events": from_rows(spark, rows)},
               window_seconds=1800, half_life_seconds=1).collect()}
    total_purchases = sum(v[0] for v in out.values())
    total_value = sum(v[1] for v in out.values())
    assert abs(total_purchases - 1.0) < 1e-5      # purchase not dropped
    assert abs(total_value - 8.0) < 1e-5
    # both weights clamp to 1e-9 -> uniform split
    assert abs(out["click"][0] - 0.5) < 1e-5
    assert abs(out["view"][0] - 0.5) < 1e-5


def test_benford_digits_and_expected(spark):
    import datetime as dt

    rows = [{"event_id": i, "ts": dt.datetime(2024, 1, 1), "user_id": 1,
             "event_type": "a", "value": v, "props": "{}"}
            for i, v in enumerate([1.0, 12.0, 0.23, 900.0, 5.0, 0.005, -3.0])]
    out = {r.digit: (r.n, r.share, r.expected)
           for r in analytics.events_benford(
               {"events": from_rows(spark, rows)}).collect()}
    # 0.005 (< 0.01) and -3.0 are excluded; digits: 1,1,2,9,5
    import math
    assert {d: v[0] for d, v in out.items()} == {"1": 2, "2": 1, "9": 1, "5": 1}
    assert abs(sum(v[1] for v in out.values()) - 1.0) < 1e-5
    for d, (_, _, exp) in out.items():
        assert abs(exp - round(math.log10(1 + 1 / int(d)), 6)) < 1e-9


def test_markov_stationary_hand_computed(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def ev(eid, mins, typ, uid):
        return {"event_id": eid, "ts": base + dt.timedelta(minutes=mins),
                "user_id": uid, "event_type": typ, "value": 1.0,
                "props": "{}"}

    # deterministic 2-cycle a->b->a->b: P(a->b)=P(b->a)=1, uniform
    # start is stationary -> (0.5, 0.5) after any number of steps
    rows = [ev(i, i, "ab"[i % 2], 1) for i in range(8)]
    out = {r.state: r.prob
           for r in analytics.events_markov_stationary(
               {"events": from_rows(spark, rows)}, iterations=3).collect()}
    assert out == {"a": 0.5, "b": 0.5}

    # absorbing self-loop: a->a...a->b ends the chain; all mass that
    # reaches b drains (b has no outgoing row) — documented contract
    rows2 = [ev(1, 0, "a", 1), ev(2, 1, "a", 1), ev(3, 2, "b", 1)]
    out2 = {r.state: r.prob
            for r in analytics.events_markov_stationary(
                {"events": from_rows(spark, rows2)}, iterations=1).collect()}
    # P(a->a)=0.5, P(a->b)=0.5; v0=(.5,.5) -> v1=(0.25, 0.25)
    assert out2 == {"a": 0.25, "b": 0.25}


def test_kaplan_meier_hand_computed(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def ev(eid, day, uid):
        return {"event_id": eid, "ts": base + dt.timedelta(days=day),
                "user_id": uid, "event_type": "a", "value": 1.0,
                "props": "{}"}

    # observation end = day 10.  u1: 0..10 (dur 10, censored);
    # u2: 0..2 (dur 2, gap 8 -> died); u3: day 0 only (dur 0, died);
    # u4: 3..10 (dur 7, censored)
    rows = [ev(1, 0, 1), ev(2, 10, 1), ev(3, 0, 2), ev(4, 2, 2),
            ev(5, 0, 3), ev(6, 3, 4), ev(7, 10, 4)]
    out = {r.duration_days: (r.n_risk, r.deaths, r.censored, r.survival)
           for r in analytics.events_kaplan_meier(
               {"events": from_rows(spark, rows)}, censor_days=7).collect()}
    assert out[0] == (4, 1, 0, 0.75)
    assert out[2] == (3, 1, 0, 0.5)
    assert out[7] == (2, 0, 1, 0.5)
    assert out[10] == (1, 0, 1, 0.5)


def test_cusum_peak_at_level_shift(spark):
    import datetime as dt

    # 5 quiet days (10/day) then 5 loud days (30/day): mean 20,
    # CUSUM walks to -50 by day 5 then returns to 0 — peak at day 5
    rows = []
    eid = 0
    for day in range(10):
        n = 10 if day < 5 else 30
        for j in range(n):
            rows.append({"event_id": eid, "user_id": j,
                         "ts": dt.datetime(2024, 1, day + 1, 8),
                         "event_type": "a", "value": 1.0, "props": "{}"})
            eid += 1
    out = {r.day: (r.n, r.cusum, r.is_peak)
           for r in analytics.events_cusum(
               {"events": from_rows(spark, rows)}).collect()}
    assert out["2024-01-05"] == (10, -50.0, True)
    assert out["2024-01-10"][1] == 0.0
    assert sum(1 for v in out.values() if v[2]) == 1


def test_pricing_model_ols_matches_numpy(spark):
    import numpy as np

    rows = [{"l_quantity": float(q), "l_discount": d,
             "l_extendedprice": 5.0 + 2.0 * q - 100.0 * d + (q * d)}
            for q in range(1, 20) for d in (0.0, 0.05, 0.1)]
    df = from_rows(
        spark, [tuple(r.values()) for r in rows],
        schema="l_quantity double, l_discount double, l_extendedprice double",
    )
    r = analytics.pricing_model_ols({"lineitem": df}).collect()[0]
    X = np.array([[1.0, row["l_quantity"], row["l_discount"]] for row in rows])
    y = np.array([row["l_extendedprice"] for row in rows])
    b = np.linalg.lstsq(X, y, rcond=None)[0]
    assert abs(r.b0 - b[0]) < 1e-3
    assert abs(r.b1_quantity - b[1]) < 1e-3
    assert abs(r.b2_discount - b[2]) < 1e-3
    assert 0.9 < r.r2 <= 1.0


def test_markov_entropy_deterministic_chain_is_zero(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [{"event_id": i, "ts": base + dt.timedelta(minutes=i),
             "user_id": 1, "event_type": "ab"[i % 2], "value": 1.0,
             "props": "{}"} for i in range(10)]
    r = analytics.events_markov_entropy(
        {"events": from_rows(spark, rows)}).collect()[0]
    # a->b->a deterministic: every P is 1, ln 1 = 0
    assert r.n_states == 2 and r.entropy_rate == 0.0


def _evd(day, uid=1, n=1, typ="a"):
    import datetime as dt

    return [{"event_id": day * 1000 + j + uid * 100000,
             "ts": dt.datetime(2024, 1, day, 8),
             "user_id": uid, "event_type": typ, "value": 1.0,
             "props": "{}"} for j in range(n)]


def test_spearman_monotone_and_ties(spark):
    # y = x^3 (monotone, nonlinear): Spearman must be exactly 1
    rows = [(float(x), float(x ** 3), 1.0) for x in range(1, 11)]
    df = from_rows(
        spark, rows,
        schema="l_quantity double, l_discount double, l_extendedprice double",
    )
    r = analytics.lineitem_spearman({"lineitem": df}).collect()[0]
    assert r.spearman_rho == 1.0
    rows2 = [(float(x), float(-x), 1.0) for x in range(1, 11)]
    df2 = from_rows(
        spark, rows2,
        schema="l_quantity double, l_discount double, l_extendedprice double",
    )
    assert analytics.lineitem_spearman(
        {"lineitem": df2}).collect()[0].spearman_rho == -1.0


def test_weekday_js_extremes(spark):
    # identical mixes on both sides -> JS 0
    rows = []
    for day in (1, 6):  # Mon Jan 1 2024, Sat Jan 6
        for typ in ("a", "b"):
            rows += [dict(r, event_type=typ) for r in _evd(day, n=5)]
    out = analytics.events_weekday_js(
        {"events": from_rows(spark, rows)}).collect()[0]
    assert out.js_nats == 0.0
    # disjoint mixes -> ln 2 (normalized 1)
    rows2 = [dict(r, event_type="wk") for r in _evd(1, n=10)] + [
        dict(r, event_type="we") for r in _evd(6, n=10)]
    out2 = analytics.events_weekday_js(
        {"events": from_rows(spark, rows2)}).collect()[0]
    assert abs(out2.js_normalized - 1.0) < 1e-5


def test_daily_acf_period_two(spark):
    # alternating 2, 10, 2, 10 ... -> acf(1) ~ -1, acf(2) ~ +1
    rows = []
    for day in range(1, 13):
        rows += _evd(day, n=(2 if day % 2 else 10))
    out = {r.lag: r.acf for r in analytics.events_daily_acf(
        {"events": from_rows(spark, rows)}, max_lag=3).collect()}
    # full-variance denominator: |acf(k)| <= (N-k)/N, so the exact
    # values are -11/12 and +10/12
    assert abs(out[1] - (-11 / 12)) < 1e-4
    assert abs(out[2] - (10 / 12)) < 1e-4


def test_runs_test_extremes(spark):
    # alternating above/below -> maximal runs -> z > 0
    rows = []
    for day in range(1, 13):
        rows += _evd(day, n=(2 if day % 2 else 10))
    r = analytics.events_runs_test(
        {"events": from_rows(spark, rows)}).collect()[0]
    assert r.runs == 12 and r.z > 2.0
    # block structure: all lows then all highs -> 2 runs -> z < 0
    rows2 = []
    for day in range(1, 13):
        rows2 += _evd(day, n=(2 if day <= 6 else 10))
    r2 = analytics.events_runs_test(
        {"events": from_rows(spark, rows2)}).collect()[0]
    assert r2.runs == 2 and r2.z < -2.0


def test_daily_gapfill_interpolation(spark):
    # days 1 (n=10), 4 (n=4), 6 (n=8): gaps at 2,3 interpolate
    # 10->4 (8, 6); day 5 interpolates 4->8 (6)
    rows = _evd(1, n=10) + _evd(4, n=4) + _evd(6, n=8)
    out = {r.day: (r.n, r.filled, r.is_observed)
           for r in analytics.events_daily_gapfill(
               {"events": from_rows(spark, rows)}).collect()}
    assert len(out) == 6
    assert out["2024-01-01"] == (10, 10.0, True)
    assert out["2024-01-02"][1] == 8.0 and not out["2024-01-02"][2]
    assert out["2024-01-03"][1] == 6.0
    assert out["2024-01-05"][1] == 6.0
    assert out["2024-01-06"] == (8, 8.0, True)


def test_mann_kendall_trend_and_constant(spark):
    # strictly increasing: S = C(12,2) = 66, z strongly positive
    rows = []
    for day in range(1, 13):
        rows += _evd(day, n=day)
    r = analytics.events_mann_kendall(
        {"events": from_rows(spark, rows)}).collect()[0]
    assert r.s_stat == 66 and r.z > 3.0
    # constant: every pair ties -> S = 0, z = 0 by the sign branch
    rows2 = []
    for day in range(1, 13):
        rows2 += _evd(day, n=5)
    r2 = analytics.events_mann_kendall(
        {"events": from_rows(spark, rows2)}).collect()[0]
    assert r2.s_stat == 0 and r2.z == 0.0


def test_ks_test_same_and_disjoint(spark):
    import datetime as dt

    def ev(eid, typ, v):
        return {"event_id": eid, "ts": dt.datetime(2024, 1, 1),
                "user_id": 1, "event_type": typ, "value": v,
                "props": "{}"}

    # identical value sets -> D = 0, p clamps to 1
    rows = [ev(i, "purchase", float(i % 5)) for i in range(50)] + [
        ev(100 + i, "click", float(i % 5)) for i in range(50)]
    r = analytics.events_ks_test({"events": from_rows(spark, rows)}).collect()[0]
    assert r.d_stat == 0.0 and r.p_approx == 1.0
    # disjoint supports -> D = 1, p ~ 0
    rows2 = [ev(i, "purchase", 1.0 + (i % 3)) for i in range(30)] + [
        ev(100 + i, "click", 100.0 + (i % 3)) for i in range(30)]
    r2 = analytics.events_ks_test({"events": from_rows(spark, rows2)}).collect()[0]
    assert r2.d_stat == 1.0 and r2.p_approx < 1e-4


def test_theil_index_equal_and_concentrated(spark):
    eq = from_rows(
        spark, [(i, 100.0) for i in range(10)],
        schema="o_custkey bigint, o_totalprice double")
    r = analytics.customer_theil_index({"orders": eq}).collect()[0]
    assert r.theil == 0.0 and r.mean_ltv == 100.0
    # one customer holds ~everything: T approaches ln(n)
    import math
    conc = from_rows(
        spark, [(0, 1000.0)] + [(i, 0.001) for i in range(1, 10)],
        schema="o_custkey bigint, o_totalprice double")
    r2 = analytics.customer_theil_index({"orders": conc}).collect()[0]
    assert r2.theil > 0.9 * math.log(10)


def test_price_elasticity_grouped_ols(spark):
    import numpy as np

    # part 1: perfect slope -100 (q = 30 - 100*d); part 2: flat;
    # part 3: too few lines (dropped)
    rows = []
    for i in range(24):
        d = (i % 4) * 0.02
        rows.append((1, d, 30.0 - 100.0 * d))
        rows.append((2, d, 15.0))
    rows += [(3, 0.05, 10.0)] * 5
    df = from_rows(
        spark, rows,
        schema="l_partkey bigint, l_discount double, l_quantity double")
    out = {r.l_partkey: r for r in analytics.part_price_elasticity(
        {"lineitem": df}, min_lines=20, top_k=10).collect()}
    assert set(out) == {1, 2}
    assert abs(out[1].slope - (-100.0)) < 1e-6
    assert abs(out[1].intercept - 30.0) < 1e-6
    assert out[2].slope == 0.0
    # ordering: steepest slope first
    assert list(out) and min(out, key=lambda k: out[k].slope) == 1


def test_jarque_bera_symmetric_vs_skewed(spark):
    import datetime as dt

    def ev(eid, v):
        return {"event_id": eid, "ts": dt.datetime(2024, 1, 1),
                "user_id": 1, "event_type": "a", "value": v,
                "props": "{}"}

    # symmetric two-point mass: skewness 0, excess kurtosis -2,
    # JB = n/6 * (0 + 4/4) = n/6
    rows = [ev(i, 1.0 if i % 2 else -1.0) for i in range(60)]
    r = analytics.events_jarque_bera(
        {"events": from_rows(spark, rows)}).collect()[0]
    assert r.skewness == 0.0 and r.excess_kurtosis == -2.0
    assert abs(r.jb_stat - 10.0) < 1e-6
    # heavy right tail: positive skewness
    rows2 = [ev(i, 1.0) for i in range(50)] + [ev(100 + i, 500.0)
                                               for i in range(2)]
    r2 = analytics.events_jarque_bera(
        {"events": from_rows(spark, rows2)}).collect()[0]
    assert r2.skewness > 2.0 and r2.jb_stat > 50.0


def test_psi_weekly_stable_and_drifted(spark):
    import datetime as dt

    def ev(eid, day, v):
        return {"event_id": eid, "ts": dt.datetime(2024, 1, day, 12),
                "user_id": 1, "event_type": "view", "value": v,
                "props": "{}"}

    # epoch weeks start on Thursday: 2024-01-04..10 and 11..17 are
    # consecutive complete epoch weeks
    # identical shape both weeks -> every p == q -> PSI exactly 0
    rows = [ev(i, 4 + (i % 7), float(10 * (i % 5))) for i in range(70)]
    rows += [ev(1000 + i, 11 + (i % 7), float(10 * (i % 5)))
             for i in range(70)]
    r = analytics.events_psi_weekly({"events": from_rows(spark, rows)})
    got = r.collect()
    assert len(got) == 1 and got[0].psi == 0.0
    assert got[0].n_prev == 70 and got[0].n_cur == 70
    # second week shifted into entirely different bins -> large PSI
    rows2 = [ev(i, 4 + (i % 7), 10.0) for i in range(70)] + [
        ev(1000 + i, 11 + (i % 7), 400.0) for i in range(70)]
    r2 = analytics.events_psi_weekly(
        {"events": from_rows(spark, rows2)}).collect()
    assert len(r2) == 1 and r2[0].psi > 5.0


def test_parallel_cumsum_matches_window(spark):
    from pyspark.sql import Window as W
    from fuel_spark.ops.core import parallel_cumsum

    rows = [(i, float((i * 37) % 11) + 0.25) for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "v"]).select(
        "k", F.col("v").cast("decimal(27,6)").alias("v")
    ).repartition(8)
    got = {
        r.k: r._cum
        for r in parallel_cumsum(df, [F.col("v"), F.col("k")], "v").collect()
    }
    w = W.orderBy("v", "k").rowsBetween(W.unboundedPreceding, 0)
    want = {r.k: r._c for r in df.select(
        "k", F.sum("v").over(w).alias("_c")).collect()}
    assert got == want  # bit-identical to the single-partition window


def test_abc_classification_hand_computed(spark):
    # revenues 80 / 15 / 5 -> cum shares 0.80, 0.95, 1.00 -> A, B, C
    rows = [(1, 80.0, 0.0), (2, 15.0, 0.0), (3, 5.0, 0.0)]
    l = spark.createDataFrame(
        rows, ["l_partkey", "l_extendedprice", "l_discount"]
    )
    out = {r.part_class: r
           for r in analytics.part_abc_classification({"lineitem": l}).collect()}
    assert out["A"].n_parts == 1 and out["A"].revenue == 80.0
    assert out["A"].revenue_share == 0.8
    assert out["B"].n_parts == 1 and out["C"].n_parts == 1


def test_supplier_hhi_monopoly_and_duopoly(spark):
    l = spark.createDataFrame(
        [(1, 100.0, 0.0), (2, 50.0, 0.0), (3, 50.0, 0.0)],
        ["l_suppkey", "l_extendedprice", "l_discount"],
    )
    s = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 20)], ["s_suppkey", "s_nationkey"]
    )
    n = spark.createDataFrame(
        [(10, "MONO"), (20, "DUO")], ["n_nationkey", "n_name"]
    )
    out = {r.n_name: r for r in analytics.supplier_herfindahl(
        {"lineitem": l, "supplier": s, "nation": n}).collect()}
    assert out["MONO"].hhi == 10000.0 and out["MONO"].n_suppliers == 1
    assert out["DUO"].hhi == 5000.0 and out["DUO"].n_suppliers == 2


def test_gini_by_nation_equal_and_concentrated(spark):
    # nation 1: four equal customers -> gini 0
    # nation 2: one of four holds everything -> gini (n-1)/n = 0.75
    o = spark.createDataFrame(
        [(i, 100.0) for i in range(1, 5)] + [(8, 400.0)],
        ["o_custkey", "o_totalprice"],
    )
    c = spark.createDataFrame(
        [(i, 1) for i in range(1, 5)] + [(i, 2) for i in range(5, 9)],
        ["c_custkey", "c_nationkey"],
    )
    n = spark.createDataFrame(
        [(1, "EQUAL"), (2, "CONC")], ["n_nationkey", "n_name"]
    )
    out = {r.n_name: r for r in analytics.customer_gini_by_nation(
        {"orders": o, "customer": c, "nation": n}).collect()}
    assert out["EQUAL"].gini == 0.0 and out["EQUAL"].n_customers == 4
    assert out["CONC"].gini == 0.75 and out["CONC"].total_ltv == 400.0


def test_association_rules_hand_computed(spark):
    # orders: {1,2} {1,2} {1,3} {2} -> pair(1,2)=2, N=4, c1=3, c2=3
    rows = [(10, 1), (10, 2), (11, 1), (11, 2), (12, 1), (12, 3), (13, 2)]
    l = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    out = {(r.part_a, r.part_b): r
           for r in analytics.basket_association_rules(
               {"lineitem": l}).collect()}
    r12 = out[(1, 2)]
    assert r12.pair_orders == 2 and r12.orders_a == 3 and r12.orders_b == 3
    assert r12.support == 0.5
    assert r12.conf_a_to_b == round(2 / 3, 6)
    assert r12.lift == round(2 * 4 / 9, 6)
    assert out[(1, 3)].pair_orders == 1 and out[(1, 3)].conf_b_to_a == 1.0


def _mk_ev(eid, day, etype="view", month=1):
    import datetime as dt
    return {"event_id": eid, "ts": dt.datetime(2024, month, day, 12),
            "user_id": 1, "event_type": etype, "value": 1.0, "props": "{}"}


def test_crosscorr_peaks_at_shift(spark):
    # purchase daily counts = view counts shifted +2 days -> ccf(2)=1
    counts = [5, 9, 2, 7, 4, 8, 1, 6, 3, 10]
    rows, eid = [], 0
    for i, c in enumerate(counts):
        for _ in range(c):
            rows.append(_mk_ev(eid, 3 + i, "view")); eid += 1
        for _ in range(c):
            rows.append(_mk_ev(eid, 5 + i, "purchase")); eid += 1
    out = {r.lag: r for r in analytics.events_crosscorr(
        {"events": from_rows(spark, rows)}).collect()}
    assert out[2].ccf > 0.97  # matched pairs, full overlap of 8 days
    assert all(out[2].ccf >= out[k].ccf for k in out)


def test_pettitt_detects_level_shift(spark):
    # days 1..10 at 3/day, days 11..20 at 30/day -> break after day 10
    rows, eid = [], 0
    for d in range(1, 11):
        for _ in range(3):
            rows.append(_mk_ev(eid, d)); eid += 1
    for d in range(11, 21):
        for _ in range(30):
            rows.append(_mk_ev(eid, d)); eid += 1
    r = analytics.events_pettitt({"events": from_rows(spark, rows)}).collect()[0]
    assert r.change_day == "2024-01-10" and r.n_days == 20
    assert r.k_stat == 100 and r.p_approx < 0.01  # max U = 10*10 pairs


def test_hurst_trending_vs_alternating(spark):
    # strictly trending counts -> persistent (high H);
    # strict alternation -> anti-persistent (low H)
    trend, alt, eid = [], [], 0
    for d in range(1, 31):
        for _ in range(d):
            trend.append(_mk_ev(eid, d)); eid += 1
        for _ in range(2 if d % 2 else 20):
            alt.append(_mk_ev(eid, d)); eid += 1
    ht = analytics.events_hurst({"events": from_rows(spark, trend)}).collect()
    ha = analytics.events_hurst({"events": from_rows(spark, alt)}).collect()
    assert len(ht) == 3 and all(r.hurst == ht[0].hurst for r in ht)
    assert ht[0].hurst > 0.85
    assert ha[0].hurst < ht[0].hurst and ha[0].hurst < 0.35


def test_theil_decomposition_identity_and_cases(spark):
    # two nations, equal within -> all inequality is between
    o = spark.createDataFrame(
        [(1, 10.0), (2, 10.0), (3, 1000.0), (4, 1000.0)],
        ["o_custkey", "o_totalprice"],
    )
    c = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 2)], ["c_custkey", "c_nationkey"]
    )
    r = analytics.customer_theil_decomposition(
        {"orders": o, "customer": c}).collect()[0]
    assert r.n_customers == 4 and r.n_groups == 2
    assert r.theil_within == 0.0
    assert abs(r.theil_between - r.theil_total) < 1e-5
    assert r.theil_total > 0.5
    # identical means across nations -> between ~ 0, within carries it
    o2 = spark.createDataFrame(
        [(1, 1.0), (2, 99.0), (3, 1.0), (4, 99.0)],
        ["o_custkey", "o_totalprice"],
    )
    r2 = analytics.customer_theil_decomposition(
        {"orders": o2, "customer": c}).collect()[0]
    assert r2.theil_between == 0.0
    assert abs(r2.theil_within - r2.theil_total) < 1e-5 and r2.theil_within > 0.3


def test_mann_whitney_shift_and_null(spark):
    # identical distributions -> U = n_a*n_b/2, z = 0
    rows = []
    for i in range(40):
        rows.append({"event_id": i, "ts": __import__("datetime").datetime(2024, 1, 1, 12), "user_id": 1,
                     "event_type": "purchase", "value": float(i % 5),
                     "props": "{}"})
        rows.append({"event_id": 100 + i, "ts": __import__("datetime").datetime(2024, 1, 1, 12), "user_id": 1,
                     "event_type": "click", "value": float(i % 5),
                     "props": "{}"})
    r = analytics.events_mann_whitney(
        {"events": from_rows(spark, rows)}).collect()[0]
    assert r.n_a == 40 and r.n_b == 40
    assert r.u_stat == 800.0 and r.z == 0.0
    # purchases uniformly larger -> U = n_a*n_b, large positive z
    rows2 = []
    for i in range(30):
        rows2.append({"event_id": i, "ts": __import__("datetime").datetime(2024, 1, 1, 12), "user_id": 1,
                      "event_type": "purchase", "value": 100.0 + i,
                      "props": "{}"})
        rows2.append({"event_id": 100 + i, "ts": __import__("datetime").datetime(2024, 1, 1, 12), "user_id": 1,
                      "event_type": "click", "value": float(i),
                      "props": "{}"})
    r2 = analytics.events_mann_whitney(
        {"events": from_rows(spark, rows2)}).collect()[0]
    assert r2.u_stat == 900.0 and r2.z > 6.0


def test_logistic_fixed_tracks_numpy(spark):
    import datetime as dt
    import numpy as np

    rows = []
    for i in range(60):
        purchase = i % 2 == 0
        rows.append({"event_id": i,
                     "ts": dt.datetime(2024, 1, 1, i % 24),
                     "user_id": 1,
                     "event_type": "purchase" if purchase else "view",
                     "value": 200.0 if purchase else 10.0,
                     "props": "{}"})
    r = analytics.events_logistic_fixed(
        {"events": from_rows(spark, rows)}).collect()[0]
    # numpy twin with the same round-9 discipline
    y = np.array([1.0 if i % 2 == 0 else 0.0 for i in range(60)])
    x1 = np.array([2.0 if i % 2 == 0 else 0.1 for i in range(60)])
    x2 = np.array([(i % 24) / 23.0 for i in range(60)])
    w = np.zeros(3)
    for _ in range(3):
        p = 1.0 / (1.0 + np.exp(-(w[0] + w[1] * x1 + w[2] * x2)))
        g = np.array([
            np.sum(np.round(p - y, 9)),
            np.sum(np.round((p - y) * x1, 9)),
            np.sum(np.round((p - y) * x2, 9)),
        ])
        w = np.round(w - g / 60.0, 9)
    assert (r.w0, r.w1, r.w2) == tuple(np.round(w, 6))
    assert r.w1 > 0.5  # value separates the classes
    assert r.n == 60 and 0 < r.logloss < 0.693148


def test_wilson_small_sample_demotion(spark):
    import datetime as dt

    # supplier 1: 3/3 on time; supplier 2: 97/100 on time
    lrows, orows = [], []
    ok = 0
    for i in range(3):
        lrows.append((ok, 1, dt.datetime(2024, 1, 10))); ok += 1
    for i in range(100):
        late = i < 3
        lrows.append((ok, 2,
                      dt.datetime(2024, 3, 1) if late
                      else dt.datetime(2024, 1, 10))); ok += 1
    orows = [(k, dt.datetime(2024, 1, 1)) for k in range(ok)]
    l = spark.createDataFrame(
        [(k, s, d) for (k, s, d) in lrows],
        ["l_orderkey", "l_suppkey", "l_shipdate"],
    )
    o = spark.createDataFrame(orows, ["o_orderkey", "o_orderdate"])
    out = {r.s_suppkey: r for r in analytics.supplier_wilson_reliability(
        {"lineitem": l, "orders": o}).collect()}
    assert out[1].rate == 1.0 and out[2].rate == 0.97
    # uncertainty flips the ranking: 97/100 beats 3/3
    assert out[2].wilson_low > out[1].wilson_low
    assert out[1].wilson_low < 0.5


def test_price_index_hand_computed(spark):
    import datetime as dt

    rows = [
        # base month: part1 unit 10 (qty 10), part2 unit 5 (qty 20)
        (dt.datetime(2024, 1, 5), 1, 10.0, 100.0),
        (dt.datetime(2024, 1, 6), 2, 20.0, 100.0),
        # month 2: part1 doubles to unit 20 (qty 5), part2 flat
        (dt.datetime(2024, 2, 5), 1, 5.0, 100.0),
        (dt.datetime(2024, 2, 6), 2, 20.0, 100.0),
    ]
    l = spark.createDataFrame(
        rows, ["l_shipdate", "l_partkey", "l_quantity", "l_extendedprice"]
    )
    out = {r.month: r for r in analytics.part_price_index(
        {"lineitem": l}).collect()}
    assert out["2024-01"].laspeyres == 1.0 == out["2024-01"].fisher
    m2 = out["2024-02"]
    assert m2.n_parts == 2
    assert m2.laspeyres == 1.5  # (20*10+5*20)/(10*10+5*20)
    assert m2.paasche == round(200 / 150, 6)
    assert m2.fisher == round((1.5 * 200 / 150) ** 0.5, 6)


def test_ab_fdr_planted_effect(spark):
    import datetime as dt
    import hashlib

    def arm(uid):
        h = hashlib.md5(f"exp1-{uid}".encode()).hexdigest()[:6]
        return "A" if int(h, 16) % 2 == 0 else "B"

    rows, eid = [], 0
    for uid in range(1, 201):
        big = 1000.0 if arm(uid) == "A" else 1.0
        for _ in range(3):
            rows.append({"event_id": eid, "ts": dt.datetime(2024, 1, 1),
                         "user_id": uid, "event_type": "big",
                         "value": big, "props": "{}"}); eid += 1
            rows.append({"event_id": eid, "ts": dt.datetime(2024, 1, 1),
                         "user_id": uid, "event_type": "same",
                         "value": 5.0, "props": "{}"}); eid += 1
    out = {r.event_type: r for r in analytics.events_ab_fdr(
        {"events": from_rows(spark, rows)}).collect()}
    assert out["big"].z > 50 and out["big"].p_adj < 0.01
    assert out["same"].z == 0.0 and out["same"].p_adj == 1.0
    for r in out.values():
        assert r.p_adj >= r.p_approx - 1e-9 and r.p_adj <= 1.0


def test_range_search_radius_cut(spark):
    from fuel_spark.ops.similarity import cosine_range_search
    from fuel_spark.sources import from_rows

    rows = [
        (0, [1.0, 0.0]),          # query
        (1, [1.0, 0.01]),         # cosine ~ 0.99995 -> in
        (2, [1.0, 1.0]),          # cosine ~ 0.7071 -> in at 0.7
        (3, [0.0, 1.0]),          # cosine 0 -> out
        (4, [-1.0, 0.0]),         # cosine -1 -> out
    ]
    df = from_rows(spark, rows, "vec_id bigint, embedding array<float>")
    q = df.where(F.col("vec_id") == 0)
    got = {r.neighbor_id: r.cosine
           for r in cosine_range_search(df, q, threshold=0.7).collect()}
    assert set(got) == {1, 2}
    assert got[2] == round(2 ** -0.5, 6)
    # tighter radius drops the diagonal vector
    assert {r.neighbor_id for r in cosine_range_search(
        df, q, threshold=0.8).collect()} == {1}


def test_seasonality_strength_weekday_pattern(spark):
    import datetime as dt

    # strong weekday pattern: weekends 10x weekdays, no trend
    rows, eid = [], 0
    for d in range(1, 29):
        day = dt.datetime(2024, 1, d, 12)
        big = day.weekday() >= 5
        rows.append({"event_id": eid, "ts": day, "user_id": 1,
                     "event_type": "purchase",
                     "value": 1000.0 if big else 100.0,
                     "props": "{}"}); eid += 1
    r = analytics.events_seasonality_strength(
        {"events": from_rows(spark, rows)}).collect()[0]
    assert r.n_days == 28 and r.strength_seasonal > 0.8
    # pure linear trend, same value every weekday -> trend dominates
    rows2 = []
    for d in range(1, 29):
        rows2.append({"event_id": d, "ts": dt.datetime(2024, 1, d, 12),
                      "user_id": 1, "event_type": "purchase",
                      "value": float(100 * d), "props": "{}"})
    r2 = analytics.events_seasonality_strength(
        {"events": from_rows(spark, rows2)}).collect()[0]
    assert r2.strength_trend > 0.95
    assert r2.strength_trend > r2.strength_seasonal


def test_pacf_ar1_cutoff(spark):
    import datetime as dt

    # AR(1)-like alternating-decay counts: period-2 oscillation has
    # r1 < 0; PACF(2) should be small relative to |pacf1| since the
    # lag-2 correlation is explained by lag-1 twice
    rows, eid = [], 0
    counts = [40, 10] * 14  # strict period 2
    for d, c in enumerate(counts, start=1):
        for _ in range(c):
            rows.append({"event_id": eid, "ts": dt.datetime(2024, 1, d, 12),
                         "user_id": 1, "event_type": "view",
                         "value": 1.0, "props": "{}"}); eid += 1
    r = analytics.events_pacf({"events": from_rows(spark, rows)}).collect()[0]
    assert r.pacf1 == r.r1 and r.r1 < -0.9  # strong alternation
    assert r.r2 > 0.9                       # period 2: lag-2 in phase
    # Durbin-Levinson identity check vs closed-form python
    p22 = (r.r2 - r.r1 ** 2) / (1 - r.r1 ** 2)
    assert abs(r.pacf2 - round(p22, 6)) < 2e-6


def _mk_events(spark, daily_counts, start="2024-03-01"):
    """events frame with exactly daily_counts[i] rows on day i."""
    import datetime as dt

    base = dt.datetime.fromisoformat(start + "T08:00:00")
    rows = []
    for day, cnt in enumerate(daily_counts):
        for j in range(cnt):
            rows.append({
                "event_id": len(rows), "user_id": j, "event_type": "view",
                "value": 1.0, "props": "{}",
                "ts": base + dt.timedelta(days=day, minutes=j),
            })
    return from_rows(spark, rows)


def test_ljung_box_monotone_and_flags_trend(spark):
    """Q_h cumulates non-negative terms, so it must be monotone
    non-decreasing in h; a strongly trending daily series must blow
    past the chi-square(7) 99% critical value (18.48) while n_days
    rides along correctly."""
    t = {"events": _mk_events(spark, [2, 4, 6, 8, 10, 12, 14, 16, 18,
                                      20, 22, 24, 26, 28])}
    rows = sorted(
        analytics.events_ljung_box(t).collect(), key=lambda r: r.lag
    )
    assert [r.lag for r in rows] == list(range(1, 8))
    assert all(r.n_days == 14 for r in rows)
    qs = [r.q_stat for r in rows]
    assert all(b >= a for a, b in zip(qs, qs[1:]))
    assert qs[-1] > 18.48


def test_poisson_dispersion_hand_values(spark):
    """[1,9,1,9] daily counts: mean 5, sample var 64/3, dispersion
    64/15, chi-square 64/5 — exact hand arithmetic."""
    t = {"events": _mk_events(spark, [1, 9, 1, 9])}
    r = analytics.events_poisson_dispersion(t).first()
    assert (r.n_days, r.total_events) == (4, 20)
    assert r.mean_daily == 5.0
    assert r.var_daily == round(64 / 3, 6)
    assert r.dispersion_index == round(64 / 15, 6)
    assert r.chi_square == 12.8


def test_value_anova_hand_values(spark):
    """Two types, A=[1,1,3,3] B=[5,5,7,7]: SSB=32, SSW=8, F=24."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 8, 0, 0)
    rows = []
    for i, (typ, v) in enumerate(
        [("a", 1.0), ("a", 1.0), ("a", 3.0), ("a", 3.0),
         ("b", 5.0), ("b", 5.0), ("b", 7.0), ("b", 7.0)]
    ):
        rows.append({
            "event_id": i, "user_id": i, "event_type": typ,
            "value": v, "props": "{}",
            "ts": base + dt.timedelta(minutes=i),
        })
    r = analytics.events_value_anova({"events": from_rows(spark, rows)}).first()
    assert (r.k_groups, r.n_total) == (2, 8)
    assert (r.ss_between, r.ss_within, r.f_stat) == (32.0, 8.0, 24.0)


def test_delay_capability_hand_values(spark):
    """Two lines with order->ship delays 10 and 20 days: mean 15,
    sigma sqrt(50), Cp 90/(6*sigma), Cpk 15/(3*sigma)."""
    import datetime as dt
    import math

    orders = from_rows(
        spark,
        [{"o_orderkey": 1, "o_orderdate": dt.date(2024, 1, 1)},
         {"o_orderkey": 2, "o_orderdate": dt.date(2024, 1, 1)}],
    )
    li = from_rows(
        spark,
        [{"l_orderkey": 1, "l_shipdate": dt.date(2024, 1, 11)},
         {"l_orderkey": 2, "l_shipdate": dt.date(2024, 1, 21)}],
    )
    r = analytics.shipping_delay_capability(
        {"lineitem": li, "orders": orders}
    ).first()
    sigma = math.sqrt(50.0)
    assert r.n_lines == 2
    assert r.mean_delay == 15.0
    assert r.std_delay == round(sigma, 6)
    assert r.cp == round(90.0 / (6.0 * sigma), 6)
    assert r.cpk == round(15.0 / (3.0 * sigma), 6)


def test_welch_weekend_hand_values(spark):
    """2024-03-01 is a Friday, so days 2-3 are the weekend.  Weekend
    counts [10, 14] vs weekday [2, 4, 6] — hand Welch algebra."""
    t = {"events": _mk_events(spark, [2, 10, 14, 4, 6])}
    r = analytics.events_welch_weekend(t).first()
    assert (r.n_weekend, r.n_weekday) == (2, 3)
    assert (r.mean_weekend, r.mean_weekday) == (12.0, 4.0)
    # v1 = 8, v2 = 4; a1 = 4, a2 = 4/3
    a1, a2 = 4.0, 4.0 / 3.0
    t_exp = 8.0 / (a1 + a2) ** 0.5
    df_exp = (a1 + a2) ** 2 / (a1 * a1 / 1.0 + a2 * a2 / 2.0)
    assert r.t_stat == round(t_exp, 6)
    assert r.df == round(df_exp, 6)


def test_grubbs_hand_values(spark):
    """[2, 4, 12] daily counts: mean 6, s sqrt(28), G_max = 6/s,
    G_min = 4/s."""
    import math

    t = {"events": _mk_events(spark, [2, 4, 12])}
    r = analytics.events_grubbs(t).first()
    s = math.sqrt(28.0)
    assert (r.n_days, r.max_daily, r.min_daily) == (3, 12, 2)
    assert r.mean_daily == 6.0
    assert r.std_daily == round(s, 6)
    assert r.g_max == round(6.0 / s, 6)
    assert r.g_min == round(4.0 / s, 6)


def test_priority_trend_hand_values(spark):
    """Two months, urgent share rising 1/4 -> 3/4: hand Cochran-
    Armitage z with scores = epoch-month indices."""
    import datetime as dt

    rows = []
    for month, highs in ((1, 1), (2, 3)):
        for i in range(4):
            rows.append({
                "o_orderkey": len(rows),
                "o_custkey": 1,
                "o_orderdate": dt.date(2024, month, 5 + i),
                "o_orderpriority": "1-URGENT" if i < highs else "5-LOW",
                "o_totalprice": 100.0,
                "o_orderstatus": "O",
            })
    r = analytics.orders_priority_trend(
        {"orders": from_rows(spark, rows)}
    ).first()
    assert (r.n_months, r.n_orders, r.n_high) == (2, 8, 4)
    s1 = (2024 - 1970) * 12  # Jan 2024
    s2 = s1 + 1
    pbar = 0.5
    tnum = (s1 * 1 + s2 * 3) - pbar * (s1 * 4 + s2 * 4)
    var = pbar * 0.5 * ((s1 * s1 * 4 + s2 * s2 * 4)
                        - (s1 * 4 + s2 * 4) ** 2 / 8)
    assert r.z_stat == round(tnum / var ** 0.5, 6)


def _mk_typed_events(spark, typed_values, start="2024-03-04"):
    """events frame from [(event_type, value), ...]; timestamps walk
    minutes so day-grid ops see one day."""
    import datetime as dt

    base = dt.datetime.fromisoformat(start + "T08:00:00")
    rows = []
    for i, (typ, v) in enumerate(typed_values):
        rows.append({
            "event_id": i, "user_id": i, "event_type": typ,
            "value": float(v), "props": "{}",
            "ts": base + dt.timedelta(minutes=i),
        })
    return from_rows(spark, rows)


def test_kruskal_wallis_hand_values(spark):
    """Three tie-free groups [1,2],[3,4],[5,6]: rank sums 3/7/11,
    H = 12/42*(4.5+24.5+60.5) - 21 = 4.571429; no ties so the
    corrected statistic is identical."""
    t = {"events": _mk_typed_events(
        spark, [("a", 1), ("a", 2), ("b", 3), ("b", 4), ("c", 5), ("c", 6)]
    )}
    r = analytics.events_kruskal_wallis(t).first()
    assert (r.k_groups, r.n_total) == (3, 6)
    assert r.h_stat == round(12.0 / 42.0 * 89.5 - 21.0, 6)
    assert r.h_tie_corrected == r.h_stat


def test_levene_hand_values(spark):
    """A=[0,6,2,4] (|dev| = 3,3,1,1), B=[3,3,3,3] (|dev| = 0):
    z-ANOVA gives SSB=8, SSW=4, W=12."""
    t = {"events": _mk_typed_events(
        spark,
        [("a", 0), ("a", 6), ("a", 2), ("a", 4),
         ("b", 3), ("b", 3), ("b", 3), ("b", 3)],
    )}
    r = analytics.events_levene(t).first()
    assert (r.k_groups, r.n_total) == (2, 8)
    assert r.w_stat == 12.0


def test_cramers_v_full_grid_hand_values(spark):
    """2 types x 2 weekdays, every cell observed (3/1/1/3): chi2 = 2,
    V = sqrt(2/(8*1)) = 0.5 — the textbook moderate association."""
    import datetime as dt

    rows = []
    # Monday 2024-03-04 and Tuesday 2024-03-05
    for day, typ, cnt in [(4, "a", 3), (5, "a", 1), (4, "b", 1), (5, "b", 3)]:
        for i in range(cnt):
            rows.append({
                "event_id": len(rows), "user_id": i, "event_type": typ,
                "value": 1.0, "props": "{}",
                "ts": dt.datetime(2024, 3, day, 9, i),
            })
    r = analytics.events_cramers_v({"events": from_rows(spark, rows)}).first()
    assert (r.n_events, r.r_levels, r.c_levels) == (8, 2, 2)
    assert r.chi_square == 2.0
    assert r.cramers_v == 0.5


def test_point_biserial_hand_values(spark):
    """Returned line at 10, kept at 2 and 4 (discount 0): hand
    point-biserial with population sigma."""
    import math

    li = from_rows(
        spark,
        [{"l_extendedprice": 10.0, "l_discount": 0.0, "l_returnflag": "R"},
         {"l_extendedprice": 2.0, "l_discount": 0.0, "l_returnflag": "N"},
         {"l_extendedprice": 4.0, "l_discount": 0.0, "l_returnflag": "A"}],
    )
    r = analytics.lineitem_point_biserial({"lineitem": li}).first()
    assert (r.n_returned, r.n_kept) == (1, 2)
    assert (r.mean_returned, r.mean_kept) == (10.0, 3.0)
    mu = 16.0 / 3.0
    sigma = math.sqrt((100.0 + 4.0 + 16.0) / 3.0 - mu * mu)
    exp = (10.0 - 3.0) / sigma * math.sqrt((1.0 / 3.0) * (2.0 / 3.0))
    assert r.r_pb == round(exp, 6)


def test_theil_sen_hand_values(spark):
    """Daily counts [2,4,9]: pairwise slopes {2, 3.5, 5} -> median
    3.5; residuals under 3.5 are [2, 0.5, 2] -> intercept 2.0."""
    t = {"events": _mk_events(spark, [2, 4, 9])}
    r = analytics.events_theil_sen(t).first()
    assert (r.n_days, r.n_pairs) == (3, 3)
    assert r.slope == 3.5
    assert r.intercept == 2.0


def test_theil_sen_even_median(spark):
    """Four days [2,4,9,9]: six slopes, even count -> mean of the two
    middles, checked against the python computation."""
    t = {"events": _mk_events(spark, [2, 4, 9, 9])}
    r = analytics.events_theil_sen(t).first()
    xs, ns = [0, 1, 2, 3], [2, 4, 9, 9]
    slopes = sorted(
        (ns[j] - ns[i]) / (xs[j] - xs[i])
        for i in range(4) for j in range(i + 1, 4)
    )
    exp = round((slopes[2] + slopes[3]) / 2.0, 6)
    assert (r.n_days, r.n_pairs) == (4, 6)
    assert r.slope == exp
    res = sorted(n - exp * x for x, n in zip(xs, ns))
    assert r.intercept == round((res[1] + res[2]) / 2.0, 6)


def test_periodogram_detects_period_two(spark):
    """Alternating [2,8] daily counts for 14 days: devs are ±3, so at
    period 2 the cosine sum is exactly -42 (sines vanish under the
    round-9 guard) and power = 42²/14 = 126; every other candidate
    period must read strictly lower."""
    t = {"events": _mk_events(spark, [2, 8] * 7)}
    got = {r.period: r.power for r in analytics.events_periodogram(t).collect()}
    assert set(got) == set(range(2, 11))
    assert got[2] == 126.0
    assert all(got[p] < 126.0 for p in range(3, 11))


def test_page_hinkley_hand_values(spark):
    """[5,5,5,1,1,1]: mean 3, PH walk 2,4,6,4,2,0 — up stat 4 (peak
    rise over the running min), down stat 6 (fall from the running
    max)."""
    t = {"events": _mk_events(spark, [5, 5, 5, 1, 1, 1])}
    r = analytics.events_page_hinkley(t).first()
    assert r.n_days == 6
    assert r.ph_up == 4.0
    assert r.ph_down == 6.0


def test_session_gap_sweep_hand_values(spark):
    """One user with events at minutes 0, 10, 50 and a second user
    with a single event: at gap=15 the 40-minute jump splits user 1
    into two sessions; at gap=60 it does not.  Session counts,
    singleton counts, and durations are checked by hand."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 8, 0, 0)
    rows = [
        {"event_id": 1, "user_id": 1, "event_type": "view", "value": 1.0,
         "props": "{}", "ts": base},
        {"event_id": 2, "user_id": 1, "event_type": "view", "value": 1.0,
         "props": "{}", "ts": base + dt.timedelta(minutes=10)},
        {"event_id": 3, "user_id": 1, "event_type": "view", "value": 1.0,
         "props": "{}", "ts": base + dt.timedelta(minutes=50)},
        {"event_id": 4, "user_id": 2, "event_type": "view", "value": 1.0,
         "props": "{}", "ts": base},
    ]
    t = {"events": from_rows(spark, rows)}
    out = {r.gap_minutes: r for r in
           analytics.events_session_gap_sweep(t, (15, 60)).collect()}
    g15, g60 = out[15], out[60]
    assert g15.n_sessions == 3 and g60.n_sessions == 2
    # user 2 is always a singleton; at 15 the trailing event is too
    assert g15.n_singleton_sessions == 2 and g60.n_singleton_sessions == 1
    assert g15.max_duration_sec == 600 and g60.max_duration_sec == 3000
    assert g15.avg_duration_sec == round(600 / 3.0, 6)
    assert g60.avg_events_per_session == 2.0
    # widening the gap can only merge sessions, never split them
    assert g60.n_sessions <= g15.n_sessions


def test_join_broadcast_planner_decision_boundary(spark):
    """All five dims at sf0.001: est_bytes must reproduce the exact
    octet-length sum, and the strategy column must flip exactly at
    the threshold crossing (monotone in the threshold)."""
    t = load_tables(spark, SF)
    out = analytics.join_broadcast_planner(
        t, (4096, 65536, 1048576)).collect()
    assert len(out) == 15
    # exact recompute for region: r_name bytes + 8 per row
    reg = t["region"].select(
        F.sum(F.octet_length("r_name") + F.lit(8)).alias("b"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    mine = [r for r in out if r.table_name == "region"][0]
    assert mine.est_bytes == reg.b and mine.n_rows == reg.n
    # monotone: once broadcast at a threshold, broadcast at all larger
    for name in {r.table_name for r in out}:
        seq = sorted(
            [r for r in out if r.table_name == name],
            key=lambda r: r.threshold_bytes,
        )
        flags = [r.strategy == "broadcast" for r in seq]
        assert flags == sorted(flags)


def test_ab_cuped_reduces_variance_on_correlated_data(spark):
    """Users whose pre- and post-period spend are strongly correlated:
    CUPED must cut the post variance substantially while preserving
    each arm's adjusted mean up to theta*(arm_xbar - pooled_xbar)."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 8, 0, 0)
    rows = []
    eid = 0
    for u in range(60):
        spend = 10.0 + (u % 12) * 5.0   # persistent per-user level
        for day in (1, 2):              # pre-period (split_day=15)
            rows.append({"event_id": eid, "user_id": u, "event_type": "view",
                         "value": spend, "props": "{}",
                         "ts": base + dt.timedelta(days=day)})
            eid += 1
        for day in (20, 21):            # post-period, same level + tiny noise
            rows.append({"event_id": eid, "user_id": u, "event_type": "view",
                         "value": spend + (u % 3) * 0.5, "props": "{}",
                         "ts": base + dt.timedelta(days=day)})
            eid += 1
    t = {"events": from_rows(spark, rows)}
    out = {r.arm: r for r in analytics.events_ab_cuped(t, "exp1", 15).collect()}
    assert set(out) == {"A", "B"}
    for r in out.values():
        assert r.variance_reduction > 0.9      # corr ~1 -> massive cut
        assert r.var_y_cuped < r.var_y
        # the adjustment re-centers on the POOLED xbar, so the arm
        # mean moves by theta*(arm_xbar - pooled_xbar), a small shift
        assert abs(r.mean_y_cuped - r.mean_y) < 10.0
    # theta is pooled: both arms carry the identical value
    assert out["A"].theta == out["B"].theta


def test_funnel_window_sweep_monotone(spark):
    """A click 2h after the view converts at the 6h/24h windows but
    not at 1h; counts are monotone non-decreasing in the window."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, mins, typ, uid):
        return {"event_id": eid, "ts": base + dt.timedelta(minutes=mins),
                "user_id": uid, "event_type": typ, "value": 1.0,
                "props": "{}"}

    rows = [ev(1, 0, "view", 1), ev(2, 120, "click", 1),
            ev(3, 130, "purchase", 1), ev(4, 0, "view", 2),
            ev(5, 10, "click", 2)]
    t = {"events": from_rows(spark, rows)}
    out = {(r.window_seconds, r.stage): r
           for r in analytics.events_funnel_window_sweep(t).collect()}
    assert out[(3600, 2)].n_users == 1      # only user 2 clicks in 1h
    assert out[(21600, 2)].n_users == 2     # both inside 6h
    assert out[(21600, 3)].n_users == 1
    assert out[(3600, 3)].n_users == 0
    for stage in (1, 2, 3):
        ns = [out[(w, stage)].n_users for w in (3600, 21600, 86400)]
        assert ns == sorted(ns)
    assert out[(3600, 1)].conversion == 1.0


def test_ab_power_sweep_scaling_laws(spark):
    """Required n scales inversely with MDE² (exactly 4x from 2% to
    1%), and a zero-variance metric needs ~nothing."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [{"event_id": i, "user_id": i % 50, "event_type": "view",
             "value": 10.0 + (i % 50) % 7, "props": "{}",
             "ts": base + dt.timedelta(minutes=i)} for i in range(200)]
    t = {"events": from_rows(spark, rows)}
    out = {r.mde_rel: r for r in
           analytics.events_ab_power_sweep(t, (0.01, 0.02)).collect()}
    r1, r2 = out[0.01], out[0.02]
    assert r1.n_users_available == 50
    # inverse-square law: allow ceil rounding slack
    assert abs(r1.n_per_arm_required - 4 * r2.n_per_arm_required) <= 4
    assert r1.var_per_user == r2.var_per_user > 0
    const = {"events": from_rows(spark, [
        {"event_id": i, "user_id": i, "event_type": "view", "value": 5.0,
         "props": "{}", "ts": base} for i in range(10)])}
    rc = analytics.events_ab_power_sweep(const, (0.01,)).first()
    assert rc.var_per_user == 0.0 and rc.n_per_arm_required == 0
    assert rc.powered


# Results must not depend on how wide Spark runs them: each family's
# sorted rows hash the same under shuffle partitions 1 and 7, each
# with adaptive execution off, on, and on without partition
# coalescing.  A difference is a defect in the operator (an order- or
# partition-dependent pick).
NEAR_DUP_FAMILY = (
    "dedup_apply",
    "dedup_apply_keep_longest",
    "dedup_jaccard",
    "dedup_containment",
    "dedup_fuzzy_join",
    "dedup_minhash_calibration",
    "dedup_lsh_scurve",
    "dedup_edit_distance",
    "dedup_simhash_pairs",
    "curation_pipeline",
)
# ann_ivf and ann_pq are left out: each fits a model inside the query
# (MLlib KMeans, pq_fit), so it tests the fit as much as the search,
# and ann_pq memoizes its codebooks and encoded index per process, so
# only the first setting would build them
ANN_FAMILY = (
    "ann_topk_cosine",
    "ann_sign_block",
    "ann_int8",
    "ann_lsh",
    "ann_lsh_pivot_r2",
    "ann_ivf_pivot",
    "ann_pq_pivot",
    "ann_matryoshka",
    "embedding_hard_negatives",
    "ann_incremental_pipeline",
)
# the text pipeline's blocks (front end, n-grams, doc statistics, BPE
# fold) and the curate funnel that shares its statistics
TEXT_FAMILY = (
    "text_bpe_merges",
    "text_bpe_encode",
    "text_bpe_fertility",
    "text_zipf_slope",
    "text_term_burstiness",
    "text_pmi_cooccurrence",
    "text_top_ngrams_by_source",
    "text_c4_filters",
    "text_quality_classifier",
    "curation_funnel_by_source",
)


@pytest.mark.parametrize(
    "family",
    [NEAR_DUP_FAMILY, ANN_FAMILY, TEXT_FAMILY],
    ids=["near_dup", "ann", "text"],
)
def test_registry_family_is_width_invariant(spark, family):
    import hashlib

    import __spark_entry__ as E

    def digest(df):
        rows = sorted(repr(tuple(r)) for r in df.collect())
        return hashlib.md5("\n".join(rows).encode()).hexdigest()

    # (adaptive execution, AQE partition coalescing): at sf0.001 AQE
    # coalesces 7 shuffle partitions back to 1, so only the setting
    # with coalescing off runs adaptive plans at width 7
    settings = (("true", "true"), ("true", "false"), ("false", "true"))
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    qs = E.queries()
    digests = {name: {} for name in family}
    try:
        for setting in settings:
            for parts in ("1", "7"):
                for k, v in zip(keys, (parts, *setting)):
                    spark.conf.set(k, v)
                for name in family:
                    digests[name][(parts, *setting)] = digest(qs[name](spark, SF))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    varying = {n: d for n, d in digests.items() if len(set(d.values())) > 1}
    assert varying == {}
