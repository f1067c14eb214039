"""Behavioral tests for core transformers — mirrors the reference's
tests/test_transformers.py style: tiny fixtures, exact expected rows."""

from pyspark.sql import functions as F

from fuel_spark import schemes
from fuel_spark.ops import core
from fuel_spark.sources import from_rows


def _ds(spark):
    return from_rows(
        spark,
        [(i, float(i) * 2.0, f"w{i}") for i in range(10)],
        schema="k bigint, v double, s string",
    )


def test_mapping_add_and_replace(spark):
    df = _ds(spark)
    added = core.mapping(df, {"v2": F.col("v") + 1})
    assert added.columns == ["k", "v", "s", "v2"]
    replaced = core.mapping(df, {"only": F.col("k")}, add_sources=False)
    assert replaced.columns == ["only"]
    assert replaced.count() == 10


def test_filter_rows(spark):
    out = core.filter_rows(_ds(spark), F.col("k") >= 7)
    assert sorted(r.k for r in out.collect()) == [7, 8, 9]


def test_flatten_nested(spark):
    df = from_rows(spark, [(1, [[1, 2], [3]])], schema="k bigint, a array<array<int>>")
    out = core.flatten_nested(df, "a")
    assert out.first().a == [1, 2, 3]


def test_scale_shift_cast_floatx(spark):
    df = _ds(spark)
    out = core.scale_and_shift(df, 2.0, 1.0, ["v"])
    assert out.where(F.col("k") == 3).first().v == 13.0
    out = core.cast_sources(df, "int", ["v"])
    assert dict(out.dtypes)["v"] == "int"
    out = core.force_floatx(df)
    assert dict(out.dtypes)["v"] == "float"


def test_rename_and_filter_sources(spark):
    df = _ds(spark)
    out = core.rename_sources(df, {"k": "key"})
    assert out.columns == ["key", "v", "s"]
    out = core.filter_sources(df, ["s", "k"])
    assert out.columns == ["k", "s"]  # stream order preserved


def test_pack_unpack_roundtrip(spark):
    df = schemes.sequential_batches(_ds(spark), "k", 4)
    packed = core.pack_batches(df, "batch_id", ["k", "v"], order_within="k")
    rows = {r.batch_id: r for r in packed.collect()}
    assert rows[0].k == [0, 1, 2, 3] and rows[2].k == [8, 9]
    assert rows[0].batch_size == 4 and rows[2].batch_size == 2
    unpacked = core.unpack_batches(packed, ["k", "v"], keep=["batch_id"])
    back = sorted((r.k, r.v) for r in unpacked.collect())
    assert back == [(i, float(i) * 2.0) for i in range(10)]


def test_pad_sequences_masks(spark):
    df = from_rows(
        spark,
        [(0, 0, [1, 2]), (1, 0, [1, 2, 3, 4]), (2, 1, [5])],
        schema="k bigint, batch_id bigint, seq array<bigint>",
    )
    out = {r.k: r for r in core.pad_sequences(df, "seq", "batch_id").collect()}
    assert out[0].seq == [1, 2, 0, 0] and out[0].seq_mask == [1, 1, 0, 0]
    assert out[1].seq == [1, 2, 3, 4] and out[1].seq_mask == [1, 1, 1, 1]
    assert out[2].seq == [5] and out[2].seq_mask == [1]


def test_sort_within_batches(spark):
    df = from_rows(
        spark,
        [(0, 3.0, "a"), (0, 1.0, "b"), (0, 2.0, "c"), (1, 9.0, "d")],
        schema="batch_id bigint, key double, payload string",
    )
    out = {r.batch_id: r for r in
           core.sort_within_batches(df, "batch_id", "key", ["payload"]).collect()}
    assert out[0].key == [1.0, 2.0, 3.0]
    assert out[0].payload == ["b", "c", "a"]


def test_asof_join_backward(spark):
    events = from_rows(
        spark,
        [(1, 10, 100), (2, 10, 250), (3, 10, 50), (4, 20, 500)],
        schema="event_id bigint, uid bigint, t bigint",
    ).withColumn("t", F.timestamp_seconds(F.col("t")))
    orders = from_rows(
        spark,
        [(10, 11, 100), (10, 12, 200), (20, 21, 600)],
        schema="uid bigint, oid bigint, t2 bigint",
    ).withColumn("t2", F.timestamp_seconds(F.col("t2")))
    out = {r.event_id: r.oid for r in
           core.asof_join(events, orders, "uid", "t", "t2", ["oid"]).collect()}
    assert out[1] == 11   # inclusive match at equal ts
    assert out[2] == 12   # latest order at t<=250
    assert out[3] is None  # no order yet
    assert out[4] is None  # user 20's order is in the future


def test_cache_stream_persists(spark):
    df = core.cache_stream(_ds(spark))
    assert df.storageLevel.useMemory
    df.unpersist()


def test_merge_streams_zips_positionally(spark):
    a = from_rows(spark, [(1, "x"), (2, "y")], schema="ak bigint, av string")
    b = from_rows(spark, [(10, "p"), (20, "q")], schema="bk bigint, bv string")
    out = sorted((r.ak, r.bk) for r in core.merge_streams(a, b, "ak", "bk").collect())
    assert out == [(1, 10), (2, 20)]


def test_merge_many_three_streams(spark):
    a = from_rows(spark, [(1,), (2,)], schema="ak bigint")
    b = from_rows(spark, [(10,), (20,)], schema="bk bigint")
    c = from_rows(spark, [(100,), (200,)], schema="ck bigint")
    out = sorted(
        (r.ak, r.bk, r.ck)
        for r in core.merge_many([(a, "ak"), (b, "bk"), (c, "ck")]).collect()
    )
    assert out == [(1, 10, 100), (2, 20, 200)]


def test_pack_batches_strictness_drops_partial(spark):
    df = schemes.sequential_batches(_ds(spark), "k", 4)  # 10 rows → 4,4,2
    strict = core.pack_batches(
        df, "batch_id", ["k"], order_within="k", strictness=1, batch_size=4
    )
    assert sorted(r.batch_id for r in strict.collect()) == [0, 1]


def test_pad_sequences_2d(spark):
    # fuel test_2d_sequences: pad (len, d) arrays with zero-rows
    df = from_rows(
        spark,
        [(0, 0, [[1, 2], [3, 4]]), (1, 0, [[5, 6]])],
        schema="k bigint, batch_id bigint, seq array<array<bigint>>",
    )
    out = {r.k: r for r in core.pad_sequences(df, "seq", "batch_id").collect()}
    assert out[1].seq == [[5, 6], [0, 0]]
    assert out[1].seq_mask == [1, 0]
    assert out[0].seq == [[1, 2], [3, 4]]


def test_sort_within_batches_reverse(spark):
    df = from_rows(
        spark,
        [(0, 1.0, "a"), (0, 3.0, "b"), (0, 2.0, "c")],
        schema="batch_id bigint, key double, payload string",
    )
    out = core.sort_within_batches(df, "batch_id", "key", ["payload"], reverse=True).first()
    assert out.key == [3.0, 2.0, 1.0]
    assert out.payload == ["b", "c", "a"]


def test_pack_token_budget_offset_bins(spark):
    from fuel_spark.ops import core
    from fuel_spark.sources import from_rows

    rows = [(i, 100) for i in range(10)]  # 1000 tokens total
    df = from_rows(spark, rows, schema="doc_id bigint, tok bigint")
    out = {r.doc_id: r.pack_id for r in
           core.pack_token_budget(df, "doc_id", "tok", budget=300).collect()}
    # starts: 0,100,200,300,...  -> bins 0,0,0,1,1,1,2,2,2,3
    assert [out[i] for i in range(10)] == [0, 0, 0, 1, 1, 1, 2, 2, 2, 3]


def test_pack_token_budget_local_greedy_bound(spark):
    from fuel_spark.ops import core
    from fuel_spark.sources import from_rows

    rows = [(i, t) for i, t in enumerate([120, 120, 120, 500, 90, 90, 90, 90])]
    df = from_rows(spark, rows, schema="doc_id bigint, tok bigint").repartition(1)
    packs = core.pack_token_budget_local(df, "doc_id", "tok", budget=300).collect()
    # every pack respects the budget unless it is a single oversized doc
    for p in packs:
        assert p.n_tokens <= 300 or p.n_docs == 1
    # all docs packed exactly once
    all_ids = sorted(i for p in packs for i in p.doc_ids)
    assert all_ids == list(range(8))


def test_sample_n_per_group_exact_counts(spark):
    from fuel_spark import schemes
    from fuel_spark.sources import from_rows

    rows = [(i, "a" if i < 50 else "b") for i in range(60)]
    df = from_rows(spark, rows, schema="k bigint, g string")
    out = schemes.sample_n_per_group(df, "g", 10, "k", seed=1).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, []).append(r.k)
    assert len(by_g["a"]) == 10
    assert len(by_g["b"]) == 10  # group b has exactly 10 rows -> all kept
    # determinism: same seed, same members
    again = schemes.sample_n_per_group(df, "g", 10, "k", seed=1).collect()
    assert {r.k for r in again} == {r.k for r in out}


def test_asof_join_forward_hand_computed(spark):
    """Forward as-of: next right on/after each left ts; equal-ts right
    matches (inclusive); smallest payload wins right ties."""
    import datetime as dt

    from fuel_spark.ops.core import asof_join
    from fuel_spark.sources import from_rows

    base = dt.datetime(2024, 1, 1)
    left = from_rows(spark, [
        {"lid": 1, "k": 1, "lt": base},
        {"lid": 2, "k": 1, "lt": base + dt.timedelta(hours=5)},
        {"lid": 3, "k": 2, "lt": base},          # no right for key 2
    ])
    right = from_rows(spark, [
        {"k": 1, "rt": base, "payload": 100},            # equal ts -> lid 1
        {"k": 1, "rt": base, "payload": 99},             # tie: smaller wins
        {"k": 1, "rt": base + dt.timedelta(hours=9), "payload": 200},
    ])
    out = {r.lid: r.payload for r in asof_join(
        left, right, "k", "lt", "rt", ["payload"], direction="forward"
    ).collect()}
    assert out == {1: 99, 2: 200, 3: None}


def test_asof_join_nearest_direction(spark):
    """nearest picks whichever side is closer; exact ties go
    backward; a key with only future rights still matches."""
    import datetime as dt

    from fuel_spark.ops.core import asof_join

    base = dt.datetime(2024, 1, 1)

    def t(sec):
        return base + dt.timedelta(seconds=sec)

    L = from_rows(
        spark,
        [(1, 1, t(10)), (2, 1, t(100)), (3, 2, t(5)), (4, 3, t(50))],
        schema="lid bigint, k bigint, lts timestamp",
    )
    R = from_rows(
        spark,
        [
            (100, 1, t(8)),    # 2s before lid 1
            (200, 1, t(11)),   # 1s after lid 1  -> nearest
            (300, 1, t(98)),   # 2s before lid 2
            (400, 1, t(102)),  # 2s after lid 2  -> tie, backward wins
            (500, 2, t(9)),    # only future for lid 3
        ],
        schema="rid bigint, k bigint, rts timestamp",
    )
    out = {r.lid: r.rid for r in asof_join(
        L, R, "k", "lts", "rts", ["rid"], direction="nearest").collect()}
    assert out[1] == 200
    assert out[2] == 300   # equal gap: backward wins
    assert out[3] == 500   # forward-only key still matches
    assert out[4] is None  # key 3 has no rights at all


def test_concat_packed_sequences_order_and_eos(spark):
    """Docs flatten in id order per pack, EOS after every doc; total
    tokens = sum(doc tokens) + n_docs."""
    from fuel_spark.ops.core import concat_packed_sequences

    rows = [
        (0, 2, ["a", "b"]),
        (0, 1, ["c"]),          # same pack, smaller id -> comes first
        (1, 9, ["x", "y", "z"]),
    ]
    df = from_rows(
        spark, rows,
        schema="pack_id bigint, doc_id bigint, tokens array<string>",
    )
    out = {r.pack_id: r for r in concat_packed_sequences(
        df, "pack_id", "doc_id", "tokens", eos="<eos>").collect()}
    assert out[0].input_ids == ["c", "<eos>", "a", "b", "<eos>"]
    assert (out[0].n_tokens, out[0].n_docs) == (5, 2)
    assert out[1].input_ids == ["x", "y", "z", "<eos>"]
    # no separator when eos omitted
    plain = concat_packed_sequences(df, "pack_id", "doc_id", "tokens").collect()
    assert {tuple(r.input_ids) for r in plain} == {("c", "a", "b"), ("x", "y", "z")}


def test_salted_rollup_matches_direct_on_hot_key(spark):
    # one key holds 90% of rows — the case salting exists for
    rows = [("hot", i, 1.25) for i in range(900)]
    rows += [(f"g{i % 5}", 10000 + i, 2.5) for i in range(100)]
    df = from_rows(spark, rows, schema="g string, k bigint, v double")
    out = core.salted_rollup_certificate(df, "g", "k", "v", salts=8).collect()
    assert all(r.match for r in out)
    hot = next(r for r in out if r.g == "hot")
    assert hot.n_rows == 900 and hot.direct_sum == 1125.0
    # the salted plan genuinely spreads the hot group across partials
    from fuel_spark.functions import hash_mod
    from pyspark.sql import functions as F

    n_salts = (
        df.where(F.col("g") == "hot")
        .select(hash_mod("salt13", F.col("k"), 8).alias("s"))
        .distinct()
        .count()
    )
    assert n_salts == 8


def test_salted_join_certificate_hot_key_spreads_and_matches(spark):
    """A 90%-hot group must come back match=TRUE with identical
    counts/sums on both paths, and the deterministic salt must
    genuinely spread the hot group's fact rows across partials."""
    from fuel_spark.functions import hash_mod
    from fuel_spark.ops import core
    from fuel_spark.sources import from_rows

    rows = [(i, "hot" if i < 900 else "cold", float(i % 7)) for i in range(1000)]
    df = from_rows(spark, rows, schema="event_id bigint, event_type string, value double")
    out = {r.event_type: r for r in core.salted_join_certificate(
        df, "event_type", "event_id", "value", salts=8).collect()}
    for r in out.values():
        assert r.match
        assert r.n_rows_direct == r.n_rows_salted == r.dim_attr
    assert out["hot"].n_rows_direct == 900
    # the hot group's rows land in every salt bucket
    n_salts = (
        df.where(F.col("event_type") == "hot")
        .select(hash_mod("sj8", F.col("event_id"), 8).alias("s"))
        .distinct()
        .count()
    )
    assert n_salts == 8


def test_with_positions_pinned_layout_with_wide_payload(spark):
    """Regression (r9): _offset_positions reads its sorted frame
    TWICE (rows + per-partition counts); when the optimizer prunes
    the branches differently (a wide payload column survives on one
    side only) they stop sharing a ReusedExchange, each re-samples
    its own range boundaries, and offset[pid] mismatches the pid the
    row was numbered under — positions silently corrupt (observed at
    the 20x tier: half the deciles vanished).  The lazy
    localCheckpoint pins one evaluation; this asserts the contract —
    positions stay a contiguous 0-based permutation even when a
    payload-carrying pipeline consumes them through an explode."""
    from fuel_spark.ops.core import with_positions

    rows = [(i, "payload " * 50 + str(i)) for i in range(500)]
    df = from_rows(spark, rows, schema="k bigint, txt string").repartition(16)
    p = with_positions(df, "k", pos_col="pos", base=0)
    # consume through a payload-using branch AND an aggregate branch
    out = (
        p.select("pos", F.explode(F.split("txt", " ")).alias("w"))
        .groupBy("pos").count()
    )
    got = sorted(r.pos for r in out.collect())
    assert got == list(range(500))


def test_materialize_truncates_lineage_and_runs_exchanges_at_call(spark):
    """The one materialization helper: values are unchanged, the plan
    is truncated to the stored RDD, and the docstring's call-time cost
    holds — 0 Spark jobs over a narrow plan, 1 over a hash exchange
    (counted in a job group, so nothing else is charged to it)."""
    from fuel_spark.functions import materialize

    sc = spark.sparkContext

    def at_call(df, group):
        sc.setJobGroup(group, "materialize")
        try:
            out = materialize(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    narrow = spark.range(10).selectExpr("id", "id * 2 AS v")
    n2, jobs = at_call(narrow, "test-materialize-narrow")
    assert jobs == []
    assert sorted(r.v for r in n2.collect()) == [i * 2 for i in range(10)]
    plan = n2._jdf.queryExecution().toString()
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan

    hashed = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    h2, jobs = at_call(hashed, "test-materialize-hash")
    assert len(jobs) == 1
    assert sorted(map(tuple, h2.collect())) == sorted(
        map(tuple, hashed.collect())
    )
