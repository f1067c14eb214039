"""DataStream epoch iteration — parity with reference
tests/test_streams.py behaviors (epoch order, shuffling, batching)."""

import contextlib
import datetime
import decimal
import gc
import hashlib
import itertools
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pytest
from py4j.protocol import Py4JError
from pyspark.sql import types as T

from fuel_spark import schemes, streams
from fuel_spark.sources import from_rows
from fuel_spark.streams import DataStream, _arrow_partitions, _stored_dtype


def _df(spark, n=10):
    return from_rows(
        spark, [(i, i * 1.5) for i in range(n)], schema="k bigint, v double"
    )


def test_sequential_epoch_batches(spark):
    ds = DataStream(_df(spark), "k", batch_size=4)
    assert ds.sources == ("k", "v")
    batches = list(ds.get_epoch_iterator())
    assert [len(b["k"]) for b in batches] == [4, 4, 2]
    assert batches[0]["k"].tolist() == [0, 1, 2, 3]
    assert np.allclose(batches[0]["v"], [0.0, 1.5, 3.0, 4.5])
    assert batches[2]["k"].tolist() == [8, 9]


def test_tuple_batches(spark):
    ds = DataStream(_df(spark), "k", batch_size=5)
    first = next(ds.get_epoch_iterator(as_dict=False))
    assert isinstance(first, tuple) and len(first) == 2
    assert first[0].tolist() == [0, 1, 2, 3, 4]


def test_shuffled_epochs_differ_and_reset(spark):
    ds = DataStream(_df(spark, 20), "k", batch_size=20, shuffled=True, seed=3)
    e0 = next(ds.get_epoch_iterator())["k"].tolist()
    e1 = next(ds.get_epoch_iterator())["k"].tolist()
    assert sorted(e0) == sorted(e1) == list(range(20))
    assert e0 != e1  # fresh permutation per epoch
    ds.reset()
    assert next(ds.get_epoch_iterator())["k"].tolist() == e0  # reproducible


def test_epoch_covers_all_examples_once(spark):
    ds = DataStream(_df(spark, 17), "k", batch_size=5, shuffled=True)
    seen = [k for b in ds.get_epoch_iterator() for k in b["k"].tolist()]
    assert sorted(seen) == list(range(17))


def _scheme_batches(spark, n, batch_size, shuffled, seed):
    """The scheme's own batches: ``shuffled_batches`` /
    ``sequential_batches`` collected, ordered by pos, grouped by
    batch_id."""
    df = _df(spark, n)
    if shuffled:
        planned = schemes.shuffled_batches(df, "k", batch_size, seed=seed)
    else:
        planned = schemes.sequential_batches(df, "k", batch_size)
    out: dict[int, list[int]] = {}
    for r in planned.orderBy("pos").collect():
        out.setdefault(r["batch_id"], []).append(r["k"])
    return [out[b] for b in sorted(out)]


@pytest.mark.parametrize(
    "shuffled,seed,n,batch_size",
    [(True, 7, 23, 5), (True, 11, 23, 5), (True, 1234, 10, 4), (False, 0, 23, 5)],
)
def test_resume_mid_epoch_identical_remainder(spark, shuffled, seed, n, batch_size):
    """fuel's checkpoint contract (reference fuel/iterator.py:8,
    tests/test_serialization.py): interrupt after k batches, resume,
    and the remainder is bit-identical to an uninterrupted epoch —
    which is the scheme's own batch plan, for every k up to past the
    end."""
    mk = lambda: DataStream(
        _df(spark, n), "k", batch_size=batch_size, shuffled=shuffled, seed=seed
    )
    full = [b["k"].tolist() for b in mk().get_epoch_iterator()]  # epoch 0
    assert full == _scheme_batches(spark, n, batch_size, shuffled, seed)
    ds = mk()
    it = ds.get_epoch_iterator()
    consumed = [next(it)["k"].tolist() for _ in range(2)]  # "crash" after 2
    del it
    assert consumed == full[:2]
    for k in range(len(full) + 2):
        assert [b["k"].tolist() for b in mk().resume(0, k)] == full[k:]
    # resume also re-aims the epoch counter: next epoch is epoch 1
    ds2 = mk()
    _ = list(ds2.resume(0, 2))
    next_epoch = [b["k"].tolist() for b in ds2.get_epoch_iterator()]
    ds3 = mk()
    _ = list(ds3.get_epoch_iterator())
    assert next_epoch == [b["k"].tolist() for b in ds3.get_epoch_iterator()]
    if shuffled:  # epoch 1 is the scheme at seed + 1
        assert next_epoch == _scheme_batches(spark, n, batch_size, True, seed + 1)


def test_resume_sequential_and_edge_batches(spark):
    ds = DataStream(_df(spark, 10), "k", batch_size=4)
    # resume at 0 == full epoch; at last partial batch; past the end
    assert [b["k"].tolist() for b in ds.resume(0, 0)] == [
        [0, 1, 2, 3], [4, 5, 6, 7], [8, 9]]
    assert [b["k"].tolist() for b in ds.resume(0, 2)] == [[8, 9]]
    assert list(ds.resume(0, 3)) == []


@pytest.mark.parametrize("shuffled", [True, False])
def test_resume_at_a_null_key(spark, shuffled):
    """A NULL key sorts first; resuming with the cursor on it (or
    after it) still yields exactly the uninterrupted remainder."""
    df = from_rows(
        spark, [(None, -1.0)] + [(i, i * 1.5) for i in range(4)],
        schema="k bigint, v double",
    )
    mk = lambda: DataStream(df, "k", batch_size=1, shuffled=shuffled, seed=5)
    full = [b["k"].tolist() for b in mk().get_epoch_iterator()]
    assert sorted(full, key=lambda b: -1 if b[0] is None else b[0]) == [
        [None], [0], [1], [2], [3]]
    for k in range(len(full) + 1):
        assert [b["k"].tolist() for b in mk().resume(0, k)] == full[k:]


@pytest.mark.parametrize("shuffled", [True, False])
def test_epoch_is_one_sort_built_without_jobs(spark, shuffled):
    """An epoch's frame is one parallel sort of the payload: building
    it runs no Spark job (no positions pass, no checkpoint), and its
    plan has one exchange and no broadcast.  A shuffled epoch's
    exchange goes by its md5 key's partition, so it needs no range
    sample; a sequential epoch is range-partitioned."""
    sc = spark.sparkContext
    ds = DataStream(_df(spark, 50), "k", batch_size=8, shuffled=shuffled)
    group = f"test-streams-build-{shuffled}"
    sc.setJobGroup(group, "build an epoch frame")
    try:
        epoch = ds._epoch_df(0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    plan = epoch._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert plan.count("rangepartitioning") == (0 if shuffled else 1)
    assert "BroadcastExchange" not in plan
    assert epoch.columns == ["k", "v"]


def _jobs(sc) -> list[tuple]:
    """``(group, tags, status)`` of every job Spark's status store holds."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.length()):
        j = jobs.apply(i)
        group = j.jobGroup().get() if j.jobGroup().isDefined() else None
        tags = set(j.jobTags().mkString("\n").split("\n"))
        out.append((group, tags, j.status().toString()))
    return out


def _settled_jobs(sc, tag: str, timeout: float = 30.0) -> list[tuple]:
    """The jobs carrying ``tag``, once none of them is running (the
    status store hears of a job's end a moment after the job ends)."""
    deadline = time.monotonic() + timeout
    while True:
        jobs = [j for j in _jobs(sc) if tag in j[1]]
        if all(status != "RUNNING" for _, _, status in jobs):
            return jobs
        assert time.monotonic() < deadline, f"jobs tagged {tag} still running"
        time.sleep(0.1)


@contextlib.contextmanager
def _conf(spark, **conf):
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_shuffled_epoch_runs_one_shuffle_and_one_job_per_partition(spark):
    """A shuffled epoch at width 4 runs 5 jobs: the shuffle, then one per
    partition, and no range-bound sample job."""
    sc = spark.sparkContext
    with _conf(spark, **{"spark.sql.adaptive.coalescePartitions.enabled": "false"}):
        ds = DataStream(_df(spark, 200), "k", batch_size=16, shuffled=True)
        assert len([k for b in ds.get_epoch_iterator() for k in b["k"]]) == 200
        assert len(_settled_jobs(sc, f"{ds.job_tag}-0")) == 1 + 4


def test_abandoned_epoch_leaves_no_job_or_thread(spark):
    """Abandon an epoch halfway, reset and drop the stream: within a
    bounded wait no job carrying the stream's tag runs and no producer
    thread is alive."""
    sc = spark.sparkContext
    with _conf(spark, **{"spark.sql.shuffle.partitions": "7",
                         "spark.sql.adaptive.coalescePartitions.enabled": "false"}):
        ds = DataStream(_df(spark, 400), "k", batch_size=10, shuffled=True)
        tag = ds.job_tag
        it = ds.get_epoch_iterator()
        for _ in range(20):
            next(it)
        assert any(t.name.startswith(tag) for t in threading.enumerate())
        del it
        ds.reset()
        del ds
        gc.collect()
        assert _settled_jobs(sc, tag)  # the stream did run jobs
        _wait_for_no_producer(tag)


def _wait_for_no_producer(*tags: str, timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while any(t.name.startswith(tags) for t in threading.enumerate()):
        assert time.monotonic() < deadline, "a producer thread outlived its stream"
        time.sleep(0.1)


def test_producer_error_reaches_the_consumer_at_its_batch(spark, monkeypatch):
    """Batches from the partitions read before a producer raised come
    out; the exception is raised at the next batch."""
    schema = pa.schema([("k", pa.int64()), ("v", pa.float64())])

    def failing(df):
        yield [pa.record_batch([pa.array(range(10)), pa.array([0.5] * 10)], schema=schema)]
        raise RuntimeError("partition 1 failed")

    monkeypatch.setattr(streams, "_arrow_partitions", failing)
    it = DataStream(_df(spark, 20), "k", batch_size=4).get_epoch_iterator()
    assert [next(it)["k"].tolist() for _ in range(2)] == [[0, 1, 2, 3], [4, 5, 6, 7]]
    with pytest.raises(RuntimeError, match="partition 1 failed"):
        next(it)


def test_next_epoch_runs_under_the_callers_job_group(spark):
    """Epoch e + 1 is built ahead under the job group of the caller of
    epoch e, and the lookahead is the epoch handed out next, whatever
    its ``as_dict``."""
    sc = spark.sparkContext
    ds = DataStream(_df(spark, 60), "k", batch_size=8, shuffled=True, seed=9)
    sc.setJobGroup("test-streams-epoch-0", "epoch 0")
    try:
        e0 = [b["k"].tolist() for b in ds.get_epoch_iterator()]
        ahead = ds._ahead[1]
        sc.setJobGroup("test-streams-epoch-1", "epoch 1")
        e1 = [b[0].tolist() for b in ds.get_epoch_iterator(as_dict=False)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert e0 != e1
    jobs = _settled_jobs(sc, ahead.tag)
    assert jobs and {group for group, _, _ in jobs} == {"test-streams-epoch-0"}
    assert all(ds.job_tag in tags for _, tags, _ in jobs)


def _digest(keys) -> str:
    return hashlib.sha256(np.asarray(keys, dtype=np.int64).tobytes()).hexdigest()


def _order_by_digest(df, seed: int, skip: int = 0) -> str:
    """The scheme order as one global ``orderBy`` gives it."""
    d, order = schemes.scheme_order(df, "k", True, seed)
    return _digest([r["k"] for r in d.orderBy(*order).collect()][skip:])


def test_concurrent_streams_under_fast_thread_switching(spark):
    """More consumer threads than cores, each with its own stream, and
    the interpreter switching threads every few microseconds: every
    epoch keeps its order, and no producer thread outlives its stream,
    an abandoned epoch's included."""
    df = _df(spark, 40)
    want = [_order_by_digest(df, 5 + e) for e in range(2)]
    errors, tags = [], []

    def consume():
        try:
            ds = DataStream(df, "k", batch_size=3, shuffled=True, seed=5)
            tags.append(ds.job_tag)
            for e in range(2):
                got = [k for b in ds.get_epoch_iterator() for k in b["k"]]
                assert _digest(got) == want[e], e
            next(ds.get_epoch_iterator())  # epoch 2 is abandoned
        except Exception as e:  # reported by the main thread
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=consume) for _ in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(tags) == 6
    gc.collect()
    _wait_for_no_producer(*tags)


@pytest.mark.parametrize(
    "width,coalesce",
    [pytest.param(w, c, marks=() if (w, c) == (7, "true") else pytest.mark.slow)
     for w in (1, 3, 7) for c in ("false", "true")],
)
def test_epoch_order_is_width_invariant(spark, width, coalesce):
    """Epochs 0-2 and a mid-epoch resume give the order digests of a
    global ``orderBy`` of the scheme order, at any shuffle width, with
    AQE coalescing on or off."""
    df = _df(spark, 120)
    with _conf(spark, **{"spark.sql.shuffle.partitions": str(width),
                         "spark.sql.adaptive.coalescePartitions.enabled": coalesce}):
        ds = DataStream(df, "k", batch_size=16, shuffled=True, seed=21)
        for e in range(3):
            got = [k for b in ds.get_epoch_iterator() for k in b["k"]]
            assert _digest(got) == _order_by_digest(df, 21 + e), e
        got = [k for b in ds.resume(0, 3) for k in b["k"]]
        assert _digest(got) == _order_by_digest(df, 21, skip=3 * 16)


def test_batches_keep_stored_dtypes(spark):
    """fuel yields each source in its stored dtype: array<smallint> is
    int16, not int64."""
    df = from_rows(
        spark,
        [(i, [i, -i], i, float(i), [0.5 * i], i * 2.0) for i in range(6)],
        schema="k bigint, px array<smallint>, y int, f float, "
        "fa array<float>, d double",
    )
    batch = next(DataStream(df, "k", batch_size=4).get_epoch_iterator())
    assert {c: a.dtype for c, a in batch.items()} == {
        "k": np.int64, "px": np.int16, "y": np.int32, "f": np.float32,
        "fa": np.float32, "d": np.float64,
    }
    assert batch["px"].shape == (4, 2)
    assert batch["px"].tolist() == [[0, 0], [1, -1], [2, -2], [3, -3]]
    # a NULL has no int32 value: that batch keeps numpy's object array;
    # a NULL float (or float array element) becomes NaN in float32
    nulls = from_rows(
        spark, [(0, None, None, [None, 1.0]), (1, 7, 2.5, [0.5, 1.5])],
        schema="k bigint, y int, f float, fa array<float>",
    )
    batch = next(DataStream(nulls, "k", batch_size=2).get_epoch_iterator())
    assert batch["y"].tolist() == [None, 7]
    assert batch["f"].dtype == np.float32 and batch["fa"].dtype == np.float32
    assert np.isnan(batch["f"][0]) and batch["f"][1] == 2.5
    assert np.isnan(batch["fa"][0, 0]) and batch["fa"].tolist()[1] == [0.5, 1.5]


def test_ragged_sequences_are_object_arrays_of_examples(spark):
    """A variable-length source (the input of fuel's Padding) yields a
    1-D object array of per-example arrays in the stored dtype; a NULL
    element is NaN and a NULL sequence is None."""
    seqs = [[0.5], [1.0, 2.0, None], None, [], [3.0, 4.0]]
    df = from_rows(
        spark, [(i, s) for i, s in enumerate(seqs)],
        schema="k bigint, seq array<float>",
    )
    batches = list(DataStream(df, "k", batch_size=4).get_epoch_iterator())
    got = [x for b in batches for x in b["seq"]]
    assert [b["seq"].dtype for b in batches] == [object, np.float32]
    assert batches[0]["seq"].shape == (4,) and batches[1]["seq"].shape == (1, 2)
    assert got[2] is None
    for x, want in zip(got, seqs):
        if want is None:
            continue
        assert x.dtype == np.float32 and x.ndim == 1
        assert np.array_equal(x, np.array(want, dtype=np.float32), equal_nan=True)


def test_binary_batches_keep_trailing_zero_bytes(spark):
    """A binary source yields 1-D object arrays of ``bytes``, value for
    value, trailing zero bytes and NULLs included."""
    values = [b"ab\x00\x00", b"\x00", b"", None, b"c"]
    df = from_rows(
        spark, list(enumerate(values)), schema="k bigint, bin binary"
    )
    for frame in (df, df.where("bin IS NOT NULL")):
        want = [v for v in values if frame is df or v is not None]
        batches = list(DataStream(frame, "k", batch_size=3).get_epoch_iterator())
        for b in batches:
            assert b["bin"].dtype == object and b["bin"].ndim == 1
        got = [x for b in batches for x in b["bin"]]
        assert got == want
        assert {type(x) for x in got} <= {bytes, type(None)}


def test_binary_array_batches_keep_every_byte(spark):
    """An ``array<binary>`` source keeps every byte: a fixed-width batch
    is a 2-D object array of ``bytes``, a ragged one a 1-D object array
    of per-example 1-D object arrays (None for a NULL sequence)."""
    rows = [(0, [b"a\x00", b"\x00"]), (1, [b"", b"b\x00\x00"]),
            (2, [b"\x00\x00\x00"]), (3, None), (4, [b"c", b"d", b"\x00"])]
    df = from_rows(spark, rows, schema="k bigint, bins array<binary>")
    fixed, ragged, _ = DataStream(df, "k", batch_size=2).get_epoch_iterator()
    assert fixed["bins"].dtype == object and fixed["bins"].shape == (2, 2)
    assert fixed["bins"].tolist() == [[b"a\x00", b"\x00"], [b"", b"b\x00\x00"]]
    assert ragged["bins"].dtype == object and ragged["bins"].shape == (2,)
    assert ragged["bins"][1] is None
    example = ragged["bins"][0]
    assert example.dtype == object and example.ndim == 1
    assert example.tolist() == [b"\x00\x00\x00"]
    tail = next(DataStream(df, "k", batch_size=8).get_epoch_iterator())["bins"]
    assert [None if x is None else x.tolist() for x in tail] == [r[1] for r in rows]
    assert {type(b) for x in tail if x is not None for b in x} == {bytes}


def _row_path_to_array(values: tuple, dtype) -> np.ndarray:
    """The pickled-Row decoder DataStream used before Arrow delivery."""
    try:
        return np.asarray(values, dtype=dtype)
    except TypeError:
        return np.asarray(values)


def _row_path_batches(ds: DataStream, epoch: int, from_batch: int = 0) -> list:
    """Reference batches: the epoch frame's pickled Rows through
    ``toLocalIterator``, cut and converted column by column."""
    df = ds._epoch_df(epoch, from_batch)
    if df is None:
        return []
    # a binary column is an object array of bytes: numpy's S items
    # would drop trailing zero bytes
    dtypes = [
        object if isinstance(f.dataType, T.BinaryType) else _stored_dtype(f.dataType)
        for f in ds.df.schema.fields
    ]
    rows = [tuple(r) for r in df.toLocalIterator(prefetchPartitions=True)]
    return [
        {c: _row_path_to_array(v, dt) for c, v, dt in zip(ds.sources, zip(*chunk), dtypes)}
        for chunk in (rows[i:i + ds.batch_size] for i in range(0, len(rows), ds.batch_size))
    ]


def _assert_same_batches(got: list, want: list) -> None:
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert list(g) == list(w)
        for c in w:
            a, b = g[c], w[c]
            assert (c, a.dtype, a.shape) == (c, b.dtype, b.shape)
            if a.dtype.kind == "f":
                assert np.array_equal(a, b, equal_nan=True), c
            else:
                assert a.tolist() == b.tolist(), c
            if a.dtype == object:
                assert [type(x) for x in a.ravel()] == [type(x) for x in b.ravel()], c


def _assert_owned(batches: list) -> None:
    """Every array is writable, owns its data and overlaps no other."""
    arrays = [a for b in batches for a in b.values()]
    for a in arrays:
        assert a.flags.writeable and a.flags.owndata
    for a, b in itertools.combinations(arrays, 2):
        assert not np.may_share_memory(a, b)


def _mixed_rows(n: int) -> list:
    day, t0 = datetime.date(2021, 3, 1), datetime.datetime(2021, 3, 1, 12, 0, 0)
    return [
        (
            i,
            None if i % 11 == 4 else i * 3,
            i / 4.0,
            None if i % 9 == 2 else i * 0.1,
            i % 3 == 0,
            f"s{i}" * (i % 4),
            day + datetime.timedelta(days=i),
            t0 + datetime.timedelta(seconds=37 * i, microseconds=i),
            decimal.Decimal(i) / 8,
            [i, -i, i % 5],
            [None if i % 7 == 3 else i * 0.5, 1.0],
            bytes([i % 256]) * (i % 3),
            (i, f"n{i % 5}"),
            {f"m{i % 2}": i},
        )
        for i in range(n)
    ]


MIXED = (
    "k bigint, i int, f float, d double, b boolean, s string, dt date, "
    "ts timestamp, dec decimal(10,3), px array<smallint>, fa array<float>, "
    "bin binary, st struct<x: bigint, y: string>, m map<string, bigint>"
)


def test_arrow_batches_match_the_row_path(spark):
    """Arrow delivery gives the Row path's batches, value for value and
    dtype for dtype, when a batch straddles Arrow messages (3 rows per
    message) and partitions (7 range partitions, some possibly empty),
    for shuffled and sequential epochs, resumes and an empty frame."""
    conf = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        df = from_rows(spark, _mixed_rows(43), schema=MIXED)
        for shuffled in (True, False):
            ds = DataStream(df, "k", batch_size=5, shuffled=shuffled, seed=7)
            for epoch in (0, 1):
                got = list(ds.get_epoch_iterator())
                _assert_same_batches(got, _row_path_batches(ds, epoch))
                _assert_owned(got)
            for k in (1, 4, 8, 9):
                got = list(ds.resume(0, k))
                _assert_same_batches(got, _row_path_batches(ds, 0, k))
                _assert_owned(got)
        empty = DataStream(df.where("k < 0"), "k", batch_size=5, shuffled=True)
        assert list(empty.get_epoch_iterator()) == []
        assert list(empty.resume(0, 0)) == []
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_arrow_batch_rdd_is_reachable(spark):
    """DataStream reads epochs through ``Dataset.toArrowBatchRdd``. It
    is ``private[sql]``, reachable over py4j only on Spark Classic, so a
    Spark upgrade may drop or rename it: this test names that cause."""
    df = _df(spark, 10)
    try:
        df._jdf.toArrowBatchRdd()
    except Py4JError as e:
        pytest.fail(
            "Dataset.toArrowBatchRdd (private[sql], Spark Classic) is no "
            f"longer reachable over py4j; DataStream delivery needs it: {e}"
        )
    messages = [m for part in _arrow_partitions(df.orderBy("k")) for m in part]
    assert sum(m.num_rows for m in messages) == 10
    assert [x for m in messages for x in m.column("k").to_pylist()] == list(range(10))
