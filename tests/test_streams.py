"""DataStream epoch iteration — parity with reference
tests/test_streams.py behaviors (epoch order, shuffling, batching)."""

import numpy as np
import pytest

from fuel_spark import schemes
from fuel_spark.sources import from_rows
from fuel_spark.streams import DataStream


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
    """An epoch's frame is one range-partitioned sort of the payload:
    building it runs no Spark job (no positions pass, no checkpoint),
    and its plan has one range exchange and no broadcast."""
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
    assert plan.count("rangepartitioning") == 1
    assert "BroadcastExchange" not in plan
    assert epoch.columns == ["k", "v"]


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
