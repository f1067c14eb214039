"""DataStream facade — fuel's user-facing iteration API on Spark.

Reference parity: ``fuel/streams.py:122`` DataStream,
``fuel/iterator.py`` DataIterator, epoch semantics of
``AbstractDataStream.iterate_epochs`` (streams.py:104-120).

This is the switch-over surface for a fuel user: wrap any DataFrame,
pick an iteration scheme, and iterate epochs of numpy minibatches —
``next(epoch)`` yields ``{source_name: np.ndarray}`` exactly like
fuel's ``as_dict`` iterators, each array in its column's stored dtype.

An epoch is ONE range-partitioned parallel sort of the payload by the
scheme's total order (:func:`fuel_spark.schemes.scheme_order`): no
positions pass, no checkpoint, no broadcast, no second exchange, and no
Spark job until the first batch is asked for.  Rows reach the driver in
that order through ``toLocalIterator(prefetchPartitions=True)``, which
ships pickled rows one partition at a time with the next partition
prefetched — so the driver holds at most two partitions, never the
dataset — and the driver cuts them into minibatches as they arrive.

Shuffled epochs re-key per epoch (seed + epoch), matching fuel's
fresh-permutation-per-epoch contract without any driver-side index
state.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F, types as T

from fuel_spark import schemes

# Spark element type -> the numpy dtype fuel would have stored it as
_NUMPY_DTYPES = {
    T.ByteType: np.int8,
    T.ShortType: np.int16,
    T.IntegerType: np.int32,
    T.LongType: np.int64,
    T.FloatType: np.float32,
    T.DoubleType: np.float64,
}


def _stored_dtype(t: T.DataType):
    """numpy dtype of a column (array columns: of their elements), or
    None to let numpy infer it."""
    while isinstance(t, T.ArrayType):
        t = t.elementType
    return _NUMPY_DTYPES.get(type(t))


def _to_array(values: tuple, dtype) -> np.ndarray:
    """One source's minibatch in its stored dtype (smallint -> int16,
    float -> float32, ...).  A NULL in a float or double column (or
    inside a float array) becomes NaN.  A NULL in an integer column has
    no numpy value, so that batch keeps numpy's inferred (object)
    array with None in it."""
    try:
        return np.asarray(values, dtype=dtype)
    except TypeError:
        return np.asarray(values)


def _at_or_after(order: list[str], cursor: tuple) -> Column:
    """Rows at or after ``cursor`` in the ascending, nulls-first
    lexicographic order of the ``order`` columns (Spark's ``orderBy``
    default).  A NULL comparison drops the row, which is right: it
    only arises where the row sorts before the cursor."""
    cond = F.lit(True)
    for name, v in reversed(list(zip(order, cursor))):
        c = F.col(name)
        if v is None:
            cond = c.isNotNull() | (c.isNull() & cond)
        else:
            cond = (c > F.lit(v)) | ((c == F.lit(v)) & cond)
    return cond


class DataStream:
    """Iterate a DataFrame as epochs of fixed-size numpy minibatches.

    Parameters
    ----------
    df : DataFrame — the dataset; columns are the stream's sources.
    key : str — deterministic ordering key (fuel's example index).
    batch_size : int — examples per minibatch (fuel ConstantScheme).
    shuffled : bool — fresh seeded permutation each epoch
        (fuel ShuffledScheme; reference schemes.py:195).
    seed : int — base seed; epoch ``e`` uses ``seed + e``.
    """

    def __init__(
        self,
        df: DataFrame,
        key: str,
        batch_size: int,
        shuffled: bool = False,
        seed: int = 42,
    ):
        self.df = df
        self.key = key
        self.batch_size = batch_size
        self.shuffled = shuffled
        self.seed = seed
        self._epoch = 0

    @property
    def sources(self) -> tuple[str, ...]:
        return tuple(self.df.columns)

    def _epoch_df(self, epoch: int, from_batch: int = 0) -> DataFrame | None:
        """The epoch's rows in scheme order from minibatch ``from_batch``
        on, or None when that minibatch is past the end.  Resuming
        filters the payload at the cursor BEFORE the sort, so rows
        already consumed are never shuffled (fuel pickles the in-flight
        iterator instead: reference fuel/iterator.py:8,
        tests/test_serialization.py)."""
        seed = self.seed + epoch
        d, order = schemes.scheme_order(self.df, self.key, self.shuffled, seed)
        if from_batch:
            cursor = schemes.order_at(
                self.df, self.key, from_batch * self.batch_size,
                self.shuffled, seed,
            )
            if cursor is None:
                return None
            d = d.where(_at_or_after(order, cursor))
        d = d.orderBy(*order)
        return d.drop(*(c for c in order if c not in self.df.columns))

    def _batched_iter(self, epoch: int, from_batch: int, as_dict: bool) -> Iterator:
        cols = self.df.columns
        dtypes = [_stored_dtype(f.dataType) for f in self.df.schema.fields]

        def gen():
            df = self._epoch_df(epoch, from_batch)
            if df is None:
                return
            buf: list[tuple] = []
            for row in df.toLocalIterator(prefetchPartitions=True):
                buf.append(tuple(row))
                if len(buf) == self.batch_size:
                    yield self._to_batch(buf, cols, dtypes, as_dict)
                    buf = []
            if buf:
                yield self._to_batch(buf, cols, dtypes, as_dict)

        return gen()

    def get_epoch_iterator(self, as_dict: bool = True) -> Iterator:
        """One pass over the data in this epoch's order, batched."""
        epoch = self._epoch
        self._epoch += 1
        return self._batched_iter(epoch, 0, as_dict)

    def resume(
        self, epoch: int, batch_index: int, as_dict: bool = True
    ) -> Iterator:
        """Mid-epoch resume: the remainder of epoch ``epoch`` starting
        at minibatch ``batch_index`` — identical batches, in order, to
        what an uninterrupted epoch iterator would have produced from
        that point (fuel's checkpoint/restore contract, without
        serializing an iterator: the cursor IS the state).

        Also re-aims the stream so the next ``get_epoch_iterator``
        yields epoch ``epoch + 1`` — resuming a training job mid-epoch
        then continuing is seamless.
        """
        self._epoch = epoch + 1
        return self._batched_iter(epoch, batch_index, as_dict)

    def iterate_epochs(self, as_dict: bool = True) -> Iterator[Iterator]:
        while True:
            yield self.get_epoch_iterator(as_dict=as_dict)

    def reset(self) -> None:
        self._epoch = 0

    @staticmethod
    def _to_batch(rows: list[tuple], cols: list[str], dtypes: list, as_dict: bool):
        arrays = [_to_array(col, dt) for col, dt in zip(zip(*rows), dtypes)]
        if as_dict:
            return dict(zip(cols, arrays))
        return tuple(arrays)
