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
that order as the JVM's Arrow record batches (``toArrowBatchRdd``),
streamed through ``toLocalIterator(prefetchPartitions=True)`` one
partition at a time with the next partition prefetched — so the driver
holds at most two partitions, never the dataset.  Each Arrow message
is decoded once, column by column: a numeric column, or a fixed-width
list of numbers, with no NULL becomes one numpy view; any other column
becomes the Python values the Row path gives.  Minibatches are then
cut by slicing, and only a batch that straddles two messages joins
the rows carried over from the first.

Shuffled epochs re-key per epoch (seed + epoch), matching fuel's
fresh-permutation-per-epoch contract without any driver-side index
state.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.rdd import RDD
from pyspark.serializers import NoOpSerializer
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import to_arrow_schema

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
    None to let numpy infer it.  A binary column is ``object``: numpy's
    ``S`` items drop trailing zero bytes, so its batches are 1-D object
    arrays of ``bytes``."""
    if isinstance(t, T.BinaryType):
        return object
    while isinstance(t, T.ArrayType):
        t = t.elementType
    return _NUMPY_DTYPES.get(type(t))


def _to_array(values: list, dtype) -> np.ndarray:
    """One source's minibatch in its stored dtype (smallint -> int16,
    float -> float32, ...).  A NULL in a float or double column (or
    inside a float array) becomes NaN.  A NULL in an integer column has
    no numpy value, so that batch keeps numpy's inferred (object)
    array with None in it.  Variable-length sequences (a ragged array
    column) become a 1-D object array of per-example arrays, as fuel
    yields a variable-length source."""
    try:
        return np.asarray(values, dtype=dtype)
    except TypeError:
        if dtype is None:
            raise
        return _to_array(values, None)
    except ValueError:  # inhomogeneous shape: ragged sequences
        out = np.empty(len(values), dtype=object)
        for i, v in enumerate(values):
            out[i] = None if v is None else _to_array(v, dtype)
        return out


def _decoder(field: T.StructField):
    """Decode one column of an Arrow message: a numpy view in the
    stored dtype when the column has no NULL and is numeric, or a
    fixed-width list of numbers (one ``(n, width)`` view); else the
    list of Python values the Row path gives (naive local datetimes,
    Rows for structs, dicts for maps), for :func:`_to_array` to
    convert per minibatch."""
    t = field.dataType
    dtype = _stored_dtype(t)
    scalar = type(t) in _NUMPY_DTYPES
    fixed = isinstance(t, T.ArrayType) and type(t.elementType) in _NUMPY_DTYPES
    conv = ArrowTableToRowsConversion._create_converter(t, none_on_identity=True)

    def decode(col: pa.Array):
        if scalar and col.null_count == 0:
            return col.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
        if fixed and col.null_count == 0:
            flat, n = col.flatten(), len(col)
            width = len(flat) // n
            if flat.null_count == 0 and (np.diff(col.offsets.to_numpy()) == width).all():
                values = flat.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
                return values.reshape(n, width)
        values = col.to_pylist()
        return values if conv is None else [conv(v) for v in values]

    return decode


def _join(pieces: list, dtype) -> np.ndarray:
    """One minibatch from its pieces (one per message it spans) as a
    new, writable array: numpy pieces of one row shape concatenate;
    otherwise every piece is brought to Python values first, so the
    batch decodes as if its rows had arrived together."""
    if all(isinstance(p, np.ndarray) for p in pieces) and len(
        {p.shape[1:] for p in pieces}
    ) == 1:
        return np.concatenate(pieces)
    values = []
    for p in pieces:
        values.extend(p.tolist() if isinstance(p, np.ndarray) else p)
    return _to_array(values, dtype)


def _arrow_messages(df: DataFrame) -> Iterator[pa.RecordBatch]:
    """``df``'s rows in order as the JVM's Arrow record batches, one
    partition at a time with the next one prefetched.

    ``Dataset.toArrowBatchRdd`` is ``private[sql]``: reachable over
    py4j on Spark Classic only (tests/test_streams.py pins it)."""
    jconf = df.sparkSession._jconf
    schema = to_arrow_schema(
        df.schema, prefers_large_types=jconf.arrowUseLargeVarTypes()
    )
    rdd = RDD(
        df._jdf.toArrowBatchRdd().toJavaRDD(),
        df.sparkSession.sparkContext,
        NoOpSerializer(),
    )
    for message in rdd.toLocalIterator(prefetchPartitions=True):
        yield pa.ipc.read_record_batch(pa.py_buffer(message), schema)


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
        fields = self.df.schema.fields
        dtypes = [_stored_dtype(f.dataType) for f in fields]
        decoders = [_decoder(f) for f in fields]
        size = self.batch_size

        def batch(spans):
            arrays = [
                _join([chunks[c][a:b] for chunks, a, b in spans], dt)
                for c, dt in enumerate(dtypes)
            ]
            return dict(zip(cols, arrays)) if as_dict else tuple(arrays)

        def gen():
            df = self._epoch_df(epoch, from_batch)
            if df is None:
                return
            spans, held = [], 0  # rows carried toward the next batch
            for message in _arrow_messages(df):
                n = message.num_rows
                if not n:
                    continue
                chunks = [d(col) for d, col in zip(decoders, message.columns)]
                i = 0
                while i < n:
                    take = min(size - held, n - i)
                    spans.append((chunks, i, i + take))
                    held, i = held + take, i + take
                    if held == size:
                        yield batch(spans)
                        spans, held = [], 0
            if spans:
                yield batch(spans)

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
