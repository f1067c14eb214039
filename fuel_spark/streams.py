"""DataStream facade — fuel's user-facing iteration API on Spark.

Reference parity: ``fuel/streams.py:122`` DataStream,
``fuel/iterator.py`` DataIterator, epoch semantics of
``AbstractDataStream.iterate_epochs`` (streams.py:104-120),
``fuel/server.py``'s producer/consumer split.

This is the switch-over surface for a fuel user: wrap any DataFrame,
pick an iteration scheme, and iterate epochs of numpy minibatches —
``next(epoch)`` yields ``{source_name: np.ndarray}`` exactly like
fuel's ``as_dict`` iterators, each array in its column's stored dtype.

An epoch is ONE parallel sort of the payload by the scheme's total
order (:func:`fuel_spark.schemes.scheme_order`): no positions pass, no
checkpoint, no broadcast, no second exchange.  A shuffled epoch's md5
key is uniform, so its rows go straight to
:func:`~fuel_spark.schemes.shuffled_partition`'s partitions and are
sorted within each, with no range-bound sample; a sequential epoch,
whose key distribution is unknown, is range-partitioned (``orderBy``).

Epochs are built one ahead, as fuel's ``Server`` keeps the consumer
from waiting on the producer's start-up: when epoch e's first rows
reach the driver, a producer thread starts building epoch e + 1.  The
order of epoch e + 1 is fixed by ``(seed + e + 1, key)``, so building
it early changes neither which rows come out nor their order.  Each
epoch is read by its own producer thread (a ``pyspark.InheritableThread``,
so its jobs run under the job group of the caller that started it) as
the JVM's Arrow record batches (``toArrowBatchRdd``), one Spark job
per partition, and each Arrow message is decoded once, column by
column: a numeric column, or a fixed-width list of numbers, with no
NULL becomes one numpy view; any other column becomes the Python
values the Row path gives.  A producer holds at most two partitions of
decoded messages — the one being read and the next, as
``toLocalIterator(prefetchPartitions=True)`` does — so the driver holds
at most two partitions for each epoch in flight, and at most two
epochs are in flight: never the dataset.  Minibatches are cut by
slicing, and only a batch that straddles two messages joins the rows
carried over from the first.

The lookahead holds decoded messages, not batches, so it serves a
consumer of either ``as_dict``.  ``reset``, and a ``resume`` of
anything but the start of the epoch built ahead, discard it; so does
garbage collection of the stream, and dropping an epoch iterator
before its end discards that epoch's producer.  A discarded
producer's thread (a daemon) ends, and its Spark jobs are cancelled by
its job tag (``cancelJobsWithTag``), so the caller's job group is left
alone.  An exception in a producer is raised to the consumer at the
batch it would have delivered.

Shuffled epochs re-key per epoch (seed + epoch), matching fuel's
fresh-permutation-per-epoch contract without any driver-side index
state.
"""

from __future__ import annotations

import functools
import itertools
import queue
import threading
import uuid
import weakref
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark import InheritableThread, SparkContext
from pyspark.serializers import NoOpSerializer
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.util import _load_from_socket

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
    None to let numpy infer it.  Binary values, at any depth of
    arrays, are ``object``: numpy's ``S`` items drop trailing zero
    bytes, so their batches are object arrays of ``bytes``."""
    while isinstance(t, T.ArrayType):
        t = t.elementType
    if isinstance(t, T.BinaryType):
        return object
    return _NUMPY_DTYPES.get(type(t))


def _ragged(values: list, dtype) -> np.ndarray:
    """A 1-D object array of per-example arrays (None for a NULL)."""
    out = np.empty(len(values), dtype=object)
    for i, v in enumerate(values):
        out[i] = None if v is None else _to_array(v, dtype)
    return out


def _to_array(values: list, dtype) -> np.ndarray:
    """One source's minibatch in its stored dtype (smallint -> int16,
    float -> float32, ...).  A NULL in a float or double column (or
    inside a float array) becomes NaN.  A NULL in an integer column has
    no numpy value, so that batch keeps numpy's inferred (object)
    array with None in it.  Variable-length sequences (a ragged array
    column) become a 1-D object array of per-example arrays, as fuel
    yields a variable-length source."""
    try:
        out = np.asarray(values, dtype=dtype)
    except TypeError:
        if dtype is None:
            raise
        return _to_array(values, None)
    except ValueError:  # inhomogeneous shape: ragged sequences
        return _ragged(values, dtype)
    # an object dtype takes ragged sequences without complaint, as lists
    if out.dtype == object and any(isinstance(v, list) for v in out.ravel()):
        return _ragged(values, dtype)
    return out


def _decoder(field: T.StructField):
    """Decode one column of an Arrow message: a numpy view in the
    stored dtype when the column has no NULL and is numeric, or a
    fixed-width list of numbers (one ``(n, width)`` view); else the
    list of Python values the Row path gives (naive local datetimes,
    Rows for structs, dicts for maps, ``bytes`` for binary at any
    depth), for :func:`_to_array` to convert per minibatch."""
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


def _arrow_partitions(df: DataFrame) -> Iterator[list[pa.RecordBatch]]:
    """``df``'s rows in order as the JVM's Arrow record batches, one
    list per partition.  Each partition is one Spark job, run when its
    list is asked for; under AQE, making the RDD runs the shuffle.

    ``Dataset.toArrowBatchRdd`` is ``private[sql]``: reachable over
    py4j on Spark Classic only (tests/test_streams.py pins it)."""
    spark = df.sparkSession
    sc = spark.sparkContext
    schema = to_arrow_schema(
        df.schema, prefers_large_types=spark._jconf.arrowUseLargeVarTypes()
    )
    jrdd = df._jdf.toArrowBatchRdd().toJavaRDD()
    for p in range(jrdd.getNumPartitions()):
        sock_info = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), jrdd, [p])
        yield [
            pa.ipc.read_record_batch(pa.py_buffer(m), schema)
            for m in _load_from_socket(sock_info, NoOpSerializer())
        ]


_END = object()


class _Producer:
    """One epoch read in a daemon thread, a partition at a time, each
    decoded.  Like ``toLocalIterator(prefetchPartitions=True)``, it
    holds at most two partitions: the one the consumer is reading and
    the next.  The thread inherits the starting thread's job group and
    adds ``tags`` to its jobs; the last tag is this producer's own, for
    :meth:`discard` to cancel by."""

    def __init__(self, frame: Callable[[], DataFrame | None], decoders: list,
                 tags: tuple[str, ...]):
        self.tag = tags[-1]
        self._queue: queue.SimpleQueue = queue.SimpleQueue()
        self._slots = threading.Semaphore(2)
        self._stopped = threading.Event()
        self._ended = threading.Event()
        InheritableThread(
            target=self._run, args=(frame, decoders, tags), name=self.tag,
            daemon=True,
        ).start()

    def _run(self, frame, decoders, tags) -> None:
        sc = SparkContext._active_spark_context
        for tag in tags:
            sc.addJobTag(tag)
        try:
            df = frame()
            parts = iter(()) if df is None else _arrow_partitions(df)
            while True:
                self._slots.acquire()
                if self._stopped.is_set():
                    return
                part = next(parts, None)
                if part is None:
                    break
                self._queue.put([
                    (m.num_rows, [d(c) for d, c in zip(decoders, m.columns)])
                    for m in part if m.num_rows
                ])
            self._queue.put(_END)
        except BaseException as e:  # the consumer raises it
            self._queue.put(e)
        finally:
            self._ended.set()

    def partitions(self) -> Iterator[list]:
        """The decoded partitions in order, each a list of ``(rows,
        columns)`` messages; asking for the next one frees the place of
        the last.  Raises the producer's exception where it happened."""
        while True:
            item = self._queue.get()
            if item is _END:
                return
            if isinstance(item, BaseException):
                raise item
            yield item
            self._slots.release()

    def discard(self) -> None:
        """Stop the thread at its next partition and cancel its jobs."""
        if self._ended.is_set():
            return
        self._stopped.set()
        self._slots.release()
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.cancelJobsWithTag(self.tag)


def _discard(producers: dict) -> None:
    while producers:
        producers.popitem()[1].discard()


def _batches(producer: _Producer, cols: list, dtypes: list, size: int,
             as_dict: bool, on_first: Callable[[], None]) -> Iterator:
    """The consumer: minibatches of ``size`` rows cut from the
    producer's messages; ``on_first`` runs once its first partition
    (or the end) is in."""

    def batch(spans):
        arrays = [
            _join([chunks[c][a:b] for chunks, a, b in spans], dt)
            for c, dt in enumerate(dtypes)
        ]
        return dict(zip(cols, arrays)) if as_dict else tuple(arrays)

    spans, held = [], 0  # rows carried toward the next batch
    for part in producer.partitions():
        if on_first is not None:
            on_first, first = None, on_first
            first()
        for n, chunks in part:
            i = 0
            while i < n:
                take = min(size - held, n - i)
                spans.append((chunks, i, i + take))
                held, i = held + take, i + take
                if held == size:
                    yield batch(spans)
                    spans, held = [], 0
    if on_first is not None:
        on_first()
    if spans:
        yield batch(spans)


def _epoch_frame(df: DataFrame, key: str, batch_size: int, shuffled: bool,
                 seed: int, from_batch: int) -> DataFrame | None:
    """The epoch of ``seed``'s rows in scheme order from minibatch
    ``from_batch`` on, or None when that minibatch is past the end.
    Resuming filters the payload at the cursor BEFORE the sort, so
    rows already consumed are never shuffled (fuel pickles the
    in-flight iterator instead: reference fuel/iterator.py:8,
    tests/test_serialization.py).  A shuffled epoch is as wide as
    ``orderBy`` would make it: ``spark.sql.shuffle.partitions``."""
    d, order = schemes.scheme_order(df, key, shuffled, seed)
    if from_batch:
        cursor = schemes.order_at(df, key, from_batch * batch_size, shuffled, seed)
        if cursor is None:
            return None
        d = d.where(_at_or_after(order, cursor))
    if shuffled:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        d = d.repartitionById(n, schemes.shuffled_partition(n))
        d = d.sortWithinPartitions(*order)
    else:
        d = d.orderBy(*order)
    return d.drop(*(c for c in order if c not in df.columns))


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

    Every Spark job the stream runs carries the job tag ``job_tag``.
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
        self.job_tag = f"fuel_spark.DataStream-{uuid.uuid4().hex}"
        self._producers = itertools.count()
        self._ahead: dict[int, _Producer] = {}  # the next epoch, built ahead
        weakref.finalize(self, _discard, self._ahead)

    @property
    def sources(self) -> tuple[str, ...]:
        return tuple(self.df.columns)

    def _frame(self, epoch: int, from_batch: int) -> Callable[[], DataFrame | None]:
        """Builds the epoch's frame, holding no reference to the stream."""
        return functools.partial(
            _epoch_frame, self.df, self.key, self.batch_size, self.shuffled,
            self.seed + epoch, from_batch,
        )

    def _epoch_df(self, epoch: int, from_batch: int = 0) -> DataFrame | None:
        """The epoch's rows in scheme order from minibatch ``from_batch``
        on, or None when that minibatch is past the end."""
        return self._frame(epoch, from_batch)()

    def _produce(self, epoch: int, from_batch: int) -> _Producer:
        decoders = [_decoder(f) for f in self.df.schema.fields]
        tag = f"{self.job_tag}-{next(self._producers)}"
        return _Producer(self._frame(epoch, from_batch), decoders, (self.job_tag, tag))

    def _look_ahead(self, epoch: int) -> None:
        """Start building ``epoch`` unless the stream has moved on."""
        if self._epoch == epoch and not self._ahead:
            self._ahead[epoch] = self._produce(epoch, 0)

    def _batched_iter(self, epoch: int, from_batch: int, as_dict: bool) -> Iterator:
        producer = self._ahead.pop(epoch, None) if not from_batch else None
        _discard(self._ahead)
        if producer is None:
            producer = self._produce(epoch, from_batch)
        fields = self.df.schema.fields
        me = weakref.ref(self)

        def look_ahead():
            stream = me()
            if stream is not None:
                stream._look_ahead(epoch + 1)

        batches = _batches(
            producer, self.df.columns, [_stored_dtype(f.dataType) for f in fields],
            self.batch_size, as_dict, look_ahead,
        )
        weakref.finalize(batches, producer.discard)  # dropped before its end
        return batches

    def get_epoch_iterator(self, as_dict: bool = True) -> Iterator:
        """One pass over the data in this epoch's order, batched.  The
        next epoch starts building once this one's first rows are in."""
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
        _discard(self._ahead)
