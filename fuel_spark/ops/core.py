"""Core stream transformers, re-expressed as DataFrame operators.

Reference parity (``/root/reference/fuel/transformers/__init__.py``):
Mapping:187 Filter:454 Flatten:343 ScaleAndShift:385 Cast:411
ForceFloatX:437 Cache:477 SortMapping:539 Batch:566 Unpack:629
Padding:667 Merge:747 Rename:890 FilterSources:955.

fuel streams carry named *sources* per example; here sources are
columns.  Batch-oriented transformers (Batch/Unpack/Padding/Sort) use
an explicit ``batch_id`` column produced by
:mod:`fuel_spark.schemes`, which is the distributed replacement for
fuel's sequential minibatch requests.
"""

from __future__ import annotations

from collections.abc import Mapping as MappingABC

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType

from fuel_spark.functions import materialize


# -- Mapping (187) ---------------------------------------------------------


def mapping(
    df: DataFrame, exprs: MappingABC[str, Column], add_sources: bool = True
) -> DataFrame:
    """Apply named column expressions; fuel's Mapping with
    ``add_sources`` semantics (keep originals and append) or replace."""
    if add_sources:
        out = df
        for name, col in exprs.items():
            out = out.withColumn(name, col)
        return out
    return df.select(*[col.alias(name) for name, col in exprs.items()])


# -- Filter (454) ----------------------------------------------------------


def filter_rows(df: DataFrame, predicate: Column) -> DataFrame:
    """fuel Filter: keep rows where predicate holds.  Declarative, so
    Catalyst pushes it into the parquet scan when possible."""
    return df.where(predicate)


# -- Flatten (343) ---------------------------------------------------------


def flatten_nested(df: DataFrame, source: str, out: str | None = None) -> DataFrame:
    """Flatten an array<array<T>> source along all but the example axis
    — fuel's Flatten reshape (n, a, b) -> (n, a*b)."""
    return df.withColumn(out or source, F.flatten(F.col(source)))


# -- ScaleAndShift (385) ---------------------------------------------------


def scale_and_shift(
    df: DataFrame, scale: float, shift: float, which_sources: list[str]
) -> DataFrame:
    """x*scale + shift on the selected numeric sources.  Also covers
    uint8_pixels_to_floatX (defaults.py:6) as scale=1/255, shift=0."""
    out = df
    for s in which_sources:
        out = out.withColumn(s, F.col(s).cast("double") * scale + shift)
    return out


# -- Cast (411) / ForceFloatX (437) ---------------------------------------


def cast_sources(df: DataFrame, dtype: str, which_sources: list[str]) -> DataFrame:
    out = df
    for s in which_sources:
        out = out.withColumn(s, F.col(s).cast(dtype))
    return out


def force_floatx(df: DataFrame, floatx: str | None = None) -> DataFrame:
    """Cast every floating column to the configured float width; fuel's
    ForceFloatX with config.floatX (reference config_parser.py)."""
    if floatx is None:
        from fuel_spark.config import floatx as _fx

        floatx = _fx()
    cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("double", "float") and f.dataType.typeName() != floatx
    ]
    return cast_sources(df, floatx, cols)


# -- Rename (890) / FilterSources (955) -----------------------------------


def rename_sources(df: DataFrame, names: MappingABC[str, str]) -> DataFrame:
    return df.withColumnsRenamed(dict(names))


def filter_sources(df: DataFrame, sources: list[str]) -> DataFrame:
    """Project a subset of sources, preserving the stream's column
    order (fuel keeps data_stream.sources order)."""
    keep = [c for c in df.columns if c in set(sources)]
    return df.select(*keep)


# -- Batch (566) / Unpack (629) -------------------------------------------


def pack_batches(
    df: DataFrame,
    batch_col: str,
    payload: list[str],
    keep: list[str] | None = None,
    order_within: str | None = None,
    strictness: int = 0,
    batch_size: int | None = None,
) -> DataFrame:
    """Collapse example rows into one row per minibatch: each payload
    source becomes an array ordered by ``order_within``.

    The batch_col comes from :mod:`fuel_spark.schemes`; at scale the
    groupBy shuffles once on batch_id (map-side partial collect), the
    distributed analogue of fuel's driver-side accumulation loop
    (reference transformers/__init__.py:608-626).

    ``strictness`` follows fuel Batch (transformers/__init__.py:580):
    0 keeps the trailing partial batch, 1 drops batches smaller than
    ``batch_size`` (required when strictness=1).
    """
    order = order_within or payload[0]
    aggs = [
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col(order).alias("_k"), F.col(p).alias("_v")))
            ),
            lambda s: s["_v"],
        ).alias(p)
        for p in payload
    ]
    aggs.append(F.count(F.lit(1)).alias("batch_size"))
    if keep:
        aggs.extend(F.first(k).alias(k) for k in keep)
    out = df.groupBy(batch_col).agg(*aggs)
    if strictness >= 1:
        if batch_size is None:
            raise ValueError("strictness=1 requires batch_size")
        out = out.where(F.col("batch_size") == batch_size)
    return out


def pack_batches_local(
    df: DataFrame, payload: list[str], batch_size: int
) -> DataFrame:
    """Zero-shuffle minibatch packing: each input partition packs
    independently into batches of ``batch_size`` (trailing partial
    batch kept), streaming through Arrow chunks with a carry buffer.

    The 100 TB throughput twin of :func:`pack_batches`: no global
    order, no Exchange anywhere in the plan (asserted in
    tests/test_plans.py) — batch identity is
    ``partition_id * 2^33 + local_batch_index``, mirroring
    :func:`fuel_spark.schemes.partition_local_batches`.  fuel parity:
    ConstantScheme + Batch (reference fuel/schemes.py:144,
    fuel/transformers/__init__.py:566) for the unordered tier.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    src = df.select(F.spark_partition_id().alias("_pid"), *payload)
    fields = [StructField("batch_id", LongType())]
    fields += [
        StructField(p, ArrayType(df.schema[p].dataType)) for p in payload
    ]
    fields.append(StructField("batch_size", LongType()))
    schema = StructType(fields)
    cols = ["batch_id", *payload, "batch_size"]

    def pack(chunks):
        pid = None
        nb = 0
        carry = None
        for pdf in chunks:
            if pid is None and len(pdf):
                pid = int(pdf["_pid"].iloc[0])
            pdf = pdf.drop(columns=["_pid"])
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            n_full = len(pdf) // batch_size
            carry = pdf.iloc[n_full * batch_size :]
            if n_full:
                rows = []
                for i in range(n_full):
                    seg = pdf.iloc[i * batch_size : (i + 1) * batch_size]
                    rows.append(
                        [(pid << 33) + nb + i]
                        + [seg[p].tolist() for p in payload]
                        + [batch_size]
                    )
                nb += n_full
                yield pd.DataFrame(rows, columns=cols)
        if carry is not None and len(carry):
            row = (
                [(pid << 33) + nb]
                + [carry[p].tolist() for p in payload]
                + [len(carry)]
            )
            yield pd.DataFrame([row], columns=cols)

    return src.mapInPandas(pack, schema)


def unpack_batches(
    df: DataFrame, array_sources: list[str], keep: list[str] | None = None
) -> DataFrame:
    """Inverse of pack_batches: explode aligned arrays back to example
    rows (fuel Unpack).  Uses a single posexplode + element_at so the
    arrays stay aligned positionally."""
    first = array_sources[0]
    keep = keep or []
    exploded = df.select(
        *keep,
        *[F.col(s) for s in array_sources[1:]],
        F.posexplode(F.col(first)).alias("_pos", first),
    )
    cols = list(keep) + [first] + [
        F.element_at(F.col(s), F.col("_pos") + 1).alias(s) for s in array_sources[1:]
    ]
    return exploded.select(*cols)


# -- Padding (667) ---------------------------------------------------------


def pad_sequences(
    df: DataFrame,
    seq_col: str,
    batch_col: str,
    pad_value=0,
    mask_dtype: str = "int",
) -> DataFrame:
    """Pad variable-length array rows to their minibatch max length and
    emit a companion ``<seq>_mask`` source — fuel's Padding.

    Window-max over the batch replaces fuel's per-batch numpy zeros();
    one shuffle on batch_id, everything else stays in codegen.
    """
    w = Window.partitionBy(batch_col)
    out = df.withColumn("_len", F.size(F.col(seq_col)))
    maxlen = F.max("_len").over(w)
    pad_n = (maxlen - F.col("_len")).cast("int")
    elem_is_nested = isinstance(df.schema[seq_col].dataType.elementType, ArrayType)
    if elem_is_nested:
        # 2-D sequences (fuel test_2d_sequences): the fill element is a
        # zero-row matching the sequence's inner width
        fill = F.array_repeat(
            F.lit(pad_value), F.size(F.element_at(F.col(seq_col), 1))
        )
    else:
        fill = F.lit(pad_value)
    padded = F.concat(F.col(seq_col), F.array_repeat(fill, pad_n))
    mask = F.concat(
        F.array_repeat(F.lit(1).cast(mask_dtype), F.col("_len")),
        F.array_repeat(F.lit(0).cast(mask_dtype), pad_n),
    )
    return (
        out.withColumn(f"{seq_col}_mask", mask)
        .withColumn(seq_col, padded)
        .drop("_len")
    )


# -- SortMapping (539) -----------------------------------------------------


def sort_within_batches(
    df: DataFrame,
    batch_col: str,
    key_col: str,
    payload: list[str],
    reverse: bool = False,
) -> DataFrame:
    """Sort examples inside each minibatch by a key — fuel's
    SortMapping composed with Mapping (used there to sort batches by
    sequence length before Padding)."""
    struct = F.struct(F.col(key_col).alias("_k"), *[F.col(p).alias(p) for p in payload])
    arr = F.array_sort(F.collect_list(struct))
    if reverse:
        arr = F.reverse(arr)
    aggs = [F.transform(arr, lambda s: s[p]).alias(p) for p in payload]
    aggs.insert(0, F.transform(arr, lambda s: s["_k"]).alias(key_col))
    aggs.append(F.count(F.lit(1)).alias("batch_size"))
    return df.groupBy(batch_col).agg(*aggs)


# -- Merge (747) -----------------------------------------------------------


def merge_many(streams: list[tuple[DataFrame, str]]) -> DataFrame:
    """Merge N streams positionally (fuel Merge with >2 streams): fold
    of positional zips.  The accumulated side keeps its first stream's
    order column, so each zip re-keys on that."""
    out, first_order = streams[0]
    for df, order in streams[1:]:
        out = merge_streams(out, df, first_order, order)
    return out


_MID_PARTITION_SHIFT = 33  # monotonically_increasing_id: pid << 33 | local row


def _offset_positions(d: DataFrame, pos_col: str, base: int) -> DataFrame:
    """Shared partition-offset core: given ``d`` already in final
    partition layout, derive (pid, local index) from
    ``monotonically_increasing_id`` (pid<<33 | in-partition row number
    — assigned in partition order, zero extra shuffle), aggregate
    per-partition row counts (num_partitions rows, metadata-sized),
    window them into cumulative offsets, and broadcast back.
    ``pos = offset[pid] + local_index + base``.

    The layout MUST be pinned to one physical evaluation: the counts
    branch and the main frame both read ``d``, and when the optimizer
    prunes them differently (a wide payload column survives on one
    side only) the two plans stop sharing a ReusedExchange — each
    then re-SAMPLES its own range boundaries (the range exchange's
    reservoir seed varies per evaluation), the partition ids diverge,
    and offset[pid] no longer matches the pid the row was numbered
    under: positions silently corrupt.  Found at the 20x tier (r9:
    half the order deciles vanished under a text-carrying frame);
    ``materialize`` guarantees both branches read the SAME
    materialized layout at any plan shape (and, over the caller's
    range exchange, runs the sort while the plan is being built)."""
    d = materialize(d)
    d = d.withColumn("_mid", F.monotonically_increasing_id())
    d = d.withColumn(
        "_wpid", F.shiftrightunsigned("_mid", _MID_PARTITION_SHIFT)
    ).withColumn(
        "_lidx", F.col("_mid") % F.lit(1 << _MID_PARTITION_SHIFT)
    )
    counts = d.groupBy("_wpid").agg(F.count(F.lit(1)).alias("_n"))
    # cumulative offsets over num_partitions rows — tiny by construction
    ow = Window.orderBy("_wpid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_wpid", F.coalesce(F.sum("_n").over(ow), F.lit(0)).alias("_off")
    )
    return (
        d.join(F.broadcast(offsets), "_wpid")
        .withColumn(
            pos_col, (F.col("_off") + F.col("_lidx") + base).cast("bigint")
        )
        .drop("_mid", "_wpid", "_lidx", "_off")
    )


def with_positions(
    df: DataFrame,
    order_col,
    pos_col: str = "_pos",
    base: int = 1,
) -> DataFrame:
    """Global positions (``base``-based) in ``order_col`` order WITHOUT
    the ``Window.orderBy`` single-partition collapse.

    Two-pass partition-offset scheme: (1) range-partition + local sort
    on the order column(s) (one *parallel* sort shuffle — every
    partition sorts its own range); (2) local row index from
    ``monotonically_increasing_id``; (3) per-partition row counts
    turned into cumulative offsets and broadcast back.  Because range
    partitioning keeps partition k's keys strictly before partition
    k+1's, ``offset[pid] + local_index`` equals the global row_number —
    identical output to the naive single-partition window, but the big
    side never leaves parallel execution.

    ``order_col`` may be a single column name/Column or a list (ties
    broken by later entries).
    """
    cols = order_col if isinstance(order_col, (list, tuple)) else [order_col]
    cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    d = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    return _offset_positions(d, pos_col, base)


def with_positions_local(df: DataFrame, pos_col: str = "_pos") -> DataFrame:
    """Scale tier of :func:`with_positions`: positions in PARTITION
    ARRIVAL order (partition id, then in-partition order) with zero
    sort shuffle — only the metadata-sized count aggregate and a
    broadcast of the offsets.  Use when the upstream partitioning
    already defines the order (sorted writes, ingestion order); like
    ``pack_batches_local``, position identity is partitioning-defined,
    so queries over it are rows-only checked.
    """
    return _offset_positions(df, pos_col, 1)


def parallel_cumsum(
    df: DataFrame,
    order_cols,
    value_col: str,
    out_col: str = "_cum",
) -> DataFrame:
    """Global running sum of ``value_col`` in ``order_cols`` order
    WITHOUT the ``Window.orderBy`` single-partition collapse — the
    cumulative twin of :func:`with_positions`.

    Same two-level partition-offset scheme: (1) range-partition +
    local sort on the order columns (a *parallel* sort — every
    partition sorts its own key range); (2) per-partition value sums
    (num_partitions rows, metadata-sized) window into cumulative
    offsets and broadcast back; (3) an intra-partition running sum
    over the pid-partitioned window (parallel — every partition scans
    only its own rows) plus the broadcast offset reproduces the
    global ``sum() OVER (ORDER BY ...)`` exactly.  Pass a DECIMAL
    ``value_col`` for bit-deterministic output at any parallelism;
    oracles keep using the plain SQL window.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    d = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    d = d.withColumn("_mid", F.monotonically_increasing_id()).withColumn(
        "_wpid", F.shiftrightunsigned("_mid", _MID_PARTITION_SHIFT)
    )
    psums = d.groupBy("_wpid").agg(F.sum(value_col).alias("_ps"))
    ow = Window.orderBy("_wpid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = psums.select(
        "_wpid", F.coalesce(F.sum("_ps").over(ow), F.lit(0)).alias("_poff")
    )
    iw = (
        Window.partitionBy("_wpid")
        .orderBy("_mid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.join(F.broadcast(offsets), "_wpid")
        .withColumn(out_col, F.col("_poff") + F.sum(value_col).over(iw))
        .drop("_mid", "_wpid", "_poff")
    )


def merge_streams(
    left: DataFrame,
    right: DataFrame,
    left_order: str,
    right_order: str,
) -> DataFrame:
    """Zip two streams positionally into one row per position — fuel's
    Merge of equal-length streams
    (reference fuel/transformers/__init__.py:747).

    Positions come from :func:`with_positions` — exact global order
    semantics via range-partitioned sort + partition-offset ids, NOT
    ``Window.orderBy`` (which would funnel each whole stream through
    one task).  The zip join then shuffles on ``_pos``; at scale
    prefer a real shared key when one exists, but this plan keeps both
    sides parallel end-to-end.
    """
    l = with_positions(left, left_order)
    r = with_positions(right, right_order)
    return l.join(r, "_pos", "inner").drop("_pos")


def merge_streams_local(left: DataFrame, right: DataFrame) -> DataFrame:
    """Zero-sort scale tier of :func:`merge_streams`: zip in partition
    arrival order via :func:`with_positions_local`.  No
    ``Exchange SinglePartition`` and no range sort anywhere in the
    plan — the only wide operations are the metadata-sized count aggs
    and the positional join itself."""
    l = with_positions_local(left)
    r = with_positions_local(right)
    return l.join(r, "_pos", "inner").drop("_pos")


# -- as-of join (no fuel / native-Spark analogue) --------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right_ts <= left_ts`` (``direction='backward'``, the default),
    the next right row with ``right_ts >= left_ts`` (``'forward'``),
    or whichever of the two is closer in time (``'nearest'`` — sensor
    fusion / nearest-snapshot alignment; backward wins distance ties).

    Spark has no native ASOF; the naive inequality-join is O(n·m) per
    key.  This is the scalable formulation: union both streams tagged,
    one window sort per key, and a frame-bounded
    ``last/first(..., ignorenulls)`` carries the matching right payload
    — O((n+m) log(n+m)) with a single shuffle on the key.  ``nearest``
    evaluates BOTH frames over the same sorted window (still one
    shuffle) and picks per row by absolute gap.

    Tie rules (deterministic): at equal timestamps the right row wins
    (inclusive match) in both directions; among right ties the
    greatest payload-order row wins backward, the smallest wins
    forward (the frame edge nearest the left row).  ``nearest`` uses
    the backward layout, so an equal-timestamp right matches at gap 0
    through the backward frame and wins.

    Timestamps compare at microsecond precision (Spark's native
    timestamp resolution) — whole-second truncation would let a right
    row up to ~0.999s away still match, leaking future data for
    sub-second inputs.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            "direction must be 'backward', 'forward', or 'nearest'"
        )

    def _epoch_us(c: str):  # NTZ needs an intermediate cast (UTC session)
        return F.unix_micros(F.col(c).cast("timestamp"))

    # the left-tag value orders left rows AFTER rights at equal ts for
    # backward (rights enter the trailing frame) and BEFORE for
    # forward (rights stay inside the leading frame); nearest uses the
    # backward layout (equal-ts rights match at gap 0 via that frame)
    left_tag = 0 if direction == "forward" else 1
    lcols = left.columns
    l = left.select(
        F.col(key).alias("_k"),
        _epoch_us(left_ts).alias("_t"),
        F.lit(left_tag).alias("_is_left"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(dict(right.dtypes)[p]).alias(f"_r_{p}") for p in right_payload],
        F.lit(None).cast("bigint").alias("_rt"),
    )
    r = right.select(
        F.col(key).alias("_k"),
        _epoch_us(right_ts).alias("_t"),
        F.lit(1 - left_tag).alias("_is_left"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols],
        *[F.col(p).alias(f"_r_{p}") for p in right_payload],
        _epoch_us(right_ts).alias("_rt"),
    )
    u = l.unionByName(r)
    w = Window.partitionBy("_k").orderBy(
        "_t", "_is_left", *[f"_r_{p}" for p in right_payload]
    )
    wb = w.rowsBetween(Window.unboundedPreceding, 0)
    wf = w.rowsBetween(0, Window.unboundedFollowing)
    if direction == "backward":
        carried = [
            F.last(f"_r_{p}", ignorenulls=True).over(wb).alias(p)
            for p in right_payload
        ]
    elif direction == "forward":
        carried = [
            F.first(f"_r_{p}", ignorenulls=True).over(wf).alias(p)
            for p in right_payload
        ]
    else:  # nearest: both frames over the SAME sorted window
        bwd_t = F.last("_rt", ignorenulls=True).over(wb)
        fwd_t = F.first("_rt", ignorenulls=True).over(wf)
        use_b = fwd_t.isNull() | (
            bwd_t.isNotNull()
            & ((F.col("_t") - bwd_t) <= (fwd_t - F.col("_t")))
        )
        carried = [
            F.when(use_b, F.last(f"_r_{p}", ignorenulls=True).over(wb))
            .otherwise(F.first(f"_r_{p}", ignorenulls=True).over(wf))
            .alias(p)
            for p in right_payload
        ]
    return (
        u.select(*lcols, F.col("_is_left"), *carried)
        .where(F.col("_is_left") == left_tag)
        .drop("_is_left")
    )


# -- range join (no fuel / native-Spark analogue) --------------------------


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bucket_width: int,
    equi_keys: list[str] | None = None,
    how: str = "inner",
    interval_id: list[str] | None = None,
) -> DataFrame:
    """Point-in-interval join (``start <= point <= end``, inclusive)
    without a cartesian/nested-loop plan.

    Spark executes a bare inequality join as BroadcastNestedLoop or
    CartesianProduct — O(|points| x |intervals|).  This is the bucketed
    formulation: both sides map onto a fixed epoch grid
    (``bucket_width`` seconds for timestamp columns, plain units for
    numerics); each INTERVAL explodes to the grid cells it covers
    (``sequence(floor(s/w), floor(e/w))``), each POINT lands in exactly
    one cell, and the join runs as an ordinary hash/sort-merge equi
    join on (grid cell, *equi_keys) with the exact containment
    predicate applied after.  Output pairs are exact and unique — a
    point has one cell, so a (point, interval) pair can only meet once.

    Scale shape: the big side (points — typically the fact stream) is
    shuffled once with NO row expansion; only intervals replicate, by
    ``ceil(interval_len / bucket_width) + 1`` rows each.  Pick
    ``bucket_width`` near the typical interval length so that factor
    stays ~2.  A pathological interval spanning the whole time range
    degrades to |grid| replicas — bound it upstream or raise
    ``bucket_width``; no setting of this knob can produce a cartesian.

    ``how='inner'`` emits matched pairs.  ``how='left'`` preserves
    intervals with zero matching points (point columns null) and
    requires ``interval_id`` — unique column(s) identifying an
    interval row — to restore the unmatched rows after the bucketed
    inner pass.  Column names must be disjoint between the two inputs.
    """
    if how not in ("inner", "left"):
        raise ValueError("how must be 'inner' or 'left'")
    if how == "left" and not interval_id:
        raise ValueError("how='left' requires interval_id columns")

    def _grid(df: DataFrame, col: str) -> Column:
        c = F.col(col)
        if "timestamp" in dict(df.dtypes)[col]:
            # microsecond epoch (Spark's native resolution); NTZ needs
            # the intermediate cast under a UTC session
            return F.unix_micros(c.cast("timestamp")), bucket_width * 1_000_000
        return c, bucket_width

    pt, pw = _grid(points, point_ts)
    s, iw = _grid(intervals, start_ts)
    e, _ = _grid(intervals, end_ts)
    keys = list(equi_keys or [])
    p = points.withColumn("_cell", F.floor(pt / pw))
    # inverted intervals (end < start) contain nothing: drop them before
    # the explode — Spark's sequence() would otherwise step DOWNWARD
    # through every cell between the two ends
    iv = intervals.where(e >= s).withColumn(
        "_cell",
        F.explode(F.sequence(F.floor(s / iw), F.floor(e / iw))),
    )
    pairs = (
        iv.join(p, ["_cell", *keys] if keys else ["_cell"], "inner")
        .where(
            (F.col(point_ts) >= F.col(start_ts))
            & (F.col(point_ts) <= F.col(end_ts))
        )
        .drop("_cell")
    )
    if how == "inner":
        return pairs
    # left: restore intervals whose bucketed inner pass matched nothing
    matched = pairs.select(*interval_id).distinct()
    unmatched = intervals.join(matched, interval_id, "left_anti")
    null_points = [
        F.lit(None).cast(t).alias(c)
        for c, t in points.dtypes
        if c not in (equi_keys or [])
    ]
    return pairs.unionByName(unmatched.select("*", *null_points))


# -- Cache (477) / MultiProcessing (847) ----------------------------------


def cache_stream(df: DataFrame) -> DataFrame:
    """fuel's Cache re-chunking maps to persisting the upstream plan;
    re-batching is pack_batches with a different scheme.  fuel's
    MultiProcessing (background prefetch) needs no analogue: Spark
    executors already overlap IO and compute across tasks."""
    return df.persist()


def pack_token_budget(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
    batch_col: str = "pack_id",
) -> DataFrame:
    """Token-budget sequence packing, offset-binned: concatenate the
    corpus in ``id_col`` order and assign each document to the chunk
    its FIRST token lands in (chunk = ``budget`` tokens) — the
    concatenate-and-chunk packing of GPT-style pre-training, relaxed
    to whole-document assignment so it stays a pure column expression.
    A chunk may overflow by at most one document's tail; a document
    longer than the budget owns its chunk start.

    Reproducibility tier, parallel formulation: the running token
    offset is computed with the partition-offset scheme (same idea as
    :func:`with_positions`) — range-partition + local sort on
    ``id_col``, per-partition token totals (num_partitions rows)
    turned into cumulative partition offsets and broadcast back, plus
    a WITHIN-partition cumsum window.  Because range partitioning
    keeps ids ordered across partitions, ``offset[pid] +
    local_cumsum`` equals the global-order cumsum exactly — but no
    stage ever collapses to one task, unlike a bare
    ``Window.orderBy`` cumsum.  For the zero-shuffle throughput tier:
    :func:`pack_token_budget_local`.
    """
    tok = F.col(token_count_col).cast("bigint")
    d = (
        df.repartitionByRange(F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("_ppid", F.spark_partition_id().cast("bigint"))
    )
    totals = d.groupBy("_ppid").agg(F.sum(tok).alias("_ptok"))
    ow = Window.orderBy("_ppid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_ppid", F.coalesce(F.sum("_ptok").over(ow), F.lit(0)).alias("_poff")
    )
    lw = (
        Window.partitionBy("_ppid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_start = F.coalesce(F.sum(tok).over(lw), F.lit(0))
    return (
        d.join(F.broadcast(offsets), "_ppid")
        .withColumn("_start", (F.col("_poff") + local_start).cast("bigint"))
        .withColumn(batch_col, F.floor(F.col("_start") / budget).cast("bigint"))
        .drop("_start", "_ppid", "_poff")
    )


def concat_packed_sequences(
    df: DataFrame,
    pack_col: str,
    id_col: str,
    tokens_col: str,
    eos: int | str | None = None,
) -> DataFrame:
    """The last-mile LM-prep step: flatten each pack's documents (in
    ``id_col`` order) into ONE training token sequence, optionally
    inserting an ``eos`` separator after every document — the
    materialization of :func:`pack_token_budget`'s assignment into
    the concatenate-and-chunk sequences GPT-style pre-training
    actually consumes.

    One pack-keyed groupBy; each pack's combined tokens are bounded
    by the budget (plus one document tail), so the per-row collect /
    sort / flatten stays row-local and memory-safe at any corpus
    size.  Output: pack, input_ids, n_tokens, n_docs.
    """
    doc = F.struct(F.col(id_col).alias("i"), F.col(tokens_col).alias("t"))
    grouped = df.groupBy(pack_col).agg(
        F.array_sort(F.collect_list(doc)).alias("_docs")
    )
    if eos is None:
        seq = F.flatten(F.transform(F.col("_docs"), lambda d: d["t"]))
    else:
        seq = F.flatten(
            F.transform(
                F.col("_docs"),
                lambda d: F.concat(d["t"], F.array(F.lit(eos))),
            )
        )
    return grouped.select(
        F.col(pack_col),
        seq.alias("input_ids"),
        F.size(seq).cast("bigint").alias("n_tokens"),
        F.size(F.col("_docs")).cast("bigint").alias("n_docs"),
    )


def pack_token_budget_local(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
) -> DataFrame:
    """Zero-shuffle greedy token packing: each input partition fills
    batches up to ``budget`` tokens (first-fit in arrival order; a
    document larger than the budget gets a batch of its own).  True
    greedy semantics — a batch never exceeds the budget unless it
    holds a single oversized document — which needs sequential state
    and therefore lives in an Arrow-streamed mapInPandas with a carry
    buffer, like :func:`pack_batches_local`.

    Output: one row per packed batch — pack_id, the member ids (in
    order), n_docs, n_tokens.  pack identity is
    ``partition_id * 2^33 + local_pack_index``.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    src = df.select(
        F.spark_partition_id().alias("_pid"),
        F.col(id_col).alias("_id"),
        F.col(token_count_col).cast("bigint").alias("_tok"),
    )
    schema = StructType([
        StructField("pack_id", LongType()),
        StructField("doc_ids", ArrayType(LongType())),
        StructField("n_docs", LongType()),
        StructField("n_tokens", LongType()),
    ])

    def pack(chunks):
        pid = None
        np_ = 0
        cur_ids: list[int] = []
        cur_tok = 0

        def flush():
            nonlocal np_, cur_ids, cur_tok
            row = [(pid << 33) + np_, list(cur_ids), len(cur_ids), cur_tok]
            np_ += 1
            cur_ids, cur_tok = [], 0
            return row

        for pdf in chunks:
            if pid is None and len(pdf):
                pid = int(pdf["_pid"].iloc[0])
            rows = []
            for doc_id, tok in zip(pdf["_id"], pdf["_tok"]):
                tok = int(tok)
                if cur_ids and cur_tok + tok > budget:
                    rows.append(flush())
                cur_ids.append(int(doc_id))
                cur_tok += tok
                if cur_tok >= budget:
                    rows.append(flush())
            if rows:
                yield pd.DataFrame(
                    rows, columns=["pack_id", "doc_ids", "n_docs", "n_tokens"]
                )
        if cur_ids:
            yield pd.DataFrame(
                [flush()], columns=["pack_id", "doc_ids", "n_docs", "n_tokens"]
            )

    return src.mapInPandas(pack, schema)


def parallel_ntile(
    df: DataFrame,
    order_cols,
    k: int,
    out_col: str = "ntile",
    keep_pos: bool = False,
) -> DataFrame:
    """``ntile(k) OVER (ORDER BY ...)`` without the single-partition
    window: positions come from :func:`with_positions` (parallel
    range-sort + broadcast partition offsets), the total count rides as
    a broadcast 1-row relation, and the bucket is closed-form integer
    arithmetic reproducing SQL ntile's distribution exactly (the first
    ``n % k`` buckets get the extra row).

    A global ntile over a per-user/customer aggregate is still
    unbounded-cardinality input at the 100 TB tier — ``ntile`` via
    ``Window.orderBy`` would funnel all of it through ONE task; this
    keeps the sort parallel.  Output is bit-identical to the window
    version, so SQL oracles keep using plain ntile.
    """
    d = with_positions(df, order_cols, pos_col="_np", base=0)
    n_rel = df.groupBy().agg(F.count(F.lit(1)).alias("_n_total"))
    d = d.crossJoin(F.broadcast(n_rel))
    bucket = F.expr(
        f"CAST(CASE WHEN _np < (_n_total % {k}) * (_n_total DIV {k} + 1)"
        f" THEN _np DIV (_n_total DIV {k} + 1) + 1"
        f" ELSE (_n_total % {k})"
        f"  + (_np - (_n_total % {k}) * (_n_total DIV {k} + 1))"
        f"    DIV greatest(_n_total DIV {k}, 1) + 1 END AS INT)"
    )
    out = d.withColumn(out_col, bucket).drop("_n_total")
    return out if keep_pos else out.drop("_np")


def salted_rollup_certificate(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
    salts: int = 32,
) -> DataFrame:
    """Two-stage salted aggregation with its correctness certificate:
    the canonical hot-key mitigation — groupBy(group, salt) partials
    then a per-group final — beside the direct one-stage rollup, with
    an exact-match flag per group.  At 100 TB a single key holding
    10% of the rows turns the direct shuffle's one reducer into the
    stage; salting spreads that key across ``salts`` reducers and the
    final combines ``salts`` partial rows.  The certificate exists
    because the pattern is only safe for ALGEBRAIC aggregates over
    exact types: sums ride DECIMAL(27,6) (order-independent), counts
    are integers — match is provably TRUE, and the query pins it.

    Salt is a deterministic md5 bucket of the row key, so the partial
    assignment (and thus the plan shape) is reproducible.

    Output: group, n_rows, direct_sum, salted_sum, match.
    """
    from fuel_spark.functions import hash_mod

    dec = F.col(value_col).cast("decimal(27,6)")
    direct = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(dec).cast("double"), 6).alias("direct_sum"),
    )
    partial = (
        df.withColumn("_salt", hash_mod("salt13", F.col(key_col), salts))
        .groupBy(group_col, "_salt")
        .agg(F.sum(dec).alias("_ps"))
    )
    salted = partial.groupBy(group_col).agg(
        F.round(F.sum("_ps").cast("double"), 6).alias("salted_sum")
    )
    return direct.join(salted, group_col).select(
        group_col,
        "n_rows",
        "direct_sum",
        "salted_sum",
        (F.col("direct_sum") == F.col("salted_sum")).alias("match"),
    )


def salted_join_certificate(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
    salts: int = 16,
) -> DataFrame:
    """Replicated-dimension salted JOIN with its correctness
    certificate — the join-side twin of
    :func:`salted_rollup_certificate`, completing the skew toolkit:
    the aggregation certificate pins salted partials; THIS one pins
    the replicate-the-build-side pattern for a hash join whose probe
    key is a heavy hitter (too hot for one reducer) against a dim too
    big to broadcast.  Each fact row salts deterministically by its
    row key; the dim replicates to every salt; the join runs on
    (key, salt) so the hot key spreads over ``salts`` reducers
    (`functions.salted_join`'s deterministic tier).

    The certificate: per group, the salted join's row count and exact
    DECIMAL value sum beside the direct join's — match is provably
    TRUE because replication×scatter partitions the pair space
    exactly (every fact row meets its dim row in exactly one salt),
    and the query pins it.  The dim here is the group-grain profile
    of the fact itself (self-contained, any real dim works the same).

    Output: group, n_rows_direct, n_rows_salted, sum_direct,
    sum_salted, dim_attr, match.
    """
    from fuel_spark.functions import salted_join

    dec = F.col(value_col).cast("decimal(27,6)")
    dim = df.groupBy(F.col(group_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("dim_n")
    )
    fact = df.select(F.col(group_col), F.col(key_col), F.col(value_col))
    direct = fact.join(dim, group_col).groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_direct"),
        F.round(F.sum(dec).cast("double"), 6).alias("sum_direct"),
        F.max("dim_n").alias("dim_attr"),
    )
    salted = (
        salted_join(fact, dim, group_col, salts, salt_key=key_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows_salted"),
            F.round(F.sum(dec).cast("double"), 6).alias("sum_salted"),
        )
    )
    return direct.join(salted, group_col).select(
        group_col,
        "n_rows_direct",
        "n_rows_salted",
        "sum_direct",
        "sum_salted",
        "dim_attr",
        (
            (F.col("n_rows_direct") == F.col("n_rows_salted"))
            & (F.col("sum_direct") == F.col("sum_salted"))
        ).alias("match"),
    )
