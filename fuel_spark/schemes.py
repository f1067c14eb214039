"""Iteration schemes as deterministic, distributed batch planners.

Reference parity (``/root/reference/fuel/schemes.py``):
SequentialScheme:180 ShuffledScheme:195 SequentialExampleScheme:232
ShuffledExampleScheme:242 ConstantScheme:144 ConcatenatedScheme:95
cross_validation:260.

fuel schemes materialize ``list(range(num_examples))`` on the driver
and (for shuffled variants) permute it with a numpy RNG — impossible at
100 TB.  Here a scheme is a *column expression* assigning each row a
position and a batch id:

- sequential  → row_number over the natural key
- shuffled    → row_number over md5(seed || key)  (seeded permutation,
  bit-identical in Spark and the DuckDB oracle)
- example vs batch schemes → with/without the batch_id division

Global row_number is a sort — acceptable when batch *identity* must be
reproducible (the correctness-gated path).  For pure throughput at
scale use :func:`partition_local_batches`, which assigns batch ids
within each partition with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from fuel_spark.functions import det_key


def scheme_order(
    df: DataFrame, key: str, shuffled: bool = False, seed: int = 42
) -> tuple[DataFrame, list[str]]:
    """The scheme's total order: ``(det_key(seed, key), key)`` when
    shuffled, ``key`` when sequential.

    Returns ``df`` with the order columns (the shuffled md5 key rides
    as ``_ord``, computed once per row rather than per comparison) and
    their names; an example's position is its 0-based rank in
    ``orderBy(*names)``.  :func:`with_positions` and
    ``streams.DataStream`` both order by this, so a stream's epoch and
    its scheme's ``pos`` cannot drift apart.
    """
    if shuffled:
        return df.withColumn("_ord", det_key(seed, F.col(key))), ["_ord", key]
    return df, [key]


def shuffled_partition(n: int) -> Column:
    """The partition in ``[0, n)`` of a row of a shuffled
    :func:`scheme_order`: the top 32 bits of its md5 key ``_ord``,
    scaled to ``n``.  md5 is uniform, so ``repartitionById(n, ...)``
    spreads rows evenly with no range-bound sample, and the id never
    falls as ``_ord`` rises, so the partitions in id order, each
    sorted by the order columns, are the scheme's order."""
    top = F.conv(F.substring("_ord", 1, 8), 16, 10).cast("bigint")
    return F.shiftright(top * F.lit(n), 32).cast("int")


def with_positions(
    df: DataFrame, key: str, shuffled: bool = False, seed: int = 42,
    pos_col: str = "pos",
) -> DataFrame:
    """Assign each example its 0-based iteration position: its rank in
    :func:`scheme_order`.

    Positions come from the partition-offset scheme
    (:func:`fuel_spark.ops.core.with_positions`): a *parallel*
    range-partitioned sort plus broadcast per-partition offsets —
    bit-identical to a global ``row_number`` but with no
    ``Exchange SinglePartition``, so every scheme built on this
    (sequential/shuffled batches, cross-validation ranges) keeps the
    whole dataset in parallel execution.
    """
    from fuel_spark.ops.core import with_positions as _core_positions

    d, order = scheme_order(df, key, shuffled, seed)
    out = _core_positions(d, order, pos_col=pos_col, base=0)
    return out.drop(*(c for c in order if c not in df.columns))


def order_at(
    df: DataFrame, key: str, pos: int, shuffled: bool = False, seed: int = 42
) -> tuple | None:
    """The :func:`scheme_order` values of the example at 0-based
    position ``pos``, or None when ``pos`` is past the end.

    Runs the distributed positions pass over the key column alone and
    keeps the one row at ``pos``: the sort stays parallel and the
    driver receives a single row at any ``pos`` (an
    ``orderBy().offset(pos)`` would plan as a top-(pos + 1) per
    partition merged on the driver).
    """
    from fuel_spark.ops.core import with_positions as _core_positions

    d, order = scheme_order(df.select(key), key, shuffled, seed)
    rows = (
        _core_positions(d, order, pos_col="_pos", base=0)
        .where(F.col("_pos") == pos)
        .select(*order)
        .collect()
    )
    return tuple(rows[0]) if rows else None


def sequential_batches(
    df: DataFrame, key: str, batch_size: int, batch_col: str = "batch_id"
) -> DataFrame:
    """SequentialScheme: contiguous key-ordered minibatches."""
    out = with_positions(df, key, shuffled=False)
    return out.withColumn(batch_col, F.floor(F.col("pos") / batch_size))


def shuffled_batches(
    df: DataFrame, key: str, batch_size: int, seed: int = 42,
    batch_col: str = "batch_id",
) -> DataFrame:
    """ShuffledScheme: seeded deterministic permutation, then batches."""
    out = with_positions(df, key, shuffled=True, seed=seed)
    return out.withColumn(batch_col, F.floor(F.col("pos") / batch_size))


def curriculum_batches(
    df: DataFrame,
    key: str,
    difficulty_col: str,
    batch_size: int,
    seed: int = 42,
    batch_col: str = "batch_id",
) -> DataFrame:
    """Curriculum schedule (Bengio et al. 2009): batches run easy →
    hard by ``difficulty_col`` (ascending), with a seeded
    deterministic shuffle BETWEEN equal difficulties so ties don't
    replay in storage order every epoch.

    Same positional machinery as the other schemes — the
    (difficulty, det_key) sort goes through the partition-offset
    positions (range-partitioned parallel sort, no
    ``Exchange SinglePartition``), so the curriculum plan stays fully
    parallel at any corpus size.  Vary ``seed`` per epoch for fresh
    tie-breaks while the difficulty ramp stays fixed.
    """
    from fuel_spark.ops.core import with_positions as _core_positions

    d = df.withColumn("_ord", det_key(seed, F.col(key)))
    out = _core_positions(
        d, [difficulty_col, "_ord", key], pos_col="pos", base=0
    ).drop("_ord")
    return out.withColumn(batch_col, F.floor(F.col("pos") / batch_size))


def interleave_sources(
    df: DataFrame,
    key: str,
    source_col: str,
    weights: dict[str, float],
    seed: int = 42,
) -> DataFrame:
    """Deterministic proportional interleave of a multi-source corpus
    — smooth weighted round-robin: each source's i-th example gets
    virtual time (i+1)/weight and the global training order sorts by
    it, so a weight-0.7 source appears ~7 of every 10 consecutive
    examples WITHOUT the clumping a sampled mixture produces.  This
    is the ORDER twin of ``temperature_weights``/``mixture_sample``
    (which decide how much; this decides when).

    Per-source positions derive from global partition-offset
    positions minus broadcast per-source offsets (the
    ``concatenated_batches`` trick), and the vt order goes through
    the same parallel machinery — no per-source single-task window
    anywhere.  Rows of sources missing from ``weights`` are dropped
    (explicitly: an unweighted source has no place in the schedule).
    """
    from fuel_spark.ops.core import with_positions as _core_positions

    d = df.where(F.col(source_col).isin(list(weights))).withColumn(
        "_ord", det_key(seed, F.col(key))
    )
    pos = _core_positions(
        d, [source_col, "_ord", key], pos_col="_gpos", base=0
    )
    counts = pos.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    ow = Window.orderBy(source_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        source_col,
        F.coalesce(F.sum("_n").over(ow), F.lit(0)).alias("_off"),
    )
    wexpr = F.lit(None).cast("double")
    for s, w in sorted(weights.items()):
        wexpr = F.when(F.col(source_col) == s, F.lit(float(w))).otherwise(
            wexpr
        )
    vt = pos.join(F.broadcast(offsets), source_col).select(
        *df.columns,
        (F.col("_gpos") - F.col("_off")).alias("src_pos"),
        F.round((F.col("_gpos") - F.col("_off") + 1) / wexpr, 9).alias("vt"),
    )
    out = _core_positions(
        vt, ["vt", source_col, key], pos_col="global_pos", base=0
    )
    return out.drop("_ord")


def concatenated_batches(
    dfs: list[DataFrame], keys: list[str], batch_size: int,
    batch_col: str = "batch_id",
) -> DataFrame:
    """ConcatenatedScheme: iterate scheme A fully, then scheme B, with
    globally increasing batch ids.  Implemented as a union with a
    stream ordinal folded into the position, so downstream operators
    see one coherent batch sequence."""
    parts = []
    for i, (df, key) in enumerate(zip(dfs, keys)):
        part = with_positions(df, key).withColumn("_stream", F.lit(i))
        parts.append(part.select(F.col(key).alias("key"), "pos", "_stream"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # Position offset = total examples in earlier streams.  Computed as
    # a per-stream count aggregate (num_streams rows) windowed into
    # cumulative offsets and broadcast back — the naive global window
    # count would funnel every row through one task.
    counts = out.groupBy("_stream").agg(F.count(F.lit(1)).alias("_n"))
    ow = Window.orderBy("_stream").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_stream", F.coalesce(F.sum("_n").over(ow), F.lit(0)).alias("_offset")
    )
    return out.join(F.broadcast(offsets), "_stream").withColumn(
        batch_col, F.floor((F.col("pos") + F.col("_offset")) / batch_size)
    ).drop("_offset")


def cross_validation_folds(
    df: DataFrame, key: str, num_folds: int, fold_col: str = "fold"
) -> DataFrame:
    """cross_validation (schemes.py:260): contiguous equal fold ranges
    of size n//k over the key order; remainder rows join the last fold
    (fuel raises under strict=True unless divisible — we take the
    lenient path and document it).

    Scale note: contiguous-range folds require positions (one sort);
    hash-mod folds (``pxxhash % k``) avoid it — exposed via
    ``hash_folds`` for the 100 TB path.
    """
    out = with_positions(df, key)
    n = df.count()
    fold_size = max(n // num_folds, 1)
    return out.withColumn(
        fold_col,
        F.least(F.floor(F.col("pos") / fold_size), F.lit(num_folds - 1)),
    )


def hash_folds(
    df: DataFrame, key: str, num_folds: int, seed: int = 42,
    fold_col: str = "fold", portable: bool = False,
) -> DataFrame:
    """Shuffle-free fold assignment for scale: fold = hash(key) % k.

    Default hash is JVM-side ``xxhash64`` (codegen, fastest).
    ``portable=True`` switches to the md5 ``det_key`` rule — the same
    fold for the same (seed, key) on ANY engine, which is what the
    DuckDB oracle checks; both modes are deterministic, stable under
    repartitioning/growth, and require zero shuffle.
    """
    if portable:
        bucket = F.conv(
            F.substring(det_key(seed, F.col(key)), 1, 6), 16, 10
        ).cast("bigint")
        return df.withColumn(fold_col, bucket % num_folds)
    return df.withColumn(
        fold_col, F.abs(F.xxhash64(F.col(key), F.lit(seed))) % num_folds
    )


def deterministic_sample(
    df: DataFrame, key: str, fraction: float, seed: int = 42
) -> DataFrame:
    """Reproducible row sampling: keep rows whose md5(seed-key) prefix
    falls under the fraction threshold.

    Unlike ``df.sample``, membership depends only on (seed, key) — the
    same rows are kept on any cluster, any partitioning, any engine
    (the DuckDB oracle computes the identical set), and the sample is
    stable under corpus growth (new keys don't reshuffle old ones).
    """
    bucket = F.conv(F.substring(det_key(seed, F.col(key)), 1, 6), 16, 10).cast("bigint")
    return df.where(bucket < int(fraction * 16777216))


def weighted_sample(
    df: DataFrame, key: str, weight_col: str, n: int, seed: int = 42
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis
    & Spirakis 2006): each row draws u = hash-uniform(seed, key) in
    (0, 1] and scores ln(u)/w — the log form of the paper's u^(1/w)
    key, monotone-equivalent and numerically safer — and the global
    top-``n`` scores win.  Inclusion probability is proportional to
    weight, and like :func:`deterministic_sample` the draw depends
    only on (seed, key): same winners on any cluster, partitioning,
    or engine.

    Distributed shape: pure projection + global top-n — Spark plans
    ``orderBy().limit(n)`` as TakeOrdered (per-partition heaps, no
    full sort, no single-task stage).  Weights must be positive.
    Output adds ``es_key`` (rounded; ties broken by key) for
    auditability.
    """
    frac = (
        F.conv(F.substring(det_key(seed, F.col(key)), 1, 13), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 52))
    es = F.log(frac) / F.col(weight_col).cast("double")
    return (
        df.withColumn("es_key", F.round(es, 6))
        .orderBy(F.col("es_key").desc(), F.col(key).asc())
        .limit(n)
    )


def partition_local_batches(
    df: DataFrame, batch_size: int, batch_col: str = "batch_id"
) -> DataFrame:
    """ConstantScheme for infinite/unordered streams at scale: batch
    ids are (partition_id, local_index // batch_size) — zero shuffle,
    no global order, exactly fuel's 'just give me batches of n'
    contract (reference schemes.py:144).

    ``monotonically_increasing_id`` already encodes
    ``partition_id << 33 | row_index_within_partition``, so both parts
    of the batch identity come from one pure projection — no window,
    no Exchange anywhere in the plan (asserted in tests/test_plans.py).
    """
    mid = F.monotonically_increasing_id()
    pid = F.shiftrightunsigned(mid, 33)
    local = mid.bitwiseAND(F.lit((1 << 33) - 1))
    # pid gets the full 2^33 headroom: local is a 33-bit index, so
    # floor(local / batch_size) < 2^33 for any batch_size >= 1 and two
    # partitions can never collide (pid * 2^33 + x <= mid, fits a long).
    return df.withColumn(
        batch_col, pid * F.lit(1 << 33) + F.floor(local / batch_size)
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float],
    key: str,
    seed: int = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-group deterministic sampling (language/source-balanced
    corpus construction): each group keeps its own fraction, membership
    decided by md5(seed-key) exactly like ``deterministic_sample`` —
    reproducible across engines, partitionings, and corpus growth.

    The per-group threshold is a literal CASE chain (no join, no
    shuffle): at 100 TB this is a pure scan-side filter that combines
    with predicate pushdown on ``group_col`` when present.
    """
    bucket = F.conv(F.substring(det_key(seed, F.col(key)), 1, 6), 16, 10).cast("bigint")
    thr = F.lit(int(default_fraction * 16777216))
    for g, frac in sorted(fractions.items()):
        thr = F.when(F.col(group_col) == g, F.lit(int(frac * 16777216))).otherwise(thr)
    return df.where(bucket < thr)


def sample_n_per_group(
    df: DataFrame, group_col: str, n: int, key: str, seed: int = 42
) -> DataFrame:
    """Exactly-n-per-group deterministic sampling (eval-set and
    few-shot pool construction: "give me 500 docs per language").

    Rank rows within each group by the seeded md5 key and keep the
    first n — a reproducible draw (same members on any engine or
    partitioning) rather than ``sample``'s RNG.  The window
    partitions by group, so there is one shuffle on ``group_col`` and
    no global sort; rank is bounded by n per group, never corpus-wide.
    Groups smaller than n keep everything.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(det_key(seed, F.col(key)), F.col(key))
    return (
        df.withColumn("_rnk", F.row_number().over(w))
        .where(F.col("_rnk") <= n)
        .drop("_rnk")
    )


def temperature_weights(
    df: DataFrame, group_col: str, alpha: float = 0.7
) -> DataFrame:
    """Temperature-based mixture weights over groups (multilingual
    LM sampling, Conneau & Lample 2019 §3.1): group g gets probability
    p_g = n_g^alpha / sum_h n_h^alpha, flattening the head and
    boosting the tail as alpha -> 0.

    Also emits ``sample_rate``: the per-row keep probability that
    realizes the mixture without upsampling (rate_g proportional to
    p_g / n_g, scaled so the largest rate is 1.0).  One tiny groupBy;
    the window runs over the group table (|groups| rows), never the
    corpus.
    """
    from pyspark.sql import Window

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.partitionBy()
    pw = F.pow(F.col("n_rows").cast("double"), F.lit(alpha))
    rate_raw = F.col("weight") / F.col("n_rows")
    return (
        counts.withColumn("weight", pw / F.sum(pw).over(w))
        .withColumn("sample_rate", rate_raw / F.max(rate_raw).over(w))
        .withColumn("weight", F.round("weight", 6))
        .withColumn("sample_rate", F.round("sample_rate", 6))
    )


def apply_mixture_sample(
    df: DataFrame,
    group_col: str,
    key: str,
    alpha: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Materialize a temperature-mixture sample: broadcast-join the
    per-group ``sample_rate`` (tiny) onto the corpus and keep rows by
    the same md5 threshold rule as ``deterministic_sample``.  The
    rounded rate is the join key's contract, so Spark and the oracle
    agree bit-for-bit on membership.
    """
    rates = temperature_weights(df, group_col, alpha).select(
        group_col, "sample_rate"
    )
    bucket = F.conv(F.substring(det_key(seed, F.col(key)), 1, 6), 16, 10).cast("bigint")
    # explicit floor: DuckDB's double->bigint CAST rounds while Spark's
    # truncates, so the threshold must be floored before comparing
    return (
        df.join(F.broadcast(rates), group_col)
        .where(bucket < F.floor(F.col("sample_rate") * 16777216))
        .drop("sample_rate")
    )


def epoch_batches(
    df: DataFrame, key: str, batch_size: int, epochs: int = 2, seed: int = 7
) -> DataFrame:
    """Multi-epoch shuffled batch plan: each epoch is an independent
    seeded permutation (seed '<seed>-<epoch>'), mirroring fuel's
    per-epoch reshuffle (reference fuel/schemes.py:195 ShuffledScheme
    with rng state advancing per epoch) — but fully deterministic and
    cluster-size independent.

    The per-epoch plan is the same range-partitioned md5 ordering as
    ``shuffled_batches``; epochs union lazily, so Spark runs them as
    independent branches (no cross-epoch shuffle).
    Output: epoch, key, pos, batch_id.
    """
    parts = []
    for e in range(epochs):
        p = shuffled_batches(df, key, batch_size, seed=f"{seed}-{e}")
        parts.append(
            p.select(
                F.lit(e).alias("epoch"),
                F.col(key),
                "pos",
                "batch_id",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def shard_assignment(
    df: DataFrame, key: str, n_shards: int, seed: int = 5
) -> DataFrame:
    """Stable shard plan for N parallel consumers: every row maps to
    md5(seed, key) mod n_shards — reproducible on any cluster size,
    stable under appends (a new row never moves old rows), the
    data-parallel serving twin of the hash splits.

    Returns the per-shard summary (row count, key range) — the
    assignment itself is a pure projection callers inline.
    """
    shard = (
        F.conv(F.substring(det_key(seed, F.col(key)), 1, 6), 16, 10)
        .cast("bigint") % n_shards
    ).cast("int")
    return (
        df.select(F.col(key), shard.alias("shard_id"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(key).alias("min_key"),
            F.max(key).alias("max_key"),
        )
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# round 9: training-order certificates — the analysis tier over the
# iteration schemes (reference fuel/schemes.py:195 ShuffledScheme;
# the schemes themselves are oracle-checked above, these certify the
# ORDER PROPERTIES a trainer actually relies on: fresh reshuffles per
# epoch, well-mixed batches, decorrelated positions, balanced shards)
# ---------------------------------------------------------------------------


def epoch_overlap_certificate(
    df: DataFrame,
    key: str,
    seeds: tuple = (7, 8),
    decile: int = 10,
) -> DataFrame:
    """Do two epoch reshuffles actually decorrelate?  The first
    1/``decile`` of epoch A's order vs epoch B's: the id-set overlap
    should match the independent-permutation expectation (k/n), and
    the mean absolute position displacement should be ~n/3.  A broken
    per-epoch seed (same order every epoch) reads overlap_rate 1.0.

    Two parallel position assignments joined on the key, then a 1-row
    reduction.  Output: n, k, n_overlap, overlap_rate,
    expected_rate, mean_abs_disp."""
    a = with_positions(df, key, shuffled=True, seed=seeds[0]).select(
        F.col(key).alias("_k"), F.col("pos").alias("_pa")
    )
    b = with_positions(df, key, shuffled=True, seed=seeds[1]).select(
        F.col(key).alias("_k"), F.col("pos").alias("_pb")
    )
    j = a.join(b, "_k")
    tot = j.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    out = j.crossJoin(F.broadcast(tot))
    k = ((F.col("_n") - F.pmod(F.col("_n"), decile)) / decile).cast("long")
    from fuel_spark.functions import round6_ratio

    return out.agg(
        F.max("_n").alias("n"),
        F.max(k).alias("k"),
        F.sum(
            F.when((F.col("_pa") < k) & (F.col("_pb") < k), 1).otherwise(0)
        ).cast("long").alias("n_overlap"),
        round6_ratio(
            F.sum(
                F.when((F.col("_pa") < k) & (F.col("_pb") < k), 1)
                .otherwise(0).cast("decimal(27,6)")
            ),
            F.max(k),
        ).alias("overlap_rate"),
        round6_ratio(F.max(k).cast("decimal(27,6)"), F.max("_n"))
        .alias("expected_rate"),
        round6_ratio(
            F.sum(F.abs(F.col("_pa") - F.col("_pb"))
                  .cast("decimal(27,6)")),
            F.count(F.lit(1)),
        ).alias("mean_abs_disp"),
    )


def seed_overlap_sweep(
    df: DataFrame,
    key: str,
    seeds: tuple = (7, 8, 9),
    decile: int = 10,
) -> DataFrame:
    """The pairwise epoch-overlap table across a seed set — one
    :func:`epoch_overlap_certificate` row per seed pair, the
    is-my-seed-schedule-healthy sweep."""
    pairs = [
        (seeds[i], seeds[j])
        for i in range(len(seeds))
        for j in range(i + 1, len(seeds))
    ]
    parts = []
    for sa, sb in pairs:
        parts.append(
            epoch_overlap_certificate(df, key, (sa, sb), decile)
            .select(
                F.lit(f"{sa}-{sb}").alias("seed_pair"),
                "n", "k", "n_overlap", "overlap_rate", "expected_rate",
                "mean_abs_disp",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def batch_mix_histogram(
    df: DataFrame,
    key: str,
    group_col: str,
    batch_size: int,
    seed: int = 7,
) -> DataFrame:
    """Is every batch well mixed?  Under the seeded shuffle with
    ``batch_size``, the distinct-group count per batch, histogrammed:
    (n_distinct_groups -> n_batches).  A clumpy order (storage order,
    broken shuffle) piles batches at low distinct counts.  One
    positions pass + two bounded groupBys."""
    b = shuffled_batches(df, key, batch_size, seed=seed)
    per_batch = b.groupBy("batch_id").agg(
        F.count_distinct(F.col(group_col)).alias("n_groups")
    )
    return per_batch.groupBy(
        F.col("n_groups").cast("bigint").alias("n_distinct_groups")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_batches"))


def position_decorrelation(
    df: DataFrame,
    key: str,
    seed: int = 7,
) -> DataFrame:
    """Spearman rank correlation between the KEY order (ingest order
    proxy) and the shuffled order — the shuffle's whole job is
    driving this to ~0.  Exact integer Spearman: rho = 1 - 6*S /
    (n(n^2-1)) with S = sum of squared rank differences accumulated
    in DECIMAL(38,0) (exact beyond 2^53 at the 100 TB tier).
    Output: n, sum_d2, rho."""
    a = with_positions(df, key, shuffled=False).select(
        F.col(key).alias("_k"), F.col("pos").alias("_ra")
    )
    b = with_positions(df, key, shuffled=True, seed=seed).select(
        F.col(key).alias("_k"), F.col("pos").alias("_rb")
    )
    j = a.join(b, "_k")
    d2 = (F.col("_ra") - F.col("_rb")) * (F.col("_ra") - F.col("_rb"))
    red = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d2.cast("decimal(38,0)")).alias("_s"),
    )
    n = F.col("n").cast("double")
    return red.select(
        "n",
        F.col("_s").cast("long").alias("sum_d2"),
        F.round(
            1
            - (F.lit(6.0) * F.col("_s").cast("double"))
            / (n * (n * n - 1)),
            6,
        ).alias("rho"),
    )


def stride_coverage(
    df: DataFrame,
    key: str,
    group_col: str,
    stride: int,
    seed: int = 7,
) -> DataFrame:
    """Strided subsampling audit: taking every ``stride``-th position
    of the shuffled order, does each group keep its corpus share?
    (The cheap-epoch / debug-run sampler must not skew the mixture.)
    Output per group: n_total, n_sampled, share_sampled,
    corpus_share."""
    from fuel_spark.functions import round6_ratio

    p = with_positions(df, key, shuffled=True, seed=seed)
    agg = p.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.pmod(F.col("pos"), stride) == 0, 1).otherwise(0))
        .cast("long").alias("n_sampled"),
    )
    tot = agg.agg(
        F.sum("n_total").cast("long").alias("_nt"),
        F.sum("n_sampled").cast("long").alias("_ns"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        group_col, "n_total", "n_sampled",
        round6_ratio(
            F.col("n_sampled").cast("decimal(27,6)"), F.col("_ns")
        ).alias("share_sampled"),
        round6_ratio(
            F.col("n_total").cast("decimal(27,6)"), F.col("_nt")
        ).alias("corpus_share"),
    )


def epoch_batch_churn(
    df: DataFrame,
    key: str,
    batch_size: int,
    seeds: tuple = (7, 8),
) -> DataFrame:
    """Between two epoch reshuffles, how far does each example's
    BATCH move?  |batch_a - batch_b| bucketed (0 / 1-3 / 4-10 / >10)
    — co-batch persistence is what per-epoch reshuffles exist to
    break (gradient-correlation hygiene).  Output: churn_bucket,
    n_examples."""
    a = shuffled_batches(df, key, batch_size, seed=seeds[0]).select(
        F.col(key).alias("_k"), F.col("batch_id").alias("_ba")
    )
    b = shuffled_batches(df, key, batch_size, seed=seeds[1]).select(
        F.col(key).alias("_k"), F.col("batch_id").alias("_bb")
    )
    d = a.join(b, "_k").select(
        F.abs(F.col("_ba") - F.col("_bb")).alias("_d")
    )
    bucket = (
        F.when(F.col("_d") == 0, F.lit("0"))
        .when(F.col("_d") <= 3, F.lit("1-3"))
        .when(F.col("_d") <= 10, F.lit("4-10"))
        .otherwise(F.lit(">10"))
    )
    return d.groupBy(bucket.alias("churn_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_examples")
    )


def worker_token_balance(
    df: DataFrame,
    key: str,
    weight_col,
    n_workers: int,
    seed: int = 5,
) -> DataFrame:
    """Shard balance by PAYLOAD mass, not row count: hash-assign rows
    to ``n_workers`` and weigh each worker by ``weight_col`` (token /
    byte mass) — the row-balanced shard that is 3x heavier in tokens
    is the real straggler.  Skew is the exact-rational worker/mean
    ratio.  Output per worker: n_rows, weight, skew."""
    from fuel_spark.functions import round6_ratio

    shard = (
        F.conv(F.substring(det_key(seed, F.col(key)), 1, 6), 16, 10)
        .cast("bigint") % int(n_workers)
    ).cast("int")
    agg = df.select(shard.alias("worker_id"), weight_col.alias("_w")) \
        .groupBy("worker_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("_w").cast("long")).cast("long").alias("weight"),
        )
    tot = agg.agg(
        F.sum("weight").cast("long").alias("_tw"),
        F.count(F.lit(1)).cast("long").alias("_nw"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("worker_id").cast("bigint").alias("worker_id"),
        "n_rows", "weight",
        # worker/mean = weight * n_workers / total, exact-rational
        round6_ratio(
            (F.col("weight") * F.col("_nw")).cast("decimal(27,6)"),
            F.col("_tw"),
        ).alias("skew"),
    )


def interleave_prefix_proportionality(
    df: DataFrame,
    key: str,
    source_col: str,
    weights: dict,
    prefixes: tuple = (50, 100, 200),
    seed: int = 42,
) -> DataFrame:
    """Does the smooth interleave hold its proportions from the very
    first examples?  For each prefix length P of the global order,
    per-source actual count vs the exact proportional target
    (weight-share x P, round6) and the absolute deviation — smooth
    weighted round-robin should sit within 1 of target at EVERY
    prefix, where a sampled mixture only converges in expectation.
    Output: prefix, source, n_actual, target, abs_dev."""
    from fuel_spark.functions import round6_ratio

    order = interleave_sources(df, key, source_col, weights, seed=seed)
    total_w = sum(weights.values())
    parts = []
    for p in prefixes:
        pre = order.where(F.col("global_pos") < int(p))
        counts = pre.groupBy(source_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_actual")
        )
        wexpr = F.lit(None).cast("double")
        for sname, w in sorted(weights.items()):
            wexpr = F.when(
                F.col(source_col) == sname,
                F.lit(round(float(w) * int(p) / total_w, 6)),
            ).otherwise(wexpr)
        parts.append(
            counts.select(
                F.lit(int(p)).cast("bigint").alias("prefix"),
                F.col(source_col).alias("source"),
                "n_actual",
                wexpr.alias("target"),
                F.round(
                    F.abs(F.col("n_actual").cast("double") - wexpr), 6
                ).alias("abs_dev"),
            )
        )
    out = parts[0]
    for p2 in parts[1:]:
        out = out.unionByName(p2)
    return out


def curriculum_stability_certificate(
    df: DataFrame,
    key: str,
    difficulty_col: str,
    seeds: tuple = (7, 8),
    decile: int = 10,
) -> DataFrame:
    """The contrast that certifies the curriculum actually ORDERS:
    the first decile of a curriculum order is pinned by the
    difficulty ramp, so across tie-break seeds its id overlap reads
    ~1.0 — where the pure shuffle's reads ~1/decile.  One row per
    regime (curriculum / shuffled) with the same overlap columns as
    :func:`epoch_overlap_certificate`."""
    from fuel_spark.functions import round6_ratio
    from fuel_spark.ops.core import with_positions as _core_positions

    def cur_pos(seed, alias):
        d = df.withColumn("_ord", det_key(seed, F.col(key)))
        return _core_positions(
            d, [difficulty_col, "_ord", key], pos_col="pos", base=0
        ).select(F.col(key).alias("_k"), F.col("pos").alias(alias))

    def shuf_pos(seed, alias):
        return with_positions(df, key, shuffled=True, seed=seed).select(
            F.col(key).alias("_k"), F.col("pos").alias(alias)
        )

    parts = []
    for regime, mk in (("curriculum", cur_pos), ("shuffled", shuf_pos)):
        j = mk(seeds[0], "_pa").join(mk(seeds[1], "_pb"), "_k")
        tot = j.agg(F.count(F.lit(1)).cast("long").alias("_n"))
        out = j.crossJoin(F.broadcast(tot))
        k = ((F.col("_n") - F.pmod(F.col("_n"), decile)) / decile) \
            .cast("long")
        parts.append(
            out.agg(
                F.lit(regime).alias("regime"),
                F.max("_n").alias("n"),
                F.max(k).alias("k"),
                F.sum(
                    F.when((F.col("_pa") < k) & (F.col("_pb") < k), 1)
                    .otherwise(0)
                ).cast("long").alias("n_overlap"),
                round6_ratio(
                    F.sum(
                        F.when((F.col("_pa") < k) & (F.col("_pb") < k), 1)
                        .otherwise(0).cast("decimal(27,6)")
                    ),
                    F.max(k),
                ).alias("overlap_rate"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def resume_tail_mix(
    df: DataFrame,
    key: str,
    group_col: str,
    seed: int = 7,
) -> DataFrame:
    """Mid-epoch resume audit: restarting at the epoch midpoint
    (pos >= n//2), does the REMAINING half keep the corpus mixture?
    (A shuffled order must — a clumpy one front-loads a source and
    starves the tail.)  Output per group: n_total, n_remaining,
    share_remaining, corpus_share."""
    from fuel_spark.functions import round6_ratio

    p = with_positions(df, key, shuffled=True, seed=seed)
    tot = p.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    p = p.crossJoin(F.broadcast(tot))
    half = ((F.col("_n") - F.pmod(F.col("_n"), 2)) / 2).cast("long")
    agg = p.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("pos") >= half, 1).otherwise(0))
        .cast("long").alias("n_remaining"),
    )
    tails = agg.agg(
        F.sum("n_total").cast("long").alias("_nt"),
        F.sum("n_remaining").cast("long").alias("_nr"),
    )
    return agg.crossJoin(F.broadcast(tails)).select(
        group_col, "n_total", "n_remaining",
        round6_ratio(
            F.col("n_remaining").cast("decimal(27,6)"), F.col("_nr")
        ).alias("share_remaining"),
        round6_ratio(
            F.col("n_total").cast("decimal(27,6)"), F.col("_nt")
        ).alias("corpus_share"),
    )
