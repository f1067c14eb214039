"""Portable column-level primitives used across fuel_spark operators.

Every helper comes in a *pair*: a Spark ``Column`` builder and a
DuckDB-SQL fragment builder with identical semantics.  The pairs are
what make the correctness gate work — deterministic "randomness" is
md5 over explicit keys (bit-identical text in both engines), text
normalization uses the same regex in both, and float-bearing outputs
either do per-row arithmetic (identical fp ops) or exact decimal
aggregation cast to double at the end.

This module is the whole-stage-codegen path: no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def ensure_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Spread ``df`` over ``defaultParallelism`` partitions, in the plan.

    Heavy narrow ops (shingling, minhash, cosines, set intersections)
    are CPU-bound, and a small input arrives in one or two row-bearing
    partitions and would single-thread the stage.  The rule is one
    exchange to full width: round-robin without ``keys``, hashed on
    ``keys`` otherwise (so it also satisfies a following join or
    aggregation on them).  The count is explicit because an
    explicit-count exchange is exempt from AQE's size-based
    coalescing, so the width holds even when the rows are bytes-tiny.

    The decision reads the plan and never runs a Spark job (counting
    partitions runs the shuffles below a post-shuffle frame as a hidden
    job, and a scan's split count says nothing about how many splits
    hold rows).  Two frames are returned unchanged:

    - a streaming ``df``: micro-batch width is the source's concern;
    - without ``keys``, a plain file scan (no exchange, so Spark plans
      it without an AdaptiveSparkPlan root) over at least
      ``defaultParallelism`` files: every core already has a file, and
      the exchange would cost a per-partition sort
      (``sortBeforeRepartition``) plus a round-robin shuffle of the
      projected rows.
    """
    if df.isStreaming:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if (
        not keys
        and len(df.inputFiles()) >= n
        and df._jdf.queryExecution().executedPlan().nodeName() != "AdaptiveSparkPlan"
    ):
        return df
    return df.repartition(n, *keys)


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` once, for every later consumer: the one place
    fuel_spark calls ``localCheckpoint``.

    A DataFrame is a plan, and Spark replays an uncached subtree once
    per reference (there is no ReusedExchange across separately built
    consumers).  The rule is: materialize a frame that has two or more
    consumers, or one that a loop carries into the next round (which
    also keeps the loop's plan from growing with the round count).

    The storage is executor-local with no lineage fallback: losing an
    executor loses the blocks and fails the job that reads them.

    The checkpoint is lazy in name only.  Under AQE the call runs the
    exchanges beneath it at once, while the caller's plan is still
    being built: 1 job over a hash exchange, 2 over a range exchange
    (boundary sample + map stage), 0 over a narrow plan, whose rows
    are stored by the first action that reads them.
    """
    return df.localCheckpoint(eager=False)


def with_materialized(df: DataFrame, name: str, col: Column) -> DataFrame:
    """Materialize an expensive expression as a real per-row column
    behind a Generate barrier: ``explode(array(col))`` yields exactly
    one row and CollapseProject cannot inline generator output into
    later projections, so ``col`` evaluates once per row even when the
    result is referenced from several expressions or inside
    higher-order-function lambdas (which would otherwise re-evaluate
    it per element — the O(len^2) trap).  No shuffle; the Generate
    node stays inside whole-stage codegen.
    """
    return df.select("*", F.explode(F.array(col)).alias(name))


def salted_sum(
    df: DataFrame,
    key_cols: list[str],
    agg_cols: dict[str, str],
    salt_buckets: int = 64,
) -> DataFrame:
    """Two-phase skew-proof aggregation: partial sums per
    (key, salt), then final sums per key.

    A heavy-hitter key at 100 TB lands its entire group on one reducer
    in a plain groupBy; salting splits it across ``salt_buckets``
    reducers, and because partial aggregation is exact
    (DECIMAL/BIGINT sums), the result is bit-identical to the direct
    plan.  AQE skew handling covers joins; this covers aggregation.

    ``agg_cols`` maps input column → output alias; sums run in
    DECIMAL(27,6) and come back as double.
    """
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(*[
            F.sum(F.col(c).cast("decimal(27,6)")).alias(f"_p_{a}")
            for c, a in agg_cols.items()
        ], F.count(F.lit(1)).alias("_p_cnt"))
    )
    return (
        partial.groupBy(*key_cols)
        .agg(*[
            F.sum(f"_p_{a}").cast("double").alias(a) for a in agg_cols.values()
        ], F.sum("_p_cnt").alias("n_rows"))
    )


# --------------------------------------------------------------------------
# Deterministic permutation / hashing (fuel's rng → portable md5 keys)
# --------------------------------------------------------------------------


def det_key(seed: int | str, col: Column) -> Column:
    """Deterministic pseudo-random sort key: md5('<seed>-' || key).

    Replaces fuel's numpy RandomState permutation
    (reference ``fuel/schemes.py:195`` ShuffledScheme): ordering rows by
    this key is a seeded shuffle that is reproducible across engines,
    partitionings, and cluster sizes.
    """
    return F.md5(F.concat_ws("-", F.lit(str(seed)), col.cast("string")))


def det_key_sql(seed: int | str, col_sql: str) -> str:
    return f"md5(concat('{seed}', '-', CAST({col_sql} AS VARCHAR)))"


def hash_uniform(seed: int | str, col: Column) -> Column:
    """Deterministic uniform draw in (0, 1]: the top 52 bits of
    md5(seed-key) scaled by 2^-52.  The portable replacement for
    ``rand(seed)`` (whose sequence is partitioning-dependent): the
    draw depends only on (seed, key), so it is reproducible across
    engines, partitionings, and cluster sizes — the property every
    deterministic sampler below leans on."""
    return (
        F.conv(F.substring(det_key(seed, col), 1, 13), 16, 10).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 52))


def hash_uniform_sql(seed: int | str, col_sql: str) -> str:
    return (
        f"((CAST('0x' || substring({det_key_sql(seed, col_sql)}, 1, 13)"
        f" AS BIGINT) + 1) / 4503599627370496.0)"
    )


def hash_mod(seed: int | str, col: Column, m: int) -> Column:
    """Deterministic bucket in [0, m): md5 top-52-bits mod m.  The
    portable hash family behind the Bloom / Count-Min sketches and
    the stratified quantile sampler — different ``seed`` values give
    (empirically) independent hash functions, and the md5 text is
    bit-identical on Spark and DuckDB."""
    return F.pmod(
        F.conv(F.substring(det_key(seed, col), 1, 13), 16, 10).cast("long"),
        F.lit(int(m)),
    )


def hash_mod_sql(seed: int | str, col_sql: str, m: int) -> str:
    return (
        f"(CAST('0x' || substring({det_key_sql(seed, col_sql)}, 1, 13)"
        f" AS BIGINT) % {int(m)})"
    )


def round6_ratio(sum_dec6: Column, n: Column) -> Column:
    """Exactly-rounded 6-dp mean of a DECIMAL(27,6) sum over an
    integer count, computed in INTEGER arithmetic on both engines.

    ``round(double_division, 6)`` is NOT portable at a half-way
    boundary: when the true rational S/n ends exactly in ...5 at the
    7th decimal, the double quotient lands a hair to either side and
    Spark's exact-BigDecimal half-up and DuckDB's scaled-multiply
    round can disagree by 1 ulp of the 6th decimal (observed:
    -26.607591/18 = -1.4781995 exactly → -1.478199 vs -1.4782).
    This helper rounds the RATIONAL, not the double: with the sum as
    an exact micro-unit integer a = S·10⁶, half-away-from-zero is
    sign(a) · (2|a| + n) ÷ (2n) in integers.  The fp division at the
    end is exact (numerator is the quotient times 2n by
    construction), so both engines see the identical result at every
    boundary.  |a| must stay under ~2^52 — per-document and
    per-group-mean sums are orders of magnitude below that.
    """
    a = (sum_dec6 * F.lit(1000000)).cast("long")
    n2 = (n.cast("long") * F.lit(2))
    num = F.lit(2) * F.abs(a) + n.cast("long")
    q = (num - (num % n2)) / n2  # exact: num - mod is a multiple of n2
    return (
        F.when(a < 0, -q).otherwise(q) / F.lit(1000000.0)
    ).cast("double")


def round6_ratio_sql(sum_dec6_sql: str, n_sql: str) -> str:
    """DuckDB twin of :func:`round6_ratio` (// is floor on positives)."""
    return (
        f"(CASE WHEN CAST(({sum_dec6_sql}) * 1000000 AS BIGINT) < 0"
        f" THEN -1 ELSE 1 END"
        f" * ((2 * abs(CAST(({sum_dec6_sql}) * 1000000 AS BIGINT))"
        f" + CAST(({n_sql}) AS BIGINT))"
        f" // (2 * CAST(({n_sql}) AS BIGINT)))"
        f" / 1000000.0)"
    )


# --------------------------------------------------------------------------
# Text normalization / tokenization (shared by text, dedup ops)
# --------------------------------------------------------------------------

_NORM_RE = "[^a-z0-9]+"


def norm_text(col: Column) -> Column:
    """Lowercase, collapse non-alphanumeric runs to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(col), _NORM_RE, " "))


def norm_text_sql(col_sql: str) -> str:
    return f"trim(regexp_replace(lower({col_sql}), '{_NORM_RE}', ' ', 'g'))"


def words(col: Column) -> Column:
    """Normalized word array (split on single space after collapsing)."""
    return F.split(norm_text(col), " ")


def words_sql(col_sql: str) -> str:
    return f"string_split({norm_text_sql(col_sql)}, ' ')"


def shingles_over_norm(norm_col_name: str, k: int = 5) -> Column:
    """Distinct character k-shingles over an ALREADY-normalized column.

    The caller must materialize ``norm_text`` into a real column first:
    referencing the normalization expression inside the lambda would
    re-run the regex once per shingle (O(len²) per doc — measured 30×
    slowdown on the dedup path).

    ``substring`` is 1-indexed in both engines; texts shorter than k
    produce the single truncated prefix shingle.
    """
    n = norm_col_name
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({n}) - {k - 1}, 1)),"
        f" i -> substring({n}, i, {k})))"
    )


def char_shingles_expr(text_col_name: str, k: int = 5) -> Column:
    """Shingles straight from a raw text column (convenience; prefer
    projecting norm_text first + shingles_over_norm in hot paths)."""
    norm = (
        f"trim(regexp_replace(lower({text_col_name}), '{_NORM_RE}', ' '))"
    )
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({norm}) - {k - 1}, 1)),"
        f" i -> substring({norm}, i, {k})))"
    )


def char_shingles_sql(text_col_sql: str, k: int = 5) -> str:
    norm = norm_text_sql(text_col_sql)
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(length({norm}) - {k - 1}, 1)),"
        f" i -> substring({norm}, i, {k})))"
    )


# --------------------------------------------------------------------------
# MinHash (dedup) — md5-based so both engines agree bit-for-bit
# --------------------------------------------------------------------------
#
# One md5 per shingle, then K universal integer rehashes of that single
# base hash (Kirsch–Mitzenmacher "less hashing" construction): the K
# permutations cost integer multiply-adds instead of K md5 passes over
# every shingle — ~K× less hash work per document, and the mins compare
# as bigints instead of 32-char strings.  Arithmetic stays within
# signed-64 range (base < 2^31 after the mod, multiplier < 2^31) so
# Spark and DuckDB agree bit-for-bit.

MINHASH_P = 2147483647  # Mersenne prime 2^31 - 1


def _minhash_consts(hash_idx: int) -> tuple[int, int]:
    # Independent-looking (a, b) per permutation, derived from md5 so
    # they are deterministic yet carry no linear relation across
    # hash_idx (linearly-related multipliers correlate the permutations
    # and inflate LSH false-positive buckets ~4x, measured).
    import hashlib

    a = int(hashlib.md5(f"mh-a-{hash_idx}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
    b = int(hashlib.md5(f"mh-b-{hash_idx}".encode()).hexdigest()[:8], 16) % MINHASH_P
    return a, b


def shingle_hashes_expr(shingles_col_name: str) -> Column:
    """Base hash per shingle: first 8 md5 hex digits as a bigint."""
    return F.expr(
        f"transform({shingles_col_name},"
        f" s -> CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))"
    )


def shingle_hashes_sql(shingles_col_sql: str) -> str:
    return (
        f"list_transform({shingles_col_sql},"
        f" s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT))"
    )


def minhash_expr(hashes_col_name: str, hash_idx: int) -> Column:
    """One minhash: min over universal rehashes of the base-hash array."""
    a, b = _minhash_consts(hash_idx)
    return F.expr(
        f"array_min(transform({hashes_col_name},"
        f" h -> ((h % {MINHASH_P}) * {a} + {b}) % {MINHASH_P}))"
    )


def minhash_sql(hashes_col_sql: str, hash_idx: int) -> str:
    a, b = _minhash_consts(hash_idx)
    return (
        f"list_min(list_transform({hashes_col_sql},"
        f" h -> ((h % {MINHASH_P}) * {a} + {b}) % {MINHASH_P}))"
    )


# --------------------------------------------------------------------------
# Vector math over array<float|double> (similarity ops)
# --------------------------------------------------------------------------


def dot_expr(a: str, b: str) -> Column:
    """Dot product with strict left-to-right double accumulation."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm2_expr(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )


def cosine_expr(a: str, b: str) -> Column:
    return dot_expr(a, b) / (norm2_expr(a) * norm2_expr(b))


def dot_sql(a: str, b: str) -> str:
    """DuckDB twin: same left-to-right accumulation via list_reduce over
    the element-wise product list."""
    prod = (
        f"list_transform(generate_series(1, len({a})),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    )
    return f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {prod}), (acc, v) -> acc + v)"


def norm2_sql(a: str) -> str:
    sq = f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    return f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {sq}), (acc, v) -> acc + v))"


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm2_sql(a)} * {norm2_sql(b)}))"


def l2sq_expr(a: str, b: str) -> Column:
    """Squared L2 distance with strict left-to-right double
    accumulation (the monotone stand-in for L2 — no sqrt, so codeword
    argmins rank identically and the DuckDB twin stays exact)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        f" * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def l2sq_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`l2sq_expr`: same element order, same
    left-to-right fold."""
    sq = (
        f"list_transform(generate_series(1, len({a})),"
        f" i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))"
    )
    return f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {sq}), (acc, v) -> acc + v)"


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 16,
    salt_key: str | None = None,
) -> DataFrame:
    """Skew-proof equi-join: replicate the RIGHT side ``salt_buckets``×
    and scatter the LEFT side's rows across the salted keys, so a
    heavy-hitter join key spreads over ``salt_buckets`` reducers
    instead of landing on one.

    The companion to :func:`salted_sum` for joins: AQE's skew handling
    splits oversized sort-merge partitions at runtime, but a hash join
    against a mid-sized right side (too big to broadcast, small enough
    to replicate) with an extreme hot key still bottlenecks — explicit
    salting is the production answer there.  Left rows salt by a hash
    of their whole row id (round-robin-like but deterministic); right
    rows replicate to every salt (pass ``salt_key`` to salt from a
    stable row key instead — deterministic across partitionings).
    Output = the plain inner join's rows exactly (the salt column
    never leaks).
    """
    if salt_key is not None:
        # deterministic tier: salt from a stable row key — the output
        # is identical either way (salt never leaks), but this one is
        # reproducible across partitionings, which the oracle-checked
        # certificate query needs
        salt = hash_mod(f"sj{salt_buckets}", F.col(salt_key), salt_buckets)
    else:
        salt = F.pmod(
            F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets)
        ).cast("int")
    l = left.withColumn("_salt", salt)
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return l.join(r, [key, "_salt"]).drop("_salt")


def plan_report(df: DataFrame) -> dict:
    """Physical-plan introspection: counts of the stages that matter
    at 100 TB — shuffles (hash / range / single-partition exchanges),
    scans, broadcast joins/exchanges, and whole-stage-codegen spans.

    The programmatic twin of ``.explain()`` for assertions and
    dashboards: the plan-shape tests in tests/test_plans.py check
    exactly these properties; pipelines can gate deploys on them
    ("this query must stay at ≤2 shuffles and 0 cartesian products").
    """
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen spans print as `*(N)` node prefixes; distinct N = spans.
    # Under AQE they appear once the final plan exists (i.e. after the
    # query ran) — call plan_report after an action for that field.
    codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
    return {
        "hash_exchanges": plan.count("Exchange hashpartitioning"),
        "range_exchanges": plan.count("Exchange rangepartitioning"),
        "single_partition_exchanges": plan.count("Exchange SinglePartition"),
        "scans": plan.count("Scan parquet") + plan.count("Scan ExistingRDD"),
        "broadcast_exchanges": plan.count("BroadcastExchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "cartesian_products": plan.count("CartesianProduct"),
        "codegen_spans": codegen,
    }
