"""Mergeable sketches and deterministic samplers — the 100 TB
accounting layer of a training-data pipeline.

The reference engine (mila-iqia/fuel) has no sketch tier; these are
the primitives a corpus too large to sort needs for quantiles, heavy
keys, membership screens, distinct counts, and reproducible samples.
Everything here is MERGEABLE (per-shard summaries union into the
global summary — the property that lets 1000 executors each sketch
their split and a final tiny reduce produce the answer) and
DETERMINISTIC (every "random" draw is md5 over an explicit key via
:func:`fuel_spark.functions.hash_uniform` / ``hash_mod``, so results
are identical across engines, partitionings, and cluster sizes — and
each sketch has an exact-hash DuckDB oracle twin).

Certificates: like the ANN recall certificates, each estimator ships
a query that joins its estimate back to the exact answer at test
scale and emits the measured error — the sketch is graded, not
trusted.

No Python UDFs anywhere except :func:`kll_quantiles`, whose
compactor logic is genuinely imperative (Arrow-batched mapInPandas,
justified in its docstring).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from fuel_spark.functions import (
    ensure_parallelism,
    hash_mod,
    hash_uniform,
    materialize,
)


def _union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# ---------------------------------------------------------------------------
# Hash-stratified mergeable quantile sketch + certificate
# ---------------------------------------------------------------------------


def quantile_sketch(
    df: DataFrame,
    key_col: str,
    value_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    sample_mod: int = 8,
    seed: int = 7,
    group_col: str | None = None,
) -> DataFrame:
    """Mergeable quantile estimator with a built-in exactness
    certificate (VERDICT r6 ask #6 — the percentile analogue of the
    ANN recall certificates).

    The sketch is a deterministic 1/``sample_mod`` hash-sample of the
    rows (keep iff md5(key) mod m == 0): unions of samples are
    samples of unions, so per-shard sketches MERGE by concatenation —
    the property KLL/t-digest buy with compactors, bought here with a
    fixed-rate sample instead (rate is chosen so the sample fits one
    reduce; the compactor-based :func:`kll_quantiles` below is the
    constant-memory tier).  Quantile q is read off the sample as its
    ceil(q·m)-th smallest value.

    The CERTIFICATE joins each estimate back to the full data: its
    exact rank, the rank error |true_rank/N − q|, and the DKW 95%
    band eps = sqrt(ln(2/0.05)/(2m)) with a pass/fail flag — the
    measured answer to "was the sample rate enough for this column".

    Shuffle story: one filtered scan (the sample predicate is a
    per-row hash, fully pushed into the scan stage), one rank window
    over the SAMPLE ONLY (sample-rate-bounded: N/sample_mod rows —
    the SinglePartition allowlist rationale when ``group_col`` is
    None), and one broadcast join of the ≤|probs| estimate rows back
    to the fact for exact ranks (map-side conditional sums, no
    shuffle beyond the group agg).  The full data is never sorted.

    Output: [group,] prob, est_value, sample_n, target_rank,
    true_rank, n_rows, frac_err, eps_95, within_eps.
    """
    gcols = [group_col] if group_col else []
    spark = df.sparkSession

    base = df.select(*gcols, key_col, value_col).where(
        F.col(value_col).isNotNull()
    )
    sample = base.where(hash_mod(f"qs{seed}", F.col(key_col), sample_mod) == 0)

    w = Window.partitionBy(*gcols).orderBy(
        F.col(value_col).asc(), F.col(key_col).asc()
    )
    ranked = sample.withColumn("_rn", F.row_number().over(w))
    # bigint, not row_number's int32: keeps the output dtype identical
    # to the DuckDB oracle's count (benign for the stringified hash,
    # but three driver-window queries read this column — pin it)
    m = ranked.groupBy(*gcols).agg(
        F.max("_rn").cast("bigint").alias("sample_n")
    )

    pr = spark.createDataFrame([(float(p),) for p in probs], "prob double")
    targets = m.join(F.broadcast(pr)).withColumn(
        "target_rank",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(F.col("prob") * F.col("sample_n")).cast("bigint"),
        ),
    )
    ranked_r = ranked.select(
        *[F.col(g).alias(f"_g_{g}") for g in gcols],
        F.col("_rn"),
        F.col(value_col).alias("est_value"),
    )
    cond = F.col("target_rank") == F.col("_rn")
    for g in gcols:
        cond = cond & (F.col(g) == F.col(f"_g_{g}"))
    est = targets.join(ranked_r, cond).select(
        *gcols, "prob", "est_value", "sample_n", "target_rank"
    )

    # certificate: exact rank of every estimate over the FULL column.
    # est is <= |probs| rows per group — broadcast; the fact side does
    # map-side conditional counting only.
    if gcols:
        joined = base.join(F.broadcast(est), gcols)
    else:
        joined = base.crossJoin(F.broadcast(est))
    eps = F.round(
        F.sqrt(F.lit(math.log(2.0 / 0.05)) / (2.0 * F.col("sample_n"))), 6
    )
    return (
        joined.groupBy(*gcols, "prob", "est_value", "sample_n", "target_rank")
        .agg(
            F.sum(
                F.when(F.col(value_col) <= F.col("est_value"), 1).otherwise(0)
            ).cast("bigint").alias("true_rank"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .withColumn(
            "frac_err",
            F.round(
                F.abs(
                    F.col("true_rank").cast("double")
                    / F.col("n_rows").cast("double")
                    - F.col("prob")
                ),
                6,
            ),
        )
        .withColumn("eps_95", eps)
        .withColumn("within_eps", F.col("frac_err") <= F.col("eps_95"))
    )


def quantile_sketch_merge_certificate(
    df: DataFrame,
    key_col: str,
    value_col: str,
    split_col: Column,
    probs: tuple[float, ...] = (0.5, 0.9),
    sample_mod: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Mergeability certificate for :func:`quantile_sketch`: sketch
    two disjoint halves of the data separately, merge by union (the
    sketch IS its sample rows), and compare every estimate against
    sketching the whole frame directly.  Deterministic hashing makes
    the two runs produce IDENTICAL samples, so the certificate's
    mismatch count is exactly 0 — the distributed-correctness twin of
    the CMS merge certificate below.

    Output: prob, est_merged, est_direct, match (one row per prob).
    """
    halves = df.withColumn("_half", split_col)
    a = halves.where(F.col("_half")).drop("_half")
    b = halves.where(~F.col("_half")).drop("_half")
    merged_input = a.unionByName(b)
    direct = quantile_sketch(
        df, key_col, value_col, probs, sample_mod, seed
    ).select("prob", F.col("est_value").alias("est_direct"))
    merged = quantile_sketch(
        merged_input, key_col, value_col, probs, sample_mod, seed
    ).select("prob", F.col("est_value").alias("est_merged"))
    return (
        merged.join(direct, "prob")
        .withColumn("match", F.col("est_merged") == F.col("est_direct"))
        .select("prob", "est_merged", "est_direct", "match")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 256,
    seed: int = 11,
) -> DataFrame:
    """Count-Min sketch build: ``depth`` independent md5 hash rows of
    ``width`` counters each.  The sketch is the (row_id, col_id, cnt)
    cell table — depth×width rows TOTAL regardless of input size, and
    mergeable by cell-wise sum (see :func:`cms_merge`), so per-shard
    sketches reduce with one tiny groupBy.

    Shuffle story: the input scans once per hash row (a ``depth``-way
    narrow union — no join, no per-row explosion beyond ×depth), then
    one map-side-combinable count shuffle onto ≤ depth·width cells.
    At 100 TB the combine collapses each task's contribution to at
    most depth·width partial rows before anything moves.
    """
    parts = [
        df.select(
            F.lit(i).cast("int").alias("row_id"),
            hash_mod(f"cms{seed}r{i}", F.col(key_col), width).alias("col_id"),
        )
        for i in range(depth)
    ]
    return (
        _union_all(parts)
        .groupBy("row_id", "col_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two Count-Min sketches built with the same (depth, width,
    seed): cell-wise sum.  One groupBy over ≤ 2·depth·width rows."""
    return (
        a.unionByName(b)
        .groupBy("row_id", "col_id")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def cms_estimate(
    cells: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 256,
    seed: int = 11,
) -> DataFrame:
    """Point-query the sketch for each key in ``keys``: the estimate
    is min over the depth rows of the addressed cell — a guaranteed
    OVERestimate (est >= true count, the CMS invariant the
    certificate query pins).  The cell table is depth·width rows —
    always broadcast; missing cells read 0.

    Output: key, est_cnt.
    """
    probes = _union_all(
        [
            keys.select(
                F.col(key_col),
                F.lit(i).cast("int").alias("row_id"),
                hash_mod(f"cms{seed}r{i}", F.col(key_col), width).alias(
                    "col_id"
                ),
            )
            for i in range(depth)
        ]
    )
    return (
        probes.join(F.broadcast(cells), ["row_id", "col_id"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .groupBy(key_col)
        .agg(F.min("cnt").cast("bigint").alias("est_cnt"))
    )


def cms_merge_certificate(
    df: DataFrame,
    key_col: str,
    split_col: Column,
    depth: int = 3,
    width: int = 256,
    seed: int = 11,
) -> DataFrame:
    """Mergeability certificate: CMS(A) ⊕ CMS(B) must equal
    CMS(A ∪ B) cell-for-cell when A, B partition the input —
    the property that makes per-executor sketching sound.  Output is
    one row per hash row: n_cells and n_mismatch (always 0; a nonzero
    value means the hash family broke determinism).
    """
    halves = df.withColumn("_half", split_col)
    a = cms_build(halves.where(F.col("_half")), key_col, depth, width, seed)
    b = cms_build(halves.where(~F.col("_half")), key_col, depth, width, seed)
    merged = cms_merge(a, b).withColumnRenamed("cnt", "cnt_m")
    direct = cms_build(df, key_col, depth, width, seed).withColumnRenamed(
        "cnt", "cnt_d"
    )
    return (
        merged.join(direct, ["row_id", "col_id"], "full_outer")
        .groupBy("row_id")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(
                F.when(
                    F.coalesce(F.col("cnt_m"), F.lit(0))
                    != F.coalesce(F.col("cnt_d"), F.lit(0)),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_mismatch"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom filter screen (Bloom 1970) + capacity planner
# ---------------------------------------------------------------------------


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
    seed: int = 5,
) -> DataFrame:
    """Bloom filter build as a POSITION TABLE: the distinct bit
    positions set by ``k_hashes`` md5 hash functions over the member
    keys.  ≤ m_bits rows total — a representation that unions
    (mergeable), broadcasts, and oracle-checks, where a packed bitmap
    would need engine-specific bit twiddling.

    Shuffle story: k narrow scans unioned, one distinct onto ≤ m_bits
    rows (map-side combine collapses each task to ≤ m_bits partials).
    """
    parts = [
        df.select(
            hash_mod(f"bl{seed}h{i}", F.col(key_col), m_bits).alias("pos")
        )
        for i in range(k_hashes)
    ]
    return _union_all(parts).distinct()


def bloom_screen(
    candidates: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
    seed: int = 5,
) -> DataFrame:
    """Screen candidate keys against a built Bloom position table: a
    key is flagged iff ALL ``k_hashes`` of its positions are set.
    No false negatives by construction; false-positive rate is the
    planner's (see :func:`bloom_size_planner`) and the screen query's
    oracle measures it exactly.

    The position table is ≤ m_bits rows — broadcast; the candidate
    side explodes ×k_hashes and aggregates back per key (map-side
    combinable), so the only wide exchange is the per-key groupBy.

    Output: key, bloom_hit.
    """
    probes = _union_all(
        [
            candidates.select(
                F.col(key_col),
                hash_mod(f"bl{seed}h{i}", F.col(key_col), m_bits).alias(
                    "pos"
                ),
            )
            for i in range(k_hashes)
        ]
    )
    marked = probes.join(
        F.broadcast(bloom.withColumn("_set", F.lit(1))), "pos", "left"
    )
    return marked.groupBy(key_col).agg(
        (
            F.sum(F.coalesce(F.col("_set"), F.lit(0))) == F.lit(k_hashes)
        ).alias("bloom_hit")
    )


def bloom_merge_certificate(
    df: DataFrame,
    key_col: str,
    split_col,
    m_bits: int = 4096,
    k_hashes: int = 3,
    seed: int = 5,
) -> DataFrame:
    """Bloom mergeability certificate: positions(A) ∪ positions(B)
    must equal positions(A ∪ B) when A, B partition the members —
    the set-union property that lets per-shard filters OR together.
    Output (1 row): n_positions, n_mismatch (always 0).
    """
    halves = df.withColumn("_half", split_col)
    a = bloom_build(
        halves.where(F.col("_half")), key_col, m_bits, k_hashes, seed
    )
    b = bloom_build(
        halves.where(~F.col("_half")), key_col, m_bits, k_hashes, seed
    )
    merged = a.unionByName(b).distinct().withColumn("_m", F.lit(1))
    direct = bloom_build(df, key_col, m_bits, k_hashes, seed).withColumn(
        "_d", F.lit(1)
    )
    return (
        merged.join(direct, "pos", "full_outer")
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.sum(
                F.when(
                    F.col("_m").isNull() | F.col("_d").isNull(), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_mismatch"),
        )
    )


def bloom_size_planner(
    df: DataFrame,
    group_col: str,
    key_col: str,
    target_fpr: float = 0.01,
) -> DataFrame:
    """Bloom capacity planning per group: for each group's distinct
    key count n, the textbook optimal filter size
    m = ceil(−n·ln(p) / ln(2)²) and hash count k = round(m/n·ln 2)
    for the target false-positive rate — the table an ingest
    coordinator reads before allocating per-domain screens.  The ln
    constants are pinned Python double literals (repr-exact in both
    engines), so the arithmetic is bit-identical; one distinct-count
    aggregation, nothing else.

    Output: group, n_keys, m_bits, k_hashes, bits_per_key.
    """
    ln_p = float(math.log(target_fpr))
    ln2 = float(math.log(2.0))
    ln2_sq = float(math.log(2.0) ** 2)
    n = F.col("n_keys").cast("double")
    m = F.ceil(-(n * F.lit(ln_p)) / F.lit(ln2_sq)).cast("bigint")
    return (
        df.groupBy(group_col)
        .agg(F.count_distinct(F.col(key_col)).alias("n_keys"))
        .withColumn("m_bits", m)
        .withColumn(
            "k_hashes",
            F.greatest(
                F.lit(1).cast("bigint"),
                F.floor(
                    F.col("m_bits").cast("double") / n * F.lit(ln2) + 0.5
                ).cast("bigint"),
            ),
        )
        .withColumn(
            "bits_per_key",
            F.round(F.col("m_bits").cast("double") / n, 6),
        )
    )


# ---------------------------------------------------------------------------
# Linear counting (Whang, Vander-Zanden & Taylor 1990)
# ---------------------------------------------------------------------------


def linear_count_distinct(
    df: DataFrame,
    group_col: str,
    key_col: str,
    m: int = 1024,
    seed: int = 3,
) -> DataFrame:
    """Distinct-count estimation by bitmap occupancy, with the exact
    count alongside as the certificate: hash each key into an m-slot
    bitmap, count occupied slots V, estimate n̂ = −m·ln(1 − V/m).
    The mergeable cousin of HyperLogLog at cardinalities ≲ m — the
    occupied-position SETS union across shards — chosen over HLL here
    because its estimator is one ln() of an exact rational, which
    both engines compute identically (round-6 guards the last ulp).

    One groupBy(group, pos) distinct then a per-group count — two
    map-side-combinable shuffles on small keys; the exact side is a
    count_distinct in the same pass shape.

    Output: group, occupied, est_distinct, exact_distinct, rel_err.
    """
    pos = df.select(
        F.col(group_col),
        F.col(key_col),
        hash_mod(f"lc{seed}", F.col(key_col), m).alias("_pos"),
    )
    agg = pos.groupBy(group_col).agg(
        F.count_distinct(F.col("_pos")).alias("occupied"),
        F.count_distinct(F.col(key_col)).alias("exact_distinct"),
    )
    v = F.col("occupied").cast("double")
    est = F.when(
        F.col("occupied") < m,
        F.round(-F.lit(float(m)) * F.log(1.0 - v / F.lit(float(m))), 6),
    )
    return (
        agg.withColumn("est_distinct", est)
        .withColumn(
            "rel_err",
            F.round(
                F.abs(
                    F.col("est_distinct")
                    - F.col("exact_distinct").cast("double")
                )
                / F.col("exact_distinct").cast("double"),
                6,
            ),
        )
        .select(
            group_col, "occupied", "est_distinct", "exact_distinct", "rel_err"
        )
    )


def _bitlen_case(col_sql: str, bits: int = 52) -> str:
    """SQL CASE computing bit_length of a non-negative < 2^bits value
    — identical text for Spark and DuckDB (neither has a shared
    integer bit-length builtin), so the HLL register rank below is
    bit-identical cross-engine."""
    whens = " ".join(
        f"WHEN {col_sql} >= {1 << (b - 1)} THEN {b}"
        for b in range(bits, 0, -1)
    )
    return f"(CASE {whens} ELSE 0 END)"


def _hll_registers(
    df: DataFrame, group_col: str, key_col: str, m: int, seed: int
) -> DataFrame:
    """Per-group HLL register table: (group, _b bucket, _m max rank).
    ≤ m rows per group; the mergeable representation (union register
    tables, per-register MAX — see :func:`hll_merge_certificate`)."""
    h = hash_mod(f"hllr{seed}", F.col(key_col), 1 << 52)
    bucket = hash_mod(f"hllb{seed}", F.col(key_col), m)
    rank = F.expr(f"53 - {_bitlen_case('_h')}")
    return (
        df.select(F.col(group_col), bucket.alias("_b"), h.alias("_h"))
        .withColumn("_r", rank)
        .groupBy(group_col, "_b")
        .agg(F.max("_r").alias("_m"))
    )


def hll_merge_certificate(
    df: DataFrame,
    group_col: str,
    key_col: str,
    split_col,
    m: int = 256,
    seed: int = 13,
) -> DataFrame:
    """HLL mergeability certificate: registers(A) ⊕ registers(B)
    (union + per-register MAX) must equal registers(A ∪ B)
    register-for-register when A, B partition the input — the
    property that lets every executor sketch its split and a tiny
    reduce produce the corpus cardinality.  Output per group:
    n_registers, n_mismatch (always 0).
    """
    halves = df.withColumn("_half", split_col)
    a = _hll_registers(
        halves.where(F.col("_half")), group_col, key_col, m, seed
    )
    b = _hll_registers(
        halves.where(~F.col("_half")), group_col, key_col, m, seed
    )
    merged = (
        a.unionByName(b)
        .groupBy(group_col, "_b")
        .agg(F.max("_m").alias("_mm"))
    )
    direct = _hll_registers(df, group_col, key_col, m, seed)
    return (
        merged.join(direct, [group_col, "_b"], "full_outer")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_registers"),
            F.sum(
                F.when(
                    F.coalesce(F.col("_mm"), F.lit(-1))
                    != F.coalesce(F.col("_m"), F.lit(-1)),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_mismatch"),
        )
    )


def weighted_sample_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    n: int,
    seed: int = 42,
) -> DataFrame:
    """Per-group Efraimidis–Spirakis weighted sample: ``n`` winners
    per group by the ln(u)/w key (the per-domain tier of
    ``schemes.weighted_sample`` — e.g. "5 length-weighted exemplar
    docs per source").  Group-partitioned rank window, never
    SinglePartition; output capped at groups × n.

    Output: input rows + es_key (rounded) + rank.
    """
    u = hash_uniform(f"wg{seed}", F.col(key_col))
    es = F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(group_col).orderBy(
        F.col("_es").desc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_es", es)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= n)
        .withColumn("es_key", F.round(F.col("_es"), 6))
        .drop("_es")
    )


def heavy_hitters_batch(
    df: DataFrame,
    key_col: str,
    k: int = 8,
    num_shards: int = 8,
) -> DataFrame:
    """Batch twin of ``streaming.serve.heavy_hitters_stream``'s
    OUTPUT CONTRACT, exact-count edition: keys shard by the same
    deterministic hash, and each shard reports its top-``k`` keys by
    exact count (deterministic ties: bigger count, then smaller key).
    Pins the stream's sharding mechanics under the oracle gate the
    way the pivot tiers pinned ANN search; counts here are exact
    (the stream's are Misra–Gries lower bounds — stated difference).

    One map-side-combinable (shard, key) count + a shard-partitioned
    rank window; output ≤ k·num_shards rows.  The shard hash is the
    portable md5 family, NOT the stream's xxhash64 (no DuckDB twin) —
    the CONTRACT matches, the hash family is the oracle-checkable
    stand-in, stated.

    Output: shard, key, cnt, rank.
    """
    shard = hash_mod(f"hhb{num_shards}", F.col(key_col), num_shards)
    counts = (
        df.select(shard.cast("int").alias("shard"), F.col(key_col))
        .groupBy("shard", key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("cnt").desc(), F.col(key_col).asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("shard", key_col, "cnt", "rank")
    )


def hll_distinct(
    df: DataFrame,
    group_col: str,
    key_col: str,
    m: int = 256,
    seed: int = 13,
) -> DataFrame:
    """Oracle-checkable HyperLogLog (Flajolet et al. 2007): per
    group, ``m`` registers hold the max leading-zero rank of a second
    md5 hash; the raw estimate is αm·m²/Σ2^(−M_j) with the standard
    small-range linear-counting fallback.  Exact distinct count rides
    alongside as the certificate.

    The portability trick that makes this EXACT-HASH checkable where
    library HLLs are not: Σ2^(−M) is computed as the INTEGER
    Σ2^(52−M) (BIGINT-exact, summation-order-free — M ≤ 52 by
    construction) divided once by 2^52; the bit-length behind the
    rank is a generated CASE chain, identical text in both engines;
    αm is a pinned repr() literal.  The register table is ≤ m rows
    per group — two map-side-combinable shuffles, mergeable by
    per-register MAX (union per-shard register tables, take max).

    Output: group, n_registers_set, est_distinct, exact_distinct,
    rel_err.
    """
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # rank = leading zeros of the 52-bit value + 1 = 53 - bitlen(h);
    # h == 0 (prob 2^-52) pins to the max rank 53
    regs = _hll_registers(df, group_col, key_col, m, seed)
    agg = regs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_registers_set"),
        # empty registers contribute 2^(52-0); add them after the agg
        F.sum(F.expr("CAST(pow(CAST(2 AS DOUBLE), 52 - _m) AS BIGINT)"))
        .alias("_sum_set"),
    )
    exact = df.groupBy(group_col).agg(
        F.count_distinct(F.col(key_col)).alias("exact_distinct")
    )
    two52 = float(1 << 52)
    denom = (
        F.col("_sum_set").cast("double")
        + (F.lit(m) - F.col("n_registers_set")).cast("double")
        * F.lit(two52)
    ) / F.lit(two52)
    raw = F.lit(alpha * m * m) / denom
    zeros = F.lit(m) - F.col("n_registers_set")
    lc = -F.lit(float(m)) * F.log(zeros.cast("double") / F.lit(float(m)))
    est = F.round(
        F.when((raw <= 2.5 * m) & (zeros > 0), lc).otherwise(raw), 6
    )
    return (
        agg.join(exact, group_col)
        .withColumn("est_distinct", est)
        .withColumn(
            "rel_err",
            F.round(
                F.abs(
                    F.col("est_distinct")
                    - F.col("exact_distinct").cast("double")
                )
                / F.col("exact_distinct").cast("double"),
                6,
            ),
        )
        .select(
            group_col, "n_registers_set", "est_distinct",
            "exact_distinct", "rel_err",
        )
    )


def cms_topk_screen(
    df: DataFrame,
    key_col: str,
    threshold: int,
    depth: int = 3,
    width: int = 256,
    seed: int = 11,
) -> DataFrame:
    """Heavy-key screen through a Count-Min shortlist: every key the
    SKETCH estimates at ≥ threshold is verified against its exact
    count — the constant-memory way to find hot keys (crawl hosts,
    hammering users) without a full groupBy-orderBy at 100 TB: the
    shortlist is small (CMS overestimates, so it is a SUPERSET of
    the true heavies — no false negatives, the certificate column
    ``is_true_heavy`` measures the false-positive cost).

    The sketch is depth·width cells (broadcast); candidate estimates
    are one key-grouped min; only the shortlist joins back for exact
    verification.  Output: key, est_cnt, true_cnt, is_true_heavy.
    """
    cells = cms_build(df, key_col, depth, width, seed)
    keys = df.select(key_col).distinct()
    est = cms_estimate(cells, keys, key_col, depth, width, seed)
    short = est.where(F.col("est_cnt") >= int(threshold))
    true = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    return (
        short.join(true, key_col)
        .withColumn("is_true_heavy", F.col("true_cnt") >= int(threshold))
        .select(key_col, "est_cnt", "true_cnt", "is_true_heavy")
    )


# ---------------------------------------------------------------------------
# Deterministic reservoir / stratified / split sampling
# ---------------------------------------------------------------------------


def reservoir_sample(
    df: DataFrame, key_col: str, n: int, seed: int = 42
) -> DataFrame:
    """Deterministic uniform reservoir of exactly ``n`` rows: every
    row draws u = hash-uniform(seed, key) and the n SMALLEST u win —
    the w=1 specialization of the Efraimidis–Spirakis key trick
    (:func:`fuel_spark.schemes.weighted_sample` is the weighted
    tier).  Mergeable the way a distributed reservoir must be: the
    global top-n of a union is the top-n of per-shard top-n's, which
    is exactly how Spark plans ``orderBy().limit(n)`` — TakeOrdered
    per-partition heaps, no full sort, no single-task stage — so this
    IS Vitter's reservoir contract (fixed n, one pass) with the
    randomness made reproducible across engines and partitionings.

    Output: the sampled rows + ``r_key`` (rounded draw, for audit).
    """
    u = hash_uniform(f"rs{seed}", F.col(key_col))
    return (
        df.withColumn("r_key", F.round(u, 6))
        .orderBy(F.col("r_key").asc(), F.col(key_col).asc())
        .limit(n)
    )


def reservoir_by_group(
    df: DataFrame, group_col: str, key_col: str, n: int, seed: int = 42
) -> DataFrame:
    """Per-group deterministic reservoir: ``n`` rows per group by the
    same hash-uniform draw — the "balanced per-domain eval slice"
    sampler.  One partitioned rank window (grouped, never
    SinglePartition); group skew is capped because each group emits
    at most n rows.

    Output: sampled rows + r_key + rank (1..n within group).
    """
    u = hash_uniform(f"rg{seed}", F.col(key_col))
    w = Window.partitionBy(group_col).orderBy(
        F.col("_u").asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_u", u)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= n)
        .withColumn("r_key", F.round(F.col("_u"), 6))
        .drop("_u")
    )


def stratified_sample_summary(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    frac: float,
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli(frac) sample, reported as
    the per-stratum accounting a pipeline audit wants: total rows,
    kept rows, and the realized rate.  Keep iff
    hash-uniform(seed, key) <= frac — the same row is kept on every
    engine and every rerun, so downstream stages can re-derive the
    sample instead of persisting it.  One aggregation; the keep
    predicate is a per-row hash evaluated inside the scan stage.

    Output: stratum, n_total, n_kept, rate.
    """
    u = hash_uniform(f"ss{seed}", F.col(key_col))
    return (
        df.withColumn("_keep", u <= F.lit(float(frac)))
        .groupBy(F.col(strata_col))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .withColumn(
            "rate",
            F.round(
                F.col("n_kept").cast("double")
                / F.col("n_total").cast("double"),
                6,
            ),
        )
    )


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    train_frac: float = 0.9,
    val_frac: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Deterministic train/val/test assignment by hash-uniform
    thresholds on the document key — the split every pretraining run
    needs to be REPRODUCIBLE and LEAK-FREE: a document's split
    follows it across reshuffles, engine changes, and incremental
    re-ingests (new docs land in splits at the same rates without
    touching old assignments; contrast a rand() split, which
    reassigns everything on every run).  Pure per-row projection, no
    shuffle.  Note this is the iid split; the clustered-leakage-aware
    tier is :func:`fuel_spark.ops.dedup.leakage_free_split`.

    Output: input rows + ``split`` ('train' | 'val' | 'test').
    """
    u = hash_uniform(f"tvt{seed}", F.col(key_col))
    split = (
        F.when(u <= F.lit(float(train_frac)), F.lit("train"))
        .when(u <= F.lit(float(train_frac + val_frac)), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


# ---------------------------------------------------------------------------
# KLL quantile compactor sketch (Karnin, Lang & Liberty 2016)
# ---------------------------------------------------------------------------


def kll_compact_ladder(
    levels: list[list[float]], k: int
) -> list[list[float]]:
    """Shared determinized-KLL compaction (batch :func:`kll_quantiles`
    and the streaming twin fold through THIS function, so their
    ladders are bit-identical given the same arrival order): compact
    any over-capacity level — sort, promote the even positions of the
    even-length prefix (weight doubles, total weight exactly
    preserved); an odd straggler stays behind."""
    i = 0
    while i < len(levels):
        if len(levels[i]) > k:
            levels[i].sort()
            items = levels[i]
            if len(items) % 2:
                levels[i] = [items[-1]]
                items = items[:-1]
            else:
                levels[i] = []
            promoted = items[0::2]
            if i + 1 == len(levels):
                levels.append([])
            levels[i + 1].extend(promoted)
        i += 1
    return levels


def kll_readout(
    levels: list[list[float]], probs: tuple[float, ...]
) -> list[tuple[float, float, int, int]]:
    """Shared quantile readout from a KLL ladder: weighted survivors
    sorted by value, estimate = first item whose cumulative weight
    reaches ceil(p·total).  Returns (prob, est_value,
    est_rank_weight, total_weight) rows; empty ladder -> []."""
    items = sorted(
        (v, 1 << lvl) for lvl, vs in enumerate(levels) for v in vs
    )
    total = sum(wt for _, wt in items)
    if not items:
        return []
    out = []
    for p in probs:
        target = max(1, math.ceil(p * total))
        cum = 0
        est, est_cum = items[-1][0], total
        for v, wt in items:
            cum += wt
            if cum >= target:
                est, est_cum = v, cum
                break
        out.append((float(p), est, est_cum, total))
    return out


def kll_quantiles(
    df: DataFrame,
    value_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    k: int = 128,
) -> DataFrame:
    """True compactor-based KLL quantile sketch: constant memory per
    shard no matter how large the input — the tier above
    :func:`quantile_sketch` (whose sample grows linearly at a fixed
    rate).  Each partition folds its rows through a ladder of
    capacity-k compactors (a full level sorts, keeps alternate items,
    and promotes them with doubled weight); the per-partition ladders
    are then merged level-wise and re-compacted in one final reduce,
    and quantiles are read off the weighted survivors.

    Determinized: compaction always keeps EVEN sorted positions
    (classic KLL flips a coin).  That trades the randomized error
    guarantee for reproducibility-given-the-partitioning; the result
    still satisfies the KLL rank-error envelope in practice (pytest
    pins it across several partitionings) but DEPENDS on partition
    boundaries, so this op is rows-only by design — the
    partitioning-defined-identity class, like the batch-local tier.

    Python justification: the compactor fold is genuinely sequential
    imperative state per partition — not expressible as DataFrame
    ops — so it runs as Arrow-batched ``mapInPandas`` (never
    row-at-a-time); the final merge handles partitions × k × levels
    rows ≈ a few thousand, aggregate-sized by construction.

    Output: prob, est_value, est_rank_weight, total_weight.
    """
    import pandas as pd

    spark = df.sparkSession
    vals = ensure_parallelism(df.select(F.col(value_col).alias("v")).where(
        F.col(value_col).isNotNull()
    ))

    def _compact_ladder(levels: list[list[float]]) -> list[list[float]]:
        return kll_compact_ladder(levels, k)

    def build(batches):
        levels: list[list[float]] = [[]]
        for pdf in batches:
            arr = pdf["v"].to_numpy()
            idx = 0
            while idx < len(arr):
                space = max(1, k + 1 - len(levels[0]))
                chunk = arr[idx : idx + space]
                levels[0].extend(chunk.tolist())
                idx += len(chunk)
                if len(levels[0]) > k:
                    levels = _compact_ladder(levels)
        rows = [
            (lvl, v)
            for lvl, items in enumerate(levels)
            for v in items
        ]
        yield pd.DataFrame(rows, columns=["level", "v"]) if rows else (
            pd.DataFrame({"level": pd.Series([], dtype="int64"),
                          "v": pd.Series([], dtype="float64")})
        )

    sketch = vals.mapInPandas(build, "level long, v double")

    def merge(key, pdf):
        levels: list[list[float]] = [[]]
        for lvl, v in zip(pdf["level"].to_numpy(), pdf["v"].to_numpy()):
            lvl = int(lvl)
            while len(levels) <= lvl:
                levels.append([])
            levels[lvl].append(float(v))
        levels = _compact_ladder(levels)
        out = kll_readout(levels, probs)
        if not out:
            return pd.DataFrame(
                columns=["prob", "est_value", "est_rank_weight",
                         "total_weight"]
            ).astype({"prob": "float64", "est_value": "float64",
                      "est_rank_weight": "int64", "total_weight": "int64"})
        return pd.DataFrame(
            out,
            columns=["prob", "est_value", "est_rank_weight", "total_weight"],
        )

    return (
        sketch.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            merge,
            "prob double, est_value double, est_rank_weight long, "
            "total_weight long",
        )
    )


# ---------------------------------------------------------------------------
# KMV bottom-k distinct sketch + theta-style set-operation certificates
# ---------------------------------------------------------------------------


def kmv_sketch(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 32,
    seed: int | str = 7,
    salts: int = 16,
) -> DataFrame:
    """Bottom-k (KMV) distinct-value sketch per group: the k smallest
    deterministic hash draws over the group's DISTINCT keys (Beyer et
    al. 2007, "On synopses for distinct value estimation under
    multiset operations"; the same synopsis theta sketches build on —
    Dasgupta et al. 2016).  Unlike the register sketches (HLL /
    linear counting) a KMV keeps the arg-min KEYS, which is what
    makes the set-operation estimators in
    :func:`theta_set_ops_certificate` possible: retained hashes below
    a threshold are a uniform sample of the underlying set.

    Scale shape: two-stage distributed bottom-k.  Stage 1 partitions
    each group into ``salts`` hash slices and keeps the k smallest
    per slice (each slice's window sorts 1/salts of the group's
    distinct keys — ``salts`` is the knob that bounds the per-task
    sort as cardinality grows).  Stage 2's global rank then runs over
    the <= salts*k survivors per group, a bounded frame.  Merging
    shard sketches is the same operation (union, re-rank, keep k) —
    the mergeability the 1000-executor story needs.

    Output: group, key, _h in (0, 1], rank 1..k (ties broken by key,
    so ranks are deterministic cross-engine).
    """
    h = hash_uniform(f"kmv{seed}", F.col(key_col))
    base = (
        df.select(group_col, key_col)
        .distinct()
        .select(
            F.col(group_col),
            F.col(key_col),
            h.alias("_h"),
            hash_mod(f"kmvs{seed}", F.col(key_col), salts).alias("_s"),
        )
    )
    w1 = Window.partitionBy(group_col, "_s").orderBy("_h", key_col)
    cand = (
        base.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", "_s")
    )
    w2 = Window.partitionBy(group_col).orderBy("_h", key_col)
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def kmv_distinct_certificate(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 32,
    seed: int | str = 7,
) -> DataFrame:
    """KMV distinct-count certificate: n-hat = (k-1)/h_(k) per group
    (the unbiased bottom-k estimator) joined back to the exact
    distinct count.  Groups with fewer than k distinct keys take the
    exact path (theta 2.0 = "sketch holds the whole set"), so the
    certificate is meaningful at every scale.

    Output: group, n_sketch, theta, est_distinct, exact_distinct,
    rel_err (all estimator arithmetic rounded to 6 dp — one division
    of exact rationals, identical cross-engine).
    """
    sk = kmv_sketch(df, group_col, key_col, k=k, seed=seed)
    agg = sk.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_sketch"),
        F.max(F.when(F.col("rank") == k, F.col("_h"))).alias("_hk"),
    )
    exact = df.groupBy(group_col).agg(
        F.count_distinct(F.col(key_col)).alias("exact_distinct")
    )
    out = agg.join(exact, group_col)
    full = F.col("n_sketch") >= k
    est = F.when(
        full, F.round(F.lit(float(k - 1)) / F.col("_hk"), 6)
    ).otherwise(F.col("exact_distinct").cast("double"))
    theta = F.when(full, F.round(F.col("_hk"), 6)).otherwise(F.lit(2.0))
    return out.select(
        group_col,
        "n_sketch",
        theta.alias("theta"),
        est.alias("est_distinct"),
        "exact_distinct",
        F.round(
            F.abs(est - F.col("exact_distinct").cast("double"))
            / F.col("exact_distinct").cast("double"),
            6,
        ).alias("rel_err"),
    )


def theta_set_ops_certificate(
    df: DataFrame,
    group_col: str,
    key_col: str,
    pairs: list[tuple[str, str]],
    k: int = 32,
    seed: int | str = 7,
) -> DataFrame:
    """Theta-sketch set operations with exact certificates: for each
    (a, b) group pair, estimate |A u B|, |A n B|, and |A \\ B| from
    the two KMV sketches alone, then join the exact answers beside
    them (Dasgupta et al. 2016, the DataSketches theta family).

    The estimator: theta = min(theta_a, theta_b) where theta_g is the
    group's k-th smallest hash (2.0 when the sketch holds the whole
    group); every retained hash strictly below theta is a uniform
    rate-``rate`` sample of the union (rate = theta capped at 1.0),
    so each set-op count below theta divided by the rate estimates
    the true cardinality.  A key of B below theta is necessarily IN
    B's sketch (the sketch keeps everything below its own theta >=
    theta), which is why intersection and difference need no second
    pass over the data.

    Scale shape: the sketches are salts-bounded (see
    :func:`kmv_sketch`); per pair, the sketch-side joins touch <= 2k
    rows and the exact side is one distinct-flag aggregation over the
    two groups' keys — no pairwise work anywhere.

    Output: group_a, group_b, set_op in {union, intersection,
    a_not_b}, theta, est, exact, rel_err.
    """
    groups = sorted({g for p in pairs for g in p})
    scoped = df.filter(F.col(group_col).isin(groups))
    # the sketch (<= groups*k rows) is consumed by every pair's
    # estimate/exact branch (measured 6.2s -> 5.1s at the 20x smoke;
    # the remaining cost is the per-pair exact-certificate
    # aggregations, inherent to certifying)
    sk = materialize(
        kmv_sketch(scoped, group_col, key_col, k=k, seed=seed).select(
            F.col(group_col).alias("_g"), F.col(key_col).alias("_k"),
            "_h", "rank",
        )
    )
    # r11: thetas is consumed 2x per pair (filter a / filter b)
    thetas = materialize(
        sk.groupBy("_g").agg(
            F.count(F.lit(1)).alias("_n"),
            F.max(F.when(F.col("rank") == k, F.col("_h"))).alias("_hk"),
        ).select(
            "_g",
            F.when(F.col("_n") >= k, F.col("_hk"))
            .otherwise(F.lit(2.0))
            .alias("_theta"),
        )
    )
    # r10 optimization (guide §2.3/§2.4): the old per-pair exact branch
    # re-aggregated a distinct (group, key) base once per pair — three
    # full shuffles of the key set for three pairs.  ONE groupBy(key)
    # with a membership flag per group replaces them all (the distinct
    # pre-pass is subsumed by the groupBy, and partial map-side
    # aggregation compresses repeated keys before the exchange); every
    # pair's exact union/intersection/difference is then a conditional
    # sum over that frame, folded into a single 1-row aggregate,
    # consumed by every pair's crossJoin.
    gidx = {g: i for i, g in enumerate(groups)}
    flags_all = scoped.groupBy(F.col(key_col).alias("_k")).agg(*[
        F.max(F.when(F.col(group_col) == g, 1).otherwise(0)).alias(f"_i{i}")
        for i, g in enumerate(groups)
    ])
    exact_all = materialize(flags_all.agg(*[
        agg
        for j, (a, b) in enumerate(pairs)
        for agg in (
            F.sum(
                F.when(
                    (F.col(f"_i{gidx[a]}") == 1) | (F.col(f"_i{gidx[b]}") == 1),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias(f"_ex{j}_union"),
            F.sum(F.col(f"_i{gidx[a]}") * F.col(f"_i{gidx[b]}"))
            .cast("bigint").alias(f"_ex{j}_intersection"),
            F.sum(F.col(f"_i{gidx[a]}") * (1 - F.col(f"_i{gidx[b]}")))
            .cast("bigint").alias(f"_ex{j}_a_not_b"),
        )
    ]))
    out = None
    for j, (a, b) in enumerate(pairs):
        th = (
            thetas.filter(F.col("_g") == a)
            .select(F.col("_theta").alias("_ta"))
            .crossJoin(
                F.broadcast(
                    thetas.filter(F.col("_g") == b).select(
                        F.col("_theta").alias("_tb")
                    )
                )
            )
            .select(F.least("_ta", "_tb").alias("_theta"))
        )
        ska = sk.filter(F.col("_g") == a).select("_k", "_h")
        skb = sk.filter(F.col("_g") == b).select(
            F.col("_k").alias("_k"), F.lit(1).alias("_inb")
        )
        cand = (
            ska.join(skb, "_k", "full_outer")
            .select(
                "_k", "_h",
                F.col("_inb").isNotNull().alias("_in_b"),
                F.col("_h").isNotNull().alias("_in_a"),
            )
            .crossJoin(F.broadcast(th))
        )
        # _h is null for sketch-b-only keys; recover it from the same
        # deterministic hash (the draw depends only on the key)
        cand = cand.withColumn(
            "_hh", F.coalesce(F.col("_h"), hash_uniform(f"kmv{seed}", F.col("_k")))
        )
        below = F.col("_hh") < F.col("_theta")
        rate = F.least(F.col("_theta"), F.lit(1.0))
        est_row = cand.agg(
            F.round(
                F.sum(F.when(below, 1).otherwise(0)) / F.first(rate), 6
            ).alias("est_union"),
            F.round(
                F.sum(
                    F.when(below & F.col("_in_a") & F.col("_in_b"), 1)
                    .otherwise(0)
                )
                / F.first(rate),
                6,
            ).alias("est_intersection"),
            F.round(
                F.sum(
                    F.when(below & F.col("_in_a") & ~F.col("_in_b"), 1)
                    .otherwise(0)
                )
                / F.first(rate),
                6,
            ).alias("est_a_not_b"),
            F.round(F.first(F.col("_theta")), 6).alias("theta"),
        )
        exact_row = exact_all.select(
            F.col(f"_ex{j}_union").alias("exact_union"),
            F.col(f"_ex{j}_intersection").alias("exact_intersection"),
            F.col(f"_ex{j}_a_not_b").alias("exact_a_not_b"),
        )
        joined = est_row.crossJoin(F.broadcast(exact_row))

        # r11 (§2.4 subtree replay): the old 3-way union referenced
        # `joined` once per set-op, replaying the per-pair estimate
        # aggregation (sketch filters + full_outer join + agg) 3x.
        # ONE select exploding a 3-struct array evaluates the pair's
        # est/exact row exactly once; values and row multiset are
        # bit-identical (verified against the old shape at all 3 SFs).
        def _op_struct(op: str):
            est_c = F.col(f"est_{op}")
            ex_c = F.col(f"exact_{op}").cast("bigint")
            return F.struct(
                F.lit(op).alias("set_op"),
                est_c.alias("est"),
                ex_c.alias("exact"),
                F.when(
                    ex_c > 0,
                    F.round(
                        F.abs(est_c - ex_c.cast("double"))
                        / ex_c.cast("double"),
                        6,
                    ),
                ).alias("rel_err"),
            )

        rows = joined.select(
            F.lit(a).alias("group_a"),
            F.lit(b).alias("group_b"),
            F.col("theta"),
            F.explode(F.array(
                _op_struct("union"),
                _op_struct("intersection"),
                _op_struct("a_not_b"),
            )).alias("_s"),
        ).select(
            "group_a", "group_b",
            F.col("_s.set_op").alias("set_op"),
            "theta",
            F.col("_s.est").alias("est"),
            F.col("_s.exact").alias("exact"),
            F.col("_s.rel_err").alias("rel_err"),
        )
        out = rows if out is None else out.unionByName(rows)
    return out


def priority_sample_certificate(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int = 32,
    seed: int | str = 11,
) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup 2007, JACM): the
    weighted-SUM analogue of the KMV distinct certificate.  Each item
    draws priority q = w/u (u the deterministic md5 uniform); the k
    highest-priority items per group are kept with threshold tau =
    the (k+1)-th priority, and sum(max(w, tau)) over the sample
    estimates the group's TOTAL weight — near-unbiased from k rows
    alone, with variance optimal among k-sample subset-sum estimators
    (Szegedy 2006).  Groups with <= k items take the exact path
    (tau = 0, estimate = exact sum).

    Mergeable the KMV way: union shard samples, re-rank, re-threshold.
    Float discipline: per-item estimates round-6 into DECIMAL(27,6)
    so the sum is order-independent; exact both while the SCALED sum
    stays under 2^53 (sums < ~9e9 — the repo-wide decimal bound).

    Output: group, n_sample, tau, est_total, exact_total, rel_err.
    """
    u = hash_uniform(f"pri{seed}", F.col(key_col))
    base = df.select(
        F.col(group_col),
        F.col(key_col),
        F.col(weight_col).cast("double").alias("_w"),
    ).withColumn("_q", F.col("_w") / u)
    w = Window.partitionBy(group_col).orderBy(
        F.col("_q").desc(), F.col(key_col).asc()
    )
    ranked = base.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= k + 1
    )
    taus = ranked.filter(F.col("_r") == k + 1).select(
        F.col(group_col), F.col("_q").alias("_tau")
    )
    est = (
        ranked.filter(F.col("_r") <= k)
        .join(taus, group_col, "left")
        .withColumn("_tau", F.coalesce(F.col("_tau"), F.lit(0.0)))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.round(F.max("_tau"), 6).alias("tau"),
            F.round(
                F.sum(
                    F.round(F.greatest(F.col("_w"), F.col("_tau")), 6)
                    .cast("decimal(27,6)")
                ).cast("double"),
                6,
            ).alias("est_total"),
        )
    )
    exact = df.groupBy(group_col).agg(
        F.round(
            F.sum(F.col(weight_col).cast("decimal(27,6)")).cast("double"), 6
        ).alias("exact_total")
    )
    return est.join(exact, group_col).select(
        group_col,
        "n_sample",
        "tau",
        "est_total",
        "exact_total",
        F.round(
            F.abs(F.col("est_total") - F.col("exact_total"))
            / F.col("exact_total"),
            6,
        ).alias("rel_err"),
    )


def _hll_est(n_set, sum_set, m: int):
    """The hll_distinct estimate formula as a reusable Column: raw
    harmonic estimate with the standard small-range linear-counting
    fallback, rounded 6 — identical arithmetic to the oracle twin
    (integer register sums in, double out)."""
    alpha = 0.7213 / (1.0 + 1.079 / m)
    two52 = float(1 << 52)
    denom = (
        sum_set.cast("double")
        + (F.lit(m) - n_set).cast("double") * F.lit(two52)
    ) / F.lit(two52)
    raw = F.lit(alpha * m * m) / denom
    zeros = F.lit(m) - n_set
    lc = -F.lit(float(m)) * F.log(zeros.cast("double") / F.lit(float(m)))
    return F.round(
        F.when((raw <= 2.5 * m) & (zeros > 0), lc).otherwise(raw), 6
    )


def hll_intersection_certificate(
    df: DataFrame,
    group_col: str,
    key_col: str,
    m: int = 256,
    seed: int = 13,
) -> DataFrame:
    """Audience-overlap estimates by HLL inclusion–exclusion: for
    every group pair, union the register tables (per-bucket MAX — the
    merge operation HLL exists for) and estimate |A∩B| as
    est(A)+est(B)−est(A∪B), with the EXACT intersection alongside as
    the certificate — the overlap planner that at 100 TB runs off
    m-row register tables instead of a distinct-pair self-join.

    All register arithmetic is the hll_distinct integer contract
    (Σ2^(52−M) as BIGINT), so the estimates are engine-exact.
    Output per (group_a < group_b): est_a, est_b, est_union,
    est_intersection, exact_intersection."""
    from fuel_spark.functions import hash_mod  # noqa: F401 (doc link)

    rg = _hll_registers(df, group_col, key_col, m, seed)
    g = F.col(group_col)
    groups = df.select(g.alias("_g")).where(g.isNotNull()).distinct()
    pairs = (
        groups.select(F.col("_g").alias("group_a"))
        .crossJoin(F.broadcast(groups.select(F.col("_g").alias("group_b"))))
        .where(F.col("group_a") < F.col("group_b"))
    )
    ra = pairs.join(
        F.broadcast(rg), F.col(group_col) == F.col("group_a")
    ).select("group_a", "group_b", "_b", F.col("_m").alias("_ma"))
    rb = pairs.join(
        F.broadcast(rg), F.col(group_col) == F.col("group_b")
    ).select("group_a", "group_b", "_b", F.col("_m").alias("_mb"))
    ru = ra.join(rb, ["group_a", "group_b", "_b"], "full_outer").select(
        "group_a", "group_b", "_b",
        F.greatest(
            F.coalesce("_ma", F.lit(0)), F.coalesce("_mb", F.lit(0))
        ).alias("_mu"),
    )
    pw = F.expr("CAST(pow(CAST(2 AS DOUBLE), 52 - _mu) AS BIGINT)")
    uagg = ru.groupBy("group_a", "group_b").agg(
        F.count(F.lit(1)).alias("_nu"), F.sum(pw).alias("_su")
    )
    gagg = rg.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_ns"),
        F.sum(F.expr("CAST(pow(CAST(2 AS DOUBLE), 52 - _m) AS BIGINT)"))
        .alias("_ss"),
    )
    keyed = df.select(g.alias("_g"), F.col(key_col).alias("_k")).where(
        g.isNotNull() & F.col(key_col).isNotNull()
    ).distinct()
    exact = (
        keyed.alias("x")
        .join(keyed.alias("y"), F.col("x._k") == F.col("y._k"))
        .where(F.col("x._g") < F.col("y._g"))
        .groupBy(
            F.col("x._g").alias("group_a"), F.col("y._g").alias("group_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersection"))
    )
    est_a = _hll_est(F.col("a._ns"), F.col("a._ss"), m)
    est_b = _hll_est(F.col("b._ns"), F.col("b._ss"), m)
    est_u = _hll_est(F.col("_nu"), F.col("_su"), m)
    return (
        uagg.join(
            F.broadcast(gagg.alias("a")),
            F.col("group_a") == F.col(f"a.{group_col}"),
        )
        .join(
            F.broadcast(gagg.alias("b")),
            F.col("group_b") == F.col(f"b.{group_col}"),
        )
        .join(exact, ["group_a", "group_b"], "left")
        .select(
            "group_a", "group_b",
            est_a.alias("est_a"), est_b.alias("est_b"),
            est_u.alias("est_union"),
            F.round(est_a + est_b - est_u, 6).alias("est_intersection"),
            F.coalesce("exact_intersection", F.lit(0)).cast("bigint")
            .alias("exact_intersection"),
        )
    )


def bloom_fpr_curve(
    df: DataFrame,
    key_col: str,
    m_list=(256, 1024, 4096),
    k_hashes: int = 3,
    seed: int = 5,
) -> DataFrame:
    """Measured Bloom false-positive curve: filters built over the
    even keys at several sizes, probed with the (disjoint) odd keys —
    every hit is a false positive by construction, so the measured
    FPR needs no truth join.  The m-bits-choice table
    (:func:`bloom_size_planner` predicts; this MEASURES on the real
    key distribution).

    Output per m_bits: n_members, n_tested, n_false_positives,
    fpr (exact-rational round6)."""
    from fuel_spark.functions import hash_mod, round6_ratio

    keys = materialize(
        df.select(F.col(key_col).cast("long").alias("k"))
        .where(F.col("k").isNotNull())
        .distinct()
    )
    members = keys.where(F.col("k") % 2 == 0)
    tests = keys.where(F.col("k") % 2 == 1)
    parts = []
    for m_bits in m_list:
        pos = bloom_build(members, "k", m_bits=m_bits,
                          k_hashes=k_hashes, seed=seed)
        probes = _union_all([
            tests.select(
                "k",
                hash_mod(f"bl{seed}h{i}", F.col("k"), m_bits).alias(
                    "pos"
                ),
            )
            for i in range(k_hashes)
        ])
        hits = (
            probes.join(F.broadcast(pos), "pos")
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("_nh"))
            .where(F.col("_nh") == k_hashes)
        )
        stats = members.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members")
        ).crossJoin(
            tests.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_tested")
            )
        ).crossJoin(
            hits.agg(
                F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint")
                .alias("n_false_positives")
            )
        )
        parts.append(
            stats.select(
                F.lit(int(m_bits)).cast("bigint").alias("m_bits"),
                "n_members", "n_tested", "n_false_positives",
                round6_ratio(
                    F.col("n_false_positives").cast("decimal(27,6)"),
                    F.greatest(F.col("n_tested"), F.lit(1)),
                ).alias("fpr"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
