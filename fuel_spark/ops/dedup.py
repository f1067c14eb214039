"""Deduplication operators for LLM-scale corpora.

Beyond the fuel surface (its pipelines assume pre-cleaned corpora);
first-class here because dedup is the canonical 100 TB text job.
Design: everything is hash-based and *pair-bounded* —

- exact: one groupBy on a text digest (map-side partial agg).
- minhash LSH: per-doc sketch (narrow), then band-bucket self-join;
  candidate pairs only, never the full quadratic pair space.
- jaccard verify: array intersection on the candidate pairs.
- simhash: bit-vote fingerprint, one narrow projection.

The near-dup operators share one pipeline, sketch → candidates →
verify, and each of its building blocks is written once, as a private
helper (``tests/test_dedup_census.py`` fails on a copy):

- ``_shingle_sets``: normalize, then the distinct char-shingle set;
- ``_minhash_sketch``: shingle base hashes → K minhashes → band keys;
- ``_all_pairs_sql``: every pair of a sorted bucket array;
- ``_with_overlap``: ``inter`` / ``uni`` / round-6 ``jaccard``;
- ``_exact_prepass``: md5 rollup → min id per text → survivors;
- ``_gram_hash_sql``: the 64-bit word-gram hash (the n-gram signals
  take the distinct set, ``_distinct_gram_hashes``).

No Python UDFs; md5-based hashing keeps Spark and the DuckDB oracle
bit-identical.

Every pair-emitting operator takes a skew guard (``max_bucket`` /
``max_block``) that degrades oversized buckets from all-pairs to star
pairs (or skips them, for the cross-corpus join).  The guard defaults
to :data:`DEFAULT_MAX_BUCKET` — bounded BY DEFAULT, because at 100 TB
a single boilerplate bucket of 10^6 docs is 10^12 pairs and an opt-in
guard is the knob someone forgets; pass ``None`` to opt out when the
corpus is known clean.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from fuel_spark.functions import (
    ensure_parallelism,
    materialize,
    minhash_expr,
    norm_text,
    shingle_hashes_expr,
    shingles_over_norm,
)

# Default skew-guard cap for every pair-emitting operator in this
# module.  512² = 262k pairs per bucket worst-case — safely parallel —
# while sitting far above any honest near-dup bucket (the sf0.1
# corpus's largest band bucket is 123; a bucket past 512 members is
# boilerplate, not duplication).
#
# OUTPUT-ALTERING DEFAULT (changed from None in r4): on any corpus
# with a band bucket >512 members the star-degrade emits hub pairs
# instead of the full within-bucket expansion, so some verified pairs
# (hence some duplicates) are intentionally not emitted.  Callers who
# need exhaustive pair semantics must pass ``max_bucket=None``
# explicitly.  The DuckDB oracle SQL for the registry queries carries
# NO bucket guard — parity holds because no oracle-scale bucket
# approaches the cap, and tests/test_text_dedup.py::
# test_oracle_scale_buckets_under_default_cap pins that invariant so
# corpus drift fails loudly instead of as a silent hash mismatch.
DEFAULT_MAX_BUCKET: int | None = 512


# --------------------------------------------------------------------------
# The six building blocks of the near-dup pipeline, each written once.
# --------------------------------------------------------------------------


def _shingle_sets(
    frame: DataFrame, keep: list[str], text_col: str, shingle_k: int,
    out: str = "_sh",
) -> DataFrame:
    """``keep`` columns plus the distinct char-shingle set of
    ``text_col`` as ``out``.  ``_norm`` gets its own projection:
    inlining the normalize regex into the shingle lambda is
    O(len²)/doc."""
    keep_cols = [F.col(c) for c in keep]
    frame = frame.select(*keep_cols, norm_text(F.col(text_col)).alias("_norm"))
    return frame.select(*keep_cols, shingles_over_norm("_norm", shingle_k).alias(out))


def _minhash_sketch(
    frame: DataFrame, keep: list[str], text_col: str,
    num_hashes: int, bands: int, shingle_k: int,
) -> tuple[DataFrame, list[Column]]:
    """The MinHash signature: ``frame`` widened, then shingles → one
    md5 per shingle as ``_hs`` (its own projection) → K integer
    rehashes of that array as ``_mh0..`` (see functions.minhash_expr).
    Returns the frame (``keep``, ``_sh``, ``_mh*``) and the B band-key
    Columns over it (``|``-joined minhashes of each band)."""
    out = _shingle_sets(ensure_parallelism(frame), keep, text_col, shingle_k)
    out = out.select(*keep, "_sh", shingle_hashes_expr("_sh").alias("_hs"))
    mh = [minhash_expr("_hs", j).alias(f"_mh{j}") for j in range(num_hashes)]
    out = out.select(*keep, "_sh", *mh)
    rows = num_hashes // bands
    keys = [
        F.concat_ws("|", *[F.col(f"_mh{j}") for j in range(b * rows, (b + 1) * rows)])
        for b in range(bands)
    ]
    return out, keys


def _with_overlap(df: DataFrame, sh_a: str, sh_b: str) -> DataFrame:
    """Add ``inter`` = |A∩B| and ``uni`` = |A∪B| (bigint) and the
    round-6 ``jaccard`` of two shingle-set columns."""
    return (
        df.withColumn("inter", F.size(F.array_intersect(sh_a, sh_b)).cast("bigint"))
        .withColumn("uni", (F.size(sh_a) + F.size(sh_b) - F.col("inter")).cast("bigint"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter").cast("double") / F.greatest(F.col("uni"), F.lit(1)), 6),
        )
    )


def _exact_prepass(df: DataFrame, id_col: str, text_col: str) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate pre-pass on a 16-byte md5 rollup: returns the
    survivors (``id_col``, ``text_col``; the min id of each exact-text
    group), materialized, and the loser ids.  The survivors are read by
    the bands and both sides of the shingle join; replaying the
    digest-rollup + anti-join chain under each measured 12 scans, 19s
    for a 5k-doc verify at the 20× smoke."""
    hashed = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
    keepers = hashed.groupBy("_h").agg(F.min(id_col).alias("_keep"))
    losers = (
        hashed.join(keepers, "_h")
        .where(F.col(id_col) != F.col("_keep"))
        .select(id_col)
    )
    kept = materialize(
        df.join(losers, id_col, "left_anti").select(F.col(id_col), F.col(text_col))
    )
    return kept, losers


def _all_pairs_sql(arr: str, a: str = "id_a", b: str = "id_b") -> str:
    """SQL: every (i < j) pair of the sorted array column ``arr`` as
    structs (a, b), expanded JVM-side."""
    return (
        f"flatten(transform(sequence(1, size({arr}) - 1),"
        f" i -> transform(slice({arr}, i + 1, size({arr}) - i),"
        f" x -> struct(element_at({arr}, i) AS {a}, x AS {b}))))"
    )


def _gram_hash_sql(start: str, length: int | str) -> str:
    """SQL: the word-gram hash, the 16-hex md5 prefix (a 64-bit key,
    never raw strings on the wire) of the ``length`` words of ``_w``
    from 1-based ``start``."""
    return f"substring(md5(array_join(slice(_w, {start}, {length}), ' ')), 1, 16)"


def _distinct_gram_hashes(k: int) -> Column:
    """The distinct word k-gram hashes of ``_w``; empty below k words."""
    return F.expr(
        f"CASE WHEN size(_w) >= {k} THEN"
        f" array_distinct(transform(sequence(1, size(_w) - {k - 1}),"
        f" i -> {_gram_hash_sql('i', k)}))"
        f" ELSE CAST(array() AS array<string>) END"
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by md5(text): canonical (min-id) doc,
    duplicate count.  One shuffle on the digest; at 100 TB this is the
    cheapest possible full-corpus dedup (digest is 16 bytes/row)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def with_minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
) -> DataFrame:
    """Per-doc minhash sketch grouped into LSH bands.

    Output: id, band_id, band_key (concat of the band's minhashes).
    rows = docs × bands — linear, shuffle-free (narrow projection).
    """
    out, keys = _minhash_sketch(
        df.select(F.col(id_col), F.col(text_col)), [id_col], text_col,
        num_hashes, bands, shingle_k,
    )
    band_structs = [
        F.struct(F.lit(b).alias("band_id"), key.alias("band_key"))
        for b, key in enumerate(keys)
    ]
    out = out.select(id_col, F.explode(F.array(*band_structs)).alias("_b"))
    return out.select(id_col, "_b.band_id", "_b.band_key")


def minhash_band_key_cols(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
) -> DataFrame:
    """Like :func:`with_minhash_bands` but WIDE: one row per doc with
    ``band_key_0..B-1`` columns instead of an exploded (band_id, key)
    row per band.  The wide shape keeps per-doc decisions row-local —
    required by streaming consumers (``streaming.near_dup_stream``),
    where an explode + re-aggregate would need streaming state."""
    out, keys = _minhash_sketch(df, df.columns, text_col, num_hashes, bands, shingle_k)
    return out.select(
        *df.columns, *[key.alias(f"band_key_{b}") for b, key in enumerate(keys)]
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    distinct_pairs: bool = True,
) -> DataFrame:
    """LSH candidate pairs (a < b) sharing any band bucket.

    One groupBy on (band_id, band_key) collects each bucket's ids,
    then pairs expand JVM-side from the sorted array — the minhash
    subtree is computed once and shuffles once (a self-join would
    compute and shuffle it twice; Spark can't reuse the exchange
    because the two projections differ).  Work is proportional to
    Σ bucket², never corpus².

    ``max_bucket`` guards the 100 TB pathological case (a boilerplate
    bucket of 10^6 docs → 10^12 pairs): oversized buckets degrade to
    pairing every member with the bucket minimum — linear, and still
    sufficient for greedy keep-smallest dedup within the bucket.

    ``distinct_pairs=False`` skips the final pair-set dedup shuffle: a
    pair colliding in several bands appears up to ``bands`` times.
    Consumers that reduce over pairs anyway (greedy keep-min apply,
    connected components — both end in their own distinct/agg) should
    pass False; it removes a full shuffle of the pair set.
    """
    bands_df = with_minhash_bands(df, id_col, text_col, num_hashes, bands, shingle_k)
    buckets = (
        bands_df.groupBy("band_id", "band_key")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") > 1)
    )
    all_pairs = _all_pairs_sql("ids")
    star_pairs = (
        "transform(slice(ids, 2, size(ids) - 1),"
        " x -> struct(element_at(ids, 1) AS id_a, x AS id_b))"
    )
    pair_expr = (
        all_pairs
        if max_bucket is None
        else f"CASE WHEN size(ids) <= {max_bucket} THEN {all_pairs} ELSE {star_pairs} END"
    )
    out = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("_p"))
        .select("_p.id_a", "_p.id_b")
    )
    return out.distinct() if distinct_pairs else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.0,
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
    distinct_pairs: bool = True,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    carry_exprs: dict | None = None,
) -> DataFrame:
    """Verified near-dup pairs: jaccard over distinct char-shingle sets
    computed on LSH candidates only (sketch → candidates → verify, the
    standard MinHashLSH pipeline shape).  ``distinct_pairs=False``
    propagates to the candidate stage (multi-band collisions verify
    more than once but skip the pair-set shuffle — right when the
    consumer reduces over pairs anyway).  ``max_bucket`` propagates
    the star-degrade guard: on boilerplate-heavy corpora the verify
    join is quadratic in bucket size without it.

    ``carry_exprs`` ({name: Column-over-df}) rides extra per-doc
    payloads THROUGH the verify join, emitted as ``<name>_a`` /
    ``<name>_b`` — consumers that need side data per pair (lengths
    for survivor policies, quality scores) get it for free instead of
    re-joining the multi-million-row pair set against the corpus
    afterwards (measured 37s → ~2s on the 10× pathological smoke).
    """
    cands = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_k,
        max_bucket=max_bucket, distinct_pairs=distinct_pairs,
    )
    # pin the verify width: candidate-pair rows are BYTES-tiny (two
    # ids), so AQE's size-based coalescing folds them into one
    # partition and the shingle-set intersections — the CPU-heavy
    # part — run single-threaded (measured 15.6s vs 1.9s on the same
    # 125k pairs).  Cost is one shuffle of narrow rows.
    cands = ensure_parallelism(cands)
    carry = dict(carry_exprs or {})
    sh = ensure_parallelism(
        df.select(
            F.col(id_col),
            F.col(text_col),
            # carry exprs evaluate against the FULL df row, before the
            # projection narrows to (id, text)
            *[c.alias(f"_c_{n}") for n, c in carry.items()],
        )
    )
    sh = _shingle_sets(sh, [id_col, *[f"_c_{n}" for n in carry]], text_col, shingle_k, "sh")
    # NOTE (r10, measured): a lazy checkpoint of `sh` here is NOT a
    # win — the shingle arrays are ~5x the text bytes, so
    # materializing them costs as much as the second compute pass
    # (interleaved best-of-5: 2.59s without vs 2.79s with on
    # dedup_apply), and at scale the memory blow-up is worse.  The
    # two-sided replay stays, deliberately.
    a = sh.select(
        F.col(id_col).alias("id_a"),
        F.col("sh").alias("sh_a"),
        *[F.col(f"_c_{n}").alias(f"{n}_a") for n in carry],
    )
    b = sh.select(
        F.col(id_col).alias("id_b"),
        F.col("sh").alias("sh_b"),
        *[F.col(f"_c_{n}").alias(f"{n}_b") for n in carry],
    )
    carried = [f"{n}_{s}" for n in carry for s in ("a", "b")]
    return (
        _with_overlap(cands.join(a, "id_a").join(b, "id_b"), "sh_a", "sh_b")
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "uni", "jaccard", *carried)
    )


def apply_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    keep: str = "min_id",
    prededup_exact: bool = True,
) -> DataFrame:
    """The full near-dup pipeline, applied: exact pre-pass → sketch →
    LSH candidates → jaccard verify → greedy survivor pick.

    ``keep="min_id"`` (default): a document survives iff no verified
    near-duplicate with a smaller id exists (covers exact dups too —
    identical texts share every band).  ``keep="longest"``: per
    verified pair the shorter normalized text loses — the
    quality-aware policy that keeps the fuller page instead of an
    arbitrary id.  The kill set is tiny relative to the corpus, so
    the final step is a broadcast-able left_anti join: corpus-sized
    data crosses the wire exactly once.  Candidate pairs stay
    non-distinct (``distinct_pairs=False``): the survivor pick only
    needs the SET of loser ids, and the losers projection dedups one
    id column — strictly cheaper than a distinct over full pairs.

    ``prededup_exact`` (default on) removes exact duplicates with one
    16-byte-digest rollup BEFORE sketching — the production pipeline
    order, because shingling/minhashing N identical copies is pure
    waste and their buckets go quadratic.  Absent the ``max_bucket``
    guard the survivor set is IDENTICAL either way (identical texts
    share every band, every verify, and every length, so the greedy
    pick resolves the same — gate-verified hash-equal at sf0.01);
    when a bucket would only exceed ``max_bucket`` because of exact
    copies, the pre-pass keeps it under the cap and the full
    all-pairs verify runs where the raw corpus would have
    star-degraded — strictly better recall.  On the 10× pathological
    smoke corpus (10 exact copies/doc) the pre-pass cuts the verify
    join from 12.6M pairs to the distinct-text pair set, 33s → ~4s,
    AND kills 64 near-dups the degraded run missed.
    """
    if keep not in ("min_id", "longest"):
        raise ValueError(f"unknown keep policy {keep!r}")
    exact_losers = None
    near_input = df
    if prededup_exact:
        near_input, exact_losers = _exact_prepass(df, id_col, text_col)
    if keep == "min_id":
        pairs = ngram_jaccard_pairs(
            near_input, id_col, text_col, threshold, num_hashes, bands,
            shingle_k, distinct_pairs=False, max_bucket=max_bucket,
        )
        near_losers = pairs.select(F.col("id_b").alias(id_col))
    else:
        # quality-aware survivor policy: per verified pair the SHORTER
        # normalized text loses (the standard keep-the-fuller-page
        # choice); equal lengths fall back to keep-min (id_a < id_b by
        # construction, so id_b loses).  Lengths RIDE the verify join
        # via carry_exprs — re-joining the multi-million-row pair set
        # against the corpus afterwards measured 37s vs ~2s on the
        # 10× pathological smoke.
        pairs = ngram_jaccard_pairs(
            near_input, id_col, text_col, threshold, num_hashes, bands,
            shingle_k, distinct_pairs=False, max_bucket=max_bucket,
            carry_exprs={"len": F.length(norm_text(F.col(text_col)))},
        )
        near_losers = pairs.select(
            F.when(F.col("len_a") < F.col("len_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias(id_col)
        )
    losers = (
        near_losers if exact_losers is None
        else near_losers.unionByName(exact_losers)
    ).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16,
    out_col: str = "simhash",
) -> DataFrame:
    """SimHash fingerprint: each word votes ±1 per bit position using
    the high bit of the b-th hex nibble of md5(word); fingerprint sets
    bit b where the vote sum is positive.

    Pure projection + per-row array aggregation — no shuffle at all.
    ``bits`` ≤ 32 (md5 has 32 hex nibbles).
    """
    from fuel_spark.functions import words

    w = words(F.col(text_col))
    out = ensure_parallelism(df).withColumn("_w", w)
    bit_terms = []
    for b in range(bits):
        # +1 when nibble in 8..f (high bit set), else -1; sum over words
        vote = F.aggregate(
            F.col("_w"),
            F.lit(0),
            lambda acc, word: acc
            + F.when(
                F.substring(F.md5(word), b + 1, 1).isin(*"89abcdef"), F.lit(1)
            ).otherwise(F.lit(-1)),
        )
        bit_terms.append(F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0)))
    fp = bit_terms[0]
    for t in bit_terms[1:]:
        fp = fp + t
    return out.withColumn(out_col, fp.cast("bigint")).drop("_w")


def cross_doc_ngram_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Cross-document duplicated-span signal (the word-n-gram
    relaxation of suffix-array substring dedup, Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"):
    for each document, the fraction of its distinct word n-grams that
    also occur in at least one OTHER document.

    Grams shuffle as 16-hex md5 prefixes (64-bit keys), not raw
    strings — at 100 TB the gram exchange is the cost, and hashing
    cuts it to fixed width.  Two map-side-combinable shuffles (per-doc
    distinct grams, corpus gram counts) + one join back on the hash.
    """
    from fuel_spark.functions import words

    # explode(array(words)) is a Generate node: a projection-collapse
    # barrier that forces _w to materialize once per row.  Without it
    # Catalyst inlines the normalize+split into the per-position gram
    # lambda — O(len^2) per doc, measured 30x slower at sf0.1.
    # Consumed 2x: the corpus gram count and the join back.
    per_doc = materialize(
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.explode(F.array(words(F.col(text_col)))).alias("_w"),
        )
        .select(F.col(id_col), _distinct_gram_hashes(n).alias("_g"))
        .select(F.col(id_col), F.explode("_g").alias("gh"))
    )
    doc_counts = per_doc.groupBy("gh").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        per_doc.join(doc_counts, "gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
        .withColumn(
            "dup_gram_frac",
            F.round(
                F.col("n_dup_grams").cast("double")
                / F.greatest(F.col("n_grams"), F.lit(1)),
                6,
            ),
        )
    )


def decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination signal: for each corpus document, how
    many of its distinct word n-grams also appear in a held-out
    benchmark/eval set (the GPT-3 appendix-C / PaLM §8 procedure —
    training documents overlapping eval n-grams must be flagged or
    dropped before training).

    The benchmark gram set is tiny next to the corpus, so it rides
    along as a broadcast relation; the corpus side is one narrow
    explode of 64-bit hashed grams (never raw strings on the wire) and
    one map-side-combinable groupBy.  A left join back onto the id
    spine guarantees every input document yields a row (zero-hit docs
    report 0, mirroring `dictionary_encode`'s empty-doc contract).
    """
    from pyspark.sql.functions import broadcast

    from fuel_spark.functions import words

    def grams_of(frame: DataFrame, key, text) -> DataFrame:
        # explode(array(...)) Generate barrier: keep the normalize+split
        # out of the per-position lambda (see cross_doc_ngram_dup)
        return (
            frame.select(key.alias("_id"), F.explode(F.array(words(text))).alias("_w"))
            .select(F.col("_id"), F.explode(_distinct_gram_hashes(n)).alias("gh"))
        )

    bench_grams = (
        grams_of(benchmark, F.lit(0), F.col(bench_text_col)).select("gh").distinct()
    )
    # consumed 2x: the per-doc gram count and the benchmark semi-join
    doc_grams = materialize(grams_of(df, F.col(id_col), F.col(text_col)))
    per_doc = doc_grams.groupBy("_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        doc_grams.join(broadcast(bench_grams), "gh", "left_semi")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, F.col(id_col) == F.col("_id"), "left")
        .drop("_id")
        .join(hits, F.col(id_col) == F.col("_id"), "left")
        .drop("_id")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).cast("bigint").alias("n_contaminated"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of the near-dup pair graph by iterative
    min-label propagation: every vertex converges to the smallest id
    reachable from it, so each duplicate CLUSTER gets one canonical
    label even when similarity is only transitive (a~b, b~c, a!~c) —
    the case greedy pair-kill dedup under-merges.

    Each iteration propagates neighbor minima (one join + one
    min-aggregation on the vertex key) and then SHORT-CUTS with one
    label-of-label lookup (pointer doubling / path compression, the
    trick behind log-round MapReduce CC a la Kiveris et al.): label
    distances halve each round, so convergence needs O(log diameter)
    rounds, not O(diameter).  Near-dup clusters are dense (tiny
    diameter) anyway, but the log bound keeps pathological chain
    graphs from turning into diameter-many full-data shuffles.

    Convergence check (r11): labels are MONOTONE NON-INCREASING
    (every update takes a min over a candidate set that includes the
    old label), so "no label changed" is exactly "sum of labels is
    unchanged" — one map-side-combinable aggregation over the new
    label frame, computed as exact DECIMAL(38,0) so no vertex count
    can overflow it.  This replaces the r9 count()/r10 isEmpty() of a
    new-vs-old comparison JOIN: the join itself is gone (one fewer
    vertex-keyed shuffle per iteration, guide §2.4), and unlike
    isEmpty() — whose limit-1 job scans partitions in sequential
    scale-up waves exactly when the result is empty, i.e. on every
    converged round — the aggregation is one parallel job.  Exit
    condition identical by monotonicity.

    The edge frame and each round's labels are materialized, so no
    round replays its predecessors and the plan stays one round deep.
    """
    # symmetrize with ONE pass over the pair frame: the union-of-two-
    # selects shape references `pairs` twice, and Spark replays the
    # whole upstream pipeline per reference (no ReusedExchange for an
    # uncached frame) — with the MinHash verify upstream that was the
    # entire cost of dedup_components at the 20× smoke (228s of a
    # 356s run re-verifying 2.5M pairs a second time; the explode
    # form re-measures at ~½ the total).  Consumed by the initial
    # labels and by every round's join.
    edges = materialize(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
    )
    labels = materialize(
        edges.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("component", F.col("v"))
    )

    def _label_sum(frame):
        return frame.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("_s")
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    for _ in range(max_iter):
        msgs = (
            edges.join(labels, edges.src == labels.v)
            .select(F.col("dst").alias("v"), "component")
        )
        stepped = (
            labels.select("v", "component")
            .union(msgs)
            .groupBy("v")
            .agg(F.min("component").alias("component"))
        )
        # pointer doubling: label(v) <- min(label(v), label(label(v))).
        # Labels are always ids of reachable vertices, so the
        # self-lookup stays within the component and the reachable-min
        # invariant holds; chain distances halve per round.
        parent = stepped.select(
            F.col("v").alias("_pv"), F.col("component").alias("_pc")
        )
        labels = materialize(
            stepped.join(parent, stepped.component == F.col("_pv"), "left")
            .select(
                "v",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_pc"), F.col("component")),
                ).alias("component"),
            )
        )
        # monotone-sum convergence (see docstring): this one
        # aggregation both stores the round's labels and answers "did
        # anything change"
        new_sum = _label_sum(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("v", "component")


def dedup_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
) -> DataFrame:
    """Cluster-level near-dup assignment: every document labeled with
    the canonical (minimum) id of its verified near-dup cluster;
    documents with no near-dup keep their own id.  The downstream
    keep-rule (keep id == component) then retains exactly one doc per
    transitive cluster.  Pairs stay non-distinct: connected_components
    dedups edges itself, so a pair-set shuffle here would be pure
    waste."""
    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, threshold, num_hashes, bands, shingle_k,
        distinct_pairs=False,
    ).where(F.col("jaccard") >= threshold)
    comp = connected_components(pairs)
    return (
        df.select(id_col)
        .join(comp, F.col(id_col) == F.col("v"), "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )


def leakage_free_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    holdout_fraction: float = 0.1,
    seed: int = 42,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup-aware train/holdout split: documents in the same
    near-duplicate CLUSTER always land on the same side, so the
    holdout cannot leak paraphrases of training documents (the
    contamination a row-wise random split produces whenever the corpus
    has near-dups — which at 100 TB it always does).

    Composition of existing scale-safe pieces: MinHash candidate
    pairs → Jaccard verify → connected components gives each doc a
    canonical cluster id; the split hashes the CLUSTER id with the
    deterministic md5 rule, so assignment is reproducible on any
    engine/partitioning and stable as the corpus grows.
    """
    comp = dedup_components(df, id_col, text_col, threshold=threshold)
    from fuel_spark.functions import det_key

    bucket = F.conv(
        F.substring(det_key(seed, F.col("component")), 1, 6), 16, 10
    ).cast("bigint")
    return comp.withColumn(
        "split",
        F.when(bucket < int(holdout_fraction * 16777216), F.lit("holdout"))
        .otherwise(F.lit("train")),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    prededup_exact: bool = False,
) -> DataFrame:
    """Asymmetric containment over LSH candidates: |A∩B| / |A| and
    |A∩B| / |B| per pair.  Catches subset duplication — a short doc
    quoted wholesale inside a long one scores near 1.0 containment
    while its Jaccard stays low (the union is dominated by the long
    doc), so a Jaccard-threshold dedup misses it (Broder's original
    resemblance-vs-containment distinction).

    Same plan shape as the Jaccard verify: bucketed LSH candidates
    only, one shingle-set join per side, JVM set intersection; a pair
    is kept when EITHER direction clears ``threshold``.  At 100 TB
    nothing here is new cost — it is the same verify join with two
    extra divisions.

    Candidates stay NON-distinct through the verify (multi-band
    collisions are ~1% of pairs, and an early pair-distinct forces an
    exchange that breaks the broadcast verify join — measured 5x
    slower); the output is deduped after the threshold filter, where
    the surviving set is tiny.
    """
    if prededup_exact:
        # opt-in representative mode, same contract note as
        # fuzzy_join: pairs name only each exact-text group's min-id
        # representative (the 20× smoke's copy-heavy corpus emits
        # 1.14M raw verified pairs; representatives collapse it to
        # the distinct-text pair set)
        df, _ = _exact_prepass(df, id_col, text_col)
    cands = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_k,
        max_bucket=max_bucket, distinct_pairs=False,
    )
    # same width pin as the jaccard verify (see ngram_jaccard_pairs):
    # tiny pair bytes must not single-thread the set intersections
    cands = ensure_parallelism(cands)
    sh = _shingle_sets(
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col))),
        [id_col], text_col, shingle_k, "sh",
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    out = (
        _with_overlap(cands.join(a, "id_a").join(b, "id_b"), "sh_a", "sh_b")
        .withColumn(
            "containment_ab",
            F.round(
                F.col("inter").cast("double")
                / F.greatest(F.size("sh_a"), F.lit(1)),
                6,
            ),
        )
        .withColumn(
            "containment_ba",
            F.round(
                F.col("inter").cast("double")
                / F.greatest(F.size("sh_b"), F.lit(1)),
                6,
            ),
        )
        .where(
            (F.col("containment_ab") >= threshold)
            | (F.col("containment_ba") >= threshold)
        )
        .select("id_a", "id_b", "inter", "containment_ab", "containment_ba")
    )
    return out.distinct()


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_words: int = 32,
) -> DataFrame:
    """Segment-level exact dedup — the C4/RefinedWeb paragraph-dedup
    shape adapted to unpunctuated corpora: documents split into
    non-overlapping ``segment_words``-token segments (via
    :func:`fuel_spark.ops.text.chunk_documents` with stride ==
    chunk_size), each segment hashed, and every repeat of a segment
    beyond its first (min (doc, position)) occurrence flagged.

    Finer-grained than doc-level exact dedup (catches boilerplate
    repeated INSIDE otherwise-distinct documents) and cheaper than
    the n-gram span machinery (one 16-byte digest per segment on the
    wire, no gram explode).  Two shuffles, both on seg_hash — the agg
    and the flag-join share the partitioning, so AQE plans the second
    exchange-free.

    Output: one row per segment — id, chunk_id, seg_hash, n_copies
    (corpus-wide), is_dup (true for every occurrence after the
    keeper).
    """
    from fuel_spark.ops.text import chunk_documents

    segs = chunk_documents(
        df, text_col, id_col, chunk_size=segment_words, stride=segment_words
    ).select(id_col, "chunk_id", F.md5(F.col("chunk_text")).alias("seg_hash"))
    stats = segs.groupBy("seg_hash").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min(F.struct(id_col, "chunk_id")).alias("_keep"),
    )
    keep = (F.col(f"_keep.{id_col}") == F.col(id_col)) & (
        F.col("_keep.chunk_id") == F.col("chunk_id")
    )
    return (
        segs.join(stats, "seg_hash")
        .select(
            id_col,
            "chunk_id",
            "seg_hash",
            "n_copies",
            (~keep).alias("is_dup"),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions: per-doc status
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` — the
    ingest-ops primitive for incremental corpus maintenance (what
    moved between crawls; feed `changed`+`added` into the incremental
    index path, `removed` into retention tooling).

    One full-outer join of md5 digests keyed on the id: only 16-byte
    digests and ids shuffle, never text — at 100 TB the diff costs
    two narrow scans and one id-keyed exchange.
    """
    o = old.select(F.col(id_col), F.md5(F.col(text_col)).alias("_ho"))
    n = new.select(F.col(id_col), F.md5(F.col(text_col)).alias("_hn"))
    status = (
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") != F.col("_hn"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, id_col, "full_outer")
        .select(F.col(id_col), status.alias("status"))
    )


def apply_segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_words: int = 32,
) -> DataFrame:
    """The APPLY tier of :func:`segment_dedup`: drop every duplicate
    segment occurrence (every repeat beyond the corpus-wide keeper)
    and reassemble each document's surviving segments, in order, into
    a cleaned text column — the C4/RefinedWeb "remove repeated
    boilerplate spans, keep the document" pass, where doc-level dedup
    would throw away the whole page.

    Same two seg_hash shuffles as the flag tier, plus one doc-keyed
    rollup for reassembly (sort_array over (chunk_id, words) structs —
    per-doc arrays, bounded by document length).  Documents whose
    every segment is a repeat come back with empty text — kept, so
    the caller decides the drop policy.

    Output: id, clean text (normalized-token join of surviving
    segments), n_kept, n_dropped.
    """
    flags = segment_dedup(df, id_col, text_col, segment_words)
    from fuel_spark.ops.text import chunk_documents

    segs = chunk_documents(
        df, text_col, id_col, chunk_size=segment_words, stride=segment_words
    )
    joined = segs.join(flags, [id_col, "chunk_id"]).select(
        id_col, "chunk_id", "chunk_text", "is_dup"
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("is_dup"),
                                F.struct("chunk_id", "chunk_text"),
                            )
                        )
                    ),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias(text_col),
            F.sum(F.when(~F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
        )
    )


def merge_into_index(
    index: DataFrame,
    accepted_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
) -> DataFrame:
    """Incremental index maintenance — the missing third step of the
    screen-vs-index lifecycle (build: ``with_minhash_bands``; screen:
    ``near_dup_stream`` / ``dedup_screen_vs_index``; MERGE: this).
    Docs that survived a screen are sketched with the SAME minhash
    family and their band rows appended, so the next batch screens
    against both the frozen corpus and everything accepted since.

    Pure union of narrow projections — no shuffle, no rebuild; in
    production append the new band rows to the index's parquet
    partition (write_dataset mode='append') rather than re-writing.
    The id column is cast to the index's id dtype so unions stay
    schema-stable across ingest sources.
    """
    new_bands = with_minhash_bands(
        accepted_docs, id_col, text_col, num_hashes, bands, shingle_k
    )
    cols = index.columns
    id_type = dict(index.dtypes)[cols[0]]
    return index.unionByName(
        new_bands.select(
            F.col(id_col).cast(id_type).alias(cols[0]), "band_id", "band_key"
        )
    )


def compact_index(
    index: DataFrame,
    live_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    index_id_col: str = "doc_id",
) -> DataFrame:
    """Periodic compaction of an append-only MinHash band index — the
    maintenance pass a year-long crawl needs after thousands of
    :func:`merge_into_index` appends (VERDICT r5 ask #7).  Three
    decays accumulate in an append-only index and each taxes every
    subsequent screen forever: (1) REPLAYED band rows — re-merged
    batches and at-least-once ingest append the same (id, band_id,
    band_key) row twice; (2) TOMBSTONES — docs later removed from the
    corpus (takedowns, re-crawls that superseded an id) still screen
    new data and spuriously flag it; (3) HOT BUCKETS — boilerplate
    band keys whose member list exceeds ``max_bucket``: the screen
    SKIPS them by contract (see ``dedup_screen_vs_index``), so their
    rows are pure scan+shuffle tax.  Compaction drops all three.

    Shuffle story: one dropDuplicates shuffle keyed on the full row,
    one bucket-sizing aggregation on (band_id, band_key) whose result
    is joined back (the bucket-size frame is band-key-sized, far
    smaller than the index), and — when ``live_ids`` is given — one
    left_semi join on the id (broadcast when the live set is small,
    AQE decides).  Everything is linear in index rows; nothing is
    pairwise.  File-level small-file compaction is the separate
    :func:`fuel_spark.sources.sink.compact_dataset` (rewrite to
    ~target-MB files) — run both on the same maintenance cadence.

    Re-banding note: changing the band family itself (num_hashes /
    bands / shingle_k, e.g. tightening the similarity threshold) is
    NOT a compaction — band keys are one-way hashes, so that path is
    a rebuild via :func:`with_minhash_bands` over the live corpus.

    Output: the compacted index, same (id, band_id, band_key) schema.

    ``index_id_col`` names the index's id column explicitly (ADVICE
    r6: positional ``cols[0]`` would silently dedupe/join on the
    wrong column if a caller reordered the frame); ``id_col`` names
    the id column of ``live_ids``.
    """
    cols = index.columns
    if index_id_col not in cols:
        raise ValueError(
            f"compact_index: index has no column {index_id_col!r} "
            f"(columns: {cols}); pass index_id_col explicitly"
        )
    idx_id = index_id_col
    out = index
    if live_ids is not None:
        id_type = dict(index.dtypes)[idx_id]
        keep = live_ids.select(
            F.col(id_col).cast(id_type).alias(idx_id)
        ).distinct()
        out = out.join(keep, idx_id, "left_semi")
    if max_bucket is not None:
        # r11 (guide §2.4 "share one exchange"): dedup and bucket
        # sizing are both (band_id, band_key)-clustered operations,
        # so ONE explicit repartition on the bucket key serves both —
        # distinct() needs clustering on all columns (satisfied by
        # the subset hash partitioning, no new Exchange) and the
        # bucket count becomes a window over the same partitioning
        # instead of an aggregate + join-back.  Before: three index
        # Exchanges (full-row dedup hash, sizes aggregation, the
        # size join-back re-shuffling the index by bucket key);
        # after: one.  The live-id semi-join moved ahead of the
        # dedup (filter commutes with distinct) so it cannot disturb
        # the bucket-key partitioning.  Skew exposure is unchanged:
        # the old size JOIN-BACK already co-located the index by
        # (band_id, band_key); hot boilerplate buckets above the cap
        # are dropped right after they are counted either way.
        out = (
            out.repartition("band_id", "band_key")
            .distinct()
            .withColumn(
                "_bucket_n",
                F.count(F.lit(1)).over(
                    Window.partitionBy("band_id", "band_key")
                ),
            )
            .where(F.col("_bucket_n") <= int(max_bucket))
            .drop("_bucket_n")
        )
    else:
        out = out.dropDuplicates(cols)
    return out


def index_bucket_profile(
    index: DataFrame,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Band-index health report — the dashboard that tells an index
    owner when to run :func:`compact_index`: per band, total rows,
    bucket count, the largest bucket, mean bucket size, and how many
    buckets exceed the screen's skip cap (rows the screen pays to
    scan but never uses — pure tax, see ``dedup_screen_vs_index``).

    One (band_id, band_key) count shuffle then a per-band rollup on
    ≤ bands keys — both map-side combinable; no order statistics, so
    no window anywhere.  Output: band_id, n_rows, n_buckets,
    max_bucket_sz, mean_bucket, n_over_cap.
    """
    sizes = index.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("_sz")
    )
    return (
        sizes.groupBy("band_id")
        .agg(
            F.sum("_sz").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("_sz").cast("bigint").alias("max_bucket_sz"),
            F.sum(F.when(F.col("_sz") > int(max_bucket), 1).otherwise(0))
            .cast("bigint")
            .alias("n_over_cap"),
        )
        .withColumn(
            "mean_bucket",
            F.round(
                F.col("n_rows").cast("double")
                / F.col("n_buckets").cast("double"),
                6,
            ),
        )
        .select(
            "band_id", "n_rows", "n_buckets", "max_bucket_sz",
            "mean_bucket", "n_over_cap",
        )
    )


def incremental_dedup_summary(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """The incremental-dedup LIFECYCLE as one operator (VERDICT r6
    ask #6): diff the new snapshot against the old → screen the
    added/changed docs against the old corpus's band index → merge
    the survivors in → compact — with a per-stage row-count summary
    as the output, the audit trail an ingest run logs.  The composed
    twin of what ``pretrain_pipeline`` does for curation: each stage
    is an existing audited operator (:func:`corpus_diff`,
    :func:`with_minhash_bands`, :func:`merge_into_index`,
    :func:`compact_index`); this op pins their CONTRACT SEAMS.

    Shuffle story inherits from the parts: digest-keyed diff, banded
    screen (never pairwise), union merge, linear compaction.  The
    old-index and incoming-bands frames are each referenced by
    multiple stages, so both are materialized once.

    Output: stage (ordinal), stage_name, n (9 constant rows).
    """
    diff = materialize(corpus_diff(old, new, id_col, text_col))
    incoming_ids = diff.where(F.col("status").isin("added", "changed"))
    incoming = new.join(
        incoming_ids.select(id_col), id_col, "left_semi"
    )
    idx = materialize(
        with_minhash_bands(old, id_col, text_col, num_hashes, bands, shingle_k)
    )
    inc_bands = materialize(
        with_minhash_bands(
            incoming, id_col, text_col, num_hashes, bands, shingle_k
        )
    )
    # consumed 3x: the stage-6 count, the survivors anti-join and the
    # merged-bands anti-join below
    flagged = materialize(
        inc_bands.join(
            idx.select("band_id", "band_key").distinct(),
            ["band_id", "band_key"],
            "left_semi",
        )
        .select(id_col)
        .distinct()
    )
    survivors = incoming.join(flagged, id_col, "left_anti")
    # r10 optimization (guide §1.2 "don't compute things you throw
    # away"): merge_into_index(idx, survivors) would re-run the whole
    # minhash subtree (normalize + shingle + K rehashes) over the
    # survivor texts — but their band rows are already IN the
    # checkpointed inc_bands (banding is a deterministic per-row
    # projection, so bands(survivors) == inc_bands minus the flagged
    # ids).  Reuse them with one id anti-join instead of re-sketching.
    id_type = dict(idx.dtypes)[idx.columns[0]]
    merged = idx.unionByName(
        inc_bands.join(flagged, id_col, "left_anti").select(
            F.col(id_col).cast(id_type).alias(idx.columns[0]),
            "band_id",
            "band_key",
        )
    )
    compacted = compact_index(
        merged,
        live_ids=new.select(id_col),
        id_col=id_col,
        max_bucket=max_bucket,
        index_id_col=idx.columns[0],
    )

    def stage(i: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(i).cast("bigint").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).alias("n"),
        )

    parts = [
        stage(1, "old_docs", old),
        stage(2, "new_docs", new),
        stage(3, "diff_added", diff.where(F.col("status") == "added")),
        stage(4, "diff_changed", diff.where(F.col("status") == "changed")),
        stage(5, "diff_removed", diff.where(F.col("status") == "removed")),
        stage(6, "screen_flagged", flagged),
        stage(7, "screen_survivors", survivors),
        stage(8, "index_rows_merged", merged),
        stage(9, "index_rows_compacted", compacted),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dedup_rate_by_group(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group exact-duplicate accounting — the "which domain ships
    boilerplate" dashboard: for each group, total docs, docs whose
    text digest appears more than once ANYWHERE in the corpus
    (duplicate groups cross domains — mirror pages, syndication), and
    the docs the keep-min policy would actually drop.

    One digest-keyed count join (16-byte digests shuffle, never
    text) + one group rollup.  Output: group, n_docs, n_dup_docs,
    n_losers, dup_rate.
    """
    digests = df.select(
        F.col(group_col), F.col(id_col), F.md5(F.col(text_col)).alias("_h")
    )
    groups = digests.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(id_col).alias("_keep"),
    )
    return (
        digests.join(groups, "_h")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.sum(
                F.when(F.col(id_col) != F.col("_keep"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_losers"),
        )
        .withColumn(
            "dup_rate",
            F.round(
                F.col("n_dup_docs").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ),
        )
    )


def hot_buckets(
    index: DataFrame,
    k: int = 3,
) -> DataFrame:
    """The top-``k`` hottest buckets per band by member count — the
    drill-down companion to :func:`index_bucket_profile`: WHICH band
    keys are the boilerplate magnets (navigation chrome, licence
    headers) that over-cap skipping silently drops.  One bucket-size
    rollup + a band-partitioned rank window (deterministic ties:
    size desc, key asc); output ≤ bands × k rows.

    Output: band_id, band_key, bucket_sz, rank.
    """
    from pyspark.sql import Window

    sizes = index.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("bucket_sz")
    )
    w = Window.partitionBy("band_id").orderBy(
        F.col("bucket_sz").desc(), F.col("band_key").asc()
    )
    return (
        sizes.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("band_id", "band_key", "bucket_sz", "rank")
    )


def candidate_pair_budget(
    index: DataFrame,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Verify-stage cost planner for a band index: per band, the
    candidate pairs the bucket join will emit (Σ C(sz, 2) over
    in-cap buckets) and the pairs the over-cap skip forfeits — the
    number that says whether the NEXT dedup run fits its budget
    before anything expensive starts (companion to
    :func:`index_bucket_profile`, which reports rows; this reports
    PAIRS, the quantity that actually explodes).

    All-integer arithmetic over the bucket-size table; two map-side
    combinable rollups.  Output: band_id, n_pairs_budget,
    n_pairs_skipped, n_buckets_skipped.
    """
    sizes = index.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("_sz")
    )
    pairs = F.expr("_sz * (_sz - 1) DIV 2")
    return sizes.groupBy("band_id").agg(
        F.sum(F.when(F.col("_sz") <= int(max_bucket), pairs).otherwise(0))
        .cast("bigint")
        .alias("n_pairs_budget"),
        F.sum(F.when(F.col("_sz") > int(max_bucket), pairs).otherwise(0))
        .cast("bigint")
        .alias("n_pairs_skipped"),
        F.sum(F.when(F.col("_sz") > int(max_bucket), 1).otherwise(0))
        .cast("bigint")
        .alias("n_buckets_skipped"),
    )


def snapshot_token_accounting(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-level snapshot accounting — :func:`corpus_diff` extended
    from doc counts to the token deltas a training-budget review
    needs: per diff status, how many documents and how many tokens
    the old and new snapshots carry, and the net token movement.

    Same shape as the diff: one full-outer join keyed on the id
    carrying (digest, token count) — never text — then a 4-row
    status rollup.  Output: status, n_docs, old_tokens, new_tokens,
    net_tokens.
    """
    from fuel_spark.functions import words

    def prep(df: DataFrame, hn: str, tn: str) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.md5(F.col(text_col)).alias(hn),
            F.size(words(F.col(text_col))).cast("bigint").alias(tn),
        )

    o = prep(old, "_ho", "_to")
    n = prep(new, "_hn", "_tn")
    status = (
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") != F.col("_hn"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, id_col, "full_outer")
        .select(
            status.alias("status"),
            F.coalesce(F.col("_to"), F.lit(0)).alias("_to"),
            F.coalesce(F.col("_tn"), F.lit(0)).alias("_tn"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_to").cast("bigint").alias("old_tokens"),
            F.sum("_tn").cast("bigint").alias("new_tokens"),
            (F.sum("_tn") - F.sum("_to")).cast("bigint").alias("net_tokens"),
        )
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    left_text: str = "text",
    right_text: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    prededup_exact: bool = False,
) -> DataFrame:
    """Fuzzy record linkage ACROSS two corpora: candidate pairs from
    shared MinHash band buckets, verified by exact shingle Jaccard —
    the cross-table twin of the self-dedup pipeline (sketch →
    candidates → verify), e.g. crawl-vs-reference matching or
    catalog/entity linkage.

    Both sides sketch with the SAME band family; per-bucket id arrays
    collect once per side and the bucket join expands l x r pairs
    JVM-side, so work is Σ |l_bucket| x |r_bucket| — never |L| x |R|.
    ``max_bucket`` skips buckets larger than the cap on EITHER side
    (boilerplate band keys; a 10^5 x 10^5 bucket is 10^10 pairs) —
    the documented recall trade at the 100 TB tier.  Only candidate
    pairs fetch shingle sets for the verify join.

    ``prededup_exact=True`` collapses exact-duplicate texts on EACH
    side to their min-id representative before sketching — opt-in
    because it CHANGES the output contract (pairs name only the
    representatives; map back through :func:`exact_dedup` if every
    copy matters).  On dup-heavy corpora this is the difference
    between a representative-sized candidate set and a quadratic one
    (the 20× smoke's 20-copies sides emit 11M candidate pairs raw).

    Output: id_l, id_r, inter, uni, jaccard (>= threshold).
    """
    if prededup_exact:
        left, _ = _exact_prepass(left, left_id, left_text)
        right, _ = _exact_prepass(right, right_id, right_text)
    lb = with_minhash_bands(
        left.select(left_id, left_text), left_id, left_text,
        num_hashes, bands, shingle_k,
    )
    rb = with_minhash_bands(
        right.select(right_id, right_text), right_id, right_text,
        num_hashes, bands, shingle_k,
    )
    gl = lb.groupBy("band_id", "band_key").agg(
        F.array_sort(F.collect_list(left_id)).alias("_ids_l")
    )
    gr = rb.groupBy("band_id", "band_key").agg(
        F.array_sort(F.collect_list(right_id)).alias("_ids_r")
    )
    if max_bucket is not None:
        gl = gl.where(F.size("_ids_l") <= max_bucket)
        gr = gr.where(F.size("_ids_r") <= max_bucket)
    cand = (
        gl.join(gr, ["band_id", "band_key"])
        .select(F.explode("_ids_l").alias("id_l"), "_ids_r")
        .select("id_l", F.explode("_ids_r").alias("id_r"))
        .distinct()
    )

    def _sh(df, idc, txt, out_id, out_sh):
        d = ensure_parallelism(df.select(F.col(idc), F.col(txt)))
        d = _shingle_sets(d, [idc], txt, shingle_k)
        return d.select(F.col(idc).alias(out_id), F.col("_sh").alias(out_sh))

    a = _sh(left, left_id, left_text, "id_l", "_sh_l")
    b = _sh(right, right_id, right_text, "id_r", "_sh_r")
    # pin the verify width (see ngram_jaccard_pairs): tiny pair bytes
    # must not let AQE single-thread the set intersections
    cand = ensure_parallelism(cand)
    return (
        _with_overlap(cand.join(a, "id_l").join(b, "id_r"), "_sh_l", "_sh_r")
        .where(F.col("jaccard") >= threshold)
        .select("id_l", "id_r", "inter", "uni", "jaccard")
    )


def hamming_near_dup(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 16,
    radius: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs from a bit fingerprint (simhash / perceptual
    hash) within a Hamming radius — the step that turns a fingerprint
    COLUMN into duplicate PAIRS.

    Pigeonhole blocking: split the ``bits`` into ``radius + 1``
    contiguous bands; two hashes within ``radius`` bit flips must
    agree EXACTLY on at least one band, so candidates are bucket
    collisions on (band, band_bits) and the verify is one JVM
    ``bit_count(a ^ b) <= radius`` — no pairwise scan.

    SIZE-GUARDED two-pass expansion: short bands (16 bits / radius 3
    → 4-bit bands, 16 keys) make bucket size O(corpus/16), so a
    collect_list all-pairs bucket is a QUADRATIC ARRAY IN ONE ROW —
    the 10× smoke OOM'd exactly there.  Bucket sizes are counted
    first (one rollup on the band key); buckets ≤ ``max_bucket``
    expand all-pairs from a bounded array, oversized buckets degrade
    to star pairs (anchor = min member) built by a JOIN — linear rows,
    no array ever exceeds ``max_bucket`` structs.  All three stages
    (size rollup, small-bucket collect, star join) reuse the same
    (band, key) hash partitioning.  ``max_bucket=None`` disables the
    guard (exact pairs, only safe for high-cardinality fingerprints).

    Output: id_a, id_b (a < b), hamming.
    """
    bands = radius + 1
    width = (bits + bands - 1) // bands
    mask = (1 << width) - 1
    # materialize the narrow (id, hash) projection once: the callers
    # pass a LAZY fingerprint chain (simhash = words explode + bit
    # votes), and the band union + the size-guard join reference this
    # subtree up to 2·bands times — the 20× smoke measured the sketch
    # recomputing ~8× (29s).  The frame holds two bigints/row.
    tagged = materialize(
        df.select(
            F.col(id_col).alias("_id"),
            F.col(hash_col).cast("bigint").alias("_h"),
        )
    )
    # one explode instead of `bands` unions: a single pass over tagged
    band_structs = [
        F.struct(
            F.lit(b).alias("_band"),
            F.expr(f"shiftright(_h, {b * width}) & {mask}").alias("_key"),
        )
        for b in range(bands)
    ]
    all_bands = tagged.select(
        "_id", "_h", F.explode(F.array(*band_structs)).alias("_bk")
    ).select("_id", "_h", F.col("_bk._band").alias("_band"), F.col("_bk._key").alias("_key"))

    all_pairs = _all_pairs_sql("ms", "a", "b")

    if max_bucket is None:
        buckets = (
            all_bands.groupBy("_band", "_key")
            .agg(F.array_sort(F.collect_list(F.struct("_id", "_h"))).alias("ms"))
            .where(F.size("ms") > 1)
        )
        pairs = buckets.select(F.explode(F.expr(all_pairs)).alias("p"))
    else:
        sizes = all_bands.groupBy("_band", "_key").agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct("_id", "_h")).alias("_anchor"),
        )
        sized = all_bands.join(sizes, ["_band", "_key"])
        small = (
            sized.where((F.col("_n") <= max_bucket) & (F.col("_n") > 1))
            .groupBy("_band", "_key")
            .agg(F.array_sort(F.collect_list(F.struct("_id", "_h"))).alias("ms"))
            .select(F.explode(F.expr(all_pairs)).alias("p"))
        )
        large = (
            sized.where(F.col("_n") > max_bucket)
            .where(F.col("_id") != F.col("_anchor._id"))
            .select(
                F.struct(
                    F.col("_anchor._id").alias("_id"),
                    F.col("_anchor._h").alias("_h"),
                ).alias("a"),
                F.struct(F.col("_id"), F.col("_h")).alias("b"),
            )
            .select(F.struct("a", "b").alias("p"))
        )
        pairs = small.unionByName(large)

    return (
        pairs.select(
            F.least(F.col("p.a._id"), F.col("p.b._id")).alias("id_a"),
            F.greatest(F.col("p.a._id"), F.col("p.b._id")).alias("id_b"),
            F.expr("bit_count(p.a._h ^ p.b._h)").alias("hamming"),
        )
        .where(F.col("hamming") <= radius)
        .distinct()
    )



def pair_jaccard_histogram(pairs: DataFrame) -> DataFrame:
    """Decile histogram of verified near-dup pair similarities — the
    candidate-quality distribution behind threshold choice (a mass at
    0.0-0.2 means the bands are loose; a spike at 1.0 means exact
    dups leaked past the exact pass).  Input is any verified pair
    frame carrying a ``jaccard`` column (``ngram_jaccard_pairs``,
    ``fuzzy_join``); one map-side-combinable rollup onto <= 10 bins.

    Output: bin_tenths (floor(j*10)), n_pairs.
    """
    return (
        pairs.groupBy(
            F.floor(F.col("jaccard") * 10).cast("bigint").alias("bin_tenths")
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )

def pair_quality_stats(pairs: DataFrame) -> DataFrame:
    """Dedup-tuning rollup over verified near-dup pairs (the
    :func:`ngram_jaccard_pairs` output): pair count, exact mean
    Jaccard, and the share clearing the 0.5 / 0.8 thresholds — the
    one-row readout that says whether the LSH band settings are
    surfacing real duplicates or noise.

    The mean uses the exact integer rounded-division form (the
    jaccards are 6-dp decimals, so the scaled sum is an exact BIGINT)
    — engines disagree on double-rounding exact halves.
    """
    j6 = F.col("jaccard").cast("decimal(27,6)")
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(j6).alias("_sj"),
        F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0)).alias(
            "n_ge_05"
        ),
        F.sum(F.when(F.col("jaccard") >= 0.8, 1).otherwise(0)).alias(
            "n_ge_08"
        ),
    )
    return agg.select(
        "n_pairs",
        F.expr(
            "CAST((2 * abs(CAST(_sj * 1000000 AS BIGINT)) + n_pairs)"
            " DIV (2 * n_pairs) AS BIGINT) / 1e6"
        ).alias("avg_jaccard"),
        "n_ge_05",
        "n_ge_08",
    )


def prefix_dup_groups(
    df: DataFrame, id_col: str, text_col: str, prefix_len: int = 64
) -> DataFrame:
    """Shared-prefix duplicate groups: documents whose normalized
    first ``prefix_len`` characters coincide — the cheap detector for
    truncation artifacts and templated page heads that full-document
    hashing misses (the tails differ) and shingle Jaccard dilutes on
    long docs.

    One md5(prefix) rollup (16 B keys on the wire, same scale shape
    as exact_dedup); emits only groups with >1 member.
    Output: prefix_hash, n_docs, keep_id (min id in the group).
    """
    from fuel_spark.functions import norm_text

    h = df.select(
        F.col(id_col),
        F.md5(F.substring(norm_text(F.col(text_col)), 1, prefix_len)).alias(
            "prefix_hash"
        ),
    )
    return (
        h.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("prefix_hash")
    )


def dedup_summary(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Corpus dedup executive summary, one row: document count, exact
    duplicates (docs beyond each group's keeper), verified near-dup
    pairs at the threshold, and the exact-dup fraction — the
    before/after headline for a curation run.

    Composes :func:`exact_dedup` (16 B digest rollup) and the banded
    near-dup pipeline; both reductions are aggregate-sized.
    """
    groups = exact_dedup(df, id_col, text_col)
    exact = groups.agg(
        F.sum(F.col("dup_count") - 1).alias("n_exact_dup_docs"),
        F.count(F.lit(1)).alias("n_unique_texts"),
    )
    # max_bucket bounds the pair stage on boilerplate-heavy corpora
    # (the 10x smoke's 10-copies-per-doc corpus emits 12.6M quadratic
    # pairs by construction — pass a cap in production)
    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, max_bucket=max_bucket
    ).where(F.col("jaccard") >= threshold)
    near = pairs.agg(F.count(F.lit(1)).alias("n_near_dup_pairs"))
    total = df.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        total.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(near))
        .select(
            "n_docs",
            "n_unique_texts",
            F.col("n_exact_dup_docs").cast("bigint").alias("n_exact_dup_docs"),
            "n_near_dup_pairs",
            F.round(
                F.col("n_exact_dup_docs").cast("double") / F.col("n_docs"), 6
            ).alias("exact_dup_frac"),
        )
    )


def exact_vector_dedup(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact duplicate-vector groups: md5 over the 6-dp component
    string — repeated encodes of the same content collapse here
    before any cosine machinery runs (and a surprising group count is
    itself an encoder-pipeline bug signal).

    Same 16 B-digest rollup shape as :func:`exact_dedup`; rounding to
    6 dp makes the digest portable across float32 storage and the SQL
    oracle.  Emits only groups with >1 member.
    """
    # fixed-scale DECIMAL(18,6) string form on both engines (same
    # contract as the oracle's _arrstr_sql): raw double→string repr
    # rules differ between JVM and DuckDB
    digest = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double"), 6)
                .cast("decimal(18,6)")
                .cast("string"),
            ),
        )
    )
    return (
        df.select(F.col(id_col), digest.alias("vec_hash"))
        .groupBy("vec_hash")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min(id_col).alias("keep_id"),
        )
        .where(F.col("n_vecs") > 1)
        .orderBy("vec_hash")
    )


def minhash_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash calibration certificate, one row: over the LSH
    candidate pairs, the mean estimated Jaccard (share of agreeing
    minhashes), the mean exact shingle Jaccard, and the mean absolute
    error between them — the in-engine answer to "is the sketch
    faithful on THIS corpus", complementing tools/eval_recall.py's
    recall sweep.

    One sketch pass carries the per-doc minhash vector; candidates
    come from the banded pipeline; the exact side reuses the verify
    join.  All three means are exact-integer rounded divisions of
    6-dp decimal sums (engines disagree on double-rounding exact
    halves).
    """
    sk, _ = _minhash_sketch(
        df.select(F.col(id_col), F.col(text_col)), [id_col], text_col,
        num_hashes, bands, shingle_k,
    )
    cands = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_k
    )
    a = sk.select(
        F.col(id_col).alias("id_a"),
        F.col("_sh").alias("_sa"),
        *[F.col(f"_mh{j}").alias(f"_ma{j}") for j in range(num_hashes)],
    )
    b = sk.select(
        F.col(id_col).alias("id_b"),
        F.col("_sh").alias("_sb"),
        *[F.col(f"_mh{j}").alias(f"_mb{j}") for j in range(num_hashes)],
    )
    agree = sum(
        F.when(F.col(f"_ma{j}") == F.col(f"_mb{j}"), 1).otherwise(0)
        for j in range(num_hashes)
    )
    scored = (
        _with_overlap(cands.join(a, "id_a").join(b, "id_b"), "_sa", "_sb")
        .select(
            F.round(agree / F.lit(float(num_hashes)), 6)
            .cast("decimal(27,6)")
            .alias("est"),
            F.col("jaccard").cast("decimal(27,6)").alias("exact"),
        )
        .withColumn(
            "abs_err",
            F.when(F.col("est") >= F.col("exact"),
                   F.col("est") - F.col("exact"))
            .otherwise(F.col("exact") - F.col("est")),
        )
    )

    agg = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("est").alias("_se"),
        F.sum("exact").alias("_sx"),
        F.sum("abs_err").alias("_sd"),
    )
    return agg.select(
        F.col("n").alias("n_pairs"),
        F.expr(
            "CAST((2 * abs(CAST(_se * 1000000 AS BIGINT)) + n)"
            " DIV (2 * n) AS BIGINT)"
            " * (CASE WHEN _se < 0 THEN -1 ELSE 1 END) / 1e6"
        ).alias("mean_est_jaccard"),
        F.expr(
            "CAST((2 * abs(CAST(_sx * 1000000 AS BIGINT)) + n)"
            " DIV (2 * n) AS BIGINT)"
            " * (CASE WHEN _sx < 0 THEN -1 ELSE 1 END) / 1e6"
        ).alias("mean_exact_jaccard"),
        F.expr(
            "CAST((2 * abs(CAST(_sd * 1000000 AS BIGINT)) + n)"
            " DIV (2 * n) AS BIGINT) / 1e6"
        ).alias("mean_abs_err"),
    )


def dedup_threshold_sweep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    thresholds: tuple = (0.5, 0.7, 0.8, 0.9),
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Dedup tuning curve in ONE pass: for each candidate threshold,
    how many verified pairs clear it and how many documents the
    keep-min policy would kill — the what-if sweep that picks a
    jaccard cutoff WITHOUT re-running the pipeline per setting (the
    pair set is computed once; thresholds are a 4-row explode over
    it).

    Thresholds with zero qualifying pairs still report (0, 0) rows —
    a sweep that silently drops empty settings reads as "no data"
    instead of "nothing dies here".  Counts are exact; the distinct
    kill-count aggregates over the (small) pair set, never the
    corpus.
    """
    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, threshold=0.0, num_hashes=num_hashes,
        bands=bands, shingle_k=shingle_k, max_bucket=max_bucket,
        distinct_pairs=True,
    ).select("id_a", "id_b", "jaccard")
    tvals = [float(t) for t in thresholds]
    texp = F.explode(F.array(*[F.lit(t) for t in tvals])).alias("threshold")
    counted = (
        pairs.select("*", texp)
        .where(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.count_distinct("id_b").cast("bigint").alias("n_docs_killed"),
        )
    )
    base = df.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in tvals])).alias("threshold")
    )
    return base.join(counted, "threshold", "left").select(
        "threshold",
        F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
        F.coalesce("n_docs_killed", F.lit(0)).cast("bigint").alias("n_docs_killed"),
    )


def substring_seeds(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seed_k: int = 5,
) -> DataFrame:
    """Per-position word ``seed_k``-gram seed hashes — the shared
    front end of :func:`exact_substring_spans` and the streaming
    substring screen: one row per word position, columns
    (id_col, pos, gh) with ``gh`` the 16-hex md5 of the k words
    starting at 1-based ``pos``.  Stateless projection + explode
    (works identically on batch and streaming frames); text never
    leaves the scan, only fixed-width hashes and int positions.
    """
    from fuel_spark.functions import words

    base = ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col).alias("_t"))
    ).select(id_col, F.explode(F.array(words(F.col("_t")))).alias("_w"))
    return base.select(
        id_col,
        F.explode(
            F.expr(
                f"CASE WHEN size(_w) >= {seed_k} THEN"
                f" transform(sequence(1, size(_w) - {seed_k - 1}),"
                f" i -> struct(i AS pos, {_gram_hash_sql('i', seed_k)} AS gh))"
                f" ELSE CAST(array() AS array<struct<pos:int,gh:string>>) END"
            )
        ).alias("_s"),
    ).select(id_col, F.col("_s.pos").alias("pos"), F.col("_s.gh").alias("gh"))


def exact_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 10,
    seed_k: int = 5,
    max_positions: int | None = 256,
) -> DataFrame:
    """Maximal cross-document repeated word substrings — the full
    ExactSubstr method of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"), re-expressed for Spark as
    seed-and-extend on k-gram diagonals instead of a monolithic
    suffix array (the reference implementation's single-node suffix
    array over the concatenated corpus cannot shard; the diagonal
    formulation is embarrassingly parallel and EXACT for spans
    >= seed_k).

    Method: every word position emits its k-gram seed hash; positions
    in two documents sharing a seed land on a diagonal
    ``pos_a - pos_b``; a maximal common substring of W >= seed_k
    words is exactly one run of ``W - seed_k + 1`` consecutive seeds
    on one diagonal, recovered with the islands trick
    (``pos_a - row_number``) — so every maximal shared span of
    length >= max(min_len, seed_k) is emitted exactly once, with its
    coordinates in both documents.

    Scale shape: seeds ship as (16-hex md5, int pos) — fixed width,
    never raw text; the seed self-join is bounded by the
    ``max_positions`` posting-list cap (a k-gram occurring at more
    positions than the cap is dropped BEFORE the join, so join work
    is <= cap * total_seed_occurrences, never corpus-quadratic —
    the ``text_similar_docs`` max_df pattern).  CAVEAT, stated: a
    span whose every seed is capped is missed; at the default the
    only capped grams are boilerplate (stopword runs), exactly the
    spans exact-dedup should not fire on.  The islands window
    partitions by (doc_a, doc_b, diagonal) — pair-local, never
    global.  Output: doc_a, doc_b, start_a, start_b, span_words,
    span_hash (16-hex md5 of the shared words, recomputed from
    doc_a's text — the cross-engine certificate that coordinates
    point at identical substrings).
    """
    from pyspark.sql import Window
    from fuel_spark.functions import words

    base = ensure_parallelism(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    ).select("_id", F.explode(F.array(words(F.col("_t")))).alias("_w"))
    seeds = substring_seeds(df, id_col, text_col, seed_k).select(
        F.col(id_col).alias("_id"), "pos", "gh"
    )
    if max_positions is not None:
        # r10 optimization (guide §2.4): the posting-list cap was an
        # aggregate + join-back — TWO evaluations of the seed subtree
        # (it was unreferenced-elsewhere and Spark replays shared
        # subtrees) and two shuffles.  A window count over the same gh
        # key is ONE shuffle, no sort (no orderBy), identical rows.
        seeds = (
            seeds.withColumn(
                "_n", F.count(F.lit(1)).over(Window.partitionBy("gh"))
            )
            .where(F.col("_n") <= max_positions)
            .drop("_n")
        )
    seeds = materialize(seeds)  # both sides of the diagonal self-join
    a = seeds.select(
        F.col("gh"), F.col("_id").alias("doc_a"), F.col("pos").alias("pos_a")
    )
    b = seeds.select(
        F.col("gh"), F.col("_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    diag = (
        a.join(b, "gh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pos_a", "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("_diag"),
        )
    )
    w_run = Window.partitionBy("doc_a", "doc_b", "_diag").orderBy("pos_a")
    runs = diag.withColumn(
        "_run", F.col("pos_a") - F.row_number().over(w_run)
    )
    spans = (
        runs.groupBy("doc_a", "doc_b", "_diag", "_run")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(seed_k - 1)).alias("span_words"),
        )
        .where(F.col("span_words") >= max(min_len, seed_k))
        .drop("_diag", "_run")
    )
    # certificate: re-derive the span text from doc_a's word array and
    # hash it — proves the coordinates address identical substrings in
    # any engine that recomputes it (the spans frame is tiny next to
    # the corpus, so this is a broadcast-scale join back to the docs)
    doc_words = base.select(F.col("_id").alias("doc_a"), F.col("_w"))
    return (
        spans.join(doc_words, "doc_a")
        .select(
            "doc_a", "doc_b", "start_a", "start_b",
            F.col("span_words").cast("bigint").alias("span_words"),
            F.expr(_gram_hash_sql("start_a", "CAST(span_words AS INT)")).alias("span_hash"),
        )
    )


def self_repetition_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 10,
    seed_k: int = 5,
    max_positions: int | None = 256,
) -> DataFrame:
    """WITHIN-document repeated substrings — the diagonal-islands
    method of :func:`exact_substring_spans` restricted to one
    document: maximal pairs of identical word runs inside the same
    text (templated/spammy self-repetition, the signal behind
    Gopher's repetition filters (Rae et al. 2021 §A.1.1) but with
    exact span coordinates instead of aggregate fractions).

    Seeds self-join per document on the seed hash with ``pos_a <
    pos_b`` (each repeated pair reported once, earliest-first);
    islands on the ``pos_a - pos_b`` diagonal recover maximal runs
    exactly as in the cross-doc operator.  The join is keyed on
    (id, gh), so work is per-document and bounded by the same
    ``max_positions`` posting-list cap — a pathological single doc
    (the same line 10k times) degrades at the cap instead of going
    quadratic on one task.  Output: doc id, start_a, start_b
    (start_a < start_b), span_words — one row per maximal repeated
    run pair of length >= max(min_len, seed_k).
    """
    from pyspark.sql import Window

    seeds = substring_seeds(df, id_col, text_col, seed_k)
    if max_positions is not None:
        # window-count cap: one shuffle, no subtree replay (see
        # exact_substring_spans — same r10 optimization)
        seeds = (
            seeds.withColumn(
                "_n", F.count(F.lit(1)).over(Window.partitionBy("gh"))
            )
            .where(F.col("_n") <= max_positions)
            .drop("_n")
        )
    seeds = materialize(seeds)
    a = seeds.select(id_col, F.col("gh"), F.col("pos").alias("pos_a"))
    b = seeds.select(id_col, F.col("gh"), F.col("pos").alias("pos_b"))
    diag = (
        a.join(b, [id_col, "gh"])
        .where(F.col("pos_a") < F.col("pos_b"))
        .select(
            id_col, "pos_a", "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("_diag"),
        )
    )
    w_run = Window.partitionBy(id_col, "_diag").orderBy("pos_a")
    runs = diag.withColumn(
        "_run", F.col("pos_a") - F.row_number().over(w_run)
    )
    return (
        runs.groupBy(id_col, "_diag", "_run")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(seed_k - 1))
            .cast("bigint")
            .alias("span_words"),
        )
        .where(F.col("span_words") >= max(min_len, seed_k))
        .drop("_diag", "_run")
    )


def exact_substring_apply(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 10,
    seed_k: int = 5,
    max_positions: int | None = 256,
) -> DataFrame:
    """Remove cross-document duplicated substrings from the HIGHER-id
    loser of each span pair (first occurrence survives, matching
    ``apply_dedup``'s min-id-keeps convention: the span stays in
    doc_a, is cut from doc_b) — the removal step of Lee et al. 2022
    ExactSubstr dedup.

    Overlapping/adjacent spans within a document are merged with the
    classic running-max interval sweep (a per-document window over
    that document's span list — span counts per doc are tiny next to
    the corpus) before cutting, so nested matches never double-cut.
    Reconstruction filters each word position against its merged cut
    intervals and rejoins — one broadcast-scale join of intervals
    back to the corpus, no shuffle of the documents themselves beyond
    it.  Output: one row per input document — doc_id, n_words,
    n_words_removed, text_clean (words re-joined with single spaces;
    documents with no spans pass through with 0 removed).

    Cost is input-quadratic in CROSS-DOC duplicate mass (every span
    is emitted per doc pair: a group of c identical documents
    contributes c(c-1)/2 pairs), which is the operator's contract —
    but whole-document twins don't need substring surgery, so the
    scale composition is :func:`apply_dedup` (exact tier) FIRST, then
    this on the survivors: the 20x twin-corpus smoke that costs ~30s
    raw collapses back to the base corpus under the pre-pass.  The
    same composition order Lee et al. use (ExactSubstr runs beside,
    not instead of, document-level dedup).
    """
    spans = exact_substring_spans(
        df, id_col, text_col, min_len=min_len, seed_k=seed_k,
        max_positions=max_positions,
    ).select(
        F.col("doc_b").alias("_id"),
        F.col("start_b").cast("int").alias("_s"),
        (F.col("start_b") + F.col("span_words")).cast("int").alias("_e"),
    )
    return _apply_cuts(df, spans, id_col, text_col)


def _apply_cuts(
    df: DataFrame, cuts: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Shared removal back end of :func:`exact_substring_apply` and
    :func:`decontaminate_spans`: merge each document's cut intervals
    (classic running-max sweep — a per-document window over that
    document's tiny span list) so nested/overlapping matches never
    double-cut, then rebuild text by filtering word positions against
    the merged intervals.  ``cuts`` columns: _id, _s, _e (1-based,
    end-exclusive, word positions).  Output: id, n_words,
    n_words_removed, text_clean.
    """
    from pyspark.sql import Window
    from fuel_spark.functions import words

    # merge intervals per doc: a new group starts where start exceeds
    # the running max end of everything before it
    w_ord = Window.partitionBy("_id").orderBy("_s", "_e")
    w_prev = (
        Window.partitionBy("_id").orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        cuts.withColumn("_pmax", F.max("_e").over(w_prev))
        .withColumn(
            "_grp",
            F.sum(
                F.when(
                    F.col("_pmax").isNull() | (F.col("_s") > F.col("_pmax")),
                    1,
                ).otherwise(0)
            ).over(w_ord),
        )
        .groupBy("_id", "_grp")
        .agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
        .groupBy("_id")
        .agg(
            F.collect_list(F.struct(F.col("_s"), F.col("_e"))).alias("_cuts")
        )
    )
    docs = ensure_parallelism(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    ).select("_id", F.explode(F.array(words(F.col("_t")))).alias("_w"))
    out = (
        docs.join(merged, "_id", "left")
        .withColumn(
            "_c",
            F.coalesce(
                F.col("_cuts"),
                F.expr("CAST(array() AS array<struct<_s:int,_e:int>>)"),
            ),
        )
        .withColumn(
            "_kept",
            F.expr(
                "filter(transform(_w, (x, i) -> struct(x AS w, i + 1 AS p)),"
                " s -> NOT exists(_c, c -> s.p >= c._s AND s.p < c._e))"
            ),
        )
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.size("_w").cast("bigint").alias("n_words"),
        (F.size("_w") - F.size("_kept")).cast("bigint").alias("n_words_removed"),
        F.expr("array_join(transform(_kept, s -> s.w), ' ')").alias(
            "text_clean"
        ),
    )


def decontaminate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_id_col: str,
    bench_text_col: str,
    min_len: int = 10,
    seed_k: int = 5,
    max_positions: int | None = 256,
) -> DataFrame:
    """SURGICAL benchmark decontamination: cut from each corpus
    document every maximal word run of length >= ``min_len`` that
    also appears verbatim in the benchmark/eval set — the span-level
    upgrade of :func:`decontaminate` (which only FLAGS documents by
    n-gram overlap).  Flag-and-drop loses a whole document to one
    quoted test item; this removes exactly the leaked words and keeps
    the rest, the ExactSubstr machinery pointed across corpora.

    Corpus seeds join BENCHMARK seeds on the gram hash (the benchmark
    side is eval-set-sized — tiny next to the corpus — so this is
    effectively a broadcast-scale semi-structure, never
    corpus x corpus); diagonal islands per (doc, bench doc) recover
    maximal shared runs exactly as in :func:`exact_substring_spans`;
    the cut back end is shared (`_apply_cuts` — merged intervals,
    single rebuild).  ``max_positions`` caps hub grams on EACH side.
    Output: id, n_words, n_words_removed, text_clean — one row per
    corpus document, benchmark rows never emitted.
    """
    from pyspark.sql import Window

    seeds = substring_seeds(df, id_col, text_col, seed_k).select(
        F.col(id_col).alias("_id"), "pos", "gh"
    )
    bseeds = substring_seeds(
        benchmark, bench_id_col, bench_text_col, seed_k
    ).select(
        F.col(bench_id_col).alias("_bid"),
        F.col("pos").alias("bpos"),
        "gh",
    )
    if max_positions is not None:
        # window-count caps: one shuffle per side, no subtree replay
        # (see exact_substring_spans — same r10 optimization)
        seeds = (
            seeds.withColumn(
                "_n", F.count(F.lit(1)).over(Window.partitionBy("gh"))
            )
            .where(F.col("_n") <= max_positions)
            .drop("_n")
        )
        bseeds = (
            bseeds.withColumn(
                "_n", F.count(F.lit(1)).over(Window.partitionBy("gh"))
            )
            .where(F.col("_n") <= max_positions)
            .drop("_n")
        )
    diag = seeds.join(bseeds, "gh").select(
        "_id", "_bid", "pos", "bpos",
        (F.col("pos") - F.col("bpos")).alias("_diag"),
    )
    w_run = Window.partitionBy("_id", "_bid", "_diag").orderBy("pos")
    runs = diag.withColumn(
        "_run", F.col("pos") - F.row_number().over(w_run)
    )
    spans = (
        runs.groupBy("_id", "_bid", "_diag", "_run")
        .agg(
            F.min("pos").alias("_s0"),
            (F.count(F.lit(1)) + F.lit(seed_k - 1)).alias("_len"),
        )
        .where(F.col("_len") >= max(min_len, seed_k))
        .select(
            "_id",
            F.col("_s0").cast("int").alias("_s"),
            (F.col("_s0") + F.col("_len")).cast("int").alias("_e"),
        )
    )
    return _apply_cuts(df, spans, id_col, text_col)


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    prededup_exact: bool = True,
) -> DataFrame:
    """Edit-distance similarity self-join: every pair of documents
    whose normalized texts are within ``max_dist`` Levenshtein edits,
    with the exact distance — the string-similarity join underneath
    entity resolution, OCR/transcription near-dup detection, and
    typo-variant collapsing, where shingle Jaccard is too coarse
    (it cannot rank a 2-edit twin above a 5-edit one).

    Blocking is PassJoin-style pigeonhole segmentation (Li, Deng &
    Feng, "PassJoin: a partition-based method for similarity joins",
    VLDB 2012): each text is partitioned into ``max_dist + 1``
    contiguous segments; if ed(a, b) <= max_dist, at most max_dist
    segments of `a` are touched by edits, so at least one segment of
    `a` appears VERBATIM in `b`, shifted by at most max_dist
    positions (each edit moves downstream text by <= 1).  Index side
    emits each doc's tau+1 segments keyed (own_length, seg_idx,
    content); probe side emits, for every partner length l in
    [L - tau, L] (probing DOWNWARD only — the longer doc of a pair
    finds the shorter, halving fan-out) and every segment index, its
    substrings at the allowed shifted positions of THAT partner's
    segmentation.  An equality bucket join on the key is then
    COMPLETE: no qualifying pair can be missed (property-tested
    against planted edits).  Keys travel as xxhash64(l, seg_idx,
    content) — 8 bytes instead of a segment string; a hash collision
    only adds a candidate, which the verify discards.  Candidate
    fan-out per doc is (tau+1) lengths x (tau+1) segments x (2tau+1)
    shifts — constant in corpus size, linear overall.  Texts shorter
    than tau+1 characters cannot host tau+1 non-empty segments and
    take a length-keyed short-doc bucket instead.

    ``prededup_exact`` (default True — unlike :func:`fuzzy_join`, the
    output contract is UNCHANGED): exact-duplicate texts collapse to
    their min-id representative before blocking, and the full pair
    set is restored afterward — within-group pairs at dist 0, and
    every representative near-pair expanded to all member cross
    pairs, which share the distance by definition.  Without this, g
    copies of a text put g members in every one of its buckets and
    the bucket join goes copy-quadratic: the 10x adversarial smoke
    (10 identical copies per doc) DID NOT COMPLETE in 20 minutes raw,
    vs ~2 min with the pre-pass — while gate hashes are identical by
    construction.  The restored output is itself quadratic in
    duplicate-group size, but that is the true answer's size, not
    plan waste.

    Scale story: candidate generation is one narrow projection per
    side of the bucket join (no self-join of the corpus); per-bucket
    work is |index_bucket| x |probe_bucket|, and ``max_bucket`` skips
    buckets above the cap on either side (boilerplate segments — the
    same documented recall trade as :func:`fuzzy_join`).  Only
    candidate pairs reach the levenshtein verify, which uses Spark\'s
    banded ``levenshtein(l, r, threshold)`` (early-exit above the
    threshold; O(len * tau), not O(len^2)).  Empty normalized texts
    are dropped (an all-punctuation doc has no edit identity).

    Output: id_a < id_b, dist (BIGINT, 0..max_dist).
    """
    tau = int(max_dist)
    nseg = tau + 1
    base = (
        df.select(F.col(id_col).alias("_id"), norm_text(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= 1)
        .withColumn("_L", F.length("_t"))
    )
    base = ensure_parallelism(base)

    if prededup_exact:
        # one group row per distinct text: representative id, the
        # text, and the sorted member-id array for restoration.
        groups = (
            base.groupBy(F.md5("_t").alias("_h"))
            .agg(
                F.min("_id").alias("_id"),
                F.first("_t").alias("_t"),
                F.first("_L").alias("_L"),
                F.array_sort(F.collect_list("_id")).alias("_ids"),
            )
            .drop("_h")
        )
    else:
        groups = base.withColumn("_ids", F.array("_id"))
    # consumed 5x: index, probe, verify x2 and restoration.  r11: pin
    # the width first — AQE coalesces the md5 rollup to ~2
    # partitions at sf0.1, and materializing FREEZES that count,
    # so every downstream pass (segment indexing, probe explosion,
    # restoration) inherited near-serial parallelism (profiled: the
    # probe-generation stage ran 2 tasks wide under a 9.6s CPU load).
    groups = materialize(ensure_parallelism(groups))

    # -- index: own segmentation, keyed xxhash64(own length, seg idx,
    # content)
    def _seg(i: int, l_expr: str) -> tuple[str, str]:
        """(start, len) SQL for segment i of a length-`l_expr` text:
        first (nseg - l % nseg) segments get floor(l/nseg) chars, the
        remainder get one extra — a fixed convention both sides of
        the join derive from the length alone."""
        blen = f"({l_expr} DIV {nseg})"
        nshort = f"({nseg} - ({l_expr} % {nseg}))"
        ln = f"({blen} + (CASE WHEN {i} >= {nshort} THEN 1 ELSE 0 END))"
        st = f"({i} * {blen} + GREATEST(0, {i} - {nshort}))"
        return st, ln

    idx_cols = []
    for i in range(nseg):
        st, ln = _seg(i, "_L")
        idx_cols.append(f"xxhash64(_L, {i}, substring(_t, {st} + 1, {ln}))")
    idx_long = groups.where(F.col("_L") >= nseg).select(
        "_id", F.explode(F.expr(f"array({', '.join(idx_cols)})")).alias("_k")
    )
    idx_short = groups.where(F.col("_L") < nseg).select(
        "_id", F.expr("xxhash64(_L, -1, '')").alias("_k")
    )

    # -- probe: for each partner length l in [L-tau, L] (downward
    # only) and each segment of THAT length\'s segmentation, my
    # substrings at shifts within +-tau.  sequence(lo, greatest(lo,
    # hi)) + filter keeps the empty-range case an empty TYPED array
    # (sequence alone would descend when hi < lo).
    # multi-match-aware shift bound (Li et al. §4): probing downward,
    # the partner is SHORTER by delta = L - l, so insertions minus
    # deletions total delta and ins <= (tau+delta)/2, del <=
    # (tau-delta)/2; the net shift before any segment therefore lies
    # in [-(tau-delta)/2, +(tau+delta)/2] — tau+1 positions instead
    # of the naive 2*tau+1 (probe volume 1.75M -> 0.99M on the sf0.1
    # corpus, 8.5s -> 5.6s end-to-end; completeness property-tested).
    #
    # r11, the paper's SECOND multi-match bound (segment-index-aware):
    # take the FIRST clean segment i of the partner — each earlier
    # segment then contains >= 1 edit, so the prefix holds >= i edits
    # and, with the suffix needing >= |delta - shift| edits for the
    # length bookkeeping, i + |delta - shift| <= tau.  The shift is
    # therefore ALSO confined to [delta - (tau-i), delta + (tau-i)],
    # which tightens sharply for late segments (i = tau admits exactly
    # shift = delta).  Intersecting both bounds cuts probe volume a
    # further ~30% at tau=5 (completeness property-tested: the planted
    # -edit suites below and tests/test_properties.py re-run green).
    probe_parts = []
    for i in range(nseg):
        st, ln = _seg(i, "l")
        lo = (f"GREATEST(0, {st} - (({tau} - (_L - l)) DIV 2),"
              f" {st} + (_L - l) - ({tau} - {i}))")
        hi = (f"LEAST(_L - {ln}, {st} + (({tau} + (_L - l)) DIV 2),"
              f" {st} + (_L - l) + ({tau} - {i}))")
        probe_parts.append(
            f"flatten(transform("
            f"filter(sequence(GREATEST(_L - {tau}, {nseg}), GREATEST(_L, {nseg})), l -> l <= _L), "
            f"l -> transform(filter(sequence({lo}, GREATEST({lo}, {hi})), s -> s <= {hi}), "
            f"s -> xxhash64(l, {i}, substring(_t, s + 1, {ln})))))"
        )
    short_lo = f"GREATEST(1, _L - {tau})"
    short_hi = f"LEAST({tau}, _L)"
    probe_parts.append(
        f"transform(filter(sequence({short_lo}, GREATEST({short_lo}, {short_hi})), "
        f"l -> l <= {short_hi}), l -> xxhash64(l, -1, ''))"
    )
    probes = groups.select(
        "_id",
        F.explode(
            F.expr(f"array_distinct(concat({', '.join(probe_parts)}))")
        ).alias("_k"),
    )

    # r11: both bucket aggregations emit ~1.3MB of partial sets, so
    # AQE coalesced the final collect_set+array_sort merge to ONE
    # task (profiled: 4.2s of single-threaded CPU of a 6.8s wall).
    # A key repartition satisfies the aggregation's distribution,
    # keeping the merge at full width; the raw (_id, _k) rows it
    # shuffles are 16 bytes.
    gi = (
        ensure_parallelism(idx_long.unionByName(idx_short), "_k")
        .groupBy("_k")
        .agg(F.array_sort(F.collect_set("_id")).alias("_ai"))
    )
    gp = (
        ensure_parallelism(probes, "_k")
        .groupBy("_k")
        .agg(F.array_sort(F.collect_set("_id")).alias("_ap"))
    )
    if max_bucket is not None:
        gi = gi.where(F.size("_ai") <= max_bucket)
        gp = gp.where(F.size("_ap") <= max_bucket)
    # r11: the bucket join's inputs are two bytes-tiny aggregated
    # frames, so AQE coalesces the join read to ONE partition — and
    # the CPU-heavy pair explode fused into that stage ran
    # single-threaded (profiled: a 1-task stage with ~4s of CPU of a
    # 6.8s wall at sf0.1).  A round-robin repartition between join and
    # explode fans the explode back out; the (ra, rb) hash repartition
    # then both feeds the distinct (same keys — no second exchange)
    # and pins the verify width (pair rows are bytes-tiny, AQE would
    # coalesce them to one partition and single-thread the CPU-heavy
    # levenshtein — same defect class fixed in minhash_candidate_pairs'
    # verify, measured 15.6s -> 1.9s there).
    pairs = (
        ensure_parallelism(gi.join(gp, "_k"))
        .select(F.explode("_ai").alias("_x"), "_ap")
        .select("_x", F.explode("_ap").alias("_y"))
        .where(F.col("_x") != F.col("_y"))
        .select(
            F.least("_x", "_y").alias("ra"),
            F.greatest("_x", "_y").alias("rb"),
        )
    )
    pairs = ensure_parallelism(pairs, "ra", "rb").distinct()
    ta = groups.select(F.col("_id").alias("ra"), F.col("_t").alias("_ta"))
    tb = groups.select(F.col("_id").alias("rb"), F.col("_t").alias("_tb"))
    rep_pairs = (
        pairs.join(ta, "ra")
        .join(tb, "rb")
        .withColumn("dist", F.levenshtein("_ta", "_tb", tau))
        .where(F.col("dist") >= 0)
        .select("ra", "rb", F.col("dist").cast("long").alias("dist"))
    )

    if not prededup_exact:
        return rep_pairs.select(
            F.col("ra").alias("id_a"), F.col("rb").alias("id_b"), "dist"
        )

    # restore the full pair set: every member cross pair of a
    # representative near-pair shares its distance; within-group
    # pairs are exact duplicates (dist 0).  Output size is the true
    # answer\'s size — quadratic in duplicate mass by contract.
    ga = groups.select(F.col("_id").alias("ra"), F.col("_ids").alias("_as"))
    gb = groups.select(F.col("_id").alias("rb"), F.col("_ids").alias("_bs"))
    expanded = (
        rep_pairs.join(ga, "ra")
        .join(gb, "rb")
        .select(F.explode("_as").alias("_a"), "_bs", "dist")
        .select("_a", F.explode("_bs").alias("_b"), "dist")
        .select(
            F.least("_a", "_b").alias("id_a"),
            F.greatest("_a", "_b").alias("id_b"),
            "dist",
        )
    )
    dist0 = (
        groups.where(F.size("_ids") > 1)
        .select(F.explode(F.expr(_all_pairs_sql("_ids"))).alias("_p"))
        .select("_p.id_a", "_p.id_b", F.lit(0).cast("long").alias("dist"))
    )
    return expanded.unionByName(dist0)


def dedup_time_horizon(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    horizon_sec: int = 3600,
) -> DataFrame:
    """Time-horizon exact dedup, the BATCH twin of
    ``streaming.serve.dedup_stream`` (dropDuplicatesWithinWatermark):
    a row is a replay iff the previous row with the SAME key is
    within ``horizon_sec`` — producer retries and at-least-once
    replays land seconds apart, while a genuine recurrence of the key
    (the same user clicking again tomorrow) survives.  Plain exact
    dedup can't express this: uniqueness here is time-scoped, not
    global.

    One lag window per key partition (key-partitioned, never global),
    then a per-key rollup.  Chained replays collapse correctly:
    each replay is measured against its PREDECESSOR row, so a burst
    x, x+1s, x+2s drops both followers — matching the streaming
    state semantics where the sketch retains the id for the horizon.

    Output: key cols, n_rows, n_kept, n_dropped, first_ts, last_ts.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).asc())
    prev = F.lag(F.col(ts_col)).over(w)
    # microsecond integers, not float seconds: exact cross-engine gap
    gap = F.unix_micros(F.col(ts_col)) - F.unix_micros(prev)
    flagged = df.withColumn(
        "_dup", F.when(gap < int(horizon_sec) * 1_000_000, 1).otherwise(0)
    )
    return flagged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(1 - F.col("_dup")).cast("bigint").alias("n_kept"),
        F.sum("_dup").cast("bigint").alias("n_dropped"),
        F.min(ts_col).alias("first_ts"),
        F.max(ts_col).alias("last_ts"),
    )


def lsh_scurve_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
    max_id: int = 200,
) -> DataFrame:
    """Measured vs theoretical LSH s-curve: the capture probability a
    (bands b, rows r) banding SHOULD give a pair at similarity s is
    1-(1-s^r)^b (the MinHashLSH design curve — Leskovec, Rajaraman &
    Ullman, MMDS ch. 3); this op measures what the bands actually
    captured, per exact-jaccard decile, over a bounded calibration
    sample — the empirical answer to "are 3x3 bands right for this
    corpus", beside the formula the knob was chosen with.

    The sample is an ABSOLUTE id scope (doc_id < ``max_id``), so the
    all-pairs frame is constant-size no matter how the corpus grows —
    a calibration is a measurement, not a corpus pass (the ANN
    queries scope the same way).  All-pairs on the sample is a
    broadcast nested-loop on <= max_id rows; theoretical values are
    Python literals (pure multiplication, no cross-engine pow).

    Output: decile, s_mid, n_pairs, n_captured, measured_rate,
    theoretical_rate.
    """
    r = num_hashes // bands
    theo = {
        d: round(1.0 - (1.0 - ((d + 0.5) / 10.0) ** r) ** bands, 6)
        for d in range(10)
    }
    scoped = df.filter(F.col(id_col) < max_id).select(id_col, text_col)
    # no width pin: the scope is <= max_id rows
    sh = _shingle_sets(scoped, [id_col], text_col, shingle_k, "sh")
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = _with_overlap(
        F.broadcast(a).join(b, F.col("id_a") < F.col("id_b")), "sh_a", "sh_b"
    ).select("id_a", "id_b", "jaccard")
    bnd = with_minhash_bands(
        scoped, id_col, text_col, num_hashes, bands, shingle_k
    )
    cap = (
        bnd.alias("x")
        .join(
            bnd.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
        .distinct()
        .withColumn("_cap", F.lit(1))
    )
    dec = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("bigint")
    theo_case = None
    for d in range(10):
        cond = F.col("decile") == d
        theo_case = (
            F.when(cond, F.lit(theo[d]))
            if theo_case is None
            else theo_case.when(cond, F.lit(theo[d]))
        )
    return (
        pairs.join(cap, ["id_a", "id_b"], "left")
        .withColumn("decile", dec)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.coalesce(F.col("_cap"), F.lit(0)))
            .cast("bigint").alias("n_captured"),
        )
        .withColumn(
            "s_mid",
            (F.col("decile").cast("double") + 0.5) / 10.0,
        )
        .withColumn(
            "measured_rate",
            F.round(
                F.col("n_captured").cast("double")
                / F.col("n_pairs").cast("double"),
                6,
            ),
        )
        .withColumn("theoretical_rate", theo_case)
        .select(
            "decile", "s_mid", "n_pairs", "n_captured",
            "measured_rate", "theoretical_rate",
        )
    )


def dedup_keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    score_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Cluster-canonical dedup with a QUALITY keeper — the production
    survivor policy (Penedo et al. 2023 RefinedWeb keeps the
    highest-quality member of each near-dup cluster; keep-min-id and
    keep-longest are its cheaper cousins, both already queried): the
    transitive near-dup cluster from :func:`dedup_components`, the
    keeper the cluster member with the highest ``score_col``, ties
    broken on minimum id so the pick is total-ordered and
    exact-hash reproducible.

    Unlike the pairwise keep-longest rule (each verified pair kills
    its shorter side — a chain A~B~C can kill everything but one END
    of the chain), the cluster rule always keeps exactly ONE doc per
    component and it is the globally best one.  Scale shape: the pair
    + CC machinery is the existing bucketed path; the keeper argmax
    is min(struct(-score, id)) per component — map-side combinable,
    no window.

    Output (cluster grain): component, keep_id, cluster_size,
    best_score.
    """
    comp = dedup_components(
        df.select(F.col(id_col), F.col(text_col)), id_col, text_col,
        threshold=threshold,
    )
    scored = df.select(F.col(id_col), F.col(score_col).alias("_q"))
    return (
        comp.join(scored, id_col)
        .groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_q")).alias("_neg"), F.col(id_col).alias("kid")
                )
            ).alias("_m"),
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        )
        .select(
            "component",
            F.col("_m.kid").alias("keep_id"),
            "cluster_size",
            (-F.col("_m._neg")).alias("best_score"),
        )
    )


def dedup_savings_calibration(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Forecast-calibration table: per source, the cheap redundancy
    FORECAST (:func:`fuel_spark.ops.text.corpus_compressibility` —
    repeated word n-gram mass, computable without any dedup run)
    beside the MEASURED exact-duplicate rate (1 − distinct digests /
    docs), with the cross-source Pearson correlation of the two
    riding every row — the query that says whether the forecast can
    be trusted to PRIORITIZE which sources to dedup first at 100 TB
    (run the cheap scan everywhere, the expensive pair machinery only
    where the forecast is hot).

    Both inputs are existing single-scan rollups to source grain; the
    correlation is a 1-row DECIMAL-moment reduction over the
    source-grain frame (domains-sized), broadcast back.

    Output per group: group, n_docs, redundancy, dup_rate,
    corr (round 6, identical on every row).
    """
    from fuel_spark.ops.text import corpus_compressibility

    red = corpus_compressibility(df, id_col, text_col, group_col, n=n).select(
        "group", "n_docs", "redundancy"
    )
    rate = (
        df.groupBy(F.col(group_col).alias("group"))
        .agg(
            F.count(F.lit(1)).alias("_nd"),
            F.count_distinct(F.md5(F.col(text_col))).alias("_nu"),
        )
        .select(
            "group",
            F.round(
                1.0 - F.col("_nu").cast("double") / F.col("_nd").cast("double"),
                6,
            ).alias("dup_rate"),
        )
    )
    j = red.join(rate, "group")
    d6 = lambda c: F.round(c, 6).cast("decimal(27,6)")
    mom = j.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(d6(F.col("redundancy"))).alias("_sa"),
        F.sum(d6(F.col("dup_rate"))).alias("_sb"),
        F.sum(d6(F.col("redundancy") * F.col("redundancy"))).alias("_saa"),
        F.sum(d6(F.col("dup_rate") * F.col("dup_rate"))).alias("_sbb"),
        F.sum(d6(F.col("redundancy") * F.col("dup_rate"))).alias("_sab"),
    )
    cov = (
        F.col("_sab").cast("double")
        - F.col("_sa").cast("double") * F.col("_sb").cast("double") / F.col("_n")
    )
    va = (
        F.col("_saa").cast("double")
        - F.col("_sa").cast("double") * F.col("_sa").cast("double") / F.col("_n")
    )
    vb = (
        F.col("_sbb").cast("double")
        - F.col("_sb").cast("double") * F.col("_sb").cast("double") / F.col("_n")
    )
    return j.crossJoin(F.broadcast(mom)).select(
        "group",
        "n_docs",
        "redundancy",
        "dup_rate",
        F.when(
            (va > 1e-12) & (vb > 1e-12),
            F.round(cov / F.sqrt(va * vb), 6),
        ).alias("corr"),
    )


def contamination_rate_by_source(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    benchmark: DataFrame,
    bench_text_col: str,
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination RATE table — the per-source rollup of
    :func:`decontaminate`'s per-doc signal (the GPT-3 appendix-C
    number a curation review actually reads: which SOURCES leak eval
    data, not which documents): per source, docs, flagged docs, gram
    totals, and the doc- and gram-level contamination rates.  A
    source with a high doc rate but low gram rate shares boilerplate
    with the benchmark; high on both means the eval set itself leaked
    into the crawl — different remediations, so both rates ship.

    One source-grain rollup over the per-doc flags frame (the
    decontaminate scan dominates; the rollup is map-side
    combinable).  Output: source, n_docs, n_flagged, doc_rate,
    n_grams, n_hit_grams, gram_rate.
    """
    flags = decontaminate(df, id_col, text_col, benchmark,
                          bench_text_col, n)
    joined = df.select(F.col(id_col), F.col(source_col)).join(
        flags, id_col
    )
    return (
        joined.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
            .cast("bigint").alias("n_flagged"),
            F.sum("n_grams").cast("bigint").alias("n_grams"),
            F.sum("n_contaminated").cast("bigint").alias("n_hit_grams"),
        )
        .select(
            source_col,
            "n_docs",
            "n_flagged",
            F.round(
                F.col("n_flagged").cast("double")
                / F.col("n_docs").cast("double"), 6
            ).alias("doc_rate"),
            "n_grams",
            "n_hit_grams",
            F.round(
                F.col("n_hit_grams").cast("double")
                / F.greatest(F.col("n_grams"), F.lit(1)).cast("double"), 6
            ).alias("gram_rate"),
        )
    )


# --------------------------------------------------------------------------
# Cluster-planning tier (r10): CC size curves, density, leakage census
# --------------------------------------------------------------------------
# The near-dup pair graph's COMPONENT structure is what dedup planning
# actually reads: how many rows a threshold removes, whether clusters
# are cliques (true dup families) or chains (LSH accidents), and
# whether clusters straddle sources or split boundaries.  All built
# from the audited pieces (ngram_jaccard_pairs -> connected_components)
# — banded candidates, never all-pairs; CC is the log-round
# pointer-doubling loop.


def _verified_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    num_hashes: int = 9,
    bands: int = 3,
    shingle_k: int = 5,
) -> DataFrame:
    """Distinct verified near-dup edges (id_a < id_b, jaccard
    carried), materialized — the shared spine of the cluster-planning
    queries (CC + the per-edge stats reference it multiple times)."""
    return materialize(
        ngram_jaccard_pairs(
            df, id_col, text_col, threshold, num_hashes, bands,
            shingle_k, distinct_pairs=True,
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def cc_threshold_sweep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    thresholds=(0.3, 0.5, 0.7),
) -> DataFrame:
    """Cluster-size planning curve: near-dup graph summary at several
    Jaccard thresholds from ONE MinHash+verify pass (edges computed at
    the loosest threshold with jaccard carried, then filtered per
    sweep point; CC re-runs per threshold on the filtered edge set —
    the only part that can't be shared, and the cheap part).

    Output per threshold: n_edges, n_clusters (multi-doc components),
    n_docs_clustered, max_cluster_size, rows_removed (docs minus one
    representative per cluster) — THE table a dedup rollout reads to
    pick its threshold."""
    lo = min(thresholds)
    edges = _verified_edges(df, id_col, text_col, lo)
    parts = []
    for t in sorted(thresholds):
        et = materialize(edges.where(F.col("jaccard") >= t))
        comp = connected_components(et)
        sizes = comp.groupBy("component").agg(
            F.count(F.lit(1)).alias("sz")
        )
        e1 = et.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
        m1 = sizes.where(F.col("sz") >= 2).agg(
            F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint").alias(
                "n_clusters"
            ),
            F.coalesce(F.sum("sz"), F.lit(0)).cast("bigint").alias(
                "n_docs_clustered"
            ),
            F.coalesce(F.max("sz"), F.lit(0)).cast("bigint").alias(
                "max_cluster_size"
            ),
        )
        parts.append(
            e1.crossJoin(m1).select(
                F.lit(float(t)).alias("threshold"),
                "n_edges", "n_clusters", "n_docs_clustered",
                "max_cluster_size",
                (F.col("n_docs_clustered") - F.col("n_clusters"))
                .cast("bigint").alias("rows_removed"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def component_token_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Token mass locked up per cluster size: for each multi-doc
    component size, how many clusters, docs and WORDS sit there, and
    the share of the whole corpus's words — the size-resolved version
    of "how much does dedup save" (big-cluster mass is boilerplate;
    long-tail 2-clusters are edits).

    Output per cluster_size: n_clusters, n_docs, n_words,
    corpus_word_share (exact-rational round6)."""
    from fuel_spark.functions import round6_ratio, words

    edges = _verified_edges(df, id_col, text_col, threshold)
    comp = connected_components(edges)
    nw = df.select(
        F.col(id_col).alias("_id"),
        F.size(F.filter(words(F.col(text_col)), lambda x: x != "")).alias(
            "_nw"
        ),
    )
    sized = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    labeled = (
        comp.join(nw, comp.v == nw._id)
        .join(sized, "component")
        .where(F.col("sz") >= 2)
    )
    per = labeled.groupBy(
        F.col("sz").cast("bigint").alias("cluster_size")
    ).agg(
        F.countDistinct("component").cast("bigint").alias("n_clusters"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_nw").cast("bigint").alias("n_words"),
    )
    tot = nw.agg(F.sum("_nw").cast("bigint").alias("_tw"))
    return per.crossJoin(F.broadcast(tot)).select(
        "cluster_size", "n_clusters", "n_docs", "n_words",
        round6_ratio(
            F.col("n_words").cast("decimal(27,6)"),
            F.greatest(F.col("_tw"), F.lit(1)),
        ).alias("corpus_word_share"),
    )


def cc_edge_density(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Clique-ness audit per cluster size: verified internal edges
    over possible pairs — density ~1 means true duplicate families
    (every pair verifies), low density means chain-shaped transitive
    merges (the LSH-accident signature a threshold bump would split).

    Output per cluster_size: n_clusters, n_edges, n_possible,
    density (exact-rational round6)."""
    from fuel_spark.functions import round6_ratio

    edges = _verified_edges(df, id_col, text_col, threshold)
    comp = connected_components(edges)
    sized = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    ec = (
        edges.join(
            comp.select(F.col("v").alias("id_a"), "component"), "id_a"
        )
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("ne"))
    )
    per = (
        sized.where(F.col("sz") >= 2)
        .join(ec, "component", "left")
        .groupBy(F.col("sz").cast("bigint").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum(F.coalesce("ne", F.lit(0))).cast("bigint").alias(
                "n_edges"
            ),
            # integer-exact: sum sz·(sz−1) first (always even), then
            # halve with integer div — no double round-trip
            F.expr(
                "CAST(sum(CAST(sz AS BIGINT) * (CAST(sz AS BIGINT) - 1))"
                " div 2 AS BIGINT)"
            ).alias("n_possible"),
        )
    )
    return per.select(
        "cluster_size", "n_clusters", "n_edges", "n_possible",
        round6_ratio(
            F.col("n_edges").cast("decimal(27,6)"),
            F.greatest(F.col("n_possible"), F.lit(1)),
        ).alias("density"),
    )


def cross_source_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-source contamination census: multi-doc components
    bucketed by how many distinct sources they straddle — a cluster
    spanning sources is syndicated/boilerplate content that a
    per-source dedup would miss entirely (the argument for GLOBAL
    dedup at 100 TB).

    Output per n_sources: n_components, n_docs."""
    edges = _verified_edges(df, id_col, text_col, threshold)
    comp = connected_components(edges)
    src = df.select(
        F.col(id_col).alias("_id"), F.col(source_col).alias("_src")
    )
    lab = comp.join(src, comp.v == src._id)
    per = lab.groupBy("component").agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct("_src").alias("ns"),
    )
    return (
        per.where(F.col("sz") >= 2)
        .groupBy(F.col("ns").cast("bigint").alias("n_sources"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_components"),
            F.sum("sz").cast("bigint").alias("n_docs"),
        )
    )


def split_leakage_census(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Leakage certificate for a NAIVE row split: per cluster size,
    how many near-dup clusters straddle the doc_id-parity split
    boundary and how many docs sit in straddling clusters — the
    measured case for cluster-aware splitting
    (:func:`leakage_free_split`): every straddling cluster is a
    paraphrase leak between train and holdout.

    Output per cluster_size: n_clusters, n_crossing_clusters,
    n_docs_in_crossing."""
    edges = _verified_edges(df, id_col, text_col, threshold)
    comp = connected_components(edges)
    lab = comp.select(
        "component",
        F.col("v"),
        (F.col("v") % 2 == 0).cast("int").alias("_even"),
    )
    per = lab.groupBy("component").agg(
        F.count(F.lit(1)).alias("sz"),
        F.max("_even").alias("_he"),
        F.min("_even").alias("_le"),
    )
    per = per.where(F.col("sz") >= 2).withColumn(
        "_cross", (F.col("_he") != F.col("_le")).cast("int")
    )
    return per.groupBy(
        F.col("sz").cast("bigint").alias("cluster_size")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("_cross").cast("bigint").alias("n_crossing_clusters"),
        F.sum(F.col("_cross") * F.col("sz")).cast("bigint").alias(
            "n_docs_in_crossing"
        ),
    )


def banding_precision_sweep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    configs=((1, 9), (3, 3), (9, 1)),
    num_hashes: int = 9,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """MEASURED banding-choice table: candidate volume and verify
    precision per (bands, rows-per-band) split of the same signature
    budget — dedup_lsh_scurve gives the THEORY curve; this measures
    both sides of the LSH trade on the real corpus (1 band of 9 rows
    = high precision / low recall; 9 bands of 1 row = the flood of
    candidates the verify stage then pays for).

    One shingle/minhash computation per config (the banded candidate
    machinery), verify at ``verify_threshold``.  The sweep runs on a
    deterministic 25% sample (``id % 4 == 0``): knob-choice tables
    are SAMPLED by design — the 9-single-row-band config's candidate
    volume is quadratic in co-bucket occupancy, and measuring it on
    the full corpus costs more than the decision is worth (the
    chosen config then runs full-corpus); the sample is the same
    predicate on both engines, so the table stays exact-hash.
    Output per config: n_bands, rows_per_band, n_candidates,
    n_verified, precision (exact-rational round6)."""
    from fuel_spark.functions import round6_ratio

    df = df.where(F.col(id_col) % 4 == 0)
    parts = []
    for bands, rpb in configs:
        assert bands * rpb == num_hashes
        # production cap ON (star-degrade past 512-row buckets): the
        # sweep measures the candidate flood THROUGH the production
        # candidate path, and the oracle twin models the star
        # explicitly (the dedup_pair_degree_hist convention) — an
        # uncapped sweep on a boilerplate-heavy corpus would cost
        # more than the knob decision is worth
        pairs = materialize(
            ngram_jaccard_pairs(
                df, id_col, text_col, 0.0, num_hashes, bands,
                distinct_pairs=True,
            )
        )
        agg = pairs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(
                F.when(F.col("jaccard") >= verify_threshold, 1)
                .otherwise(0)
            ).cast("bigint").alias("n_verified"),
        )
        parts.append(
            agg.select(
                F.lit(int(bands)).cast("bigint").alias("n_bands"),
                F.lit(int(rpb)).cast("bigint").alias("rows_per_band"),
                "n_candidates", "n_verified",
                round6_ratio(
                    F.col("n_verified").cast("decimal(27,6)"),
                    F.greatest(F.col("n_candidates"), F.lit(1)),
                ).alias("precision"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
