"""Corpus curation planning — the accounting layer between raw text
ops and a training run.

The reference engine (mila-iqia/fuel) stops at iteration schemes over
already-curated datasets; these operators answer the questions that
come BEFORE that at the 100 TB tier: how to weight domains in the
mixture (DoReMi/GPT-3-style tempered sampling), how much padding a
sequence-length choice wastes, where to cut curriculum phases, and
how many documents each quality screen drops.  Everything is exact
integer/decimal arithmetic over one or two aggregations — these run
as the cheap planning pass on the full corpus, not per-example work.

All float-bearing outputs follow the repo discipline: per-row
arithmetic on exact inputs, pinned double literals (repr), round-9
into DECIMAL for summed products, round-6 display.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from fuel_spark.functions import materialize, words
from fuel_spark.ops.text import _doc_stats


def _n_words(text_col: str):
    """Per-document word count of text column ``text_col``: the word
    count of ``_doc_stats`` (a blank text is one word, ``""``)."""
    t = F.col(text_col)
    return _doc_stats(t, words(t))[0]


def domain_mixture_weights(
    df: DataFrame,
    domain_col: str,
    text_col: str,
    alpha: float = 0.7,
    budget_tokens: int = 1_000_000,
) -> DataFrame:
    """Tempered domain-mixture weights: weight ∝ tokens^alpha
    normalized over domains (alpha=1 is proportional sampling, 0 is
    uniform; 0.7 is the GPT-3-style smoothing that up-weights small
    domains), plus the epoch count each domain sustains at a token
    budget — epochs > 1 means that domain repeats, the overfitting
    signal a mixture review looks for.

    One token-count aggregation per domain, a 1-row total broadcast
    back, per-row arithmetic after that.  The tempered powers are
    rounded to 9 dp and summed as DECIMAL so the normalizing total is
    order-independent (engines sum in different orders).

    Output: domain, n_tokens, weight, epochs_at_budget.
    """
    toks = (
        df.select(F.col(domain_col), _n_words(text_col).alias("_n"))
        .groupBy(domain_col)
        .agg(F.sum("_n").cast("bigint").alias("n_tokens"))
    )
    w9 = F.round(
        F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha))), 9
    ).cast("decimal(38,9)")
    p = toks.withColumn("_w9", w9)
    total = p.agg(F.sum("_w9").alias("_tw"))
    out = p.crossJoin(F.broadcast(total)).withColumn(
        "weight",
        F.round(
            F.col("_w9").cast("double") / F.col("_tw").cast("double"), 6
        ),
    )
    return out.select(
        domain_col,
        "n_tokens",
        "weight",
        F.round(
            F.lit(float(budget_tokens))
            * F.col("weight")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("epochs_at_budget"),
    )


def packing_efficiency(
    df: DataFrame,
    text_col: str,
    seq_len: int = 512,
    bin_size: int = 64,
) -> DataFrame:
    """Padding-waste report for a sequence-length choice: documents
    bucketed by token-length bins, with the tokens each bin burns on
    pad-to-``seq_len`` batching (padded = ceil(n/seq_len)·seq_len per
    doc) — the table that justifies concat-packing (see
    ``ops.sequences``) or a different seq_len before a run commits.
    All-integer arithmetic (DIV-based ceil, no floats until the final
    display ratio); one groupBy on the bin key.

    Output: bin_lo, n_docs, n_tokens, n_padded, n_waste, waste_rate.
    """
    n = _n_words(text_col).cast("bigint")
    return (
        df.select(n.alias("_n"))
        # integer ceil/floor via DIV — no float truncation semantics
        .withColumn(
            "_p", F.expr(f"(_n + {seq_len - 1}) DIV {seq_len} * {seq_len}")
        )
        .withColumn("bin_lo", F.expr(f"_n DIV {bin_size} * {bin_size}"))
        .groupBy("bin_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").cast("bigint").alias("n_tokens"),
            F.sum("_p").cast("bigint").alias("n_padded"),
            (F.sum("_p") - F.sum("_n")).cast("bigint").alias("n_waste"),
        )
        .withColumn(
            "waste_rate",
            F.round(
                F.col("n_waste").cast("double")
                / F.col("n_padded").cast("double"),
                6,
            ),
        )
    )


def curriculum_phases(
    df: DataFrame,
    score_col: str = "n_chars",
    text_col: str = "text",
    phases: int = 3,
) -> DataFrame:
    """Curriculum phase assignment by exact score percentiles: phase
    cut points are the smallest score values whose cumulative count
    reaches i·N/phases (exact integer rank targets, no float
    percentile — engines disagree on interpolation), then per-phase
    accounting.  The easy→hard ordering pass of curriculum training
    (cf. ``schemes.curriculum_batches``, which consumes an existing
    difficulty column; this op DERIVES the phase table).

    Shuffle story: one groupBy onto the score VALUE GRID (distinct
    score values — bounded by the score's domain, not corpus size),
    one cumulative window over that grid (the allowlisted
    SinglePartition: grid-sized by construction), thresholds collapse
    to ONE broadcast row, and the assignment is a per-row CASE.

    Output: phase, n_docs, min_score, max_score, n_tokens.
    """
    thr, phase = _phase_thresholds(df, score_col, phases)
    return (
        df.crossJoin(F.broadcast(thr))
        .withColumn("phase", phase.cast("bigint"))
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(score_col).alias("min_score"),
            F.max(score_col).alias("max_score"),
            F.sum(_n_words(text_col))
            .cast("bigint")
            .alias("n_tokens"),
        )
    )


def curation_funnel(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Per-stage survival accounting for the standard quality screen
    chain (C4/Gopher-flavor): minimum characters → minimum words →
    mean-word-length band → alphabetic ratio.  Reports rows in/out of
    each stage as applied IN ORDER — the funnel view a curation
    review reads before committing thresholds (the end-to-end apply
    tier is ``plans``' curation_pipeline; this is its dashboard).

    ONE pass: all four predicates evaluate per row in codegen and
    collapse into a single 1-row conditional-sum aggregate, then
    unpivot to 4 stage rows (constant-sized).  No joins, no second
    scan.

    Output: stage, stage_name, rows_in, rows_out.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words, mwl, alpha_ratio = _doc_stats(t, words(t))

    p1 = n_chars >= 200
    p2 = n_words >= 30
    p3 = (mwl >= 3.0) & (mwl <= 10.0)
    p4 = alpha_ratio >= 0.6
    s1 = p1
    s2 = s1 & p2
    s3 = s2 & p3
    s4 = s3 & p4

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    agg = df.agg(
        F.count(F.lit(1)).alias("_n0"),
        cnt(s1).alias("_n1"),
        cnt(s2).alias("_n2"),
        cnt(s3).alias("_n3"),
        cnt(s4).alias("_n4"),
    )
    names = ["min_chars_200", "min_words_30", "mean_word_len_3_10",
             "alpha_ratio_60"]
    stages = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("bigint").alias("stage"),
                F.lit(names[i]).alias("stage_name"),
                F.col(f"_n{i}").alias("rows_in"),
                F.col(f"_n{i + 1}").alias("rows_out"),
            )
            for i in range(4)
        ]
    )
    return agg.select(F.explode(stages).alias("_s")).select(
        "_s.stage", "_s.stage_name", "_s.rows_in", "_s.rows_out"
    )


def truncation_savings(
    df: DataFrame,
    text_col: str = "text",
    probs: tuple[float, ...] = (0.9, 0.99),
) -> DataFrame:
    """Truncation planning: for each length percentile (exact integer
    rank target, like :func:`curriculum_phases` — no float
    interpolation), the cutoff token length and what truncating every
    longer document to it would save — the "do the p99 outliers pay
    for their sequence budget" table.

    One groupBy onto the token-length VALUE GRID, one grid-sized
    cumulative window (allowlisted), cutoffs collapse to one
    broadcast row, savings are map-side conditional sums.

    Output: prob, cutoff_len, docs_truncated, tokens_saved,
    frac_saved.
    """
    n = _n_words(text_col).cast("bigint")
    # consumed 2 + len(probs)x: the grid, the total and each prob's
    # savings pass
    lens = materialize(df.select(n.alias("_n")))
    grid = lens.groupBy("_n").agg(F.count(F.lit(1)).alias("_c"))
    wcum = Window.orderBy("_n").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.withColumn("_cum", F.sum("_c").over(wcum))
    total = lens.agg(
        F.count(F.lit(1)).alias("_nd"), F.sum("_n").alias("_nt")
    )
    cuts = cum.crossJoin(F.broadcast(total))
    # integer ceil(p * nd) with p expressed as an exact rational
    # (numerator/denominator in permille) so both engines agree
    thr = cuts.agg(
        *[
            F.min(
                F.when(
                    F.col("_cum")
                    >= F.expr(
                        f"({int(round(p * 1000))} * _nd + 999) DIV 1000"
                    ),
                    F.col("_n"),
                )
            ).alias(f"_t{i}")
            for i, p in enumerate(probs)
        ],
        F.any_value("_nt").alias("_nt"),
    )
    out = None
    for i, p in enumerate(probs):
        part = (
            lens.crossJoin(F.broadcast(thr))
            .groupBy()
            .agg(
                F.lit(float(p)).alias("prob"),
                F.any_value(F.col(f"_t{i}")).alias("cutoff_len"),
                F.sum(
                    F.when(F.col("_n") > F.col(f"_t{i}"), 1).otherwise(0)
                ).cast("bigint").alias("docs_truncated"),
                F.sum(
                    F.when(
                        F.col("_n") > F.col(f"_t{i}"),
                        F.col("_n") - F.col(f"_t{i}"),
                    ).otherwise(0)
                ).cast("bigint").alias("tokens_saved"),
                F.any_value(F.col("_nt")).alias("_tt"),
            )
            .withColumn(
                "frac_saved",
                F.round(
                    F.col("tokens_saved").cast("double")
                    / F.col("_tt").cast("double"),
                    6,
                ),
            )
            .drop("_tt")
        )
        out = part if out is None else out.unionByName(part)
    return out


def mixture_schedule_slots(
    df: DataFrame,
    domain_col: str,
    text_col: str = "text",
    slots: int = 1000,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed training
    schedule: each domain gets floor(share·slots) slots plus one of
    the leftovers in remainder order — the deterministic, exactly-
    summing way to turn mixture shares into an interleave schedule
    (naive rounding over- or under-fills the schedule).

    ALL-integer: base = (tokens·slots) DIV total, remainder =
    tokens·slots − base·total, leftovers ranked by (remainder desc,
    domain asc) over the domain-sized frame.  Output: domain,
    n_tokens, slots_alloc.
    """
    # consumed 2x: the total and the apportionment select
    toks = materialize(
        df.select(F.col(domain_col), _n_words(text_col).alias("_n"))
        .groupBy(domain_col)
        .agg(F.sum("_n").cast("bigint").alias("n_tokens"))
    )
    total = toks.agg(F.sum("n_tokens").cast("bigint").alias("_t"))
    based = toks.crossJoin(F.broadcast(total)).select(
        domain_col,
        "n_tokens",
        F.expr(f"n_tokens * {int(slots)} DIV _t").alias("_base"),
        F.expr(f"n_tokens * {int(slots)} - (n_tokens * {int(slots)} DIV _t) * _t")
        .alias("_rem"),
    )
    leftover = based.agg(
        (F.lit(int(slots)) - F.sum("_base")).cast("bigint").alias("_k")
    )
    wr = Window.orderBy(F.col("_rem").desc(), F.col(domain_col).asc())
    return (
        based.withColumn("_rk", F.row_number().over(wr))
        .crossJoin(F.broadcast(leftover))
        .select(
            domain_col,
            "n_tokens",
            (
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_k"), 1).otherwise(0)
            ).cast("bigint").alias("slots_alloc"),
        )
    )


def snapshot_length_psi(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    bin_size: int = 64,
) -> DataFrame:
    """Population-stability index of the token-length distribution
    between two corpus snapshots — the drift screen that catches "the
    new crawl is all short spam" before it trains: per shared length
    bin, old/new shares (add-0.5 smoothed against empty bins, stated)
    and the PSI term (Δshare · ln ratio).  The corpus-snapshot twin
    of the events-side ``events_psi_weekly``.

    Two scans onto the length-bin grid, one full-outer bin join —
    everything bin-grid-sized after the first rollup.  Output:
    bin_lo, n_old, n_new, psi_term.
    """
    def bins(df: DataFrame, cname: str) -> DataFrame:
        n = _n_words(text_col).cast("bigint")
        return (
            df.select(n.alias("_n"))
            .withColumn("bin_lo", F.expr(f"_n DIV {bin_size} * {bin_size}"))
            .groupBy("bin_lo")
            .agg(F.count(F.lit(1)).alias(cname))
        )
    o = bins(old, "n_old")
    n2 = bins(new, "n_new")
    joined = o.join(n2, "bin_lo", "full_outer").select(
        "bin_lo",
        F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
        F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
    )
    tot = joined.agg(
        F.sum("n_old").cast("bigint").alias("_to"),
        F.sum("n_new").cast("bigint").alias("_tn"),
        F.count(F.lit(1)).alias("_nb"),
    )
    smoothed = joined.crossJoin(F.broadcast(tot))
    po = (F.col("n_old").cast("double") + 0.5) / (
        F.col("_to").cast("double") + 0.5 * F.col("_nb").cast("double")
    )
    pn = (F.col("n_new").cast("double") + 0.5) / (
        F.col("_tn").cast("double") + 0.5 * F.col("_nb").cast("double")
    )
    return smoothed.select(
        "bin_lo",
        "n_old",
        "n_new",
        F.round((pn - po) * F.log(pn / po), 6).alias("psi_term"),
    )


def _phase_thresholds(df: DataFrame, score_col: str, phases: int):
    """Shared by curriculum_phases / curriculum_source_mix: the
    1-row broadcast frame of phase cut points (exact integer rank
    targets over the score value grid) and the CASE assigning a
    phase.  See curriculum_phases for the method."""
    grid = df.groupBy(F.col(score_col).alias("_s")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    wcum = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.withColumn("_cum", F.sum("_c").over(wcum))
    total = df.agg(F.count(F.lit(1)).alias("_n"))
    cuts = cum.crossJoin(F.broadcast(total))
    thr = cuts.agg(
        *[
            F.min(
                F.when(
                    F.col("_cum")
                    >= F.expr(f"({i} * _n + {phases - 1}) DIV {phases}"),
                    F.col("_s"),
                )
            ).alias(f"_t{i}")
            for i in range(1, phases)
        ]
    )
    phase = F.lit(phases)
    for i in range(phases - 1, 0, -1):
        phase = F.when(F.col(score_col) <= F.col(f"_t{i}"), i).otherwise(
            phase
        )
    return thr, phase


def curriculum_source_mix(
    df: DataFrame,
    score_col: str = "n_chars",
    domain_col: str = "source",
    phases: int = 3,
) -> DataFrame:
    """Phase × domain interaction of the curriculum assignment — the
    "does the easy phase over-sample one domain" check a curriculum
    review runs before trusting phase ordering (difficulty often
    correlates with domain, silently skewing early training).  Same
    exact-rank thresholds as :func:`curriculum_phases`, then a
    (phase, domain) rollup with each domain's share of its phase.

    Output: phase, domain, n_docs, frac_of_phase.
    """
    thr, phase = _phase_thresholds(df, score_col, phases)
    assigned = df.crossJoin(F.broadcast(thr)).withColumn(
        "phase", phase.cast("bigint")
    )
    counts = assigned.groupBy("phase", F.col(domain_col)).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = counts.groupBy("phase").agg(
        F.sum("n_docs").cast("bigint").alias("_pt")
    )
    return (
        counts.join(F.broadcast(totals), "phase")
        .withColumn(
            "frac_of_phase",
            F.round(
                F.col("n_docs").cast("double") / F.col("_pt").cast("double"),
                6,
            ),
        )
        .select("phase", domain_col, "n_docs", "frac_of_phase")
    )


def token_gini(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Gini coefficient of tokens across documents — the "a few huge
    docs hold most of the corpus" inequality diagnostic (drives
    truncation and sampling decisions the way the customer-revenue
    Gini drives account review).  Computed from GROUPED data on the
    token-length value grid — G = 1 − Σ f_i·(S_{i−1} + S_i)/S_n over
    ascending distinct lengths — so the only window runs over the
    grid (length-domain-bounded), never over documents; the exact
    grouped-data identity, not an approximation, because lengths
    repeat.

    Output (1 row): n_docs, total_tokens, gini.
    """
    n = _n_words(text_col).cast("bigint")
    grid = (
        df.select(n.alias("_n"))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    wcum = Window.orderBy("_n").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.withColumn(
        "_sv", F.sum(F.col("_n") * F.col("_c")).over(wcum)
    )
    tot = grid.agg(
        F.sum("_c").cast("bigint").alias("_nd"),
        F.sum(F.col("_n") * F.col("_c")).cast("bigint").alias("_nt"),
    )
    terms = cum.crossJoin(F.broadcast(tot)).select(
        F.col("_c"),
        F.col("_nd"),
        F.col("_nt"),
        # f_i * (S_{i-1} + S_i) with everything integer until one
        # division: c * (2*S_i - n_i*c) / (nd * nt)
        (
            F.col("_c") * (2 * F.col("_sv") - F.col("_n") * F.col("_c"))
        ).alias("_num"),
    )
    return terms.groupBy().agg(
        F.any_value("_nd").alias("n_docs"),
        F.any_value("_nt").alias("total_tokens"),
        F.round(
            1.0
            - F.sum("_num").cast("double")
            / (
                F.any_value("_nd").cast("double")
                * F.any_value("_nt").cast("double")
            ),
            6,
        ).alias("gini"),
    )


def packing_concat_vs_pad(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    seq_len: int = 512,
) -> DataFrame:
    """Concat-packing vs pad-batching cost per domain: sequences
    needed padding each doc to seq_len (Σ ceil(n_i/L)) vs packing the
    domain's token stream contiguously (ceil(Σn_i / L)) — the
    ALL-integer savings table that justifies the packer in
    ``ops.sequences`` domain by domain (the corpus-level rate is
    :func:`packing_efficiency`'s).

    Output: domain, n_docs, n_tokens, pad_sequences, concat_sequences,
    sequences_saved, save_rate.
    """
    n = _n_words(text_col).cast("bigint")
    per = df.select(F.col(domain_col), n.alias("_n")).withColumn(
        "_pads", F.expr(f"(_n + {seq_len - 1}) DIV {seq_len}")
    )
    agg = per.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n").cast("bigint").alias("n_tokens"),
        F.sum("_pads").cast("bigint").alias("pad_sequences"),
    )
    return (
        agg.withColumn(
            "concat_sequences",
            F.expr(f"(n_tokens + {seq_len - 1}) DIV {seq_len}"),
        )
        .withColumn(
            "sequences_saved",
            (F.col("pad_sequences") - F.col("concat_sequences")).cast(
                "bigint"
            ),
        )
        .withColumn(
            "save_rate",
            F.round(
                F.col("sequences_saved").cast("double")
                / F.col("pad_sequences").cast("double"),
                6,
            ),
        )
    )


def funnel_threshold_sweep(
    df: DataFrame,
    text_col: str = "text",
    word_thresholds: tuple[int, ...] = (10, 30, 100),
) -> DataFrame:
    """Threshold sweep for the quality funnel's word-count stage: the
    full 4-stage chain (:func:`curation_funnel`) re-run at each
    min-words setting, in ONE pass — the "how much does tightening
    min_words actually cost" table that picks the threshold before a
    run commits (the sweep pattern of ``dedup_threshold_sweep``).

    All predicates per row in codegen, one 1-row conditional-sum
    aggregate, unpivoted to |thresholds| constant rows.

    Output: min_words, rows_in, rows_out, drop_rate.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words, mwl, alpha_ratio = _doc_stats(t, words(t))
    base = (
        (n_chars >= 200)
        & (mwl >= 3.0) & (mwl <= 10.0)
        & (alpha_ratio >= 0.6)
    )
    aggs = [F.count(F.lit(1)).alias("_n0")]
    for i, thr in enumerate(word_thresholds):
        aggs.append(
            F.sum(F.when(base & (n_words >= int(thr)), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_s{i}")
        )
    agg = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(int(thr)).cast("bigint").alias("min_words"),
                F.col("_n0").alias("rows_in"),
                F.col(f"_s{i}").alias("rows_out"),
            )
            for i, thr in enumerate(word_thresholds)
        ]
    )
    return (
        agg.select(F.explode(rows).alias("_r"))
        .select("_r.min_words", "_r.rows_in", "_r.rows_out")
        .withColumn(
            "drop_rate",
            F.round(
                (F.col("rows_in") - F.col("rows_out")).cast("double")
                / F.col("rows_in").cast("double"),
                6,
            ),
        )
    )


def source_mix_shift(
    old: DataFrame,
    new: DataFrame,
    domain_col: str = "source",
) -> DataFrame:
    """Domain-mix drift between corpus snapshots: each domain's doc
    share in the old vs new snapshot and the delta — the "did the new
    crawl tilt the mixture" screen beside the length PSI (that one
    catches size drift; this catches composition drift).

    Two domain-sized rollups + one full-outer domain join; shares are
    exact-integer divisions rounded 6.  Output: domain, n_old, n_new,
    share_old, share_new, share_delta.
    """
    def shares(df: DataFrame, cname: str) -> DataFrame:
        c = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias(cname))
        t = c.agg(F.sum(cname).cast("bigint").alias("_t"))
        return c.crossJoin(F.broadcast(t)).select(
            domain_col,
            F.col(cname),
            F.round(
                F.col(cname).cast("double") / F.col("_t").cast("double"), 6
            ).alias(f"share_{cname[2:]}"),
        )

    o = shares(old, "n_old")
    n2 = shares(new, "n_new")
    return (
        o.join(n2, domain_col, "full_outer")
        .select(
            domain_col,
            F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
            F.coalesce("share_old", F.lit(0.0)).alias("share_old"),
            F.coalesce("share_new", F.lit(0.0)).alias("share_new"),
            F.round(
                F.coalesce("share_new", F.lit(0.0))
                - F.coalesce("share_old", F.lit(0.0)),
                6,
            ).alias("share_delta"),
        )
    )


def curation_funnel_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain survival of the full 4-stage quality chain
    (:func:`curation_funnel`'s predicates) — WHICH domains die at the
    screen, the review that catches a threshold silently deleting one
    source.  One grouped conditional-sum pass.

    Output: group, n_docs, n_survivors, survival_rate.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words, mwl, alpha_ratio = _doc_stats(t, words(t))
    keep = (
        (n_chars >= 200) & (n_words >= 30)
        & (mwl >= 3.0) & (mwl <= 10.0)
        & (alpha_ratio >= 0.6)
    )
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0))
            .cast("bigint")
            .alias("n_survivors"),
        )
        .withColumn(
            "survival_rate",
            F.round(
                F.col("n_survivors").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ),
        )
    )


def packing_seqlen_sweep(
    df: DataFrame,
    text_col: str = "text",
    seq_lens: tuple[int, ...] = (256, 512, 1024),
) -> DataFrame:
    """Corpus padding waste at several sequence lengths in ONE pass —
    the seq_len-choice table (:func:`packing_efficiency` drills into
    one setting by length bin; this compares settings).  All-integer
    DIV ceils, a single 1-row aggregate unpivoted to |seq_lens| rows.

    Output: seq_len, n_docs, n_tokens, n_padded, waste_rate.
    """
    n = _n_words(text_col).cast("bigint")
    per = df.select(n.alias("_n"))
    aggs = [
        F.count(F.lit(1)).alias("_nd"),
        F.sum("_n").cast("bigint").alias("_nt"),
    ]
    for i, L in enumerate(seq_lens):
        aggs.append(
            F.sum(F.expr(f"(_n + {L - 1}) DIV {L} * {L}"))
            .cast("bigint")
            .alias(f"_p{i}")
        )
    agg = per.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(int(L)).cast("bigint").alias("seq_len"),
                F.col("_nd").alias("n_docs"),
                F.col("_nt").alias("n_tokens"),
                F.col(f"_p{i}").alias("n_padded"),
            )
            for i, L in enumerate(seq_lens)
        ]
    )
    return (
        agg.select(F.explode(rows).alias("_r"))
        .select("_r.seq_len", "_r.n_docs", "_r.n_tokens", "_r.n_padded")
        .withColumn(
            "waste_rate",
            F.round(
                (F.col("n_padded") - F.col("n_tokens")).cast("double")
                / F.col("n_padded").cast("double"),
                6,
            ),
        )
    )


def unimax_allocation(
    df: DataFrame,
    domain_col: str,
    text_col: str,
    budget_tokens: int = 100_000,
    max_epochs: int = 4,
    rounds: int = 8,
) -> DataFrame:
    """UniMax token-budget allocation (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining"; the epoch-cap discipline of
    Muennighoff et al. 2023's data-constrained scaling): split the
    budget UNIFORMLY across domains, but cap each domain at
    ``max_epochs`` repeats of its corpus; capped surplus
    redistributes uniformly among the still-uncapped domains — the
    waterfilling fixed point, unrolled ``rounds`` times.

    Each round caps EVERY domain whose cap sits below the current
    share, so the unroll converges in at most the number of distinct
    cap "steps" the rising share crosses (2–3 on real data);
    ``rounds`` defaults to 8 and production sets it to #domains —
    the iteration frame is domain-sized, so extra rounds are free.
    All intermediates are exact integers (caps, fixed sums, uncapped
    counts); the only division is the final share, computed from
    identical integers in both engines.

    Scale shape: one token-count aggregation over the corpus, then
    ``rounds`` 1-row aggregates broadcast back onto the domain-sized
    frame — the planning pass costs one scan regardless of budget.

    Output: domain, n_tokens, cap_tokens, capped, alloc_tokens,
    epochs.
    """
    # consumed 2x per unrolled round: the agg and the crossJoin side
    toks = materialize(
        df.select(F.col(domain_col), _n_words(text_col).alias("_n"))
        .groupBy(domain_col)
        .agg(F.sum("_n").cast("bigint").alias("n_tokens"))
        .withColumn(
            "cap_tokens",
            (F.lit(int(max_epochs)) * F.col("n_tokens")).cast("bigint"),
        )
    )
    frame = toks.withColumn("_capped", F.lit(False))
    for _ in range(rounds):
        agg = frame.agg(
            F.sum(
                F.when(F.col("_capped"), F.col("cap_tokens")).otherwise(0)
            ).cast("bigint").alias("_fixed"),
            F.sum(F.when(F.col("_capped"), 0).otherwise(1))
            .cast("bigint").alias("_nunc"),
        )
        # carried into the next round: round k's 1-row aggregate
        # otherwise replays every earlier round's subtree (measured
        # 4.8s -> 1.6s at 20x)
        frame = materialize(
            frame.drop("_share")
            .crossJoin(F.broadcast(agg))
            .withColumn(
                "_share",
                F.when(
                    F.col("_nunc") > 0,
                    (F.lit(int(budget_tokens)) - F.col("_fixed"))
                    .cast("double") / F.col("_nunc").cast("double"),
                ),
            )
            .withColumn(
                "_capped",
                F.col("_capped")
                | F.coalesce(
                    F.col("cap_tokens").cast("double") < F.col("_share"),
                    F.lit(False),
                ),
            )
            .drop("_fixed", "_nunc")
        )
    alloc = F.when(
        F.col("_capped"), F.col("cap_tokens").cast("double")
    ).otherwise(F.round(F.col("_share"), 6))
    return frame.select(
        domain_col,
        "n_tokens",
        "cap_tokens",
        F.col("_capped").alias("capped"),
        alloc.alias("alloc_tokens"),
        F.round(alloc / F.col("n_tokens").cast("double"), 6).alias("epochs"),
    )


def shard_skew_sweep(
    df: DataFrame,
    key_col: str,
    text_col: str,
    shard_counts: tuple[int, ...] = (8, 32, 128),
) -> DataFrame:
    """Shard-count choice table: token mass per hash-assigned shard
    at several shard counts, rolled up to the straggler metrics that
    decide the setting — max/mean skew and the min shard.  The
    100 TB relevance is direct: the slowest shard IS the stage time,
    and doubling shards only helps while token mass hashes evenly
    (many small docs) rather than lumping (few huge docs).

    One pass: each row explodes to one (shard_count, shard) bucket
    per setting, one groupBy over the union of bucket grids (sum of
    shard_counts rows), then a per-setting rollup — all-integer until
    the final skew ratio.

    Output: n_shards, total_tokens, max_shard_tokens,
    min_shard_tokens, skew (= max/(total/n), rounded 6).
    """
    from fuel_spark.functions import hash_mod

    buckets = F.array(
        *[
            F.struct(
                F.lit(int(s)).alias("n_shards"),
                hash_mod(f"shard{s}", F.col(key_col), s).alias("shard"),
            )
            for s in shard_counts
        ]
    )
    per = df.select(
        _n_words(text_col).cast("bigint").alias("_t"),
        F.explode(buckets).alias("_b"),
    ).select("_t", "_b.n_shards", "_b.shard")
    grid = per.groupBy("n_shards", "shard").agg(
        F.sum("_t").cast("bigint").alias("_st")
    )
    return (
        grid.groupBy("n_shards")
        .agg(
            F.sum("_st").cast("bigint").alias("total_tokens"),
            F.max("_st").alias("max_shard_tokens"),
            F.min("_st").alias("min_shard_tokens"),
        )
        .withColumn(
            "skew",
            F.round(
                F.col("max_shard_tokens").cast("double")
                / (
                    F.col("total_tokens").cast("double")
                    / F.col("n_shards").cast("double")
                ),
                6,
            ),
        )
        .select(
            F.col("n_shards").cast("bigint").alias("n_shards"),
            "total_tokens", "max_shard_tokens", "min_shard_tokens", "skew",
        )
    )


def file_layout_planner(
    df: DataFrame,
    group_col: str,
    text_col: str,
    targets_bytes: tuple[int, ...] = (65536, 262144, 1048576),
) -> DataFrame:
    """Output-file layout planner: per-group payload bytes beside the
    file count and per-file shape each candidate target file size
    implies.  The 100 TB relevance is the small-files problem in
    reverse: a writer that picks its `repartition(n)` per partition
    key from THIS table emits files near the target size instead of
    thousands of KB-sized shards (or a handful of 10 GB ones), and the
    downstream scan's split planning stays even.

    Payload model: octet_length of the text column summed per group —
    the uncompressed byte mass the writer actually packs (compression
    ratio is a per-codec constant that scales every group equally, so
    the file-count decision is unchanged; stated).  One single-scan
    rollup to group grain, then a literal target-grid explode over the
    group-sized frame — no second corpus pass for additional targets.

    Output: target_bytes, group, n_rows, total_bytes,
    n_files (= ceil(bytes/target), min 1), avg_file_bytes (round 6),
    rows_per_file (round 6).
    """
    g = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.octet_length(F.col(text_col)).cast("bigint"))
        .cast("bigint")
        .alias("total_bytes"),
    )
    grid = g.select(
        "*",
        F.explode(
            F.array(*[F.lit(int(tb)).cast("bigint") for tb in targets_bytes])
        ).alias("target_bytes"),
    )
    n_files = F.greatest(
        F.ceil(F.col("total_bytes").cast("double") / F.col("target_bytes"))
        .cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    return grid.select(
        "target_bytes",
        "group",
        "n_rows",
        "total_bytes",
        n_files.alias("n_files"),
        F.round(
            F.col("total_bytes").cast("double") / n_files.cast("double"), 6
        ).alias("avg_file_bytes"),
        F.round(
            F.col("n_rows").cast("double") / n_files.cast("double"), 6
        ).alias("rows_per_file"),
    )


def zorder_skipping_certificate(
    events: DataFrame,
    day_lo: int = 2,
    day_hi: int = 8,
    val_lo: float = 10.0,
    val_hi: float = 40.0,
) -> DataFrame:
    """Data-layout skipping certificate: how many files must each of
    three range predicates (two-column box, day-only, value-only)
    touch under four layouts — natural id order, day-sorted,
    lexicographic (day, value) sort, and Z-order (Morton) — given
    per-file min/max stats, i.e. EXACTLY the pruning parquet
    row-group stats give a 100 TB scan.  This is the measured
    justification for `sources.sink.write_zordered`, and the
    PREDICATE dimension is the point (Morton 1966; the Delta/Iceberg
    OPTIMIZE ZORDER rationale): a linear sort prunes brilliantly on
    its leading column and not at all past it, while the Z curve
    stays narrow on EVERY interleaved column at once — visible here
    as z-order being near-best in all three predicate rows where
    each sort wins only its own.

    Portability-by-construction: file boundaries are VALUE-defined
    (id ranges, day cells, (day, value-lane) cells, Z-prefix
    ranges), never count-defined — no global row_number sort, so the
    certificate itself runs as one linear pass + a files-sized
    rollup at any scale (the real writer pays its range shuffle; the
    certificate does not have to).  Day lanes offset against a
    broadcast 1-row min-day origin; value lanes are floor(sqrt(v)) —
    IEEE sqrt is correctly rounded, hence engine-portable, and the
    monotone transform keeps range predicates contiguous while
    spreading the skewed low-value mass across lanes.  The Morton
    value is a pure bit-arithmetic fold; granularities are sized so
    all but the day-only layout emit comparable file counts.

    Output per (layout, predicate): n_files, files_touched,
    rows_total, rows_matched, rows_in_touched, prune_rate (round 6),
    read_amplification (round 6).
    """
    day = F.floor(F.col("ts").cast("long") / 86400).cast("long")
    base = events.select(
        F.col("event_id"), day.alias("_day"), F.col("value")
    )
    origin = base.agg(F.min("_day").alias("_d0"))
    b = base.crossJoin(F.broadcast(origin)).select(
        "event_id",
        "value",
        F.least(F.col("_day") - F.col("_d0"), F.lit(31))
        .cast("long")
        .alias("d"),
        F.least(
            F.greatest(
                F.floor(F.sqrt(F.greatest(F.col("value"), F.lit(0.0))))
                .cast("long"),
                F.lit(0),
            ),
            F.lit(31),
        ).alias("v"),
    )
    z = F.lit(0).cast("long")
    for j in range(5):
        z = z + F.shiftleft(
            F.shiftright(F.col("d"), j).bitwiseAND(F.lit(1)), 2 * j
        ) + F.shiftleft(
            F.shiftright(F.col("v"), j).bitwiseAND(F.lit(1)), 2 * j + 1
        )
    b = b.withColumn("z", z)
    hit_day = (F.col("d") >= int(day_lo)) & (F.col("d") <= int(day_hi))
    hit_val = (F.col("value") >= float(val_lo)) & (
        F.col("value") <= float(val_hi)
    )
    fan = b.select(
        "d",
        "value",
        hit_day.alias("_hd"),
        hit_val.alias("_hv"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("id_chunks").alias("layout"),
                    (F.col("event_id") / 64).cast("long").alias("file"),
                ),
                F.struct(
                    F.lit("ts_daily").alias("layout"),
                    F.col("d").cast("long").alias("file"),
                ),
                F.struct(
                    F.lit("lex_day_value").alias("layout"),
                    (F.col("d") * 8 + F.shiftright(F.col("v"), 2))
                    .cast("long")
                    .alias("file"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.shiftright(F.col("z"), 2).cast("long").alias("file"),
                ),
            )
        ).alias("_f"),
    ).select("d", "value", "_hd", "_hv", "_f.layout", "_f.file")
    stats = fan.groupBy("layout", "file").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("d").alias("min_d"),
        F.max("d").alias("max_d"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        F.sum((F.col("_hd") & F.col("_hv")).cast("long")).alias("h_both"),
        F.sum(F.col("_hd").cast("long")).alias("h_day"),
        F.sum(F.col("_hv").cast("long")).alias("h_val"),
    )
    t_day = (F.col("min_d") <= int(day_hi)) & (F.col("max_d") >= int(day_lo))
    t_val = (F.col("min_v") <= float(val_hi)) & (
        F.col("max_v") >= float(val_lo)
    )
    preds = stats.select(
        "layout",
        "n_rows",
        F.explode(
            F.array(
                F.struct(
                    F.lit("both").alias("predicate"),
                    (t_day & t_val).alias("touched"),
                    F.col("h_both").alias("n_hit"),
                ),
                F.struct(
                    F.lit("day_only").alias("predicate"),
                    t_day.alias("touched"),
                    F.col("h_day").alias("n_hit"),
                ),
                F.struct(
                    F.lit("value_only").alias("predicate"),
                    t_val.alias("touched"),
                    F.col("h_val").alias("n_hit"),
                ),
            )
        ).alias("_p"),
    ).select("layout", "n_rows", "_p.predicate", "_p.touched", "_p.n_hit")
    return (
        preds.groupBy("layout", "predicate")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(F.col("touched").cast("long"))
            .cast("bigint")
            .alias("files_touched"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.sum("n_hit").cast("bigint").alias("rows_matched"),
            F.sum(F.when(F.col("touched"), F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_in_touched"),
        )
        .withColumn(
            "prune_rate",
            F.round(
                1.0
                - F.col("files_touched").cast("double")
                / F.col("n_files").cast("double"),
                6,
            ),
        )
        .withColumn(
            "read_amplification",
            F.when(
                F.col("rows_matched") > 0,
                F.round(
                    F.col("rows_in_touched").cast("double")
                    / F.col("rows_matched").cast("double"),
                    6,
                ),
            ),
        )
    )


def range_partition_planner(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_ranges: int = 8,
    sample_mod: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Range-boundary planner with a balance certificate — the table
    behind every ``repartitionByRange`` / range-bucketed write: pick
    n−1 cut values from a mergeable deterministic hash-sample (the
    :func:`fuel_spark.ops.sketch.quantile_sketch` sampling contract —
    Spark's own RangePartitioner does exactly this with a reservoir),
    then measure how evenly the FULL data lands in the resulting
    ranges.  The certificate column is the point: a fill_ratio far
    from 1 on some range means the sample under-resolved a dense
    region and the write will emit skewed files.

    One filtered scan for the sample (hash predicate pushes to the
    scan), a rank window over the SAMPLE ONLY for the cutpoints
    (sample-rate-bounded; ties break on key so the cut choice is
    total-ordered), ONE filter picks all n−1 cuts together (no
    per-cut replay), the sorted cut array broadcasts back, and one
    map-side rollup per range joined to a literal 0..n−1 spine so
    EMPTY ranges surface with n_rows = 0 — at scale the full data is
    never sorted, which is the planner's advantage over just running
    the range shuffle to see.  The sample count is a driver-side
    metadata action (sample-rate-bounded), the planner-CLI contract.

    Output per range: range_id, lo (null for the first), hi (null for
    the last), n_rows, ideal_rows, fill_ratio (round 6).
    """
    from pyspark.sql import Window as W

    from fuel_spark.functions import hash_mod

    spark = df.sparkSession
    base = df.select(
        F.col(key_col).alias("_k"), F.col(value_col).alias("_v")
    ).where(F.col(value_col).isNotNull())
    sample = base.where(hash_mod(f"rp{seed}", F.col("_k"), sample_mod) == 0)
    ranked = sample.select(
        "_v",
        F.row_number().over(W.orderBy("_v", "_k")).alias("_r"),
    )
    m = sample.count()
    targets = (
        [-(-i * m // n_ranges) for i in range(1, n_ranges)]
        if m >= n_ranges
        else []
    )
    if targets:
        carr = ranked.where(F.col("_r").isin(targets)).agg(
            F.array_sort(F.collect_list("_v")).alias("_cuts")
        )
    else:
        carr = spark.range(1).select(
            F.expr("CAST(array() AS ARRAY<DOUBLE>)").alias("_cuts")
        )
    assigned = base.crossJoin(F.broadcast(carr)).select(
        F.size(F.filter("_cuts", lambda c: c < F.col("_v")))
        .cast("bigint")
        .alias("range_id"),
    )
    per = assigned.groupBy("range_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    spine = spark.range(int(n_ranges)).select(
        F.col("id").cast("bigint").alias("range_id")
    )
    tot = per.agg(F.sum("n_rows").alias("_n"))
    return (
        spine.join(per, "range_id", "left")
        .withColumn("n_rows", F.coalesce("n_rows", F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(carr))
        .crossJoin(F.broadcast(tot))
        .select(
            "range_id",
            F.when(
                F.col("range_id") > 0,
                F.element_at(F.col("_cuts"), F.col("range_id").cast("int")),
            ).alias("lo"),
            F.when(
                F.col("range_id") < F.size("_cuts"),
                F.element_at(
                    F.col("_cuts"), F.col("range_id").cast("int") + 1
                ),
            ).alias("hi"),
            "n_rows",
            F.round(
                F.col("_n").cast("double") / F.lit(float(n_ranges)), 6
            ).alias("ideal_rows"),
            F.round(
                F.col("n_rows").cast("double")
                * F.lit(float(n_ranges))
                / F.col("_n").cast("double"),
                6,
            ).alias("fill_ratio"),
        )
        .orderBy("range_id")
    )


def mixture_after_dedup(
    df: DataFrame,
    domain_col: str,
    text_col: str,
    alpha: float = 0.7,
) -> DataFrame:
    """Dedup-aware mixture retempering — the composition a real
    curation pass runs but the per-op queries only show separately:
    exact dedup REMOVES mass unevenly across domains (boilerplate-
    heavy sources lose more), so the tempered mixture computed on raw
    token counts is stale the moment dedup runs.  Per domain: doc and
    token mass BEFORE vs AFTER within-domain exact dedup
    (md5(text)-keyed; identical copies carry identical token counts,
    so the kept mass is deterministic regardless of which copy
    survives), the tempered weight (:func:`domain_mixture_weights`
    numeric contract — tempered powers round-9 into DECIMAL so the
    normalizer is order-independent) on each side, and the shift.
    Cross-DOMAIN duplicate accounting is a different question and
    stays `dedup_cross_source_rate`'s surface (stated).

    One (domain, digest) distinct-shuffle plus two domain-grain
    rollups; the 1-row normalizing totals broadcast back.

    Output: domain, n_docs, n_docs_after, n_tokens, n_tokens_after,
    weight_before, weight_after, weight_shift.
    """
    base = df.select(
        F.col(domain_col).alias("_d"),
        F.md5(F.col(text_col)).alias("_dig"),
        _n_words(text_col).cast("bigint").alias("_n"),
    )
    before = base.groupBy("_d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_n").cast("bigint").alias("n_tokens"),
    )
    after = (
        base.groupBy("_d", "_dig")
        .agg(F.max("_n").alias("_n1"))
        .groupBy("_d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_after"),
            F.sum("_n1").cast("bigint").alias("n_tokens_after"),
        )
    )
    j = before.join(after, "_d")

    def tempered(col: str, out: str):
        w9 = F.round(
            F.pow(F.col(col).cast("double"), F.lit(float(alpha))), 9
        ).cast("decimal(38,9)")
        return w9.alias(out)

    p = j.select("*", tempered("n_tokens", "_wb"),
                 tempered("n_tokens_after", "_wa"))
    totals = p.agg(
        F.sum("_wb").alias("_twb"), F.sum("_wa").alias("_twa")
    )
    out = p.crossJoin(F.broadcast(totals)).select(
        F.col("_d").alias(domain_col),
        "n_docs",
        "n_docs_after",
        "n_tokens",
        "n_tokens_after",
        F.round(
            F.col("_wb").cast("double") / F.col("_twb").cast("double"), 6
        ).alias("weight_before"),
        F.round(
            F.col("_wa").cast("double") / F.col("_twa").cast("double"), 6
        ).alias("weight_after"),
    )
    return out.withColumn(
        "weight_shift",
        F.round(F.col("weight_after") - F.col("weight_before"), 6),
    )
