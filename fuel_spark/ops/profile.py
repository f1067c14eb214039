"""Data-quality profiling and expectation checks.

LLM-pipeline extension (no fuel analogue — fuel assumes clean curated
datasets; a 100 TB ingest cannot).  The shape follows the public
Deequ/Great-Expectations pattern: declarative per-column metrics and
constraints compiled into ONE aggregation pass over the data — never
one job per metric, which at scale multiplies full scans.

Everything is built-in `pyspark.sql.functions` aggregates, so the
whole profile is a single map-side-combinable agg (one shuffle of a
handful of rows); distinct counts use exact count_distinct by default
(one extra expand) with approx_count_distinct available when exactness
is not contractual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fuel_spark.functions import materialize

_NUMERIC = {"int", "bigint", "smallint", "tinyint", "double", "float", "decimal"}


def _is_numeric(dtype: str) -> bool:
    return dtype.split("(")[0] in _NUMERIC


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Per-column profile in long format: one output row per column
    with row/null/distinct counts, lexicographic-or-numeric min/max
    (as strings, so one schema fits every column type), and the mean
    for numeric columns (exact DECIMAL accumulation → deterministic
    at any parallelism).

    Compiled into a single agg: profiling 50 columns of a 100 TB table
    is one scan, not 50.
    """
    dtypes = dict(df.dtypes)
    cols = list(cols) if cols is not None else list(df.columns)
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"_nd_{c}"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"_nd_{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"_mn_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"_mx_{c}"))
        if _is_numeric(dtypes[c]):
            aggs.append(
                F.round(
                    F.sum(F.col(c).cast("decimal(27,6)")).cast("double")
                    / F.count(F.col(c)),
                    6,
                ).alias(f"_mean_{c}")
            )
    wide = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").cast("bigint").alias("n_rows"),
            (F.col("_n") - F.col(f"_nn_{c}")).cast("bigint").alias("n_null"),
            F.col(f"_nd_{c}").cast("bigint").alias("n_distinct"),
            F.col(f"_mn_{c}").alias("min_value"),
            F.col(f"_mx_{c}").alias("max_value"),
            (
                F.col(f"_mean_{c}") if _is_numeric(dtypes[c])
                else F.lit(None).cast("double")
            ).alias("mean"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def check_expectations(
    df: DataFrame,
    rules: list[tuple],
) -> DataFrame:
    """Declarative constraint suite → one row per rule with its
    violation count and pass flag, evaluated in a single scan.

    Rules (name, kind, *args):
      ("r1", "not_null", col)            — no NULLs in col
      ("r2", "between", col, lo, hi)     — lo <= col <= hi (NULL violates)
      ("r3", "in_set", col, [v, ...])    — col ∈ set (NULL violates)
      ("r4", "matches", col, regex)      — full-match regex (NULL violates)
      ("r5", "unique", col)              — no duplicate values
      ("r6", "non_negative", col)

    Uniqueness needs distinct counts, which fold into the same agg as
    the row-level violation sums — still one pass.
    """
    aggs: list[F.Column] = []
    for name, kind, *args in rules:
        if kind == "not_null":
            (c,) = args
            bad = F.col(c).isNull()
        elif kind == "between":
            c, lo, hi = args
            bad = ~F.col(c).between(lo, hi) | F.col(c).isNull()
        elif kind == "in_set":
            c, values = args
            bad = ~F.col(c).isin(list(values)) | F.col(c).isNull()
        elif kind == "matches":
            c, pat = args
            bad = ~F.col(c).rlike(f"^({pat})$") | F.col(c).isNull()
        elif kind == "non_negative":
            (c,) = args
            bad = (F.col(c) < 0) | F.col(c).isNull()
        elif kind == "unique":
            (c,) = args
            aggs.append(
                (F.count(F.col(c)) - F.count_distinct(F.col(c)))
                .cast("bigint")
                .alias(f"_v_{name}")
            )
            continue
        else:
            raise ValueError(f"unknown expectation kind: {kind}")
        aggs.append(
            F.count(F.when(bad, F.lit(1))).cast("bigint").alias(f"_v_{name}")
        )
    wide = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(name).alias("rule"),
            F.lit(kind).alias("kind"),
            F.col(f"_v_{name}").alias("n_violations"),
            (F.col(f"_v_{name}") == 0).alias("passed"),
        )
        for name, kind, *_ in rules
    ]
    return wide.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def quantile_bins(df, value_col: str, k: int = 10):
    """Equal-frequency discretization (the exact tier of MLlib's
    QuantileDiscretizer): k-quantile cutpoints of ``value_col``
    computed in one pass, then each row assigned the bin = number of
    inner cutpoints <= its value (0..k-1; values below the first cut
    land in 0, ties go up — the half-open [cut, next) convention).

    The k-1 cutpoints ride along as a broadcast 1-row relation
    (no driver round-trip, the fit stays inside the plan); assignment
    is a JVM array filter per row.  Exact `percentile` is a
    sort-based agg — at the 100 TB tier swap in approx_percentile
    (tests/test_sketches.py bounds the error) — the op shape is
    identical.

    Output: per-bin rollup — bin, n, min/max value, exact-decimal sum.
    """
    from pyspark.sql import functions as F

    probs = ", ".join(str(i / k) for i in range(1, k))
    cuts = df.agg(
        F.expr(f"percentile({value_col}, array({probs}))").alias("_cuts")
    )
    binned = df.crossJoin(F.broadcast(cuts)).withColumn(
        "bin",
        F.size(F.filter("_cuts", lambda c: c <= F.col(value_col))),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(value_col), 6).alias("min_value"),
            F.round(F.max(value_col), 6).alias("max_value"),
            F.sum(F.col(value_col).cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def key_skew(df, key_col: str, top_n: int = 20):
    """Join/shuffle-key skew diagnostic: the ``top_n`` hottest keys
    with their share of all rows, plus the skew ratio against a
    perfectly uniform spread (share * n_distinct_keys — ratio 40 means
    that key's shuffle partition runs ~40x the average).

    This is the pre-flight check for every keyed operation in the
    engine: a ratio in the hundreds says salt the aggregation
    (functions.salted_sum), star-degrade the bucket (max_bucket
    guards in dedup/similarity), or let AQE skew-split the join.  One
    groupBy, a distributed TakeOrdered for the top-n (orderBy+limit —
    NOT a global row_number window, which would single-partition the
    whole key-count table), then ranking over the tiny result only;
    totals ride along as a broadcast 1-row relation (no driver pass).

    Output: key (as string), n_rows, share (round 6), skew_ratio
    (round 6 — two-decimal rounding hits half-even vs half-up engine
    disagreements at values like 1.275), rank.
    """
    from pyspark.sql import Window, functions as F

    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").cast("double").alias("_total"),
        F.count(F.lit(1)).cast("double").alias("_nkeys"),
    )
    top = counts.orderBy(F.col("n_rows").desc(), F.col("key")).limit(top_n)
    w = Window.orderBy(F.col("n_rows").desc(), F.col("key"))
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.round(F.col("n_rows") * F.col("_nkeys") / F.col("_total"), 6).alias(
                "skew_ratio"
            ),
            "rank",
        )
    )


def standardize(df, value_col: str, group_col: str | None = None):
    """Z-score standardization (the exact tier of MLlib's
    StandardScaler), optionally per group: moments from exact-decimal
    Σx/Σx² (NOT stddev_pop — float accumulation order differs across
    engines and partitionings), broadcast back onto the rows.

    One map-side-combinable agg + one broadcast join; the row set
    never reshuffles.  Emits the population z-score rounded at 6
    (same moment machinery as plans.analytics.events_daily_anomalies).
    Output: input columns + mean, z.
    """
    from pyspark.sql import functions as F

    DEC = "decimal(27,6)"
    keys = [group_col] if group_col else []
    grouped = df.groupBy(*keys) if keys else df.groupBy()
    moments = grouped.agg(
        F.count(F.col(value_col)).alias("_n"),
        F.sum(F.col(value_col).cast(DEC)).cast("double").alias("_s1"),
        F.sum((F.col(value_col) * F.col(value_col)).cast(DEC))
        .cast("double")
        .alias("_s2"),
    )
    mean = F.col("_s1") / F.col("_n")
    var = F.col("_s2") / F.col("_n") - mean * mean
    joined = (
        df.join(F.broadcast(moments), keys)
        if keys
        else df.crossJoin(F.broadcast(moments))
    )
    return (
        joined.withColumn("mean", F.round(mean, 6))
        .withColumn(
            "z",
            F.round(
                (F.col(value_col) - mean)
                / F.sqrt(F.greatest(var, F.lit(1e-12))),
                6,
            ),
        )
        .drop("_n", "_s1", "_s2")
    )


def check_referential(
    rules: list[tuple],
) -> "DataFrame":
    """Referential-integrity suite: each rule asserts that a child
    table's key column only holds values present in a parent table —
    the cross-table complement of :func:`check_expectations` (orphan
    lineitems, events for deleted users, dangling snapshot ids).

    Rules: ``(name, child_df, child_col, parent_df, parent_col)``.
    Each rule is one left_anti join counting orphans — the child
    shuffles on its key once, the parent side ships only its distinct
    key column.  Output: one row per rule (rule, n_orphans, passed).
    """
    parts = []
    for name, child, child_col, parent, parent_col in rules:
        orphans = child.select(F.col(child_col).alias("_k")).join(
            parent.select(F.col(parent_col).alias("_k")).distinct(),
            "_k",
            "left_anti",
        )
        parts.append(
            orphans.agg(
                F.lit(name).alias("rule"),
                F.count(F.lit(1)).cast("bigint").alias("n_orphans"),
            ).withColumn("passed", F.col("n_orphans") == 0)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def schema_diff(old: "DataFrame", new: "DataFrame") -> list[tuple]:
    """Schema drift between two snapshots: (column, status, old_type,
    new_type) for every added / removed / retyped column — the check
    an ingest pipeline runs before appending a new crawl to an
    existing dataset (silent type drift corrupts partitions).

    Pure metadata (no job runs); returns a plain list so callers can
    gate an append on ``not any(status != 'same' ...)`` without a
    Spark action.
    """
    o = dict(old.dtypes)
    n = dict(new.dtypes)
    out = []
    for c in sorted(set(o) | set(n)):
        if c not in n:
            out.append((c, "removed", o[c], None))
        elif c not in o:
            out.append((c, "added", None, n[c]))
        elif o[c] != n[c]:
            out.append((c, "retyped", o[c], n[c]))
        else:
            out.append((c, "same", o[c], n[c]))
    return out


def winsorize(
    df: "DataFrame",
    value_col: str,
    lower_q: float = 0.01,
    upper_q: float = 0.99,
    group_col: str | None = None,
    out_col: str | None = None,
) -> "DataFrame":
    """Winsorization: clip ``value_col`` to its [lower_q, upper_q]
    exact percentiles (optionally per group) and flag clipped rows —
    the standard outlier treatment before fitting anything
    moment-based (a single fat-finger order otherwise owns the mean).

    One percentile agg (aggregate-sized; grouped or global) broadcast
    back onto the rows, then a row-local clamp: the data never
    shuffles.  Exact ``percentile`` is a sort-based agg — at the
    100 TB tier swap in approx_percentile, identical shape.
    """
    out_col = out_col or f"{value_col}_winsorized"
    keys = [group_col] if group_col else []
    grouped = df.groupBy(*keys) if keys else df.groupBy()
    cuts = grouped.agg(
        F.percentile(value_col, lower_q).alias("_lo"),
        F.percentile(value_col, upper_q).alias("_hi"),
    )
    joined = (
        df.join(F.broadcast(cuts), keys)
        if keys
        else df.crossJoin(F.broadcast(cuts))
    )
    clipped = F.round(
        F.greatest(F.least(F.col(value_col), F.col("_hi")), F.col("_lo")), 6
    )
    return (
        joined.withColumn(out_col, clipped)
        .withColumn(
            "was_clipped",
            (F.col(value_col) < F.col("_lo")) | (F.col(value_col) > F.col("_hi")),
        )
        .drop("_lo", "_hi")
    )


def trend_by_group(
    df: "DataFrame",
    x_col: str,
    y_col: str,
    group_col: str | None = None,
) -> "DataFrame":
    """Per-group ordinary-least-squares line: slope, intercept, and r²
    of ``y ~ x`` from closed-form moments — the is-this-metric-
    growing primitive (revenue over time per segment, value per day
    per type) without any iterative fit.

    All five moments (Σx Σy Σxy Σx² Σy²) accumulate in one
    map-side-combinable agg with exact DECIMAL sums, so slope and r²
    are deterministic at any parallelism; degenerate groups (n < 2 or
    zero x-variance) yield NULL slope rather than ±inf.
    """
    DEC = "decimal(27,6)"
    keys = [group_col] if group_col else []
    grouped = df.groupBy(*keys) if keys else df.groupBy()
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    m = grouped.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("_sx"),
        F.sum(y.cast(DEC)).cast("double").alias("_sy"),
        F.sum((x * y).cast(DEC)).cast("double").alias("_sxy"),
        F.sum((x * x).cast(DEC)).cast("double").alias("_sxx"),
        F.sum((y * y).cast(DEC)).cast("double").alias("_syy"),
    )
    n = F.col("n")
    ssx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    ssy = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
    sxy = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    slope = F.when((n >= 2) & (ssx > 0), sxy / ssx)
    intercept = (F.col("_sy") - slope * F.col("_sx")) / n
    r2 = F.when((n >= 2) & (ssx > 0) & (ssy > 0), (sxy * sxy) / (ssx * ssy))
    return m.select(
        *keys,
        n.cast("bigint").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def binary_auc(
    df: DataFrame, score_col: str, label_col, quantize: int = 4
) -> DataFrame:
    """ROC AUC of a score against a binary label by the rank-free
    histogram method: AUC = P(score_pos > score_neg) + ½P(tie),
    computed from per-score (pos, neg) counts and a cumulative
    negative count — the Mann–Whitney U statistic without a
    corpus-sized rank window.  The classifier-evaluation primitive
    the quality/lang-id heuristics need to be judged by.

    ``quantize`` rounds scores to that many decimals first, bounding
    the grid at 10^quantize+1 rows regardless of corpus size (stated
    tie-coarsening bias, standard for histogram AUC at scale); the
    cumulative window runs over that bounded grid.  Pair counts
    accumulate as exact DECIMAL(38,1) (pos·neg products at 100 TB
    overflow double's 2^53 integer range).

    ``label_col`` may be a column name or a boolean Column
    expression.  Output: one row — n_pos, n_neg, auc (round 6).
    """
    from pyspark.sql import Window as W

    y = (F.col(label_col) if isinstance(label_col, str) else label_col).cast(
        "int"
    )
    b = df.select(
        F.round(F.col(score_col).cast("double"), int(quantize)).alias("s"),
        y.alias("y"),
    )
    g = b.groupBy("s").agg(
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    w = W.orderBy("s")
    g = g.withColumn(
        "_cneg",
        F.coalesce(
            F.sum("neg").over(w.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    # doubled-U keeps everything integral (the ½-tie term would force
    # a fractional decimal scale): 2U = Σ pos·(2·neg_below + neg_here)
    contrib = F.col("pos").cast("decimal(38,0)") * (
        F.lit(2) * F.col("_cneg") + F.col("neg")
    )
    tot = g.agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.sum(contrib).alias("_u2"),
    )
    return tot.select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        F.round(
            F.col("_u2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
            6,
        ).alias("auc"),
    )


def cohen_kappa(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cohen's kappa agreement between two categorical columns
    (Cohen 1960): observed agreement corrected for the agreement two
    independent raters with the same marginals would reach by chance —
    the standard heuristic-vs-ground-truth or annotator-agreement
    score (plain accuracy flatters degenerate raters).

    One K²-sized confusion rollup; marginals re-aggregate from it, so
    the corpus is scanned once.  Chance agreement sums round-9
    products as exact DECIMAL.  Output: one row — n, po, pe, kappa
    (round 6).
    """
    c = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    c = materialize(c)  # consumed 4x (N, trace, margins)
    tot = c.agg(F.sum("n").cast("double").alias("_N"))
    po = (
        c.where(F.col("a") == F.col("b"))
        .agg(F.sum("n").alias("_agree"))
        .select(F.coalesce("_agree", F.lit(0)).alias("_agree"))
    )
    ra = c.groupBy("a").agg(F.sum("n").alias("_ra"))
    cb = c.groupBy("b").agg(F.sum("n").alias("_cb"))
    pe = (
        ra.join(cb, ra.a == cb.b)
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("_ra").cast("double") / F.col("_N"))
                * (F.col("_cb").cast("double") / F.col("_N")),
                9,
            )
            .cast("decimal(27,18)")
            .alias("_t")
        )
        .agg(F.sum("_t").cast("double").alias("_pe"))
    )
    out = (
        tot.crossJoin(F.broadcast(po)).crossJoin(F.broadcast(pe))
        .select(
            F.col("_N").cast("bigint").alias("n"),
            (F.col("_agree").cast("double") / F.col("_N")).alias("_po"),
            "_pe",
        )
    )
    return out.select(
        "n",
        F.round("_po", 6).alias("po"),
        F.round("_pe", 6).alias("pe"),
        F.round(
            (F.col("_po") - F.col("_pe")) / (F.lit(1.0) - F.col("_pe")), 6
        ).alias("kappa"),
    )


def mutual_information(df: DataFrame, col_x, col_y) -> DataFrame:
    """Mutual information (nats) between two categorical columns,
    with both marginal entropies and the min-normalized NMI — the
    dependence strength behind feature selection and leakage checks
    (chi-square answers "is there dependence", MI answers "how many
    bits does one column reveal about the other").

    ``col_x`` / ``col_y`` accept names or Column expressions.  One
    joint rollup (grid-sized), marginals re-aggregate from it;
    per-cell terms round to 9 dp and sum as exact DECIMAL, so the
    result is partition-order-free.  Output: one row — n, mi, h_x,
    h_y, nmi (round 6).
    """
    DECM = "decimal(27,18)"
    cx = F.col(col_x) if isinstance(col_x, str) else col_x
    cy = F.col(col_y) if isinstance(col_y, str) else col_y
    j = df.groupBy(cx.alias("x"), cy.alias("y")).agg(
        F.count(F.lit(1)).alias("n")
    )
    j = materialize(j)
    tot = j.agg(F.sum("n").cast("double").alias("_N"))
    mx = j.groupBy("x").agg(F.sum("n").alias("_nx"))
    my = j.groupBy("y").agg(F.sum("n").alias("_ny"))

    def _entropy(m, cnt):
        return (
            m.crossJoin(F.broadcast(tot))
            .select(
                F.round(
                    -(F.col(cnt).cast("double") / F.col("_N"))
                    * F.log(F.col(cnt).cast("double") / F.col("_N")),
                    9,
                )
                .cast(DECM)
                .alias("_t")
            )
            .agg(F.sum("_t").cast("double").alias("_h"))
        )

    hx = _entropy(mx, "_nx")
    hy = _entropy(my, "_ny")
    mi = (
        j.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("n").cast("double") / F.col("_N"))
                * F.log(
                    (F.col("n").cast("double") * F.col("_N"))
                    / (F.col("_nx").cast("double") * F.col("_ny").cast("double"))
                ),
                9,
            )
            .cast(DECM)
            .alias("_t")
        )
        .agg(F.sum("_t").cast("double").alias("_mi"))
    )
    out = (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx.select(F.col("_h").alias("_hx"))))
        .crossJoin(F.broadcast(hy.select(F.col("_h").alias("_hy"))))
    )
    return out.select(
        F.col("_N").cast("bigint").alias("n"),
        F.round("_mi", 6).alias("mi"),
        F.round("_hx", 6).alias("h_x"),
        F.round("_hy", 6).alias("h_y"),
        F.round(
            F.when(
                F.least("_hx", "_hy") > 0,
                F.col("_mi") / F.least("_hx", "_hy"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("nmi"),
    )


def calibration_bins(
    df: DataFrame, score_col: str, label_col, n_bins: int = 10
) -> DataFrame:
    """Reliability diagram + expected calibration error (Guo et al.
    2017's ECE over equal-WIDTH bins — the model-monitoring twin of
    :func:`binary_auc`): a score can rank perfectly (AUC 1) yet be
    badly calibrated; this table is what decides whether a quality
    score's VALUE can gate thresholds or only its ORDER can.

    One corpus pass funnels into an ≤n_bins-row frame; everything
    after (per-bin means, the ECE reduction, the broadcast-back) is
    bin-grain.  Means use the exact-rational
    :func:`fuel_spark.functions.round6_ratio` contract: scores round
    to 6 dp before the DECIMAL sum, so both engines agree at every
    half-way boundary.  ECE rides on each row (1-row broadcast):
    ECE = Σ n_b/N · |pos_rate_b − mean_score_b|, computed from the
    already-rounded per-bin values so the certificate is exactly
    reproducible from the table itself.

    ``label_col`` may be a name or a boolean Column.  Output per bin:
    bin, n, mean_score, pos_rate, abs_gap, ece.
    """
    from fuel_spark.functions import round6_ratio

    y = (F.col(label_col) if isinstance(label_col, str) else label_col).cast(
        "int"
    )
    # bin on the EXACT decimal (floor(decimal·k) is exact; floor of a
    # double product flips at representation edges like 0.3·10)
    sdec = F.round(F.col(score_col).cast("double"), 6).cast("decimal(27,6)")
    b = df.select(
        F.least(
            F.floor(sdec * int(n_bins)).cast("bigint"),
            F.lit(int(n_bins) - 1),
        ).alias("bin"),
        sdec.alias("s"),
        y.alias("y"),
    )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        round6_ratio(F.sum("s"), F.count(F.lit(1))).alias("mean_score"),
        round6_ratio(
            F.sum("y").cast("decimal(27,6)"), F.count(F.lit(1))
        ).alias("pos_rate"),
    )
    g = g.withColumn(
        "abs_gap",
        F.abs(
            F.col("pos_rate").cast("decimal(27,6)")
            - F.col("mean_score").cast("decimal(27,6)")
        ).cast("double"),
    )
    tot = g.agg(
        round6_ratio(
            F.sum(
                F.col("n")
                * F.col("abs_gap").cast("decimal(27,6)")
            ).cast("decimal(27,6)"),
            F.sum("n"),
        ).alias("ece")
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "bin", "n", "mean_score", "pos_rate", "abs_gap", "ece"
    )


# ---------------------------------------------------------------------------
# round 9: catalog profiling — the pre-training data-quality audit
# tier (top values, functional dependencies, duplicate rows, IQR
# outliers, cross-modal coverage, date coverage, entropy, constancy)
# ---------------------------------------------------------------------------


def top_values(
    df: DataFrame, cols: list[str], k: int = 3, table: str = "t"
) -> DataFrame:
    """Top-``k`` most frequent values per categorical column, long
    format — the catalog card every curation decision starts from.
    Deterministic tie-break (count DESC, value ASC).  One bounded
    groupBy per column (each keyed by the column's value domain),
    unioned; rank windows run over the per-column value frames, never
    row grain.  Output: table, column, value, cnt, rnk."""
    from pyspark.sql import Window

    parts = []
    for c in cols:
        counts = df.groupBy(F.col(c).cast("string").alias("value")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        w = Window.orderBy(F.col("cnt").desc(), F.col("value").asc())
        parts.append(
            counts.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= int(k))
            .select(
                F.lit(table).alias("table"),
                F.lit(c).alias("column"),
                "value",
                "cnt",
                F.col("rnk").cast("bigint").alias("rnk"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fd_violations(
    df: DataFrame, rules: list[tuple], table: str = "t"
) -> DataFrame:
    """Functional-dependency audit: for each candidate ``lhs -> rhs``
    rule, how many lhs keys map to MORE than one distinct rhs value
    (0 violating keys = the dependency holds — a unit-of-grain
    contract worth pinning before any groupBy assumes it).  Each rule
    is one map-side-combinable distinct-count per key; the verdict
    reduction runs over the key-count frame.  Rules: (name, lhs_col,
    rhs_col).  Output per rule: rule, n_keys, n_violating_keys,
    max_rhs_variants, holds."""
    parts = []
    for name, lhs, rhs in rules:
        per_key = df.groupBy(F.col(lhs).alias("_k")).agg(
            F.count_distinct(F.col(rhs)).alias("_nv")
        )
        parts.append(
            per_key.agg(
                F.lit(name).alias("rule"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum(F.when(F.col("_nv") > 1, 1).otherwise(0))
                .cast("long").alias("n_violating_keys"),
                F.max("_nv").cast("long").alias("max_rhs_variants"),
            ).withColumn("holds", F.col("n_violating_keys") == 0)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def duplicate_row_stats(
    df: DataFrame, cols: list[str], table: str = "t"
) -> DataFrame:
    """Exact duplicate census over a column set: total rows, distinct
    combinations, surplus rows (the exact-dedup savings if this were
    the dedup key).  One distinct-count pass.  Output: table, n_rows,
    n_distinct, n_dup_rows."""
    return df.agg(
        F.lit(table).alias("table"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct(*[F.col(c) for c in cols])
        .cast("long").alias("n_distinct"),
        (
            F.count(F.lit(1))
            - F.count_distinct(*[F.col(c) for c in cols])
        ).cast("long").alias("n_dup_rows"),
    )


def iqr_outlier_stats(
    df: DataFrame, value_col: str, label: str | None = None
) -> DataFrame:
    """Tukey-fence outlier census with EXACT rank quartiles: q1/q3 are
    the ceil(n/4)-th / ceil(3n/4)-th smallest values taken off the
    VALUE-GRID cumulative window (counts per distinct value, cumsum
    over the value domain — the KS/Mann-Whitney midrank family, never
    a row-grain global sort), fences q1/q3 -/+ 1.5*IQR in exact
    decimal arithmetic, outlier counts re-read off the same grid.
    Output: column, n, q1, q3, n_low, n_high."""
    vals = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).cast("decimal(18,2)").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    grid = vals.withColumn("cum", F.sum("cnt").over(w))
    tot = grid.agg(F.sum("cnt").cast("long").alias("_n"))
    g = grid.crossJoin(F.broadcast(tot))
    # ceil(n/4) and ceil(3n/4) in integers
    q1v = g.where(
        F.col("cum") >= (F.col("_n") + 3 - F.pmod(F.col("_n") + 3, 4)) / 4
    ).agg(F.min("v").alias("q1"))
    q3v = g.where(
        F.col("cum")
        >= (F.col("_n") * 3 + 3 - F.pmod(F.col("_n") * 3 + 3, 4)) / 4
    ).agg(F.min("v").alias("q3"))
    # 1.5 as a DECIMAL literal: a double 1.5 would demote the fence
    # arithmetic to floats (DuckDB's 1.5 literal is DECIMAL(2,1))
    k15 = F.lit("1.5").cast("decimal(2,1)")
    qq = q1v.crossJoin(F.broadcast(q3v)).select(
        "q1", "q3",
        (F.col("q1") - (F.col("q3") - F.col("q1")) * k15)
        .cast("decimal(20,3)").alias("_lo"),
        (F.col("q3") + (F.col("q3") - F.col("q1")) * k15)
        .cast("decimal(20,3)").alias("_hi"),
    )
    out = vals.crossJoin(F.broadcast(qq)).agg(
        F.lit(label or value_col).alias("column"),
        F.sum("cnt").cast("long").alias("n"),
        F.max(F.col("q1").cast("double")).alias("q1"),
        F.max(F.col("q3").cast("double")).alias("q3"),
        F.sum(F.when(F.col("v") < F.col("_lo"), F.col("cnt"))
              .otherwise(0)).cast("long").alias("n_low"),
        F.sum(F.when(F.col("v") > F.col("_hi"), F.col("cnt"))
              .otherwise(0)).cast("long").alias("n_high"),
    )
    return out


def modal_coverage(
    a: DataFrame, a_id: str, b: DataFrame, b_id: str
) -> DataFrame:
    """Cross-modal id coverage: which ids exist in both frames, only
    in A (documents without embeddings — the re-embed backlog), only
    in B (embeddings without documents — the takedown backlog).  One
    full-outer id join.  Output: status, n_ids."""
    j = a.select(F.col(a_id).alias("_a")).distinct().join(
        b.select(F.col(b_id).alias("_b")).distinct(),
        F.col("_a") == F.col("_b"),
        "full_outer",
    )
    status = (
        F.when(F.col("_a").isNull(), F.lit("b_only"))
        .when(F.col("_b").isNull(), F.lit("a_only"))
        .otherwise(F.lit("both"))
    )
    return j.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n_ids")
    )


def date_coverage(
    df: DataFrame, date_col, table: str = "t"
) -> DataFrame:
    """Calendar coverage: min/max date, distinct days present, span
    days, and the gap count (span - present) — the
    is-this-extract-complete header row.  One distinct-day census.
    Output: table, min_d, max_d, days_present, span_days, gap_days."""
    d = df.select(F.to_date(date_col).alias("_d")).where(
        F.col("_d").isNotNull()
    )
    return d.agg(
        F.lit(table).alias("table"),
        # dates as strings: the driver canonicalizer renders date vs
        # datetime cells differently across engines
        F.min("_d").cast("string").alias("min_d"),
        F.max("_d").cast("string").alias("max_d"),
        F.count_distinct("_d").cast("long").alias("days_present"),
        (F.datediff(F.max("_d"), F.min("_d")) + 1)
        .cast("long").alias("span_days"),
        (
            F.datediff(F.max("_d"), F.min("_d")) + 1
            - F.count_distinct("_d")
        ).cast("long").alias("gap_days"),
    )


_LN2 = 0.6931471805599453  # shared LITERAL so both engines divide by
# the identical constant (each engine's own ln(2) could differ 1 ulp)


def categorical_entropy(
    df: DataFrame, cols: list[str], table: str = "t"
) -> DataFrame:
    """Shannon entropy (bits) per categorical column — the
    one-number diversity read beside :func:`top_values`.  Per-value
    terms -p*ln(p) round(9) into DECIMAL before the sum (the LLR/MI
    float contract), divided by a shared ln(2) literal.  Each column
    is one value-domain-bounded groupBy.  Output: table, column, n,
    n_distinct, entropy_bits."""
    parts = []
    for c in cols:
        counts = df.where(F.col(c).isNotNull()).groupBy(
            F.col(c).cast("string").alias("value")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        tot = counts.agg(
            F.sum("cnt").cast("double").alias("_n"),
            F.count(F.lit(1)).cast("long").alias("_nd"),
        )
        term = F.round(
            -(F.col("cnt") / F.col("_n"))
            * F.log(F.col("cnt") / F.col("_n")),
            9,
        ).cast("decimal(27,9)")
        parts.append(
            counts.crossJoin(F.broadcast(tot)).agg(
                F.lit(table).alias("table"),
                F.lit(c).alias("column"),
                F.max("_n").cast("long").alias("n"),
                F.max("_nd").alias("n_distinct"),
                F.round(
                    F.sum(term).cast("double") / F.lit(_LN2), 6
                ).alias("entropy_bits"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def constancy(
    df: DataFrame, cols: list[str], table: str = "t",
    near_constant_floor: float = 0.99,
) -> DataFrame:
    """Near-constant-column detector: the top value's share per
    column (a column whose top value covers >= ``floor`` of rows
    carries ~no signal and is a drop candidate).  Exact-rational
    share.  Output: table, column, n, n_distinct, top1_cnt,
    top1_share, near_constant."""
    from fuel_spark.functions import round6_ratio

    parts = []
    for c in cols:
        counts = df.where(F.col(c).isNotNull()).groupBy(
            F.col(c).cast("string").alias("value")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        parts.append(
            counts.agg(
                F.lit(table).alias("table"),
                F.lit(c).alias("column"),
                F.sum("cnt").cast("long").alias("n"),
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
                F.max("cnt").cast("long").alias("top1_cnt"),
                round6_ratio(
                    F.max("cnt").cast("decimal(27,6)"), F.sum("cnt")
                ).alias("top1_share"),
            ).withColumn(
                "near_constant",
                F.col("top1_share") >= F.lit(float(near_constant_floor)),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def row_width_estimate(
    df: DataFrame, byte_expr, table: str = "t"
) -> DataFrame:
    """Row-width header: exact-rational mean and total of a caller-
    supplied per-row byte estimate (string lengths + fixed numeric
    widths) — the file-count / partition-size planning input
    (pair with curate.file_layout_planner).  Output: table, n_rows,
    total_bytes, mean_row_bytes."""
    from fuel_spark.functions import round6_ratio

    return df.select(byte_expr.cast("long").alias("_b")).agg(
        F.lit(table).alias("table"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("_b").cast("long").alias("total_bytes"),
        round6_ratio(
            F.sum(F.col("_b").cast("decimal(27,6)")), F.count(F.lit(1))
        ).alias("mean_row_bytes"),
    )


def numeric_moments(
    df: DataFrame, value_col: str, label: str | None = None
) -> DataFrame:
    """Skewness / excess-kurtosis profile row per numeric column —
    the shape screen beside :func:`profile_columns`'s location/scale
    (a heavy right tail says winsorize or log before z-rules; the
    events_jarque_bera numeric contract applied at catalog grain).
    Four decimal-exact raw moments in one pass (double products
    rounded into DECIMAL(38,4) sums — exact for the catalog's value
    ranges, headroom documented in the JB twin), centered moments and
    the statistics in one fixed double chain the oracle mirrors
    op-for-op.  Output: column, n, mean, stddev, skewness,
    excess_kurtosis (round 6)."""
    DECJ = "decimal(38,4)"
    v = F.col(value_col).cast("double")
    m = df.where(F.col(value_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast(DECJ)).cast("double").alias("_s1"),
        F.sum((v * v).cast(DECJ)).cast("double").alias("_s2"),
        F.sum((v * v * v).cast(DECJ)).cast("double").alias("_s3"),
        F.sum((v * v * v * v).cast(DECJ)).cast("double").alias("_s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("_s1") / n
    m2 = F.col("_s2") / n - mu * mu
    m3 = (
        F.col("_s3") / n
        - F.lit(3.0) * mu * (F.col("_s2") / n)
        + F.lit(2.0) * mu * mu * mu
    )
    m4 = (
        F.col("_s4") / n
        - F.lit(4.0) * mu * (F.col("_s3") / n)
        + F.lit(6.0) * mu * mu * (F.col("_s2") / n)
        - F.lit(3.0) * mu * mu * mu * mu
    )
    sk = m3 / F.sqrt(F.greatest(m2 * m2 * m2, F.lit(1e-300)))
    ek = m4 / F.greatest(m2 * m2, F.lit(1e-300)) - F.lit(3.0)
    return m.select(
        F.lit(label or value_col).alias("column"),
        F.col("n").cast("long").alias("n"),
        F.round(mu, 6).alias("mean"),
        F.round(F.sqrt(F.greatest(m2, F.lit(0.0))), 6).alias("stddev"),
        F.round(sk, 6).alias("skewness"),
        F.round(ek, 6).alias("excess_kurtosis"),
    )


def pearson_pairs(
    df: DataFrame, pairs: list[tuple]
) -> DataFrame:
    """Pairwise Pearson correlation card: one row per requested
    column pair, each computed from five decimal-exact sums in a
    single fixed double chain (the lineitem_qty_price_corr contract
    generalized).  One aggregation pass per pair over the input.
    Output: col_x, col_y, n, pearson_r (round 6)."""
    parts = []
    for cx, cy in pairs:
        x, y = F.col(cx), F.col(cy)
        DEC = "decimal(27,6)"
        m = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x.cast(DEC)).cast("double").alias("_sx"),
            F.sum(y.cast(DEC)).cast("double").alias("_sy"),
            F.sum((x * y).cast(DEC)).cast("double").alias("_sxy"),
            F.sum((x * x).cast(DEC)).cast("double").alias("_sxx"),
            F.sum((y * y).cast(DEC)).cast("double").alias("_syy"),
        )
        nn = F.col("n").cast("double")
        mx = F.col("_sx") / nn
        my = F.col("_sy") / nn
        num = F.col("_sxy") / nn - mx * my
        den = F.sqrt(
            F.greatest(
                (F.col("_sxx") / nn - mx * mx)
                * (F.col("_syy") / nn - my * my),
                F.lit(1e-300),
            )
        )
        parts.append(m.select(
            F.lit(cx).alias("col_x"),
            F.lit(cy).alias("col_y"),
            F.col("n").cast("long").alias("n"),
            F.round(num / den, 6).alias("pearson_r"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# r10 catalog round-out: key audit, dtype inference, sortedness, masks
# --------------------------------------------------------------------------


def key_uniqueness(candidates) -> DataFrame:
    """Candidate-key audit: for each (table, candidate, frame-of-key-
    columns), exact row / distinct counts and the is_key verdict —
    the constraint-discovery read that decides bucketing and merge
    keys (a 'key' with dups silently double-counts every downstream
    join).

    ``candidates`` is a list of (table_name, candidate_name, df) where
    df is the projection of exactly the candidate's columns; each
    audit is one count + one distinct per candidate (map-side-
    combinable), unioned into the summary frame."""
    parts = []
    for table, cand, df in candidates:
        parts.append(
            df.agg(
                F.lit(table).alias("table_name"),
                F.lit(cand).alias("candidate"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count_distinct(*[F.col(c) for c in df.columns])
                .cast("bigint").alias("n_distinct"),
            ).select(
                "table_name", "candidate", "n_rows", "n_distinct",
                (F.col("n_rows") - F.col("n_distinct")).cast("bigint")
                .alias("n_dup_rows"),
                (F.col("n_rows") == F.col("n_distinct")).alias("is_key"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_INT_RE = "^-?[0-9]+$"
_DBL_RE = "^-?[0-9]+(\\.[0-9]+)?$"
_DATE_RE = "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"


def dtype_inference(stacked: DataFrame) -> DataFrame:
    """Schema-inference audit over STRING-rendered values: per column
    name in the stacked (col_name, val) frame, the share of values
    parseable as int / double / date and the empty share — the read
    that catches a numeric column shipped as strings (the classic
    silent 100 TB CSV tax: string comparisons, no pushdown, no
    stats).

    Pure regexp census (identical regexes both engines — try_cast
    semantics differ cross-engine, regex classes do not).  Output per
    col_name: n_values, int_rate, double_rate, date_rate,
    empty_rate (exact-rational round6)."""
    from fuel_spark.functions import round6_ratio

    v = F.col("val")
    agg = stacked.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.sum(F.when(v.rlike(_INT_RE), 1).otherwise(0)).cast("bigint")
        .alias("_int"),
        F.sum(F.when(v.rlike(_DBL_RE), 1).otherwise(0)).cast("bigint")
        .alias("_dbl"),
        F.sum(F.when(v.rlike(_DATE_RE), 1).otherwise(0)).cast("bigint")
        .alias("_dt"),
        F.sum(F.when(F.coalesce(v, F.lit("")) == "", 1).otherwise(0))
        .cast("bigint").alias("_emp"),
    )
    den = F.greatest(F.col("n_values"), F.lit(1))
    return agg.select(
        "col_name", "n_values",
        round6_ratio(F.col("_int").cast("decimal(27,6)"), den).alias(
            "int_rate"
        ),
        round6_ratio(F.col("_dbl").cast("decimal(27,6)"), den).alias(
            "double_rate"
        ),
        round6_ratio(F.col("_dt").cast("decimal(27,6)"), den).alias(
            "date_rate"
        ),
        round6_ratio(F.col("_emp").cast("decimal(27,6)"), den).alias(
            "empty_rate"
        ),
    )


def group_sortedness(
    df: DataFrame, part_col: str, order_cols, value_cols
) -> DataFrame:
    """Within-group sortedness audit: for each value column, the
    fraction of adjacent (by ``order_col`` inside each ``part_col``
    group) pairs that are nondecreasing — the physical-layout read
    that prices range pruning and delta encoding (a column already
    ~sorted within its natural key compresses and prunes for free).

    The window partitions by the GROUP key — never a global sort, so
    the audit scales with ordinary shuffle parallelism.
    ``order_cols`` must be a list forming an order that is TOTAL up
    to rows identical in every audited column (synthetic lineitem has
    duplicate (orderkey, linenumber) pairs — a non-total order makes
    the adjacency nondeterministic ACROSS ENGINES and the audit
    unhashable; including the audited columns in the tie-break makes
    any residual ties comparison-neutral).  Output per column:
    n_pairs, n_sorted, sorted_fraction (round6)."""
    from pyspark.sql import Window

    from fuel_spark.functions import round6_ratio

    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    # ONE window pass computes every column's lag (3 separate windows
    # measured 21s at the 20x smoke; the shared sort is the cost)
    lagged = materialize(
        df.select(
            *[F.col(c).alias(f"_v{i}") for i, c in enumerate(value_cols)],
            *[
                F.lag(c).over(w).alias(f"_p{i}")
                for i, c in enumerate(value_cols)
            ],
        )
    )
    parts = []
    for i, c in enumerate(value_cols):
        pair = lagged.where(F.col(f"_p{i}").isNotNull())
        parts.append(
            pair.agg(
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.sum(
                    F.when(
                        F.col(f"_v{i}") >= F.col(f"_p{i}"), 1
                    ).otherwise(0)
                ).cast("bigint").alias("n_sorted"),
            ).select(
                "column_name", "n_pairs", "n_sorted",
                round6_ratio(
                    F.col("n_sorted").cast("decimal(27,6)"),
                    F.greatest(F.col("n_pairs"), F.lit(1)),
                ).alias("sorted_fraction"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def mask_census(stacked: DataFrame, top_k: int = 5) -> DataFrame:
    """Character-class mask census: values collapse to masks
    (uppercase runs -> 'A', lowercase runs -> 'a', digit runs -> '9',
    punctuation kept) and the top masks per column are ranked — the
    format-discovery read (one rogue mask in an id column is the
    malformed ingest a schema check can't see).

    Output per (col_name, rank<=top_k): mask, n_values, the rank
    deterministic on (count desc, mask)."""
    from pyspark.sql import Window

    mask = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("val"), "[A-Z]+", "A"),
            "[a-z]+", "a",
        ),
        "[0-9]+", "9",
    )
    agg = stacked.select("col_name", mask.alias("mask")).groupBy(
        "col_name", "mask"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_values"))
    w = Window.partitionBy("col_name").orderBy(
        F.col("n_values").desc(), F.col("mask")
    )
    return (
        agg.select(
            "col_name",
            F.row_number().over(w).cast("bigint").alias("rank"),
            "mask", "n_values",
        )
        .where(F.col("rank") <= int(top_k))
    )


def extreme_rows(specs, k: int = 3) -> DataFrame:
    """Outlier dossier: per numeric column, the k largest and k
    smallest values WITH their row ids (exact ties broken by id) —
    the rows an anomaly triage actually opens.  Each direction is an
    orderBy+limit (TakeOrdered — a per-partition top-k merge, never a
    global sort exchange).

    ``specs`` is a list of (col_label, df, value_col, id_col).
    Output: col_name, direction, rank, row_id, value (round6)."""
    from pyspark.sql import Window

    parts = []
    for label, df, vc, idc in specs:
        base = df.select(
            F.col(idc).cast("long").alias("row_id"),
            F.round(F.col(vc), 6).alias("value"),
        ).where(F.col("value").isNotNull())
        for direction, ordering in (
            ("top", [F.col("value").desc(), F.col("row_id")]),
            ("bottom", [F.col("value").asc(), F.col("row_id")]),
        ):
            sel = base.orderBy(*ordering).limit(int(k))
            w = Window.orderBy(*ordering)
            parts.append(
                sel.select(
                    F.lit(label).alias("col_name"),
                    F.lit(direction).alias("direction"),
                    F.row_number().over(w).cast("bigint").alias("rank"),
                    "row_id", "value",
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
