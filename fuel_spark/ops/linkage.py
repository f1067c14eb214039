"""Probabilistic record linkage (Fellegi & Sunter 1969) — blocked
candidate generation, agreement-pattern scoring, and match-weight
classification, Spark-first.

Entity resolution is the cross-SOURCE face of dedup: the same
real-world entity arrives in two registries with no shared key, so
linking is (1) BLOCKING — a cheap equality key that bounds the
candidate-pair space (never all-pairs), (2) an agreement VECTOR per
candidate pair over comparable fields, and (3) the Fellegi–Sunter
log-likelihood weight sum(log2(m_i/u_i)) over agreeing fields and
sum(log2((1-m_i)/(1-u_i))) over disagreeing ones, where m_i =
P(agree | match) and u_i = P(agree | non-match).  Pairs above a
weight threshold are links.

The reference engine (mila-iqia/fuel) has no linkage tier; the
method is public literature (Fellegi & Sunter 1969, JASA; the
multi-pass blocking recall fix is standard practice — e.g.
Hernandez & Stolfo 1995's sorted-neighborhood multi-pass).

Scale shape: blocking is a shuffle hash join on the block key —
pair volume is sum over blocks of |L_b|x|R_b|, bounded by the block
key's granularity (the ``bal_band`` knob here; production adds more
key digits as data grows, exactly like the LSH band caps in
``ops.dedup``).  Everything downstream of the join is per-row
arithmetic and one small groupBy over <= 2^fields agreement
patterns.  All weights are Python-float literals repr()'d into both
engines, so the oracle twin is exact-hash checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from fuel_spark.functions import materialize

# Fixed, documented m/u priors per comparison field (the certificate
# checks the MECHANICS — pattern counts and weight arithmetic — not
# the priors themselves, which production would re-fit with EM /
# method-of-moments on its own corpus):
#   bal  — account balance within 50:   likely for a true entity
#          re-registered in both books, rare for strangers
#   id   — registry-number suffix congruence (mod 10): a stand-in
#          for a shared tax-id fragment
#   sign — balance sign agreement: weakly informative
FS_PRIORS: dict[str, tuple[float, float]] = {
    "bal": (0.90, 0.05),
    "id": (0.95, 0.10),
    "sign": (0.98, 0.55),
}


def fs_weight_literals() -> dict[str, tuple[float, float]]:
    """(agree_weight, disagree_weight) per field, as Python floats —
    the SAME literals are repr()'d into the Spark plan and the DuckDB
    oracle, so weight arithmetic is bit-identical cross-engine."""
    out = {}
    for f, (m, u) in FS_PRIORS.items():
        out[f] = (
            round(math.log2(m / u), 6),
            round(math.log2((1.0 - m) / (1.0 - u)), 6),
        )
    return out


def fs_candidate_pairs(
    left: DataFrame,
    right: DataFrame,
    bal_band: float = 250.0,
    max_block: int | None = None,
) -> DataFrame:
    """Blocked candidate pairs between two registries with agreement
    vectors.  ``left`` needs (l_id, l_nation, l_bal); ``right`` needs
    (r_id, r_nation, r_bal) — callers rename.

    Two-pass blocking on (nation, balance band): pass 2 offsets the
    band grid by band/2 so near-boundary true pairs a single grid
    would split are still co-blocked (the multi-pass recall fix);
    the union is de-duplicated on the pair key.  With ``max_block``
    set, blocks whose left side exceeds it are dropped (the
    LSH-style pathological-block cap — production tightens the band
    instead of paying a quadratic block).

    Output: l_id, r_id, a_bal, a_id, a_sign.
    """
    def banded(df: DataFrame, bal: str, offset: float, side: str) -> DataFrame:
        return df.withColumn(
            f"_blk_{side}",
            F.floor((F.col(bal) + F.lit(1000.0) + F.lit(offset))
                    / F.lit(float(bal_band))).cast("bigint"),
        )

    out = None
    for offset in (0.0, bal_band / 2.0):
        l = banded(left, "l_bal", offset, "l")
        r = banded(right, "r_bal", offset, "r")
        if max_block is not None:
            sizes = l.groupBy("l_nation", "_blk_l").agg(
                F.count(F.lit(1)).alias("_bn")
            )
            l = l.join(
                sizes.filter(F.col("_bn") <= max_block).drop("_bn"),
                ["l_nation", "_blk_l"],
            )
        pairs = l.join(
            r,
            (F.col("l_nation") == F.col("r_nation"))
            & (F.col("_blk_l") == F.col("_blk_r")),
        )
        out = pairs if out is None else out.unionByName(pairs)
    return (
        out.dropDuplicates(["l_id", "r_id"])
        .select(
            "l_id", "r_id",
            (F.abs(F.col("l_bal") - F.col("r_bal")) <= 50.0).alias("a_bal"),
            (F.pmod(F.col("l_id"), F.lit(10))
             == F.pmod(F.col("r_id"), F.lit(10))).alias("a_id"),
            ((F.col("l_bal") < 0) == (F.col("r_bal") < 0)).alias("a_sign"),
        )
    )


def fs_pattern_summary(pairs: DataFrame) -> DataFrame:
    """Fellegi–Sunter agreement-pattern histogram: one row per
    observed (a_bal, a_id, a_sign) pattern with its candidate-pair
    count and the FS match weight (constant per pattern).  The <= 8
    pattern rows ARE the linkage review surface: weight ranks the
    patterns, n_pairs prices the threshold.

    Output: a_bal, a_id, a_sign, n_pairs, weight.
    """
    w = fs_weight_literals()
    weight = None
    for f in ("bal", "id", "sign"):
        term = (
            F.when(F.col(f"a_{f}"), F.lit(w[f][0])).otherwise(F.lit(w[f][1]))
        )
        weight = term if weight is None else weight + term
    return (
        pairs.groupBy("a_bal", "a_id", "a_sign")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("weight", F.round(weight, 6))
        .select("a_bal", "a_id", "a_sign", "n_pairs", "weight")
    )


def fs_matches(pairs: DataFrame, threshold: float = 5.0) -> DataFrame:
    """Candidate pairs whose FS weight clears ``threshold`` — the
    link set.  Weight is the same per-pattern constant as
    :func:`fs_pattern_summary`; volume is bounded by the rarity of
    the high-weight patterns (a_id alone is a 1-in-10 coincidence; a_bal n a_id is ~1-in-50 within a block).

    Output: l_id, r_id, a_bal, a_id, a_sign, weight.
    """
    w = fs_weight_literals()
    weight = None
    for f in ("bal", "id", "sign"):
        term = (
            F.when(F.col(f"a_{f}"), F.lit(w[f][0])).otherwise(F.lit(w[f][1]))
        )
        weight = term if weight is None else weight + term
    return (
        pairs.withColumn("weight", F.round(weight, 6))
        .filter(F.col("weight") >= threshold)
        .select("l_id", "r_id", "a_bal", "a_id", "a_sign", "weight")
    )


def fs_entity_clusters(matches: DataFrame) -> DataFrame:
    """Transitive closure of the link set into ENTITY clusters: a
    chain l1-r1, l2-r1, l2-r2 is one real-world entity seen four
    times, which pairwise links alone under-report — the same
    transitivity argument as near-dup cluster dedup
    (``ops.dedup.connected_components`` does the label propagation;
    this op namespaces the two registries' overlapping key spaces
    onto one vertex set first: customer k -> 2k, supplier k ->
    2k+1).

    Output: entity_id (min namespaced vertex = the cluster label),
    n_members, n_left, n_right — one row per resolved entity.
    """
    from fuel_spark.ops.dedup import connected_components

    pairs = matches.select(
        (F.col("l_id") * 2).alias("id_a"),
        (F.col("r_id") * 2 + 1).alias("id_b"),
    )
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.when(F.col("v") % 2 == 0, 1).otherwise(0))
            .cast("bigint").alias("n_left"),
            F.sum(F.when(F.col("v") % 2 == 1, 1).otherwise(0))
            .cast("bigint").alias("n_right"),
        )
        .select(
            F.col("component").alias("entity_id"),
            "n_members", "n_left", "n_right",
        )
    )


def fs_linkage_summary(
    left: DataFrame,
    right: DataFrame,
    bal_band: float = 250.0,
    threshold: float = 5.0,
) -> DataFrame:
    """The linkage LIFECYCLE as one operator: block → compare →
    weight → classify → resolve, with a per-stage row-count audit as
    the output — the composed twin of ``incremental_dedup_summary``
    for entity resolution.  Each stage is an existing audited
    operator; this pins their contract seams.

    The candidate-pair frame is referenced by four stages, so it is
    materialized once.

    Output: stage (ordinal), stage_name, n (8 constant rows).
    """
    pairs = materialize(fs_candidate_pairs(left, right, bal_band))
    links = materialize(fs_matches(pairs, threshold))
    entities = fs_entity_clusters(links)

    def stage(i: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(i).cast("bigint").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).alias("n"),
        )

    parts = [
        stage(1, "left_rows", left),
        stage(2, "right_rows", right),
        stage(3, "candidate_pairs", pairs),
        stage(4, "pairs_bal_agree", pairs.where(F.col("a_bal"))),
        stage(5, "pairs_id_agree", pairs.where(F.col("a_id"))),
        stage(6, "links", links),
        stage(7, "entities", entities),
        stage(8, "multi_member_entities",
              entities.where(F.col("n_members") > 2)),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fs_incremental_summary(
    registry: DataFrame,
    new_batch: DataFrame,
    bal_band: float = 250.0,
    threshold: float = 5.0,
) -> DataFrame:
    """Incremental entity resolution — the linkage member of the
    ingest-lifecycle triple (``ops.dedup.incremental_dedup_summary``
    for near-dup text, ``ops.similarity.ann_incremental_summary`` for
    vectors): a NEW batch of right-side records arrives, is blocked
    and FS-scored against the EXISTING left registry only (never
    against itself — dedup within the batch is the dedup family's
    job), and partitions into records that attach to known entities
    vs records that open new ones.  One row per stage so an ingest
    run leaves an audit trail: registry_rows, new_batch,
    candidate_pairs, links, matched_new (distinct new ids with a
    clearing link), unmatched_new (open new entities),
    entities_touched (distinct registry ids gaining a member).

    Scale shape: the blocked pair join is
    :func:`fs_candidate_pairs`'s own (pair volume bounded by band
    granularity — and the NEW side is batch-sized, so blocks are
    registry×batch, far below the registry×registry volume of a full
    relink); the links frame is referenced by three stages so it
    is materialized once.
    """
    # consumed 2x: the stage-3 count and the links derivation
    pairs = materialize(fs_candidate_pairs(registry, new_batch, bal_band))
    links = materialize(fs_matches(pairs, threshold))
    matched = links.select("r_id").distinct()
    unmatched = new_batch.join(matched, "r_id", "left_anti")
    touched = links.select("l_id").distinct()

    def stage(i: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(i).cast("bigint").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).alias("n"),
        )

    parts = [
        stage(1, "registry_rows", registry),
        stage(2, "new_batch", new_batch),
        stage(3, "candidate_pairs", pairs),
        stage(4, "links", links),
        stage(5, "matched_new", matched),
        stage(6, "unmatched_new", unmatched),
        stage(7, "entities_touched", touched),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
