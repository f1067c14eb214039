"""Driver contract for the spark-graft builder (PySpark target).

Every operator in SURVEY.md §2 marked [x] has a ``queries()`` entry
here plus a DuckDB ``oracle_sql()`` twin.  The Spark side is built
exclusively from :mod:`fuel_spark` operators; the SQL side re-derives
the same semantics with engine-portable primitives (md5 permutations,
exact DECIMAL aggregation cast to DOUBLE, identical regexes) so the
driver's row-count/schema/value-hash compare is exact.

Rows-only entries (no oracle, non-SQL-expressible by design):
multimodal_decode (Arrow/mapInPandas plumbing), ann_lsh / ann_ivf /
ann_pq (hyperplane LSH / KMeans / PQ codebooks), embedding_pca /
corpus_domains (eigenbasis / KMeans), events_approx_distinct (HLL
sketch), and the partition-arrival scale tiers
(pack_batches_local / pad_sequences_local / sort_batches_local /
pack_token_budget_local / merge_streams_local) whose row identity is
partitioning-defined.  Everything else is oracle-checked.
"""

from __future__ import annotations

import math
import os
import sys

# The driver may load this module by file path from any cwd; make the
# sibling fuel_spark package importable regardless.
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from fuel_spark import schemes
from fuel_spark.ops import core, dedup, linkage, multimodal, pixels, sequences, similarity
from fuel_spark.functions import materialize, round6_ratio
from fuel_spark.ops import profile as profile_ops
from fuel_spark.ops import curate as curate_ops
from fuel_spark.ops import sketch
from fuel_spark.ops import text as text_ops
from fuel_spark.ops.text import BPE_RE, STOPWORDS
from fuel_spark.sources import (
    SplitDataset,
    build_dictionary,
    dictionary_encode,
    load_tables,
    spiral,
    swiss_roll,
)
from fuel_spark.plans import analytics
from fuel_spark.sources import sink as sink_ops  # noqa: F401 (submodule import)
from fuel_spark.streaming import serve

# ---------------------------------------------------------------------------
# shared SQL fragments (the DuckDB twins of fuel_spark.functions)
# ---------------------------------------------------------------------------

DEC = "DECIMAL(27,6)"


def _arr_str(col, typ: str = "bigint", delim: str = ","):
    """Serialize an array column to a deterministic string.

    The driver's canonicalizer (pandas sort_values over raw cells)
    cannot hash list cells, so every compared array column is emitted
    as a flat string: doubles go through round(6) -> DECIMAL(18,6) so
    the text form is engine-portable (fixed-point, no exponent), ints
    and strings are joined verbatim.  ``_arrstr_sql`` is the DuckDB
    twin.
    """
    if typ == "double":
        return F.concat_ws(
            delim,
            F.transform(
                col, lambda x: F.round(x, 6).cast("decimal(18,6)").cast("string")
            ),
        )
    if typ == "string":
        return F.concat_ws(delim, col)
    return F.concat_ws(delim, F.transform(col, lambda x: x.cast("string")))


def _arrstr_sql(expr: str, typ: str = "bigint", delim: str = ",") -> str:
    """DuckDB twin of :func:`_arr_str`.  COALESCE because DuckDB's
    array_to_string returns NULL for an empty list where Spark's
    concat_ws returns ''."""
    if typ == "double":
        inner = (
            f"list_transform({expr},"
            f" x -> CAST(CAST(round(x, 6) AS DECIMAL(18,6)) AS VARCHAR))"
        )
    elif typ == "string":
        inner = expr
    else:
        inner = f"list_transform({expr}, x -> CAST(x AS VARCHAR))"
    return f"COALESCE(array_to_string({inner}, '{delim}'), '')"


def _norm_sql(c: str) -> str:
    return f"trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"


def _words_sql(c: str) -> str:
    return f"string_split({_norm_sql(c)}, ' ')"


def _shingles_sql(c: str, k: int = 5) -> str:
    n = _norm_sql(c)
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(length({n}) - {k - 1}, 1)),"
        f" i -> substring({n}, i, {k})))"
    )


def _dsum_sql(expr: str) -> str:
    return f"CAST(sum(CAST({expr} AS {DEC})) AS DOUBLE)"


def _dot_sql(a: str, b: str) -> str:
    prod = (
        f"list_transform(generate_series(1, len({a})),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    )
    return f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {prod}), (acc, v) -> acc + v)"


def _norm2_sql(a: str) -> str:
    sq = f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    return f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {sq}), (acc, v) -> acc + v))"


def _cos_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / ({_norm2_sql(a)} * {_norm2_sql(b)}))"


def _l2sq_sql(a: str, b: str) -> str:
    """DuckDB twin of fuel_spark.functions.l2sq_expr (same element
    order, same left-to-right fold)."""
    sq = (
        f"list_transform(generate_series(1, len({a})),"
        f" i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))"
    )
    return f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {sq}), (acc, v) -> acc + v)"


def _langid_sql() -> str:
    w = _words_sql("text")
    scores = {}
    for lang, sw in STOPWORDS.items():
        arr = "[" + ",".join(f"'{x}'" for x in sw) + "]"
        scores[lang] = (
            f"(CAST(len(list_filter(w, x -> list_contains({arr}, x))) AS DOUBLE)"
            f" / greatest(len(w), 1))"
        )
    langs = sorted(STOPWORDS)
    cases = []
    for lang in langs:
        conds = []
        for other in langs:
            if other == lang:
                continue
            op = ">" if other < lang else ">="
            conds.append(f"s_{lang} {op} s_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    inner = "CASE " + " ".join(cases) + " ELSE 'und' END"
    anyhit = "greatest(" + ", ".join(f"s_{x}" for x in langs) + ") > 0"
    case = f"CASE WHEN {anyhit} THEN {inner} ELSE 'und' END"
    score_cols = ", ".join(f"{v} AS s_{k}" for k, v in scores.items())
    return (
        f"WITH d AS (SELECT doc_id, lang, {w} AS w FROM documents), "
        f"s AS (SELECT doc_id, lang, {score_cols} FROM d) "
        f"SELECT doc_id, lang, {case} AS pred_lang FROM s"
    )


def _simhash_sql(bits: int = 16) -> str:
    w = _words_sql("text")
    votes = []
    for b in range(bits):
        vote = (
            f"list_sum(list_transform(w, x -> CASE WHEN"
            f" strpos('89abcdef', substring(md5(x), {b + 1}, 1)) > 0"
            f" THEN 1 ELSE -1 END))"
        )
        votes.append(f"CASE WHEN {vote} > 0 THEN {1 << b} ELSE 0 END")
    fp = " + ".join(votes)
    return (
        f"WITH d AS (SELECT doc_id, {w} AS w FROM documents) "
        f"SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM d"
    )


def _minhash_bands_sql(
    num_hashes: int = 9,
    bands: int = 3,
    k: int = 5,
    src: str = "documents",
    prefix: str = "",
) -> str:
    """CTE text producing {prefix}bands(doc_id, band_id, band_key)
    over ``src`` (any table expression); ``prefix`` namespaces the
    intermediate CTEs so two band pipelines can coexist in a query."""
    from fuel_spark.functions import minhash_sql, shingle_hashes_sql

    p = prefix
    mh_cols = ", ".join(
        f"{minhash_sql('h', j)} AS m{j}" for j in range(num_hashes)
    )
    rpb = num_hashes // bands
    band_selects = []
    for b in range(bands):
        cols = ", '|', ".join(f"m{j}" for j in range(b * rpb, (b + 1) * rpb))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, concat({cols}) AS band_key FROM {p}mh"
        )
    return (
        f"{p}sh AS (SELECT doc_id, {_shingles_sql('text', k)} AS s FROM {src}), "
        f"{p}hs AS (SELECT doc_id, {shingle_hashes_sql('s')} AS h FROM {p}sh), "
        f"{p}mh AS (SELECT doc_id, {mh_cols} FROM {p}hs), "
        f"{p}bands AS ({' UNION ALL '.join(band_selects)})"
    )


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary on sf0.001."""
    t = load_tables(spark, "/root/testdata/sf0.001")
    return analytics.pricing_summary(t)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _t(spark, sf_dir):
    return load_tables(spark, sf_dir)


def q_mapping(spark, sf):
    l = _t(spark, sf)["lineitem"]
    out = core.mapping(
        l,
        {"revenue": F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)},
    )
    return out.select("l_orderkey", "l_linenumber", "revenue")


def q_filter(spark, sf):
    o = _t(spark, sf)["orders"]
    out = core.filter_rows(
        o, (F.col("o_totalprice") > 200000) & (F.col("o_orderstatus") == "O")
    )
    return out.select("o_orderkey", "o_totalprice")


def q_flatten(spark, sf):
    l = _t(spark, sf)["lineitem"]
    nested = l.withColumn(
        "nested",
        F.array(
            F.array(F.col("l_quantity"), F.col("l_discount")), F.array(F.col("l_tax"))
        ),
    )
    out = core.flatten_nested(nested, "nested", "flat")
    return out.select(
        "l_orderkey",
        "l_linenumber",
        _arr_str(F.col("flat"), "double").alias("flat"),
        F.size("flat").cast("bigint").alias("flat_len"),
    )


def q_scale_shift(spark, sf):
    l = _t(spark, sf)["lineitem"]
    out = core.scale_and_shift(l, 0.01, 5.0, ["l_extendedprice", "l_quantity"])
    return out.select(
        "l_orderkey", "l_linenumber",
        F.round("l_extendedprice", 6).alias("l_extendedprice"),
        F.round("l_quantity", 6).alias("l_quantity"),
    )


def q_cast(spark, sf):
    l = _t(spark, sf)["lineitem"]
    out = core.cast_sources(l, "bigint", ["l_quantity"])
    out = core.cast_sources(out, "double", ["l_linenumber"])
    return out.select(
        "l_orderkey",
        F.col("l_quantity").alias("qty_int"),
        F.col("l_linenumber").alias("line_double"),
    )


def q_force_floatx(spark, sf):
    c = _t(spark, sf)["customer"]
    out = core.force_floatx(c.select("c_custkey", "c_acctbal"))
    return out.withColumnRenamed("c_acctbal", "acctbal_f")


def q_rename_select(spark, sf):
    c = _t(spark, sf)["customer"]
    out = core.rename_sources(
        c, {"c_custkey": "customer_id", "c_name": "customer_name"}
    )
    return core.filter_sources(out, ["customer_id", "customer_name"])


def q_pack_batches(spark, sf):
    o = _t(spark, sf)["orders"]
    b = schemes.sequential_batches(o, "o_orderkey", 32)
    packed = core.pack_batches(
        b, "batch_id", ["o_orderkey"], order_within="o_orderkey"
    )
    return packed.select(
        "batch_id", _arr_str(F.col("o_orderkey")).alias("o_orderkey"), "batch_size"
    )


def q_unpack_batches(spark, sf):
    o = _t(spark, sf)["orders"]
    b = schemes.sequential_batches(o, "o_orderkey", 32)
    packed = core.pack_batches(
        b, "batch_id", ["o_orderkey", "o_totalprice"], order_within="o_orderkey"
    )
    out = core.unpack_batches(
        packed, ["o_orderkey", "o_totalprice"], keep=["batch_id"]
    )
    return out.select("batch_id", "o_orderkey", "o_totalprice")


def _doc_token_lens(t):
    from fuel_spark.functions import words

    return t["documents"].select(
        "doc_id",
        F.transform(words(F.col("text")), lambda w: F.length(w).cast("bigint")).alias(
            "token_lens"
        ),
    )


def q_pad_sequences(spark, sf):
    d = _doc_token_lens(_t(spark, sf))
    b = schemes.sequential_batches(d, "doc_id", 16)
    out = core.pad_sequences(b, "token_lens", "batch_id", pad_value=0, mask_dtype="bigint")
    return out.select(
        "doc_id",
        "batch_id",
        _arr_str(F.col("token_lens")).alias("token_lens"),
        _arr_str(F.col("token_lens_mask")).alias("token_lens_mask"),
    )


def q_sort_batches(spark, sf):
    o = _t(spark, sf)["orders"]
    b = schemes.sequential_batches(o, "o_orderkey", 32)
    out = core.sort_within_batches(b, "batch_id", "o_totalprice", ["o_orderkey"])
    return out.select(
        "batch_id",
        _arr_str(F.col("o_totalprice"), "double").alias("o_totalprice"),
        _arr_str(F.col("o_orderkey")).alias("o_orderkey"),
        "batch_size",
    )


def q_pack_batches_local(spark, sf):
    """Scale-tier pack: zero-Exchange per-partition packing (rows-only:
    batch membership is partitioning-defined by design)."""
    o = _t(spark, sf)["orders"].select("o_orderkey")
    out = core.pack_batches_local(o, ["o_orderkey"], 32)
    return out.select(
        "batch_id", _arr_str(F.col("o_orderkey")).alias("o_orderkey"), "batch_size"
    )


def q_pad_sequences_local(spark, sf):
    """Scale-tier pad: batch ids from partition_local_batches (no
    global sort anywhere; one hash shuffle on batch_id)."""
    d = _doc_token_lens(_t(spark, sf))
    b = schemes.partition_local_batches(d, 16)
    out = core.pad_sequences(b, "token_lens", "batch_id", pad_value=0, mask_dtype="bigint")
    return out.select(
        "doc_id",
        _arr_str(F.col("token_lens")).alias("token_lens"),
        _arr_str(F.col("token_lens_mask")).alias("token_lens_mask"),
    )


def q_sort_batches_local(spark, sf):
    """Scale-tier sort-within-batch: partition-local batch ids, one
    hash shuffle, no single-partition sort."""
    o = _t(spark, sf)["orders"].select("o_orderkey", "o_totalprice")
    b = schemes.partition_local_batches(o, 32)
    out = core.sort_within_batches(b, "batch_id", "o_totalprice", ["o_orderkey"])
    return out.select(
        "batch_id",
        _arr_str(F.col("o_totalprice"), "double").alias("o_totalprice"),
        _arr_str(F.col("o_orderkey")).alias("o_orderkey"),
        "batch_size",
    )


def q_merge(spark, sf):
    t = _t(spark, sf)
    s = t["supplier"].select("s_suppkey", "s_name")
    c = t["customer"].select("c_custkey", "c_name")
    return core.merge_streams(s, c, "s_suppkey", "c_custkey")


def q_merge_local(spark, sf):
    """merge_streams_local: positional zip in partition-arrival order
    (rows-only: position identity is partitioning-defined)."""
    t = _t(spark, sf)
    a = t["supplier"].select("s_suppkey", "s_name")
    b = t["supplier"].select(
        F.col("s_suppkey").alias("k2"), F.col("s_acctbal").alias("bal2")
    )
    return core.merge_streams_local(a, b)


def q_scheme_sequential(spark, sf):
    c = _t(spark, sf)["customer"]
    out = schemes.sequential_batches(c, "c_custkey", 20)
    return out.select("c_custkey", "pos", "batch_id")


def q_scheme_shuffled(spark, sf):
    c = _t(spark, sf)["customer"]
    out = schemes.shuffled_batches(c, "c_custkey", 20, seed=7)
    return out.select("c_custkey", "pos", "batch_id")


def q_scheme_concat(spark, sf):
    t = _t(spark, sf)
    r = t["region"].select(F.col("r_regionkey").cast("bigint").alias("key"))
    n = t["nation"].select(F.col("n_nationkey").cast("bigint").alias("key"))
    out = schemes.concatenated_batches([r, n], ["key", "key"], 8)
    return out.select(
        "key", "pos", F.col("_stream").cast("bigint").alias("stream"), "batch_id"
    )


def q_cross_validation(spark, sf):
    o = _t(spark, sf)["orders"]
    out = schemes.cross_validation_folds(o, "o_orderkey", 5)
    return out.groupBy("fold").agg(F.count(F.lit(1)).alias("fold_size"))


def q_scheme_hash_folds(spark, sf):
    """hash_folds (portable md5 mode): shuffle-free per-row fold
    assignment, checked row-by-row against the oracle's identical md5
    rule — the 100 TB fold path (cross_validation_folds needs global
    positions; this needs nothing but a projection)."""
    o = _t(spark, sf)["orders"]
    out = schemes.hash_folds(o, "o_orderkey", 5, seed=42, portable=True)
    return out.select("o_orderkey", "fold")


def q_cache_stream_rebatch(spark, sf):
    """Cache (reference fuel/transformers/__init__.py:477): persist the
    upstream plan, then RE-BATCH at a different size — fuel's Cache
    exists precisely to serve a new batch scheme from cached examples.
    The persist is plan-level (no semantic effect — the oracle computes
    the same rows cold); the re-batching is what's checked."""
    from fuel_spark.ops import core as _core

    c = _t(spark, sf)["customer"].select("c_custkey")
    cached = _core.cache_stream(c)
    b = schemes.sequential_batches(cached, "c_custkey", 50)
    packed = _core.pack_batches(
        b, "batch_id", ["c_custkey"], order_within="c_custkey"
    )
    return packed.select(
        "batch_id", _arr_str(F.col("c_custkey")).alias("c_custkey"), "batch_size"
    )


def q_split_select(spark, sf):
    c = _t(spark, sf)["customer"]
    ds = SplitDataset(c.select("c_custkey", "c_name"), "c_custkey")
    ds.add_split("train", 0, 100)
    return ds.get_split("train")


INDEX_SPLIT_KEYS = list(range(1, 400, 7))


def q_split_select_indices(spark, sf):
    c = _t(spark, sf)["customer"]
    ds = SplitDataset(c.select("c_custkey", "c_name"), "c_custkey")
    ds.add_index_split("picked", INDEX_SPLIT_KEYS)
    return ds.get_split("picked")


def q_ngrams(spark, sf):
    from fuel_spark.functions import words

    d = _t(spark, sf)["documents"].select(
        "doc_id", words(F.col("text")).alias("w")
    )
    out = sequences.ngrams(d, "w", 3, keep=["doc_id"])
    return out.select(
        "doc_id",
        F.col("win_pos").cast("bigint").alias("win_pos"),
        _arr_str(F.col("gram"), "string", "|").alias("gram"),
        "target",
    )


def q_sliding_window(spark, sf):
    from fuel_spark.functions import words

    d = _t(spark, sf)["documents"].select(
        "doc_id", words(F.col("text")).alias("w")
    )
    out = sequences.sliding_window(
        d, "w", offset=1, source_window=3, target_window=3, overlapping=True,
        keep=["doc_id"],
    )
    return out.select(
        "doc_id",
        F.col("win_pos").cast("bigint").alias("win_pos"),
        _arr_str(F.col("source"), "string", "|").alias("source"),
        _arr_str(F.col("target"), "string", "|").alias("target"),
    )


def q_dictionary_encode(spark, sf):
    docs = _t(spark, sf)["documents"]
    dic = build_dictionary(docs, "text", vocab_size=200)
    enc = dictionary_encode(docs, "doc_id", "text", dic)
    return enc.select("doc_id", _arr_str(F.col("token_ids")).alias("token_ids"))


FIXED_VOCAB = {"the": 3, "a": 4, "of": 5, "and": 6, "to": 7, "data": 8}


def q_dictionary_encode_fixed(spark, sf):
    """Pre-built-dictionary mode (fuel TextFile's `dictionary` param):
    user-supplied {word: id} vocabulary, everything else unk."""
    docs = _t(spark, sf)["documents"]
    enc = dictionary_encode(docs, "doc_id", "text", FIXED_VOCAB)
    return enc.select("doc_id", _arr_str(F.col("token_ids")).alias("token_ids"))


def q_lang_id(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "lang", "text")
    return text_ops.lang_id(d, "text").select("doc_id", "lang", "pred_lang")


def q_quality(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return text_ops.quality_score(d, "text").select(
        "doc_id", "n_chars_q", "n_words", "mean_word_len", "alpha_ratio",
        "stopword_ratio", "quality",
    )


def q_token_counts(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return text_ops.token_counts(d, "text").select("doc_id", "ws_tokens", "bpe_tokens")


def q_chunk_documents(spark, sf):
    """Context-window chunking for LM training prep: 64-token windows
    advancing by 48 (16-token overlap), all JVM (words once, sequence
    + slice per chunk, bounded explode, zero shuffle)."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return text_ops.chunk_documents(d, "text", "doc_id", chunk_size=64, stride=48)


def q_tfidf(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.tf_idf_top_terms(d, "doc_id", "text")


def q_remove_stopwords(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    out = text_ops.remove_stopwords(d, "text")
    return out.select(
        "doc_id",
        _arr_str(F.col("content_words"), "string", "|").alias("content_words"),
        "n_content_words",
    )


def q_sentence_stats(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return text_ops.sentence_stats(d, "text").select(
        "doc_id", "n_sentences", "mean_sentence_chars"
    )


def q_bigram_counts(spark, sf):
    d = _t(spark, sf)["documents"].select("text")
    return text_ops.ngram_counts(d, "text", n=2, min_count=3)


def q_label_centroids(spark, sf):
    e = _t(spark, sf)["embeddings"]
    out = similarity.label_centroids(e, "label", "embedding")
    return out.select(
        "label", _arr_str(F.col("centroid"), "double").alias("centroid"), "dim"
    )


def q_sample(spark, sf):
    d = _t(spark, sf)["documents"]
    return schemes.deterministic_sample(d, "doc_id", 0.25, seed=11).select(
        "doc_id", "n_chars"
    )


def q_fingerprint(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return text_ops.fingerprint(d, "text").select("doc_id", "fingerprint")


def q_repetition(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return text_ops.repetition_stats(d, "text").select(
        "doc_id", "n_words", "dup_word_frac", "dup_bigram_frac", "top_bigram_frac"
    )


def _inject_pii(d):
    # plant deterministic PII in every 5th doc so the redaction oracle
    # actually exercises the patterns (the corpus itself is clean)
    injected = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" reach me at user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-123-4567 from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ),
    ).otherwise(F.col("text"))
    return d.withColumn("text", injected)


def q_redact_pii(spark, sf):
    d = _inject_pii(_t(spark, sf)["documents"].select("doc_id", "text"))
    return text_ops.redact_pii(d, "text").select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "redacted"
    )


def q_stratified_sample(spark, sf):
    d = _t(spark, sf)["documents"]
    out = schemes.stratified_sample(
        d,
        "lang",
        {"en": 0.5, "fr": 0.3, "de": 0.2},
        key="doc_id",
        seed=7,
        default_fraction=0.1,
    )
    return out.select("doc_id", "lang", "source")


def _with_len_bucket(d):
    return d.withColumn(
        "len_bucket", F.floor(F.col("n_chars") / 100).cast("bigint")
    )


def q_mixture_weights(spark, sf):
    d = _with_len_bucket(_t(spark, sf)["documents"])
    return schemes.temperature_weights(d, "len_bucket", alpha=0.7)


def q_mixture_sample(spark, sf):
    d = _with_len_bucket(_t(spark, sf)["documents"])
    out = schemes.apply_mixture_sample(
        d, "len_bucket", key="doc_id", alpha=0.7, seed=13
    )
    return (
        out.groupBy("len_bucket")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("len_bucket")
    )


def q_bpe_merges(spark, sf):
    """BPE merge training (Sennrich 2016) on the word-frequency table:
    12 merge rounds, each a vocab-sized pair-count + argmax (iterative
    fit — rows-only: the loop is not SQL-expressible)."""
    merges = text_ops.train_bpe(_t(spark, sf)["documents"], "text", n_merges=12)
    return spark.createDataFrame(
        [(i, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "rank int, sym_a string, sym_b string, pair_count bigint",
    )


def q_asof_join_forward(spark, sf):
    """Forward as-of: for each event, the NEXT order on/after it
    (same union + frame-bounded first() shape, single key shuffle)."""
    t = _t(spark, sf)
    e = t["events"].select("event_id", "user_id", "ts")
    o = t["orders"].select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    out = core.asof_join(
        e, o, "user_id", "ts", "o_orderdate", ["o_orderkey"],
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", F.col("o_orderkey").alias("next_orderkey")
    )


def q_dedup_cluster_sizes(spark, sf):
    """Near-dup cluster-size histogram over the CC labels — the
    dedup-health dashboard row (how much of the corpus sits in
    how-big duplicate families)."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    comp = dedup.dedup_components(d, "doc_id", "text", threshold=0.5)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


def q_events_transitions(spark, sf):
    """Markov transition counts + row-normalized probabilities over
    consecutive per-user events."""
    return analytics.events_transitions(_t(spark, sf))


def q_funnel_windowed(spark, sf):
    """Time-bounded funnel: each step within 6h of the previous one
    (the unbounded funnel overstates conversion)."""
    return analytics.events_funnel_windowed(
        _t(spark, sf), max_gap_seconds=21600
    )


def q_standardize(spark, sf):
    """Per-type z-score standardization of events.value (exact-decimal
    moments broadcast back; rows never reshuffle)."""
    from fuel_spark.ops import profile

    e = _t(spark, sf)["events"]
    out = profile.standardize(e, "value", "event_type")
    return out.select("event_id", "event_type",
                      F.round("value", 6).alias("value"), "mean", "z")


def q_simhash_pairs(spark, sf):
    """SimHash fingerprints turned into near-dup PAIRS: pigeonhole
    band blocking + bit_count Hamming verify (radius 3 over 16 bits)."""
    fp = dedup.simhash(_t(spark, sf)["documents"], "doc_id", "text")
    return dedup.hamming_near_dup(fp, "doc_id", "simhash", bits=16, radius=3)


def q_events_attribution_first(spark, sf):
    """First-touch attribution — the range_join composition (earliest
    in-window touch takes credit; left mode keeps no-touch purchases)."""
    return analytics.events_attribution_first(_t(spark, sf))


def q_events_engagement(spark, sf):
    """DAU/WAU/MAU + stickiness per day: broadcast calendar grid,
    bounded fact expansion, one conditional-distinct agg."""
    return analytics.events_engagement(_t(spark, sf))


def q_hard_negatives(spark, sf):
    """Contrastive hard-negative mining: top-5 most-similar
    different-label vectors per query."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return similarity.hard_negatives(e, q, k=5)


def q_sample_negatives(spark, sf):
    """Seeded uniform negatives over the dense id domain (md5 modulo,
    no join, engine-portable)."""
    e = _t(spark, sf)["embeddings"]
    return similarity.sample_negatives(e.where(F.col("vec_id") < 50), k=4, seed=9)


def q_oov_rate(spark, sf):
    """Vocabulary coverage vs the corpus's own top-200 dictionary:
    per-doc token/OOV counts and rate (tokenizer go/no-go check)."""
    d = _t(spark, sf)["documents"]
    vocab = build_dictionary(d, "text", 200)
    return text_ops.oov_rate(d, "doc_id", "text", vocab)


def q_fuzzy_join(spark, sf):
    """Cross-corpus fuzzy record linkage: even-id docs vs odd-id docs
    through shared MinHash band buckets + exact Jaccard verify."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.fuzzy_join(
        d.where(F.col("doc_id") % 2 == 0),
        d.where(F.col("doc_id") % 2 == 1),
        threshold=0.4,
    )


def q_key_skew(spark, sf):
    """Shuffle-key skew diagnostic: hottest user_ids with share and
    uniform-spread skew ratio (distributed TakeOrdered top-n)."""
    from fuel_spark.ops import profile

    return profile.key_skew(_t(spark, sf)["events"], "user_id", top_n=20)


def q_winnowing(spark, sf):
    """Winnowing fingerprints (Schleimer et al. 2003 / MOSS): min hash
    of every 4-gram-hash window; shared substrings of length k+w-1
    guarantee a shared fingerprint."""
    return text_ops.winnow_fingerprints(
        _t(spark, sf)["documents"], "doc_id", "text", k=8, window=4
    )


def q_quantile_bins(spark, sf):
    """Exact equal-frequency binning of events.value: decile
    cutpoints as an in-plan broadcast relation, per-bin rollup."""
    from fuel_spark.ops import profile

    return profile.quantile_bins(_t(spark, sf)["events"], "value", k=10)


def q_dsir_weights(spark, sf):
    """DSIR importance weights (Xie et al. 2023): hashed-unigram
    log p_target/p_raw per doc, target = the 'src0' slice."""
    d = _t(spark, sf)["documents"]
    return text_ops.dsir_weights(
        d, "doc_id", "text", F.col("source") == "src0"
    )


def q_dedup_segments(spark, sf):
    """Segment-level exact dedup: non-overlapping 32-token segments
    hashed corpus-wide, repeats past the min-(doc,pos) keeper flagged
    (C4/RefinedWeb paragraph-dedup shape)."""
    return dedup.segment_dedup(_t(spark, sf)["documents"])


def q_events_range_join(spark, sf):
    """Non-equi point-in-interval join through the bucketed grid
    (ops.core.range_join): purchase lookback windows vs the whole
    click stream, zero-click windows preserved."""
    return analytics.events_range_join(_t(spark, sf))


def q_events_attribution(spark, sf):
    """Last-touch attribution composed from asof_join + tolerance
    filter + channel rollup."""
    return analytics.events_attribution(_t(spark, sf))


def q_events_funnel(spark, sf):
    return analytics.events_funnel(_t(spark, sf))


def q_cohort_retention(spark, sf):
    out = analytics.events_cohort_retention(_t(spark, sf))
    # date -> string: pandas date vs datetime64 canonicalize differently
    return out.withColumn(
        "cohort_day", F.date_format("cohort_day", "yyyy-MM-dd")
    )


def q_ngram_dup(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.cross_doc_ngram_dup(d, "doc_id", "text", n=3)


def q_substring_spans(spark, sf):
    """Full ExactSubstr (Lee et al. 2022) maximal cross-document
    repeated substrings via seed-and-extend diagonals (r5) — upgrades
    the ``dedup_ngram_spans`` fraction signal to exact span
    coordinates + a cross-engine span-content hash."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.exact_substring_spans(
        d, "doc_id", "text", min_len=10, seed_k=5
    )


def q_substring_self(spark, sf):
    """Within-doc repeated substrings (r5): the diagonal method
    restricted to one document — exact-coordinate self-repetition.
    seed_k=3 is the Gopher duplicate-3-gram formulation (Rae et al.
    2021 §A.1.1) upgraded from an aggregate fraction to maximal
    spans."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.self_repetition_spans(
        d, "doc_id", "text", min_len=3, seed_k=3
    )


def q_substring_apply(spark, sf):
    """ExactSubstr removal (r5): cut every >=10-word duplicated span
    from the higher-id document of its pair (first occurrence
    survives), merged-interval sweep, full cleaned text compared."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.exact_substring_apply(
        d, "doc_id", "text", min_len=10, seed_k=5
    )


def q_edit_distance_pairs(spark, sf):
    """PassJoin edit-distance similarity self-join (r5, Li et al.
    VLDB 2012): all pairs within 5 Levenshtein edits of each other on
    normalized text, with the exact distance — pigeonhole segment
    blocking Spark-side, plain length-banded levenshtein in the
    oracle (completeness of the blocking is what's being compared)."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.edit_distance_pairs(d, "doc_id", "text", max_dist=5)


def q_price_elasticity(spark, sf):
    """Grouped closed-form OLS (r5): one quantity-on-discount
    regression PER PART from a single moment aggregation — top-50
    steepest slopes."""
    return analytics.part_price_elasticity(_t(spark, sf))


def q_jarque_bera(spark, sf):
    """Jarque–Bera normality screen (r5): skew/kurtosis/JB from four
    decimal-exact raw moments in one pass."""
    return analytics.events_jarque_bera(_t(spark, sf))


def _copurchase_edges(spark, sf):
    l = _t(spark, sf)["lineitem"].select("l_orderkey", "l_partkey").distinct()
    a = l.alias("a")
    b = l.alias("b")
    return (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )


def q_triangle_stats(spark, sf):
    """Triangle census + global clustering coefficient (r5) of the
    part co-purchase graph, degree-ordered-orientation algorithm."""
    from fuel_spark.ops import graph

    return graph.triangle_stats(_copurchase_edges(spark, sf))


def q_assortativity(spark, sf):
    """Degree assortativity (r5, Newman 2002) of the co-purchase
    graph — do popular parts co-sell with popular parts?"""
    from fuel_spark.ops import graph

    return graph.degree_assortativity(_copurchase_edges(spark, sf))


def q_ks_test(spark, sf):
    """Two-sample Kolmogorov–Smirnov (r5): purchase vs click value
    distributions over a bounded 4-dp grid, 3-term asymptotic p."""
    return analytics.events_ks_test(_t(spark, sf))


def q_theil_index(spark, sf):
    """Theil T inequality of customer LTV (r5, Theil 1967)."""
    return analytics.customer_theil_index(_t(spark, sf))


def q_chao1(spark, sf):
    """Chao1 unseen-vocabulary richness bound (r5, Chao 1984)."""
    d = _t(spark, sf)["documents"]
    return text_ops.chao1_richness(d, "text")


def q_burrows_delta(spark, sf):
    """Burrows' Delta stylometric source-distance matrix (r5,
    Burrows 2002): top-30 word panel, across-source z-scores."""
    d = _t(spark, sf)["documents"]
    return text_ops.burrows_delta(d, "source", "text", top_k=30)


def q_bigram_llr(spark, sf):
    """Dunning log-likelihood collocations (r5): G² over each
    adjacent bigram's 2×2 table — calibrated where PMI over-rewards
    rare pairs."""
    d = _t(spark, sf)["documents"]
    return text_ops.bigram_llr(d, "text", min_count=5)


def q_diversity_profile(spark, sf):
    """Hill-number diversity profile per source (r5): richness,
    exp-Shannon, inverse-Simpson."""
    d = _t(spark, sf)["documents"]
    return text_ops.diversity_profile(d, "source", "text")


def q_mann_kendall(spark, sf):
    """Mann–Kendall nonparametric trend test (r5) on daily counts,
    tie-corrected variance, continuity-corrected z."""
    return analytics.events_mann_kendall(_t(spark, sf))


def q_lineitem_spearman(spark, sf):
    """Spearman rank correlation via histogram midranks (r5) — no
    corpus-sized rank window."""
    return analytics.lineitem_spearman(_t(spark, sf))


def q_weekday_js(spark, sf):
    """Jensen–Shannon divergence (r5, Lin 1991) between weekday and
    weekend event-type mixes."""
    return analytics.events_weekday_js(_t(spark, sf))


def q_daily_acf(spark, sf):
    """Daily-count autocorrelation at calendar lags 1..7 (r5, the
    Box–Jenkins seasonality diagnostic)."""
    return analytics.events_daily_acf(_t(spark, sf), max_lag=7)


def q_runs_test(spark, sf):
    """Wald–Wolfowitz runs test (r5) on daily counts, above-mean
    dichotomy."""
    return analytics.events_runs_test(_t(spark, sf))


def q_daily_gapfill(spark, sf):
    """Calendar gap-fill with linear interpolation (r5); neighbor
    lookup via window extremes + grid self-joins (IGNORE NULLS-free,
    oracle-portable)."""
    return analytics.events_daily_gapfill(_t(spark, sf))


def q_psi_weekly(spark, sf):
    """Week-over-week Population Stability Index of event values
    (r5): the model-monitoring drift score, epsilon-floored
    10-bin histograms, consecutive-week pairs."""
    return analytics.events_psi_weekly(_t(spark, sf))


def q_bray_curtis(spark, sf):
    """Bray–Curtis word-mass dissimilarity between source pairs
    (r5): abundance-weighted corpus-mix monitor, word-keyed shared
    mass, dense sources² grid off broadcast totals."""
    d = _t(spark, sf)["documents"]
    return text_ops.bray_curtis_sources(d, "source", "text")


def q_vocab_novelty(spark, sf):
    """Vocabulary novelty curve over 10 id-ordered corpus slices
    (r5): per-slice distinct types and never-seen-before fraction —
    the incremental-crawl freshness monitor."""
    d = _t(spark, sf)["documents"]
    return text_ops.vocab_novelty_slices(d, "doc_id", "text", n_slices=10)


def q_abc_classification(spark, sf):
    """ABC part classification (r5): cumulative revenue share via the
    parallel partition-offset running sum (parallel_cumsum), A/B/C
    Pareto classes — no single-partition window anywhere."""
    return analytics.part_abc_classification(_t(spark, sf))


def q_supplier_hhi(spark, sf):
    """Per-nation Herfindahl–Hirschman supplier concentration (r5):
    round-9 DECIMAL share² sums off one supplier-grain rollup."""
    return analytics.supplier_herfindahl(_t(spark, sf))


def q_gini_by_nation(spark, sf):
    """Grouped Gini of customer LTV per nation (r5): rank identity
    with ranks from ONE global parallel position pass minus broadcast
    per-nation offsets; zero-order customers count at 0."""
    return analytics.customer_gini_by_nation(_t(spark, sf))


def q_association_rules(spark, sf):
    """Market-basket association rules (r5): support / directional
    confidence / lift on the top co-purchase pairs — bounded per-order
    pair stream, part-grain supports, top-k join-back."""
    return analytics.basket_association_rules(_t(spark, sf))


def q_crosscorr(spark, sf):
    """Lead–lag cross-correlation of view vs purchase daily counts
    (r5): calendar lags −3..3, full-series normalization."""
    return analytics.events_crosscorr(_t(spark, sf))


def q_pettitt(spark, sf):
    """Pettitt changepoint test (r5): rank-collapsed U statistic as
    an exact-integer running sum over the day grid."""
    return analytics.events_pettitt(_t(spark, sf))


def q_hurst(spark, sf):
    """Hurst exponent by R/S analysis (r5): block-partitioned
    cumulative windows, 3-point log-log OLS."""
    return analytics.events_hurst(_t(spark, sf))


def q_link_prediction(spark, sf):
    """Adamic–Adar / Jaccard link prediction on the co-purchase graph
    (r5): unoriented wedge expansion with the mirrored hub cap,
    non-edge top-k by decimal-exact Adamic–Adar."""
    from fuel_spark.ops import graph

    return graph.link_prediction(_copurchase_edges(spark, sf))


def q_flesch(spark, sf):
    """Flesch Reading Ease per source (r5): vowel-group syllable
    heuristic + raw-text sentence runs, per-doc regexp_count."""
    d = _t(spark, sf)["documents"]
    return text_ops.flesch_reading_ease(d, "source", "text")


def q_theil_decomposition(spark, sf):
    """Theil T decomposed between/within nations (r5): exact group
    shares, round-9 decimal term sums at every level."""
    return analytics.customer_theil_decomposition(_t(spark, sf))


def q_tfidf_sources(spark, sf):
    """TF-IDF characteristic terms per source (r5): smooth add-1 IDF
    over sources, per-source top-10 on the rounded score.  (Named
    q_tfidf_sources — a bare q_tfidf SHADOWED the per-doc
    text_tfidf_top_terms wrapper and broke its schema, caught by the
    closing full gate.)"""
    d = _t(spark, sf)["documents"]
    return text_ops.tfidf_top_terms(d, "source", "text", top_k=10)


def q_pacf(spark, sf):
    """PACF lags 1–3 (r5): Durbin–Levinson closed forms over the
    calendar-lag ACF; the AR-order selector."""
    return analytics.events_pacf(_t(spark, sf))


def q_periodogram(spark, sf):
    """Schuster periodogram at periods 2-10 days (r6): exact-mod
    angle reduction + pinned 2-pi + round-9 decimal term sums make
    the transcendental sums bit-identical cross-engine."""
    return analytics.events_periodogram(_t(spark, sf))


def q_page_hinkley(spark, sf):
    """Page-Hinkley one-sided drift pair over the day grid (r6,
    retrospective two-pass form)."""
    return analytics.events_page_hinkley(_t(spark, sf))


def q_theil_sen(spark, sf):
    """Theil-Sen robust daily-count trend (r6): median pairwise
    slope over the calendar-bounded day grid + residual-median
    intercept under the published slope."""
    return analytics.events_theil_sen(_t(spark, sf))


def q_lpa(spark, sf):
    """Fixed-iteration label propagation communities (r6) on the
    part co-purchase graph: 2 synchronous rounds, deterministic
    min-label ties; output is the community census."""
    from fuel_spark.ops import graph

    return graph.lpa_fixed(_copurchase_edges(spark, sf), iters=2)


def q_kruskal_wallis(spark, sf):
    """Kruskal-Wallis rank omnibus across all event types (r6):
    midrank grid in exact x2 integers, full tie correction."""
    return analytics.events_kruskal_wallis(_t(spark, sf))


def q_levene(spark, sf):
    """Levene variance-homogeneity W across event types (r6,
    mean-centered variant): ANOVA on |v - mean_g|."""
    return analytics.events_levene(_t(spark, sf))


def q_cramers_v(spark, sf):
    """Cramer's V effect size for type x day-of-week (r6): the
    normalized companion of events_chi_square."""
    return analytics.events_cramers_v(_t(spark, sf))


def q_point_biserial(spark, sf):
    """Point-biserial correlation of return flag vs line revenue
    (r6): conditional decimal moments, one scan."""
    return analytics.lineitem_point_biserial(_t(spark, sf))


def q_welch_weekend(spark, sf):
    """Welch's t of weekend vs weekday daily counts (r6): exact
    BIGINT moments, Welch-Satterthwaite df."""
    return analytics.events_welch_weekend(_t(spark, sf))


def q_grubbs(spark, sf):
    """Grubbs' one-outlier test on daily counts (r6)."""
    return analytics.events_grubbs(_t(spark, sf))


def q_priority_trend(spark, sf):
    """Cochran-Armitage trend of the urgent-order share across
    months (r6): exact BIGINT score sums."""
    return analytics.orders_priority_trend(_t(spark, sf))


def q_ljung_box(spark, sf):
    """Ljung–Box portmanteau Q per lag h=1..7 (r6): cumulative
    decimal sum over the calendar-lag ACF frame."""
    return analytics.events_ljung_box(_t(spark, sf))


def q_poisson_dispersion(spark, sf):
    """Fisher dispersion index + chi-square of daily counts (r6)."""
    return analytics.events_poisson_dispersion(_t(spark, sf))


def q_value_anova(spark, sf):
    """One-way ANOVA F of value across event types (r6): two-level
    decimal-exact moment rollup."""
    return analytics.events_value_anova(_t(spark, sf))


def q_delay_capability(spark, sf):
    """Cp/Cpk of the order->ship delay vs a 0-90 day spec (r6):
    exact BIGINT day moments."""
    return analytics.shipping_delay_capability(_t(spark, sf))


def q_index_compaction(spark, sf):
    """Band-index compaction (r6): a doubled (replayed-merge) index
    with tombstoned docs compacts back to live, deduped, sub-cap
    buckets; output is the per-band summary of the survivor rows.
    Exercises all three decay paths of ops.dedup.compact_index."""
    d = _t(spark, sf)["documents"]
    idx = dedup.with_minhash_bands(d, "doc_id", "text")
    stale = idx.unionByName(idx)  # at-least-once replay
    live = d.where(F.col("doc_id") % 7 != 0).select("doc_id")
    compacted = dedup.compact_index(
        stale, live, id_col="doc_id", max_bucket=512
    )
    return (
        compacted.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.countDistinct("band_key").cast("bigint").alias("n_buckets"),
        )
        .orderBy("band_id")
    )


def q_gt_logprob(spark, sf):
    """Good-Turing-smoothed unigram LM scoring of the corpus under
    the src0 target domain's LM (r6): OOV tokens priced at the
    held-out N1/N mass — the smoothed DSIR scoring tier."""
    d = _t(spark, sf)["documents"]
    ref = d.where(F.col("source") == "src0")
    return text_ops.gt_logprob(d, "doc_id", "text", ref=ref)


def q_seasonality_strength(spark, sf):
    """Hyndman seasonality/trend strength (r5): one-row variance
    decomposition off the events_decompose components."""
    return analytics.events_seasonality_strength(_t(spark, sf))


def q_fightin_words(spark, sf):
    """Monroe log-odds source-contrast terms (r5): Dirichlet prior
    proportional to corpus frequencies, variance-normalized z."""
    d = _t(spark, sf)["documents"]
    return text_ops.fightin_words(d, "source", "text", top_k=10)


def q_kcore(spark, sf):
    """Fixed-3-round k-core peel of the co-purchase graph (r5), k=90
    (tuned to the graph's ~90-115 median degree so the trajectory
    actually peels at every tested SF)."""
    from fuel_spark.ops import graph

    return graph.kcore_fixed(_copurchase_edges(spark, sf), k=90, rounds=3)


def q_price_index(spark, sf):
    """Laspeyres/Paasche/Fisher monthly price index (r5): matched
    basket vs the base month, decimal-exact cross terms."""
    return analytics.part_price_index(_t(spark, sf))


def q_ab_fdr(spark, sf):
    """Per-type A/B z-tests with Benjamini–Hochberg FDR (r5): md5 arm
    split, DECIMAL moments, stated logistic Φ approximation."""
    return analytics.events_ab_fdr(_t(spark, sf))


def q_ann_range(spark, sf):
    """Cosine range search (r5): broadcast queries, threshold on the
    rounded cosine — the radius twin of ann_topk."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return similarity.cosine_range_search(e, q, threshold=0.25)


def q_logistic_fixed(spark, sf):
    """Oracle-checked 3-step batch-GD logistic regression (r5):
    round-9 decimal gradient sums, weights re-rounded per step —
    the recall-certificate pattern on a supervised model."""
    return analytics.events_logistic_fixed(_t(spark, sf))


def q_wilson_reliability(spark, sf):
    """Wilson lower-bound supplier reliability ranking (r5): exact
    integer counts, one double chain, TakeOrdered top-50."""
    return analytics.supplier_wilson_reliability(_t(spark, sf))


def q_mann_whitney(spark, sf):
    """Mann–Whitney U with full tie correction (r5): grid-quantized
    midranks in exact ×2 integers, decimal rank/tie sums."""
    return analytics.events_mann_whitney(_t(spark, sf))


def q_silhouette(spark, sf):
    """Centroid silhouette per label (r5): a/b margins against the
    broadcast k-row centroid table, one conditional aggregate."""
    e = _t(spark, sf)["embeddings"]
    return similarity.silhouette_by_label(e, "label", "embedding")


def q_davies_bouldin(spark, sf):
    """Davies–Bouldin index (r5): per-label scatters via own-centroid
    equi-join, k² ratio matrix off broadcast aggregates."""
    e = _t(spark, sf)["embeddings"]
    return similarity.davies_bouldin_by_label(e, "label", "embedding")


def q_calinski_harabasz(spark, sf):
    """Calinski–Harabasz variance-ratio criterion (r5): between/within
    scatter decomposition against label + global centroids."""
    e = _t(spark, sf)["embeddings"]
    return similarity.calinski_harabasz(e, "label", "embedding")


def q_quality_auc(spark, sf):
    """Histogram ROC AUC (r5): does stopword_ratio separate English
    from non-English docs?  Rank-free Mann–Whitney over a bounded
    score grid — the classifier-evaluation primitive."""
    from fuel_spark.ops import profile

    d = _t(spark, sf)["documents"]
    scored = text_ops.quality_score(d, "text")
    return profile.binary_auc(
        scored, "stopword_ratio", F.col("lang") == "en", quantize=4
    )


def q_langid_kappa(spark, sf):
    """Cohen's kappa (r5) of the stopword lang-id heuristic against
    the true lang column — chance-corrected agreement."""
    from fuel_spark.ops import profile

    d = _t(spark, sf)["documents"]
    return profile.cohen_kappa(
        text_ops.lang_id(d, "text").select("lang", "pred_lang"),
        "lang",
        "pred_lang",
    )


def q_type_hour_mi(spark, sf):
    """Mutual information (r5) between event type and hour of day —
    how much scheduling structure the event mix carries."""
    from fuel_spark.ops import profile

    e = _t(spark, sf)["events"]
    return profile.mutual_information(e, "event_type", F.hour("ts"))


def q_markov_entropy(spark, sf):
    """Markov-chain entropy rate (r5): composition of the stationary
    profile and the transition matrix at their pinned contracts."""
    return analytics.events_markov_entropy(_t(spark, sf), iterations=3)


def q_events_cusum(spark, sf):
    """CUSUM changepoint scan (r5, Page 1954) over daily event
    counts, peak |CUSUM| day flagged."""
    return analytics.events_cusum(_t(spark, sf))


def q_pricing_model_ols(spark, sf):
    """Two-regressor OLS by exact normal equations (r5):
    extendedprice ~ quantity + discount, Cramer-solved from
    DECIMAL-exact moments."""
    return analytics.pricing_model_ols(_t(spark, sf))


def q_kaplan_meier(spark, sf):
    """Kaplan–Meier user-lifetime survival curve (r5, Kaplan & Meier
    1958) with right-censoring at 7 days before observation end; the
    survival product runs as exp of a DECIMAL cumsum of round-9 ln
    terms with a sticky zero flag."""
    return analytics.events_kaplan_meier(_t(spark, sf), censor_days=7)


def q_heaps_fit(spark, sf):
    """Heaps'-law vocabulary-growth fit (r5): V(n) ~ K n^beta by OLS
    over a fixed 24-bucket growth grid (first-occurrence rollup — no
    corpus-sized running distinct)."""
    d = _t(spark, sf)["documents"]
    return text_ops.heaps_fit(d, "doc_id", "text", grid=24)


def q_good_turing(spark, sf):
    """Good–Turing count-of-counts + Turing-adjusted r* (r5, Gale &
    Sampson 1995)."""
    d = _t(spark, sf)["documents"]
    return text_ops.good_turing_counts(d, "text", max_r=10000)


def q_kmeans_fixed(spark, sf):
    """Oracle-checked spherical k-means (r5): deterministic pivot
    init + 2 unrolled Lloyd iterations at the pinned decimal scales —
    the clustering analogue of the pivot-IVF certificate tier."""
    from fuel_spark import ml

    e = _t(spark, sf)["embeddings"]
    return ml.kmeans_fixed(e, "vec_id", "embedding", k=8, iterations=2)


def q_hits_supplier_part(spark, sf):
    """HITS hubs/authorities (r5, Kleinberg 1999) over the
    supplier→part sourcing graph: 3 mutual power steps with L1
    normalization at the pinned decimal scales — top-10 'diverse
    sourcer' suppliers and 'widely sourced' parts."""
    from fuel_spark.ops import graph

    l = _t(spark, sf)["lineitem"].select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    scores = graph.hits_fixed(l, iterations=3)
    top_a = (
        scores.where(F.col("side") == "authority")
        .orderBy(F.desc("score"), F.asc("vertex"))
        .limit(10)
    )
    top_h = (
        scores.where(F.col("side") == "hub")
        .orderBy(F.desc("score"), F.asc("vertex"))
        .limit(10)
    )
    return top_a.unionByName(top_h)


def q_zipf_slope(spark, sf):
    """Zipf rank-frequency OLS fit (r5): corpus-health slope/intercept
    from DECIMAL-exact moments of 6-dp ln values — vocab-sized after
    one token count."""
    d = _t(spark, sf)["documents"]
    return text_ops.zipf_slope(d, "text", min_count=2)


def q_term_burstiness(spark, sf):
    """Term burstiness (r5, Church & Gale 1995): cf/df + observed df
    vs the Poisson prediction, per term."""
    d = _t(spark, sf)["documents"]
    return text_ops.term_burstiness(d, "doc_id", "text", min_cf=10)


def q_events_benford(spark, sf):
    """Benford leading-digit audit (r5): float-format-free digit
    extraction via exact floor + BIGINT rendering."""
    return analytics.events_benford(_t(spark, sf))


def q_markov_stationary(spark, sf):
    """Markov stationary profile (r5): 3 power steps of v<-vP over the
    user event-type chain at the pinned decimal scales."""
    return analytics.events_markov_stationary(_t(spark, sf), iterations=3)


def q_textrank_keywords(spark, sf):
    """TextRank keywords (r5, Mihalcea & Tarau 2004): word
    co-occurrence graph (window 2) + 3 unrolled PageRank iterations
    at the cross-engine-safe scales — the keyword-extraction
    composition of the PMI pair generator and the oracle-checked
    power-method mechanics."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return text_ops.textrank_keywords(d, "doc_id", "text", window=2)


def q_pmi_cooccurrence(spark, sf):
    """Skip-gram PMI collocations (r5, Church & Hanks 1990): unordered
    word pairs within a 2-position window, with ln-PMI vs the
    independence baseline — the phrase-mining / PPMI-matrix
    primitive.  Pair generation is a per-doc array transform (zero
    joins); counting is three map-side-combinable aggregates."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return text_ops.pmi_cooccurrence(d, "doc_id", "text", window=2, min_count=5)


def q_unigram_logprob(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return text_ops.unigram_logprob(d, "doc_id", "text")


def q_dedup_components(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    out = dedup.dedup_components(d, "doc_id", "text", threshold=0.5)
    return out.select(F.col("doc_id"), F.col("component"))


def q_user_rfm(spark, sf):
    return analytics.events_user_rfm(_t(spark, sf))


def q_dedup_screen(spark, sf):
    # batch twin of streaming.near_dup_stream: screen the upper half of
    # the corpus against a band index built from the lower half
    from fuel_spark.streaming.serve import near_dup_stream

    d = _t(spark, sf)["documents"].select("doc_id", "text")
    ref = d.where(F.col("doc_id") < 250)
    incoming = d.where(F.col("doc_id") >= 250)
    idx = dedup.with_minhash_bands(ref, "doc_id", "text")
    return near_dup_stream(incoming, idx).select("doc_id")


def q_quantize_embeddings(spark, sf):
    from fuel_spark.functions import cosine_expr

    e = _t(spark, sf)["embeddings"].select("vec_id", "embedding")
    q = similarity.quantize_int8(e)
    dq = similarity.dequantize_int8(q)
    return dq.select(
        "vec_id",
        _arr_str(F.col("qvec"), "int").alias("qvec"),
        F.round("scale", 6).alias("scale"),
        F.round(cosine_expr("embedding", "dq"), 6).alias("recon_cos"),
    )


def q_decontaminate(spark, sf):
    # benchmark = first 20 docs (stand-in eval set), corpus = the rest
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    bench = d.where(F.col("doc_id") < 20)
    corpus = d.where(F.col("doc_id") >= 20)
    return dedup.decontaminate(corpus, "doc_id", "text", bench, "text", n=3)


def q_decontaminate_spans(spark, sf):
    """Surgical span-level decontamination (r5): cut benchmark-
    overlapping word runs out of corpus documents instead of flagging
    whole docs — the ExactSubstr machinery pointed across corpora.
    Same bench/corpus split as ``dedup_decontaminate``."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    bench = d.where(F.col("doc_id") < 20)
    corpus = d.where(F.col("doc_id") >= 20)
    return dedup.decontaminate_spans(
        corpus, "doc_id", "text", bench, "doc_id", "text",
        min_len=10, seed_k=5,
    )


def q_semantic_dedup(spark, sf):
    e = _t(spark, sf)["embeddings"]
    out = similarity.semantic_dedup(e, threshold=0.3, bits=8)
    return out.select("vec_id", "label")


def q_corpus_stats(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.corpus_stats(d, "text", ("lang", "source"))


def q_profile_lineitem(spark, sf):
    from fuel_spark.ops import profile

    l = _t(spark, sf)["lineitem"]
    return profile.profile_columns(
        l, ["l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]
    )


def q_check_expectations(spark, sf):
    from fuel_spark.ops import profile

    o = _t(spark, sf)["orders"]
    return profile.check_expectations(
        o,
        [
            ("orderkey_unique", "unique", "o_orderkey"),
            ("custkey_not_null", "not_null", "o_custkey"),
            ("totalprice_non_negative", "non_negative", "o_totalprice"),
            ("status_in_set", "in_set", "o_orderstatus", ["O", "F", "P"]),
            ("priority_format", "matches", "o_orderpriority", "[1-5]-[A-Z ]+"),
        ],
    )


def q_sample_n_per_group(spark, sf):
    from fuel_spark import schemes

    d = _t(spark, sf)["documents"].select("doc_id", "lang")
    return schemes.sample_n_per_group(d, "lang", 30, "doc_id", seed=42)


def q_pack_token_budget(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    d = text_ops.token_counts(d, "text").select("doc_id", "ws_tokens")
    return core.pack_token_budget(d, "doc_id", "ws_tokens", budget=500)


def q_pack_token_budget_local(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    d = text_ops.token_counts(d, "text").select("doc_id", "ws_tokens")
    out = core.pack_token_budget_local(d, "doc_id", "ws_tokens", budget=500)
    return out.select("pack_id", _arr_str(F.col("doc_ids"), "int").alias("doc_ids"),
                      "n_docs", "n_tokens")


def q_leakage_split(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.leakage_free_split(d, "doc_id", "text", holdout_fraction=0.25)


def q_sentiment(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return text_ops.sentiment_score(d, "text")


def q_similar_users(spark, sf):
    return analytics.events_similar_users(_t(spark, sf), threshold=0.2)


BM25_QUERY = ("fast", "join", "window")


def q_bm25(spark, sf):
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return text_ops.bm25_scores(d, "doc_id", "text", BM25_QUERY, top_n=20)


def q_ann_int8(spark, sf):
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return similarity.quantized_ann(e, q, k=5, bits=8)


def q_curation_pipeline(spark, sf, prededup_exact: bool = True):
    # THE canonical corpus job, end-to-end: quality filter -> near-dup
    # apply -> benchmark decontamination -> deterministic sample.  One
    # lazy plan; every stage is an existing first-class operator.
    # ``prededup_exact=False`` is the bench's reference variant: it
    # restores the r3 plan (no exact pre-pass) so round-over-round
    # trend tables can separate the documented ~1s fixed pre-pass cost
    # at sf0.1 from machine noise.
    from fuel_spark import schemes

    d = _t(spark, sf)["documents"]
    corpus = d.where(F.col("doc_id") >= 20).select("doc_id", "text", "lang")
    bench = d.where(F.col("doc_id") < 20).select("text")
    # `kept` is consumed 2-3x inside apply_dedup (digest rollup,
    # sketch input, final anti-join) and `deduped` 4x (decontaminate's
    # gram pass + id spine, the clean join).
    kept = materialize(
        text_ops.quality_score(corpus, "text")
        .where(F.col("quality") >= 0.9)
        .select("doc_id", "text", "lang")
    )
    deduped = materialize(
        dedup.apply_dedup(
            kept, "doc_id", "text", threshold=0.5, prededup_exact=prededup_exact
        )
    )
    flags = dedup.decontaminate(deduped, "doc_id", "text", bench, "text", n=3)
    clean = deduped.join(
        flags.where(~F.col("contaminated")).select("doc_id"), "doc_id"
    )
    sampled = schemes.deterministic_sample(clean, "doc_id", 0.5, seed=11)
    return sampled.select("doc_id", "lang")


def q_quantiles_by_type(spark, sf):
    return analytics.events_value_quantiles_by_type(_t(spark, sf))


def q_rolling_revenue(spark, sf):
    return analytics.customer_rolling_revenue(_t(spark, sf))


def q_dedup_exact(spark, sf):
    d = _t(spark, sf)["documents"]
    return dedup.exact_dedup(d, "doc_id", "text")


def q_dedup_minhash(spark, sf):
    d = _t(spark, sf)["documents"]
    return dedup.minhash_candidate_pairs(d, "doc_id", "text")


def q_dedup_jaccard(spark, sf):
    d = _t(spark, sf)["documents"]
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text")


def q_dedup_apply(spark, sf):
    d = _t(spark, sf)["documents"]
    out = dedup.apply_dedup(d, "doc_id", "text", threshold=0.5)
    return out.select("doc_id", "n_chars")


def q_dedup_simhash(spark, sf):
    d = _t(spark, sf)["documents"]
    return dedup.simhash(d, "doc_id", "text").select("doc_id", "simhash")


def q_embedding_near_dup(spark, sf):
    e = _t(spark, sf)["embeddings"]
    return similarity.cosine_pairs_within(e, "label", threshold=0.2)


def q_ann_topk(spark, sf):
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return similarity.cosine_topk(e, q, k=5)


# rows-only (non-SQL-expressible)


def q_ann_sign_block(spark, sf):
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return similarity.sign_block_ann(e, q, k=5, bits=8)


def q_embedding_normalize(spark, sf):
    e = _t(spark, sf)["embeddings"]
    out = similarity.l2_normalize(e)
    return out.select(
        "vec_id", "vec_norm", _arr_str(F.col("unit"), "double").alias("unit")
    )


def q_sign_sketch(spark, sf):
    e = _t(spark, sf)["embeddings"]
    return similarity.sign_sketch(e).select("vec_id", "sign_bucket")


def q_asof_join(spark, sf):
    t = _t(spark, sf)
    e = t["events"].select("event_id", "user_id", "ts")
    o = t["orders"].select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    out = core.asof_join(e, o, "user_id", "ts", "o_orderdate", ["o_orderkey"])
    return out.select(
        "event_id", "user_id", F.col("o_orderkey").alias("last_orderkey")
    )


def q_quantiles(spark, sf):
    e = _t(spark, sf)["events"]
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", 0.5), 6).alias("p50"),
            F.round(F.percentile("value", 0.9), 6).alias("p90"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def q_toy_spiral(spark, sf):
    out = spiral(spark, num_examples=1000, classes=3, noise=0.05)
    # round: JVM vs libm cos/sin may differ in the final ULP
    return out.select(
        "example_id", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"), "label"
    )


def q_toy_swiss_roll(spark, sf):
    out = swiss_roll(spark, num_examples=1000, noise=0.1)
    return out.select(
        "example_id", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"), F.round("t", 6).alias("t"),
    )


def q_multimodal(spark, sf):
    d = _t(spark, sf)["documents"].select(
        F.col("doc_id"), F.col("text").cast("binary").alias("payload")
    )
    dec = multimodal.decode_images(d, "doc_id", "payload")
    dec = multimodal.ensure_min_dims(dec, 8, 8)
    out = multimodal.random_crop(dec, 4, 4)
    return out.select("item_id", "channels", "height", "width", "needs_upscale",
                      F.size("pixels").alias("n_pixels"))


def q_ann_lsh(spark, sf):
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return similarity.lsh_ann(e, q, k=5, num_planes=4)


def q_ann_ivf(spark, sf):
    from fuel_spark import ml

    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return ml.ivf_ann(e, q, k=5, k_clusters=8, nprobe=4, seed=7)


def q_embedding_pca(spark, sf):
    """PCA dimensionality reduction of the embedding column (MLlib
    distributed covariance/SVD fit, narrow projection transform).
    rows-only: the eigenbasis is not SQL-expressible."""
    from fuel_spark import ml

    return ml.pca_embeddings(
        _t(spark, sf)["embeddings"], "vec_id", "embedding", k=8
    )


def q_corpus_domains(spark, sf):
    """Corpus domain discovery: KMeans over embeddings + per-cluster
    distinctive-term labels (data-mixture cartography).  rows-only:
    kmeans is not SQL-expressible."""
    from fuel_spark import ml

    t = _t(spark, sf)
    return ml.domain_clusters(
        t["documents"], t["embeddings"], k_clusters=8, top_terms=5, seed=7
    )


def q_events_approx_distinct(spark, sf):
    """Sketch-tier distinct counting: per-type daily approx distinct
    users (HyperLogLog++) next to the exact count — the 100 TB shape
    where exact distinct is a full shuffle of user ids per group but
    the HLL sketch is constant memory per group.  rows-only: sketch
    estimates are engine-specific by design; the accuracy band vs
    exact is asserted in tests/test_sketches.py."""
    e = _t(spark, sf)["events"]
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count_distinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_dedup_containment(spark, sf):
    """Asymmetric containment verify over LSH candidates: catches
    subset duplication (short doc quoted inside a long one) that a
    Jaccard threshold misses."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.containment_pairs(d, "doc_id", "text", threshold=0.6)


_PQ_BOOKS_CACHE: dict = {}
# encoded-corpus memo is per (sf dir, Spark application): persisted
# DataFrames do not survive the session that built them
_PQ_ENC_CACHE: dict = {}


def q_ann_pq(spark, sf):
    """Product-quantization ANN: 16 sub-codebooks x 64 centroids (16
    one-byte codes per 64-dim vector, 16x narrower than raw floats),
    Arrow-batched numpy encode (one GEMM per subspace), ADC
    lookup-table scoring, exact-cosine rerank of the top-20 shortlist.
    Codebooks AND the encoded corpus are built once per sf dir and
    reused (the documented production shape: fit once, encode once,
    search many) — the fit is a deterministic driver-side sample and
    the encode is a deterministic projection, so the memo changes
    nothing semantically; repeat calls time the SEARCH (ADC + rerank),
    which is what the production index serves."""
    from fuel_spark.ops import similarity as sim

    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    if sf not in _PQ_BOOKS_CACHE:
        _PQ_BOOKS_CACHE[sf] = sim.pq_fit(
            e, m=16, k_codes=64, sample_n=2048, seed=7
        )
    key = (sf, spark.sparkContext.applicationId)
    if key not in _PQ_ENC_CACHE:
        import tempfile

        path = tempfile.mkdtemp(prefix="fuel_spark_pq_idx_") + "/index"
        sim.save_pq_index(sim.pq_encode(e, _PQ_BOOKS_CACHE[sf]), path)
        _PQ_ENC_CACHE[key] = path
    return sim.pq_ann(
        e,
        q,
        k=5,
        codebooks=_PQ_BOOKS_CACHE[sf],
        encoded=sim.load_pq_index(spark, _PQ_ENC_CACHE[key]),
        rerank=20,
    )


def q_events_pareto(spark, sf):
    return analytics.events_pareto_share(_t(spark, sf))


def q_events_interarrival(spark, sf):
    return analytics.events_interarrival(_t(spark, sf))


def q_events_hourly(spark, sf):
    return analytics.events_hourly_profile(_t(spark, sf))


def q_events_new_vs_returning(spark, sf):
    return analytics.events_new_vs_returning(_t(spark, sf))


def q_events_cooccurrence(spark, sf):
    return analytics.events_type_cooccurrence(_t(spark, sf))


def q_customer_ltv_deciles(spark, sf):
    return analytics.customer_ltv_deciles(_t(spark, sf))


def q_shipping_delay(spark, sf):
    return analytics.shipping_delay_stats(_t(spark, sf))


def q_lexical_diversity(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.lexical_diversity(d, "doc_id", "text")


def q_c4_filters(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.c4_filters(d, "doc_id", "text")


# Fixed sf-independent merge table for the oracle-checked BPE encode
# query: realistic English pairs, applied in order (training order is
# what bpe_encode contracts on, and a FIXED table is what makes the
# encode SQL-expressible — the trained tier stays rows-only).
BPE_FIXED_MERGES = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("the", "</w>"),
)


def q_bpe_encode(spark, sf):
    """BPE tokenizer APPLY (r5): the fixed merge table applied to the
    corpus with the same left-to-right fold the trained tier uses —
    per-word symbol arrays, flattened per doc, serialized for the
    driver hash.  The DuckDB twin replays each merge as a fixpoint of
    single-first-occurrence replaces, which is provably the same
    left-to-right greedy pass."""
    d = _t(spark, sf)["documents"]
    enc = text_ops.bpe_encode(d, "doc_id", "text", list(BPE_FIXED_MERGES))
    return enc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", "tokens").alias("tokens_str"),
    )


def q_span_corruption(spark, sf):
    """T5 span-corruption pairs (r5): deterministic md5-derived
    masking, so a stochastic-looking training-data op is exact-hash
    oracle-checkable."""
    d = _t(spark, sf)["documents"]
    return text_ops.span_corruption(
        d, "doc_id", "text", rate=0.15, mean_span=3, seed=7
    )


def q_mlm_masking(spark, sf):
    """BERT MLM pairs (r5): deterministic md5-derived 15% selection
    with the exact 80/10/10 mask/random/keep split; replacement words
    drawn deterministically from the frequency-ranked corpus vocab —
    oracle-checked despite looking stochastic (the span-corruption
    pattern)."""
    d = _t(spark, sf)["documents"]
    return text_ops.mlm_masking(
        d, "doc_id", "text", rate=0.15, vocab_size=4096, seed=7
    )


def q_policy_filters(spark, sf):
    """Robots/license/policy-boilerplate compliance flags (r5 —
    VERDICT r4 ask #8's c4_filters extension)."""
    d = _t(spark, sf)["documents"]
    return text_ops.policy_filters(d, "doc_id", "text")


def q_pretrain_pipeline(spark, sf):
    """End-to-end PRETRAINING data pipeline (r5), one lazy plan from
    this round's first-class ops in the canonical order: C4 + policy
    quality gates -> EXACT document dedup (min-id survives) ->
    ExactSubstr cross-doc span removal -> deterministic T5 span
    corruption.  The modern web-corpus prep flow — oracle-checked END
    TO END, which is the point: every stage's semantics are pinned
    through the whole composition, not just in isolation.  The exact
    stage before substring surgery is the documented composition
    (exact_substring_apply docstring): whole-document twins are
    dropped by a 16-byte-digest shuffle, not cut word by word —
    measured on the 20x twin-corpus smoke: 53.3s without the exact
    stage vs 8.3s with it (plus the replay checkpoint below), output
    collapsing from 100k rows to the 4,992 true survivors.  On corpora without exact twins the stage
    is a no-op (gate hashes identical with and without)."""
    d = _t(spark, sf)["documents"]
    # r10 optimization (guide §2.4/§2.3): both filter families are pure
    # row-local projections (their docstrings), so attaching them via
    # two doc_id joins re-scanned the corpus three times and paid two
    # sort-merge shuffles for what one WHERE computes.  Fused: a single
    # scan pass evaluates c4 then policy flags, text riding through
    # under a temp name so neither op sees a duplicate text column.
    # Rows identical (inner join on unique doc_id == filter).
    c4 = text_ops.c4_filters(
        d.select("doc_id", "text", F.col("text").alias("_thru")),
        "doc_id", "text", keep_cols=("_thru",),
    )
    kept1 = c4.where(F.col("keep")).select(
        "doc_id", F.col("_thru").alias("text")
    )
    pol = text_ops.policy_filters(
        kept1.select("doc_id", "text", F.col("text").alias("_thru")),
        "doc_id", "text", keep_cols=("_thru",),
    )
    kept = pol.where(F.col("keep")).select(
        "doc_id", F.col("_thru").alias("text")
    )
    # r10 optimization (guide §2.3): exact dedup + min-id join-back
    # collapsed into ONE digest-keyed aggregation — min doc_id and its
    # text per md5 group (min_by keeps the surviving row's own text,
    # exactly the row the old inner join kept).  Partial map-side
    # aggregation combines duplicate texts before the exchange, so the
    # shuffle carries each distinct text roughly once instead of
    # digests twice plus the full corpus once through the SMJ — and
    # `kept` is referenced exactly once (no subtree replay).
    # consumed 3x by the substring stage (seed pass, span-hash word
    # arrays, rebuild pass): measured 9.7s -> 6.8s at sf0.1, rows and
    # hashes unchanged
    deduped = materialize(
        kept.groupBy(F.md5(F.col("text")).alias("_h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("text", "doc_id").alias("text"),
        )
        .select("doc_id", "text")
    )
    cleaned = dedup.exact_substring_apply(
        deduped, "doc_id", "text", min_len=10, seed_k=5
    ).select("doc_id", F.col("text_clean").alias("text"))
    return text_ops.span_corruption(
        cleaned, "doc_id", "text", rate=0.15, mean_span=3, seed=7
    )


def q_quality_classifier(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.quality_classifier(d, "doc_id", "text")


def q_length_histogram(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.length_histogram(d, "n_chars", 50)


def q_norm_extremes(spark, sf):
    e = _t(spark, sf)["embeddings"]
    return similarity.norm_extremes(e, "vec_id", "embedding", k=10)


def q_session_stats(spark, sf):
    return analytics.events_session_stats(_t(spark, sf))


def q_value_histogram(spark, sf):
    return analytics.events_value_histogram(_t(spark, sf))


def q_events_churn(spark, sf):
    return analytics.events_churn(_t(spark, sf))


def q_basket_pairs(spark, sf):
    return analytics.basket_part_pairs(_t(spark, sf))


def q_revenue_concentration(spark, sf):
    return analytics.revenue_concentration(_t(spark, sf))


def q_url_dedup(spark, sf):
    """URL dedup over deterministically-injected messy URLs (the
    corpus has no url column, so the query synthesizes the standard
    crawl noise — scheme/www/trailing-slash/tracking-param/fragment
    variants — exactly like redact_pii injects its PII)."""
    d = _t(spark, sf)["documents"]
    raw = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("http://")).otherwise(
            F.lit("https://www.")
        ),
        F.col("source"),
        F.lit(".example.com/items/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 5).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    docs = d.select("doc_id", raw.alias("url"))
    return text_ops.url_dedup(docs, "doc_id", "url")


def q_quality_by_source(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.quality_by_source(d, "doc_id", "text", "source", "lang")


def q_doc_frequency(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.doc_frequency_ngrams(d, "doc_id", "text", n=2, top=20)


def q_dim_stats(spark, sf):
    e = _t(spark, sf)["embeddings"]
    return similarity.dim_stats(e, "embedding")


def q_ab_test(spark, sf):
    return analytics.events_ab_test(_t(spark, sf))


def q_monthly_growth(spark, sf):
    return analytics.orders_monthly_growth(_t(spark, sf))


def q_user_paths(spark, sf):
    return analytics.events_user_path_topk(_t(spark, sf))


def q_order_gaps(spark, sf):
    return analytics.customer_order_gaps(_t(spark, sf))


def q_part_price_stats(spark, sf):
    return analytics.part_price_stats(_t(spark, sf))


def q_dup_rate_by_source(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.dup_rate_by_source(d, "text", "source")


def q_shingle_uniqueness(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.shingle_uniqueness(d, "doc_id", "text", k=5)


def q_adjacent_cosine(spark, sf):
    e = _t(spark, sf)["embeddings"]
    return similarity.adjacent_cosine_histogram(e, "vec_id", "embedding")


def q_lang_confusion(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.lang_confusion(d, "lang", "text")


def q_epoch_batches(spark, sf):
    c = _t(spark, sf)["customer"]
    out = schemes.epoch_batches(c, "c_custkey", 20, epochs=2, seed=7)
    return out.select("epoch", "c_custkey", "pos", "batch_id")


def q_supplier_tiers(spark, sf):
    return analytics.supplier_balance_tiers(_t(spark, sf))


def q_priority_mix(spark, sf):
    return analytics.priority_mix_by_segment(_t(spark, sf))


def q_minhash_calibration(spark, sf):
    d = _t(spark, sf)["documents"]
    return dedup.minhash_calibration(d, "doc_id", "text")


def q_entry_points(spark, sf):
    return analytics.events_entry_points(_t(spark, sf))


def q_norm_by_label(spark, sf):
    e = _t(spark, sf)["embeddings"]
    return similarity.norm_by_label(e, "label", "embedding")


def q_rfm_segments(spark, sf):
    return analytics.events_rfm_segments(_t(spark, sf))


def q_supplier_concentration(spark, sf):
    return analytics.supplier_revenue_concentration(_t(spark, sf))


def q_exact_vector_dedup(spark, sf):
    """Exact duplicate-vector screen over a corpus with PLANTED dups
    (vec_id >= n gets vec_id % 32's embedding re-emitted by a union,
    like redact_pii injects its PII) — random embeddings contain no
    natural exact dups to check against."""
    e = _t(spark, sf)["embeddings"]
    planted = (
        e.where(F.col("vec_id") < 32)
        .select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    corpus = e.select("vec_id", "embedding").unionByName(planted)
    return dedup.exact_vector_dedup(corpus, "vec_id", "embedding")


def q_gap_histogram(spark, sf):
    return analytics.events_gap_histogram(_t(spark, sf))


def q_knn_purity(spark, sf):
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 20)
    return similarity.knn_label_purity(e, q, "label", "vec_id", "embedding", k=5)


def q_dedup_summary(spark, sf):
    d = _t(spark, sf)["documents"]
    return dedup.dedup_summary(d, "doc_id", "text", threshold=0.5)


def q_prefix_dups(spark, sf):
    d = _t(spark, sf)["documents"]
    return dedup.prefix_dup_groups(d, "doc_id", "text", prefix_len=64)


def q_shard_assignment(spark, sf):
    c = _t(spark, sf)["customer"]
    return schemes.shard_assignment(c, "c_custkey", 8, seed=5)


def q_returns_by_month(spark, sf):
    return analytics.returns_by_month(_t(spark, sf))


def q_block_size_profile(spark, sf):
    e = _t(spark, sf)["embeddings"]
    return similarity.block_size_profile(e, "embedding", bits=16)


def q_dow_hour_heatmap(spark, sf):
    return analytics.events_dow_hour_heatmap(_t(spark, sf))


def q_pair_quality_stats(spark, sf):
    d = _t(spark, sf)["documents"]
    return dedup.pair_quality_stats(
        dedup.ngram_jaccard_pairs(d, "doc_id", "text")
    )


def q_bigram_logprob(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.bigram_logprob(d, "doc_id", "text")


def q_centroid_confusion(spark, sf):
    e = _t(spark, sf)["embeddings"]
    return similarity.centroid_confusion(e, "label", "embedding")


def q_balance_ltv_corr(spark, sf):
    """Correlation as a reusable primitive: does a customer's account
    balance predict lifetime order value?"""
    t = _t(spark, sf)
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
             .cast("double").alias("ltv"))
        .join(
            t["customer"].select("c_custkey", "c_acctbal"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return analytics.column_correlation(per_cust, "c_acctbal", "ltv")


def q_retention_curve(spark, sf):
    return analytics.events_retention_curve(_t(spark, sf))


def q_qty_price_corr(spark, sf):
    l = _t(spark, sf)["lineitem"]
    return analytics.column_correlation(l, "l_quantity", "l_extendedprice")


def q_vocab_coverage(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.vocab_coverage_curve(d, "text", (10, 100, 1000))


def q_conversion_lag(spark, sf):
    return analytics.events_conversion_lag(_t(spark, sf))


def q_customer_order_freq(spark, sf):
    return analytics.customer_order_freq(_t(spark, sf))


def q_monthly_type_mix(spark, sf):
    return analytics.events_monthly_type_mix(_t(spark, sf))


def q_discount_curve(spark, sf):
    return analytics.discount_revenue_curve(_t(spark, sf))


def q_label_separation(spark, sf):
    e = _t(spark, sf)["embeddings"]
    return similarity.label_separation(e, "label", "vec_id", "embedding")


def q_user_anomalies(spark, sf):
    return analytics.events_user_anomalies(_t(spark, sf))


def q_order_size_hist(spark, sf):
    return analytics.orders_size_histogram(_t(spark, sf))


def q_word_len_hist(spark, sf):
    d = _t(spark, sf)["documents"]
    return text_ops.word_length_histogram(d, "text")


def q_quantization_error(spark, sf):
    e = _t(spark, sf)["embeddings"]
    return similarity.quantization_error(e, "embedding")


_QMODEL_CACHE: dict = {}


def q_quality_model(spark, sf):
    """Trained quality-classifier tier (MLlib logistic regression over
    the zero-shuffle quality features; label = trusted source) — the
    GPT-3 App. A classifier for real.  Rows-only: iterative ML fit.
    The fit is memoized per (sf, application) like the PQ index — the
    production shape is fit once, score many."""
    from fuel_spark import ml

    d = _t(spark, sf)["documents"]
    labeled = d.withColumn("is_trusted", (F.col("source") == "src0"))
    key = (sf, spark.sparkContext.applicationId)
    if key not in _QMODEL_CACHE:
        _QMODEL_CACHE[key] = ml.fit_quality_model(labeled, "text", "is_trusted")
    scored = ml.score_quality_model(_QMODEL_CACHE[key], labeled, "text")
    return scored.select("doc_id", "quality_prob").orderBy(
        F.desc("quality_prob"), F.asc("doc_id")
    ).limit(20)


def q_pagerank_fixed(spark, sf):
    """Oracle-checked PageRank (r5): 3 unrolled power iterations over
    the part co-purchase graph at the cross-engine-safe scales
    (contributions round-9 + exact DECIMAL sums, ranks round-6) —
    the iterative tier (``part_pagerank``) stays rows-only at full
    precision, this pins the power-method MECHANICS under the
    exact-hash gate, the pivot-ANN certificate pattern applied to
    graph analytics."""
    from fuel_spark.ops import graph

    l = _t(spark, sf)["lineitem"].select("l_orderkey", "l_partkey").distinct()
    a = l.alias("a")
    b = l.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    ranks = graph.pagerank(
        edges, iterations=3, contrib_scale=9, out_scale=6
    )
    return ranks.orderBy(F.desc("rank"), F.asc("vertex")).limit(20)


def q_part_pagerank(spark, sf):
    """PageRank over the part co-purchase graph (edges = parts ordered
    together): the link-analysis ranking of catalog centrality.
    Rows-only: iterative float fit, like PCA/BPE."""
    from fuel_spark.ops import graph

    l = _t(spark, sf)["lineitem"].select("l_orderkey", "l_partkey").distinct()
    a = l.alias("a")
    b = l.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    ranks = graph.pagerank(edges, iterations=8)
    return ranks.orderBy(F.desc("rank"), F.asc("vertex")).limit(20)


def q_attribution_linear(spark, sf):
    """Linear multi-touch attribution: every in-window touch shares
    the purchase's credit equally (r4 addition)."""
    return analytics.events_attribution_linear(_t(spark, sf))


def q_stickiness(spark, sf):
    """Per-day DAU/WAU stickiness via the contribute-forward explode
    (no user-day x 7-day self-join; r4 addition)."""
    return analytics.events_stickiness(_t(spark, sf))


def q_apply_segment_dedup(spark, sf):
    """Apply tier of segment dedup: drop duplicate segments, rebuild
    each document from the survivors in order (r4 addition)."""
    d = _t(spark, sf)["documents"]
    out = dedup.apply_segment_dedup(d, segment_words=8)
    return out.select("doc_id", "text", "n_kept", "n_dropped")


def q_feature_hashing(spark, sf):
    """Hashing-trick bag-of-words in exploded long form (r4)."""
    d = _t(spark, sf)["documents"]
    return text_ops.feature_hashing(d, "doc_id", "text", n_features=64)


def q_degree_distribution(spark, sf):
    """Degree histogram of the part co-purchase graph — the same edge
    derivation as part_pagerank, reduced to the skew diagnostic."""
    from fuel_spark.ops import graph

    l = _t(spark, sf)["lineitem"].select("l_orderkey", "l_partkey").distinct()
    a = l.alias("a")
    b = l.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    return graph.degree_distribution(edges)


def q_embedding_matryoshka(spark, sf):
    """Matryoshka prefix truncation + renormalize (r4)."""
    e = _t(spark, sf)["embeddings"]
    out = similarity.matryoshka_truncate(e, dims=16)
    return out.select(
        "vec_id", _arr_str(F.col("mrl"), "double").alias("mrl")
    )


def q_ann_matryoshka(spark, sf):
    """Two-stage matryoshka cascade: coarse prefix cosine shortlist,
    exact full-dim rerank (r4)."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return similarity.matryoshka_ann(e, q, dims=16, shortlist=25, k=5)


def q_dedup_apply_keep_longest(spark, sf):
    """Quality-aware survivor policy: the shorter side of each
    verified near-dup pair loses (r4)."""
    d = _t(spark, sf)["documents"]
    out = dedup.apply_dedup(d, "doc_id", "text", threshold=0.5, keep="longest")
    return out.select("doc_id", "n_chars")


def q_corpus_diff(spark, sf):
    """Snapshot diff: the 'new crawl' drops doc_id < 10, rewrites
    every 7th doc, and adds 5 fresh ids — statuses must label all
    four classes (r4)."""
    d = _t(spark, sf)["documents"]
    fresh = d.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("fresh "), F.col("text")).alias("text"),
        "lang", "source", "n_chars",
    )
    new = (
        d.where(F.col("doc_id") >= 10)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .unionByName(fresh)
    )
    return dedup.corpus_diff(d, new)


def q_weighted_sample(spark, sf):
    """Efraimidis–Spirakis deterministic weighted sample: 50 docs
    drawn proportional to length (r4)."""
    d = _t(spark, sf)["documents"]
    return schemes.weighted_sample(d, "doc_id", "n_chars", n=50).select(
        "doc_id", "n_chars", "es_key"
    )


def q_clean_text(spark, sf):
    """Control-char strip + whitespace collapse with per-row removal
    count (r4)."""
    d = _t(spark, sf)["documents"]
    out = text_ops.clean_text(d, "text")
    return out.select("doc_id", "clean_text", "n_chars_removed")


def q_events_daily_ewma(spark, sf):
    """Half-life-weighted trailing EWMA of daily purchase revenue via
    the bounded day-grid join (r4)."""
    return analytics.events_daily_ewma(_t(spark, sf))


def q_orders_backlog(spark, sf):
    """Monthly open-order backlog: cumulative placed minus cumulative
    fully-shipped (r4)."""
    return analytics.orders_backlog(_t(spark, sf))


def q_source_divergence(spark, sf):
    """Per-source unigram KL divergence to the corpus blend (r4)."""
    d = _t(spark, sf)["documents"]
    return text_ops.source_divergence(d, "source", "text")


def q_check_referential(spark, sf):
    """Cross-table referential-integrity suite over the star schema
    (r4); the events→customer rule is allowed to fail — the point is
    the orphan count."""
    from fuel_spark.ops.profile import check_referential

    t = _t(spark, sf)
    return check_referential([
        ("lineitem_orders", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
        ("orders_customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        ("lineitem_part", t["lineitem"], "l_partkey", t["part"], "p_partkey"),
        ("events_customer", t["events"], "user_id", t["customer"], "c_custkey"),
    ])


def q_threshold_sweep(spark, sf):
    """One-pass dedup tuning curve: pairs and kill counts at four
    candidate jaccard thresholds (r4)."""
    d = _t(spark, sf)["documents"]
    return dedup.dedup_threshold_sweep(d, "doc_id", "text")


def q_concat_packed(spark, sf):
    """Last-mile LM prep: pack docs to a 500-token budget, then
    flatten each pack into one EOS-separated training sequence —
    the materialized concatenate-and-chunk output (r4)."""
    from fuel_spark.functions import words

    d = _t(spark, sf)["documents"].select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.filter(words(F.col("text")), lambda w: w != "").alias("tokens"),
    ).withColumn("n", F.size("tokens").cast("bigint"))
    packed = core.pack_token_budget(toks, "doc_id", "n", budget=500)
    out = core.concat_packed_sequences(
        packed, "pack_id", "doc_id", "tokens", eos="<eos>"
    )
    return out.select(
        "pack_id",
        _arr_str(F.col("input_ids"), "string").alias("input_ids"),
        "n_tokens",
        "n_docs",
    )


def q_asof_join_nearest(spark, sf):
    """Nearest-direction as-of between two INTERLEAVED streams: each
    view event aligns to the same user's closest purchase, past or
    future; backward wins ties (r4).  (Events-vs-orders would
    degenerate — every order predates every event, so nearest would
    equal backward row-for-row.)"""
    e = _t(spark, sf)["events"]
    views = e.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        F.col("event_id").alias("purchase_id"),
    )
    out = core.asof_join(
        views, purchases, "user_id", "ts", "pts", ["purchase_id"],
        direction="nearest",
    )
    return out.select("event_id", "user_id", "purchase_id")


def q_attribution_decay(spark, sf):
    """Time-decay multi-touch attribution — completes the standard
    four-model family (r4).  12h window / 2h half-life: at sf0.01
    149 purchases carry >= 2 in-window touches, so the decay weights
    genuinely discriminate (a 30-min window has zero multi-touch
    purchases and every model degenerates to the same rollup)."""
    return analytics.events_attribution_time_decay(
        _t(spark, sf), window_seconds=43200, half_life_seconds=7200
    )


def q_char_entropy(spark, sf):
    """Per-doc character Shannon entropy (gibberish signal, r4)."""
    d = _t(spark, sf)["documents"]
    return text_ops.char_entropy(d, "doc_id", "text")


def q_interleave(spark, sf):
    """Smooth weighted round-robin interleave of three sources —
    the training-ORDER twin of the mixture sampler (r4)."""
    d = _t(spark, sf)["documents"]
    out = schemes.interleave_sources(
        d, "doc_id", "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    )
    return out.select(
        "doc_id", "source",
        F.col("src_pos").cast("bigint").alias("src_pos"),
        "vt",
        F.col("global_pos").cast("bigint").alias("global_pos"),
    )


def q_strip_html(spark, sf):
    """Raw-crawl tier of clean_text: tag spans removed, core entities
    unescaped (r4).  HTML synthesized in-query around real docs so
    the path exercises actual corpus text."""
    d = _t(spark, sf)["documents"]
    raw = d.withColumn(
        "text",
        F.concat(
            F.lit("<html><p class=\"x\">"), F.col("text"),
            F.lit("</p> &amp; <br/> &lt;end&gt;</html>"),
        ),
    )
    out = text_ops.clean_text(raw, "text", strip_html=True)
    return out.select("doc_id", "clean_text", "n_chars_removed")


def q_ann_filtered(spark, sf):
    """Metadata-filtered vector search: exact top-5 within the
    label=0 shard only — filter pushes down BEFORE scoring, the
    vector-database predicate pattern (r4)."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return similarity.cosine_topk(e.where(F.col("label") == 0), q, k=5)


def q_events_decompose(spark, sf):
    """STL-lite trend/seasonal/residual decomposition of daily
    revenue (r4)."""
    return analytics.events_decompose(_t(spark, sf))


def q_diff_in_diff(spark, sf):
    """2x2 DiD readout with a deterministic arm hash and in-plan
    window midpoint (r4)."""
    return analytics.events_diff_in_diff(_t(spark, sf))


def q_segment_migration(spark, sf):
    """Half-over-half activity-segment transition matrix (r4).
    Thresholds 36/30 straddle the corpus's per-half activity
    quartiles (median 32, p75 37) so all three segments populate."""
    return analytics.events_segment_migration(
        _t(spark, sf), heavy_n=36, regular_n=30
    )


def q_cohort_ltv(spark, sf):
    """First-order-month cohort LTV triangle over orders (r4)."""
    return analytics.customer_cohort_ltv(_t(spark, sf))


def q_ann_recall_certificate(spark, sf):
    """Self-certifying recall: matryoshka-cascade hits against the
    exact top-5 per query, recall as a compared column (r4).  Both
    tiers are SQL-expressible, so the certificate itself is
    oracle-checked."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, q, k=5).select(
        "query_id", "neighbor_id"
    )
    casc = similarity.matryoshka_ann(e, q, dims=16, shortlist=25, k=5).select(
        F.col("query_id").alias("cq"), F.col("neighbor_id").alias("cn")
    )
    hits = exact.join(
        casc,
        (F.col("query_id") == F.col("cq"))
        & (F.col("neighbor_id") == F.col("cn")),
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count(F.col("cn")).cast("bigint").alias("hits"),
        F.round(F.count(F.col("cn")) / F.lit(5.0), 6).alias("recall_at_5"),
    )


def q_ann_ivf_pivot(spark, sf):
    """Deterministic pivot-IVF search (r5): the coarse quantizer is
    the 8 lowest-id corpus vectors, so the full IVF search mechanics
    (assignment, nprobe probing, in-list exact rerank) run under the
    exact-hash oracle gate — the fitted k-means tier (``ann_ivf``)
    stays rows-only because its fit is not SQL-expressible."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return similarity.pivot_ivf_ann(e, q, k=5, n_pivots=8, nprobe=4)


def q_ann_pq_pivot(spark, sf):
    """Deterministic pivot-PQ search (r5): subspace codebooks are the
    sub-slices of the 8 lowest-id corpus vectors (m=4 subspaces over
    64 dims), so encode, ADC scoring and the exact rerank all run
    under the exact-hash oracle gate — the fitted tier (``ann_pq``)
    stays rows-only."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return similarity.pivot_pq_ann(
        e, q, dim=64, k=5, m=4, n_codes=8, shortlist=20
    )


def _recall_certificate(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """hits/recall@k of an approximate ANN result against the exact
    top-k, per query — the ann_recall_matryoshka pattern."""
    casc = approx.select(
        F.col("query_id").alias("cq"), F.col("neighbor_id").alias("cn")
    )
    hits = exact.select("query_id", "neighbor_id").join(
        casc,
        (F.col("query_id") == F.col("cq"))
        & (F.col("neighbor_id") == F.col("cn")),
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count(F.col("cn")).cast("bigint").alias("hits"),
        F.round(F.count(F.col("cn")) / F.lit(float(k)), 6).alias(f"recall_at_{k}"),
    )


def q_ann_lsh_pivot(spark, sf):
    """Deterministic pivot-LSH search (r6): hash planes are the 6
    lowest-id corpus vectors, so sign bucketing, radius-1 multi-probe
    and the in-bucket exact rerank all run under the exact-hash
    oracle gate — the seeded-xxhash tier (``ann_lsh``) stays
    rows-only because xxhash64 has no DuckDB twin."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return similarity.pivot_lsh_ann(e, q, k=5, n_planes=6, probes=1)


def q_ann_recall_lsh(spark, sf):
    """Oracle-checked recall certificate for the pivot-LSH tier
    (VERDICT r5 ask #5): its hits joined against the exact top-5,
    recall as a compared column."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, q, k=5)
    approx = similarity.pivot_lsh_ann(e, q, k=5, n_planes=6, probes=1)
    return _recall_certificate(exact, approx, 5)


def q_ann_mmr_fixed(spark, sf):
    """MMR diversification with the greedy loop unrolled as k=5
    DataFrame argmax steps (r6): the pick sequence is oracle-checked
    against an unrolled CTE — the pandas tier (``ann_mmr``) stays the
    general-k path (VERDICT r5 ask #5)."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    short = similarity.cosine_topk(e, q, k=20)
    return similarity.mmr_diversify_fixed(short, e, k=5).orderBy(
        "query_id", "rank"
    )


def q_ann_recall_ivf(spark, sf):
    """Oracle-checked recall certificate for the pivot-IVF tier:
    its hits joined against the exact top-5, recall as a compared
    column (VERDICT r4 ask #6)."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, q, k=5)
    approx = similarity.pivot_ivf_ann(e, q, k=5, n_pivots=8, nprobe=4)
    return _recall_certificate(exact, approx, 5)


def q_ann_recall_pq(spark, sf):
    """Oracle-checked recall certificate for the pivot-PQ tier
    (VERDICT r4 ask #6)."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, q, k=5)
    approx = similarity.pivot_pq_ann(
        e, q, dim=64, k=5, m=4, n_codes=8, shortlist=20
    )
    return _recall_certificate(exact, approx, 5)


def q_chi_square(spark, sf):
    """Chi-square independence of event type × day-of-week (r4)."""
    return analytics.events_chi_square(_t(spark, sf))


def q_seasonal_forecast(spark, sf):
    """Leave-one-out seasonal-naive daily revenue backtest (r4)."""
    return analytics.events_seasonal_forecast(_t(spark, sf))


def q_winsorize(spark, sf):
    """Per-type exact-percentile winsorization of event values (r4)."""
    from fuel_spark.ops.profile import winsorize

    e = _t(spark, sf)["events"]
    out = winsorize(e, "value", 0.01, 0.99, group_col="event_type")
    return out.select(
        "event_id", "event_type", "value", "value_winsorized", "was_clipped"
    )


def q_trend_by_type(spark, sf):
    """Closed-form OLS value-vs-day trend per event type (r4)."""
    from fuel_spark.ops.profile import trend_by_group

    e = _t(spark, sf)["events"]
    # center x near the data (days since 2024-01-01, not the unix
    # epoch): the oracle casts the DECIMAL moment sums to DOUBLE, and
    # that cast is only exact while sum * 10^6 < 2^53 — epoch-day
    # squares at ~2e4 put sxx past it, corpus-relative days do not
    pts = e.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.col("value").alias("y"),
    )
    return trend_by_group(pts, "x", "y", group_col="event_type")


def q_curriculum_batches(spark, sf):
    """Easy→hard curriculum plan over documents by length, seeded
    tie-shuffle inside equal difficulties (r4)."""
    d = _t(spark, sf)["documents"]
    out = schemes.curriculum_batches(d, "doc_id", "n_chars", 32, seed=11)
    return out.select("doc_id", "n_chars", "pos", "batch_id")


def q_ann_mmr(spark, sf):
    """MMR-diversified retrieval: exact top-20 shortlist re-ranked
    for diversity (rows-only: greedy sequential pick)."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    short = similarity.cosine_topk(e, q, k=20)
    return similarity.mmr_diversify(short, e, k=5).orderBy(
        "query_id", "rank"
    )


def q_tfidf_similar_docs(spark, sf):
    """Sparse TF-IDF more-like-this: top-3 related docs through
    shared sub-max_df terms (r4).  max_df=300 suits the synthetic
    corpus's 31-term vocabulary; real corpora use a lower cap."""
    d = _t(spark, sf)["documents"]
    return text_ops.tfidf_similar_docs(d, "doc_id", "text", k=3, max_df=300)


# ---------------------------------------------------------------------------
# round-7 wrappers: mergeable sketches + deterministic samplers
# ---------------------------------------------------------------------------


def q_quantile_sketch_value(spark, sf):
    """Hash-stratified mergeable quantile sketch over events.value
    with the exact-rank certificate (r7): 1/8 deterministic sample,
    DKW 95% band, measured |rank err| per quantile."""
    e = _t(spark, sf)["events"]
    return sketch.quantile_sketch(e, "event_id", "value")


def q_quantile_sketch_by_type(spark, sf):
    """Grouped quantile sketch: per-event-type medians/p90s from
    per-group samples — the partitioned-summary shape a 100 TB
    accounting job uses (r7)."""
    e = _t(spark, sf)["events"]
    return sketch.quantile_sketch(
        e, "event_id", "value", probs=(0.5, 0.9), group_col="event_type"
    )


def q_quantile_sketch_merge(spark, sf):
    """Mergeability certificate (r7): sketch(A) ∪ sketch(B) read off
    vs sketch(A∪B) — deterministic hashing makes them identical."""
    e = _t(spark, sf)["events"]
    return sketch.quantile_sketch_merge_certificate(
        e, "event_id", "value", split_col=F.col("event_id") % 2 == 0
    )


def q_cms_counts(spark, sf):
    """Count-Min point queries vs exact counts for the top-20 users
    (r7): the est>=true CMS invariant emitted per key."""
    e = _t(spark, sf)["events"]
    cells = sketch.cms_build(e, "user_id")
    top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), F.col("user_id").asc())
        .limit(20)
    )
    est = sketch.cms_estimate(cells, top.select("user_id"), "user_id")
    return (
        top.join(est, "user_id")
        .withColumn("overcount", (F.col("est_cnt") - F.col("true_cnt")).cast("bigint"))
        .withColumn("est_ge_true", F.col("est_cnt") >= F.col("true_cnt"))
        .select("user_id", "true_cnt", "est_cnt", "overcount", "est_ge_true")
    )


def q_cms_merge(spark, sf):
    """CMS mergeability certificate (r7): cellwise-summed half
    sketches vs the direct sketch, mismatches per hash row (0)."""
    e = _t(spark, sf)["events"]
    return sketch.cms_merge_certificate(
        e, "user_id", split_col=F.col("event_id") % 2 == 0
    )


def q_bloom_screen(spark, sf):
    """Bloom membership screen + measured-FPR certificate (r7): known
    purchase users + definitely-unseen synthetic ids screened against
    a 4096-bit / 3-hash filter of the purchase-user set; outcomes
    tallied (no 'fn' row can exist — Bloom has no false negatives)."""
    e = _t(spark, sf)["events"]
    members = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    bloom = sketch.bloom_build(members, "user_id", m_bits=4096, k_hashes=3)
    cands = (
        e.select("user_id")
        .distinct()
        .unionByName(
            e.where(F.col("user_id") % 5 == 0)
            .select((F.col("user_id") + 1000000).alias("user_id"))
            .distinct()
        )
    )
    hits = sketch.bloom_screen(cands, bloom, "user_id", m_bits=4096, k_hashes=3)
    flagged = hits.join(
        members.withColumn("_mem", F.lit(True)), "user_id", "left"
    ).withColumn(
        "outcome",
        F.when(F.col("bloom_hit") & F.col("_mem").isNotNull(), "tp")
        .when(F.col("bloom_hit"), "fp")
        .when(F.col("_mem").isNotNull(), "fn")
        .otherwise("tn"),
    )
    return flagged.groupBy("outcome").agg(
        F.count(F.lit(1)).alias("n_keys")
    )


def q_bloom_planner(spark, sf):
    """Bloom capacity planner (r7): per-source optimal (m, k) for a
    1% FPR screen — pinned-literal ln constants, pure arithmetic."""
    d = _t(spark, sf)["documents"]
    return sketch.bloom_size_planner(d, "source", "doc_id", target_fpr=0.01)


def q_distinct_linear(spark, sf):
    """Linear-counting distinct estimate vs exact per event type
    (r7): 1024-slot bitmap occupancy, rel-err certificate inline."""
    e = _t(spark, sf)["events"]
    return sketch.linear_count_distinct(e, "event_type", "user_id", m=1024)


def q_sample_reservoir(spark, sf):
    """Deterministic uniform reservoir of 100 events (r7): TakeOrdered
    over hash-uniform keys — Vitter's contract, reproducible."""
    e = _t(spark, sf)["events"]
    return sketch.reservoir_sample(e, "event_id", n=100).select(
        "event_id", "event_type", "r_key"
    )


def q_sample_reservoir_by_source(spark, sf):
    """Per-source deterministic reservoir (r7): 5 docs per domain, the
    balanced eval-slice sampler."""
    d = _t(spark, sf)["documents"]
    return sketch.reservoir_by_group(d, "source", "doc_id", n=5).select(
        "source", "doc_id", "r_key", "rank"
    )


def q_sample_stratified(spark, sf):
    """Per-stratum Bernoulli(0.2) sample accounting (r7): totals,
    kept, realized rate per source — rederivable, never persisted."""
    d = _t(spark, sf)["documents"]
    return sketch.stratified_sample_summary(d, "source", "doc_id", frac=0.2)


def q_split_train_val_test(spark, sf):
    """Deterministic 90/5/5 train-val-test split accounting (r7):
    per-split docs + whitespace tokens."""
    from fuel_spark.functions import words

    d = _t(spark, sf)["documents"]
    out = sketch.train_val_test_split(d, "doc_id", 0.9, 0.05)
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(words(F.col("text")))).cast("bigint").alias("n_tokens"),
    )


def q_domain_mixture_weights(spark, sf):
    """Tempered domain-mixture weights (r7): tokens^0.7 normalized
    per source + epochs at a 1M-token budget."""
    from fuel_spark.ops import curate

    d = _t(spark, sf)["documents"]
    return curate.domain_mixture_weights(
        d, "source", "text", alpha=0.7, budget_tokens=1_000_000
    )


def q_packing_efficiency(spark, sf):
    """Padding-waste report for seq_len=512 over 64-token length bins
    (r7): all-integer ceil/floor arithmetic."""
    from fuel_spark.ops import curate

    d = _t(spark, sf)["documents"]
    return curate.packing_efficiency(d, "text", seq_len=512, bin_size=64)


def q_curriculum_phases(spark, sf):
    """Exact-percentile curriculum phase table by n_chars terciles
    (r7): integer rank targets, value-grid cumulative window."""
    from fuel_spark.ops import curate

    d = _t(spark, sf)["documents"]
    return curate.curriculum_phases(d, "n_chars", "text", phases=3)


def q_curation_funnel(spark, sf):
    """Quality-screen funnel (r7): rows in/out of the 4-stage
    C4/Gopher chain, one pass, constant-size output."""
    from fuel_spark.ops import curate

    d = _t(spark, sf)["documents"]
    return curate.curation_funnel(d, "text")


def q_top_ngrams_by_source(spark, sf):
    """Top-5 trigrams per source (r7): the per-domain boilerplate
    fingerprint; group-partitioned rank window."""
    d = _t(spark, sf)["documents"]
    return text_ops.top_ngrams_by_group(d, "source", "text", n=3, k=5)


def q_index_bucket_profile(spark, sf):
    """Band-index health report (r7): per-band bucket census with
    the over-cap tax count that triggers compaction."""
    d = _t(spark, sf)["documents"]
    idx = dedup.with_minhash_bands(d, "doc_id", "text")
    return dedup.index_bucket_profile(idx, max_bucket=32)


def _snapshot_pair(spark, sf):
    """The corpus_diff snapshot recipe (q_corpus_diff, r4): the 'new
    crawl' drops doc_id < 10, rewrites every 7th doc, adds 5 fresh
    ids — all four diff statuses populated."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    fresh = d.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("fresh "), F.col("text")).alias("text"),
    )
    new = (
        d.where(F.col("doc_id") >= 10)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .unionByName(fresh)
    )
    return d, new


def q_incremental_dedup(spark, sf):
    """The incremental-dedup lifecycle as ONE oracle-checked
    composition (r7, VERDICT ask #6): diff -> band screen -> merge ->
    compact, 9-row per-stage audit."""
    old, new = _snapshot_pair(spark, sf)
    return dedup.incremental_dedup_summary(old, new, max_bucket=32)


def q_snapshot_tokens(spark, sf):
    """Token-level snapshot accounting (r7): per-status doc counts
    and old/new/net token movement."""
    old, new = _snapshot_pair(spark, sf)
    return dedup.snapshot_token_accounting(old, new)


def q_hll_distinct(spark, sf):
    """Oracle-checkable HyperLogLog per event type (r7): integer
    register sums (Σ2^(52−M) as BIGINT) make the harmonic mean
    hash-exact; exact distinct rides along as the certificate."""
    e = _t(spark, sf)["events"]
    return sketch.hll_distinct(e, "event_type", "user_id", m=256)


def q_cms_topk(spark, sf):
    """Constant-memory heavy-key screen (r7): CMS shortlist at
    est>=25, exact verify, superset property measured per key."""
    e = _t(spark, sf)["events"]
    return sketch.cms_topk_screen(e, "user_id", threshold=25)


def q_dedup_rate_by_source(spark, sf):
    """Per-source exact-duplicate accounting (r7): dup docs and
    keep-min losers per domain."""
    d = _t(spark, sf)["documents"]
    return dedup.dedup_rate_by_group(d, "source")


def q_candidate_budget(spark, sf):
    """Verify-stage cost planner (r7): per band, candidate pairs in
    budget vs skipped by the bucket cap."""
    d = _t(spark, sf)["documents"]
    idx = dedup.with_minhash_bands(d, "doc_id", "text")
    return dedup.candidate_pair_budget(idx, max_bucket=32)


def q_truncation_savings(spark, sf):
    """Truncation planning at p90/p99 length percentiles (r7): exact
    integer rank cutoffs, token savings per cutoff."""
    d = _t(spark, sf)["documents"]
    return curate_ops.truncation_savings(d, "text", probs=(0.9, 0.99))


def q_mixture_schedule(spark, sf):
    """Hamilton largest-remainder apportionment of a 1000-slot
    interleave schedule across sources (r7): all-integer, sums
    exactly to the slot budget."""
    d = _t(spark, sf)["documents"]
    return curate_ops.mixture_schedule_slots(d, "source", "text", slots=1000)


def q_snapshot_psi(spark, sf):
    """Token-length PSI between corpus snapshots (r7): per-bin
    smoothed drift terms, the 'new crawl is all short spam' screen."""
    old, new = _snapshot_pair(spark, sf)
    return curate_ops.snapshot_length_psi(old, new, "text", bin_size=64)


def q_hll_merge(spark, sf):
    """HLL register-table mergeability certificate (r7): max-merged
    half sketches vs direct, mismatches per event type (0)."""
    e = _t(spark, sf)["events"]
    return sketch.hll_merge_certificate(
        e, "event_type", "user_id", split_col=F.col("event_id") % 2 == 0
    )


def q_quantile_rate_sweep(spark, sf):
    """Sample-rate accuracy sweep for the quantile sketch (r7): the
    median's measured rank error at 1/2, 1/8, 1/32 rates — the table
    that picks the production rate."""
    e = _t(spark, sf)["events"]
    out = None
    for mod in (2, 8, 32):
        part = sketch.quantile_sketch(
            e, "event_id", "value", probs=(0.5,), sample_mod=mod
        ).select(
            F.lit(mod).cast("bigint").alias("sample_mod"),
            "est_value", "sample_n", "true_rank", "n_rows", "frac_err",
        )
        out = part if out is None else out.unionByName(part)
    return out


def q_cms_width_sweep(spark, sf):
    """CMS width sweep (r7): overcount of the top-10 users at widths
    64/256/1024 — the memory-vs-error table that sizes the sketch."""
    e = _t(spark, sf)["events"]
    top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), F.col("user_id").asc())
        .limit(10)
    )
    out = None
    for width in (64, 256, 1024):
        cells = sketch.cms_build(e, "user_id", width=width)
        est = sketch.cms_estimate(
            cells, top.select("user_id"), "user_id", width=width
        )
        part = top.join(est, "user_id").select(
            F.lit(width).cast("bigint").alias("width"),
            "user_id", "true_cnt", "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).cast("bigint")
            .alias("overcount"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def q_weighted_sample_by_source(spark, sf):
    """Per-source ES weighted sample (r7): 5 length-weighted exemplar
    docs per domain."""
    d = _t(spark, sf)["documents"]
    return sketch.weighted_sample_by_group(
        d, "source", "doc_id", "n_chars", n=5
    ).select("source", "doc_id", "n_chars", "es_key", "rank")


def q_reservoir_merge_cert(spark, sf):
    """Reservoir mergeability certificate (r7): top-n of the halves'
    top-n unions equals the direct global top-n rank-for-rank."""
    e = _t(spark, sf)["events"]
    a = sketch.reservoir_sample(
        e.where(F.col("event_id") % 2 == 0), "event_id", 50
    )
    b = sketch.reservoir_sample(
        e.where(F.col("event_id") % 2 == 1), "event_id", 50
    )
    merged = sketch.reservoir_sample(
        a.unionByName(b).drop("r_key"), "event_id", 50
    ).select(
        F.row_number()
        .over(Window.orderBy(F.col("r_key").asc(), F.col("event_id").asc()))
        .cast("bigint")
        .alias("rank"),
        F.col("event_id").alias("id_merged"),
    )
    direct = sketch.reservoir_sample(e, "event_id", 50).select(
        F.row_number()
        .over(Window.orderBy(F.col("r_key").asc(), F.col("event_id").asc()))
        .cast("bigint")
        .alias("rank"),
        F.col("event_id").alias("id_direct"),
    )
    return (
        merged.join(direct, "rank")
        .withColumn("match", F.col("id_merged") == F.col("id_direct"))
        .select("rank", "id_merged", "id_direct", "match")
    )


def q_split_leakage(spark, sf):
    """Cross-split exact-dup leakage report (r7): pairs of splits
    sharing a text digest — the train/test contamination the iid
    split can't prevent when the corpus carries exact dups (fix is
    dedup-then-split or leakage_free_split; this measures the need).
    The screened corpus is documents plus an exact copy of every 9th
    doc under a new id — the synthetic corpus has no exact dups at
    sf0.01, and a 0-row report would certify nothing."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    dup = d.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    s = sketch.train_val_test_split(d.unionByName(dup), "doc_id").select(
        "split", F.md5(F.col("text")).alias("_h")
    )
    a = s.select(F.col("split").alias("split_a"), "_h").distinct()
    b = s.select(F.col("split").alias("split_b"), "_h").distinct()
    return (
        a.join(b, "_h")
        .where(F.col("split_a") < F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_shared_digests"))
    )


def q_split_label_balance(spark, sf):
    """Label balance of the iid split over embeddings (r7): per split
    x label counts + within-split shares."""
    e = _t(spark, sf)["embeddings"]
    s = sketch.train_val_test_split(e, "vec_id")
    counts = s.groupBy("split", "label").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    totals = counts.groupBy("split").agg(
        F.sum("n_vecs").cast("bigint").alias("_st")
    )
    return (
        counts.join(F.broadcast(totals), "split")
        .withColumn(
            "frac_within_split",
            F.round(
                F.col("n_vecs").cast("double") / F.col("_st").cast("double"),
                6,
            ),
        )
        .select("split", "label", "n_vecs", "frac_within_split")
    )


def q_heavy_hitters_batch(spark, sf):
    """Sharded batch heavy hitters (r7): exact per-shard top-8 users,
    the oracle-checked contract twin of the streaming Misra-Gries."""
    e = _t(spark, sf)["events"]
    return sketch.heavy_hitters_batch(e, "user_id", k=8, num_shards=8)


def q_token_gini(spark, sf):
    """Corpus token-inequality Gini from grouped value-grid data
    (r7): exact grouped identity, no corpus-sized sort."""
    d = _t(spark, sf)["documents"]
    return curate_ops.token_gini(d, "text")


def q_vocab_overlap(spark, sf):
    """Pairwise top-100-vocab Jaccard between sources (r7): the
    domain-similarity matrix for mixture design."""
    d = _t(spark, sf)["documents"]
    return text_ops.source_vocab_overlap(d, "source", "text", top_k=100)


def q_curriculum_source_mix(spark, sf):
    """Curriculum phase x source interaction (r7): does the easy
    phase over-sample a domain."""
    d = _t(spark, sf)["documents"]
    return curate_ops.curriculum_source_mix(d, "n_chars", "source", phases=3)


def q_vocab_churn(spark, sf):
    """Vocabulary churn between snapshots (r7): words gained / lost /
    shared with occurrence mass."""
    old, new = _snapshot_pair(spark, sf)
    return text_ops.snapshot_vocab_churn(old, new, "text")


def q_concat_vs_pad(spark, sf):
    """Concat-packing vs pad-batching sequence counts per source
    (r7): all-integer savings table."""
    d = _t(spark, sf)["documents"]
    return curate_ops.packing_concat_vs_pad(d, "source", "text", seq_len=512)


def q_mixture_alpha_sweep(spark, sf):
    """Mixture temperature sweep (r7): per-source weights at alpha
    0.5 / 0.7 / 1.0 — the smoothing-choice table."""
    d = _t(spark, sf)["documents"]
    out = None
    for alpha in (0.5, 0.7, 1.0):
        part = curate_ops.domain_mixture_weights(
            d, "source", "text", alpha=alpha
        ).select(
            F.lit(float(alpha)).alias("alpha"),
            "source", "n_tokens", "weight",
        )
        out = part if out is None else out.unionByName(part)
    return out


def q_hot_buckets(spark, sf):
    """Hottest band buckets (r7): top-3 boilerplate magnets per band
    of the minhash index."""
    d = _t(spark, sf)["documents"]
    idx = dedup.with_minhash_bands(d, "doc_id", "text")
    return dedup.hot_buckets(idx, k=3)


def q_bloom_merge(spark, sf):
    """Bloom position-table mergeability certificate (r7): union of
    half filters vs the direct filter, mismatch 0."""
    e = _t(spark, sf)["events"]
    return sketch.bloom_merge_certificate(
        e.select("user_id"), "user_id",
        split_col=F.col("user_id") % 2 == 0,
    )


def q_split_source_balance(spark, sf):
    """Domain balance of the iid split over documents (r7): per split
    x source counts + within-split shares."""
    d = _t(spark, sf)["documents"]
    s = sketch.train_val_test_split(d, "doc_id")
    counts = s.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = counts.groupBy("split").agg(
        F.sum("n_docs").cast("bigint").alias("_st")
    )
    return (
        counts.join(F.broadcast(totals), "split")
        .withColumn(
            "frac_within_split",
            F.round(
                F.col("n_docs").cast("double") / F.col("_st").cast("double"),
                6,
            ),
        )
        .select("split", "source", "n_docs", "frac_within_split")
    )


def q_sample_rate_cert(spark, sf):
    """Stratified-sample realized-rate certificate (r7): per-stratum
    |rate − 0.2| against the DKW 95% band — was the stratum big
    enough for its sample to be trusted."""
    d = _t(spark, sf)["documents"]
    out = sketch.stratified_sample_summary(d, "source", "doc_id", frac=0.2)
    eps = F.round(
        F.sqrt(F.lit(math.log(2.0 / 0.05)) / (2.0 * F.col("n_total"))), 6
    )
    return (
        out.withColumn("eps_95", eps)
        .withColumn(
            "within_eps",
            F.abs(F.col("rate") - F.lit(0.2)) <= F.col("eps_95"),
        )
    )


def q_funnel_threshold_sweep(spark, sf):
    """Quality-funnel min-words sweep (r7): full-chain survivors at
    min_words 10/30/100 in one pass."""
    d = _t(spark, sf)["documents"]
    return curate_ops.funnel_threshold_sweep(
        d, "text", word_thresholds=(10, 30, 100)
    )


def q_source_mix_shift(spark, sf):
    """Domain-mix drift between snapshots (r7): per-source doc share
    old vs new + delta."""
    d = _t(spark, sf)["documents"].select("doc_id", "text", "source")
    fresh = d.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("fresh "), F.col("text")).alias("text"),
        "source",
    )
    new = (
        d.where(F.col("doc_id") >= 10)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .unionByName(fresh)
    )
    return curate_ops.source_mix_shift(d, new, "source")


def q_jaccard_histogram(spark, sf):
    """Verified-pair similarity deciles (r7): the candidate-quality
    distribution behind threshold choice."""
    d = _t(spark, sf)["documents"]
    return dedup.pair_jaccard_histogram(
        dedup.ngram_jaccard_pairs(d, "doc_id", "text")
    )


def q_hll_m_sweep(spark, sf):
    """HLL register-count sweep (r7 seed): global distinct-user
    rel-err at m 64/256/1024 — the memory-vs-error sizing table."""
    e = _t(spark, sf)["events"].withColumn("_g", F.lit("all"))
    out = None
    for m in (64, 256, 1024):
        part = sketch.hll_distinct(e, "_g", "user_id", m=m).select(
            F.lit(m).cast("bigint").alias("m_registers"),
            "n_registers_set", "est_distinct", "exact_distinct", "rel_err",
        )
        out = part if out is None else out.unionByName(part)
    return out


def q_split_fraction_sweep(spark, sf):
    """Train-fraction sweep (r7 seed): per-split doc counts at train
    0.8 / 0.9 / 0.95 (val fixed at half the holdout)."""
    d = _t(spark, sf)["documents"]
    out = None
    for tf in (0.8, 0.9, 0.95):
        vf = (1.0 - tf) / 2.0
        part = (
            sketch.train_val_test_split(d, "doc_id", tf, vf)
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(
                F.lit(float(tf)).alias("train_frac"), "split", "n_docs"
            )
        )
        out = part if out is None else out.unionByName(part)
    return out


def q_funnel_by_source(spark, sf):
    """Per-domain quality-screen survival (r7 seed): which sources
    die at the funnel."""
    d = _t(spark, sf)["documents"]
    return curate_ops.curation_funnel_by_group(d, "source", "text")


def q_packing_seqlen_sweep(spark, sf):
    """seq_len-choice table (r7 seed): corpus padding waste at
    256/512/1024 in one pass."""
    d = _t(spark, sf)["documents"]
    return curate_ops.packing_seqlen_sweep(d, "text", (256, 512, 1024))


def q_kmv_distinct(spark, sf):
    """KMV bottom-k distinct certificate (r7 late): per-event-type
    (k-1)/h_(k) estimate beside the exact distinct-user count — the
    arg-min-keeping cousin of the HLL certificate."""
    e = _t(spark, sf)["events"]
    return sketch.kmv_distinct_certificate(e, "event_type", "user_id", k=32)


def q_theta_set_ops(spark, sf):
    """Theta-sketch set operations (r7 late): union / intersection /
    A-minus-B user-set cardinalities for three event-type pairs,
    estimated from the KMV sketches alone with exact certificates."""
    e = _t(spark, sf)["events"]
    return sketch.theta_set_ops_certificate(
        e, "event_type", "user_id",
        [("view", "click"), ("view", "purchase"), ("click", "error")],
        k=32,
    )


def _linkage_candidate_pairs(spark, sf):
    t = _t(spark, sf)
    c = t["customer"].select(
        F.col("c_custkey").alias("l_id"),
        F.col("c_nationkey").alias("l_nation"),
        F.col("c_acctbal").alias("l_bal"),
    )
    s = t["supplier"].select(
        F.col("s_suppkey").alias("r_id"),
        F.col("s_nationkey").alias("r_nation"),
        F.col("s_acctbal").alias("r_bal"),
    )
    return linkage.fs_candidate_pairs(c, s)


def q_linkage_fs_patterns(spark, sf):
    """Fellegi-Sunter agreement-pattern histogram (r7 late): blocked
    customer<->supplier candidate pairs rolled up to their <=8
    agreement patterns with pair counts and FS match weights."""
    return linkage.fs_pattern_summary(_linkage_candidate_pairs(spark, sf))


def q_linkage_fs_matches(spark, sf):
    """Fellegi-Sunter link set (r7 late): candidate pairs whose
    pattern weight clears the 5.0 threshold — the cross-registry
    entity-resolution output."""
    return linkage.fs_matches(_linkage_candidate_pairs(spark, sf), threshold=5.0)


def q_rp_distortion(spark, sf):
    """Johnson-Lindenstrauss projection distortion certificate (r7
    late): 64-dim embeddings projected onto 16 deterministic +-1
    planes; per adjacent-id pair, scaled projected distance vs true
    distance."""
    e = _t(spark, sf)["embeddings"]
    return similarity.rp_distortion_certificate(e, dims=64, planes=16)


def q_linkage_entities(spark, sf):
    """Entity clusters from the FS link set (r7 late): transitive
    closure of matches into resolved entities (namespaced min-label
    propagation), one row per entity with member counts."""
    m = linkage.fs_matches(_linkage_candidate_pairs(spark, sf), threshold=5.0)
    return linkage.fs_entity_clusters(m)


def q_lsh_scurve(spark, sf):
    """LSH s-curve calibration (r7 late): measured band-capture rate
    per exact-jaccard decile vs the 1-(1-s^r)^b design curve, over
    the bounded doc_id<200 calibration sample."""
    d = _t(spark, sf)["documents"]
    return dedup.lsh_scurve_calibration(d, "doc_id", "text", max_id=200)


def q_salted_rollup(spark, sf):
    """Salted two-stage rollup certificate (r7 late): the hot-key
    shuffle mitigation beside the direct aggregate, match pinned —
    safe exactly because sums ride DECIMAL."""
    e = _t(spark, sf)["events"]
    return core.salted_rollup_certificate(
        e, "event_type", "event_id", "value", salts=32
    )


def q_ann_rbo_lsh(spark, sf):
    """Rank-biased overlap certificate for the pivot-LSH tier (r7
    late): rank-aware agreement with the exact top-5 (recall says
    WHETHER the ids appear; RBO scores the ORDER)."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, q, k=5)
    approx = similarity.pivot_lsh_ann(e, q, k=5, n_planes=6, probes=1)
    return similarity.rbo_certificate(exact, approx, k=5, p=0.9)


def q_dedup_time_horizon(spark, sf):
    """Time-horizon exact dedup (r7 late): per (user, type), replays
    within 30 minutes of their predecessor dropped — the batch twin
    of streaming dedup_stream's watermark semantics."""
    e = _t(spark, sf)["events"]
    return dedup.dedup_time_horizon(
        e, ["user_id", "event_type"], "ts", horizon_sec=1800
    )


def q_shard_skew_sweep(spark, sf):
    """Shard-count choice table (r7 late): per-shard token-mass
    straggler metrics at 8/32/128 shards in one pass."""
    d = _t(spark, sf)["documents"]
    return curate_ops.shard_skew_sweep(d, "doc_id", "text", (8, 32, 128))


def q_linkage_pipeline(spark, sf):
    """Linkage lifecycle composite (r7 late): block -> compare ->
    weight -> classify -> resolve with an 8-stage row-count audit —
    the entity-resolution twin of dedup_incremental_lifecycle."""
    t = _t(spark, sf)
    c = t["customer"].select(
        F.col("c_custkey").alias("l_id"),
        F.col("c_nationkey").alias("l_nation"),
        F.col("c_acctbal").alias("l_bal"),
    )
    s = t["supplier"].select(
        F.col("s_suppkey").alias("r_id"),
        F.col("s_nationkey").alias("r_nation"),
        F.col("s_acctbal").alias("r_bal"),
    )
    return linkage.fs_linkage_summary(c, s, threshold=5.0)


def q_priority_sample(spark, sf):
    """Priority-sampling subset-sum certificate (r7 late): per
    event_type, estimate total value from the 32 highest-priority
    rows (tau-threshold estimator) beside the exact decimal sum."""
    e = _t(spark, sf)["events"]
    return sketch.priority_sample_certificate(
        e, "event_type", "event_id", "value", k=32
    )


def q_mixture_unimax(spark, sf):
    """UniMax epoch-capped budget allocation (r7 late): uniform
    token budget per source, capped at 4 epochs, capped surplus
    waterfilled among uncapped sources (8 unrolled rounds; 100k
    budget lands the share inside the cap range at both SFs, so the
    output genuinely mixes capped and uncapped domains)."""
    d = _t(spark, sf)["documents"]
    return curate_ops.unimax_allocation(
        d, "source", "text", budget_tokens=100_000, max_epochs=4, rounds=8
    )


def q_kll_quantiles(spark, sf):
    """Compactor-based KLL sketch over events.value (r7, rows-only by
    design: deterministic compaction is partitioning-defined; the
    rank-error envelope is pinned by pytest across partitionings)."""
    e = _t(spark, sf)["events"]
    return sketch.kll_quantiles(e, "value")


def q_dedup_savings_calibration(spark, sf):
    """Forecast-calibration table (r7 late): the cheap trigram
    redundancy forecast vs the measured exact-dup rate per source,
    with the cross-source correlation riding every row."""
    d = _t(spark, sf)["documents"]
    return dedup.dedup_savings_calibration(d, "source", "doc_id", "text", n=3)


def q_funnel_window_sweep(spark, sf):
    """Conversion-window knob table (r7 late): the windowed funnel at
    1h/6h/24h from one shared per-step frame set — where does
    conversion stop growing as the window widens."""
    return analytics.events_funnel_window_sweep(
        _t(spark, sf), ("view", "click", "purchase"), (3600, 21600, 86400)
    )


def q_ab_power(spark, sf):
    """A/B power planner (r7 late): required users per arm at 1/2/5%
    MDE from the measured per-user variance — the go/no-go table
    completing the ab_test -> CUPED -> power trio."""
    return analytics.events_ab_power_sweep(_t(spark, sf), (0.01, 0.02, 0.05))


def q_ab_cuped(spark, sf):
    """CUPED variance-reduced A/B readout (r7 late): pre-period value
    as covariate, adjusted post metric, measured variance_reduction —
    the experiment-sensitivity standard."""
    return analytics.events_ab_cuped(_t(spark, sf), "exp1", split_day=15)


def q_compressibility(spark, sf):
    """Cross-doc redundancy forecast (r7 late): repeated word-trigram
    mass per source — predicts dedup/compression wins BEFORE running
    either."""
    d = _t(spark, sf)["documents"]
    return text_ops.corpus_compressibility(d, "doc_id", "text", "source", n=3)


def q_range_planner(spark, sf):
    """Range-boundary planner certificate (r7 late): sample-derived
    repartitionByRange cuts for events.value with the measured
    per-range fill ratio — skewed fill means the sample
    under-resolved a dense region."""
    e = _t(spark, sf)["events"]
    return curate_ops.range_partition_planner(
        e, "event_id", "value", n_ranges=8, sample_mod=8
    )


def q_dedup_keep_best(spark, sf):
    """Cluster-canonical dedup with the quality keeper (r7 late): one
    survivor per transitive near-dup cluster — the highest-quality
    member, ties on min id (the RefinedWeb policy)."""
    d = _t(spark, sf)["documents"]
    scored = text_ops.quality_score(d, "text").select(
        "doc_id", "text", "quality"
    )
    return dedup.dedup_keep_best(
        scored, "doc_id", "text", "quality", threshold=0.5
    )


def q_ann_lsh_pivot_r2(spark, sf):
    """Radius-2 multi-probe pivot-LSH (r7 late: Lv et al. 2007's next
    perturbation ring — bit PAIRS flip too, query side explodes
    1+n+C(n,2), corpus untouched; closes the probes>1 limitation the
    r6 guard documented)."""
    e = _t(spark, sf)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    return similarity.pivot_lsh_ann(e, q, k=5, n_planes=6, probes=2)


def q_salted_join(spark, sf):
    """Salted replicated-dim join certificate (r7 late): the join-side
    twin of the rollup certificate — hot probe key spread over 16
    salts against a replicated dim, equality to the direct join
    pinned."""
    e = _t(spark, sf)["events"]
    return core.salted_join_certificate(
        e, "event_type", "event_id", "value", salts=16
    )


def q_bpe_fertility(spark, sf):
    """Tokenizer fertility by source (r7 late): BPE tokens/word and
    chars/token under the fixed merge table — the tokenizer-choice
    planner read before committing a pretrain run's tokenization."""
    d = _t(spark, sf)["documents"]
    return text_ops.bpe_fertility(
        d, "doc_id", "text", "source", list(BPE_FIXED_MERGES)
    )


def q_zorder_certificate(spark, sf):
    """Z-order data-skipping certificate (r7 late): files touched by
    a 2-column range predicate under id / time-sorted / Morton
    layouts from per-file min-max stats — the measured case for
    write_zordered."""
    e = _t(spark, sf)["events"]
    return curate_ops.zorder_skipping_certificate(e)


def q_sample_kcenter(spark, sf):
    """k-center greedy coreset (r7 late): the 6 most geometrically
    diverse exemplars by deterministic farthest-point traversal, with
    the non-increasing coverage-radius certificate."""
    e = _t(spark, sf)["embeddings"]
    return similarity.kcenter_coreset(e, "vec_id", "embedding", k=6)


def q_quality_calibration(spark, sf):
    """Reliability diagram + ECE (r7 late): is the stopword-ratio
    quality score CALIBRATED against the English label, not just
    rank-correct (quality_auc's question)?"""
    from fuel_spark.ops import profile

    d = _t(spark, sf)["documents"]
    scored = text_ops.quality_score(d, "text")
    return profile.calibration_bins(
        scored, "stopword_ratio", F.col("lang") == "en", n_bins=10
    )


def q_lm_buckets(spark, sf):
    """CCNet-style head/middle/tail perplexity buckets (r7 late):
    per-source tercile cutoffs on the corpus-unigram LM score, the
    quality-stratification step before mixture sampling."""
    d = _t(spark, sf)["documents"]
    return text_ops.lm_quality_buckets(d, "doc_id", "text", "source")


def q_centroid_shift(spark, sf):
    """Embedding-space drift certificate (r7 late): per-label cosine
    between even-id and odd-id half-centroids — stable encoder reads
    ~1, a rotated class region reads < 1."""
    e = _t(spark, sf)["embeddings"]
    return similarity.centroid_shift(e, "label", "vec_id", "embedding")


def q_session_gap_sweep(spark, sf):
    """Session-gap knob-choice table (r7 late): sessionization stats
    at 15/30/60-minute timeouts from ONE scan + user shuffle — the
    table that decides the sessionize gap setting."""
    return analytics.events_session_gap_sweep(_t(spark, sf), (15, 30, 60))


def q_join_broadcast_planner(spark, sf):
    """Broadcast-vs-shuffle planner (r7 late): exact per-dim payload
    estimate beside the broadcast decision at three threshold
    candidates — the planning query behind every broadcast() hint."""
    return analytics.join_broadcast_planner(
        _t(spark, sf), (4096, 65536, 1048576)
    )


def q_file_layout_planner(spark, sf):
    """Output-file layout planner (r7 late): per-source byte mass and
    the file count each target file size implies — the
    anti-small-files repartition table."""
    d = _t(spark, sf)["documents"]
    return curate_ops.file_layout_planner(
        d, "source", "text", (65536, 262144, 1048576)
    )


# --- round 8: ANN index lifecycle + snapshot drift + stream resume ---


def _ann_corpus_split(spark, sf):
    """The standing ANN-lifecycle fixture: frozen corpus = vec_id >=
    10 (so its 6 lowest ids, 10..15, are the frozen plane family);
    ingest batch = vec_id < 10 plus five EXACT clones of indexed
    vectors re-keyed far above any real id (+10,000,000, matching
    scale_smoke's SHIFT, so the fixture holds at every SF — the
    near-dup rows the screen stage must catch)."""
    e = _t(spark, sf)["embeddings"]
    old = e.where(F.col("vec_id") >= 10)
    clones = e.where(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 105)
    ).withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
    new = e.where(F.col("vec_id") < 10).unionByName(clones)
    return e, old, new


def q_ann_index_merge_cert(spark, sf):
    """Merged-vs-rebuilt ANN index drift certificate (r8): new
    vectors merged under the FROZEN plane family vs a fresh rebuild
    whose pivots re-derive from the grown corpus — n_moved /
    moved_frac is the re-index pressure gauge (the ingest batch
    inserts ids BELOW the pivots, so the fresh family shifts and
    buckets genuinely move)."""
    e, old, new = _ann_corpus_split(spark, sf)
    planes = similarity.pivot_lsh_planes(old)
    idx = similarity.pivot_lsh_index(old, planes)
    merged = similarity.ann_merge_into_index(idx, new, planes)
    corpus_all = old.unionByName(new)
    return similarity.ann_index_merge_certificate(merged, corpus_all)


def q_ann_index_compaction(spark, sf):
    """ANN index compaction (r8) — the vector twin of
    dedup_index_compaction: an index carrying replayed rows (every
    vec_id % 3 == 0 appended twice), tombstones (live set drops
    vec_id % 7 == 3) and hot buckets (cap 12) compacts to the clean
    (vec_id, bucket) rows."""
    e = _t(spark, sf)["embeddings"]
    planes = similarity.pivot_lsh_planes(e)
    idx = similarity.pivot_lsh_index(e, planes)
    replayed = idx.unionByName(idx.where(F.col("vec_id") % 3 == 0))
    live = e.where(F.col("vec_id") % 7 != 3)
    return similarity.ann_compact_index(
        replayed, live_ids=live, max_bucket=12
    )


def q_ann_compact_relative(spark, sf):
    """Scale-relative compaction (r9, VERDICT #4 follow-up): the same
    replayed/tombstoned index compacted under rel_max_bucket=2.0
    (keep sz <= ceil(2 x mean bucket size)) instead of the absolute
    cap — a grown corpus drops only genuinely hot cells instead of
    emptying the index (the absolute cap's 20x cliff)."""
    e = _t(spark, sf)["embeddings"]
    planes = similarity.pivot_lsh_planes(e)
    idx = similarity.pivot_lsh_index(e, planes)
    replayed = idx.unionByName(idx.where(F.col("vec_id") % 3 == 0))
    live = e.where(F.col("vec_id") % 7 != 3)
    return similarity.ann_compact_index(
        replayed, live_ids=live, rel_max_bucket=2.0
    )


def q_ann_index_bucket_profile(spark, sf):
    """ANN index health report (r8): bucket-count stats plus
    expected_candidates (size-biased mean bucket Σsz²/N — the
    per-probe rerank cost a random query actually feels) over the
    merged stale-plane index, cap 12."""
    e, old, new = _ann_corpus_split(spark, sf)
    planes = similarity.pivot_lsh_planes(old)
    merged = similarity.ann_merge_into_index(
        similarity.pivot_lsh_index(old, planes), new, planes
    )
    return similarity.ann_index_profile(merged, max_bucket=12)


def q_ann_incremental_pipeline(spark, sf):
    """The ANN ingest lifecycle as one audited composite (r8):
    screen (in-bucket cosine >= 0.98 vs the frozen index — the five
    exact clones must flag), merge survivors, compact (cap 12); one
    row per stage."""
    e, old, new = _ann_corpus_split(spark, sf)
    return similarity.ann_incremental_summary(
        old, new, sim_threshold=0.98, max_bucket=12
    )


def q_ann_recall_after_merge(spark, sf):
    """Recall price of NOT re-indexing (r8): pivot-LSH search over
    the grown corpus with the STALE plane family (planes_from = the
    pre-merge corpus) against the exact top-5 — read together with
    ann_index_merge_cert, which counts the same staleness in moved
    buckets."""
    e, old, _ = _ann_corpus_split(spark, sf)
    q = e.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, q, k=5)
    approx = similarity.pivot_lsh_ann(
        e, q, k=5, n_planes=6, probes=1, planes_from=old
    )
    return _recall_certificate(exact, approx, 5)


def _snapshot_b(e):
    """Snapshot B for the drift/diff pair: drop vec_id % 10 == 7
    (removals), bump label for vec_id % 10 == 3 (changes), add five
    re-keyed clones of vec_id < 5 (additions)."""
    kept = e.where(F.col("vec_id") % 10 != 7).withColumn(
        "label",
        F.when(
            F.col("vec_id") % 10 == 3, F.col("label") + F.lit(1)
        ).otherwise(F.col("label")),
    )
    added = e.where(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    return kept.unionByName(added)


def q_embedding_snapshot_diff(spark, sf):
    """Row-level snapshot diff (r8): embeddings vs a second snapshot
    with removals / label changes / additions — added, removed,
    changed, unchanged id counts via one full-outer id join with
    null-safe column comparison (arrays compared element-for-element,
    no hashing)."""
    e = _t(spark, sf)["embeddings"]
    d = sink_ops.snapshot_diff(e, _snapshot_b(e), "vec_id")
    return d.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ids")
    )


def q_embedding_snapshot_drift(spark, sf):
    """Cross-snapshot embedding-drift certificate (r8): per label,
    both counts, centroid cosine, l2 shift, mean norms and the
    drifted verdict (floor 0.9) — the bumped label exists only in
    snapshot B, covering the one-sided-group path (n=0, drifted by
    definition)."""
    e = _t(spark, sf)["embeddings"]
    return similarity.snapshot_drift_certificate(
        e, _snapshot_b(e), "label", "embedding", cos_floor=0.9
    )


def q_ann_reindex_sweep(spark, sf):
    """Re-index pressure sweep (r8 late): merge-cert drift rows at
    three ingest shares (ids below 5 / 25 / 100 arriving after the
    family froze on the rest) — the when-to-rebuild curve; the knob
    sweep the single certificate can't answer."""
    e = _t(spark, sf)["embeddings"]
    return similarity.ann_reindex_pressure_sweep(
        e,
        [
            ("ingest_005", F.col("vec_id") < 5),
            ("ingest_025", F.col("vec_id") < 25),
            ("ingest_100", F.col("vec_id") < 100),
        ],
    )


def q_document_snapshot_diff(spark, sf):
    """Snapshot diff on the TEXT table (r8 late): documents vs a
    revision with drops (doc_id%13==5), text edits (%13==2), source
    renames (%13==9) and five re-keyed additions — per-status id
    counts; string/scalar columns compared null-safely, same operator
    as the embedding twin."""
    d = _t(spark, sf)["documents"]
    kept = (
        d.where(F.col("doc_id") % 13 != 5)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 13 == 2,
                F.concat(F.col("text"), F.lit(" [rev2]")),
            ).otherwise(F.col("text")),
        )
        .withColumn(
            "source",
            F.when(
                F.col("doc_id") % 13 == 9,
                F.concat(F.col("source"), F.lit("-v2")),
            ).otherwise(F.col("source")),
        )
    )
    added = d.where(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    diff = sink_ops.snapshot_diff(d, kept.unionByName(added), "doc_id")
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ids")
    )


def q_linkage_incremental(spark, sf):
    """Incremental entity resolution (r8 late): a new supplier batch
    (every 4th key) blocked and FS-scored against the customer
    registry only — matched records attach to known entities,
    unmatched open new ones; 7-stage ingest audit (the linkage member
    of the incremental-lifecycle triple)."""
    t = _t(spark, sf)
    c = t["customer"].select(
        F.col("c_custkey").alias("l_id"),
        F.col("c_nationkey").alias("l_nation"),
        F.col("c_acctbal").alias("l_bal"),
    )
    s_new = (
        t["supplier"]
        .where(F.col("s_suppkey") % 4 == 0)
        .select(
            F.col("s_suppkey").alias("r_id"),
            F.col("s_nationkey").alias("r_nation"),
            F.col("s_acctbal").alias("r_bal"),
        )
    )
    return linkage.fs_incremental_summary(c, s_new, threshold=5.0)


def q_ann_planes_sweep(spark, sf):
    """Rebuild-sizing table (r8 late): the index profile at 4/6/8
    hash planes with cap 12 — how many planes the corpus needs before
    bucket occupancy and the size-biased rerank cost drop under
    budget (the planner the compaction contract points at)."""
    e = _t(spark, sf)["embeddings"]
    return similarity.ann_planes_sweep(e, (4, 6, 8), max_bucket=12)


def q_stream_kmv_resume(spark, sf):
    """Streaming KMV checkpoint-RESUME certificate (r8 late): the
    second resume-family member — CMS pins counter-array state, this
    pins arg-min KEY state ((hashes, keys) arrays); bottom-k of
    (restored bottom-k ∪ new) equals bottom-k of everything, so the
    final per-type emission must equal the batch KMV estimate."""
    e = _t(spark, sf)["events"]
    return serve.kmv_resume_certificate(
        spark, e, "event_type", "user_id", k=32, seed=7
    )


def q_mixture_after_dedup(spark, sf):
    """Dedup-aware mixture retempering (r8 late): per source, token
    mass and tempered weight before vs after within-domain exact
    dedup on a corpus carrying planted clones (doc_id % 7 re-keyed)
    — the weight-shift table a curation pass reads after dedup
    invalidates the raw mixture."""
    d = _t(spark, sf)["documents"]
    clones = d.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(500000)
    )
    return curate_ops.mixture_after_dedup(
        d.unionByName(clones), "source", "text", alpha=0.7
    )


def q_stream_bloom_resume(spark, sf):
    """Streaming Bloom-build checkpoint-RESUME certificate (r8 late):
    the fourth resume-family member — set-BIT state; the final
    per-type position set must equal the batch bloom_build position
    table (all-integer, like the HLL twin)."""
    e = _t(spark, sf)["events"]
    return serve.bloom_resume_certificate(
        spark, e, "event_type", "user_id", m_bits=512, k_hashes=3, seed=5
    )


def q_contamination_by_source(spark, sf):
    """Benchmark-contamination rate table (r8 late): eval set =
    doc_id % 11 == 3, corpus = the rest; per-source doc- and
    gram-level contamination rates (the GPT-3 appendix-C number at
    the grain a curation review reads)."""
    d = _t(spark, sf)["documents"]
    bench = d.where(F.col("doc_id") % 11 == 3)
    corpus = d.where(F.col("doc_id") % 11 != 3)
    return dedup.contamination_rate_by_source(
        corpus, "doc_id", "text", "source", bench, "text", n=3
    )


def q_dsir_topk_by_source(spark, sf):
    """DSIR per-source top-k selection accounting (r8 late): the
    resampling half of text_dsir_weights — keep the 10 most
    target-like docs per source, report kept-vs-all mean weight (the
    tilt) and the cut weight; per-source capping is both the
    anti-monopoly policy and the scale-correct rank-window shape."""
    d = _t(spark, sf)["documents"]
    return text_ops.dsir_topk_by_source(
        d, "doc_id", "text", "source", F.col("source") == "src0", k=10
    )


def q_shard_manifest(spark, sf):
    """Per-shard publication manifest (r8 late): events distributed
    into 16 md5 shards on event_id, each with a row count and an
    order-independent 31-bit content checksum over the integer/string
    payload — the shard-grain dataset_fingerprint a distributed
    writer publishes for downstream verification."""
    e = _t(spark, sf)["events"]
    return sink_ops.shard_manifest(
        e, "event_id", 16, content_cols=["event_id", "user_id",
                                         "event_type"]
    )


def q_stream_hll_resume(spark, sf):
    """Streaming HLL checkpoint-RESUME certificate (r8 late): the
    third resume-family member — register MAXIMA state; the emitted
    register table is ALL-INTEGER, so the oracle comparison carries
    zero float discipline."""
    e = _t(spark, sf)["events"]
    return serve.hll_resume_certificate(
        spark, e, "event_type", "user_id", m=64, seed=13
    )


def q_stream_cms_resume(spark, sf):
    """Streaming CMS checkpoint-RESUME certificate (r8): the input
    split into two slices fed in two SEPARATE availableNow runs
    against one checkpoint — run 2 restores its counter arrays from
    the state store exactly as a production restart does — and the
    final cells must equal the batch cms_build over the whole input
    (CMS cells are order/batching-independent, so the oracle is the
    plain batch sketch SQL).  First streaming key under the
    exact-hash oracle gate."""
    e = _t(spark, sf)["events"]
    return serve.cms_resume_certificate(spark, e, "user_id", width=64)


# --- round 9: multimodal mechanics — the oracle tier of the image/
# video/audio pillar (fuel/transformers/image.py:18,105,178,274;
# defaults.py) over deterministic integer fixtures (ops/pixels.py) ---


def _doc_src(spark, sf):
    """documents (doc_id, source) — the join side every per-source
    multimodal reduction shares."""
    return _t(spark, sf)["documents"].select(
        F.col("doc_id").alias("id"), "source"
    )


def _px(spark, sf):
    """The standing synthetic image fixture: one 3x8x8 byte grid per
    document, pixels md5-derived from (doc_id, c, y, x)."""
    d = _t(spark, sf)["documents"]
    return pixels.synth_pixel_table(d, "doc_id")


def _px_with_clones(spark, sf):
    """Near-dup image fixture: every document's grid plus five EXACT
    pixel clones (ids doc_id+10,000,000 for doc_id < 5, content keyed
    by the BASE id) — the rows the hash/dedup stages must catch."""
    d = _t(spark, sf)["documents"].select("doc_id")
    base = d.select(
        F.col("doc_id").alias("id"), F.col("doc_id").alias("k")
    )
    clones = d.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("id"),
        F.col("doc_id").alias("k"),
    )
    return pixels.synth_pixel_table(
        base.unionByName(clones), "id", content_col="k"
    )


def q_image_pixel_stats(spark, sf):
    """Per (source, channel) pixel summary over the synthetic grids:
    n/min/max, exact-rational round6 mean brightness, and the
    position-weighted checksum — the per-shard "is one crawl shard
    color-shifted" table, and the first exact-hash driver row the
    multimodal pillar ever had."""
    j = _px(spark, sf).join(_doc_src(spark, sf), "id")
    return pixels.pixel_stats(j, ["source", "c"], w=8).withColumn(
        "c", F.col("c").cast("bigint")
    )


def q_image_phash_wht(spark, sf):
    """64-bit perceptual hash per image: sign bits of the 2-D
    Walsh-Hadamard transform (the +-1 INTEGER basis — exact on both
    engines where DCT cosines are not), packed as two 32-bit words.
    Separable evaluation, never the naive 4096-term cross join."""
    return pixels.wht_sign_hash(_px(spark, sf))


def q_image_phash_neardup(spark, sf):
    """Near-duplicate image pairs by banded pHash blocking (4 bands x
    16 bits, LSH discipline — candidates are band collisions, never
    all pairs) verified with exact popcount hamming <= 6: exactly the
    five injected pixel-clone pairs at hamming 0."""
    return pixels.phash_band_pairs(
        pixels.wht_sign_hash(_px_with_clones(spark, sf)), max_hamming=6
    )


def q_image_crop_stats(spark, sf):
    """Center-crop mechanics certificate: the 4x4 window at (2,2)
    re-indexed to its own origin (RandomFixedSizeCrop's deterministic
    core, image.py:178), summarized per (source, channel) with the
    position-weighted checksum of the CROPPED coordinates."""
    cropped = pixels.crop(_px(spark, sf), 2, 2, 4, 4)
    j = cropped.join(_doc_src(spark, sf), "id")
    return pixels.pixel_stats(j, ["source", "c"], w=4).withColumn(
        "c", F.col("c").cast("bigint")
    )


def q_image_geometry_cert(spark, sf):
    """Rotation/flip mechanics certificate (Random2DRotation's
    exact-integer core, image.py:274): per (source, channel), the
    checksum of the original grid, after one 90-degree rotation, and
    after a horizontal flip — plus the two identity laws (rotate x4
    == id, flip x2 == id) as booleans the oracle re-derives."""
    # consumed 5x by the certificate branches: measured 25.7s -> ~5s
    # at the 20x tier
    px = materialize(_px(spark, sf).join(_doc_src(spark, sf), "id"))

    def chk(frame, name):
        return frame.groupBy(
            "source", F.col("c").cast("bigint").alias("c")
        ).agg(pixels.pixel_checksum(8).alias(name))

    r1 = pixels.rotate90(px, 8)
    r4 = pixels.rotate90(
        pixels.rotate90(pixels.rotate90(r1, 8), 8), 8
    )
    f1 = pixels.flip_h(px, 8)
    f2 = pixels.flip_h(f1, 8)
    out = (
        chk(px, "chk_orig")
        .join(chk(r1, "chk_rot1"), ["source", "c"])
        .join(chk(r4, "chk_rot4"), ["source", "c"])
        .join(chk(f1, "chk_flip"), ["source", "c"])
        .join(chk(f2, "chk_flip2"), ["source", "c"])
    )
    return out.select(
        "source", "c", "chk_orig", "chk_rot1", "chk_flip",
        (F.col("chk_rot4") == F.col("chk_orig")).alias("rot4_identity"),
        (F.col("chk_flip2") == F.col("chk_orig")).alias("flip2_identity"),
    )


def q_image_downsample_box(spark, sf):
    """2x box-downsample mechanics (the resize path's exact-integer
    core, image.py:105): per (source, channel) stats of the 4x4
    downsampled grids — floor block means, portable by the
    non-negative-operand contract."""
    ds = pixels.downsample_box(_px(spark, sf), 2)
    j = ds.join(_doc_src(spark, sf), "id")
    return pixels.pixel_stats(j, ["source", "c"], w=4).withColumn(
        "c", F.col("c").cast("bigint")
    )


def q_image_patch_means(spark, sf):
    """ViT-style patch extraction: 4x4 patches tile each grid into a
    2x2 patch grid; per (channel, patch_y, patch_x) the corpus-wide
    exact-rational mean — the patch-statistics table a vision
    pre-training pipeline normalizes with."""
    pt = pixels.patchify(_px(spark, sf), 4, 4)
    return pt.groupBy(
        F.col("c").cast("bigint").alias("c"),
        F.col("patch_y").cast("bigint").alias("patch_y"),
        F.col("patch_x").cast("bigint").alias("patch_x"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_px"),
        round6_ratio(
            F.sum(F.col("v").cast("decimal(27,6)")), F.count(F.lit(1))
        ).alias("v_mean"),
    )


def q_image_dedup_exact(spark, sf):
    """Exact image dedup over canonical pixel signatures (the image
    twin of exact text dedup): md5 of the (c,y,x)-ordered value
    string; with the five injected clones the corpus shows exactly 5
    duplicate images across 5 signature groups."""
    sigs = pixels.image_signatures(_px_with_clones(spark, sf))
    per_sig = sigs.groupBy("img_sig").agg(
        F.count(F.lit(1)).alias("n_ids")
    )
    return per_sig.agg(
        F.count(F.lit(1)).cast("long").alias("n_sigs"),
        F.sum("n_ids").cast("long").alias("n_images"),
        F.sum(F.when(F.col("n_ids") > 1, F.col("n_ids") - 1).otherwise(0))
        .cast("long").alias("n_dup_images"),
        F.sum(F.when(F.col("n_ids") > 1, 1).otherwise(0))
        .cast("long").alias("n_dup_groups"),
    )


def q_video_frame_stride(spark, sf):
    """Strided frame sampling (frame_sample's mechanics,
    ops/multimodal.py:309) over the synthetic 12-frame clips: every
    3rd frame, per source: sampled-frame count and the
    (frame, position)-weighted checksum."""
    ft = pixels.frame_stride(
        pixels.synth_frame_table(_t(spark, sf)["documents"]), 3
    )
    j = ft.join(_doc_src(spark, sf), "id")
    return j.groupBy("source").agg(
        F.count_distinct(F.col("id"), F.col("f")).cast("long")
        .alias("n_frames"),
        F.sum(
            F.col("v").cast("long") * (F.col("x") + 1) * (F.col("f") + 1)
        ).cast("long").alias("checksum"),
    )


def q_video_temporal_diff(spark, sf):
    """Scene-change signal: mean |frame-to-frame| pixel delta per
    source over consecutive frames (lag over (id, x) ordered by f) —
    all-integer sums under the exact-rational mean."""
    ft = pixels.synth_frame_table(_t(spark, sf)["documents"])
    wspec = Window.partitionBy("id", "x").orderBy("f")
    d = ft.withColumn("_prev", F.lag("v").over(wspec)).where(
        F.col("_prev").isNotNull()
    ).withColumn("_ad", F.abs(F.col("v") - F.col("_prev")))
    j = d.join(_doc_src(spark, sf), "id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_diffs"),
        round6_ratio(
            F.sum(F.col("_ad").cast("decimal(27,6)")), F.count(F.lit(1))
        ).alias("mean_abs_diff"),
    )


def q_audio_decimate(spark, sf):
    """4x decimation with exact integer boxcar means over the
    synthetic 256-sample waveforms: per source, output-sample count,
    exact-rational mean level, and the position-weighted checksum."""
    dw = pixels.decimate_wave(
        pixels.synth_wave_table(_t(spark, sf)["documents"]), 4
    )
    j = dw.join(_doc_src(spark, sf), "id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_out"),
        round6_ratio(
            F.sum(F.col("v").cast("decimal(27,6)")), F.count(F.lit(1))
        ).alias("v_mean"),
        F.sum(F.col("v") * (F.col("u").cast("long") + 1)).cast("long")
        .alias("checksum"),
    )


def q_audio_level_hist(spark, sf):
    """Loudness histogram: per clip the mean-square energy around the
    32768 midpoint bucketed into 8 integer levels (level = 8*sum_sq
    DIV (n*32768^2) — pure integer, no float in sight), counted per
    (source, level)."""
    wt = pixels.synth_wave_table(_t(spark, sf)["documents"])
    sq = (F.col("v").cast("long") - 32768) * (F.col("v").cast("long") - 32768)
    num = F.col("_ss") * 8
    den = F.col("_n") * F.lit(1073741824)
    per = wt.groupBy("id").agg(
        F.sum(sq).alias("_ss"), F.count(F.lit(1)).alias("_n")
    ).select(
        "id",
        # exact integer floor division (floor(double/) can flip vs
        # DuckDB's // at integer boundaries): (num - num%den)/den is
        # a multiple of den, so the fp division is exact
        ((num - F.pmod(num, den)) / den).cast("bigint").alias("level"),
    )
    j = per.join(_doc_src(spark, sf), "id")
    return j.groupBy("source", "level").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def q_audio_silence_clipping(spark, sf):
    """Silence / clipping screen per source: sample counts with
    |v - 32768| < 8192 (silence) and v outside [256, 65280)
    (clipping), with exact-rational rates — the drop-the-broken-clip
    filter of an audio curation funnel."""
    wt = pixels.synth_wave_table(_t(spark, sf)["documents"])
    silent = (
        F.abs(F.col("v").cast("long") - 32768) < 8192
    ).cast("long")
    clipped = (
        (F.col("v") < 256) | (F.col("v") >= 65280)
    ).cast("long")
    j = wt.join(_doc_src(spark, sf), "id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum(silent).cast("long").alias("n_silent"),
        F.sum(clipped).cast("long").alias("n_clipped"),
        round6_ratio(
            F.sum(silent.cast("decimal(27,6)")), F.count(F.lit(1))
        ).alias("silent_ratio"),
        round6_ratio(
            F.sum(clipped.cast("decimal(27,6)")), F.count(F.lit(1))
        ).alias("clipped_ratio"),
    )


# --- round 9: catalog profiling — the pre-training data-quality
# audit tier (ops/profile.py r9 section) -----------------------------


def q_profile_top_values(spark, sf):
    """Top-3 frequent values per categorical column across the
    catalog (lineitem/orders/events), deterministic tie-break — the
    catalog card every curation decision starts from."""
    t = _t(spark, sf)
    out = profile_ops.top_values(
        t["lineitem"], ["l_returnflag", "l_linestatus", "l_shipdate"],
        k=3, table="lineitem",
    )
    out = out.unionByName(profile_ops.top_values(
        t["orders"], ["o_orderstatus", "o_orderpriority"], k=3,
        table="orders",
    ))
    return out.unionByName(profile_ops.top_values(
        t["events"], ["event_type"], k=3, table="events",
    ))


def q_profile_fd_audit(spark, sf):
    """Functional-dependency audit: which unit-of-grain contracts
    hold (doc_id -> source must; l_orderkey -> l_shipdate must NOT —
    an order ships over multiple dates) — the assumption check before
    any groupBy treats a key as a grain."""
    t = _t(spark, sf)
    out = profile_ops.fd_violations(
        t["lineitem"],
        [("li_orderkey_to_shipdate", "l_orderkey", "l_shipdate"),
         ("li_orderkey_to_suppkey", "l_orderkey", "l_suppkey")],
        table="lineitem",
    )
    out = out.unionByName(profile_ops.fd_violations(
        t["orders"],
        [("ord_custkey_to_priority", "o_custkey", "o_orderpriority")],
        table="orders",
    ))
    return out.unionByName(profile_ops.fd_violations(
        t["documents"], [("doc_id_to_source", "doc_id", "source")],
        table="documents",
    ))


def q_profile_duplicate_rows(spark, sf):
    """Exact duplicate census per table over its natural grain — the
    exact-dedup savings estimate read table-by-table (PK grains must
    read 0; the documents text grain reads the raw clone mass)."""
    t = _t(spark, sf)
    out = profile_ops.duplicate_row_stats(
        t["lineitem"], ["l_orderkey", "l_linenumber"], "lineitem"
    )
    out = out.unionByName(profile_ops.duplicate_row_stats(
        t["events"], ["user_id", "ts", "event_type"], "events"
    ))
    return out.unionByName(profile_ops.duplicate_row_stats(
        t["documents"], ["text"], "documents"
    ))


def q_profile_iqr_outliers(spark, sf):
    """Tukey-fence outlier census for the two revenue columns with
    EXACT rank quartiles off the value-grid cumulative window (the
    KS/midrank family — no row-grain global sort) and exact-decimal
    fences."""
    t = _t(spark, sf)
    out = profile_ops.iqr_outlier_stats(t["lineitem"], "l_extendedprice")
    return out.unionByName(
        profile_ops.iqr_outlier_stats(t["orders"], "o_totalprice")
    )


def q_profile_modal_coverage(spark, sf):
    """Cross-modal id coverage: documents vs embeddings — ids in both
    / text without vectors (the re-embed backlog) / vectors without
    text (the takedown backlog).  One full-outer id join."""
    t = _t(spark, sf)
    return profile_ops.modal_coverage(
        t["documents"], "doc_id", t["embeddings"], "vec_id"
    )


def q_profile_date_coverage(spark, sf):
    """Calendar coverage per time-bearing table: min/max day, days
    present, span, and gap days — the is-this-extract-complete header
    row."""
    t = _t(spark, sf)
    out = profile_ops.date_coverage(t["orders"], "o_orderdate", "orders")
    return out.unionByName(
        profile_ops.date_coverage(t["events"], "ts", "events")
    )


def q_profile_categorical_entropy(spark, sf):
    """Shannon entropy (bits) per categorical column — the diversity
    number beside the top-values card; per-value -p*ln(p) terms
    round(9) into DECIMAL (the LLR/MI contract), a shared ln(2)
    literal on both engines."""
    t = _t(spark, sf)
    out = profile_ops.categorical_entropy(
        t["lineitem"], ["l_returnflag", "l_linestatus"], "lineitem"
    )
    out = out.unionByName(profile_ops.categorical_entropy(
        t["documents"], ["lang", "source"], "documents"
    ))
    return out.unionByName(profile_ops.categorical_entropy(
        t["events"], ["event_type"], "events"
    ))


def q_profile_constancy(spark, sf):
    """Near-constant-column detector: top-value share per column with
    the exact-rational ratio — a >= 0.99 share means the column
    carries ~no signal (drop candidate before feature selection)."""
    t = _t(spark, sf)
    out = profile_ops.constancy(
        t["lineitem"], ["l_returnflag", "l_linestatus"], "lineitem"
    )
    return out.unionByName(profile_ops.constancy(
        t["documents"], ["lang"], "documents"
    ))


# --- round 9: training-order certificates (schemes.py r9 section —
# the analysis tier over fuel/schemes.py:195's iteration schemes) ----

ILV_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def q_order_epoch_overlap(spark, sf):
    """Per-epoch reshuffle decorrelation certificate: first-decile
    id overlap between two seeded epoch orders vs the independent-
    permutation expectation, plus the mean position displacement —
    a broken epoch seed reads overlap_rate 1.0."""
    d = _t(spark, sf)["documents"]
    return schemes.epoch_overlap_certificate(d, "doc_id", (7, 8), 10)


def q_order_seed_overlap_sweep(spark, sf):
    """The pairwise overlap table across seeds 7/8/9 — the seed-
    schedule health sweep (every pair should sit near k/n)."""
    d = _t(spark, sf)["documents"]
    return schemes.seed_overlap_sweep(d, "doc_id", (7, 8, 9), 10)


def q_order_batch_mix(spark, sf):
    """Batch mixedness histogram: distinct sources per 25-example
    shuffled batch — a clumpy order piles batches at low counts."""
    d = _t(spark, sf)["documents"]
    return schemes.batch_mix_histogram(d, "doc_id", "source", 25, 7)


def q_order_position_decorrelation(spark, sf):
    """Exact integer Spearman between ingest order (doc_id rank) and
    the shuffled order — the shuffle's whole job is rho ~ 0; rank
    moments accumulate in DECIMAL(38,0) (exact beyond 2^53)."""
    d = _t(spark, sf)["documents"]
    return schemes.position_decorrelation(d, "doc_id", 7)


def q_order_stride_coverage(spark, sf):
    """Strided-subsample audit: every 7th position of the shuffled
    order — per-source sampled share vs corpus share (the cheap-epoch
    sampler must not skew the mixture)."""
    d = _t(spark, sf)["documents"]
    return schemes.stride_coverage(d, "doc_id", "source", 7, 7)


def q_order_epoch_batch_churn(spark, sf):
    """Co-batch persistence between two epoch reshuffles: |batch_a -
    batch_b| bucketed — per-epoch reshuffles exist to break gradient
    correlation, and this is the number that says they did."""
    d = _t(spark, sf)["documents"]
    return schemes.epoch_batch_churn(d, "doc_id", 25, (7, 8))


def q_order_worker_token_balance(spark, sf):
    """Shard balance by TOKEN mass, not row count: 8 hash-assigned
    workers weighed by n_chars with the exact-rational skew ratio —
    the row-balanced shard that is 3x heavier in payload is the real
    straggler."""
    d = _t(spark, sf)["documents"]
    return schemes.worker_token_balance(
        d, "doc_id", F.col("n_chars"), 8, 5
    )


def q_order_interleave_proportionality(spark, sf):
    """Smooth-interleave prefix certificate: at prefixes 50/100/200
    of the global order, per-source actual count vs the proportional
    target — smooth weighted round-robin holds proportions at EVERY
    prefix where a sampled mixture only converges in expectation."""
    d = _t(spark, sf)["documents"]
    return schemes.interleave_prefix_proportionality(
        d, "doc_id", "source", ILV_WEIGHTS, (50, 100, 200), 42
    )


# --- round 9 late: histogram/scene/peak multimodal extensions, PII
# density, curriculum stability, resume mix, row width, the image
# dedup composite, and the decimate-cascade certificate --------------


def q_image_histogram16(spark, sf):
    """Corpus brightness histogram: pixel counts per (channel,
    16-wide value bin) — the channel-balance read before
    normalization."""
    return pixels.pixel_histogram(_px(spark, sf), 16)


def q_video_scene_cuts(spark, sf):
    """Scene-cut census per source: transitions whose summed absolute
    pixel delta exceeds the integer threshold (sum > 1360 = mean
    delta > 85 at 16 px/frame) — the shot-boundary signal, all
    integer."""
    ft = pixels.synth_frame_table(_t(spark, sf)["documents"])
    cuts = pixels.frame_scene_cuts(ft, 1360)
    j = cuts.join(_doc_src(spark, sf), "id")
    return j.groupBy("source").agg(
        F.sum("n_transitions").cast("long").alias("n_transitions"),
        F.sum("n_cuts").cast("long").alias("n_cuts"),
        round6_ratio(
            F.sum(F.col("n_cuts").cast("decimal(27,6)")),
            F.sum("n_transitions"),
        ).alias("cut_rate"),
    )


def q_audio_peak_windows(spark, sf):
    """Clipping-burst localization per source: 32-sample windows
    whose max sample reaches 65000 — the windowed twin of the corpus
    clipping rate."""
    wt = pixels.synth_wave_table(_t(spark, sf)["documents"])
    pk = pixels.peak_windows(wt, 32, 65000)
    j = pk.join(_doc_src(spark, sf), "id")
    return j.groupBy("source").agg(
        F.sum("n_windows").cast("long").alias("n_windows"),
        F.sum("n_peak").cast("long").alias("n_peak"),
        round6_ratio(
            F.sum(F.col("n_peak").cast("decimal(27,6)")),
            F.sum("n_windows"),
        ).alias("peak_rate"),
    )


def q_text_pii_by_source(spark, sf):
    """PII density per source over the injected fixture: docs
    carrying PII, per-type hit totals, and hits per 1000 chars — the
    which-crawl-shard-needs-scrubbing table (redact_pii's mechanics
    aggregated to the curation grain)."""
    d = _inject_pii(
        _t(spark, sf)["documents"].select("doc_id", "text", "source")
    )
    r = text_ops.redact_pii(d, "text")
    hits = F.col("n_email") + F.col("n_phone") + F.col("n_ipv4")
    return r.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(hits > 0, 1).otherwise(0)).cast("long")
        .alias("n_docs_with_pii"),
        F.sum("n_email").cast("long").alias("n_email"),
        F.sum("n_phone").cast("long").alias("n_phone"),
        F.sum("n_ipv4").cast("long").alias("n_ipv4"),
        round6_ratio(
            F.sum((hits * 1000).cast("decimal(27,6)")),
            F.sum(F.length("text")),
        ).alias("pii_per_kchar"),
    )


def q_order_curriculum_stability(spark, sf):
    """The curriculum-vs-shuffle contrast certificate: across
    tie-break seeds, a curriculum's first decile is pinned by the
    difficulty ramp (overlap ~1.0) while the pure shuffle's reads
    ~0.1 — proof the difficulty ordering dominates the seed."""
    d = _t(spark, sf)["documents"]
    return schemes.curriculum_stability_certificate(
        d, "doc_id", "n_chars", (7, 8), 10
    )


def q_order_resume_tail_mix(spark, sf):
    """Mid-epoch resume audit: restarting at pos >= n//2, the
    remaining half's per-source mix vs the corpus mix — a shuffled
    order must preserve it."""
    d = _t(spark, sf)["documents"]
    return schemes.resume_tail_mix(d, "doc_id", "source", 7)


def q_profile_row_width(spark, sf):
    """Row-width header per table: exact-rational mean and total of
    the per-row byte estimate (string lengths + fixed numeric widths)
    — the partition-size planning input beside file_layout_planner."""
    t = _t(spark, sf)
    docs = profile_ops.row_width_estimate(
        t["documents"],
        F.length("text") + F.length("lang") + F.length("source")
        + F.lit(16),
        "documents",
    )
    orders = profile_ops.row_width_estimate(
        t["orders"],
        F.length(F.col("o_orderstatus"))
        + F.length(F.col("o_orderpriority")) + F.lit(28),
        "orders",
    )
    return docs.unionByName(orders)


def q_image_dedup_pipeline(spark, sf):
    """The image ingest-dedup lifecycle as one audited composite (the
    incremental_dedup / ANN-ingest convention): exact-signature
    census, banded near-dup pair count, and the kept-image count —
    one row per stage."""
    # two branches replay the synth generator (narrow md5 projection,
    # cheaper to recompute than to materialize 19M checkpointed rows
    # at the 20x tier: 91s -> ~14s without the checkpoint)
    px = _px_with_clones(spark, sf)
    sigs = pixels.image_signatures(px)
    per_sig = sigs.groupBy("img_sig").agg(
        F.count(F.lit(1)).alias("n_ids")
    )
    exact = per_sig.agg(
        F.sum("n_ids").cast("long").alias("n_images"),
        F.sum(F.when(F.col("n_ids") > 1, F.col("n_ids") - 1).otherwise(0))
        .cast("long").alias("n_exact_dups"),
    )
    pairs = pixels.phash_band_pairs(
        pixels.wht_sign_hash(px), max_hamming=6
    ).agg(F.count(F.lit(1)).cast("long").alias("n_near_pairs"))
    st = exact.crossJoin(F.broadcast(pairs))
    return st.select(
        F.explode(
            F.array(
                F.struct(F.lit("images").alias("stage"),
                         F.col("n_images").alias("n")),
                F.struct(F.lit("exact_dups").alias("stage"),
                         F.col("n_exact_dups").alias("n")),
                F.struct(F.lit("near_dup_pairs").alias("stage"),
                         F.col("n_near_pairs").alias("n")),
                F.struct(F.lit("kept").alias("stage"),
                         (F.col("n_images") - F.col("n_exact_dups"))
                         .alias("n")),
            )
        ).alias("s")
    ).select("s.stage", F.col("s.n").cast("long").alias("n"))


def q_audio_decimate_cascade(spark, sf):
    """Floor-mean non-associativity certificate: decimating 2x twice
    vs 4x once agree only where the intermediate floors lose nothing
    — per source, the cell agreement count and the max divergence
    (bounded by 1, which the oracle re-derives).  The knob-order
    caution for any integer resample chain."""
    # same recompute-beats-materialize call as image_dedup_pipeline:
    # the wave generator is a narrow md5 projection
    wt = pixels.synth_wave_table(_t(spark, sf)["documents"])
    twice = pixels.decimate_wave(
        pixels.decimate_wave(wt, 2).withColumnRenamed("u", "t"), 2
    ).withColumnRenamed("v", "v2")
    once = pixels.decimate_wave(wt, 4).withColumnRenamed("v", "v4")
    j = twice.join(once, ["id", "u"]).join(_doc_src(spark, sf), "id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(F.when(F.col("v2") == F.col("v4"), 1).otherwise(0))
        .cast("long").alias("n_agree"),
        F.max(F.abs(F.col("v2") - F.col("v4"))).cast("long")
        .alias("max_abs_diff"),
    )


# --- round 9 epilogue (r11 seeds): image planning metadata tier,
# catalog moments, and the order/text novelty composition ------------


def q_image_min_dims_screen(spark, sf):
    """MinimumImageDimensions' planning half (image.py:105): per
    source, how many synthetic-metadata images fail the 16x16 floor,
    on which axes, the worst integer upscale factor, and the pass
    rate — the per-shard resize bill BEFORE any decode runs."""
    meta = pixels.synth_image_meta(_t(spark, sf)["documents"])
    scr = pixels.min_dims_screen(meta, 16, 16)
    j = scr.join(_doc_src(spark, sf), "id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.sum(F.when(~F.col("pass_dims"), 1).otherwise(0))
        .cast("long").alias("n_fail"),
        F.sum(F.when(F.col("fail_h"), 1).otherwise(0))
        .cast("long").alias("n_fail_h"),
        F.sum(F.when(F.col("fail_w"), 1).otherwise(0))
        .cast("long").alias("n_fail_w"),
        F.max("upscale_num").cast("long").alias("max_upscale"),
        round6_ratio(
            F.sum(F.when(F.col("pass_dims"), 1).otherwise(0))
            .cast("decimal(27,6)"),
            F.count(F.lit(1)),
        ).alias("pass_rate"),
    )


def q_image_aspect_buckets(spark, sf):
    """Aspect-ratio census: per (source, class) counts with the
    integer w*100 DIV h ratio bucketed tall/square/wide — the
    crop-strategy planning table (a wide-heavy shard wants a
    different RandomFixedSizeCrop setting)."""
    meta = pixels.synth_image_meta(_t(spark, sf)["documents"])
    a = F.col("w") * 100
    ratio = ((a - F.pmod(a, F.col("h"))) / F.col("h")).cast("long")
    cls = (
        F.when(ratio < 75, F.lit("tall"))
        .when(ratio <= 133, F.lit("square"))
        .otherwise(F.lit("wide"))
    )
    j = meta.select("id", cls.alias("aspect_class")).join(
        _doc_src(spark, sf), "id"
    )
    return j.groupBy("source", "aspect_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_images")
    )


def q_image_bytes_estimate(spark, sf):
    """Decode-memory bill per source: sum and exact-rational mean of
    c*h*w over the metadata tier — the executor-memory sizing input
    for the Arrow decode batches (ops/multimodal.py's batch shape)."""
    meta = pixels.synth_image_meta(_t(spark, sf)["documents"])
    px_bytes = (F.col("c") * F.col("h") * F.col("w")).cast("long")
    j = meta.select("id", px_bytes.alias("_b")).join(
        _doc_src(spark, sf), "id"
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.sum("_b").cast("long").alias("total_bytes"),
        round6_ratio(
            F.sum(F.col("_b").cast("decimal(27,6)")), F.count(F.lit(1))
        ).alias("mean_bytes"),
    )


def q_profile_numeric_moments(spark, sf):
    """Shape screen per numeric column: skewness / excess kurtosis
    from decimal-exact raw moments (the events_jarque_bera contract
    at catalog grain) — a heavy right tail says winsorize or log
    before any z-score rule."""
    t = _t(spark, sf)
    out = profile_ops.numeric_moments(t["lineitem"], "l_extendedprice")
    out = out.unionByName(
        profile_ops.numeric_moments(t["orders"], "o_totalprice")
    )
    return out.unionByName(
        profile_ops.numeric_moments(t["events"], "value")
    )


def q_text_novelty_by_decile(spark, sf):
    """Novelty decay over the training order: per shuffled-order
    decile, the distinct trigrams never seen in an earlier decile —
    the order/text composition that says whether the long tail of
    rare grams keeps arriving (healthy shuffle) or front-loads."""
    d = _t(spark, sf)["documents"]
    return text_ops.ngram_novelty_by_decile(
        d, "doc_id", "text", n=3, deciles=10, seed=7
    )


# --- round 9 epilogue, second batch (r11 seeds) ----------------------


def q_dedup_pair_degree_hist(spark, sf):
    """Candidate-pair fanout histogram: per document the number of
    LSH candidate partners (bucket-capped: oversized buckets
    contribute star pairs around the bucket minimum, the production
    degrade), histogrammed — the band-index degree distribution that
    prices the verify stage (a fat tail says tighten bands or cap
    buckets before the exact-jaccard pass)."""
    d = _t(spark, sf)["documents"]
    # the CAPPED default (bucket > 512 degrades to star pairs with the
    # bucket minimum) — the first query to put the star-degrade path
    # itself under the exact-hash oracle; uncapped, the 20x clone
    # corpus pays a 100s quadratic pair tier (measured) for a
    # histogram whose whole point is to warn about exactly that
    pairs = dedup.minhash_candidate_pairs(d, "doc_id", "text")
    deg = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy(
        F.col("degree").cast("bigint").alias("degree")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


def q_order_worker_sweep(spark, sf):
    """Worker token-balance knob sweep: the per-worker payload skew
    table at 4/8/16 workers in one labeled frame — the pick-the-
    world-size planning curve (more workers = better wall-clock until
    payload skew eats the speedup)."""
    d = _t(spark, sf)["documents"]
    parts = []
    for nw in (4, 8, 16):
        parts.append(
            schemes.worker_token_balance(
                d, "doc_id", F.col("n_chars"), nw, 5
            ).select(
                F.lit(nw).cast("bigint").alias("n_workers"),
                "worker_id", "n_rows", "weight", "skew",
            )
        )
    out = parts[0]
    for pp in parts[1:]:
        out = out.unionByName(pp)
    return out


def q_profile_corr_matrix(spark, sf):
    """Pairwise Pearson among the lineitem numeric columns — the
    catalog correlation card (a near-1 pair is a redundant feature;
    the lineitem_qty_price_corr contract applied to every pair)."""
    t = _t(spark, sf)["lineitem"]
    return profile_ops.pearson_pairs(
        t, [("l_quantity", "l_extendedprice"),
            ("l_quantity", "l_discount"),
            ("l_extendedprice", "l_discount")]
    )


def q_audio_decimate_sweep(spark, sf):
    """Decimation knob sweep: output mass / exact-rational level /
    checksum at factors 2, 4, 8 in one labeled table — the
    sample-rate planning curve beside the cascade certificate."""
    wt = pixels.synth_wave_table(_t(spark, sf)["documents"])
    parts = []
    for f in (2, 4, 8):
        dw = pixels.decimate_wave(wt, f)
        parts.append(dw.agg(
            F.lit(f).cast("bigint").alias("factor"),
            F.count(F.lit(1)).cast("long").alias("n_out"),
            round6_ratio(
                F.sum(F.col("v").cast("decimal(27,6)")),
                F.count(F.lit(1)),
            ).alias("v_mean"),
            F.sum(F.col("v") * (F.col("u").cast("long") + 1))
            .cast("long").alias("checksum"),
        ))
    out = parts[0]
    for pp in parts[1:]:
        out = out.unionByName(pp)
    return out


def q_video_stride_sweep(spark, sf):
    """Frame-stride knob sweep: sampled-frame mass and checksum at
    strides 2, 3, 4 — the decode-budget curve for the frame sampler
    (multimodal.py:309's planning half)."""
    ft = pixels.synth_frame_table(_t(spark, sf)["documents"])
    parts = []
    for st in (2, 3, 4):
        sampled = pixels.frame_stride(ft, st)
        parts.append(sampled.agg(
            F.lit(st).cast("bigint").alias("stride"),
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.sum(
                F.col("v").cast("long") * (F.col("x") + 1) * (F.col("f") + 1)
            ).cast("long").alias("checksum"),
        ))
    out = parts[0]
    for pp in parts[1:]:
        out = out.unionByName(pp)
    return out


# ---- round-10 tokenizer-economics tier (merge-table drift, utilization,
# script mix) — reference semantics fuel/datasets/text.py:46 (per-example
# dictionary tokenization); these are the corpus-scale planning tables a
# tokenizer CHOICE needs, all vocab-grain after one word-count shuffle.


def q_bpe_merge_utilization(spark, sf):
    """Per-merge utilization of the fixed table on THIS corpus (r10):
    how often each merge fires + its share of the total token
    reduction — the wasted-vocabulary-budget audit."""
    d = _t(spark, sf)["documents"]
    return text_ops.bpe_merge_utilization(
        d, "text", list(BPE_FIXED_MERGES)
    )


def q_bpe_compression_curve(spark, sf):
    """Compression vs merge-count curve (r10): corpus tokens,
    fertility and chars/token after each merge prefix k=0..8 — what
    the next merges actually buy on this corpus."""
    d = _t(spark, sf)["documents"]
    return text_ops.bpe_compression_curve(
        d, "text", list(BPE_FIXED_MERGES)
    )


def q_bpe_fertility_by_script(spark, sf):
    """Fertility by word charclass (r10): prose-trained merges
    under-serve digit/mixed tokens — the by-script slice of the
    tokenizer-choice table."""
    d = _t(spark, sf)["documents"]
    return text_ops.bpe_fertility_by_class(
        d, "text", list(BPE_FIXED_MERGES)
    )


def q_bpe_token_length_hist(spark, sf):
    """Tokens-per-word histogram under the fixed merges (r10): the
    fat-tail read that drives packing/truncation budgets."""
    d = _t(spark, sf)["documents"]
    return text_ops.bpe_token_length_hist(
        d, "text", list(BPE_FIXED_MERGES)
    )


def q_bpe_snapshot_drift(spark, sf):
    """Merge-table drift between snapshots (r10): per-source
    fertility under the SAME merges on even-id vs odd-id halves —
    the tokenizer-rot monitor."""
    d = _t(spark, sf)["documents"]
    return text_ops.bpe_fertility_drift(
        d, "doc_id", "text", "source", list(BPE_FIXED_MERGES)
    )


def q_bpe_pair_stats(spark, sf):
    """Next-merge candidate table (r10): top-20 adjacent symbol pairs
    by weighted frequency at the char-level init state — what
    train_bpe's first iteration sees."""
    d = _t(spark, sf)["documents"]
    return text_ops.bpe_pair_stats(d, "text", k=20)


def q_script_mix(spark, sf):
    """Charclass composition per source (r10): letters/digits/space/
    other shares of raw text — the upstream cause the fertility
    tables quantify."""
    d = _t(spark, sf)["documents"]
    return text_ops.script_mix(d, "source", "text")


# ---- round-10 cluster-planning tier: the near-dup pair graph's
# component structure as planning tables (threshold curve, token mass,
# clique-ness, contamination, split leakage) — banded candidates +
# pointer-doubling CC, never all-pairs.


def q_cc_threshold_sweep(spark, sf):
    """Cluster-size planning curve (r10): edges/clusters/rows-removed
    at jaccard 0.3/0.5/0.7 from ONE MinHash+verify pass — the
    threshold-choice table for a dedup rollout."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.cc_threshold_sweep(d, "doc_id", "text")


def q_component_profile(spark, sf):
    """Token mass per cluster size (r10): words locked up in
    duplicate families, with corpus share — the size-resolved dedup
    savings read."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.component_token_profile(d, "doc_id", "text")


def q_cc_edge_density(spark, sf):
    """Clique-ness audit (r10): verified internal edges over possible
    pairs per cluster size — density ~1 is true dup families, low is
    LSH chain accidents a threshold bump would split."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.cc_edge_density(d, "doc_id", "text")


def q_cross_source_components(spark, sf):
    """Cross-source contamination census (r10): clusters straddling
    sources are syndicated content per-source dedup misses — the
    global-dedup argument, measured."""
    d = _t(spark, sf)["documents"]
    return dedup.cross_source_components(d, "doc_id", "text", "source")


def q_dedup_split_leakage(spark, sf):
    """Naive-split leakage certificate (r10): near-dup clusters
    straddling a doc_id-parity split, per size — every straddler is a
    paraphrase leak; the measured case for leakage_free_split."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.split_leakage_census(d, "doc_id", "text")


# ---- round-10 streaming resume tier: windowed-agg, running-agg and
# SESSION-WINDOW state under the checkpoint-restart harness — the
# second availableNow resume family (r9 VERDICT #2(c) ask).


def q_stream_window_counts_resume(spark, sf):
    """Windowed-aggregation RESUME certificate (r10): tumbling-hour
    per-type counts across a checkpoint restart must equal the batch
    aggregation — the engine's window-state store under the same gate
    the sketch cells passed."""
    e = _t(spark, sf)["events"]
    return serve.window_counts_resume_certificate(spark, e)


def q_stream_agg_minmax_resume(spark, sf):
    """Running-aggregate RESUME certificate (r10): per-type count /
    min / max / exact-decimal sum across a restart — the shape where
    a lost partial sum is invisible without an oracle."""
    e = _t(spark, sf)["events"]
    return serve.running_agg_resume_certificate(spark, e)


def q_stream_sessionize_resume(spark, sf):
    """SESSION-WINDOW RESUME certificate (r10): event_id-parity
    slices put halves of the same session in different runs, so the
    restarted query must restore open windows and merge into them —
    folded emissions must equal batch gap-sessionization exactly."""
    e = _t(spark, sf)["events"]
    return serve.sessionize_resume_certificate(spark, e)


# ---- round-10 multimodal planning twins: the remaining budget tables
# an ingest pipeline prices from metadata alone (the decode tier still
# never runs) — storage shards, crop yield, pad-free batches, frame /
# window decode bills, pixel drift, pHash radius curve.


def q_image_storage_planner(spark, sf):
    """Shard plan per aspect class (r10): decode bytes summed and the
    integer-ceil shard count at a 1 MiB target — the writer's
    repartition(n) input for balanced multimodal shards."""
    meta = pixels.synth_image_meta(_t(spark, sf)["documents"])
    return pixels.storage_shard_plan(meta)


def q_image_augment_grid(spark, sf):
    """Crop-grid yield per source (r10): 16x16 patches at stride 8
    per image — the augmented-sample census of a RandomFixedSizeCrop
    epoch (image.py:178's planning half)."""
    meta = pixels.synth_image_meta(_t(spark, sf)["documents"])
    return pixels.augment_grid_plan(meta, _doc_src(spark, sf))


def q_image_batch_packing(spark, sf):
    """Pad-free batch plan per exact resolution (r10): capacity,
    full batches and remainder at a 16 KiB pixel budget by integer
    division — the dataloader plan from metadata alone."""
    meta = pixels.synth_image_meta(_t(spark, sf)["documents"])
    return pixels.batch_packing_plan(meta)


def q_video_frame_budget(spark, sf):
    """Strided-frame decode bill per source (r10): ceil(n/5) capped
    at 8 with the truncation census — the decode budget the frame
    sampler commits to."""
    vmeta = pixels.synth_video_meta(_t(spark, sf)["documents"])
    return pixels.video_frame_budget(vmeta, _doc_src(spark, sf))


def q_audio_window_budget(spark, sf):
    """Feature-window bill per source (r10): 400-sample windows at
    hop 160 per clip plus uncovered tails — the STFT budget from
    metadata alone."""
    ameta = pixels.synth_audio_meta(_t(spark, sf)["documents"])
    return pixels.audio_window_budget(ameta, _doc_src(spark, sf))


def q_image_phash_radius_sweep(spark, sf):
    """Near-dup yield vs hamming radius (r10): one banded blocking
    pass, cumulative pair counts at radius 0/2/4/6 — the
    threshold-choice curve for the image near-dup screen."""
    return pixels.phash_radius_sweep(
        pixels.wht_sign_hash(_px_with_clones(spark, sf))
    )


def q_image_channel_drift(spark, sf):
    """Per-channel pixel-mean drift between snapshot halves (r10):
    exact integer sums, exact-rational means, delta — the
    colorspace/decoder regression monitor."""
    return pixels.channel_snapshot_drift(_px(spark, sf))


# ---- round-10 catalog round-out: key audit, dtype inference,
# sortedness, masks, extremes, peak load, and the curation knob grid.


def q_profile_key_uniqueness(spark, sf):
    """Candidate-key audit (r10): exact row/distinct counts + is_key
    verdict for six candidates across orders/lineitem/customer —
    the constraint-discovery read behind bucketing and merge keys."""
    from fuel_spark.ops import profile

    t = _t(spark, sf)
    o, li, c = t["orders"], t["lineitem"], t["customer"]
    return profile.key_uniqueness([
        ("orders", "o_orderkey", o.select("o_orderkey")),
        ("orders", "o_custkey", o.select("o_custkey")),
        ("lineitem", "l_orderkey,l_linenumber",
         li.select("l_orderkey", "l_linenumber")),
        ("lineitem", "l_partkey,l_suppkey",
         li.select("l_partkey", "l_suppkey")),
        ("customer", "c_custkey", c.select("c_custkey")),
        ("customer", "c_nationkey", c.select("c_nationkey")),
    ])


def q_profile_dtype_inference(spark, sf):
    """Schema-inference audit (r10): int/double/date parse rates over
    string-RENDERED columns — catches the numeric column shipped as
    strings (no pushdown, no stats, string compares at 100 TB)."""
    from fuel_spark.ops import profile

    t = _t(spark, sf)
    stacks = [
        t["customer"].select(
            F.lit("c_name").alias("col_name"),
            F.col("c_name").alias("val"),
        ),
        t["part"].select(
            F.lit("p_size_str").alias("col_name"),
            F.format_string("%d", F.col("p_size")).alias("val"),
        ),
        t["orders"].select(
            F.lit("o_date_str").alias("col_name"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("val"),
        ),
        t["events"].select(
            F.lit("value_str").alias("col_name"),
            F.format_string("%.2f", F.col("value")).alias("val"),
        ),
        t["events"].select(
            F.lit("props").alias("col_name"), F.col("props").alias("val")
        ),
    ]
    out = stacks[0]
    for s in stacks[1:]:
        out = out.unionByName(s)
    return profile.dtype_inference(out)


def q_lineitem_sortedness(spark, sf):
    """Within-order sortedness audit (r10): fraction of adjacent
    nondecreasing pairs per column inside each order — prices range
    pruning and delta encoding; the window partitions by the order
    key, never a global sort."""
    from fuel_spark.ops import profile

    li = _t(spark, sf)["lineitem"]
    return profile.group_sortedness(
        li, "l_orderkey",
        ["l_linenumber", "l_shipdate", "l_quantity", "l_extendedprice",
         "l_partkey", "l_suppkey"],
        ["l_shipdate", "l_quantity", "l_extendedprice"],
    )


def q_profile_mask_census(spark, sf):
    """Char-class mask census (r10): values collapsed to A/a/9 run
    masks, top-5 per column — the format-discovery read (a rogue mask
    in an id column is malformed ingest no schema check sees)."""
    from fuel_spark.ops import profile

    t = _t(spark, sf)
    stacks = [
        t["customer"].select(
            F.lit("c_name").alias("col_name"), F.col("c_name").alias("val")
        ),
        t["part"].select(
            F.lit("p_brand").alias("col_name"),
            F.col("p_brand").alias("val"),
        ),
        t["part"].select(
            F.lit("p_name").alias("col_name"), F.col("p_name").alias("val")
        ),
        t["events"].select(
            F.lit("props").alias("col_name"), F.col("props").alias("val")
        ),
    ]
    out = stacks[0]
    for s in stacks[1:]:
        out = out.unionByName(s)
    return profile.mask_census(out, top_k=5)


def q_profile_extreme_rows(spark, sf):
    """Outlier dossier (r10): top/bottom-3 values WITH row ids per
    numeric column (TakeOrdered per direction — never a global sort
    exchange) — the rows an anomaly triage opens."""
    from fuel_spark.ops import profile

    t = _t(spark, sf)
    li = t["lineitem"].withColumn(
        "_lid", F.col("l_orderkey") * 8 + F.col("l_linenumber")
    )
    return profile.extreme_rows([
        ("events.value", t["events"], "value", "event_id"),
        ("o_totalprice", t["orders"], "o_totalprice", "o_orderkey"),
        ("c_acctbal", t["customer"], "c_acctbal", "c_custkey"),
        ("l_extendedprice", li, "l_extendedprice", "_lid"),
    ])


def q_events_peak_windows(spark, sf):
    """Peak-load windows (r10): top-5 five-minute windows by event
    count, ties broken on window start — the provisioning read
    (burst capacity is sized off exactly this table)."""
    from pyspark.sql import Window

    e = _t(spark, sf)["events"]
    ws = (F.col("ts").cast("long") - F.pmod(
        F.col("ts").cast("long"), F.lit(300)
    )).alias("window_start_sec")
    agg = e.select(ws).groupBy("window_start_sec").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    sel = agg.orderBy(F.col("n_events").desc(), "window_start_sec").limit(5)
    w = Window.orderBy(F.col("n_events").desc(), "window_start_sec")
    return sel.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.col("window_start_sec").cast("bigint").alias("window_start_sec"),
        "n_events",
    )


def q_curation_grid(spark, sf):
    """Curation knob grid (r10): quality threshold x min-words joint
    sweep — docs and words retained per cell with corpus shares; the
    two-knob version of curation_threshold_sweep (knobs interact:
    the quality score already contains a length term)."""
    from fuel_spark.functions import round6_ratio

    d = _t(spark, sf)["documents"]
    # pin the scored frame: 6 grid cells + the total each reference
    # it, and quality_score's regex features are the whole cost
    # (7 recomputes measured 54s at the 20x smoke; pinned ~8s)
    scored = materialize(
        text_ops.quality_score(d, "text").select(
            "quality", F.col("n_words").alias("nw")
        )
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("_td"),
        F.sum("nw").cast("bigint").alias("_tw"),
    )
    parts = []
    for qt in (0.25, 0.5, 0.75):
        for mw in (5, 20):
            kept = scored.where(
                (F.col("quality") >= qt) & (F.col("nw") >= mw)
            )
            parts.append(
                kept.agg(
                    F.lit(float(qt)).alias("q_threshold"),
                    F.lit(int(mw)).cast("bigint").alias("min_words"),
                    F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint")
                    .alias("n_docs_kept"),
                    F.coalesce(F.sum("nw"), F.lit(0)).cast("bigint")
                    .alias("n_words_kept"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.crossJoin(F.broadcast(tot)).select(
        "q_threshold", "min_words", "n_docs_kept", "n_words_kept",
        round6_ratio(
            F.col("n_docs_kept").cast("decimal(27,6)"),
            F.greatest(F.col("_td"), F.lit(1)),
        ).alias("doc_share"),
        round6_ratio(
            F.col("n_words_kept").cast("decimal(27,6)"),
            F.greatest(F.col("_tw"), F.lit(1)),
        ).alias("word_share"),
    )


# ---- round-10 sketch / fingerprint round-out: overlap estimates,
# measured FPR/precision curves, hash-width and partition planning.


def q_hll_intersection(spark, sf):
    """Audience-overlap by HLL inclusion-exclusion (r10): per
    event-type pair, est(A)+est(B)-est(A∪B) from merged register
    tables with the exact intersection as certificate."""
    e = _t(spark, sf)["events"]
    return sketch.hll_intersection_certificate(e, "event_type", "user_id")


def q_bloom_fpr_curve(spark, sf):
    """Measured Bloom FPR curve (r10): filters over even user ids at
    256/1024/4096 bits probed with the disjoint odd ids — every hit a
    false positive by construction."""
    e = _t(spark, sf)["events"]
    return sketch.bloom_fpr_curve(e, "user_id")


def q_embedding_coord_drift(spark, sf):
    """Coordinate-marginal drift between snapshot halves (r10): the
    first embedding coordinate histogrammed in 0.1 buckets (floor of
    the RAW double x10 — multiplication and floor are deterministic
    on both engines, no rounding needed), even vs odd vec_id counts
    and delta — the encoder-regression monitor at histogram grain
    (the corpus is unit-normalized, so norms carry no signal; the
    coordinate marginals do)."""
    e = _t(spark, sf)["embeddings"]
    c0 = F.col("embedding").getItem(0).cast("double")
    par = (F.col("vec_id") % 2 == 1).cast("int")
    agg = e.select(
        F.floor(c0 * 10).cast("bigint").alias("coord_bucket"),
        par.alias("_p"),
    ).groupBy("coord_bucket").agg(
        F.sum(F.when(F.col("_p") == 0, 1).otherwise(0)).cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("_p") == 1, 1).otherwise(0)).cast("bigint")
        .alias("n_b"),
    )
    return agg.select(
        "coord_bucket", "n_a", "n_b",
        (F.col("n_b") - F.col("n_a")).cast("bigint").alias("delta"),
    )


def q_ngram_collision_rate(spark, sf):
    """Hash-width planning (r10): exact shingle-hash collision counts
    at 24/32/40 bits — pick the fingerprint width before a narrow
    digest silently merges distinct content."""
    d = _t(spark, sf)["documents"]
    return text_ops.ngram_collision_rate(d, "text")


def q_banding_precision_sweep(spark, sf):
    """Measured banding-choice table (r10): candidate volume and
    verify precision per (bands x rows) split of the same 9-hash
    budget — the measured side of the lsh_scurve theory."""
    d = _t(spark, sf)["documents"].select("doc_id", "text")
    return dedup.banding_precision_sweep(d, "doc_id", "text")


def q_partition_evenness(spark, sf):
    """Shuffle-evenness certificate (r10): rows per deterministic
    hash bucket at p=8/32/128 — min/max/imbalance of the partition
    histogram; the skew pre-read before choosing partition counts."""
    from fuel_spark.functions import hash_mod

    li = _t(spark, sf)["lineitem"]
    parts = []
    for p in (8, 32, 128):
        b = hash_mod("pe", F.col("l_orderkey"), p)
        cnt = li.select(b.alias("_b")).groupBy("_b").agg(
            F.count(F.lit(1)).alias("_n")
        )
        agg = cnt.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets_used"),
            F.min("_n").cast("bigint").alias("min_rows"),
            F.max("_n").cast("bigint").alias("max_rows"),
            F.sum("_n").cast("bigint").alias("_tot"),
        )
        parts.append(
            agg.select(
                F.lit(int(p)).cast("bigint").alias("n_partitions"),
                "n_buckets_used", "min_rows", "max_rows",
                round6_ratio(
                    (F.col("max_rows") * F.lit(int(p)))
                    .cast("decimal(27,6)"),
                    F.greatest(F.col("_tot"), F.lit(1)),
                ).alias("imbalance"),
            )
        )
    out = parts[0]
    for pp in parts[1:]:
        out = out.unionByName(pp)
    return out


# ---- round-10 closing five: supply-breadth, value cross-tabs,
# drift and aging planning tables (single-agg scans, exact decimal).


def q_supplier_part_breadth(spark, sf):
    """Supply-breadth profile (r10): per-supplier distinct-part
    counts reduced to the exact (min, low-median, max, mean) profile
    row — the single-source-risk summary (the synthetic incidence is
    uniform, so a bucketed census degenerates; the profile row stays
    informative at every SF).  Low median = value at rank ceil(n/2),
    deterministic on both engines; the rank window runs over the
    supplier DIMENSION (bounded), never fact grain."""
    from pyspark.sql import Window

    li = _t(spark, sf)["lineitem"]
    per = li.groupBy("l_suppkey").agg(
        F.count_distinct("l_partkey").alias("_np"),
        F.count(F.lit(1)).alias("_nl"),
    )
    w = Window.orderBy(F.col("_np"), F.col("l_suppkey"))
    rk = per.select(
        "_np", "_nl", F.row_number().over(w).alias("_r")
    )
    agg = rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.min("_np").cast("bigint").alias("min_breadth"),
        F.max("_np").cast("bigint").alias("max_breadth"),
        F.sum("_np").cast("bigint").alias("_tnp"),
        F.sum("_nl").cast("bigint").alias("total_lines"),
    )
    # rank (n+1) div 2 — the low median, integer-exact
    med = rk.crossJoin(
        F.broadcast(agg.select(F.col("n_suppliers").alias("_n")))
    ).where(
        F.col("_r")
        == ((F.col("_n") + 1) - F.pmod(F.col("_n") + 1, 2)) / 2
    ).select(F.col("_np").cast("bigint").alias("low_median_breadth"))
    return agg.crossJoin(F.broadcast(med)).select(
        "n_suppliers", "min_breadth", "low_median_breadth",
        "max_breadth", "total_lines",
        round6_ratio(
            F.col("_tnp").cast("decimal(27,6)"),
            F.greatest(F.col("n_suppliers"), F.lit(1)),
        ).alias("mean_breadth"),
    )


def q_segment_value_matrix(spark, sf):
    """Segment × order-value cross-tab (r10): counts and exact
    decimal revenue per (mktsegment, 50k-wide totalprice band) —
    the where-does-revenue-live planning table."""
    t = _t(spark, sf)
    j = t["orders"].join(
        t["customer"],
        F.col("o_custkey") == F.col("c_custkey"),
    )
    band = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    return j.groupBy(
        F.col("c_mktsegment").alias("segment"),
        band.alias("value_band"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
        .cast("double").alias("revenue"),
    )


def q_stopword_density_drift(spark, sf):
    """Stopword-density drift between snapshot halves (r10): corpus
    stopword rate per (source, parity) as Σhits/Σwords exact
    rationals, with the delta — the quality-drift monitor upstream
    of the filter thresholds."""
    d = _t(spark, sf)["documents"]
    en = F.array(*[F.lit(x) for x in STOPWORDS["en"]])
    from fuel_spark.functions import with_materialized, words

    base = with_materialized(
        d.select("doc_id", "source", "text"), "_w", words(F.col("text"))
    ).select(
        "source",
        (F.col("doc_id") % 2).alias("_p"),
        F.size(F.filter(F.col("_w"), lambda x: x != "")).alias("_nw"),
        F.size(
            F.filter(F.col("_w"), lambda x: F.array_contains(en, x))
        ).alias("_nh"),
    )
    agg = base.groupBy("source").agg(
        F.sum(F.when(F.col("_p") == 0, F.col("_nw")).otherwise(0))
        .cast("bigint").alias("n_words_a"),
        F.sum(F.when(F.col("_p") == 1, F.col("_nw")).otherwise(0))
        .cast("bigint").alias("n_words_b"),
        F.sum(F.when(F.col("_p") == 0, F.col("_nh")).otherwise(0))
        .cast("bigint").alias("n_hits_a"),
        F.sum(F.when(F.col("_p") == 1, F.col("_nh")).otherwise(0))
        .cast("bigint").alias("n_hits_b"),
    )
    ra = round6_ratio(
        F.col("n_hits_a").cast("decimal(27,6)"),
        F.greatest(F.col("n_words_a"), F.lit(1)),
    )
    rb = round6_ratio(
        F.col("n_hits_b").cast("decimal(27,6)"),
        F.greatest(F.col("n_words_b"), F.lit(1)),
    )
    return agg.select(
        "source", "n_words_a", "n_words_b", "n_hits_a", "n_hits_b",
        ra.alias("rate_a"), rb.alias("rate_b"),
        (rb - ra).alias("rate_delta"),
    )


def q_lineitem_discount_grid(spark, sf):
    """Discount × quantity grid (r10): line counts and exact decimal
    discounted revenue per (discount-percent, quantity band) — the
    promo-planning cross-tab (discount_revenue_curve's second
    axis)."""
    li = _t(spark, sf)["lineitem"]
    disc_pct = F.round(F.col("l_discount") * 100).cast("bigint")
    qb = (
        F.when(F.col("l_quantity") <= 10, F.lit("1-10"))
        .when(F.col("l_quantity") <= 25, F.lit("11-25"))
        .otherwise(F.lit("26+"))
    )
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(27,6)")
    return li.groupBy(
        disc_pct.alias("discount_pct"), qb.alias("qty_band")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(rev).cast("double").alias("revenue"),
    )


def q_orders_priority_aging(spark, sf):
    """Open-order aging by priority (r10): non-final orders bucketed
    by age relative to the newest order date (1-row anchor
    broadcast) × priority — the ops backlog-triage table."""
    o = _t(spark, sf)["orders"]
    anchor = o.agg(F.max("o_orderdate").alias("_mx"))
    opn = o.where(F.col("o_orderstatus") != "F").crossJoin(
        F.broadcast(anchor)
    )
    age = F.datediff(F.col("_mx"), F.col("o_orderdate"))
    ab = (
        F.when(age <= 90, F.lit("0-90"))
        .when(age <= 365, F.lit("91-365"))
        .otherwise(F.lit("366+"))
    )
    return opn.groupBy(
        F.col("o_orderpriority").alias("priority"),
        ab.alias("age_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
        .cast("double").alias("open_value"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Query registry.  ORDERING IS DELIBERATE: the driver's
    correctness gate checks the FIRST 50 keys, so each round leads
    with the keys that do not yet have a driver-green CORRECTNESS row.
    ROUND-10 window (applied): the first 50 keys are the block staged
    at positions 51-100 in round 9 (``ann_reindex_sweep`` …
    ``audio_decimate_cascade`` — the 11 r8-late seeds plus 39 round-9
    additions), verified against CORRECTNESS_r01-r09 as never
    driver-checked, moved to the front unchanged (pure
    move-to-front).  All 50 are local-pass under
    ``tools/check_correctness.py``.  After this window the driver has
    covered 463 of the oracle-checked keys cumulatively.  The
    ROUND-11 staging block sits immediately after at positions
    51-100: the 10 round-9 epilogue seeds topped up with round-10's
    own additions to EXACTLY 50 never-driver-checked oracle keys.
    Rows-only keys sit past them (a driver rows-only row is weaker
    than their pytest evidence).  Keys past that all have
    driver-green rows from r1-r9 and stay covered by
    ``tools/check_correctness.py`` locally every session.
    """
    return {
        # ---- ROUND-10 driver window (first 50): the staging block
        # verified at positions 51-100 last round (11 r8-late seeds
        # ``ann_reindex_sweep`` … ``dsir_topk_by_source`` + 39 round-9
        # additions), never driver-checked against
        # CORRECTNESS_r01-r09, all local-pass.  Pure move-to-front;
        # keys and wrappers unchanged. --------------------------------
        "ann_reindex_sweep": q_ann_reindex_sweep,
        "document_snapshot_diff": q_document_snapshot_diff,
        "stream_kmv_resume": q_stream_kmv_resume,
        "linkage_incremental": q_linkage_incremental,
        "ann_planes_sweep": q_ann_planes_sweep,
        "stream_hll_resume": q_stream_hll_resume,
        "mixture_after_dedup": q_mixture_after_dedup,
        "stream_bloom_resume": q_stream_bloom_resume,
        "shard_manifest": q_shard_manifest,
        "contamination_by_source": q_contamination_by_source,
        "dsir_topk_by_source": q_dsir_topk_by_source,
        # round-9 additions (staging top-up toward exactly 50):
        "ann_compact_relative": q_ann_compact_relative,
        "image_pixel_stats": q_image_pixel_stats,
        "image_phash_wht": q_image_phash_wht,
        "image_phash_neardup": q_image_phash_neardup,
        "image_crop_stats": q_image_crop_stats,
        "image_geometry_cert": q_image_geometry_cert,
        "image_downsample_box": q_image_downsample_box,
        "image_patch_means": q_image_patch_means,
        "image_dedup_exact": q_image_dedup_exact,
        "video_frame_stride": q_video_frame_stride,
        "video_temporal_diff": q_video_temporal_diff,
        "audio_decimate": q_audio_decimate,
        "audio_level_hist": q_audio_level_hist,
        "audio_silence_clipping": q_audio_silence_clipping,
        "profile_top_values": q_profile_top_values,
        "profile_fd_audit": q_profile_fd_audit,
        "profile_duplicate_rows": q_profile_duplicate_rows,
        "profile_iqr_outliers": q_profile_iqr_outliers,
        "profile_modal_coverage": q_profile_modal_coverage,
        "profile_date_coverage": q_profile_date_coverage,
        "profile_categorical_entropy": q_profile_categorical_entropy,
        "profile_constancy": q_profile_constancy,
        "order_epoch_overlap": q_order_epoch_overlap,
        "order_seed_overlap_sweep": q_order_seed_overlap_sweep,
        "order_batch_mix": q_order_batch_mix,
        "order_position_decorrelation": q_order_position_decorrelation,
        "order_stride_coverage": q_order_stride_coverage,
        "order_epoch_batch_churn": q_order_epoch_batch_churn,
        "order_worker_token_balance": q_order_worker_token_balance,
        "order_interleave_proportionality": q_order_interleave_proportionality,
        "image_histogram16": q_image_histogram16,
        "video_scene_cuts": q_video_scene_cuts,
        "audio_peak_windows": q_audio_peak_windows,
        "text_pii_by_source": q_text_pii_by_source,
        "order_curriculum_stability": q_order_curriculum_stability,
        "order_resume_tail_mix": q_order_resume_tail_mix,
        "profile_row_width": q_profile_row_width,
        "image_dedup_pipeline": q_image_dedup_pipeline,
        "audio_decimate_cascade": q_audio_decimate_cascade,
        # ---- end of the round-10 window ------------------------------
        # r11 staging block (positions 51-100): round-9 epilogue seeds
        # + round-10 additions, topped up to exactly 50 during r10.
        "image_min_dims_screen": q_image_min_dims_screen,
        "image_aspect_buckets": q_image_aspect_buckets,
        "image_bytes_estimate": q_image_bytes_estimate,
        "profile_numeric_moments": q_profile_numeric_moments,
        "text_novelty_by_decile": q_text_novelty_by_decile,
        "dedup_pair_degree_hist": q_dedup_pair_degree_hist,
        "order_worker_sweep": q_order_worker_sweep,
        "profile_corr_matrix": q_profile_corr_matrix,
        "audio_decimate_sweep": q_audio_decimate_sweep,
        "video_stride_sweep": q_video_stride_sweep,
        "text_bpe_merge_utilization": q_bpe_merge_utilization,
        "text_bpe_compression_curve": q_bpe_compression_curve,
        "text_bpe_fertility_by_script": q_bpe_fertility_by_script,
        "text_bpe_token_length_hist": q_bpe_token_length_hist,
        "text_bpe_snapshot_drift": q_bpe_snapshot_drift,
        "text_bpe_pair_stats": q_bpe_pair_stats,
        "text_script_mix": q_script_mix,
        "dedup_cc_threshold_sweep": q_cc_threshold_sweep,
        "dedup_component_profile": q_component_profile,
        "dedup_cc_edge_density": q_cc_edge_density,
        "dedup_cross_source_components": q_cross_source_components,
        "dedup_split_leakage": q_dedup_split_leakage,
        "stream_window_counts_resume": q_stream_window_counts_resume,
        "stream_agg_minmax_resume": q_stream_agg_minmax_resume,
        "stream_sessionize_resume": q_stream_sessionize_resume,
        "image_storage_planner": q_image_storage_planner,
        "image_augment_grid": q_image_augment_grid,
        "image_batch_packing": q_image_batch_packing,
        "video_frame_budget": q_video_frame_budget,
        "audio_window_budget": q_audio_window_budget,
        "image_phash_radius_sweep": q_image_phash_radius_sweep,
        "image_channel_drift": q_image_channel_drift,
        "profile_key_uniqueness": q_profile_key_uniqueness,
        "profile_dtype_inference": q_profile_dtype_inference,
        "lineitem_sortedness_audit": q_lineitem_sortedness,
        "profile_mask_census": q_profile_mask_census,
        "profile_extreme_rows": q_profile_extreme_rows,
        "events_peak_windows": q_events_peak_windows,
        "curation_grid_tradeoff": q_curation_grid,
        "sketch_hll_intersection": q_hll_intersection,
        "sketch_bloom_fpr_curve": q_bloom_fpr_curve,
        "embedding_coord_drift": q_embedding_coord_drift,
        "text_ngram_collision_rate": q_ngram_collision_rate,
        "dedup_banding_precision_sweep": q_banding_precision_sweep,
        "layout_partition_evenness": q_partition_evenness,
        "supplier_part_breadth": q_supplier_part_breadth,
        "customer_segment_value_matrix": q_segment_value_matrix,
        "text_stopword_density_drift": q_stopword_density_drift,
        "lineitem_discount_grid": q_lineitem_discount_grid,
        "orders_priority_aging": q_orders_priority_aging,
        # ---- driver-green in r9 (CORRECTNESS_r09.json, 50/50): the
        # round-9 window, now cumulative coverage. --------------------
        "sketch_bloom_merge_cert": q_bloom_merge,
        "split_source_balance": q_split_source_balance,
        "sample_rate_certificate": q_sample_rate_cert,
        "curation_threshold_sweep": q_funnel_threshold_sweep,
        "snapshot_source_mix_shift": q_source_mix_shift,
        "dedup_jaccard_histogram": q_jaccard_histogram,
        "sketch_hll_m_sweep": q_hll_m_sweep,
        "split_fraction_sweep": q_split_fraction_sweep,
        "curation_funnel_by_source": q_funnel_by_source,
        "packing_seqlen_sweep": q_packing_seqlen_sweep,
        "sketch_kmv_distinct": q_kmv_distinct,
        "sketch_theta_set_ops": q_theta_set_ops,
        "linkage_fs_patterns": q_linkage_fs_patterns,
        "linkage_fs_matches": q_linkage_fs_matches,
        "ann_rp_distortion": q_rp_distortion,
        "mixture_unimax": q_mixture_unimax,
        "sample_priority_certificate": q_priority_sample,
        "linkage_entity_clusters": q_linkage_entities,
        "linkage_pipeline": q_linkage_pipeline,
        "shard_skew_sweep": q_shard_skew_sweep,
        "dedup_time_horizon": q_dedup_time_horizon,
        "ann_rbo_lsh": q_ann_rbo_lsh,
        "events_salted_rollup": q_salted_rollup,
        "dedup_lsh_scurve": q_lsh_scurve,
        "dedup_savings_calibration": q_dedup_savings_calibration,
        "events_funnel_window_sweep": q_funnel_window_sweep,
        "events_ab_power_sweep": q_ab_power,
        "events_ab_cuped": q_ab_cuped,
        "corpus_compressibility": q_compressibility,
        "layout_range_planner": q_range_planner,
        "dedup_keep_best": q_dedup_keep_best,
        "ann_lsh_pivot_r2": q_ann_lsh_pivot_r2,
        "events_salted_join": q_salted_join,
        "text_bpe_fertility": q_bpe_fertility,
        "layout_zorder_certificate": q_zorder_certificate,
        "sample_kcenter": q_sample_kcenter,
        "quality_calibration": q_quality_calibration,
        "text_lm_buckets": q_lm_buckets,
        "embedding_centroid_shift": q_centroid_shift,
        "events_session_gap_sweep": q_session_gap_sweep,
        "join_broadcast_planner": q_join_broadcast_planner,
        "layout_file_planner": q_file_layout_planner,
        # round-8 additions: ANN index lifecycle (merge/compact/
        # profile/pipeline/recall-after-merge), snapshot diff+drift,
        # and the first streaming key under the exact-hash oracle
        # (CMS checkpoint-resume) — tops the block to EXACTLY 50.
        "ann_index_merge_cert": q_ann_index_merge_cert,
        "ann_index_compaction": q_ann_index_compaction,
        "ann_index_bucket_profile": q_ann_index_bucket_profile,
        "ann_incremental_pipeline": q_ann_incremental_pipeline,
        "ann_recall_after_merge": q_ann_recall_after_merge,
        "embedding_snapshot_diff": q_embedding_snapshot_diff,
        "embedding_snapshot_drift": q_embedding_snapshot_drift,
        "stream_cms_resume": q_stream_cms_resume,
        # ---- driver-green in r8 (CORRECTNESS_r08.json, 50/50): the
        # round-8 window, now cumulative coverage. --------------------
        "events_kruskal_wallis": q_kruskal_wallis,
        "events_levene": q_levene,
        "events_cramers_v": q_cramers_v,
        "lineitem_point_biserial": q_point_biserial,
        "events_theil_sen": q_theil_sen,
        "graph_lpa_fixed": q_lpa,
        "events_periodogram": q_periodogram,
        "events_page_hinkley": q_page_hinkley,
        "sketch_quantile_value": q_quantile_sketch_value,
        "sketch_quantile_by_type": q_quantile_sketch_by_type,
        "sketch_quantile_merge_cert": q_quantile_sketch_merge,
        "sketch_cms_counts": q_cms_counts,
        "sketch_cms_merge_cert": q_cms_merge,
        "sketch_bloom_screen": q_bloom_screen,
        "sketch_bloom_planner": q_bloom_planner,
        "sketch_distinct_linear": q_distinct_linear,
        "sample_reservoir": q_sample_reservoir,
        "sample_reservoir_by_source": q_sample_reservoir_by_source,
        "sample_stratified_sources": q_sample_stratified,
        "split_train_val_test": q_split_train_val_test,
        "mixture_domain_weights": q_domain_mixture_weights,
        "packing_efficiency_report": q_packing_efficiency,
        "curriculum_quality_phases": q_curriculum_phases,
        "curation_funnel": q_curation_funnel,
        "text_top_ngrams_by_source": q_top_ngrams_by_source,
        "dedup_index_bucket_profile": q_index_bucket_profile,
        "incremental_dedup_pipeline": q_incremental_dedup,
        "snapshot_token_accounting": q_snapshot_tokens,
        "sketch_hll_distinct": q_hll_distinct,
        "sketch_cms_topk": q_cms_topk,
        "dedup_cross_source_rate": q_dedup_rate_by_source,
        "dedup_candidate_budget": q_candidate_budget,
        "text_truncation_savings": q_truncation_savings,
        "mixture_schedule_slots": q_mixture_schedule,
        "snapshot_length_psi": q_snapshot_psi,
        "sketch_hll_merge_cert": q_hll_merge,
        "sketch_quantile_rate_sweep": q_quantile_rate_sweep,
        "sketch_cms_width_sweep": q_cms_width_sweep,
        "sample_weighted_by_source": q_weighted_sample_by_source,
        "sample_reservoir_merge_cert": q_reservoir_merge_cert,
        "split_leakage_report": q_split_leakage,
        "split_label_balance": q_split_label_balance,
        "events_heavy_hitters_batch": q_heavy_hitters_batch,
        "corpus_token_gini": q_token_gini,
        "source_vocab_overlap": q_vocab_overlap,
        "curriculum_source_mix": q_curriculum_source_mix,
        "snapshot_vocab_churn": q_vocab_churn,
        "packing_concat_vs_pad": q_concat_vs_pad,
        "mixture_alpha_sweep": q_mixture_alpha_sweep,
        "dedup_hot_buckets": q_hot_buckets,
        # ---- driver-green in r7 (CORRECTNESS_r07.json, 50/50): the
        # round-7 window, now cumulative coverage. --------------------
        "events_ks_test": q_ks_test,
        "customer_theil_index": q_theil_index,
        "corpus_chao1": q_chao1,
        "corpus_burrows_delta": q_burrows_delta,
        "graph_triangle_stats": q_triangle_stats,
        "graph_assortativity": q_assortativity,
        "part_price_elasticity": q_price_elasticity,
        "events_jarque_bera": q_jarque_bera,
        "events_daily_acf": q_daily_acf,
        "events_runs_test": q_runs_test,
        "events_daily_gapfill": q_daily_gapfill,
        "events_psi_weekly": q_psi_weekly,
        "corpus_bray_curtis": q_bray_curtis,
        "corpus_vocab_novelty": q_vocab_novelty,
        "part_abc_classification": q_abc_classification,
        "supplier_hhi": q_supplier_hhi,
        "customer_gini_by_nation": q_gini_by_nation,
        "basket_association_rules": q_association_rules,
        "events_crosscorr": q_crosscorr,
        "events_pettitt": q_pettitt,
        "events_hurst": q_hurst,
        "embedding_silhouette": q_silhouette,
        "embedding_davies_bouldin": q_davies_bouldin,
        "embedding_calinski_harabasz": q_calinski_harabasz,
        "graph_link_prediction": q_link_prediction,
        "corpus_flesch": q_flesch,
        "customer_theil_decomposition": q_theil_decomposition,
        "events_mann_whitney": q_mann_whitney,
        "events_logistic_fixed": q_logistic_fixed,
        "supplier_wilson": q_wilson_reliability,
        "part_price_index": q_price_index,
        "events_ab_fdr": q_ab_fdr,
        "ann_range_search": q_ann_range,
        "graph_kcore_fixed": q_kcore,
        "corpus_tfidf_terms": q_tfidf_sources,
        "corpus_fightin_words": q_fightin_words,
        "events_seasonality_strength": q_seasonality_strength,
        "events_pacf": q_pacf,
        "ann_lsh_pivot": q_ann_lsh_pivot,
        "ann_recall_lsh": q_ann_recall_lsh,
        "ann_mmr_fixed": q_ann_mmr_fixed,
        "events_ljung_box": q_ljung_box,
        "events_poisson_dispersion": q_poisson_dispersion,
        "events_value_anova": q_value_anova,
        "shipping_delay_capability": q_delay_capability,
        "dedup_index_compaction": q_index_compaction,
        "text_gt_logprob": q_gt_logprob,
        "events_welch_weekend": q_welch_weekend,
        "events_grubbs": q_grubbs,
        "orders_priority_trend": q_priority_trend,
        # ---- end of round-7 window ----------------------------------
        # ---- driver-green in r6 (CORRECTNESS_r06.json, 50/50): the
        # round-6 window, now cumulative coverage. --------------------
        "text_strip_html": q_strip_html,
        "events_attribution_decay": q_attribution_decay,
        "asof_join_nearest": q_asof_join_nearest,
        "pack_concat_sequences": q_concat_packed,
        "dedup_threshold_sweep": q_threshold_sweep,
        "text_char_entropy": q_char_entropy,
        "scheme_interleave": q_interleave,
        "ann_filtered": q_ann_filtered,
        "events_decompose": q_events_decompose,
        "customer_cohort_ltv": q_cohort_ltv,
        "ann_recall_matryoshka": q_ann_recall_certificate,
        "events_seasonal_forecast": q_seasonal_forecast,
        "events_trend_by_type": q_trend_by_type,
        "ann_ivf_pivot": q_ann_ivf_pivot,
        "ann_pq_pivot": q_ann_pq_pivot,
        "ann_recall_ivf": q_ann_recall_ivf,
        "ann_recall_pq": q_ann_recall_pq,
        "dedup_substring_spans": q_substring_spans,
        "dedup_substring_apply": q_substring_apply,
        "text_policy_filters": q_policy_filters,
        "text_bpe_encode": q_bpe_encode,
        "graph_pagerank_fixed": q_pagerank_fixed,
        "dedup_substring_self": q_substring_self,
        "text_span_corruption": q_span_corruption,
        "pretrain_pipeline": q_pretrain_pipeline,
        "dedup_decontaminate_spans": q_decontaminate_spans,
        "text_mlm_masking": q_mlm_masking,
        "dedup_edit_distance": q_edit_distance_pairs,
        "text_pmi_cooccurrence": q_pmi_cooccurrence,
        "text_textrank_keywords": q_textrank_keywords,
        "text_zipf_slope": q_zipf_slope,
        "text_term_burstiness": q_term_burstiness,
        "events_benford": q_events_benford,
        "events_markov_stationary": q_markov_stationary,
        "graph_hits_fixed": q_hits_supplier_part,
        "embedding_kmeans_fixed": q_kmeans_fixed,
        "events_kaplan_meier": q_kaplan_meier,
        "text_heaps_fit": q_heaps_fit,
        "text_good_turing": q_good_turing,
        "events_cusum": q_events_cusum,
        "pricing_model_ols": q_pricing_model_ols,
        "quality_auc": q_quality_auc,
        "text_langid_kappa": q_langid_kappa,
        "events_type_hour_mi": q_type_hour_mi,
        "events_markov_entropy": q_markov_entropy,
        "lineitem_spearman": q_lineitem_spearman,
        "events_weekday_js": q_weekday_js,
        "text_bigram_llr": q_bigram_llr,
        "corpus_diversity_profile": q_diversity_profile,
        "events_mann_kendall": q_mann_kendall,
        # ---- end of round-6 window ----------------------------------
        # ---- driver-green in r5 (CORRECTNESS_r05.json, 50/50): the
        # round-5 window, now cumulative coverage. --------------------
        "orders_size_histogram": q_order_size_hist,
        "text_word_length_hist": q_word_len_hist,
        "embedding_quantization_error": q_quantization_error,
        "events_conversion_lag": q_conversion_lag,
        "customer_order_freq": q_customer_order_freq,
        "events_monthly_type_mix": q_monthly_type_mix,
        "discount_revenue_curve": q_discount_curve,
        "embedding_label_separation": q_label_separation,
        "events_retention_curve": q_retention_curve,
        "lineitem_qty_price_corr": q_qty_price_corr,
        "text_vocab_coverage": q_vocab_coverage,
        "embedding_centroid_confusion": q_centroid_confusion,
        "customer_balance_ltv_corr": q_balance_ltv_corr,
        "text_bigram_logprob": q_bigram_logprob,
        "embedding_block_profile": q_block_size_profile,
        "events_dow_hour_heatmap": q_dow_hour_heatmap,
        "dedup_pair_quality": q_pair_quality_stats,
        "dedup_prefix_groups": q_prefix_dups,
        "scheme_shards": q_shard_assignment,
        "returns_by_month": q_returns_by_month,
        "embedding_knn_purity": q_knn_purity,
        "dedup_summary": q_dedup_summary,
        "events_gap_histogram": q_gap_histogram,
        "events_rfm_segments": q_rfm_segments,
        "supplier_revenue_concentration": q_supplier_concentration,
        "dedup_exact_vectors": q_exact_vector_dedup,
        "events_entry_points": q_entry_points,
        "embedding_norm_by_label": q_norm_by_label,
        "dedup_minhash_calibration": q_minhash_calibration,
        # Part 2: the first 21 r4-new oracle keys complete the 50. ----
        "events_attribution_linear": q_attribution_linear,
        "events_stickiness": q_stickiness,
        "dedup_apply_segments": q_apply_segment_dedup,
        "text_feature_hashing": q_feature_hashing,
        "graph_degree_distribution": q_degree_distribution,
        "embedding_matryoshka": q_embedding_matryoshka,
        "ann_matryoshka": q_ann_matryoshka,
        "dedup_apply_keep_longest": q_dedup_apply_keep_longest,
        "dedup_corpus_diff": q_corpus_diff,
        "sample_weighted": q_weighted_sample,
        "text_clean": q_clean_text,
        "events_daily_ewma": q_events_daily_ewma,
        "orders_backlog": q_orders_backlog,
        "corpus_source_divergence": q_source_divergence,
        "text_similar_docs": q_tfidf_similar_docs,
        "scheme_curriculum": q_curriculum_batches,
        "check_referential": q_check_referential,
        "feature_winsorize": q_winsorize,
        "events_chi_square": q_chi_square,
        "events_segment_migration": q_segment_migration,
        "events_diff_in_diff": q_diff_in_diff,
        # ---- end of round-5 block -----------------------------------
        # ---- rows-only keys (no SQL oracle by design; driver records
        # a weaker rows-only row; full evidence lives in tests/) ------
        "text_bpe_merges": q_bpe_merges,
        "part_pagerank": q_part_pagerank,
        "text_quality_model": q_quality_model,
        "multimodal_decode": q_multimodal,
        "ann_mmr": q_ann_mmr,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "pack_token_budget_local": q_pack_token_budget_local,
        "merge_streams_local": q_merge_local,
        "pack_batches_local": q_pack_batches_local,
        "pad_sequences_local": q_pad_sequences_local,
        "sort_batches_local": q_sort_batches_local,
        "ann_pq": q_ann_pq,
        "value_kll_quantiles": q_kll_quantiles,
        "events_approx_distinct": q_events_approx_distinct,
        "embedding_pca": q_embedding_pca,
        "corpus_domains": q_corpus_domains,
        # ---- driver-green in r1-r4 (covered cumulatively; still
        # verified every session by tools/check_correctness.py) -------
        # driver-green in r4 (CORRECTNESS_r04.json, 50/50):
        "events_attribution": q_events_attribution,
        "feature_quantile_bins": q_quantile_bins,
        "text_winnowing": q_winnowing,
        "events_key_skew": q_key_skew,
        "dedup_fuzzy_join": q_fuzzy_join,
        "text_oov_rate": q_oov_rate,
        "asof_join_forward": q_asof_join_forward,
        "dedup_cluster_sizes": q_dedup_cluster_sizes,
        "events_transitions": q_events_transitions,
        "events_funnel_windowed": q_funnel_windowed,
        "feature_standardize": q_standardize,
        "dedup_simhash_pairs": q_simhash_pairs,
        "events_attribution_first": q_events_attribution_first,
        "events_engagement": q_events_engagement,
        "embedding_hard_negatives": q_hard_negatives,
        "embedding_sample_negatives": q_sample_negatives,
        "events_pareto_share": q_events_pareto,
        "events_interarrival": q_events_interarrival,
        "events_hourly_profile": q_events_hourly,
        "events_new_vs_returning": q_events_new_vs_returning,
        "events_type_cooccurrence": q_events_cooccurrence,
        "customer_ltv_deciles": q_customer_ltv_deciles,
        "shipping_delay_stats": q_shipping_delay,
        "text_lexical_diversity": q_lexical_diversity,
        "text_c4_filters": q_c4_filters,
        "text_quality_classifier": q_quality_classifier,
        "documents_length_histogram": q_length_histogram,
        "embedding_norm_extremes": q_norm_extremes,
        "events_session_stats": q_session_stats,
        "events_value_histogram": q_value_histogram,
        "events_churn": q_events_churn,
        "basket_part_pairs": q_basket_pairs,
        "revenue_concentration": q_revenue_concentration,
        "dedup_url": q_url_dedup,
        "corpus_quality_by_source": q_quality_by_source,
        "text_doc_frequency": q_doc_frequency,
        "embedding_dim_stats": q_dim_stats,
        "events_ab_test": q_ab_test,
        "orders_monthly_growth": q_monthly_growth,
        "events_user_path_topk": q_user_paths,
        "customer_order_gaps": q_order_gaps,
        "part_price_stats": q_part_price_stats,
        "dedup_rate_by_source": q_dup_rate_by_source,
        "text_shingle_uniqueness": q_shingle_uniqueness,
        "embedding_adjacent_cosine": q_adjacent_cosine,
        "text_lang_confusion": q_lang_confusion,
        "scheme_epoch_batches": q_epoch_batches,
        "supplier_balance_tiers": q_supplier_tiers,
        "priority_mix_by_segment": q_priority_mix,
        "events_user_anomalies": q_user_anomalies,
        # driver-green in r1/r2/r3:
        "sliding_window": q_sliding_window,
        "text_dictionary_encode": q_dictionary_encode,
        "text_dictionary_encode_fixed": q_dictionary_encode_fixed,
        "text_remove_stopwords": q_remove_stopwords,
        "text_sentence_stats": q_sentence_stats,
        "text_bigram_counts": q_bigram_counts,
        "text_repetition": q_repetition,
        "text_redact_pii": q_redact_pii,
        "text_corpus_stats": q_corpus_stats,
        "text_sentiment": q_sentiment,
        "text_bm25": q_bm25,
        "text_unigram_logprob": q_unigram_logprob,
        "dedup_ngram_spans": q_ngram_dup,
        "dedup_components": q_dedup_components,
        "dedup_screen_vs_index": q_dedup_screen,
        "dedup_decontaminate": q_decontaminate,
        "dedup_semantic": q_semantic_dedup,
        "dedup_leakage_split": q_leakage_split,
        "embedding_label_centroids": q_label_centroids,
        "embedding_quantize_int8": q_quantize_embeddings,
        "embedding_normalize": q_embedding_normalize,
        "embedding_sign_sketch": q_sign_sketch,
        "ann_int8": q_ann_int8,
        "ann_sign_block": q_ann_sign_block,
        "sample_stratified": q_stratified_sample,
        "sample_n_per_group": q_sample_n_per_group,
        "mixture_weights": q_mixture_weights,
        "mixture_sample": q_mixture_sample,
        "pack_token_budget": q_pack_token_budget,
        "curation_pipeline": q_curation_pipeline,
        "events_funnel": q_events_funnel,
        "events_cohort_retention": q_cohort_retention,
        "events_similar_users": q_similar_users,
        "events_daily_anomalies": lambda s, d: analytics.events_daily_anomalies(_t(s, d)),
        "events_quantiles_by_type": q_quantiles_by_type,
        "events_user_rfm": q_user_rfm,
        "customer_rolling_revenue": q_rolling_revenue,
        "profile_lineitem": q_profile_lineitem,
        "check_expectations": q_check_expectations,
        "asof_join": q_asof_join,
        "value_quantiles": q_quantiles,
        "toy_spiral": q_toy_spiral,
        "toy_swiss_roll": q_toy_swiss_roll,
        "scheme_hash_folds": q_scheme_hash_folds,
        "cache_stream_rebatch": q_cache_stream_rebatch,
        "text_chunk_documents": q_chunk_documents,
        "dedup_containment": q_dedup_containment,
        "events_range_join": q_events_range_join,
        "dedup_segments": q_dedup_segments,
        "text_dsir_weights": q_dsir_weights,
        "pricing_summary": lambda s, d: analytics.pricing_summary(_t(s, d)),
        "revenue_forecast": lambda s, d: analytics.revenue_forecast(_t(s, d)),
        "top_revenue_orders": lambda s, d: analytics.top_revenue_orders(_t(s, d)),
        "regional_revenue": lambda s, d: analytics.regional_revenue(_t(s, d)),
        "order_priority_counts": lambda s, d: analytics.order_priority_counts(_t(s, d)),
        "market_share": lambda s, d: analytics.market_share(_t(s, d)),
        "volume_shipping": lambda s, d: analytics.volume_shipping(_t(s, d)),
        "product_profit": lambda s, d: analytics.product_profit(_t(s, d)),
        "returned_items": lambda s, d: analytics.returned_items(_t(s, d)),
        "customer_running_totals": lambda s, d: analytics.customer_running_totals(_t(s, d)),
        "events_pivot": lambda s, d: analytics.events_pivot(_t(s, d)),
        "sales_rollup": lambda s, d: analytics.sales_rollup(_t(s, d)),
        "events_tumbling_window": lambda s, d: analytics.events_tumbling_window(_t(s, d)),
        "events_sliding_window": lambda s, d: analytics.events_sliding_window(_t(s, d)),
        "events_json_props": lambda s, d: analytics.events_json_props(_t(s, d)),
        "events_sessionize": lambda s, d: analytics.events_sessionize(_t(s, d)),
        "events_topk_users": lambda s, d: analytics.events_topk_users(_t(s, d)),
        "promo_revenue": lambda s, d: analytics.promo_revenue(_t(s, d)),
        "small_quantity_revenue": lambda s, d: analytics.small_quantity_revenue(_t(s, d)),
        "large_orders": lambda s, d: analytics.large_orders(_t(s, d)),
        "waiting_customers": lambda s, d: analytics.waiting_customers(_t(s, d)),
        "customer_distribution": lambda s, d: analytics.customer_distribution(_t(s, d)),
        "top_supplier": lambda s, d: analytics.top_supplier(_t(s, d)),
        "bracket_revenue": lambda s, d: analytics.bracket_revenue(_t(s, d)),
        "supplier_part_types": lambda s, d: analytics.supplier_part_types(_t(s, d)),
        "best_supplier_per_nation": lambda s, d: analytics.best_supplier_per_nation(_t(s, d)),
        "min_cost_supplier": lambda s, d: analytics.min_cost_supplier(_t(s, d)),
        "important_parts": lambda s, d: analytics.important_parts(_t(s, d)),
        "priority_by_linestatus": lambda s, d: analytics.priority_by_linestatus(_t(s, d)),
        "heavy_part_suppliers": lambda s, d: analytics.heavy_part_suppliers(_t(s, d)),
        "sole_blame_suppliers": lambda s, d: analytics.sole_blame_suppliers(_t(s, d)),
        "mapping_project": q_mapping,
        "filter_rows": q_filter,
        "flatten_nested": q_flatten,
        "scale_shift": q_scale_shift,
        "cast_sources": q_cast,
        "force_floatx": q_force_floatx,
        "rename_select": q_rename_select,
        "pack_batches": q_pack_batches,
        "unpack_batches": q_unpack_batches,
        "pad_sequences": q_pad_sequences,
        "sort_within_batches": q_sort_batches,
        "merge_streams": q_merge,
        "scheme_sequential": q_scheme_sequential,
        "scheme_shuffled": q_scheme_shuffled,
        "scheme_concat": q_scheme_concat,
        "cross_validation": q_cross_validation,
        "split_select": q_split_select,
        "split_select_indices": q_split_select_indices,
        "ngrams": q_ngrams,
        "text_lang_id": q_lang_id,
        "text_quality": q_quality,
        "text_token_counts": q_token_counts,
        "text_fingerprint": q_fingerprint,
        "text_tfidf_top_terms": q_tfidf,
        "sample_fraction": q_sample,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_pairs": q_dedup_minhash,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_apply": q_dedup_apply,
        "dedup_simhash": q_dedup_simhash,
        "embedding_near_dup": q_embedding_near_dup,
        "ann_topk_cosine": q_ann_topk,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    from fuel_spark.functions import round6_ratio_sql

    w = _words_sql("text")
    rev = "l_extendedprice * (1 - l_discount)"
    sqls: dict[str, str] = {}

    sqls["pricing_summary"] = f"""
        SELECT l_returnflag, l_linestatus,
          {_dsum_sql('l_quantity')} AS sum_qty,
          {_dsum_sql('l_extendedprice')} AS sum_base_price,
          {_dsum_sql(rev)} AS sum_disc_price,
          {_dsum_sql(rev + ' * (1 + l_tax)')} AS sum_charge,
          round({_dsum_sql('l_quantity')} / count(*), 6) AS avg_qty,
          round({_dsum_sql('l_extendedprice')} / count(*), 6) AS avg_price,
          round({_dsum_sql('l_discount')} / count(*), 6) AS avg_disc,
          count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    sqls["revenue_forecast"] = f"""
        SELECT {_dsum_sql('l_extendedprice * l_discount')} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24
    """

    sqls["top_revenue_orders"] = f"""
        SELECT o_orderkey, o_orderdate, {_dsum_sql(rev)} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-01'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """

    sqls["regional_revenue"] = f"""
        SELECT n_name, {_dsum_sql(rev)} AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """

    sqls["order_priority_counts"] = """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-07-01'
          AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        GROUP BY o_orderpriority
    """

    sqls["market_share"] = f"""
        SELECT r_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
               n2.n_name AS supp_nation, {_dsum_sql(rev)} AS nation_volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        GROUP BY r_name, o_year, supp_nation
    """

    sqls["volume_shipping"] = f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               {_dsum_sql(rev)} AS volume
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY supp_nation, cust_nation, l_year
    """

    sqls["product_profit"] = f"""
        SELECT n_name, CAST(year(l_shipdate) AS BIGINT) AS o_year,
               {_dsum_sql('l_extendedprice * (1 - l_discount)'
                          ' - p_retailprice * l_quantity * 0.1')} AS profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_type = 'ECONOMY'
        GROUP BY n_name, o_year
    """

    sqls["returned_items"] = f"""
        SELECT c_custkey, c_name, lost_revenue FROM (
          SELECT o_custkey, {_dsum_sql(rev)} AS lost_revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1996-07-01'
          GROUP BY o_custkey
        ) r JOIN customer ON o_custkey = c_custkey
        ORDER BY lost_revenue DESC, c_custkey LIMIT 20
    """

    sqls["customer_running_totals"] = """
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        FROM orders
    """

    ev_types = ["click", "error", "purchase", "signup", "view"]
    pivot_cols = ", ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS \"{t}\"" for t in ev_types
    )
    sqls["events_pivot"] = f"""
        SELECT user_id, {pivot_cols} FROM events GROUP BY user_id
    """

    sqls["sales_rollup"] = f"""
        SELECT r_name, n_name, {_dsum_sql('o_totalprice')} AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """

    sqls["events_tumbling_window"] = f"""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events, {_dsum_sql('value')} AS sum_value
        FROM events GROUP BY 1, 2
    """

    sqls["events_sliding_window"] = """
        WITH dup AS (
          SELECT date_trunc('hour', ts) AS window_start, event_type FROM events
          UNION ALL
          SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type FROM events
        )
        SELECT window_start, event_type, count(*) AS n_events
        FROM dup GROUP BY window_start, event_type
    """

    sqls["events_json_props"] = """
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type
    """

    sqls["events_sessionize"] = """
        WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events),
        g AS (
          SELECT user_id, sec,
            CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
                 THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)
        ),
        s AS (
          SELECT user_id, sec,
            CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY sec
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          FROM g
        )
        SELECT user_id, session_seq, count(*) AS n_events,
               min(sec) AS session_start_sec,
               max(sec) - min(sec) AS duration_sec
        FROM s GROUP BY user_id, session_seq
    """

    sqls["events_topk_users"] = f"""
        SELECT user_id, count(*) AS n_events, {_dsum_sql('value')} AS total_value
        FROM events GROUP BY user_id
        ORDER BY total_value DESC, user_id LIMIT 20
    """

    sqls["promo_revenue"] = f"""
        SELECT round(100.0 * {_dsum_sql(
            "CASE WHEN p_type = 'PROMO' THEN " + rev + " ELSE 0.0 END")}
               / {_dsum_sql(rev)}, 6) AS promo_pct,
               {_dsum_sql("CASE WHEN p_type = 'PROMO' THEN " + rev + " ELSE 0.0 END")}
                 AS promo_revenue,
               {_dsum_sql(rev)} AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
    """

    sqls["small_quantity_revenue"] = f"""
        WITH branded AS (
          SELECT l_partkey, l_quantity, l_extendedprice
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#3'
        ),
        avgs AS (
          SELECT l_partkey,
                 CAST(sum(CAST(l_quantity AS {DEC})) AS DOUBLE) / count(*) AS avg_qty
          FROM branded GROUP BY l_partkey
        )
        SELECT round({_dsum_sql('l_extendedprice')} / 7.0, 6) AS avg_yearly
        FROM branded JOIN avgs USING (l_partkey)
        WHERE l_quantity < 0.2 * avg_qty
    """

    sqls["large_orders"] = f"""
        WITH big AS (
          SELECT l_orderkey, {_dsum_sql('l_quantity')} AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING {_dsum_sql('l_quantity')} > 150.0
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """

    sqls["waiting_customers"] = f"""
        WITH avg_bal AS (
          SELECT CAST(sum(CAST(c_acctbal AS {DEC})) AS DOUBLE) / count(*) AS a
          FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c_nationkey, count(*) AS numcust,
               {_dsum_sql('c_acctbal')} AS totacctbal
        FROM customer, avg_bal
        WHERE c_acctbal > a
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_nationkey
    """

    sqls["customer_distribution"] = """
        WITH per_cust AS (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey
        )
        SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count
    """

    sqls["top_supplier"] = f"""
        WITH rev AS (
          SELECT l_suppkey, {_dsum_sql(rev)} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
               round(total_revenue, 6) AS total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """

    sqls["bracket_revenue"] = f"""
        SELECT {_dsum_sql(rev)} AS revenue, count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
    """

    sqls["supplier_part_types"] = """
        SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_size IN (5, 10, 15, 20)
        GROUP BY p_brand, p_type
    """

    sqls["best_supplier_per_nation"] = f"""
        WITH rev AS (
          SELECT l_suppkey, {_dsum_sql(rev)} AS revenue
          FROM lineitem GROUP BY l_suppkey
        ),
        ranked AS (
          SELECT n_name, s_suppkey, s_name, revenue,
                 row_number() OVER (PARTITION BY n_name
                                    ORDER BY revenue DESC, s_suppkey) AS r
          FROM rev
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
        )
        SELECT n_name, CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
               round(revenue, 6) AS revenue
        FROM ranked WHERE r = 1
    """

    sqls["min_cost_supplier"] = """
        WITH sup AS (
          SELECT s_suppkey, s_name, n_name FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'
        ),
        par AS (
          SELECT p_partkey, p_name FROM part
          WHERE p_size = 15 AND p_type = 'STANDARD'
        ),
        cost AS (
          SELECT l_partkey, l_suppkey,
                 min(l_extendedprice / l_quantity) AS unit_cost
          FROM lineitem
          JOIN par ON l_partkey = p_partkey
          JOIN sup ON l_suppkey = s_suppkey
          GROUP BY l_partkey, l_suppkey
        ),
        best AS (
          SELECT l_partkey AS b_partkey, min(unit_cost) AS _best
          FROM cost GROUP BY l_partkey
        )
        SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name,
               CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name,
               round(unit_cost, 6) AS unit_cost
        FROM cost
        JOIN best ON l_partkey = b_partkey AND unit_cost = _best
        JOIN par ON l_partkey = p_partkey
        JOIN sup ON l_suppkey = s_suppkey
    """

    sqls["important_parts"] = f"""
        WITH nat_sup AS (
          SELECT s_suppkey FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_9'
        ),
        per_part AS (
          SELECT l_partkey, {_dsum_sql('l_extendedprice')} AS part_value
          FROM lineitem JOIN nat_sup ON l_suppkey = s_suppkey
          GROUP BY l_partkey
        ),
        m AS (
          SELECT CAST(sum(CAST(part_value AS {DEC})) AS DOUBLE) / count(*)
                   AS _mean
          FROM per_part
        )
        SELECT CAST(l_partkey AS BIGINT) AS p_partkey,
               round(part_value, 6) AS part_value
        FROM per_part, m
        WHERE part_value > 2.0 * _mean
    """

    sqls["priority_by_linestatus"] = """
        SELECT l_linestatus,
               count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS high_line_count,
               count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus
    """

    sqls["heavy_part_suppliers"] = f"""
        WITH heavy AS (
          SELECT l_suppkey, {_dsum_sql('l_quantity')} AS total_qty
          FROM lineitem
          JOIN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%') pp
            ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
          GROUP BY l_suppkey
          HAVING {_dsum_sql('l_quantity')} > 400.0
        )
        SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name,
               round(total_qty, 6) AS total_qty
        FROM supplier
        JOIN heavy ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
    """

    sqls["sole_blame_suppliers"] = """
        WITH fin AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
        lx AS (
          SELECT l_orderkey, l_suppkey, l_returnflag
          FROM lineitem JOIN fin ON l_orderkey = o_orderkey
        ),
        ret AS (
          SELECT DISTINCT l_orderkey, l_suppkey FROM lx WHERE l_returnflag = 'R'
        ),
        allp AS (
          SELECT DISTINCT l_orderkey AS a_orderkey, l_suppkey AS a_suppkey FROM lx
        )
        SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
               count(*) AS numwait
        FROM ret r
        JOIN supplier ON r.l_suppkey = s_suppkey
        WHERE EXISTS (SELECT 1 FROM allp
                      WHERE a_orderkey = r.l_orderkey AND a_suppkey <> r.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM ret r2
                          WHERE r2.l_orderkey = r.l_orderkey
                            AND r2.l_suppkey <> r.l_suppkey)
        GROUP BY s_suppkey, s_name
    """

    sqls["mapping_project"] = """
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * (1 - l_discount), 6) AS revenue
        FROM lineitem
    """

    sqls["filter_rows"] = """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > 200000 AND o_orderstatus = 'O'
    """

    flat = "flatten([[l_quantity, l_discount], [l_tax]])"
    sqls["flatten_nested"] = f"""
        SELECT l_orderkey, l_linenumber,
               {_arrstr_sql(flat, 'double')} AS flat,
               CAST(len({flat}) AS BIGINT) AS flat_len
        FROM lineitem
    """

    sqls["scale_shift"] = """
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * 0.01 + 5.0, 6) AS l_extendedprice,
               round(l_quantity * 0.01 + 5.0, 6) AS l_quantity
        FROM lineitem
    """

    sqls["cast_sources"] = """
        SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty_int,
               CAST(l_linenumber AS DOUBLE) AS line_double
        FROM lineitem
    """

    sqls["force_floatx"] = """
        SELECT c_custkey, CAST(c_acctbal AS REAL) AS acctbal_f FROM customer
    """

    sqls["rename_select"] = """
        SELECT c_custkey AS customer_id, c_name AS customer_name FROM customer
    """

    sqls["pack_batches"] = f"""
        WITH t AS (SELECT o_orderkey,
                          row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
                   FROM orders)
        SELECT pos // 32 AS batch_id,
               {_arrstr_sql('list(o_orderkey ORDER BY o_orderkey)')} AS o_orderkey,
               count(*) AS batch_size
        FROM t GROUP BY 1
    """

    sqls["unpack_batches"] = """
        SELECT (row_number() OVER (ORDER BY o_orderkey) - 1) // 32 AS batch_id,
               o_orderkey, o_totalprice
        FROM orders
    """

    sqls["pad_sequences"] = f"""
        WITH d AS (
          SELECT doc_id,
                 list_transform({w}, x -> length(x)) AS toks,
                 row_number() OVER (ORDER BY doc_id) - 1 AS pos
          FROM documents
        ),
        b AS (SELECT doc_id, toks, pos // 16 AS batch_id FROM d),
        m AS (SELECT *, max(len(toks)) OVER (PARTITION BY batch_id) AS maxlen FROM b)
        SELECT doc_id, batch_id,
               {_arrstr_sql(
                   'list_concat(toks, list_transform('
                   'generate_series(1, maxlen - len(toks)), x -> CAST(0 AS BIGINT)))'
               )} AS token_lens,
               {_arrstr_sql(
                   'list_concat(list_transform(generate_series(1, len(toks)),'
                   ' x -> CAST(1 AS BIGINT)),'
                   ' list_transform(generate_series(1, maxlen - len(toks)),'
                   ' x -> CAST(0 AS BIGINT)))'
               )} AS token_lens_mask
        FROM m
    """

    sqls["sort_within_batches"] = f"""
        WITH t AS (SELECT o_orderkey, o_totalprice,
                          (row_number() OVER (ORDER BY o_orderkey) - 1) // 32 AS batch_id
                   FROM orders)
        SELECT batch_id,
               {_arrstr_sql('list(o_totalprice ORDER BY o_totalprice, o_orderkey)',
                            'double')} AS o_totalprice,
               {_arrstr_sql('list(o_orderkey ORDER BY o_totalprice, o_orderkey)')}
                 AS o_orderkey,
               count(*) AS batch_size
        FROM t GROUP BY batch_id
    """

    sqls["merge_streams"] = """
        SELECT s_suppkey, s_name, c_custkey, c_name FROM
          (SELECT s_suppkey, s_name,
                  row_number() OVER (ORDER BY s_suppkey) AS pos FROM supplier) a
        JOIN
          (SELECT c_custkey, c_name,
                  row_number() OVER (ORDER BY c_custkey) AS pos FROM customer) b
        USING (pos)
    """

    sqls["scheme_sequential"] = """
        SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS pos,
               (row_number() OVER (ORDER BY c_custkey) - 1) // 20 AS batch_id
        FROM customer
    """

    sqls["scheme_shuffled"] = """
        WITH t AS (
          SELECT c_custkey,
                 row_number() OVER (
                   ORDER BY md5(concat('7', '-', CAST(c_custkey AS VARCHAR))),
                            c_custkey) - 1 AS pos
          FROM customer)
        SELECT c_custkey, pos, pos // 20 AS batch_id FROM t
    """

    sqls["scheme_concat"] = """
        WITH a AS (SELECT CAST(r_regionkey AS BIGINT) AS key,
                          row_number() OVER (ORDER BY r_regionkey) - 1 AS pos,
                          0 AS stream FROM region),
        b AS (SELECT CAST(n_nationkey AS BIGINT) AS key,
                     row_number() OVER (ORDER BY n_nationkey) - 1 AS pos,
                     1 AS stream FROM nation),
        u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
        o AS (SELECT *, COALESCE(count(*) OVER (
                ORDER BY stream RANGE BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS off FROM u)
        SELECT key, pos, CAST(stream AS BIGINT) AS stream,
               (pos + off) // 8 AS batch_id
        FROM o
    """

    sqls["cross_validation"] = """
        WITH t AS (SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
                   FROM orders)
        SELECT least(pos // (SELECT greatest(count(*) // 5, 1) FROM orders), 4) AS fold,
               count(*) AS fold_size
        FROM t GROUP BY 1
    """

    sqls["scheme_hash_folds"] = """
        SELECT o_orderkey,
               CAST(CAST(concat('0x', substring(
                   md5(concat('42', '-', CAST(o_orderkey AS VARCHAR))), 1, 6))
                 AS UBIGINT) AS BIGINT) % 5 AS fold
        FROM orders
    """

    sqls["cache_stream_rebatch"] = f"""
        WITH t AS (SELECT c_custkey,
                          row_number() OVER (ORDER BY c_custkey) - 1 AS pos
                   FROM customer)
        SELECT pos // 50 AS batch_id,
               {_arrstr_sql('list(c_custkey ORDER BY c_custkey)')} AS c_custkey,
               count(*) AS batch_size
        FROM t GROUP BY 1
    """

    sqls["split_select"] = """
        WITH t AS (SELECT c_custkey, c_name,
                          row_number() OVER (ORDER BY c_custkey) - 1 AS pos
                   FROM customer)
        SELECT c_custkey, c_name FROM t WHERE pos >= 0 AND pos < 100
    """

    keys = ", ".join(str(k) for k in INDEX_SPLIT_KEYS)
    sqls["split_select_indices"] = f"""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN ({keys})
    """

    sqls["ngrams"] = f"""
        WITH d AS (SELECT doc_id, {w} AS w FROM documents)
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS win_pos,
               {_arrstr_sql('w[i:i+2]', 'string', '|')} AS gram, w[i+3] AS target
        FROM d, LATERAL (SELECT unnest(generate_series(1, len(w) - 3)) AS i) u
    """

    sqls["sliding_window"] = f"""
        WITH d AS (SELECT doc_id, {w} AS w FROM documents)
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS win_pos,
               {_arrstr_sql('w[i:i+2]', 'string', '|')} AS source,
               {_arrstr_sql('w[i+1:i+3]', 'string', '|')} AS target
        FROM d, LATERAL (SELECT unnest(generate_series(1, len(w) - 3)) AS i) u
    """

    sqls["text_dictionary_encode"] = f"""
        WITH dd AS (SELECT doc_id, {w} AS words FROM documents),
        tok AS (
          SELECT doc_id, pos, words[pos] AS word
          FROM dd, LATERAL (SELECT unnest(generate_series(1, len(words))) AS pos) u
          WHERE words[pos] <> ''
        ),
        cnt AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
        dict AS (
          SELECT word, row_number() OVER (ORDER BY cnt DESC, word) + 2 AS word_id
          FROM cnt QUALIFY word_id < 203
        ),
        enc AS (SELECT tok.doc_id, tok.pos, COALESCE(dict.word_id, 2) AS tok_id
                FROM tok LEFT JOIN dict USING (word)),
        body AS (SELECT doc_id, list(tok_id ORDER BY pos) AS body
                 FROM enc GROUP BY doc_id)
        SELECT d.doc_id,
               {_arrstr_sql(
                   'list_concat(list_concat([CAST(0 AS BIGINT)],'
                   ' COALESCE(body, CAST([] AS BIGINT[]))),'
                   ' [CAST(1 AS BIGINT)])'
               )} AS token_ids
        FROM documents d LEFT JOIN body USING (doc_id)
    """

    vocab_case = " ".join(
        f"WHEN '{w}' THEN {i}" for w, i in FIXED_VOCAB.items()
    )
    sqls["text_dictionary_encode_fixed"] = f"""
        WITH dd AS (SELECT doc_id, {w} AS words FROM documents),
        tok AS (
          SELECT doc_id, pos, words[pos] AS word
          FROM dd, LATERAL (SELECT unnest(generate_series(1, len(words))) AS pos) u
          WHERE words[pos] <> ''
        ),
        enc AS (SELECT doc_id, pos,
                       CAST(CASE word {vocab_case} ELSE 2 END AS BIGINT) AS tok_id
                FROM tok),
        body AS (SELECT doc_id, list(tok_id ORDER BY pos) AS body
                 FROM enc GROUP BY doc_id)
        SELECT d.doc_id,
               {_arrstr_sql(
                   'list_concat(list_concat([CAST(0 AS BIGINT)],'
                   ' COALESCE(body, CAST([] AS BIGINT[]))),'
                   ' [CAST(1 AS BIGINT)])'
               )} AS token_ids
        FROM documents d LEFT JOIN body USING (doc_id)
    """

    sqls["text_lang_id"] = _langid_sql()

    en = "[" + ",".join(f"'{x}'" for x in STOPWORDS["en"]) + "]"
    sqls["text_quality"] = f"""
        WITH d AS (SELECT doc_id, text, {w} AS w FROM documents),
        f AS (
          SELECT doc_id,
            CAST(length(text) AS BIGINT) AS n_chars_q,
            CAST(len(w) AS BIGINT) AS n_words,
            round(CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS DOUBLE)
                  / greatest(len(w), 1), 6) AS mean_word_len,
            round(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                  / greatest(length(text), 1), 6) AS alpha_ratio,
            round(CAST(len(list_filter(w, x -> list_contains({en}, x))) AS DOUBLE)
                  / greatest(len(w), 1), 6) AS stopword_ratio
          FROM d
        )
        SELECT doc_id, n_chars_q, n_words, mean_word_len, alpha_ratio, stopword_ratio,
          round(
            (CASE WHEN n_words >= 10 AND n_words <= 100000 THEN 0.25 ELSE 0.0 END)
            + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 0.25 ELSE 0.0 END)
            + (CASE WHEN alpha_ratio >= 0.6 THEN 0.25 ELSE 0.0 END)
            + (CASE WHEN stopword_ratio >= 0.05 THEN 0.25 ELSE 0.0 END), 2) AS quality
        FROM f
    """

    sqls["dedup_containment"] = f"""
        WITH {_minhash_bands_sql()},
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        shd AS (SELECT doc_id, {_shingles_sql('text')} AS s FROM documents),
        scored AS (
          SELECT id_a, id_b,
            CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
            round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / greatest(len(sa.s), 1), 6) AS containment_ab,
            round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / greatest(len(sb.s), 1), 6) AS containment_ba
          FROM cand
          JOIN shd sa ON sa.doc_id = id_a
          JOIN shd sb ON sb.doc_id = id_b
        )
        SELECT * FROM scored
        WHERE containment_ab >= 0.6 OR containment_ba >= 0.6
    """

    sqls["text_chunk_documents"] = f"""
        WITH w AS (
          SELECT doc_id, {_words_sql('text')} AS ws, {_norm_sql('text')} AS nrm
          FROM documents
        ),
        s AS (
          SELECT doc_id, ws,
                 CAST(unnest(CASE WHEN length(nrm) = 0 THEN CAST([] AS BIGINT[])
                                  ELSE generate_series(0, len(ws) - 1, 48) END) AS INT) AS start
          FROM w
        )
        SELECT doc_id,
               CAST(start // 48 AS INT) AS chunk_id,
               start,
               CAST(len(ws[start + 1 : start + 64]) AS INT) AS n_tokens,
               array_to_string(ws[start + 1 : start + 64], ' ') AS chunk_text
        FROM s
        WHERE start = 0 OR start - 48 + 64 < len(ws)
    """

    sqls["text_token_counts"] = f"""
        SELECT doc_id,
          CAST(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS ws_tokens,
          CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS bpe_tokens
        FROM documents
    """

    sqls["text_tfidf_top_terms"] = f"""
        WITH tok AS (
          SELECT doc_id, w AS word FROM (
            SELECT doc_id, unnest({w}) AS w FROM documents)
          WHERE w <> ''
        ),
        terms AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
        dfreq AS (SELECT word, count(*) AS df FROM terms GROUP BY word),
        s AS (
          SELECT doc_id, word, tf, df,
                 round(tf * (ln((CAST((SELECT count(*) FROM documents) AS DOUBLE) + 1.0)
                              / (df + 1.0)) + 1.0), 6) AS tfidf
          FROM terms JOIN dfreq USING (word)
        ),
        r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, word) AS term_rank FROM s)
        SELECT doc_id, word, tf, df, tfidf, CAST(term_rank AS BIGINT) AS term_rank
        FROM r WHERE term_rank <= 3
    """

    en_arr = "[" + ",".join(f"'{x}'" for x in STOPWORDS["en"]) + "]"
    kept = f"list_filter({w}, x -> NOT list_contains({en_arr}, x))"
    sqls["text_remove_stopwords"] = f"""
        SELECT doc_id,
               {_arrstr_sql(kept, 'string', '|')} AS content_words,
               CAST(len({kept}) AS BIGINT) AS n_content_words
        FROM documents
    """

    segs = (
        "list_filter(list_transform(string_split_regex(text, '[.!?]+'),"
        " s -> trim(s)), s -> s <> '')"
    )
    sqls["text_sentence_stats"] = f"""
        WITH d AS (SELECT doc_id, {segs} AS segs FROM documents)
        SELECT doc_id, CAST(len(segs) AS BIGINT) AS n_sentences,
               round(CAST(COALESCE(list_sum(list_transform(segs, s -> length(s))), 0)
                     AS DOUBLE) / greatest(len(segs), 1), 6) AS mean_sentence_chars
        FROM d
    """

    sqls["text_bigram_counts"] = f"""
        WITH d AS (SELECT {w} AS w FROM documents),
        g AS (
          SELECT array_to_string(w[i:i+1], ' ') AS gram
          FROM d, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) u
          WHERE len(w) >= 2
        )
        SELECT gram, count(*) AS cnt FROM g GROUP BY gram HAVING count(*) >= 3
    """

    sqls["embedding_label_centroids"] = f"""
        WITH e AS (
          SELECT label, i AS pos,
                 CAST(round(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(27,6)) AS v
          FROM embeddings,
               LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u
        ),
        m AS (
          SELECT label, pos, round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS m
          FROM e GROUP BY label, pos
        )
        SELECT label, {_arrstr_sql('list(m ORDER BY pos)', 'double')} AS centroid,
               count(*) AS dim
        FROM m GROUP BY label
    """

    sqls["sample_fraction"] = """
        SELECT doc_id, n_chars FROM documents
        WHERE CAST(CAST(concat('0x', substring(
                md5(concat('11', '-', CAST(doc_id AS VARCHAR))), 1, 6))
              AS UBIGINT) AS BIGINT) < 4194304
    """

    fp = f"list_sort(list_transform({_shingles_sql('text')}, x -> md5(x)))"
    sqls["text_fingerprint"] = f"""
        SELECT doc_id,
          concat(COALESCE({fp}[1], ''), COALESCE({fp}[2], ''),
                 COALESCE({fp}[3], ''), COALESCE({fp}[4], '')) AS fingerprint
        FROM documents
    """

    sqls["dedup_exact"] = """
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
               count(*) AS dup_count
        FROM documents GROUP BY 1
    """

    sqls["dedup_minhash_pairs"] = f"""
        WITH {_minhash_bands_sql()}
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    """

    sqls["dedup_jaccard"] = f"""
        WITH {_minhash_bands_sql()},
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        shd AS (SELECT doc_id, {_shingles_sql('text')} AS s FROM documents)
        SELECT id_a, id_b,
          CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
          CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS BIGINT) AS uni,
          round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                / greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1),
                6) AS jaccard
        FROM cand
        JOIN shd sa ON sa.doc_id = id_a
        JOIN shd sb ON sb.doc_id = id_b
    """

    sqls["dedup_apply"] = f"""
        WITH {_minhash_bands_sql()},
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        shd AS (SELECT doc_id, {_shingles_sql('text')} AS s FROM documents),
        losers AS (
          SELECT DISTINCT id_b FROM cand
          JOIN shd sa ON sa.doc_id = id_a
          JOIN shd sb ON sb.doc_id = id_b
          WHERE round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                / greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1),
                6) >= 0.5
        )
        SELECT doc_id, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT id_b FROM losers)
    """

    sqls["dedup_simhash"] = _simhash_sql()

    import math

    def _u_sql(seed, salt):
        return (
            f"(CAST(CAST(concat('0x', substring(md5(concat('{seed}', '-', '{salt}', '-',"
            f" CAST(i AS VARCHAR))), 1, 6)) AS UBIGINT) AS DOUBLE) / 16777216.0)"
        )

    # fp-op order mirrors toy.spiral exactly: ((u*cycles)*2.0)*pi etc.
    pi = repr(math.pi)
    third = repr(2.0 * math.pi / 3)  # python-folded constant, same bits
    u0, u1, u2 = _u_sql(42, 0), _u_sql(42, 1), _u_sql(42, 2)
    angle = f"((({u0} * 1.0) * 2.0) * {pi} + CAST(i % 3 AS DOUBLE) * {third})"
    sqls["toy_spiral"] = f"""
        WITH t AS (SELECT unnest(generate_series(0, 999)) AS i)
        SELECT i AS example_id,
               round(({u0} * 1.0) * cos({angle})
                     + ((({u1} - 0.5) * 2.0) * 0.05), 6) AS x,
               round(({u0} * 1.0) * sin({angle})
                     + ((({u2} - 0.5) * 2.0) * 0.05), 6) AS y,
               i % 3 AS label
        FROM t
    """

    c1 = repr(1.5 * math.pi)
    su0, su1, su2, su3 = _u_sql(42, 0), _u_sql(42, 1), _u_sql(42, 2), _u_sql(42, 3)
    tex = f"({c1} * (1.0 + 2.0 * {su0}))"
    sqls["toy_swiss_roll"] = f"""
        WITH t AS (SELECT unnest(generate_series(0, 999)) AS i)
        SELECT i AS example_id,
               round({tex} * cos({tex}) + ((({su2} - 0.5) * 2.0) * 0.1), 6) AS x,
               round(21.0 * {su1}, 6) AS y,
               round({tex} * sin({tex}) + ((({su3} - 0.5) * 2.0) * 0.1), 6) AS z,
               round({tex}, 6) AS t
        FROM t
    """

    unit_expr = (
        f"list_transform(embedding, x -> CAST(x AS DOUBLE) / {_norm2_sql('embedding')})"
    )
    sqls["embedding_normalize"] = f"""
        SELECT vec_id, round({_norm2_sql('embedding')}, 6) AS vec_norm,
               {_arrstr_sql(unit_expr, 'double')} AS unit
        FROM embeddings
    """

    sign_terms = " + ".join(
        f"(CASE WHEN embedding[{b + 1}] > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )
    sqls["embedding_sign_sketch"] = f"""
        SELECT vec_id, CAST({sign_terms} AS BIGINT) AS sign_bucket
        FROM embeddings
    """

    sqls["asof_join"] = """
        WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t
                   FROM events),
        o AS (SELECT o_custkey, o_orderkey,
                     epoch_us(o_orderdate) AS ot FROM orders),
        j AS (
          SELECT e.event_id, e.user_id, o.o_orderkey,
                 row_number() OVER (PARTITION BY e.event_id
                                    ORDER BY o.ot DESC, o.o_orderkey DESC) AS rn
          FROM e LEFT JOIN o ON e.user_id = o.o_custkey AND o.ot <= e.t
        )
        SELECT event_id, user_id, o_orderkey AS last_orderkey
        FROM j WHERE rn = 1
    """

    sqls["events_transitions"] = """
        WITH seq AS (
          SELECT user_id, event_type AS to_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS from_type
          FROM events
        ),
        c AS (
          SELECT from_type, to_type, count(*) AS n
          FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
        ),
        tot AS (SELECT from_type, sum(n) AS row_total FROM c GROUP BY 1)
        SELECT c.from_type, c.to_type, c.n,
               round(CAST(c.n AS DOUBLE) / row_total, 6) AS p
        FROM c JOIN tot USING (from_type)
    """

    sqls["events_funnel_windowed"] = """
        WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
               JOIN s1 ON e.user_id = s1.user_id
               WHERE e.event_type = 'click' AND e.ts > s1.t1
                 AND e.ts <= s1.t1 + INTERVAL 21600 SECOND GROUP BY 1),
        s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
               JOIN s2 ON e.user_id = s2.user_id
               WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                 AND e.ts <= s2.t2 + INTERVAL 21600 SECOND GROUP BY 1),
        u AS (
          SELECT 1 AS stage, 'view' AS step, count(*) AS n_users FROM s1
          UNION ALL
          SELECT 2, 'click', count(*) FROM s2
          UNION ALL
          SELECT 3, 'purchase', count(*) FROM s3
        )
        SELECT stage, step, n_users,
               round(CAST(n_users AS DOUBLE)
                     / first_value(n_users) OVER (ORDER BY stage), 6)
               AS conversion
        FROM u
    """

    sqls["feature_standardize"] = f"""
        WITH m AS (
          SELECT event_type,
                 count(value) AS n,
                 CAST(sum(CAST(value AS {DEC})) AS DOUBLE) AS s1,
                 CAST(sum(CAST(value * value AS {DEC})) AS DOUBLE) AS s2
          FROM events GROUP BY event_type
        )
        SELECT event_id, e.event_type, round(value, 6) AS value,
               round(s1 / n, 6) AS mean,
               round((value - s1 / n)
                     / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 1e-12)),
                     6) AS z
        FROM events e JOIN m ON e.event_type = m.event_type
    """

    sqls["dedup_simhash_pairs"] = f"""
        WITH sh AS ({_simhash_sql()}),
        b AS (SELECT doc_id, simhash,
                     CAST(unnest([0, 1, 2, 3]) AS INT) AS band FROM sh),
        k AS (SELECT doc_id, simhash, band,
                     (simhash >> (band * 4)) & 15 AS key FROM b),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
                 a.simhash AS ha, b2.simhash AS hb
          FROM k a JOIN k b2
            ON a.band = b2.band AND a.key = b2.key
           AND a.doc_id < b2.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    """

    sqls["events_attribution_first"] = f"""
        WITH iv AS (
          SELECT user_id, event_id AS purchase_id,
                 ts - INTERVAL 1800 SECOND AS s, ts AS e, value
          FROM events WHERE event_type = 'purchase'
        ),
        p AS (
          SELECT user_id, ts AS touch_ts, event_type AS channel
          FROM events WHERE event_type IN ('click', 'view')
        ),
        j AS (
          SELECT iv.purchase_id, iv.value, p.touch_ts, p.channel,
                 row_number() OVER (PARTITION BY iv.purchase_id
                                    ORDER BY p.touch_ts ASC NULLS LAST,
                                             p.channel DESC) AS rk
          FROM iv LEFT JOIN p
            ON p.user_id = iv.user_id
           AND p.touch_ts >= iv.s AND p.touch_ts <= iv.e
        )
        SELECT COALESCE(channel, 'none') AS channel,
               count(*) AS n_purchases,
               {_dsum_sql('value')} AS purchase_value
        FROM j WHERE rk = 1 GROUP BY 1
    """

    sqls["events_engagement"] = """
        WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        grid AS (SELECT DISTINCT day AS grid_day FROM du),
        j AS (
          SELECT g.grid_day, d.day, d.user_id
          FROM du d JOIN grid g
            ON d.day <= g.grid_day
           AND d.day >= g.grid_day - INTERVAL 27 DAY
        )
        SELECT strftime(grid_day, '%Y-%m-%d') AS day,
               count(DISTINCT CASE WHEN j.day = grid_day THEN user_id END) AS dau,
               count(DISTINCT CASE WHEN j.day >= grid_day - INTERVAL 6 DAY
                                   THEN user_id END) AS wau,
               count(DISTINCT user_id) AS mau,
               round(CAST(count(DISTINCT CASE WHEN j.day = grid_day
                                              THEN user_id END) AS DOUBLE)
                     / count(DISTINCT user_id), 6) AS stickiness
        FROM j GROUP BY grid_day
    """

    hncos = _cos_sql("qe", "ce")
    sqls["embedding_hard_negatives"] = f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id, embedding AS ce,
                     label AS neighbor_label FROM embeddings),
        scored AS (
          SELECT query_id, neighbor_id, neighbor_label,
                 round({hncos}, 6) AS cosine
          FROM q, c WHERE ql <> neighbor_label
        ),
        ranked AS (
          SELECT query_id, neighbor_id, neighbor_label, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, neighbor_label, cosine,
               CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 5
    """

    sqls["embedding_sample_negatives"] = """
        WITH base AS (SELECT vec_id FROM embeddings WHERE vec_id < 50),
        n AS (SELECT count(*) AS nn FROM base),
        e AS (SELECT vec_id, CAST(unnest([0, 1, 2, 3]) AS INT) AS j FROM base)
        SELECT vec_id, j,
               CAST('0x' || substring(md5(concat('9', ':',
                    CAST(vec_id AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 12)
                    AS BIGINT) % nn AS neg_id
        FROM e, n
        WHERE CAST('0x' || substring(md5(concat('9', ':',
                   CAST(vec_id AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 12)
                   AS BIGINT) % nn <> vec_id
    """

    sqls["text_oov_rate"] = f"""
        WITH dd AS (SELECT doc_id, {w} AS words FROM documents),
        tok AS (
          SELECT doc_id, words[pos] AS word
          FROM dd, LATERAL (SELECT unnest(generate_series(1, len(words))) AS pos) u
          WHERE words[pos] <> ''
        ),
        cnt AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
        dict AS (
          SELECT word, row_number() OVER (ORDER BY cnt DESC, word) + 2 AS word_id
          FROM cnt QUALIFY word_id < 203
        )
        SELECT doc_id, count(*) AS n_tokens,
               count(CASE WHEN dict.word IS NULL THEN 1 END) AS n_oov,
               round(CAST(count(CASE WHEN dict.word IS NULL THEN 1 END) AS DOUBLE)
                     / count(*), 6) AS oov_rate
        FROM tok LEFT JOIN dict USING (word)
        GROUP BY doc_id
    """

    _fj_l = _minhash_bands_sql(
        src="(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)",
        prefix="fl_",
    )
    _fj_r = _minhash_bands_sql(
        src="(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1)",
        prefix="fr_",
    )
    sqls["dedup_fuzzy_join"] = f"""
        WITH {_fj_l}, {_fj_r},
        cand AS (
          SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
          FROM fl_bands l JOIN fr_bands r
            ON l.band_id = r.band_id AND l.band_key = r.band_key
        ),
        shl AS (SELECT doc_id AS id_l, {_shingles_sql('text')} AS s
                FROM documents WHERE doc_id % 2 = 0),
        shr AS (SELECT doc_id AS id_r, {_shingles_sql('text')} AS s
                FROM documents WHERE doc_id % 2 = 1),
        v AS (
          SELECT id_l, id_r,
            CAST(len(list_intersect(shl.s, shr.s)) AS BIGINT) AS inter,
            CAST(len(shl.s) + len(shr.s) - len(list_intersect(shl.s, shr.s)) AS BIGINT) AS uni
          FROM cand JOIN shl USING (id_l) JOIN shr USING (id_r)
        )
        SELECT id_l, id_r, inter, uni,
               round(CAST(inter AS DOUBLE) / greatest(uni, 1), 6) AS jaccard
        FROM v
        WHERE round(CAST(inter AS DOUBLE) / greatest(uni, 1), 6) >= 0.4
    """

    sqls["events_key_skew"] = """
        WITH counts AS (
          SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n_rows
          FROM events GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(n_rows) AS DOUBLE) AS total,
                 CAST(count(*) AS DOUBLE) AS nkeys
          FROM counts
        ),
        r AS (
          SELECT key, n_rows,
                 row_number() OVER (ORDER BY n_rows DESC, key) AS rank
          FROM counts
        )
        SELECT key, n_rows, round(n_rows / total, 6) AS share,
               round(n_rows * nkeys / total, 6) AS skew_ratio, rank
        FROM r, tot WHERE rank <= 20
    """

    sqls["text_winnowing"] = f"""
        WITH n AS (SELECT doc_id, {_norm_sql('text')} AS nrm FROM documents),
        h AS (
          SELECT doc_id,
                 CASE WHEN length(nrm) < 8 THEN CAST([] AS BIGINT[])
                      ELSE list_transform(generate_series(1, length(nrm) - 7),
                           i -> CAST('0x' || substring(md5(substring(nrm, i, 8)), 1, 8) AS BIGINT))
                 END AS hs
          FROM n
        ),
        f AS (
          SELECT doc_id,
                 CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                      WHEN len(hs) < 4 THEN [list_min(hs)]
                      ELSE list_distinct(list_transform(generate_series(1, len(hs) - 3),
                           i -> list_min(hs[i : i + 3])))
                 END AS fps
          FROM h
        )
        SELECT doc_id, unnest(fps) AS fingerprint FROM f
    """

    qcuts = ", ".join(f"quantile_cont(value, {i / 10})" for i in range(1, 10))
    sqls["feature_quantile_bins"] = f"""
        WITH cuts AS (SELECT [{qcuts}] AS cs FROM events),
        b AS (
          SELECT value,
                 CAST(len(list_filter(cs, c -> c <= value)) AS INT) AS bin
          FROM events, cuts
        )
        SELECT bin, count(*) AS n,
               round(min(value), 6) AS min_value,
               round(max(value), 6) AS max_value,
               {_dsum_sql('value')} AS sum_value
        FROM b GROUP BY bin
    """

    sqls["text_dsir_weights"] = f"""
        WITH t0 AS (
          SELECT doc_id, (source = 'src0') AS tgt, unnest({_words_sql('text')}) AS w
          FROM documents
        ),
        toks AS (
          SELECT doc_id, tgt,
                 CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) % 256 AS b
          FROM t0 WHERE w <> ''
        ),
        tf AS (
          SELECT doc_id, tgt, b, count(*) AS tf FROM toks GROUP BY 1, 2, 3
        ),
        bt AS (
          SELECT b, sum(tf) AS cr,
                 sum(CASE WHEN tgt THEN tf ELSE 0 END) AS ct
          FROM tf GROUP BY b
        ),
        tot AS (
          SELECT CAST(sum(cr) AS DOUBLE) AS r, CAST(sum(ct) AS DOUBLE) AS t
          FROM bt
        ),
        lr AS (
          SELECT b,
                 CAST(round(ln((ct + 1.0) / (t + 256))
                            - ln((cr + 1.0) / (r + 256)), 6) AS {DEC}) AS lr6
          FROM bt, tot
        )
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               CAST(sum(lr6 * tf) AS DOUBLE) AS log_weight
        FROM tf JOIN lr USING (b)
        GROUP BY doc_id
    """

    sqls["dedup_segments"] = f"""
        WITH w AS (
          SELECT doc_id, {_words_sql('text')} AS ws, {_norm_sql('text')} AS nrm
          FROM documents
        ),
        s AS (
          SELECT doc_id, ws,
                 CAST(unnest(CASE WHEN length(nrm) = 0 THEN CAST([] AS BIGINT[])
                                  ELSE generate_series(0, len(ws) - 1, 32) END) AS INT) AS start
          FROM w
        ),
        c AS (
          SELECT doc_id, CAST(start // 32 AS INT) AS chunk_id,
                 md5(array_to_string(ws[start + 1 : start + 32], ' ')) AS seg_hash
          FROM s WHERE start = 0 OR start - 32 + 32 < len(ws)
        )
        SELECT doc_id, chunk_id, seg_hash,
               count(*) OVER (PARTITION BY seg_hash) AS n_copies,
               (row_number() OVER (PARTITION BY seg_hash
                                   ORDER BY doc_id, chunk_id) > 1) AS is_dup
        FROM c
    """

    sqls["events_range_join"] = f"""
        WITH iv AS (
          SELECT event_id AS interval_id,
                 ts - INTERVAL 3600 SECOND AS s, ts AS e
          FROM events
          WHERE event_type = 'purchase' AND user_id % 10 = 0
        ),
        p AS (
          SELECT event_id AS click_id, ts AS cts, value
          FROM events WHERE event_type = 'click'
        )
        SELECT interval_id,
               count(click_id) AS n_clicks,
               COALESCE({_dsum_sql('value')}, 0.0) AS click_value_sum
        FROM iv LEFT JOIN p ON p.cts >= iv.s AND p.cts <= iv.e
        GROUP BY interval_id
    """

    sqls["events_attribution"] = f"""
        WITH p AS (
          SELECT user_id, epoch_us(ts) AS t, event_id AS purchase_id, value
          FROM events WHERE event_type = 'purchase'
        ),
        tch AS (
          SELECT user_id, epoch_us(ts) AS tt, event_type AS channel
          FROM events WHERE event_type IN ('click', 'view')
        ),
        j AS (
          SELECT p.purchase_id, p.value, p.t, tch.tt, tch.channel,
                 row_number() OVER (PARTITION BY p.purchase_id
                                    ORDER BY tch.tt DESC, tch.channel DESC) AS rn
          FROM p LEFT JOIN tch
            ON p.user_id = tch.user_id AND tch.tt <= p.t
        ),
        best AS (SELECT * FROM j WHERE rn = 1),
        lab AS (
          SELECT CASE WHEN tt IS NOT NULL AND t - tt <= 1800000000
                      THEN channel ELSE 'none' END AS channel, value
          FROM best
        )
        SELECT channel, count(*) AS n_purchases,
               {_dsum_sql('value')} AS purchase_value
        FROM lab GROUP BY channel
    """

    sqls["asof_join_forward"] = """
        WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t
                   FROM events),
        o AS (SELECT o_custkey, o_orderkey,
                     epoch_us(o_orderdate) AS ot FROM orders),
        j AS (
          SELECT e.event_id, e.user_id, o.o_orderkey,
                 row_number() OVER (PARTITION BY e.event_id
                                    ORDER BY o.ot ASC, o.o_orderkey ASC) AS rn
          FROM e LEFT JOIN o ON e.user_id = o.o_custkey AND o.ot >= e.t
        )
        SELECT event_id, user_id, o_orderkey AS next_orderkey
        FROM j WHERE rn = 1
    """

    sqls["value_quantiles"] = """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type
    """

    cos = _cos_sql("a.embedding", "b.embedding")
    sqls["embedding_near_dup"] = f"""
        SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
               round({cos}, 6) AS cosine
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round({cos}, 6) >= 0.2
    """

    sign8 = " + ".join(
        f"(CASE WHEN embedding[{b + 1}] > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(8)
    )
    bcos = _cos_sql("qe", "ce")
    sqls["ann_sign_block"] = f"""
        WITH s AS (SELECT vec_id, embedding,
                          CAST({sign8} AS BIGINT) AS sign_bucket FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qe, sign_bucket
              FROM s WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id, embedding AS ce, sign_bucket FROM s),
        scored AS (
          SELECT query_id, neighbor_id, round({bcos}, 6) AS cosine
          FROM q JOIN c USING (sign_bucket)
          WHERE query_id <> neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 5
    """

    qcos = _cos_sql("qe", "ce")
    sqls["ann_topk_cosine"] = f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
        scored AS (
          SELECT query_id, neighbor_id, round({qcos}, 6) AS cosine
          FROM q, c WHERE query_id <> neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 5
    """

    # --- LLM-pipeline round-2 additions -----------------------------------
    sqls["text_repetition"] = f"""
        WITH d AS (SELECT doc_id, {w} AS w FROM documents),
        b AS (
          SELECT doc_id, w,
                 CASE WHEN len(w) >= 2 THEN
                   list_transform(generate_series(1, len(w) - 1),
                                  i -> concat(w[i], ' ', w[i+1]))
                 ELSE [] END AS bg
          FROM d
        )
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               round(CAST(len(w) - len(list_distinct(w)) AS DOUBLE)
                     / greatest(len(w), 1), 6) AS dup_word_frac,
               round(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
                     / greatest(len(bg), 1), 6) AS dup_bigram_frac,
               round(CAST(CASE WHEN len(bg) = 0 THEN 0 ELSE
                       list_max(list_transform(list_distinct(bg),
                                g -> len(list_filter(bg, x -> x = g))))
                     END AS DOUBLE) / greatest(len(bg), 1), 6) AS top_bigram_frac
        FROM b
    """

    from fuel_spark.ops.text import PII_PATTERNS

    _em, _ph, _ip = (
        PII_PATTERNS["email"], PII_PATTERNS["phone"], PII_PATTERNS["ipv4"]
    )
    sqls["text_redact_pii"] = f"""
        WITH inj AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN
                   concat(text, ' reach me at user', CAST(doc_id AS VARCHAR),
                          '@example.com or call 555-123-4567 from 10.0.0.',
                          CAST(doc_id % 256 AS VARCHAR))
                 ELSE text END AS text
          FROM documents
        ),
        r1 AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '{_em}')) AS BIGINT) AS n_email,
                 regexp_replace(text, '{_em}', '<EMAIL>', 'g') AS t1
          FROM inj
        ),
        r2 AS (
          SELECT doc_id, n_email,
                 CAST(len(regexp_extract_all(t1, '{_ph}')) AS BIGINT) AS n_phone,
                 regexp_replace(t1, '{_ph}', '<PHONE>', 'g') AS t2
          FROM r1
        )
        SELECT doc_id, n_email, n_phone,
               CAST(len(regexp_extract_all(t2, '{_ip}')) AS BIGINT) AS n_ipv4,
               regexp_replace(t2, '{_ip}', '<IPV4>', 'g') AS redacted
        FROM r2
    """

    _strat_thr = {"en": int(0.5 * 16777216), "fr": int(0.3 * 16777216),
                  "de": int(0.2 * 16777216)}
    _strat_cases = " ".join(
        f"WHEN lang = '{g}' THEN {t}" for g, t in _strat_thr.items()
    )
    sqls["sample_stratified"] = f"""
        SELECT doc_id, lang, source FROM documents
        WHERE CAST(CAST(concat('0x', substring(
                md5(concat('7', '-', CAST(doc_id AS VARCHAR))), 1, 6))
              AS UBIGINT) AS BIGINT)
          < (CASE {_strat_cases} ELSE {int(0.1 * 16777216)} END)
    """

    _mix_cte = """
        g AS (SELECT CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
                     count(*) AS n_rows
              FROM documents GROUP BY 1),
        p AS (SELECT len_bucket, n_rows,
                     pow(CAST(n_rows AS DOUBLE), 0.7) AS pw FROM g),
        s AS (SELECT len_bucket, n_rows,
                     pw / sum(pw) OVER () AS weight FROM p),
        r AS (SELECT len_bucket, n_rows, weight,
                     weight / n_rows AS rr FROM s),
        rates AS (SELECT len_bucket, n_rows, round(weight, 6) AS weight,
                         round(rr / max(rr) OVER (), 6) AS sample_rate FROM r)
    """
    sqls["mixture_weights"] = f"""
        WITH {_mix_cte}
        SELECT len_bucket, n_rows, weight, sample_rate FROM rates
    """

    sqls["mixture_sample"] = f"""
        WITH {_mix_cte},
        kept AS (
          SELECT CAST(floor(d.n_chars / 100) AS BIGINT) AS len_bucket
          FROM documents d
          JOIN rates ON CAST(floor(d.n_chars / 100) AS BIGINT) = rates.len_bucket
          WHERE CAST(CAST(concat('0x', substring(
                  md5(concat('13', '-', CAST(d.doc_id AS VARCHAR))), 1, 6))
                AS UBIGINT) AS BIGINT) < floor(rates.sample_rate * 16777216)
        )
        SELECT len_bucket, count(*) AS n_kept FROM kept GROUP BY 1 ORDER BY 1
    """

    sqls["events_funnel"] = """
        WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
               JOIN s1 ON e.user_id = s1.user_id
               WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
               JOIN s2 ON e.user_id = s2.user_id
               WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        u AS (
          SELECT 1 AS stage, 'view' AS step, count(*) AS n_users FROM s1
          UNION ALL
          SELECT 2, 'click', count(*) FROM s2
          UNION ALL
          SELECT 3, 'purchase', count(*) FROM s3
        )
        SELECT stage, step, n_users,
               round(CAST(n_users AS DOUBLE)
                     / first_value(n_users) OVER (ORDER BY stage), 6)
               AS conversion
        FROM u
    """

    sqls["dedup_ngram_spans"] = f"""
        WITH d AS (SELECT doc_id, {w} AS w FROM documents),
        g AS (
          SELECT doc_id,
                 CASE WHEN len(w) >= 3 THEN
                   list_distinct(list_transform(generate_series(1, len(w) - 2),
                     i -> substring(md5(concat(w[i], ' ', w[i+1], ' ', w[i+2])),
                                    1, 16)))
                 ELSE [] END AS gs
          FROM d
        ),
        e AS (SELECT doc_id, unnest(gs) AS gh FROM g),
        c AS (SELECT gh, count(*) AS n_docs FROM e GROUP BY 1)
        SELECT e.doc_id, count(*) AS n_grams,
               CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_grams,
               round(CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END)
                     AS DOUBLE) / greatest(count(*), 1), 6) AS dup_gram_frac
        FROM e JOIN c ON e.gh = c.gh GROUP BY 1
    """

    # r5: full ExactSubstr — maximal cross-doc repeated word
    # substrings via 5-gram seeds on pos_a - pos_b diagonals, islands
    # trick for maximal runs, 256-position posting-list cap mirrored
    def _substr_core_sql(src: str = "documents") -> str:
        return f"""
        d AS (SELECT doc_id, {w} AS w FROM {src}),
        s0 AS (
          SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS pos
          FROM d WHERE len(w) >= 5
        ),
        seeds AS (
          SELECT doc_id, pos,
                 substring(md5(array_to_string(
                   list_slice(w, pos, pos + 4), ' ')), 1, 16) AS gh
          FROM s0
        ),
        cool AS (SELECT gh FROM seeds GROUP BY gh HAVING count(*) <= 256),
        sf AS (SELECT seeds.* FROM seeds JOIN cool USING (gh)),
        diag AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS dg
          FROM sf a JOIN sf b ON a.gh = b.gh AND a.doc_id < b.doc_id
        ),
        runs AS (
          SELECT *, pos_a - row_number() OVER (
                      PARTITION BY doc_a, doc_b, dg ORDER BY pos_a) AS rn
          FROM diag
        ),
        spans AS (
          SELECT doc_a, doc_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
                 count(*) + 4 AS span_words
          FROM runs GROUP BY doc_a, doc_b, dg, rn
          HAVING count(*) + 4 >= 10
        )
    """
    sqls["dedup_substring_spans"] = f"""
        WITH {_substr_core_sql()}
        SELECT s.doc_a, s.doc_b, CAST(s.start_a AS INT) AS start_a,
               CAST(s.start_b AS INT) AS start_b,
               CAST(s.span_words AS BIGINT) AS span_words,
               substring(md5(array_to_string(
                 list_slice(d.w, s.start_a, s.start_a + s.span_words - 1),
                 ' ')), 1, 16) AS span_hash
        FROM spans s JOIN d ON d.doc_id = s.doc_a
    """
    # r5: grouped per-part OLS from one moment aggregation.
    sqls["part_price_elasticity"] = f"""
        WITH m AS (
          SELECT l_partkey, count(*) AS n_lines,
            {_dsum_sql('l_discount')} AS sx,
            {_dsum_sql('l_quantity')} AS sy,
            {_dsum_sql('l_discount * l_quantity')} AS sxy,
            {_dsum_sql('l_discount * l_discount')} AS sxx
          FROM lineitem GROUP BY 1
        ),
        f AS (SELECT * FROM m WHERE n_lines >= 20),
        s AS (SELECT l_partkey, n_lines,
                (CAST(n_lines AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n_lines AS DOUBLE) * sxx - sx * sx) AS slope,
                sx, sy
              FROM f
              WHERE CAST(n_lines AS DOUBLE) * sxx - sx * sx <> 0)
        SELECT l_partkey, n_lines, round(slope, 6) AS slope,
               round((sy - slope * sx) / CAST(n_lines AS DOUBLE), 6)
                 AS intercept
        FROM s ORDER BY round(slope, 6) ASC, l_partkey ASC LIMIT 50
    """

    # r5: Jarque–Bera from four decimal-exact raw moments.
    sqls["events_jarque_bera"] = """
        WITH m AS (
          SELECT count(*) AS n,
            CAST(sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(38,4)))
                 AS DOUBLE) AS s1,
            CAST(sum(CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                          AS DECIMAL(38,4))) AS DOUBLE) AS s2,
            CAST(sum(CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                          * CAST(value AS DOUBLE)
                          AS DECIMAL(38,4))) AS DOUBLE) AS s3,
            CAST(sum(CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                          * CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                          AS DECIMAL(38,4))) AS DOUBLE) AS s4
          FROM events
        ),
        c AS (SELECT n,
                s1 / CAST(n AS DOUBLE) AS mu,
                s2 / CAST(n AS DOUBLE) AS e2,
                s3 / CAST(n AS DOUBLE) AS e3,
                s4 / CAST(n AS DOUBLE) AS e4
              FROM m),
        k AS (SELECT n, mu,
                e2 - mu * mu AS m2,
                e3 - CAST(3.0 AS DOUBLE) * mu * e2
                   + CAST(2.0 AS DOUBLE) * mu * mu * mu AS m3,
                e4 - CAST(4.0 AS DOUBLE) * mu * e3
                   + CAST(6.0 AS DOUBLE) * mu * mu * e2
                   - CAST(3.0 AS DOUBLE) * mu * mu * mu * mu AS m4
              FROM c),
        st AS (SELECT n, mu,
                 m3 / sqrt(greatest(m2 * m2 * m2,
                                    CAST(1e-300 AS DOUBLE))) AS sk,
                 m4 / greatest(m2 * m2, CAST(1e-300 AS DOUBLE))
                   - CAST(3.0 AS DOUBLE) AS ek
               FROM k)
        SELECT n, round(mu, 6) AS mean, round(sk, 6) AS skewness,
               round(ek, 6) AS excess_kurtosis,
               round(CAST(n AS DOUBLE) / CAST(6.0 AS DOUBLE)
                     * (sk * sk + ek * ek / CAST(4.0 AS DOUBLE)), 6)
                 AS jb_stat
        FROM st
    """

    # r5: triangle census via degree-ordered orientation; wedge count
    # from UNORIENTED degrees (Σ C(deg,2) — even product, exact
    # integer division both engines).
    _graph_edges_sql = """
        l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
               FROM l a JOIN l b
                 ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey),
        deg AS (SELECT v, count(*) AS deg
                FROM (SELECT a AS v FROM e0
                      UNION ALL SELECT b FROM e0) GROUP BY 1)
    """
    sqls["graph_triangle_stats"] = f"""
        WITH {_graph_edges_sql},
        ed AS (SELECT
                 CASE WHEN da.deg < db.deg
                        OR (da.deg = db.deg AND e0.a < e0.b)
                      THEN e0.a ELSE e0.b END AS u,
                 CASE WHEN da.deg < db.deg
                        OR (da.deg = db.deg AND e0.a < e0.b)
                      THEN e0.b ELSE e0.a END AS w2
               FROM e0 JOIN deg da ON da.v = e0.a
                       JOIN deg db ON db.v = e0.b),
        wed AS (SELECT least(x.w2, y.w2) AS a, greatest(x.w2, y.w2) AS b
                FROM ed x JOIN ed y ON x.u = y.u AND x.w2 < y.w2),
        tri AS (SELECT count(*) AS n_triangles
                FROM wed JOIN e0 ON e0.a = wed.a AND e0.b = wed.b),
        nv AS (SELECT count(*) AS n_vertices FROM deg),
        ne AS (SELECT count(*) AS n_edges FROM e0),
        nw AS (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT)
                 AS n_wedges FROM deg)
        SELECT n_vertices, n_edges, n_wedges, n_triangles,
          round(CAST(3.0 AS DOUBLE) * CAST(n_triangles AS DOUBLE)
                / greatest(CAST(n_wedges AS DOUBLE),
                           CAST(1.0 AS DOUBLE)), 6) AS clustering_coeff
        FROM nv, ne, nw, tri
    """

    # r5: degree assortativity — symmetric (both-orientation) moments.
    sqls["graph_assortativity"] = f"""
        WITH {_graph_edges_sql},
        ej AS (SELECT da.deg AS x, db.deg AS y
               FROM e0 JOIN deg da ON da.v = e0.a
                       JOIN deg db ON db.v = e0.b),
        bt AS (SELECT x, y FROM ej
                 UNION ALL SELECT y AS x, x AS y FROM ej),
        m AS (SELECT count(*) AS n,
            CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,4)))
                 AS DOUBLE) AS sx,
            CAST(sum(CAST(CAST(y AS DOUBLE) AS DECIMAL(38,4)))
                 AS DOUBLE) AS sy,
            CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                          AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
            CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                          AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
            CAST(sum(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                          AS DECIMAL(38,4))) AS DOUBLE) AS syy
          FROM bt)
        SELECT CAST(n / 2 AS BIGINT) AS n_edges,
          round((sxy / CAST(n AS DOUBLE)
                 - (sx / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)))
                / sqrt(greatest(
                    (sxx / CAST(n AS DOUBLE)
                     - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)))
                    * (syy / CAST(n AS DOUBLE)
                       - (sy / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE))),
                    CAST(1e-300 AS DOUBLE))), 6)
            + CAST(0.0 AS DOUBLE) AS assortativity
        FROM m
    """

    # r5: two-sample KS over the bounded 4-dp value grid; lambda
    # defined once in a CTE, three-term Kolmogorov series.
    sqls["events_ks_test"] = """
        WITH g AS (
          SELECT round(CAST(value AS DOUBLE), 4) AS v,
            sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS na,
            sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nb
          FROM events WHERE event_type IN ('purchase', 'click')
          GROUP BY 1
        ),
        t AS (SELECT CAST(sum(na) AS DOUBLE) AS ta,
                     CAST(sum(nb) AS DOUBLE) AS tb FROM g),
        c AS (SELECT
                CAST(sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                     AS DOUBLE) / t.ta AS fa,
                CAST(sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                     AS DOUBLE) / t.tb AS fb,
                t.ta, t.tb
              FROM g, t),
        d AS (SELECT ta, tb, max(abs(fa - fb)) AS dd
              FROM c GROUP BY 1, 2),
        l AS (SELECT ta, tb, dd,
                     dd * sqrt(ta * tb / (ta + tb)) AS lam FROM d)
        SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
               round(dd, 6) AS d_stat,
               round(least(greatest(
                 CAST(2.0 AS DOUBLE) * (
                   exp(CAST(-2.0 AS DOUBLE) * lam * lam)
                   - exp(CAST(-8.0 AS DOUBLE) * lam * lam)
                   + exp(CAST(-18.0 AS DOUBLE) * lam * lam)),
                 CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)), 6)
                 AS p_approx
        FROM l
    """

    # r5: Theil T inequality of customer LTV.
    sqls["customer_theil_index"] = f"""
        WITH ltv AS (SELECT o_custkey,
                            {_dsum_sql('o_totalprice')} AS x
                     FROM orders GROUP BY 1),
        m AS (SELECT CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE)
                       / count(*) AS mu,
                     count(*) AS n FROM ltv),
        terms AS (SELECT m.n, m.mu,
                    CASE WHEN x > 0 THEN
                      CAST(round((x / m.mu) * ln(x / m.mu), 9)
                           AS DECIMAL(27,18))
                    ELSE CAST(0.0 AS DECIMAL(27,18)) END AS tt
                  FROM ltv, m)
        SELECT n, round(mu, 6) AS mean_ltv,
               round(CAST(sum(tt) AS DOUBLE) / CAST(n AS DOUBLE), 6)
                 AS theil
        FROM terms GROUP BY n, mu
    """

    # r5: Chao1 richness bound.
    sqls["corpus_chao1"] = f"""
        WITH tok AS (SELECT unnest({w}) AS w FROM documents
                     WHERE length({_norm_sql('text')}) >= 1),
        f AS (SELECT w, count(*) AS r FROM tok GROUP BY 1),
        m AS (SELECT count(*) AS s_obs,
                CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n1,
                CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n2
              FROM f)
        SELECT s_obs, n1, n2,
          round(CAST(s_obs AS DOUBLE)
                + (CAST(n1 AS DOUBLE)
                   * (CAST(n1 AS DOUBLE) - CAST(1.0 AS DOUBLE)))
                  / (CAST(2.0 AS DOUBLE)
                     * (CAST(n2 AS DOUBLE) + CAST(1.0 AS DOUBLE))), 6)
            AS chao1
        FROM m
    """

    # r5: Burrows' Delta — top-30 panel, across-source z-scores,
    # pairwise mean |Δz|.
    sqls["corpus_burrows_delta"] = f"""
        WITH tok AS (SELECT source AS g, unnest({w}) AS w
                     FROM documents
                     WHERE length({_norm_sql('text')}) >= 1),
        panel AS (SELECT w FROM (SELECT w, count(*) AS cf FROM tok
                                 GROUP BY 1 ORDER BY cf DESC, w
                                 LIMIT 30)),
        gtot AS (SELECT g, count(*) AS tt FROM tok GROUP BY 1),
        gw AS (SELECT g, w, count(*) AS c
               FROM tok JOIN panel USING (w) GROUP BY 1, 2),
        grid AS (SELECT gtot.g, panel.w,
                   round(CAST(COALESCE(gw.c, 0) AS DOUBLE)
                         / CAST(gtot.tt AS DOUBLE), 9) AS f
                 FROM gtot CROSS JOIN panel
                 LEFT JOIN gw ON gw.g = gtot.g AND gw.w = panel.w),
        ng AS (SELECT CAST(count(*) AS DOUBLE) AS ng FROM gtot),
        mom AS (SELECT w, sf / ng.ng AS mu,
                       sqrt(greatest(sff / ng.ng
                                     - (sf / ng.ng) * (sf / ng.ng),
                                     CAST(1e-18 AS DOUBLE))) AS sd
                FROM (SELECT w,
                        CAST(sum(CAST(f AS DECIMAL(27,18)))
                             AS DOUBLE) AS sf,
                        CAST(sum(CAST(round(f * f, 9)
                                      AS DECIMAL(27,18)))
                             AS DOUBLE) AS sff
                      FROM grid GROUP BY 1) x, ng),
        z AS (SELECT g, w, round((f - mu) / sd, 9) AS z
              FROM grid JOIN mom USING (w)),
        p AS (SELECT a.g AS source_a, b.g AS source_b,
                     a.z AS za, b.z AS zb
              FROM z a JOIN z b ON a.w = b.w AND a.g < b.g)
        SELECT source_a, source_b,
          round(CAST(sum(CAST(round(abs(za - zb), 9)
                              AS DECIMAL(27,18))) AS DOUBLE)
                / CAST(30.0 AS DOUBLE), 6) AS delta
        FROM p GROUP BY 1, 2 ORDER BY 1, 2
    """

    # r5: Dunning G² collocations — ordered adjacent bigrams, margins
    # from the bigram table, row-wise G² in one double chain.
    sqls["text_bigram_llr"] = f"""
        WITH d AS (SELECT {w} AS ws FROM documents
                   WHERE length({_norm_sql('text')}) >= 1),
        bi AS (
          SELECT ws[p] AS w1, ws[p + 1] AS w2, count(*) AS n11
          FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS p
                FROM d)
          GROUP BY 1, 2
        ),
        m1 AS (SELECT w1, sum(n11) AS c1 FROM bi GROUP BY 1),
        m2 AS (SELECT w2, sum(n11) AS c2 FROM bi GROUP BY 1),
        t AS (SELECT CAST(sum(n11) AS DOUBLE) AS bn FROM bi),
        j AS (SELECT bi.w1, bi.w2, bi.n11,
                     CAST(c1 AS DOUBLE) AS c1, CAST(c2 AS DOUBLE) AS c2,
                     t.bn
              FROM bi JOIN m1 USING (w1) JOIN m2 USING (w2), t
              WHERE bi.n11 >= 5),
        k AS (SELECT w1, w2, n11, c1, c2, bn,
                     CAST(n11 AS DOUBLE) AS k11,
                     c1 - CAST(n11 AS DOUBLE) AS k12,
                     c2 - CAST(n11 AS DOUBLE) AS k21,
                     bn - CAST(n11 AS DOUBLE)
                        - (c1 - CAST(n11 AS DOUBLE))
                        - (c2 - CAST(n11 AS DOUBLE)) AS k22,
                     bn - c1 AS r2c, bn - c2 AS q2c
              FROM j)
        SELECT w1, w2, n11,
          round(CAST(2.0 AS DOUBLE) * (
            (CASE WHEN k11 > 0 THEN k11 * ln(k11 / (c1 * c2 / bn))
                  ELSE CAST(0.0 AS DOUBLE) END)
            + (CASE WHEN k12 > 0 THEN k12 * ln(k12 / (c1 * q2c / bn))
                    ELSE CAST(0.0 AS DOUBLE) END)
            + (CASE WHEN k21 > 0 THEN k21 * ln(k21 / (r2c * c2 / bn))
                    ELSE CAST(0.0 AS DOUBLE) END)
            + (CASE WHEN k22 > 0 THEN k22 * ln(k22 / (r2c * q2c / bn))
                    ELSE CAST(0.0 AS DOUBLE) END)), 6)
            + CAST(0.0 AS DOUBLE) AS llr
        FROM k
    """

    # r5: Hill-number diversity per source.
    sqls["corpus_diversity_profile"] = f"""
        WITH tok AS (
          SELECT source AS g, unnest({w}) AS w FROM documents
          WHERE length({_norm_sql('text')}) >= 1
        ),
        wc AS (SELECT g, w, count(*) AS c FROM tok GROUP BY 1, 2),
        gt AS (SELECT g, CAST(sum(c) AS DOUBLE) AS tt FROM wc GROUP BY 1),
        terms AS (
          SELECT wc.g, gt.tt,
            CAST(round(-(CAST(c AS DOUBLE) / gt.tt)
                       * ln(CAST(c AS DOUBLE) / gt.tt), 9)
                 AS DECIMAL(27,18)) AS h,
            CAST(round((CAST(c AS DOUBLE) / gt.tt)
                       * (CAST(c AS DOUBLE) / gt.tt), 9)
                 AS DECIMAL(27,18)) AS s2
          FROM wc JOIN gt USING (g)
        ),
        o AS (SELECT g, tt, count(*) AS hill0,
                     CAST(sum(h) AS DOUBLE) AS hh,
                     CAST(sum(s2) AS DOUBLE) AS ss
              FROM terms GROUP BY 1, 2)
        SELECT g AS source, CAST(tt AS BIGINT) AS n_tokens, hill0,
               round(exp(hh), 6) AS hill1,
               round(CAST(1.0 AS DOUBLE) / ss, 6) AS hill2
        FROM o ORDER BY source
    """

    # r5: Mann–Kendall — exact integer S and tie moments, IEEE sqrt z.
    sqls["events_mann_kendall"] = """
        WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
                       FROM events GROUP BY 1),
        s AS (SELECT CAST(sum(CASE WHEN b.n > a.n THEN 1
                                   WHEN b.n < a.n THEN -1
                                   ELSE 0 END) AS BIGINT) AS s_stat
              FROM daily a JOIN daily b ON a.d < b.d),
        nd AS (SELECT count(*) AS n_days FROM daily),
        ties AS (SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0)
                             AS BIGINT) AS tie_sum
                 FROM (SELECT count(*) AS t FROM daily GROUP BY n)
                 WHERE t > 1)
        SELECT n_days, s_stat,
          round(CASE
            WHEN s_stat > 0 THEN
              (CAST(s_stat AS DOUBLE) - CAST(1.0 AS DOUBLE))
              / sqrt(greatest(
                  (CAST(n_days AS DOUBLE)
                   * (CAST(n_days AS DOUBLE) - CAST(1.0 AS DOUBLE))
                   * (CAST(2.0 AS DOUBLE) * CAST(n_days AS DOUBLE)
                      + CAST(5.0 AS DOUBLE))
                   - CAST(tie_sum AS DOUBLE)) / CAST(18.0 AS DOUBLE),
                  CAST(1e-300 AS DOUBLE)))
            WHEN s_stat < 0 THEN
              (CAST(s_stat AS DOUBLE) + CAST(1.0 AS DOUBLE))
              / sqrt(greatest(
                  (CAST(n_days AS DOUBLE)
                   * (CAST(n_days AS DOUBLE) - CAST(1.0 AS DOUBLE))
                   * (CAST(2.0 AS DOUBLE) * CAST(n_days AS DOUBLE)
                      + CAST(5.0 AS DOUBLE))
                   - CAST(tie_sum AS DOUBLE)) / CAST(18.0 AS DOUBLE),
                  CAST(1e-300 AS DOUBLE)))
            ELSE CAST(0.0 AS DOUBLE) END, 6)
            + CAST(0.0 AS DOUBLE) AS z
        FROM nd, s, ties
    """

    # r5: Spearman via histogram midranks (grid windows, no corpus
    # rank window); midranks are exact at 4 dp.
    sqls["lineitem_spearman"] = """
        WITH gx AS (SELECT l_quantity AS v, count(*) AS c
                    FROM lineitem GROUP BY 1),
        rx AS (SELECT v,
                 CAST(COALESCE(sum(c) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS DOUBLE)
                 + (CAST(c AS DOUBLE) + CAST(1.0 AS DOUBLE))
                   / CAST(2.0 AS DOUBLE) AS r
               FROM gx),
        gy AS (SELECT l_discount AS v, count(*) AS c
               FROM lineitem GROUP BY 1),
        ry AS (SELECT v,
                 CAST(COALESCE(sum(c) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS DOUBLE)
                 + (CAST(c AS DOUBLE) + CAST(1.0 AS DOUBLE))
                   / CAST(2.0 AS DOUBLE) AS r
               FROM gy),
        j AS (SELECT rx.r AS x, ry.r AS y
              FROM lineitem l
              JOIN rx ON rx.v = l.l_quantity
              JOIN ry ON ry.v = l.l_discount),
        m AS (SELECT count(*) AS n,
            CAST(sum(CAST(x AS DECIMAL(38,4))) AS DOUBLE) AS sx,
            CAST(sum(CAST(y AS DECIMAL(38,4))) AS DOUBLE) AS sy,
            CAST(sum(CAST(round(x * y, 4) AS DECIMAL(38,4)))
                 AS DOUBLE) AS sxy,
            CAST(sum(CAST(round(x * x, 4) AS DECIMAL(38,4)))
                 AS DOUBLE) AS sxx,
            CAST(sum(CAST(round(y * y, 4) AS DECIMAL(38,4)))
                 AS DOUBLE) AS syy
          FROM j)
        SELECT n,
          round((sxy / CAST(n AS DOUBLE)
                 - (sx / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)))
                / sqrt(greatest(
                    (sxx / CAST(n AS DOUBLE)
                     - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)))
                    * (syy / CAST(n AS DOUBLE)
                       - (sy / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE))),
                    CAST(1e-300 AS DOUBLE))), 6)
            + CAST(0.0 AS DOUBLE) AS spearman_rho
        FROM m
    """

    # r5: Jensen–Shannon weekday-vs-weekend; dayofweek(ts)+1 matches
    # Spark's Sun=1 convention.
    sqls["events_weekday_js"] = """
        WITH g AS (
          SELECT event_type AS typ,
                 CASE WHEN (dayofweek(ts) + 1) IN (1, 7)
                      THEN 1 ELSE 0 END AS we,
                 count(*) AS n
          FROM events GROUP BY 1, 2
        ),
        p AS (SELECT typ,
                sum(CASE WHEN we = 0 THEN n ELSE 0 END) AS wd,
                sum(CASE WHEN we = 1 THEN n ELSE 0 END) AS wee
              FROM g GROUP BY 1),
        t AS (SELECT CAST(sum(wd) AS DOUBLE) AS twd,
                     CAST(sum(wee) AS DOUBLE) AS twe FROM p),
        j AS (SELECT CAST(wd AS DOUBLE) / t.twd AS p,
                     CAST(wee AS DOUBLE) / t.twe AS q,
                     t.twd, t.twe
              FROM p, t),
        s AS (SELECT twd, twe,
                CAST(sum(CAST(round(
                  (CASE WHEN p > 0 THEN
                     p * ln(p / ((p + q) / CAST(2.0 AS DOUBLE)))
                   ELSE CAST(0.0 AS DOUBLE) END
                   + CASE WHEN q > 0 THEN
                       q * ln(q / ((p + q) / CAST(2.0 AS DOUBLE)))
                     ELSE CAST(0.0 AS DOUBLE) END)
                  / CAST(2.0 AS DOUBLE), 9) AS DECIMAL(27,18)))
                AS DOUBLE) AS js
              FROM j GROUP BY 1, 2)
        SELECT CAST(twd AS BIGINT) AS n_weekday,
               CAST(twe AS BIGINT) AS n_weekend,
               round(js, 6) AS js_nats,
               round(js / ln(CAST(2.0 AS DOUBLE)), 6) AS js_normalized
        FROM s
    """

    # r5: daily-count ACF at calendar lags.
    sqls["events_daily_acf"] = """
        WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
                       FROM events GROUP BY 1),
        st AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mu FROM daily),
        d0 AS (SELECT d, CAST(n AS DOUBLE) - st.mu AS dev
               FROM daily, st),
        den AS (SELECT CAST(sum(CAST(round(dev * dev, 6)
                                     AS DECIMAL(27,6))) AS DOUBLE) AS v
                FROM d0),
        lags AS (SELECT CAST(unnest(generate_series(1, 7)) AS INTEGER)
                   AS lag),
        pr AS (SELECT x.lag, x.pdev, b.dev AS bdev
               FROM (SELECT l.lag AS lag, a.d + l.lag AS d2,
                            a.dev AS pdev
                     FROM d0 a CROSS JOIN lags l) x
               JOIN d0 b ON b.d = x.d2),
        num AS (SELECT lag, count(*) AS n_pairs,
                  CAST(sum(CAST(round(pdev * bdev, 6)
                                AS DECIMAL(27,6))) AS DOUBLE) AS nm
                FROM pr GROUP BY 1)
        SELECT lag, n_pairs,
               round(nm / den.v, 6) + CAST(0.0 AS DOUBLE) AS acf
        FROM num, den ORDER BY lag
    """

    # r5: Wald–Wolfowitz runs test, above-mean dichotomy.
    sqls["events_runs_test"] = """
        WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
                       FROM events GROUP BY 1),
        mu AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mu FROM daily),
        sg AS (SELECT d, CASE WHEN CAST(n AS DOUBLE) > mu.mu
                              THEN 1 ELSE 0 END AS s
               FROM daily, mu),
        r AS (SELECT count(*) AS n_days,
                CAST(sum(s) AS BIGINT) AS n_above,
                CAST(count(*) - sum(s) AS BIGINT) AS n_below,
                CAST(sum(CASE WHEN prev IS NULL OR s <> prev
                              THEN 1 ELSE 0 END) AS BIGINT) AS runs
              FROM (SELECT s, lag(s) OVER (ORDER BY d) AS prev FROM sg))
        SELECT n_days, n_above, n_below, runs,
          round((CAST(runs AS DOUBLE)
                 - (CAST(2.0 AS DOUBLE) * CAST(n_above AS DOUBLE)
                    * CAST(n_below AS DOUBLE)
                    / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                    + CAST(1.0 AS DOUBLE)))
                / sqrt(greatest(
                    (CAST(2.0 AS DOUBLE) * CAST(n_above AS DOUBLE)
                     * CAST(n_below AS DOUBLE)
                     * (CAST(2.0 AS DOUBLE) * CAST(n_above AS DOUBLE)
                        * CAST(n_below AS DOUBLE)
                        - CAST(n_above AS DOUBLE) - CAST(n_below AS DOUBLE)))
                    / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                       * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                       * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)
                          - CAST(1.0 AS DOUBLE))),
                    CAST(1e-300 AS DOUBLE))), 6)
            + CAST(0.0 AS DOUBLE) AS z
        FROM r
    """

    # r5: calendar gap-fill; neighbor lookup via window extremes over
    # day numbers + grid self-joins (portable, no IGNORE NULLS).
    sqls["events_daily_gapfill"] = """
        WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
                       FROM events GROUP BY 1),
        b AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
        grid AS (SELECT CAST(unnest(generate_series(
                   CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
                   INTERVAL 1 DAY)) AS DATE) AS d FROM b),
        g AS (SELECT date_diff('day', b.lo, grid.d) AS dn, grid.d,
                     daily.n
              FROM grid CROSS JOIN b
              LEFT JOIN daily ON daily.d = grid.d),
        g2 AS (SELECT *,
                 max(CASE WHEN n IS NOT NULL THEN dn END) OVER (
                   ORDER BY dn ROWS UNBOUNDED PRECEDING) AS pd,
                 min(CASE WHEN n IS NOT NULL THEN dn END) OVER (
                   ORDER BY dn ROWS BETWEEN CURRENT ROW
                   AND UNBOUNDED FOLLOWING) AS nd2
               FROM g),
        vals AS (SELECT dn AS vd, n AS vn FROM g WHERE n IS NOT NULL),
        g3 AS (SELECT g2.*, pv.vn AS pv, nv.vn AS nv
               FROM g2
               LEFT JOIN vals pv ON pv.vd = g2.pd
               LEFT JOIN vals nv ON nv.vd = g2.nd2)
        SELECT strftime(d, '%Y-%m-%d') AS day, n,
          round(CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
                     WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                       CAST(pv AS DOUBLE)
                       + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                         * CAST(dn - pd AS DOUBLE)
                         / CAST(nd2 - pd AS DOUBLE)
                     WHEN pv IS NOT NULL THEN CAST(pv AS DOUBLE)
                     ELSE CAST(nv AS DOUBLE) END, 6) AS filled,
          n IS NOT NULL AS is_observed
        FROM g3 ORDER BY day
    """

    # r5: histogram AUC — doubled Mann–Whitney U over a 4-dp score
    # grid, DECIMAL(38,0)-exact pair counts.
    _en_sw = "[" + ",".join(f"'{x}'" for x in STOPWORDS["en"]) + "]"
    sqls["quality_auc"] = f"""
        WITH d AS (SELECT lang, {w} AS w FROM documents),
        sc AS (
          SELECT round(round(CAST(len(list_filter(w,
                     x -> list_contains({_en_sw}, x))) AS DOUBLE)
                   / greatest(len(w), 1), 6), 4) AS s,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM d
        ),
        g AS (SELECT s, sum(y) AS pos, count(*) - sum(y) AS neg
              FROM sc GROUP BY 1),
        g2 AS (SELECT *,
                 COALESCE(sum(neg) OVER (
                   ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS cneg
               FROM g),
        t AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                     CAST(sum(neg) AS BIGINT) AS n_neg,
                     sum(CAST(pos AS DECIMAL(38,0))
                         * (2 * cneg + neg)) AS u2
              FROM g2)
        SELECT n_pos, n_neg,
               round(CAST(u2 AS DOUBLE)
                     / (CAST(2.0 AS DOUBLE) * CAST(n_pos AS DOUBLE)
                        * CAST(n_neg AS DOUBLE)), 6) AS auc
        FROM t
    """

    # r5: Cohen's kappa of the lang-id heuristic vs truth; raw
    # po/pe feed kappa unrounded, rounding only at the output.
    sqls["text_langid_kappa"] = f"""
        WITH base AS ({_langid_sql()}),
        c AS (SELECT lang AS a, pred_lang AS b, count(*) AS n
              FROM base GROUP BY 1, 2),
        t AS (SELECT CAST(sum(n) AS DOUBLE) AS N FROM c),
        po AS (SELECT COALESCE(sum(n), 0) AS agree FROM c WHERE a = b),
        ra AS (SELECT a, sum(n) AS ra FROM c GROUP BY 1),
        cb AS (SELECT b, sum(n) AS cb FROM c GROUP BY 1),
        pe AS (SELECT CAST(sum(CAST(round(
                 (CAST(ra AS DOUBLE) / t.N) * (CAST(cb AS DOUBLE) / t.N),
                 9) AS DECIMAL(27,18))) AS DOUBLE) AS pe
               FROM ra JOIN cb ON ra.a = cb.b, t)
        SELECT CAST(t.N AS BIGINT) AS n,
               round(CAST(agree AS DOUBLE) / t.N, 6) AS po,
               round(pe.pe, 6) AS pe,
               round((CAST(agree AS DOUBLE) / t.N - pe.pe)
                     / (CAST(1.0 AS DOUBLE) - pe.pe), 6) AS kappa
        FROM t, po, pe
    """

    # r5: categorical mutual information (event type × hour).
    sqls["events_type_hour_mi"] = """
        WITH j AS (SELECT event_type AS x, hour(ts) AS y, count(*) AS n
                   FROM events GROUP BY 1, 2),
        t AS (SELECT CAST(sum(n) AS DOUBLE) AS tn FROM j),
        mx AS (SELECT x, sum(n) AS nx FROM j GROUP BY 1),
        my AS (SELECT y, sum(n) AS ny FROM j GROUP BY 1),
        hx AS (SELECT CAST(sum(CAST(round(
                 -(CAST(nx AS DOUBLE) / t.tn)
                 * ln(CAST(nx AS DOUBLE) / t.tn), 9)
                 AS DECIMAL(27,18))) AS DOUBLE) AS h FROM mx, t),
        hy AS (SELECT CAST(sum(CAST(round(
                 -(CAST(ny AS DOUBLE) / t.tn)
                 * ln(CAST(ny AS DOUBLE) / t.tn), 9)
                 AS DECIMAL(27,18))) AS DOUBLE) AS h FROM my, t),
        mi AS (SELECT CAST(sum(CAST(round(
                 (CAST(n AS DOUBLE) / t.tn)
                 * ln((CAST(n AS DOUBLE) * t.tn)
                      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 9)
                 AS DECIMAL(27,18))) AS DOUBLE) AS mi
               FROM j JOIN mx USING (x) JOIN my USING (y), t)
        SELECT CAST(t.tn AS BIGINT) AS n, round(mi.mi, 6) AS mi,
               round(hx.h, 6) AS h_x, round(hy.h, 6) AS h_y,
               round(CASE WHEN least(hx.h, hy.h) > 0
                          THEN mi.mi / least(hx.h, hy.h)
                          ELSE CAST(0.0 AS DOUBLE) END, 6) AS nmi
        FROM t, mi, hx, hy
    """

    # r5: CUSUM — DECIMAL cumsum of round-6 deviations from the mean.
    sqls["events_cusum"] = """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
                       FROM events GROUP BY 1),
        mu AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mu FROM daily),
        c AS (
          SELECT day, n,
            CAST(sum(CAST(round(CAST(n AS DOUBLE) - mu, 6)
                          AS DECIMAL(27,6))) OVER (
                   ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE)
              AS cusum
          FROM daily, mu
        ),
        p AS (SELECT *, max(abs(cusum)) OVER () AS pk FROM c)
        SELECT strftime(day, '%Y-%m-%d') AS day, n,
               round(cusum, 6) AS cusum,
               abs(cusum) = pk AS is_peak
        FROM p ORDER BY day
    """

    # r5: 2-regressor OLS — nine decimal-exact moments, Cramer in
    # identically-parenthesized double arithmetic.
    sqls["pricing_model_ols"] = f"""
        WITH m AS (
          SELECT count(*) AS n,
            {_dsum_sql('l_quantity')} AS s1,
            {_dsum_sql('l_discount')} AS s2,
            {_dsum_sql('l_extendedprice')} AS sy,
            {_dsum_sql('l_quantity * l_quantity')} AS s11,
            {_dsum_sql('l_discount * l_discount')} AS s22,
            {_dsum_sql('l_quantity * l_discount')} AS s12,
            {_dsum_sql('l_quantity * l_extendedprice')} AS s1y,
            {_dsum_sql('l_discount * l_extendedprice')} AS s2y,
            {_dsum_sql('l_extendedprice * l_extendedprice')} AS syy
          FROM lineitem
        ),
        d AS (
          SELECT n,
            s1 / CAST(n AS DOUBLE) AS m1, s2 / CAST(n AS DOUBLE) AS m2,
            sy / CAST(n AS DOUBLE) AS my,
            s11 / CAST(n AS DOUBLE) AS e11, s22 / CAST(n AS DOUBLE) AS e22,
            s12 / CAST(n AS DOUBLE) AS e12, s1y / CAST(n AS DOUBLE) AS e1y,
            s2y / CAST(n AS DOUBLE) AS e2y, syy / CAST(n AS DOUBLE) AS eyy
          FROM m
        ),
        cv AS (
          SELECT n, m1, m2, my,
            e11 - m1 * m1 AS s11, e22 - m2 * m2 AS s22,
            e12 - m1 * m2 AS s12, e1y - m1 * my AS c1,
            e2y - m2 * my AS c2, eyy - my * my AS vy
          FROM d
        ),
        b AS (
          SELECT n, m1, m2, my, c1, c2, vy,
            (s22 * c1 - s12 * c2) / (s11 * s22 - s12 * s12) AS b1,
            (s11 * c2 - s12 * c1) / (s11 * s22 - s12 * s12) AS b2
          FROM cv
        )
        SELECT n, round(my - b1 * m1 - b2 * m2, 6) AS b0,
               round(b1, 6) AS b1_quantity, round(b2, 6) AS b2_discount,
               round((b1 * c1 + b2 * c2) / vy, 6) AS r2
        FROM b
    """

    # r5: Kaplan–Meier — survival product as exp of a DECIMAL cumsum
    # of round-9 ln terms; a sticky cummax flag replaces ln(0) when a
    # duration kills every at-risk user.  Summed counts CAST BIGINT
    # (DuckDB sums are HUGEINT -> float64 in pandas otherwise).
    sqls["events_kaplan_meier"] = """
        WITH pu AS (SELECT user_id, min(ts) AS f, max(ts) AS l
                    FROM events GROUP BY 1),
        oe AS (SELECT max(ts) AS e FROM events),
        u AS (
          SELECT date_diff('day', CAST(f AS DATE), CAST(l AS DATE))
                   AS duration_days,
                 CASE WHEN date_diff('day', CAST(l AS DATE),
                                     CAST(e AS DATE)) >= 7
                      THEN 1 ELSE 0 END AS died
          FROM pu, oe
        ),
        g AS (SELECT duration_days,
                     CAST(sum(died) AS BIGINT) AS deaths,
                     CAST(sum(1 - died) AS BIGINT) AS censored
              FROM u GROUP BY 1),
        g2 AS (SELECT *,
                 CAST(sum(deaths + censored) OVER (
                   ORDER BY duration_days
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                 AS BIGINT) AS n_risk
               FROM g),
        g3 AS (SELECT *,
                 max(CASE WHEN deaths = n_risk THEN 1 ELSE 0 END) OVER (
                   ORDER BY duration_days ROWS UNBOUNDED PRECEDING)
                   AS dead_all,
                 sum(CASE WHEN deaths < n_risk THEN
                       CAST(round(ln(CAST(1.0 AS DOUBLE)
                                     - CAST(deaths AS DOUBLE)
                                       / CAST(n_risk AS DOUBLE)), 9)
                            AS DECIMAL(27,18))
                     ELSE CAST(0 AS DECIMAL(27,18)) END) OVER (
                   ORDER BY duration_days ROWS UNBOUNDED PRECEDING)
                   AS lnsum
               FROM g2)
        SELECT duration_days, n_risk, deaths, censored,
               round(CASE WHEN dead_all = 1 THEN CAST(0.0 AS DOUBLE)
                          ELSE exp(CAST(lnsum AS DOUBLE)) END, 6)
                 AS survival
        FROM g3 ORDER BY duration_days
    """

    # r5: Heaps'-law growth fit over a fixed doc-id-domain grid.
    sqls["text_heaps_fit"] = f"""
        WITH d AS (
          SELECT doc_id, {w} AS ws FROM documents
          WHERE length({_norm_sql('text')}) >= 1
        ),
        bnd AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM d),
        wb AS (
          SELECT least(CAST(floor(CAST(doc_id - lo AS DOUBLE)
                   / greatest(CAST(hi - lo + 1 AS DOUBLE),
                              CAST(1.0 AS DOUBLE)) * 24) AS BIGINT),
                   23) AS bk, ws
          FROM d, bnd
        ),
        tok AS (SELECT bk, unnest(ws) AS w FROM wb),
        fb AS (SELECT w, min(bk) AS fb FROM tok GROUP BY 1),
        nw AS (SELECT fb AS bk, count(*) AS nw FROM fb GROUP BY 1),
        nt AS (SELECT bk, count(*) AS nt FROM tok GROUP BY 1),
        curve AS (
          SELECT nt.bk,
                 sum(nt.nt) OVER (ORDER BY nt.bk
                                  ROWS UNBOUNDED PRECEDING) AS n_tokens,
                 sum(COALESCE(nw.nw, 0)) OVER (ORDER BY nt.bk
                                  ROWS UNBOUNDED PRECEDING) AS vocab
          FROM nt LEFT JOIN nw ON nw.bk = nt.bk
        ),
        xy AS (
          SELECT round(ln(CAST(n_tokens AS DOUBLE)), 6) AS x,
                 round(ln(CAST(vocab AS DOUBLE)), 6) AS y
          FROM curve WHERE n_tokens > 0 AND vocab > 0
        ),
        m AS (
          SELECT count(*) AS n_points,
            CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
            CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
            CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
            CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
          FROM xy
        ),
        s AS (
          SELECT n_points,
            (CAST(n_points AS DOUBLE) * sxy - sx * sy)
              / (CAST(n_points AS DOUBLE) * sxx - sx * sx) AS beta_raw,
            sx, sy
          FROM m
        )
        SELECT n_points,
               round(beta_raw, 6) + CAST(0.0 AS DOUBLE) AS beta,
               round(exp((sy - beta_raw * sx)
                         / CAST(n_points AS DOUBLE)), 6) AS k
        FROM s
    """

    # r5: Good–Turing count-of-counts; r* undefined (NULL) when
    # N_{{r+1}} is unobserved, both engines alike.
    sqls["text_good_turing"] = f"""
        WITH tok AS (
          SELECT unnest({w}) AS w FROM documents
          WHERE length({_norm_sql('text')}) >= 1
        ),
        f AS (SELECT w, count(*) AS r FROM tok GROUP BY 1),
        nr AS (SELECT r, count(*) AS n_r FROM f GROUP BY 1
               HAVING r <= 10000),
        sh AS (SELECT r - 1 AS r, n_r AS nn FROM nr)
        SELECT nr.r, nr.n_r,
               round(CAST(nr.r + 1 AS DOUBLE) * sh.nn / nr.n_r, 6)
                 AS r_star
        FROM nr LEFT JOIN sh ON sh.r = nr.r
        ORDER BY nr.r
    """

    # r5: spherical k-means — pivot init, 2 unrolled Lloyd steps.
    # Assignment ties to the lowest cluster id; centroid components
    # are round-9 DECIMAL-exact means, so both engines iterate on
    # bit-identical centroids.
    _km_prev = "c0"
    _km_ctes = []
    for _i in (1, 2):
        _km_acos = _cos_sql("e.embedding", "p.cvec")
        _km_ctes.append(f"""
        a{_i} AS (
          SELECT vec_id, vec, cluster FROM (
            SELECT e.vec_id, e.embedding AS vec, p.cluster,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY round({_km_acos}, 6) DESC, p.cluster) AS rn
            FROM embeddings e, {_km_prev} p
          ) WHERE rn = 1
        ),
        u{_i} AS (
          SELECT cluster, dim,
                 round(CAST(sum(CAST(round(CAST(vec[dim] AS DOUBLE), 9)
                                     AS DECIMAL(27,18))) AS DOUBLE)
                       / count(*), 9) AS m
          FROM (SELECT cluster, vec,
                       unnest(generate_series(1, len(vec))) AS dim
                FROM a{_i})
          GROUP BY 1, 2
        ),
        c{_i} AS (SELECT cluster, list(m ORDER BY dim) AS cvec
                  FROM u{_i} GROUP BY 1)""")
        _km_prev = f"c{_i}"
    _km_fcos = _cos_sql("e.embedding", "p.cvec")
    _km_ocos = _cos_sql("af.vec", "cf.cvec")
    sqls["embedding_kmeans_fixed"] = f"""
        WITH c0 AS (SELECT vec_id AS cluster, embedding AS cvec
                    FROM embeddings ORDER BY vec_id LIMIT 8),
        {",".join(_km_ctes)},
        af AS (
          SELECT vec_id, vec, cluster FROM (
            SELECT e.vec_id, e.embedding AS vec, p.cluster,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY round({_km_fcos}, 6) DESC, p.cluster) AS rn
            FROM embeddings e, c2 p
          ) WHERE rn = 1
        )
        SELECT af.vec_id, af.cluster, round({_km_ocos}, 6) AS cosine
        FROM af JOIN c2 cf USING (cluster)
    """

    # r5: HITS — mutual power steps, each half-step a round-9 DECIMAL
    # contribution sum followed by L1 normalization by a 1-row
    # DECIMAL-exact total (no sqrt, so the float contract holds).
    _hits_ctes = []
    _hprev = "h0"
    for _i in (1, 2, 3):
        for _tag, _kin, _kout in (("a", "src", "dst"), ("h", "dst", "src")):
            _cur = f"{_tag}{_i}"
            _hits_ctes.append(f"""
        {_cur}r AS (
          SELECT e.{_kout} AS vertex,
                 CAST(sum(CAST(round(s.score, 9) AS DECIMAL(27,18)))
                      AS DOUBLE) AS raw
          FROM e JOIN {_hprev} s ON e.{_kin} = s.vertex GROUP BY 1
        ),
        {_cur}t AS (SELECT CAST(sum(CAST(raw AS DECIMAL(27,18)))
                                AS DOUBLE) AS t FROM {_cur}r),
        {_cur} AS (SELECT vertex, raw / {_cur}t.t AS score
                   FROM {_cur}r, {_cur}t)""")
            _hprev = _cur
    sqls["graph_hits_fixed"] = f"""
        WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst
                   FROM lineitem),
        srcs AS (SELECT DISTINCT src AS vertex FROM e),
        ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM srcs),
        h0 AS (SELECT vertex, CAST(1.0 AS DOUBLE) / ns.n AS score
               FROM srcs, ns),
        {",".join(_hits_ctes)}
        (SELECT 'authority' AS side, vertex, round(score, 6) AS score
         FROM a3 ORDER BY score DESC, vertex LIMIT 10)
        UNION ALL
        (SELECT 'hub' AS side, vertex, round(score, 6) AS score
         FROM h3 ORDER BY score DESC, vertex LIMIT 10)
    """

    # r5: Zipf OLS fit.  Slope must stay UNROUNDED inside the
    # intercept expression (the Spark side rounds only the outputs).
    sqls["text_zipf_slope"] = f"""
        WITH tok AS (
          SELECT unnest({w}) AS w FROM documents
          WHERE length({_norm_sql('text')}) >= 1
        ),
        f AS (SELECT w, count(*) AS freq FROM tok GROUP BY 1
              HAVING count(*) >= 2),
        r AS (SELECT w, freq,
                     row_number() OVER (ORDER BY freq DESC, w) AS rank
              FROM f),
        xy AS (SELECT round(ln(CAST(rank AS DOUBLE)), 6) AS x,
                      round(ln(CAST(freq AS DOUBLE)), 6) AS y
               FROM r),
        m AS (
          SELECT count(*) AS n_types,
            CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
            CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
            CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
            CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
          FROM xy
        ),
        s AS (
          SELECT n_types,
            (CAST(n_types AS DOUBLE) * sxy - sx * sy)
              / (CAST(n_types AS DOUBLE) * sxx - sx * sx) AS slope_raw,
            sx, sy
          FROM m
        )
        SELECT n_types, round(slope_raw, 6) AS slope,
               round((sy - slope_raw * sx) / CAST(n_types AS DOUBLE), 6)
                 AS intercept
        FROM s
    """

    # r5: term burstiness (Church & Gale 1995).
    sqls["text_term_burstiness"] = f"""
        WITH d AS (
          SELECT doc_id, {w} AS ws FROM documents
          WHERE length({_norm_sql('text')}) >= 1
        ),
        tok AS (SELECT doc_id, unnest(ws) AS w FROM d),
        s AS (
          SELECT w, count(*) AS cf, count(DISTINCT doc_id) AS df
          FROM tok GROUP BY 1 HAVING count(*) >= 10
        ),
        nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM d)
        SELECT w, cf, df,
          round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS burstiness,
          round(CAST(df AS DOUBLE)
                / (nd.nd * (CAST(1.0 AS DOUBLE)
                            - exp((-CAST(cf AS DOUBLE)) / nd.nd))), 6)
            AS df_vs_poisson
        FROM s, nd
    """

    # r5: Benford digit audit.  floor(value*100) is IEEE-exact and the
    # BIGINT->string render is engine-identical — no float formatting
    # or rounding-mode hazard in the digit bucketing.
    sqls["events_benford"] = """
        WITH b AS (
          SELECT substring(CAST(CAST(floor(value * CAST(100.0 AS DOUBLE))
                                AS BIGINT) AS VARCHAR), 1, 1) AS digit
          FROM events WHERE value >= CAST(0.01 AS DOUBLE)
        ),
        g AS (SELECT digit, count(*) AS n FROM b GROUP BY 1),
        t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM g)
        SELECT digit, n,
          round(CAST(n AS DOUBLE) / t.tot, 6) AS share,
          round(log10(CAST(1.0 AS DOUBLE)
                      + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)
            AS expected,
          round(CAST(n AS DOUBLE) / t.tot
                - log10(CAST(1.0 AS DOUBLE)
                        + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)
            AS deviation
        FROM g, t ORDER BY digit
    """

    # r5: Markov stationary distribution — the pagerank unrolled-CTE
    # pattern over the events_transitions chain (same tie-break).
    _mk_iters = []
    _mprev = "v0"
    for _i in (1, 2, 3):
        _mk_iters.append(f"""
        s{_i} AS (
          SELECT P.to_type AS state,
                 CAST(sum(CAST(round(v.prob * P.p, 9) AS DECIMAL(27,18)))
                      AS DOUBLE) AS _in
          FROM P JOIN {_mprev} v ON P.from_type = v.state GROUP BY 1
        ),
        v{_i} AS (
          SELECT st.state, COALESCE(s{_i}._in, CAST(0.0 AS DOUBLE)) AS prob
          FROM states st LEFT JOIN s{_i} ON s{_i}.state = st.state
        )""")
        _mprev = f"v{_i}"
    sqls["events_markov_stationary"] = f"""
        WITH seq AS (
          SELECT event_type AS to_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS from_type
          FROM events
        ),
        c AS (SELECT from_type, to_type, count(*) AS n
              FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
        tot AS (SELECT from_type, sum(n) AS rt FROM c GROUP BY 1),
        P AS (SELECT c.from_type, c.to_type,
                     round(CAST(n AS DOUBLE) / rt, 9) AS p
              FROM c JOIN tot USING (from_type)),
        states AS (SELECT DISTINCT event_type AS state FROM events),
        k AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM states),
        v0 AS (SELECT state, CAST(1.0 AS DOUBLE) / k.k AS prob
               FROM states, k),
        {",".join(_mk_iters)}
        SELECT state, round(prob, 6) AS prob FROM v3 ORDER BY state
    """

    # r5: entropy rate — composition of the stationary π (round-6
    # output contract) and events_transitions' round-6 P.
    sqls["events_markov_entropy"] = f"""
        WITH seq AS (
          SELECT event_type AS to_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS from_type
          FROM events
        ),
        c AS (SELECT from_type, to_type, count(*) AS n
              FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
        tot AS (SELECT from_type, sum(n) AS rt FROM c GROUP BY 1),
        P AS (SELECT c.from_type, c.to_type,
                     round(CAST(n AS DOUBLE) / rt, 9) AS p
              FROM c JOIN tot USING (from_type)),
        states AS (SELECT DISTINCT event_type AS state FROM events),
        k AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM states),
        v0 AS (SELECT state, CAST(1.0 AS DOUBLE) / k.k AS prob
               FROM states, k),
        {",".join(_mk_iters)},
        vf AS (SELECT state, round(prob, 6) AS prob FROM v3),
        P6 AS (SELECT c.from_type, c.to_type,
                      round(CAST(n AS DOUBLE) / rt, 6) AS p
               FROM c JOIN tot USING (from_type)),
        terms AS (
          SELECT CAST(round(vf.prob * P6.p * ln(P6.p), 9)
                      AS DECIMAL(27,18)) AS t
          FROM P6 JOIN vf ON P6.from_type = vf.state
        )
        SELECT (SELECT count(*) FROM vf) AS n_states,
               round(-CAST(sum(t) AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS entropy_rate
        FROM terms
    """

    # r5: skip-gram PMI.  Pairs canonicalize by binary string order on
    # normalized [a-z0-9] words (collation-proof); the PMI expression
    # has identical parenthesization to the Spark side so the doubles
    # match bit-for-bit before the 6-dp round.
    sqls["text_pmi_cooccurrence"] = f"""
        WITH d AS (
          SELECT doc_id, {w} AS ws FROM documents
          WHERE length({_norm_sql('text')}) >= 1
        ),
        tok AS (
          SELECT doc_id, p, ws[p] AS w
          FROM (SELECT doc_id, ws,
                       unnest(generate_series(1, len(ws))) AS p
                FROM d)
        ),
        pr AS (
          SELECT least(a.w, b.w) AS w_a, greatest(a.w, b.w) AS w_b
          FROM tok a JOIN tok b
            ON a.doc_id = b.doc_id AND b.p - a.p BETWEEN 1 AND 2
        ),
        pc AS (SELECT w_a, w_b, count(*) AS pair_count FROM pr GROUP BY 1, 2),
        uc AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        tot AS (SELECT (SELECT count(*) FROM pr) AS P,
                       (SELECT count(*) FROM tok) AS T)
        SELECT pc.w_a, pc.w_b, pc.pair_count,
               round(ln((CAST(pc.pair_count AS DOUBLE) * tot.T * tot.T)
                        / (CAST(tot.P AS DOUBLE) * ua.c * ub.c)), 6) AS pmi
        FROM pc, tot
        JOIN uc ua ON ua.w = pc.w_a
        JOIN uc ub ON ub.w = pc.w_b
        WHERE pc.pair_count >= 5
    """

    # r5: PassJoin edit-distance join.  The oracle needs no blocking —
    # a length-banded quadratic pass is exact at gate scale; the Spark
    # side's pigeonhole candidate generation must be COMPLETE for the
    # hashes to match, which is the property under test.
    sqls["dedup_edit_distance"] = """
        WITH d AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
          FROM documents
        ),
        dd AS (SELECT doc_id, t, length(t) AS L FROM d WHERE length(t) >= 1)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
        FROM dd a JOIN dd b
          ON a.doc_id < b.doc_id AND abs(a.L - b.L) <= 5
        WHERE levenshtein(a.t, b.t) <= 5
    """

    sqls["dedup_substring_self"] = f"""
        WITH d AS (SELECT doc_id, {w} AS w FROM documents),
        s0 AS (
          SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS pos
          FROM d WHERE len(w) >= 3
        ),
        seeds AS (
          SELECT doc_id, pos,
                 substring(md5(array_to_string(
                   list_slice(w, pos, pos + 2), ' ')), 1, 16) AS gh
          FROM s0
        ),
        cool AS (SELECT gh FROM seeds GROUP BY gh HAVING count(*) <= 256),
        sf AS (SELECT seeds.* FROM seeds JOIN cool USING (gh)),
        diag AS (
          SELECT a.doc_id, a.pos AS pos_a, b.pos AS pos_b,
                 a.pos - b.pos AS dg
          FROM sf a JOIN sf b
            ON a.gh = b.gh AND a.doc_id = b.doc_id AND a.pos < b.pos
        ),
        runs AS (
          SELECT *, pos_a - row_number() OVER (
                      PARTITION BY doc_id, dg ORDER BY pos_a) AS rn
          FROM diag
        )
        SELECT doc_id, min(pos_a) AS start_a, min(pos_b) AS start_b,
               CAST(count(*) + 2 AS BIGINT) AS span_words
        FROM runs GROUP BY doc_id, dg, rn
        HAVING count(*) + 2 >= 3
    """

    sqls["dedup_decontaminate_spans"] = f"""
        WITH corpus AS (SELECT doc_id, text FROM documents
                        WHERE doc_id >= 20),
        bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
        d AS (SELECT doc_id, {w} AS w FROM corpus),
        cs0 AS (
          SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS pos
          FROM d WHERE len(w) >= 5
        ),
        cseeds AS (
          SELECT doc_id, pos,
                 substring(md5(array_to_string(
                   list_slice(w, pos, pos + 4), ' ')), 1, 16) AS gh
          FROM cs0
        ),
        ccool AS (SELECT gh FROM cseeds GROUP BY gh
                  HAVING count(*) <= 256),
        cf AS (SELECT cseeds.* FROM cseeds JOIN ccool USING (gh)),
        bd AS (SELECT doc_id AS bid, {w} AS w FROM bench),
        bs0 AS (
          SELECT bid, w, unnest(generate_series(1, len(w) - 4)) AS bpos
          FROM bd WHERE len(w) >= 5
        ),
        bseeds AS (
          SELECT bid, bpos,
                 substring(md5(array_to_string(
                   list_slice(w, bpos, bpos + 4), ' ')), 1, 16) AS gh
          FROM bs0
        ),
        bcool AS (SELECT gh FROM bseeds GROUP BY gh
                  HAVING count(*) <= 256),
        bf AS (SELECT bseeds.* FROM bseeds JOIN bcool USING (gh)),
        diag AS (
          SELECT cf.doc_id, bf.bid, cf.pos, bf.bpos,
                 cf.pos - bf.bpos AS dg
          FROM cf JOIN bf USING (gh)
        ),
        runs AS (
          SELECT *, pos - row_number() OVER (
                      PARTITION BY doc_id, bid, dg ORDER BY pos) AS rn
          FROM diag
        ),
        cuts AS (
          SELECT doc_id, min(pos) AS s, min(pos) + count(*) + 4 AS e
          FROM runs GROUP BY doc_id, bid, dg, rn
          HAVING count(*) + 4 >= 10
        ),
        poss AS (
          SELECT doc_id, w[p] AS word, p
          FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p
                FROM d)
        ),
        killed AS (
          SELECT DISTINCT poss.doc_id, poss.p
          FROM poss JOIN cuts
            ON cuts.doc_id = poss.doc_id
           AND poss.p >= cuts.s AND poss.p < cuts.e
        ),
        keptw AS (
          SELECT poss.doc_id, poss.p, poss.word
          FROM poss LEFT JOIN killed
            ON killed.doc_id = poss.doc_id AND killed.p = poss.p
          WHERE killed.p IS NULL
        ),
        agg AS (
          SELECT doc_id, count(*) AS n_kept,
                 string_agg(word, ' ' ORDER BY p) AS text_clean
          FROM keptw GROUP BY 1
        )
        SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_words,
               CAST(len(d.w) - COALESCE(agg.n_kept, 0) AS BIGINT)
                 AS n_words_removed,
               COALESCE(agg.text_clean, '') AS text_clean
        FROM d LEFT JOIN agg ON agg.doc_id = d.doc_id
    """

    def _substr_apply_sql(src: str = "documents") -> str:
        # inner CTE deliberately named keptw (not kept) so the
        # pretraining-pipeline composition can use an OUTER `kept`
        # CTE as src without any shadowing ambiguity
        return f"""
        WITH {_substr_core_sql(src)},
        poss AS (
          SELECT doc_id, w[p] AS word, p
          FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p
                FROM d)
        ),
        killed AS (
          SELECT DISTINCT s.doc_b AS doc_id, poss.p
          FROM spans s JOIN poss
            ON poss.doc_id = s.doc_b
           AND poss.p >= s.start_b AND poss.p < s.start_b + s.span_words
        ),
        keptw AS (
          SELECT poss.doc_id, poss.p, poss.word
          FROM poss LEFT JOIN killed
            ON killed.doc_id = poss.doc_id AND killed.p = poss.p
          WHERE killed.p IS NULL
        ),
        agg AS (
          SELECT doc_id, count(*) AS n_kept,
                 string_agg(word, ' ' ORDER BY p) AS text_clean
          FROM keptw GROUP BY 1
        )
        SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_words,
               CAST(len(d.w) - COALESCE(agg.n_kept, 0) AS BIGINT)
                 AS n_words_removed,
               COALESCE(agg.text_clean, '') AS text_clean
        FROM d LEFT JOIN agg ON agg.doc_id = d.doc_id
    """

    sqls["dedup_substring_apply"] = _substr_apply_sql()

    sqls["text_unigram_logprob"] = f"""
        WITH t AS (SELECT doc_id, unnest({w}) AS word FROM documents),
        tt AS (SELECT doc_id, word FROM t WHERE word <> ''),
        c AS (SELECT word, count(*) AS cnt FROM tt GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
        s AS (
          SELECT tt.doc_id,
                 CAST(round(log10(CAST(c.cnt AS DOUBLE) / tot.total), 6)
                      AS DECIMAL(27,6)) AS lp
          FROM tt JOIN c ON tt.word = c.word CROSS JOIN tot
        )
        SELECT doc_id, count(*) AS n_tokens,
               {round6_ratio_sql('sum(lp)', 'count(*)')} AS mean_logprob
        FROM s GROUP BY 1
    """

    _cc_core = f"""
        WITH RECURSIVE
        {_minhash_bands_sql()},
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        shd AS (SELECT doc_id, {_shingles_sql('text')} AS s FROM documents),
        verified AS (
          SELECT id_a, id_b FROM cand
          JOIN shd sa ON sa.doc_id = id_a
          JOIN shd sb ON sb.doc_id = id_b
          WHERE round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                / greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1),
                6) >= 0.5
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION
          SELECT id_b, id_a FROM verified
        ),
        reach AS (
          SELECT src AS v, dst AS u FROM edges
          UNION
          SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src
        ),
        comp AS (
          SELECT v, least(v, min(u)) AS component FROM reach GROUP BY v
        ),
        labeled AS (
          SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.v
        )
    """

    sqls["dedup_components"] = _cc_core + "SELECT doc_id, component FROM labeled"

    sqls["dedup_cluster_sizes"] = _cc_core + """
        , sizes AS (
          SELECT component, count(*) AS cluster_size FROM labeled GROUP BY 1
        )
        SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY 1
    """

    sqls["dedup_keep_best"] = _cc_core + f"""
        , kbq AS (
          SELECT doc_id,
            round(
              (CASE WHEN len(w) >= 10 AND len(w) <= 100000
                    THEN 0.25 ELSE 0.0 END)
              + (CASE WHEN round(CAST(COALESCE(list_sum(
                           list_transform(w, x -> length(x))), 0) AS DOUBLE)
                         / greatest(len(w), 1), 6) >= 3
                   AND round(CAST(COALESCE(list_sum(
                           list_transform(w, x -> length(x))), 0) AS DOUBLE)
                         / greatest(len(w), 1), 6) <= 10
                    THEN 0.25 ELSE 0.0 END)
              + (CASE WHEN round(CAST(length(regexp_replace(lower(text),
                           '[^a-z]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1), 6) >= 0.6
                    THEN 0.25 ELSE 0.0 END)
              + (CASE WHEN round(CAST(len(list_filter(w,
                           x -> list_contains({en}, x))) AS DOUBLE)
                         / greatest(len(w), 1), 6) >= 0.05
                    THEN 0.25 ELSE 0.0 END), 2) AS q
          FROM (SELECT doc_id, text, {w} AS w FROM documents)
        ),
        kbj AS (SELECT l.doc_id, l.component, kbq.q
                FROM labeled l JOIN kbq ON kbq.doc_id = l.doc_id),
        kbw AS (SELECT component,
                  CAST(count(*) AS BIGINT) AS cluster_size,
                  max(q) AS best_score
                FROM kbj GROUP BY 1),
        kbk AS (SELECT j.component, min(j.doc_id) AS keep_id
                FROM kbj j JOIN kbw ww
                  ON j.component = ww.component AND j.q = ww.best_score
                GROUP BY 1)
        SELECT k.component, k.keep_id, ww.cluster_size, ww.best_score
        FROM kbk k JOIN kbw ww ON k.component = ww.component
    """

    sqls["events_user_rfm"] = """
        WITH m AS (SELECT max(ts) AS max_ts FROM events),
        u AS (SELECT user_id, max(ts) AS last_ts, min(ts) AS first_ts,
                     count(*) AS frequency,
                     CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                       AS monetary
              FROM events GROUP BY 1)
        SELECT user_id,
               CAST(date_diff('day', CAST(last_ts AS DATE),
                              CAST(max_ts AS DATE)) AS BIGINT)
                 AS recency_days,
               frequency, monetary,
               round(CAST(CAST(floor(epoch(last_ts)) AS BIGINT)
                          - CAST(floor(epoch(first_ts)) AS BIGINT) AS DOUBLE)
                     / greatest(frequency - 1, 1), 6) AS mean_gap_sec
        FROM u, m ORDER BY user_id
    """

    _ref_bands = _minhash_bands_sql(
        src="(SELECT * FROM documents WHERE doc_id < 250)", prefix="ref_"
    )
    _inc_bands = _minhash_bands_sql(
        src="(SELECT * FROM documents WHERE doc_id >= 250)", prefix="inc_"
    )
    sqls["dedup_screen_vs_index"] = f"""
        WITH {_ref_bands},
        {_inc_bands}
        SELECT d.doc_id FROM documents d
        WHERE d.doc_id >= 250
          AND NOT EXISTS (
            SELECT 1 FROM inc_bands ib
            JOIN ref_bands rb
              ON ib.band_id = rb.band_id AND ib.band_key = rb.band_key
            WHERE ib.doc_id = d.doc_id
          )
    """

    sqls["dedup_decontaminate"] = f"""
        WITH grams AS (
          SELECT doc_id, gs FROM (
            SELECT doc_id,
                   CASE WHEN len(w) >= 3 THEN
                     list_distinct(list_transform(generate_series(1, len(w) - 2),
                       i -> substring(md5(concat(w[i], ' ', w[i+1], ' ', w[i+2])),
                                      1, 16)))
                   ELSE [] END AS gs
            FROM (SELECT doc_id, {w} AS w FROM documents))
        ),
        bench AS (
          SELECT DISTINCT unnest(gs) AS gh FROM grams WHERE doc_id < 20
        ),
        corpus AS (
          SELECT doc_id, unnest(gs) AS gh FROM grams WHERE doc_id >= 20
        ),
        per_doc AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1),
        hits AS (
          SELECT doc_id, count(*) AS n_contaminated
          FROM corpus WHERE gh IN (SELECT gh FROM bench) GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
               COALESCE(h.n_contaminated, 0) > 0 AS contaminated
        FROM documents d
        LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id >= 20
    """

    _sd_sign8 = " + ".join(
        f"(CASE WHEN embedding[{b + 1}] > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(8)
    )
    _sd_cos = _cos_sql("a.embedding", "b.embedding")
    sqls["dedup_semantic"] = f"""
        WITH s AS (
          SELECT vec_id, label, embedding,
                 CAST({_sd_sign8} AS BIGINT) AS g
          FROM embeddings
        ),
        kills AS (
          SELECT DISTINCT b.vec_id AS kid
          FROM s a JOIN s b ON a.g = b.g AND a.vec_id < b.vec_id
          WHERE round({_sd_cos}, 6) >= 0.3
        )
        SELECT vec_id, label FROM embeddings
        WHERE vec_id NOT IN (SELECT kid FROM kills)
    """

    sqls["text_corpus_stats"] = """
        WITH d AS (
          SELECT lang, source,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok,
                 length(text) AS nch
          FROM documents
        )
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS total_tokens,
               round(CAST(sum(CAST(tok AS DECIMAL(27,6))) AS DOUBLE)
                     / count(*), 6) AS mean_tokens,
               round(quantile_cont(tok, 0.5), 6) AS p50_tokens,
               CAST(sum(nch) AS BIGINT) AS total_chars
        FROM d GROUP BY lang, source
    """

    def _prof_row(col: str, numeric: bool) -> str:
        mean = (
            f"round(CAST(sum(CAST({col} AS DECIMAL(27,6))) AS DOUBLE)"
            f" / count({col}), 6)"
            if numeric else "CAST(NULL AS DOUBLE)"
        )
        return f"""
          SELECT '{col}' AS "column", count(*) AS n_rows,
                 count(*) - count({col}) AS n_null,
                 count(DISTINCT {col}) AS n_distinct,
                 CAST(min({col}) AS VARCHAR) AS min_value,
                 CAST(max({col}) AS VARCHAR) AS max_value,
                 {mean} AS mean
          FROM lineitem"""

    sqls["profile_lineitem"] = " UNION ALL ".join([
        _prof_row("l_quantity", True),
        _prof_row("l_extendedprice", True),
        _prof_row("l_returnflag", False),
        _prof_row("l_shipdate", False),
    ])

    sqls["check_expectations"] = """
        WITH s AS (
          SELECT count(o_orderkey) - count(DISTINCT o_orderkey) AS v1,
                 count(CASE WHEN o_custkey IS NULL THEN 1 END) AS v2,
                 count(CASE WHEN o_totalprice < 0 OR o_totalprice IS NULL
                            THEN 1 END) AS v3,
                 count(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                            OR o_orderstatus IS NULL THEN 1 END) AS v4,
                 count(CASE WHEN NOT regexp_full_match(o_orderpriority,
                                                       '([1-5]-[A-Z ]+)')
                            OR o_orderpriority IS NULL THEN 1 END) AS v5
          FROM orders
        )
        SELECT 'orderkey_unique' AS rule, 'unique' AS kind,
               v1 AS n_violations, v1 = 0 AS passed FROM s
        UNION ALL SELECT 'custkey_not_null', 'not_null', v2, v2 = 0 FROM s
        UNION ALL SELECT 'totalprice_non_negative', 'non_negative', v3,
                         v3 = 0 FROM s
        UNION ALL SELECT 'status_in_set', 'in_set', v4, v4 = 0 FROM s
        UNION ALL SELECT 'priority_format', 'matches', v5, v5 = 0 FROM s
    """

    sqls["sample_n_per_group"] = """
        WITH r AS (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(concat('42', '-', CAST(doc_id AS VARCHAR))),
                            doc_id) AS rnk
          FROM documents)
        SELECT doc_id, lang FROM r WHERE rnk <= 30
    """

    sqls["pack_token_budget"] = """
        WITH tok AS (
          SELECT doc_id,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END
                      AS BIGINT) AS ws_tokens
          FROM documents)
        SELECT doc_id, ws_tokens,
               CAST(COALESCE(sum(ws_tokens) OVER (
                      ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    // 500 AS BIGINT) AS pack_id
        FROM tok
    """

    _lfs_bands = _minhash_bands_sql()
    sqls["dedup_leakage_split"] = f"""
        WITH RECURSIVE
        {_lfs_bands},
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        shd AS (SELECT doc_id, {_shingles_sql('text')} AS s FROM documents),
        verified AS (
          SELECT id_a, id_b FROM cand
          JOIN shd sa ON sa.doc_id = id_a
          JOIN shd sb ON sb.doc_id = id_b
          WHERE round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                / greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1),
                6) >= 0.5
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION
          SELECT id_b, id_a FROM verified
        ),
        reach AS (
          SELECT src AS v, dst AS u FROM edges
          UNION
          SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src
        ),
        comp AS (
          SELECT v, least(v, min(u)) AS component FROM reach GROUP BY v
        ),
        labeled AS (
          SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.v
        )
        SELECT doc_id, component,
               CASE WHEN CAST(CAST(concat('0x', substring(
                        md5(concat('42', '-', CAST(component AS VARCHAR))), 1, 6))
                      AS UBIGINT) AS BIGINT) < 4194304
                    THEN 'holdout' ELSE 'train' END AS split
        FROM labeled
    """

    _pos = "['good', 'great', 'fast', 'big', 'excellent', 'love', 'best']"
    _neg = "['bad', 'poor', 'slow', 'small', 'terrible', 'hate', 'worst']"
    sqls["text_sentiment"] = f"""
        WITH d AS (
          SELECT doc_id, text, {w} AS wt FROM documents
        ),
        c AS (
          SELECT doc_id, text,
                 CAST(len(list_filter(wt, x -> list_contains({_pos}, x)))
                       AS BIGINT) AS n_pos,
                 CAST(len(list_filter(wt, x -> list_contains({_neg}, x)))
                       AS BIGINT) AS n_neg
          FROM d
        ),
        p AS (
          SELECT doc_id, text, n_pos, n_neg,
                 CASE WHEN n_pos + n_neg = 0 THEN 0.0
                      ELSE round(CAST(n_pos - n_neg AS DOUBLE)
                                 / (n_pos + n_neg), 6) END AS polarity
          FROM c
        )
        SELECT *, CASE WHEN polarity > 0.2 THEN 'positive'
                       WHEN polarity < -0.2 THEN 'negative'
                       ELSE 'neutral' END AS sentiment
        FROM p
    """

    _trail_src = (
        "(SELECT user_id AS doc_id, "
        "string_agg(event_type, ' ' ORDER BY ts, event_id) AS text "
        "FROM events GROUP BY user_id)"
    )
    _tr_bands = _minhash_bands_sql(num_hashes=9, bands=9, k=20, src=_trail_src, prefix="tr_")
    sqls["events_similar_users"] = f"""
        WITH {_tr_bands},
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM tr_bands a JOIN tr_bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        shd AS (SELECT doc_id, {_shingles_sql('text', 20)} AS s
                FROM {_trail_src} t)
        SELECT id_a, id_b,
          round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                / greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1),
                6) AS jaccard
        FROM cand
        JOIN shd sa ON sa.doc_id = id_a
        JOIN shd sb ON sb.doc_id = id_b
        WHERE round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                / greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1),
                6) >= 0.2
    """

    sqls["events_daily_anomalies"] = f"""
        WITH daily AS (
          SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                 {_dsum_sql('value')} AS day_value
          FROM events GROUP BY 1, 2
        ),
        m AS (
          SELECT event_type, count(*) AS n,
                 CAST(sum(CAST(day_value AS {DEC})) AS DOUBLE) AS s1,
                 CAST(sum(CAST(day_value * day_value AS {DEC})) AS DOUBLE) AS s2
          FROM daily GROUP BY 1
        )
        SELECT d.event_type, d.day, round(d.day_value, 6) AS day_value,
               round((d.day_value - s1 / n)
                     / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 1e-12)),
                     6) AS z,
               abs(round((d.day_value - s1 / n)
                     / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 1e-12)),
                     6)) > 3.0 AS is_anomaly
        FROM daily d JOIN m USING (event_type)
    """

    _bm25_terms = "['fast', 'join', 'window']"
    sqls["text_bm25"] = f"""
        WITH lens AS (
          SELECT doc_id,
                 len(list_filter({w}, x -> x <> '')) AS dlen
          FROM documents
        ),
        stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(CAST(dlen AS DECIMAL(27,6))) AS DOUBLE) / count(*)
                   AS avglen
          FROM lens
        ),
        terms AS (
          SELECT doc_id, word, count(*) AS tf FROM (
            SELECT doc_id, unnest({w}) AS word FROM documents)
          WHERE list_contains({_bm25_terms}, word)
          GROUP BY doc_id, word
        ),
        dfreq AS (SELECT word, count(*) AS df FROM terms GROUP BY word),
        scored AS (
          SELECT t.doc_id, count(*) AS n_terms_hit,
                 round(CAST(sum(CAST(round(
                     ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                     * (t.tf * (1.2 + 1.0)
                        / (t.tf + 1.2 * (1.0 - 0.75
                           + 0.75 * l.dlen / s.avglen))), 9)
                   AS DECIMAL(27,9))) AS DOUBLE), 6) AS score
          FROM terms t
          JOIN dfreq d USING (word)
          JOIN lens l ON l.doc_id = t.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        )
        SELECT doc_id, n_terms_hit, score,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
                 AS rank
        FROM scored
        ORDER BY score DESC, doc_id LIMIT 20
    """

    _qa_sign8 = " + ".join(
        f"(CASE WHEN embedding[{b + 1}] > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(8)
    )
    _qa_idot = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(generate_series(1, len(qqv)),"
        " i -> CAST(qqv[i] AS BIGINT) * CAST(cqv[i] AS BIGINT))),"
        " (acc, v) -> acc + v)"
    )
    sqls["ann_int8"] = f"""
        WITH a AS (
          SELECT vec_id, embedding, CAST({_qa_sign8} AS BIGINT) AS g,
                 greatest(list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS amax
          FROM embeddings
        ),
        qz AS (
          SELECT vec_id, g,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / amax)
                        AS INTEGER)) AS qv,
                 amax / 127.0 AS scale
          FROM a
        ),
        qq AS (SELECT vec_id AS query_id, g, qv AS qqv, scale AS qscale
               FROM qz WHERE vec_id < 5),
        cc AS (SELECT vec_id AS neighbor_id, g, qv AS cqv, scale AS cscale
               FROM qz),
        scored AS (
          SELECT query_id, neighbor_id,
                 round(CAST({_qa_idot} AS DOUBLE) * qscale * cscale, 6)
                   AS approx_dot
          FROM qq JOIN cc USING (g)
          WHERE query_id <> neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, approx_dot,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY approx_dot DESC, neighbor_id)
                   AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, approx_dot, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 5
    """

    _cp_bands = _minhash_bands_sql(src="dd0", prefix="cp_")
    _cp_grams = (
        "CASE WHEN len(w) >= 3 THEN"
        " list_distinct(list_transform(generate_series(1, len(w) - 2),"
        " i -> substring(md5(concat(w[i], ' ', w[i+1], ' ', w[i+2])), 1, 16)))"
        " ELSE [] END"
    )
    sqls["curation_pipeline"] = f"""
        WITH cor AS (
          SELECT doc_id, text, lang FROM documents WHERE doc_id >= 20
        ),
        qw AS (SELECT doc_id, text, {w} AS w FROM cor),
        qf AS (
          SELECT doc_id FROM (
            SELECT doc_id,
              round(
                (CASE WHEN len(w) BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END)
                + (CASE WHEN round(CAST(COALESCE(list_sum(list_transform(w,
                       x -> length(x))), 0) AS DOUBLE) / greatest(len(w), 1), 6)
                     BETWEEN 3 AND 10 THEN 0.25 ELSE 0.0 END)
                + (CASE WHEN round(CAST(length(regexp_replace(lower(text),
                       '[^a-z]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1), 6) >= 0.6
                     THEN 0.25 ELSE 0.0 END)
                + (CASE WHEN round(CAST(len(list_filter(w,
                       x -> list_contains({en}, x))) AS DOUBLE)
                     / greatest(len(w), 1), 6) >= 0.05
                     THEN 0.25 ELSE 0.0 END), 2) AS quality
            FROM qw)
          WHERE quality >= 0.9
        ),
        dd0 AS (SELECT c.doc_id, c.text, c.lang FROM cor c JOIN qf USING (doc_id)),
        {_cp_bands},
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM cp_bands a JOIN cp_bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        shd AS (SELECT doc_id, {_shingles_sql('text')} AS s FROM dd0),
        losers AS (
          SELECT DISTINCT id_b FROM cand
          JOIN shd sa ON sa.doc_id = id_a
          JOIN shd sb ON sb.doc_id = id_b
          WHERE round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                / greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1),
                6) >= 0.5
        ),
        dd AS (SELECT * FROM dd0
               WHERE doc_id NOT IN (SELECT id_b FROM losers)),
        bgr AS (
          SELECT DISTINCT unnest(gs) AS gh FROM (
            SELECT {_cp_grams} AS gs FROM
              (SELECT {w} AS w FROM documents WHERE doc_id < 20))
        ),
        cgr AS (
          SELECT doc_id, unnest(gs) AS gh FROM (
            SELECT doc_id, {_cp_grams} AS gs FROM
              (SELECT doc_id, {w} AS w FROM dd))
        ),
        contam AS (
          SELECT DISTINCT doc_id FROM cgr WHERE gh IN (SELECT gh FROM bgr)
        )
        SELECT doc_id, lang FROM dd
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)
          AND CAST(CAST(concat('0x', substring(
                md5(concat('11', '-', CAST(doc_id AS VARCHAR))), 1, 6))
              AS UBIGINT) AS BIGINT) < 8388608
    """

    _dq_cos = _cos_sql("embedding", "dq")
    sqls["embedding_quantize_int8"] = f"""
        WITH a AS (
          SELECT vec_id, embedding,
                 greatest(list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS amax
          FROM embeddings
        ),
        q AS (
          SELECT vec_id, embedding, amax,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / amax)
                        AS INTEGER)) AS qv
          FROM a
        ),
        d AS (
          SELECT vec_id, embedding, amax, qv,
                 list_transform(qv, v -> CAST(v AS DOUBLE) * (amax / 127.0))
                   AS dq
          FROM q
        )
        SELECT vec_id, {_arrstr_sql('qv', 'bigint')} AS qvec,
               round(amax / 127.0, 6) AS scale,
               round({_dq_cos}, 6) AS recon_cos
        FROM d
    """

    sqls["events_quantiles_by_type"] = """
        WITH q AS (SELECT event_type,
                          quantile_cont(value, [0.25, 0.5, 0.75, 0.9]) AS qs
                   FROM events GROUP BY 1)
        SELECT event_type, ([0.25, 0.5, 0.75, 0.9])[i] AS prob,
               round(qs[i], 6) AS quantile
        FROM q, LATERAL (SELECT unnest(generate_series(1, 4)) AS i) u
        ORDER BY event_type, prob
    """

    sqls["customer_rolling_revenue"] = """
        SELECT o_custkey,
               strftime(o_orderdate, '%Y-%m-%d') AS order_day,
               o_orderkey,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) OVER (
                   PARTITION BY o_custkey
                   ORDER BY date_diff('day', DATE '1970-01-01',
                                      CAST(o_orderdate AS DATE))
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 6) AS rolling_revenue
        FROM orders
    """

    sqls["events_cohort_retention"] = """
        WITH fs AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
                    FROM events GROUP BY 1),
        a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        j AS (SELECT a.user_id, fs.cohort_day,
                     date_diff('day', fs.cohort_day, a.day) AS day_offset
              FROM a JOIN fs ON a.user_id = fs.user_id)
        SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
               CAST(day_offset AS BIGINT) AS day_offset,
               count(*) AS n_active_users
        FROM j GROUP BY 1, 2 ORDER BY 1, 2
    """

    sqls["events_pareto_share"] = """
        WITH pu AS (SELECT user_id, count(*) AS n_events
                    FROM events GROUP BY 1),
        r AS (SELECT user_id, n_events,
                     ntile(10) OVER (ORDER BY n_events DESC, user_id) AS decile
              FROM pu),
        d AS (SELECT decile, count(*) AS n_users,
                     CAST(sum(n_events) AS BIGINT) AS ne
              FROM r GROUP BY 1),
        t AS (SELECT CAST(sum(ne) AS DOUBLE) AS total FROM d)
        SELECT decile, n_users, ne AS n_events,
               round(CAST(ne AS DOUBLE) / t.total, 6) AS share,
               round(CAST(sum(ne) OVER (ORDER BY decile
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t.total,
                     6) AS cum_share
        FROM d CROSS JOIN t ORDER BY decile
    """

    sqls["events_interarrival"] = """
        WITH g AS (
          SELECT event_type,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS gap_us
          FROM events
        ),
        gg AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL)
        SELECT event_type, count(*) AS n_gaps,
               round(CAST(sum(CAST(gap_us AS DECIMAL(27,6))) AS DOUBLE)
                     / count(*) / 1000000.0, 6) AS avg_gap_s,
               round(quantile_cont(gap_us, 0.5) / 1e6, 6) AS p50_gap_s,
               round(CAST(max(gap_us) AS DOUBLE) / 1000000.0, 6) AS max_gap_s
        FROM gg GROUP BY 1 ORDER BY 1
    """

    sqls["events_hourly_profile"] = """
        WITH h AS (SELECT hour(ts) AS hour, event_type, count(*) AS n
                   FROM events GROUP BY 1, 2)
        SELECT hour, event_type, n,
               round(CAST(n AS DOUBLE)
                     / CAST(sum(n) OVER (PARTITION BY hour) AS DOUBLE),
                     6) AS share_of_hour
        FROM h ORDER BY hour, event_type
    """

    sqls["events_new_vs_returning"] = """
        WITH fs AS (SELECT user_id, CAST(min(ts) AS DATE) AS first_day
                    FROM events GROUP BY 1),
        a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
        SELECT strftime(d, '%Y-%m-%d') AS day,
               CAST(sum(CASE WHEN d = first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS new_users,
               CAST(sum(CASE WHEN d <> first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS returning_users
        FROM a JOIN fs USING (user_id) GROUP BY 1 ORDER BY 1
    """

    sqls["events_type_cooccurrence"] = """
        WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_users
        FROM ut a JOIN ut b ON a.user_id = b.user_id
        WHERE a.event_type < b.event_type
        GROUP BY 1, 2 ORDER BY 1, 2
    """

    sqls["customer_ltv_deciles"] = """
        WITH pc AS (SELECT o_custkey,
                           sum(CAST(o_totalprice AS DECIMAL(27,6))) AS ltv
                    FROM orders GROUP BY 1),
        r AS (SELECT o_custkey, ltv,
                     ntile(10) OVER (ORDER BY ltv DESC, o_custkey) AS decile
              FROM pc),
        d AS (SELECT decile, count(*) AS n_customers,
                     sum(ltv) AS rev
              FROM r GROUP BY 1),
        t AS (SELECT CAST(sum(rev) AS DOUBLE) AS total FROM d)
        SELECT decile, n_customers,
               round(CAST(rev AS DOUBLE), 6) AS revenue,
               round(CAST(rev AS DOUBLE) / n_customers, 6) AS avg_ltv,
               round(CAST(rev AS DOUBLE) / t.total, 6) AS share
        FROM d CROSS JOIN t ORDER BY decile
    """

    sqls["shipping_delay_stats"] = """
        WITH x AS (
          SELECT o.o_orderpriority,
                 date_diff('day', o.o_orderdate, l.l_shipdate) AS delay_days
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT o_orderpriority, count(*) AS n_items,
               round(CAST(sum(CAST(delay_days AS DECIMAL(27,6))) AS DOUBLE)
                     / count(*), 6) AS avg_delay_days,
               round(quantile_cont(delay_days, 0.5), 6) AS p50_delay_days,
               CAST(max(delay_days) AS INT) AS max_delay_days,
               round(CAST(sum(CASE WHEN delay_days > 90 THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS late_frac
        FROM x GROUP BY 1 ORDER BY 1
    """

    sqls["text_lexical_diversity"] = f"""
        WITH tok AS (
          SELECT doc_id, unnest({w}) AS word FROM documents
        ),
        tf AS (SELECT doc_id, word, count(*) AS tf
               FROM tok WHERE word <> '' GROUP BY 1, 2),
        per AS (
          SELECT doc_id,
                 CAST(sum(tf) AS BIGINT) AS n_words,
                 count(*) AS n_distinct,
                 CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS hapax,
                 sum(CAST(round(CAST(tf AS DOUBLE)
                                * log2(CAST(tf AS DOUBLE)), 6)
                          AS DECIMAL(27,6))) AS clog
          FROM tf GROUP BY 1
        )
        SELECT d.doc_id,
               COALESCE(p.n_words, 0) AS n_words,
               COALESCE(p.n_distinct, 0) AS n_distinct,
               CASE WHEN p.n_words IS NULL THEN 0.0
                    ELSE round(CAST(p.n_distinct AS DOUBLE) / p.n_words, 6)
               END AS ttr,
               CASE WHEN p.n_distinct IS NULL THEN 0.0
                    ELSE round(CAST(p.hapax AS DOUBLE) / p.n_distinct, 6)
               END AS hapax_frac,
               CASE WHEN p.n_words IS NULL THEN 0.0
                    ELSE round(log2(CAST(p.n_words AS DOUBLE))
                               - CAST(p.clog AS DOUBLE) / p.n_words, 6)
               END AS entropy
        FROM documents d LEFT JOIN per p USING (doc_id)
    """

    sqls["text_c4_filters"] = f"""
        WITH d AS (SELECT doc_id, text, {w} AS w FROM documents),
        f AS (
          SELECT doc_id,
            CAST(len(w) AS BIGINT) AS n_words,
            CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
                 AS DOUBLE) / greatest(len(w), 1) AS mwl,
            CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 AS DOUBLE) / greatest(length(text), 1) AS ar,
            contains(lower(text), '{{') OR contains(lower(text), '}}')
              AS has_brace,
            contains(lower(text), 'lorem ipsum') AS has_lorem
          FROM d
        )
        SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len,
               (n_words < 10) AS too_short,
               NOT (mwl >= 3.0 AND mwl <= 10.0) AS bad_word_len,
               has_brace, has_lorem,
               (ar < 0.6) AS low_alpha,
               NOT ((n_words < 10) OR NOT (mwl >= 3.0 AND mwl <= 10.0)
                    OR has_brace OR has_lorem OR (ar < 0.6)) AS keep
        FROM f
    """

    # r5: T5 span corruption — the per-position randomness is the
    # md5->bigint parity trick, so the masking replays exactly.
    # Parameterized by source relation so the end-to-end pretraining
    # pipeline can run it over cleaned text.
    def _span_corr_sql(src: str = "documents") -> str:
        return f"""
        d AS (
          SELECT doc_id, list_filter({w}, x -> x <> '') AS fw
          FROM {src}
        ),
        pos AS (
          SELECT doc_id, len(fw) AS n, p, fw[p] AS word,
                 CAST('0x' || substring(md5(
                   concat('sc1:', 7, ':', doc_id, ':', p)), 1, 8)
                   AS BIGINT) AS u1,
                 CAST('0x' || substring(md5(
                   concat('sc2:', 7, ':', doc_id, ':', p)), 1, 8)
                   AS BIGINT) AS u2
          FROM (SELECT doc_id, fw, unnest(generate_series(1, len(fw))) AS p
                FROM d)
        ),
        starts AS (
          SELECT doc_id, p, n, 1 + (u2 % 5) AS l
          FROM pos WHERE u1 % 1000000 < 50000
        ),
        covered AS (
          SELECT DISTINCT doc_id, cp AS p FROM (
            SELECT doc_id,
                   unnest(generate_series(p, least(p + l - 1, n))) AS cp
            FROM starts
          )
        ),
        runs AS (
          SELECT doc_id, p, dense_rank() OVER (
                   PARTITION BY doc_id ORDER BY isl) AS run_id,
                 (row_number() OVER (
                   PARTITION BY doc_id, isl ORDER BY p) = 1) AS run_first
          FROM (
            SELECT doc_id, p,
                   p - row_number() OVER (
                     PARTITION BY doc_id ORDER BY p) AS isl
            FROM covered
          )
        ),
        toks AS (
          SELECT pos.doc_id, pos.p, pos.word, r.run_id, r.run_first,
                 CASE WHEN r.run_id IS NULL THEN pos.word
                      WHEN r.run_first THEN
                        concat('<extra_id_', r.run_id - 1, '>')
                      ELSE NULL END AS in_tok,
                 CASE WHEN r.run_first THEN
                        concat('<extra_id_', r.run_id - 1, '> ', pos.word)
                      WHEN r.run_id IS NOT NULL THEN pos.word
                      ELSE NULL END AS tg_tok
          FROM pos LEFT JOIN runs r
            ON r.doc_id = pos.doc_id AND r.p = pos.p
        ),
        agg AS (
          SELECT doc_id,
                 string_agg(in_tok, ' ' ORDER BY p)
                   FILTER (in_tok IS NOT NULL) AS input_text,
                 string_agg(tg_tok, ' ' ORDER BY p)
                   FILTER (tg_tok IS NOT NULL) AS target_text,
                 count(run_id) AS n_masked,
                 count(DISTINCT CASE WHEN run_first THEN run_id END)
                   AS n_spans
          FROM toks GROUP BY 1
        )
        SELECT d.doc_id, CAST(len(d.fw) AS BIGINT) AS n_words,
               CAST(COALESCE(a.n_masked, 0) AS BIGINT) AS n_masked,
               CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
               COALESCE(a.input_text, '') AS input_text,
               COALESCE(a.target_text, '') AS target_text
        FROM d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """

    sqls["text_span_corruption"] = f"WITH {_span_corr_sql()}"

    # r5: BERT MLM masking — same md5 determinism; replacement vocab
    # is build_dictionary's frequency-ranked table (ties lexicographic,
    # word_id = row_number + 2), pick = u3 mod V + 3.
    sqls["text_mlm_masking"] = f"""
        WITH d AS (
          SELECT doc_id, list_filter({w}, x -> x <> '') AS fw
          FROM documents
        ),
        pos AS (
          SELECT doc_id, p, fw[p] AS word,
                 CAST('0x' || substring(md5(
                   concat('mlm1:', 7, ':', doc_id, ':', p)), 1, 8)
                   AS BIGINT) AS u1,
                 CAST('0x' || substring(md5(
                   concat('mlm2:', 7, ':', doc_id, ':', p)), 1, 8)
                   AS BIGINT) AS u2,
                 CAST('0x' || substring(md5(
                   concat('mlm3:', 7, ':', doc_id, ':', p)), 1, 8)
                   AS BIGINT) AS u3
          FROM (SELECT doc_id, fw, unnest(generate_series(1, len(fw))) AS p
                FROM d)
        ),
        cnt AS (
          SELECT word, count(*) AS cnt FROM pos GROUP BY word
        ),
        dict AS (
          SELECT word, row_number() OVER (ORDER BY cnt DESC, word) + 2
                   AS word_id
          FROM cnt QUALIFY word_id < 4099
        ),
        vs AS (SELECT count(*) AS v FROM dict),
        sel AS (
          SELECT pos.doc_id, pos.p, pos.u2 % 10 AS act,
                 pos.u3 % greatest(vs.v, 1) + 3 AS pick
          FROM pos CROSS JOIN vs
          WHERE pos.u1 % 1000000 < 150000
        ),
        selr AS (
          SELECT sel.doc_id, sel.p, sel.act, dict.word AS rw
          FROM sel LEFT JOIN dict ON dict.word_id = sel.pick
        ),
        toks AS (
          SELECT pos.doc_id, pos.p, s.act,
                 CASE WHEN s.act IS NULL THEN pos.word
                      WHEN s.act <= 7 THEN '[MASK]'
                      WHEN s.act = 8 THEN COALESCE(s.rw, pos.word)
                      ELSE pos.word END AS in_tok,
                 CASE WHEN s.act IS NOT NULL THEN
                        concat(pos.p, ':', pos.word)
                      ELSE NULL END AS lab_tok
          FROM pos LEFT JOIN selr s
            ON s.doc_id = pos.doc_id AND s.p = pos.p
        ),
        agg AS (
          SELECT doc_id,
                 string_agg(in_tok, ' ' ORDER BY p) AS input_text,
                 string_agg(lab_tok, ' ' ORDER BY p)
                   FILTER (lab_tok IS NOT NULL) AS labels_text,
                 count(act) AS n_selected,
                 sum(CASE WHEN act <= 7 THEN 1 ELSE 0 END) AS n_masked,
                 sum(CASE WHEN act = 8 THEN 1 ELSE 0 END) AS n_random,
                 sum(CASE WHEN act = 9 THEN 1 ELSE 0 END) AS n_kept
          FROM toks GROUP BY 1
        )
        SELECT d.doc_id, CAST(len(d.fw) AS BIGINT) AS n_words,
               CAST(COALESCE(a.n_selected, 0) AS BIGINT) AS n_selected,
               CAST(COALESCE(a.n_masked, 0) AS BIGINT) AS n_masked,
               CAST(COALESCE(a.n_random, 0) AS BIGINT) AS n_random,
               CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(a.input_text, '') AS input_text,
               COALESCE(a.labels_text, '') AS labels_text
        FROM d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """

    # r5: the end-to-end pretraining pipeline — quality gates (C4 +
    # policy keep predicates inlined) -> ExactSubstr removal (nested,
    # source-parameterized) -> span corruption over the cleaned text.
    sqls["pretrain_pipeline"] = f"""
        WITH kept AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   len({w}) AS nw,
                   CAST(COALESCE(list_sum(list_transform({w},
                        x -> length(x))), 0) AS DOUBLE)
                     / greatest(len({w}), 1) AS mwl,
                   CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                        AS DOUBLE) / greatest(length(text), 1) AS ar
            FROM documents
          )
          WHERE nw >= 10 AND mwl >= 3.0 AND mwl <= 10.0
            AND NOT (contains(lower(text), '{{')
                     OR contains(lower(text), '}}'))
            AND NOT contains(lower(text), 'lorem ipsum')
            AND ar >= 0.6
            AND NOT (contains(lower(text), 'noindex')
                     OR contains(lower(text), 'all rights reserved')
                     OR contains(lower(text), 'terms of service')
                     OR contains(lower(text), 'terms of use')
                     OR contains(lower(text), 'privacy policy')
                     OR contains(lower(text), 'cookie policy')
                     OR contains(lower(text), 'uses cookies'))
        ),
        dd AS (
          SELECT k.doc_id, k.text
          FROM kept k JOIN (
            SELECT min(doc_id) AS kid FROM kept GROUP BY md5(text)
          ) s ON s.kid = k.doc_id
        ),
        cleaned AS (
          SELECT doc_id, text_clean AS text
          FROM ({_substr_apply_sql('dd')})
        ),
        {_span_corr_sql('cleaned')}
    """

    sqls["text_policy_filters"] = """
        WITH f AS (
          SELECT doc_id,
            contains(lower(text), 'noindex') AS has_noindex,
            contains(lower(text), 'all rights reserved') AS rights_reserved,
            (contains(lower(text), 'terms of service')
             OR contains(lower(text), 'terms of use')
             OR contains(lower(text), 'privacy policy')
             OR contains(lower(text), 'cookie policy')
             OR contains(lower(text), 'uses cookies')) AS policy_page,
            (contains(lower(text), 'copyright')
             OR contains(text, '©')) AS has_copyright,
            (contains(lower(text), 'creative commons')
             OR contains(lower(text), 'cc-by')) AS cc_licensed
          FROM documents
        )
        SELECT doc_id, has_noindex, rights_reserved, policy_page,
               has_copyright, cc_licensed,
               NOT (has_noindex OR rights_reserved OR policy_page) AS keep
        FROM f
    """

    # r5: BPE encode with the fixed merge table.  Each merge is a
    # fixpoint of single-FIRST-occurrence replaces over the
    # space-delimited symbol string (DuckDB regexp_replace without 'g'
    # replaces one match) — equivalent to bpe_encode's left-to-right
    # fold: a replacement's trailing space re-opens the boundary for
    # the next adjacency, and merged symbols can never equal their own
    # left part, so no in-pass cascade differs.  Words dedupe through
    # a vocab before the recursion (encode once per distinct word).
    _bpe_cases = " ".join(
        f"WHEN {i} THEN regexp_replace(seq, ' {a} {b} ', ' {a}{b} ')"
        for i, (a, b) in enumerate(BPE_FIXED_MERGES)
    )
    _bpe_n = len(BPE_FIXED_MERGES)
    sqls["text_bpe_encode"] = f"""
        WITH RECURSIVE
        d AS (SELECT doc_id, {w} AS ws FROM documents),
        wpos AS (
          SELECT doc_id, p, ws[p] AS word
          FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS p
                FROM d)
          WHERE ws[p] <> ''
        ),
        vocab AS (SELECT DISTINCT word FROM wpos),
        init AS (
          SELECT word,
                 ' ' || array_to_string(list_transform(
                     generate_series(1, length(word)),
                     i -> substring(word, i, 1)), ' ') || ' </w> ' AS seq,
                 0 AS mi
          FROM vocab
        ),
        step AS (
          SELECT word, seq, mi FROM init
          UNION ALL
          SELECT word,
                 CASE WHEN nseq <> seq THEN nseq ELSE seq END AS seq,
                 CASE WHEN nseq <> seq THEN mi ELSE mi + 1 END AS mi
          FROM (
            SELECT word, seq, mi, CASE mi {_bpe_cases} END AS nseq
            FROM step WHERE mi < {_bpe_n}
          )
        ),
        fin AS (SELECT word, trim(seq) AS toks FROM step WHERE mi = {_bpe_n}),
        agg AS (
          SELECT wpos.doc_id,
                 string_agg(fin.toks, ' ' ORDER BY wpos.p) AS tokens_str
          FROM wpos JOIN fin ON fin.word = wpos.word
          GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(CASE WHEN a.tokens_str IS NULL THEN 0
                    ELSE len(string_split(a.tokens_str, ' ')) END AS BIGINT)
                 AS n_tokens,
               COALESCE(a.tokens_str, '') AS tokens_str
        FROM d LEFT JOIN agg a USING (doc_id)
    """

    sqls["text_quality_classifier"] = f"""
        WITH d AS (SELECT doc_id, text, {w} AS w FROM documents),
        f AS (
          SELECT doc_id,
            CAST(len(w) AS DOUBLE) AS nw,
            CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
                 AS DOUBLE) / greatest(len(w), 1) AS mwl,
            CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 AS DOUBLE) / greatest(length(text), 1) AS ar,
            CAST(len(list_filter(w, x -> list_contains({en}, x)))
                 AS DOUBLE) / greatest(len(w), 1) AS sr,
            CAST(CAST(concat('0x', substring(
                   md5(concat('7', '-', CAST(doc_id AS VARCHAR))), 1, 8))
                 AS UBIGINT) AS DOUBLE) / 4294967296.0 AS u
          FROM d
        ),
        z AS (
          SELECT doc_id,
                 -3.0 + 0.01 * least(nw, 300.0) + 4.0 * ar + 8.0 * sr
                 - 0.4 * abs(mwl - 5.0) AS z,
                 u
          FROM f
        )
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-z)), 6) AS score,
               round(u, 6) AS u,
               (round(1.0 / (1.0 + exp(-z)), 6)
                > pow(round(u, 6), 9.0)) AS keep
        FROM z
    """

    sqls["documents_length_histogram"] = """
        WITH h AS (SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT)
                            AS bucket_lo,
                          count(*) AS n_docs
                   FROM documents GROUP BY 1),
        t AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS total FROM h)
        SELECT bucket_lo, bucket_lo + 50 AS bucket_hi, n_docs,
               round(CAST(n_docs AS DOUBLE) / t.total, 6) AS share
        FROM h CROSS JOIN t ORDER BY bucket_lo
    """

    from fuel_spark.functions import minhash_sql as _mh_sql
    from fuel_spark.functions import shingle_hashes_sql as _shh_sql

    _mh_cols = ", ".join(f"{_mh_sql('h', j)} AS m{j}" for j in range(9))
    _agree = " + ".join(
        f"(CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END)" for j in range(9)
    )
    sqls["dedup_minhash_calibration"] = f"""
        WITH shd AS (SELECT doc_id, {_shingles_sql('text')} AS s
                     FROM documents),
        hsd AS (SELECT doc_id, s, {_shh_sql('s')} AS h FROM shd),
        sk AS (SELECT doc_id, s, {_mh_cols} FROM hsd),
        {_minhash_bands_sql()},
        cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM bands x JOIN bands y
            ON x.band_id = y.band_id AND x.band_key = y.band_key
           AND x.doc_id < y.doc_id
        ),
        sc AS (
          SELECT CAST(round(({_agree}) / 9.0, 6) AS DECIMAL(27,6)) AS est,
                 CAST(round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / greatest(len(a.s) + len(b.s)
                              - len(list_intersect(a.s, b.s)), 1), 6)
                      AS DECIMAL(27,6)) AS exact
          FROM cand JOIN sk a ON a.doc_id = id_a
                    JOIN sk b ON b.doc_id = id_b
        ),
        sd AS (SELECT est, exact,
                      CASE WHEN est >= exact THEN est - exact
                           ELSE exact - est END AS abs_err
               FROM sc),
        agg AS (SELECT count(*) AS n,
                       CAST(sum(est) * 1000000 AS BIGINT) AS se,
                       CAST(sum(exact) * 1000000 AS BIGINT) AS sx,
                       CAST(sum(abs_err) * 1000000 AS BIGINT) AS sd
                FROM sd)
        SELECT n AS n_pairs,
               CAST((2 * abs(se) + n) // (2 * n) AS BIGINT)
                 * (CASE WHEN se < 0 THEN -1 ELSE 1 END) / 1e6
                 AS mean_est_jaccard,
               CAST((2 * abs(sx) + n) // (2 * n) AS BIGINT)
                 * (CASE WHEN sx < 0 THEN -1 ELSE 1 END) / 1e6
                 AS mean_exact_jaccard,
               CAST((2 * abs(sd) + n) // (2 * n) AS BIGINT) / 1e6
                 AS mean_abs_err
        FROM agg
    """

    sqls["events_entry_points"] = """
        WITH f AS (
          SELECT user_id,
                 min(struct_pack(ts := ts, event_id := event_id,
                                 event_type := event_type)) AS fe
          FROM events GROUP BY 1
        ),
        m AS (SELECT fe.event_type AS first_event_type,
                     count(*) AS n_users
              FROM f GROUP BY 1),
        t AS (SELECT CAST(sum(n_users) AS DOUBLE) AS total FROM m)
        SELECT first_event_type, n_users,
               round(CAST(n_users AS DOUBLE) / t.total, 6) AS share
        FROM m CROSS JOIN t ORDER BY first_event_type
    """

    sqls["embedding_norm_by_label"] = f"""
        WITH n AS (
          SELECT label,
                 CAST(round({_norm2_sql('embedding')}, 6)
                      AS DECIMAL(27,6)) AS v
          FROM embeddings
        )
        SELECT label, count(*) AS n_vecs,
               round(CAST(min(v) AS DOUBLE), 6) AS min_norm,
               round(CAST(max(v) AS DOUBLE), 6) AS max_norm,
               round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_norm
        FROM n GROUP BY 1 ORDER BY 1
    """

    sqls["events_rfm_segments"] = """
        WITH cm AS (SELECT max(ts) AS mx FROM events),
        pu AS (SELECT user_id, max(ts) AS lst, count(*) AS freq,
                      CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                        AS monetary
               FROM events GROUP BY 1),
        f AS (SELECT date_diff('day', CAST(lst AS DATE),
                               CAST(cm.mx AS DATE)) AS recency_days,
                     freq, monetary
              FROM pu CROSS JOIN cm),
        s AS (SELECT CASE
                WHEN recency_days < 7 AND freq >= 50 THEN 'champion'
                WHEN recency_days >= 7 AND freq >= 50 THEN 'loyal'
                WHEN recency_days < 7 THEN 'fresh'
                ELSE 'at_risk' END AS segment,
                     freq, monetary
              FROM f)
        SELECT segment, count(*) AS n_users,
               round(CAST(sum(CAST(monetary AS DECIMAL(27,6)))
                          AS DOUBLE), 6) AS total_monetary,
               round(CAST(sum(CAST(freq AS DECIMAL(27,6))) AS DOUBLE)
                     / count(*), 6) AS avg_frequency
        FROM s GROUP BY 1 ORDER BY 1
    """

    sqls["supplier_revenue_concentration"] = """
        WITH ps AS (SELECT l_suppkey,
                           sum(CAST(l_extendedprice * (1 - l_discount)
                                    AS DECIMAL(27,6))) AS srev
                    FROM lineitem GROUP BY 1),
        r AS (SELECT srev,
                     row_number() OVER (ORDER BY srev ASC, l_suppkey) AS i
              FROM ps)
        SELECT count(*) AS n_suppliers,
               round(CAST(sum(srev) AS DOUBLE), 6) AS total_revenue,
               round(2.0 * CAST(sum(srev * i) AS DOUBLE)
                     / (count(*) * CAST(sum(srev) AS DOUBLE))
                     - (count(*) + 1.0) / count(*), 6) AS gini
        FROM r
    """

    sqls["dedup_exact_vectors"] = """
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000 AS vec_id, embedding
          FROM embeddings WHERE vec_id < 32
        ),
        h AS (
          SELECT vec_id,
                 md5(COALESCE(array_to_string(list_transform(embedding,
                     x -> CAST(CAST(round(CAST(x AS DOUBLE), 6)
                               AS DECIMAL(18,6)) AS VARCHAR)), ','), ''))
                   AS vec_hash
          FROM corpus
        )
        SELECT vec_hash, count(*) AS n_vecs, min(vec_id) AS keep_id
        FROM h GROUP BY 1 HAVING count(*) > 1 ORDER BY 1
    """

    sqls["events_gap_histogram"] = """
        WITH g AS (
          SELECT epoch_us(ts) / 1000000 -
                 lag(epoch_us(ts) / 1000000) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
          FROM events
        ),
        h AS (
          SELECT CAST(floor(log2(gap_s + 1.0)) AS BIGINT) AS log2_bucket,
                 count(*) AS n_gaps
          FROM g WHERE gap_s IS NOT NULL GROUP BY 1
        ),
        t AS (SELECT CAST(sum(n_gaps) AS DOUBLE) AS total FROM h)
        SELECT log2_bucket,
               pow(2.0, log2_bucket) - 1 AS gap_s_lo,
               n_gaps,
               round(CAST(n_gaps AS DOUBLE) / t.total, 6) AS share
        FROM h CROSS JOIN t ORDER BY log2_bucket
    """

    _kp_cos = _cos_sql("qe", "ce")
    sqls["embedding_knn_purity"] = f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
                          label AS query_label
                   FROM embeddings WHERE vec_id < 20),
        c AS (SELECT vec_id AS neighbor_id, embedding AS ce,
                     label AS nlabel
              FROM embeddings),
        scored AS (
          SELECT query_id, query_label, neighbor_id, nlabel,
                 round({_kp_cos}, 6) AS cosine
          FROM q, c WHERE query_id <> neighbor_id
        ),
        ranked AS (
          SELECT query_id, query_label, nlabel,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id)
                   AS rank
          FROM scored
        )
        SELECT query_id, query_label, count(*) AS n_neighbors,
               CAST(sum(CASE WHEN nlabel = query_label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_same_label,
               round(CAST(sum(CASE WHEN nlabel = query_label
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS purity
        FROM ranked WHERE rank <= 5
        GROUP BY 1, 2 ORDER BY 1
    """

    sqls["dedup_summary"] = f"""
        WITH g AS (SELECT md5(text) AS h, count(*) AS dup_count
                   FROM documents GROUP BY 1),
        ex AS (SELECT CAST(sum(dup_count - 1) AS BIGINT)
                        AS n_exact_dup_docs,
                      count(*) AS n_unique_texts
               FROM g),
        {_minhash_bands_sql()},
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        shd AS (SELECT doc_id, {_shingles_sql('text')} AS s
                FROM documents),
        nearp AS (
          SELECT count(*) AS n_near_dup_pairs
          FROM cand
          JOIN shd sa ON sa.doc_id = id_a
          JOIN shd sb ON sb.doc_id = id_b
          WHERE round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / greatest(len(sa.s) + len(sb.s)
                             - len(list_intersect(sa.s, sb.s)), 1), 6)
                >= 0.5
        ),
        tot AS (SELECT count(*) AS n_docs FROM documents)
        SELECT tot.n_docs, ex.n_unique_texts, ex.n_exact_dup_docs,
               nearp.n_near_dup_pairs,
               round(CAST(ex.n_exact_dup_docs AS DOUBLE) / tot.n_docs, 6)
                 AS exact_dup_frac
        FROM tot CROSS JOIN ex CROSS JOIN nearp
    """

    sqls["dedup_prefix_groups"] = f"""
        SELECT md5(substring({_norm_sql('text')}, 1, 64)) AS prefix_hash,
               count(*) AS n_docs,
               min(doc_id) AS keep_id
        FROM documents GROUP BY 1 HAVING count(*) > 1
        ORDER BY prefix_hash
    """

    sqls["scheme_shards"] = """
        WITH s AS (
          SELECT c_custkey,
                 CAST(CAST(CAST(concat('0x', substring(
                        md5(concat('5', '-', CAST(c_custkey AS VARCHAR))),
                        1, 6)) AS UBIGINT) % 8 AS BIGINT) AS INT)
                   AS shard_id
          FROM customer
        )
        SELECT shard_id, count(*) AS n_rows,
               min(c_custkey) AS min_key, max(c_custkey) AS max_key
        FROM s GROUP BY 1 ORDER BY 1
    """

    sqls["returns_by_month"] = """
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
               count(*) AS n_items,
               round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1
                                   ELSE 0 END) AS DOUBLE) / count(*), 6)
                 AS return_rate,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
               CAST(sum(CAST(CASE WHEN l_returnflag = 'R'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END AS DECIMAL(27,6)))
                    AS DOUBLE) AS returned_revenue
        FROM lineitem GROUP BY 1 ORDER BY 1
    """

    sign_terms16 = " + ".join(
        f"(CASE WHEN embedding[{b + 1}] > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )
    sqls["embedding_block_profile"] = f"""
        WITH sk AS (SELECT CAST({sign_terms16} AS BIGINT) AS b
                    FROM embeddings),
        blocks AS (SELECT b, count(*) AS block_size FROM sk GROUP BY 1),
        h AS (SELECT block_size, count(*) AS n_blocks
              FROM blocks GROUP BY 1),
        t AS (SELECT CAST(sum(block_size * n_blocks) AS DOUBLE) AS total
              FROM h)
        SELECT block_size, n_blocks,
               CAST(block_size * n_blocks AS BIGINT) AS n_vectors,
               round(CAST(block_size * n_blocks AS DOUBLE) / t.total, 6)
                 AS share_of_corpus
        FROM h CROSS JOIN t ORDER BY block_size
    """

    sqls["events_dow_hour_heatmap"] = """
        WITH g AS (SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hour,
                          count(*) AS n
                   FROM events GROUP BY 1, 2),
        t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM g)
        SELECT dow, hour, n,
               round(CAST(n AS DOUBLE) / t.total, 6) AS share
        FROM g CROSS JOIN t ORDER BY dow, hour
    """

    sqls["dedup_pair_quality"] = f"""
        WITH {_minhash_bands_sql()},
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        shd AS (SELECT doc_id, {_shingles_sql('text')} AS s
                FROM documents),
        p AS (
          SELECT round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / greatest(len(sa.s) + len(sb.s)
                             - len(list_intersect(sa.s, sb.s)), 1),
                  6) AS jaccard
          FROM cand
          JOIN shd sa ON sa.doc_id = id_a
          JOIN shd sb ON sb.doc_id = id_b
        ),
        agg AS (
          SELECT count(*) AS n_pairs,
                 CAST(sum(CAST(jaccard AS DECIMAL(27,6))) * 1000000
                      AS BIGINT) AS num,
                 CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_ge_05,
                 CAST(sum(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_ge_08
          FROM p
        )
        SELECT n_pairs,
               CAST((2 * abs(num) + n_pairs) // (2 * n_pairs)
                    AS BIGINT) / 1e6 AS avg_jaccard,
               n_ge_05, n_ge_08
        FROM agg
    """

    sqls["text_bigram_logprob"] = f"""
        WITH d AS (SELECT doc_id, {w} AS ws FROM documents),
        g AS (
          SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
          FROM d, LATERAL (SELECT unnest(generate_series(1,
                             greatest(len(ws) - 1, 1))) AS i) u
          WHERE len(ws) >= 2 AND ws[i] <> '' AND ws[i + 1] <> ''
        ),
        db AS (SELECT doc_id, w1, w2, count(*) AS tf FROM g
               GROUP BY 1, 2, 3),
        bc AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12
               FROM db GROUP BY 1, 2),
        uc AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
               FROM bc GROUP BY 1),
        v AS (SELECT CAST(count(DISTINCT wd) AS DOUBLE) AS v
              FROM (SELECT unnest(ws) AS wd FROM d) WHERE wd <> ''),
        s AS (
          SELECT db.doc_id, db.tf,
                 CAST(round(log10((bc.c12 + 1.0)
                                  / (uc.c1 + 1.0 * v.v)), 6)
                      AS DECIMAL(27,6)) AS lp
          FROM db JOIN bc USING (w1, w2) JOIN uc USING (w1)
          CROSS JOIN v
        )
        , agg AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS nb,
                 CAST(sum(lp * tf) * 1000000 AS BIGINT) AS num
          FROM s GROUP BY 1
        )
        SELECT doc_id, nb AS n_bigrams,
               CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                    * ((2 * abs(num) + nb) // (2 * nb)) AS BIGINT)
               / 1e6 AS mean_logprob2
        FROM agg
    """

    _cc_cos = _cos_sql("a.c", "b.c")
    sqls["embedding_centroid_confusion"] = f"""
        WITH e AS (
          SELECT label, i AS pos,
                 CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                      AS DECIMAL(27,6)) AS v
          FROM embeddings,
               LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                        AS i) u
        ),
        m AS (SELECT label, pos,
                     round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS m
              FROM e GROUP BY 1, 2),
        c AS (SELECT label, list(m ORDER BY pos) AS c FROM m GROUP BY 1)
        SELECT a.label AS label_a, b.label AS label_b,
               round({_cc_cos}, 6) AS centroid_cosine
        FROM c a JOIN c b ON a.label < b.label
        ORDER BY 1, 2
    """

    sqls["customer_balance_ltv_corr"] = """
        WITH pc AS (
          SELECT o.o_custkey,
                 CAST(sum(CAST(o.o_totalprice AS DECIMAL(27,6)))
                      AS DOUBLE) AS ltv
          FROM orders o GROUP BY 1
        ),
        j AS (SELECT c.c_acctbal AS x, pc.ltv AS y
              FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey),
        m AS (
          SELECT count(*) AS n,
            CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sx,
            CAST(sum(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS sy,
            CAST(sum(CAST(x * y AS DECIMAL(27,6))) AS DOUBLE) AS sxy,
            CAST(sum(CAST(x * x AS DECIMAL(27,6))) AS DOUBLE) AS sxx,
            CAST(sum(CAST(y * y AS DECIMAL(27,6))) AS DOUBLE) AS syy
          FROM j
        )
        SELECT n,
               round((sxy / n - (sx / n) * (sy / n))
                     / sqrt(greatest((sxx / n - (sx / n) * (sx / n))
                                     * (syy / n - (sy / n) * (sy / n)),
                                     1e-300)), 6) AS pearson_r
        FROM m
    """

    sqls["events_retention_curve"] = """
        WITH fs AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
                    FROM events GROUP BY 1),
        a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        ret AS (SELECT date_diff('day', fs.cohort_day, a.day) AS day_offset,
                       count(*) AS n_retained
                FROM a JOIN fs USING (user_id) GROUP BY 1),
        sizes AS (SELECT cohort_day, count(*) AS n_users
                  FROM fs GROUP BY 1),
        h AS (SELECT CAST(max(ts) AS DATE) AS dmax FROM events),
        elig AS (
          SELECT u.o AS day_offset,
                 CAST(sum(s.n_users) AS BIGINT) AS n_eligible
          FROM sizes s CROSS JOIN h,
               LATERAL (SELECT unnest(generate_series(0,
                          date_diff('day', s.cohort_day, h.dmax))) AS o) u
          GROUP BY 1
        )
        SELECT CAST(e.day_offset AS BIGINT) AS day_offset,
               CAST(COALESCE(r.n_retained, 0) AS BIGINT) AS n_retained,
               e.n_eligible,
               round(CAST(COALESCE(r.n_retained, 0) AS DOUBLE)
                     / e.n_eligible, 6) AS retention
        FROM elig e LEFT JOIN ret r ON e.day_offset = r.day_offset
        ORDER BY 1
    """

    sqls["lineitem_qty_price_corr"] = """
        WITH m AS (
          SELECT count(*) AS n,
            CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sx,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
              AS sy,
            CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sxy,
            CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(27,6)))
                 AS DOUBLE) AS sxx,
            CAST(sum(CAST(l_extendedprice * l_extendedprice
                          AS DECIMAL(27,6))) AS DOUBLE) AS syy
          FROM lineitem
        )
        SELECT n,
               round((sxy / n - (sx / n) * (sy / n))
                     / sqrt(greatest((sxx / n - (sx / n) * (sx / n))
                                     * (syy / n - (sy / n) * (sy / n)),
                                     1e-300)), 6) AS pearson_r
        FROM m
    """

    sqls["text_vocab_coverage"] = f"""
        WITH tok AS (SELECT unnest({w}) AS wd FROM documents),
        c AS (SELECT wd AS word, count(*) AS cnt FROM tok
              WHERE wd <> '' GROUP BY 1),
        t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
        top AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word
                LIMIT 1000),
        r AS (SELECT cnt,
                     row_number() OVER (ORDER BY cnt DESC, word) AS rank,
                     sum(cnt) OVER (ORDER BY cnt DESC, word
                                    ROWS UNBOUNDED PRECEDING) AS cum
              FROM top)
        SELECT CAST(rank AS INT) AS top_n,
               CAST(cum AS BIGINT) AS n_tokens_covered,
               round(CAST(cum AS DOUBLE) / t.total, 6) AS coverage
        FROM r CROSS JOIN t
        WHERE rank IN (10, 100, 1000) ORDER BY 1
    """

    sqls["events_conversion_lag"] = """
        WITH pu AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'view'
                          THEN epoch_us(ts) END) AS v,
                 min(CASE WHEN event_type = 'purchase'
                          THEN epoch_us(ts) END) AS p
          FROM events GROUP BY 1
        ),
        lags AS (SELECT p - v AS lag_us FROM pu
                 WHERE v IS NOT NULL AND p IS NOT NULL AND p > v)
        SELECT count(*) AS n_converters,
               round(CAST(sum(CAST(lag_us AS DECIMAL(27,6))) AS DOUBLE)
                     / count(*) / 3600e6, 6) AS avg_lag_hours,
               round(quantile_cont(lag_us, 0.25) / 3600e6, 6)
                 AS p25_lag_hours,
               round(quantile_cont(lag_us, 0.5) / 3600e6, 6)
                 AS p50_lag_hours,
               round(quantile_cont(lag_us, 0.75) / 3600e6, 6)
                 AS p75_lag_hours
        FROM lags
    """

    sqls["customer_order_freq"] = """
        WITH pc AS (SELECT o_custkey, count(*) AS n_orders
                    FROM orders GROUP BY 1),
        h AS (SELECT n_orders, count(*) AS n_customers FROM pc GROUP BY 1),
        t AS (SELECT CAST(sum(n_customers) AS DOUBLE) AS total FROM h)
        SELECT CAST(n_orders AS BIGINT) AS n_orders, n_customers,
               round(CAST(n_customers AS DOUBLE) / t.total, 6) AS share
        FROM h CROSS JOIN t ORDER BY n_orders
    """

    sqls["events_monthly_type_mix"] = """
        WITH m AS (SELECT strftime(ts, '%Y-%m') AS month, event_type,
                          count(*) AS n
                   FROM events GROUP BY 1, 2)
        SELECT month, event_type, n,
               round(CAST(n AS DOUBLE)
                     / CAST(sum(n) OVER (PARTITION BY month) AS DOUBLE),
                     6) AS share_of_month
        FROM m ORDER BY month, event_type
    """

    sqls["discount_revenue_curve"] = """
        SELECT round(l_discount, 2) AS discount,
               count(*) AS n_items,
               CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
                 AS total_qty,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(27,6))) AS DOUBLE) AS revenue
        FROM lineitem GROUP BY 1 ORDER BY 1
    """

    _ls_own = _cos_sql("emb.embedding", "ownc.own")
    _ls_glob = _cos_sql("emb.embedding", "glc.glob")
    sqls["embedding_label_separation"] = f"""
        WITH e AS (
          SELECT label, i AS pos,
                 CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                      AS DECIMAL(27,6)) AS v
          FROM embeddings,
               LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                        AS i) u
        ),
        own AS (SELECT label, pos,
                       round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS m
                FROM e GROUP BY 1, 2),
        ownc AS (SELECT label, list(m ORDER BY pos) AS own
                 FROM own GROUP BY 1),
        gl AS (SELECT pos, round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS g
               FROM e GROUP BY 1),
        glc AS (SELECT list(g ORDER BY pos) AS glob FROM gl),
        sc AS (
          SELECT emb.label,
                 CAST(round({_ls_own}, 6) AS DECIMAL(27,6)) AS co,
                 CAST(round({_ls_glob}, 6) AS DECIMAL(27,6)) AS cg
          FROM embeddings emb
          JOIN ownc ON emb.label = ownc.label
          CROSS JOIN glc
        )
        SELECT label, count(*) AS n_members,
               round(CAST(sum(co) AS DOUBLE) / count(*), 6) AS avg_cos_own,
               round(CAST(sum(cg) AS DOUBLE) / count(*), 6)
                 AS avg_cos_global
        FROM sc GROUP BY 1 ORDER BY 1
    """

    sqls["events_user_anomalies"] = """
        WITH pu AS (SELECT user_id, count(*) AS n_events
                    FROM events GROUP BY 1),
        m AS (SELECT count(*) AS n,
                     CAST(sum(CAST(n_events AS DECIMAL(27,6))) AS DOUBLE)
                       AS s1,
                     CAST(sum(CAST(n_events * n_events AS DECIMAL(27,6)))
                          AS DOUBLE) AS s2
              FROM pu),
        z AS (
          SELECT user_id, n_events,
                 round((n_events - s1 / n)
                       / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n),
                                       1e-12)), 6) AS z
          FROM pu CROSS JOIN m
        )
        SELECT user_id, n_events, z FROM z
        ORDER BY abs(z) DESC, user_id LIMIT 20
    """

    sqls["orders_size_histogram"] = """
        WITH po AS (SELECT l_orderkey, count(*) AS n_lines
                    FROM lineitem GROUP BY 1),
        h AS (SELECT n_lines, count(*) AS n_orders FROM po GROUP BY 1),
        t AS (SELECT CAST(sum(n_orders) AS DOUBLE) AS total FROM h)
        SELECT CAST(n_lines AS BIGINT) AS n_lines, n_orders,
               round(CAST(n_orders AS DOUBLE) / t.total, 6) AS share
        FROM h CROSS JOIN t ORDER BY n_lines
    """

    sqls["text_word_length_hist"] = f"""
        WITH tok AS (SELECT unnest({w}) AS wd FROM documents),
        wl AS (SELECT length(wd) AS word_len FROM tok WHERE wd <> ''),
        h AS (SELECT word_len, count(*) AS n_words FROM wl GROUP BY 1),
        t AS (SELECT CAST(sum(n_words) AS DOUBLE) AS total FROM h)
        SELECT CAST(word_len AS INT) AS word_len, n_words,
               round(CAST(n_words AS DOUBLE) / t.total, 6) AS share
        FROM h CROSS JOIN t ORDER BY word_len
    """

    sqls["embedding_quantization_error"] = """
        WITH a AS (
          SELECT embedding,
                 greatest(list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS amax
          FROM embeddings
        ),
        d AS (
          SELECT embedding, amax,
                 list_transform(embedding,
                   x -> round(CAST(x AS DOUBLE) * 127.0 / amax)
                        * (amax / 127.0)) AS dq
          FROM a
        ),
        e AS (
          SELECT round(list_max(list_transform(
                   generate_series(1, len(embedding)),
                   i -> abs(CAST(embedding[i] AS DOUBLE) - dq[i])))
                 / amax, 9) AS rel_err
          FROM d
        )
        SELECT count(*) AS n_vecs,
               round(max(rel_err), 9) AS max_rel_err,
               round(CAST(sum(CAST(rel_err AS DECIMAL(27,9))) AS DOUBLE)
                     / count(*), 9) AS avg_rel_err
        FROM e
    """

    sqls["text_lang_confusion"] = f"""
        WITH base AS ({_langid_sql()}),
        c AS (SELECT lang AS lang_true, pred_lang, count(*) AS n
              FROM base GROUP BY 1, 2)
        SELECT lang_true, pred_lang, n,
               round(CAST(n AS DOUBLE)
                     / CAST(sum(n) OVER (PARTITION BY lang_true) AS DOUBLE),
                     6) AS share_of_true
        FROM c ORDER BY lang_true, pred_lang
    """

    sqls["scheme_epoch_batches"] = """
        WITH e0 AS (
          SELECT 0 AS epoch, c_custkey,
                 row_number() OVER (
                   ORDER BY md5(concat('7-0', '-', CAST(c_custkey AS VARCHAR))),
                            c_custkey) - 1 AS pos
          FROM customer),
        e1 AS (
          SELECT 1 AS epoch, c_custkey,
                 row_number() OVER (
                   ORDER BY md5(concat('7-1', '-', CAST(c_custkey AS VARCHAR))),
                            c_custkey) - 1 AS pos
          FROM customer),
        u AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1)
        SELECT epoch, c_custkey, pos, pos // 20 AS batch_id FROM u
    """

    sqls["supplier_balance_tiers"] = """
        SELECT n.n_name,
               CASE WHEN s.s_acctbal < 0 THEN 'debt'
                    WHEN s.s_acctbal <= 5000 THEN 'low'
                    ELSE 'high' END AS tier,
               count(*) AS n_suppliers,
               round(CAST(sum(CAST(s.s_acctbal AS DECIMAL(27,6)))
                          AS DOUBLE) / count(*), 6) AS avg_acctbal
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY 1, 2 ORDER BY 1, 2
    """

    sqls["priority_mix_by_segment"] = """
        WITH m AS (
          SELECT c.c_mktsegment, o.o_orderpriority,
                 count(*) AS n_orders
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        )
        SELECT c_mktsegment, o_orderpriority, n_orders,
               round(CAST(n_orders AS DOUBLE)
                     / CAST(sum(n_orders) OVER (PARTITION BY c_mktsegment)
                            AS DOUBLE), 6) AS share_of_segment
        FROM m ORDER BY c_mktsegment, o_orderpriority
    """

    sqls["events_ab_test"] = """
        WITH pu AS (
          SELECT CASE WHEN CAST(CAST(concat('0x', substring(
                   md5(concat('exp1', '-', CAST(user_id AS VARCHAR))), 1, 6))
                 AS UBIGINT) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
                 user_id,
                 count(*) AS n_ev,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted,
                 sum(CAST(value AS DECIMAL(27,6))) AS val
          FROM events GROUP BY 1, 2
        )
        SELECT arm, count(*) AS n_users,
               CAST(sum(n_ev) AS BIGINT) AS n_events,
               round(CAST(sum(converted) AS DOUBLE) / count(*), 6)
                 AS conversion,
               round(CAST(sum(val) AS DOUBLE), 6) AS total_value
        FROM pu GROUP BY 1 ORDER BY 1
    """

    sqls["orders_monthly_growth"] = """
        WITH m AS (
          SELECT strftime(o_orderdate, '%Y-%m') AS month,
                 count(*) AS n_orders,
                 round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                            AS DOUBLE), 6) AS revenue
          FROM orders GROUP BY 1
        )
        SELECT month, n_orders, revenue,
               CASE WHEN lag(revenue) OVER (ORDER BY month) IS NULL
                    THEN NULL
                    ELSE round((revenue - lag(revenue) OVER (ORDER BY month))
                               / lag(revenue) OVER (ORDER BY month), 6)
               END AS mom_growth
        FROM m ORDER BY month
    """

    sqls["events_user_path_topk"] = """
        WITH s AS (
          SELECT lag(event_type, 2) OVER w AS step1,
                 lag(event_type, 1) OVER w AS step2,
                 event_type AS step3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT step1, step2, step3, count(*) AS n
        FROM s WHERE step1 IS NOT NULL
        GROUP BY 1, 2, 3
        ORDER BY n DESC, step1, step2, step3 LIMIT 15
    """

    sqls["customer_order_gaps"] = """
        WITH g AS (
          SELECT o_custkey,
                 date_diff('day', lag(o_orderdate) OVER w, o_orderdate)
                   AS gap_days
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey)
        ),
        gg AS (SELECT c.c_mktsegment, g.gap_days
               FROM g JOIN customer c ON g.o_custkey = c.c_custkey
               WHERE g.gap_days IS NOT NULL)
        SELECT c_mktsegment, count(*) AS n_gaps,
               round(CAST(sum(CAST(gap_days AS DECIMAL(27,6))) AS DOUBLE)
                     / count(*), 6) AS avg_gap_days,
               round(quantile_cont(gap_days, 0.5), 6) AS p50_gap_days
        FROM gg GROUP BY 1 ORDER BY 1
    """

    sqls["part_price_stats"] = """
        SELECT p_brand, count(*) AS n_parts,
               count(DISTINCT p_type) AS n_types,
               round(min(p_retailprice), 6) AS min_price,
               round(max(p_retailprice), 6) AS max_price,
               round(CAST(sum(CAST(p_retailprice AS DECIMAL(27,6)))
                          AS DOUBLE) / count(*), 6) AS avg_price
        FROM part GROUP BY 1 ORDER BY 1
    """

    sqls["dedup_rate_by_source"] = """
        SELECT source, count(*) AS n_docs,
               count(DISTINCT md5(text)) AS n_unique,
               round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
                     / count(*), 6) AS dup_rate
        FROM documents GROUP BY 1 ORDER BY 1
    """

    sqls["text_shingle_uniqueness"] = f"""
        SELECT doc_id,
               CAST(greatest(length({_norm_sql('text')}) - 4, 1) AS BIGINT)
                 AS n_shingles,
               CAST(len({_shingles_sql('text')}) AS BIGINT)
                 AS n_distinct_shingles,
               round(CAST(len({_shingles_sql('text')}) AS DOUBLE)
                     / greatest(length({_norm_sql('text')}) - 4, 1), 6)
                 AS uniqueness
        FROM documents
    """

    _adj_cos = _cos_sql("a.embedding", "b.embedding")
    sqls["embedding_adjacent_cosine"] = f"""
        WITH p AS (
          SELECT round({_adj_cos}, 6) AS c
          FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        )
        SELECT round(floor(c / 0.1) * 0.1, 6) AS bucket_lo,
               count(*) AS n_pairs
        FROM p GROUP BY 1 ORDER BY 1
    """

    sqls["dedup_url"] = """
        WITH raw AS (
          SELECT doc_id,
                 (CASE WHEN doc_id % 2 = 0 THEN 'http://'
                       ELSE 'https://www.' END)
                 || source || '.example.com/items/'
                 || CAST(doc_id % 40 AS VARCHAR)
                 || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
                 || '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
                 || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)
                   AS url
          FROM documents
        ),
        s1 AS (
          SELECT doc_id,
                 split_part(
                   regexp_replace(
                     regexp_replace(lower(trim(url)), '^https?://', ''),
                     '^www\\.', ''),
                   '#', 1) AS u
          FROM raw
        ),
        s2 AS (
          SELECT doc_id,
                 regexp_replace(split_part(u, '?', 1), '/+$', '') AS path,
                 array_to_string(
                   list_sort(list_filter(
                     string_split(split_part(u, '?', 2), '&'),
                     p -> NOT (starts_with(p, 'utm_')
                               OR starts_with(p, 'fbclid=')
                               OR starts_with(p, 'gclid=')
                               OR p = ''))),
                   '&') AS qs
          FROM s1
        ),
        canon AS (
          SELECT doc_id,
                 CASE WHEN qs = '' THEN path
                      ELSE path || '?' || qs END AS canonical_url
          FROM s2
        ),
        keep AS (SELECT canonical_url, min(doc_id) AS keep_id
                 FROM canon GROUP BY 1)
        SELECT c.doc_id, c.canonical_url,
               (c.doc_id <> k.keep_id) AS is_dup
        FROM canon c JOIN keep k USING (canonical_url)
    """

    sqls["corpus_quality_by_source"] = f"""
        WITH d AS (SELECT doc_id, source, lang, text, {w} AS w
                   FROM documents),
        f AS (
          SELECT source, lang,
            CAST(len(w) AS BIGINT) AS n_words,
            CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
                 AS DOUBLE) / greatest(len(w), 1) AS mwl,
            CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 AS DOUBLE) / greatest(length(text), 1) AS ar,
            contains(lower(text), '{{') OR contains(lower(text), '}}')
              AS has_brace,
            contains(lower(text), 'lorem ipsum') AS has_lorem
          FROM d
        ),
        k AS (
          SELECT source, lang, n_words,
                 NOT ((n_words < 10) OR NOT (mwl >= 3.0 AND mwl <= 10.0)
                      OR has_brace OR has_lorem OR (ar < 0.6)) AS keep
          FROM f
        )
        SELECT source, lang, count(*) AS n_docs,
               round(CAST(sum(CAST(n_words AS DECIMAL(27,6))) AS DOUBLE)
                     / count(*), 6) AS avg_words,
               round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS keep_frac
        FROM k GROUP BY 1, 2 ORDER BY 1, 2
    """

    sqls["text_doc_frequency"] = f"""
        WITH d AS (SELECT doc_id, {w} AS w FROM documents),
        g AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 1, 1)),
                   i -> array_to_string(w[i:i+1], ' '))) AS grams
          FROM d
        ),
        t AS (SELECT count(*) AS n_docs FROM documents),
        x AS (SELECT unnest(grams) AS ngram FROM g),
        c AS (SELECT ngram, count(*) AS n_docs_containing
              FROM x GROUP BY 1)
        SELECT ngram, n_docs_containing,
               round(CAST(n_docs_containing AS DOUBLE) / t.n_docs, 6)
                 AS doc_frac
        FROM c CROSS JOIN t
        ORDER BY n_docs_containing DESC, ngram LIMIT 20
    """

    sqls["embedding_dim_stats"] = """
        WITH e AS (
          SELECT i - 1 AS dim,
                 CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                      AS DECIMAL(27,6)) AS v
          FROM embeddings,
               LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                        AS i) u
        )
        SELECT CAST(dim AS INT) AS dim, count(*) AS n,
               round(CAST(min(v) AS DOUBLE), 6) AS min_v,
               round(CAST(max(v) AS DOUBLE), 6) AS max_v,
               round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_v
        FROM e GROUP BY 1 ORDER BY 1
    """

    sqls["events_session_stats"] = """
        WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events),
        g AS (
          SELECT user_id, sec,
            CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
                 THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)
        ),
        s AS (
          SELECT user_id, sec,
            CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY sec
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          FROM g
        ),
        sess AS (
          SELECT user_id, session_seq, count(*) AS n_events,
                 max(sec) - min(sec) AS duration_sec
          FROM s GROUP BY 1, 2
        )
        SELECT count(*) AS n_sessions,
               round(CAST(sum(CAST(n_events AS DECIMAL(27,6))) AS DOUBLE)
                     / count(*), 6) AS avg_events_per_session,
               round(CAST(sum(CAST(duration_sec AS DECIMAL(27,6))) AS DOUBLE)
                     / count(*), 6) AS avg_duration_sec,
               round(quantile_cont(duration_sec, 0.5), 6)
                 AS p50_duration_sec,
               round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS bounce_rate
        FROM sess
    """

    sqls["events_value_histogram"] = """
        SELECT event_type,
               CAST(floor(value / 10.0) * 10.0 AS DOUBLE) AS bucket_lo,
               count(*) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 6)
                 AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """

    sqls["events_churn"] = """
        WITH h AS (SELECT CAST(max(ts) AS DATE) AS dmax FROM events),
        t2 AS (
          SELECT DISTINCT user_id,
                 (date_diff('day', CAST(ts AS DATE), h.dmax) < 10) AS recent
          FROM events CROSS JOIN h
          WHERE date_diff('day', CAST(ts AS DATE), h.dmax) < 20
        ),
        f AS (
          SELECT user_id,
                 max(CASE WHEN recent THEN 1 ELSE 0 END) AS in_recent,
                 max(CASE WHEN NOT recent THEN 1 ELSE 0 END) AS in_prior
          FROM t2 GROUP BY 1
        ),
        agg AS (
          SELECT CAST(sum(in_prior) AS BIGINT) AS n_prior,
                 CAST(sum(CASE WHEN in_prior = 1 AND in_recent = 1
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
                 CAST(sum(CASE WHEN in_prior = 1 AND in_recent = 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
                 CAST(sum(CASE WHEN in_prior = 0 AND in_recent = 1
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_new
          FROM f
        )
        SELECT n_prior, n_retained, n_churned, n_new,
               round(CAST(n_churned AS DOUBLE) / greatest(n_prior, 1), 6)
                 AS churn_rate
        FROM agg
    """

    sqls["basket_part_pairs"] = """
        WITH l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_orders
        FROM l a JOIN l b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY n_orders DESC, part_a, part_b LIMIT 20
    """

    sqls["revenue_concentration"] = """
        WITH pc AS (SELECT o_custkey,
                           sum(CAST(o_totalprice AS DECIMAL(27,6))) AS ltv
                    FROM orders GROUP BY 1),
        r AS (SELECT ltv,
                     row_number() OVER (ORDER BY ltv ASC, o_custkey) AS i
              FROM pc)
        SELECT count(*) AS n_customers,
               round(CAST(sum(ltv) AS DOUBLE), 6) AS total_revenue,
               round(2.0 * CAST(sum(ltv * i) AS DOUBLE)
                     / (count(*) * CAST(sum(ltv) AS DOUBLE))
                     - (count(*) + 1.0) / count(*), 6) AS gini
        FROM r
    """

    sqls["embedding_norm_extremes"] = f"""
        WITH n AS (SELECT vec_id, round({_norm2_sql('embedding')}, 6)
                            AS vec_norm
                   FROM embeddings),
        hi AS (SELECT 'high' AS side, vec_id, vec_norm FROM n
               ORDER BY vec_norm DESC, vec_id LIMIT 10),
        lo AS (SELECT 'low' AS side, vec_id, vec_norm FROM n
               ORDER BY vec_norm ASC, vec_id LIMIT 10),
        u AS (SELECT * FROM hi UNION ALL SELECT * FROM lo)
        SELECT side,
               CAST(row_number() OVER (
                 PARTITION BY side
                 ORDER BY CASE WHEN side = 'high' THEN -vec_norm
                               ELSE vec_norm END, vec_id) AS INT) AS rank,
               vec_id, vec_norm
        FROM u
    """

    # ---- new in r4 ----------------------------------------------------

    sqls["events_attribution_linear"] = """
        WITH iv AS (
          SELECT user_id, event_id AS purchase_id,
                 ts - INTERVAL 1800 SECOND AS s, ts AS e, value
          FROM events WHERE event_type = 'purchase'
        ),
        p AS (
          SELECT user_id, ts AS touch_ts, event_type AS channel
          FROM events WHERE event_type IN ('click', 'view')
        ),
        j AS (
          SELECT iv.purchase_id, iv.value, p.touch_ts, p.channel,
                 count(p.touch_ts) OVER (PARTITION BY iv.purchase_id) AS n
          FROM iv LEFT JOIN p
            ON p.user_id = iv.user_id
           AND p.touch_ts >= iv.s AND p.touch_ts <= iv.e
        )
        SELECT COALESCE(channel, 'none') AS channel,
               CAST(sum(CAST(CASE WHEN n > 0
                                  THEN round(CAST(1.0 AS DOUBLE) / n, 6)
                                  ELSE CAST(1.0 AS DOUBLE) END
                             AS DECIMAL(27,6))) AS DOUBLE)
                 AS credited_purchases,
               CAST(sum(CAST(CASE WHEN n > 0 THEN round(value / n, 6)
                                  ELSE value END
                             AS DECIMAL(27,6))) AS DOUBLE)
                 AS credited_value
        FROM j GROUP BY 1
    """

    sqls["events_stickiness"] = """
        WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                    FROM events),
        dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        contrib AS (
          SELECT DISTINCT CAST(g.g AS DATE) AS wday, user_id
          FROM ud, UNNEST(generate_series(CAST(day AS TIMESTAMP),
                                          CAST(day AS TIMESTAMP)
                                            + INTERVAL 6 DAY,
                                          INTERVAL 1 DAY)) AS g(g)
        ),
        wau AS (SELECT wday, count(*) AS wau FROM contrib GROUP BY 1)
        SELECT strftime(dau.day, '%Y-%m-%d') AS day,
               CAST(dau.dau AS BIGINT) AS dau,
               CAST(wau.wau AS BIGINT) AS wau,
               round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
        FROM dau JOIN wau ON dau.day = wau.wday
    """

    sqls["dedup_apply_segments"] = f"""
        WITH w AS (
          SELECT doc_id, {_words_sql('text')} AS ws, {_norm_sql('text')} AS nrm
          FROM documents
        ),
        s AS (
          SELECT doc_id, ws,
                 CAST(unnest(CASE WHEN length(nrm) = 0
                                  THEN CAST([] AS BIGINT[])
                                  ELSE generate_series(0, len(ws) - 1, 8)
                             END) AS INT) AS start
          FROM w
        ),
        c AS (
          SELECT doc_id, CAST(start // 8 AS INT) AS chunk_id,
                 array_to_string(ws[start + 1 : start + 8], ' ') AS chunk_text
          FROM s
        ),
        f AS (
          SELECT doc_id, chunk_id, chunk_text,
                 (row_number() OVER (PARTITION BY md5(chunk_text)
                                     ORDER BY doc_id, chunk_id) > 1) AS is_dup
          FROM c
        )
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN NOT is_dup THEN chunk_text END,
                                   ' ' ORDER BY chunk_id), '') AS text,
               CAST(count(*) FILTER (WHERE NOT is_dup) AS BIGINT) AS n_kept,
               CAST(count(*) FILTER (WHERE is_dup) AS BIGINT) AS n_dropped
        FROM f GROUP BY doc_id
    """

    sqls["text_feature_hashing"] = f"""
        WITH w AS (
          SELECT doc_id, unnest({_words_sql('text')}) AS word FROM documents
        )
        SELECT doc_id,
               CAST('0x' || substring(md5(word), 1, 8) AS BIGINT) % 64 AS slot,
               CAST(count(*) AS BIGINT) AS count
        FROM w WHERE word <> '' GROUP BY 1, 2
    """

    sqls["graph_degree_distribution"] = """
        WITH l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM l a JOIN l b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        ends AS (SELECT src AS vertex FROM e
                 UNION ALL SELECT dst AS vertex FROM e),
        deg AS (SELECT vertex, count(*) AS degree FROM ends GROUP BY 1)
        SELECT CAST(degree AS BIGINT) AS degree,
               CAST(count(*) AS BIGINT) AS n_vertices
        FROM deg GROUP BY 1
    """

    # r5: 3 unrolled PageRank power iterations, mirroring
    # ops.graph.pagerank at contrib_scale=9 / out_scale=6 — per-message
    # contributions round-9 then sum as exact DECIMAL(27,18) (order-
    # independent), rank update in DOUBLE with every literal cast (the
    # DuckDB decimal-literal trap).
    _pr_iters = []
    _prev = "r0"
    for _i in (1, 2, 3):
        _pr_iters.append(f"""
        c{_i} AS (
          SELECT e.dst AS vertex,
                 CAST(round(r.rank / d.deg, 9) AS DECIMAL(27,18)) AS c
          FROM e JOIN {_prev} r ON e.src = r.vertex
                 JOIN deg d ON d.vertex = e.src
        ),
        s{_i} AS (SELECT vertex, CAST(sum(c) AS DOUBLE) AS _in
                  FROM c{_i} GROUP BY 1),
        r{_i} AS (
          SELECT v.vertex,
                 (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
                 + CAST(0.85 AS DOUBLE)
                   * (COALESCE(s._in, CAST(0.0 AS DOUBLE))
                      + CAST(0.0 AS DOUBLE) / n.n) AS rank
          FROM verts v CROSS JOIN n LEFT JOIN s{_i} s ON s.vertex = v.vertex
        )""")
        _prev = f"r{_i}"
    sqls["graph_pagerank_fixed"] = f"""
        WITH l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM l a JOIN l b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        verts AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),
        deg AS (SELECT src AS vertex, count(*) AS deg FROM e GROUP BY 1),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
        r0 AS (SELECT vertex, CAST(1.0 AS DOUBLE) / n.n AS rank
               FROM verts, n),
        {",".join(_pr_iters)}
        SELECT vertex, round(rank, 6) AS rank
        FROM r3 ORDER BY rank DESC, vertex LIMIT 20
    """

    # r5: TextRank — the SAME unrolled power-method CTEs (_pr_iters
    # reference e/deg/verts/n/r0 by name) over the word co-occurrence
    # graph instead of the part co-purchase graph.
    sqls["text_textrank_keywords"] = f"""
        WITH d AS (
          SELECT doc_id, {w} AS ws FROM documents
          WHERE length({_norm_sql('text')}) >= 1
        ),
        tok AS (
          SELECT doc_id, p, ws[p] AS w
          FROM (SELECT doc_id, ws,
                       unnest(generate_series(1, len(ws))) AS p
                FROM d)
        ),
        e0 AS (
          SELECT DISTINCT least(a.w, b.w) AS src, greatest(a.w, b.w) AS dst
          FROM tok a JOIN tok b
            ON a.doc_id = b.doc_id AND b.p - a.p BETWEEN 1 AND 2
          WHERE a.w <> b.w
        ),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        verts AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),
        deg AS (SELECT src AS vertex, count(*) AS deg FROM e GROUP BY 1),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
        r0 AS (SELECT vertex, CAST(1.0 AS DOUBLE) / n.n AS rank
               FROM verts, n),
        {",".join(_pr_iters)}
        SELECT vertex AS word, round(rank, 6) AS rank
        FROM r3 ORDER BY rank DESC, vertex LIMIT 20
    """

    sqls["dedup_apply_keep_longest"] = f"""
        WITH {_minhash_bands_sql()},
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        shd AS (SELECT doc_id, {_shingles_sql('text', 5)} AS s FROM documents),
        ln AS (SELECT doc_id, length({_norm_sql('text')}) AS l FROM documents),
        ver AS (
          SELECT id_a, id_b FROM cand
          JOIN shd sa ON sa.doc_id = id_a
          JOIN shd sb ON sb.doc_id = id_b
          WHERE round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                / greatest(len(sa.s) + len(sb.s)
                           - len(list_intersect(sa.s, sb.s)), 1),
                6) >= 0.5
        ),
        losers AS (
          SELECT DISTINCT CASE WHEN la.l < lb.l THEN id_a ELSE id_b END
                   AS loser
          FROM ver
          JOIN ln la ON la.doc_id = id_a
          JOIN ln lb ON lb.doc_id = id_b
        )
        SELECT doc_id, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT loser FROM losers)
    """

    sqls["dedup_corpus_diff"] = """
        WITH o AS (SELECT doc_id, md5(text) AS ho FROM documents),
        n AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                          ELSE text END) AS hn
          FROM documents WHERE doc_id >= 10
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, md5('fresh ' || text) AS hn
          FROM documents WHERE doc_id < 5
        )
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.ho IS NULL THEN 'added'
                    WHEN n.hn IS NULL THEN 'removed'
                    WHEN o.ho <> n.hn THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """

    sqls["sample_weighted"] = f"""
        WITH k AS (
          SELECT doc_id, n_chars,
                 round(ln((CAST('0x' || substring(
                              md5(concat('42', '-',
                                         CAST(doc_id AS VARCHAR))), 1, 13)
                            AS BIGINT) + 1) / 4503599627370496.0)
                       / n_chars, 6) AS es_key
          FROM documents
        )
        SELECT doc_id, n_chars, es_key FROM k
        ORDER BY es_key DESC, doc_id ASC LIMIT 50
    """

    sqls["text_clean"] = r"""
        WITH c AS (
          SELECT doc_id,
                 trim(regexp_replace(
                   regexp_replace(text,
                     '[\x00-\x08\x0b-\x1f\x7f]', ' ', 'g'),
                   '\s+', ' ', 'g')) AS clean_text,
                 text
          FROM documents
        )
        SELECT doc_id, clean_text,
               CAST(length(text) - length(clean_text) AS BIGINT)
                 AS n_chars_removed
        FROM c
    """

    _decay = repr(0.5 ** (1.0 / 7))
    sqls["events_daily_ewma"] = f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                   AS day_value
          FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        pair AS (
          SELECT a.d AS d_to, a.day_value AS v_to,
                 round(pow({_decay},
                           date_diff('day', b.d, a.d)), 9) AS w,
                 b.day_value AS v_from
          FROM daily a JOIN daily b
            ON b.d <= a.d AND b.d > a.d - INTERVAL 14 DAY
        )
        SELECT strftime(d_to, '%Y-%m-%d') AS day,
               round(v_to, 6) AS day_value,
               round(CAST(sum(CAST(round(w * v_from, 6)
                                   AS DECIMAL(27,9))) AS DOUBLE)
                     / CAST(sum(CAST(w AS DECIMAL(27,9))) AS DOUBLE),
                     6) AS ewma
        FROM pair GROUP BY d_to, v_to
    """

    sqls["orders_backlog"] = """
        WITH o AS (
          SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS placed_m
          FROM orders
        ),
        ls AS (
          SELECT l_orderkey, strftime(max(l_shipdate), '%Y-%m') AS shipped_m
          FROM lineitem GROUP BY 1
        ),
        placed AS (SELECT placed_m, count(*) AS placed FROM o GROUP BY 1),
        shipped AS (
          SELECT shipped_m, count(*) AS shipped
          FROM o JOIN ls ON o.o_orderkey = ls.l_orderkey
          GROUP BY 1
        ),
        months AS (
          SELECT placed_m AS month FROM placed
          UNION SELECT shipped_m FROM shipped
        ),
        j AS (
          SELECT m.month,
                 COALESCE(p.placed, 0) AS placed,
                 COALESCE(s.shipped, 0) AS shipped
          FROM months m
          LEFT JOIN placed p ON m.month = p.placed_m
          LEFT JOIN shipped s ON m.month = s.shipped_m
        )
        SELECT month, CAST(placed AS BIGINT) AS placed,
               CAST(shipped AS BIGINT) AS shipped,
               CAST(sum(placed) OVER w - sum(shipped) OVER w AS BIGINT)
                 AS open_backlog
        FROM j
        WINDOW w AS (ORDER BY month
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """

    sqls["corpus_source_divergence"] = f"""
        WITH wx AS (
          SELECT source AS g, unnest({_words_sql('text')}) AS w
          FROM documents
        ),
        ww AS (SELECT g, w FROM wx WHERE w <> ''),
        gw AS (SELECT g, w, count(*) AS n_gw FROM ww GROUP BY 1, 2),
        cw AS (SELECT w, count(*) AS n_w FROM ww GROUP BY 1),
        gt AS (SELECT g, count(*) AS n_g FROM ww GROUP BY 1),
        ct AS (SELECT count(*) AS n_c FROM ww),
        term AS (
          SELECT gw.g, gt.n_g,
                 round((CAST(n_gw AS DOUBLE) / n_g)
                       * ln((CAST(n_gw AS DOUBLE) / n_g)
                            / (CAST(n_w AS DOUBLE) / n_c)), 9) AS t
          FROM gw JOIN cw ON gw.w = cw.w
          JOIN gt ON gw.g = gt.g
          CROSS JOIN ct
        )
        SELECT g AS source, CAST(n_g AS BIGINT) AS n_words,
               round(CAST(sum(CAST(t AS DECIMAL(27,9))) AS DOUBLE), 6)
                 AS kl_divergence
        FROM term GROUP BY g, n_g
    """

    sqls["text_similar_docs"] = f"""
        WITH tx AS (
          SELECT doc_id, unnest({_words_sql('text')}) AS term FROM documents
        ),
        tt AS (SELECT doc_id, term FROM tx WHERE term <> ''),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tt GROUP BY 1, 2),
        dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT count(*) AS n_docs FROM documents),
        wts AS (
          SELECT tf.doc_id, tf.term,
                 tf.tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
          FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN nd
          WHERE df <= 300
        ),
        nrm AS (
          SELECT doc_id,
                 sqrt(CAST(sum(CAST(round(w * w, 9) AS DECIMAL(27,9)))
                           AS DOUBLE)) AS nrm
          FROM wts GROUP BY 1
        ),
        u AS (
          SELECT wts.doc_id, term, w / nrm AS u
          FROM wts JOIN nrm ON wts.doc_id = nrm.doc_id WHERE nrm > 0
        ),
        pair AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 round(CAST(sum(CAST(round(a.u * b.u, 9)
                                     AS DECIMAL(27,9))) AS DOUBLE), 6)
                   AS cosine
          FROM u a JOIN u b
            ON a.term = b.term AND a.doc_id <> b.doc_id
          GROUP BY 1, 2
        ),
        r AS (
          SELECT id_a, id_b, cosine,
                 row_number() OVER (PARTITION BY id_a
                                    ORDER BY cosine DESC, id_b) AS rank
          FROM pair
        )
        SELECT id_a AS doc_id, id_b AS neighbor_id, cosine,
               CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 3
    """

    sqls["scheme_curriculum"] = """
        SELECT doc_id, n_chars,
               CAST(row_number() OVER (
                 ORDER BY n_chars,
                          md5(concat('11', '-', CAST(doc_id AS VARCHAR))),
                          doc_id) - 1 AS BIGINT) AS pos,
               CAST((row_number() OVER (
                 ORDER BY n_chars,
                          md5(concat('11', '-', CAST(doc_id AS VARCHAR))),
                          doc_id) - 1) // 32 AS BIGINT) AS batch_id
        FROM documents
    """

    sqls["check_referential"] = """
        WITH r1 AS (
          SELECT 'lineitem_orders' AS rule, count(*) AS n
          FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
            ON l.l_orderkey = o.o_orderkey
          WHERE o.o_orderkey IS NULL
        ),
        r2 AS (
          SELECT 'orders_customer' AS rule, count(*) AS n
          FROM orders d LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
            ON d.o_custkey = c.c_custkey
          WHERE c.c_custkey IS NULL
        ),
        r3 AS (
          SELECT 'lineitem_part' AS rule, count(*) AS n
          FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
            ON l.l_partkey = p.p_partkey
          WHERE p.p_partkey IS NULL
        ),
        r4 AS (
          SELECT 'events_customer' AS rule, count(*) AS n
          FROM events e LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
            ON e.user_id = c.c_custkey
          WHERE c.c_custkey IS NULL
        ),
        u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
              UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4)
        SELECT rule, CAST(n AS BIGINT) AS n_orphans, n = 0 AS passed FROM u
    """

    sqls["feature_winsorize"] = """
        WITH c AS (
          SELECT event_type,
                 quantile_cont(value, 0.01) AS lo,
                 quantile_cont(value, 0.99) AS hi
          FROM events GROUP BY 1
        )
        SELECT event_id, e.event_type, value,
               round(greatest(least(value, hi), lo), 6)
                 AS value_winsorized,
               (value < lo OR value > hi) AS was_clipped
        FROM events e JOIN c ON e.event_type = c.event_type
    """

    sqls["events_trend_by_type"] = """
        WITH pts AS (
          SELECT event_type,
                 CAST(date_diff('day', DATE '2024-01-01',
                                CAST(ts AS DATE)) AS DOUBLE) AS x,
                 value AS y
          FROM events
        ),
        m AS (
          SELECT event_type, count(*) AS n,
                 CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(x * y AS DECIMAL(27,6))) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(x * x AS DECIMAL(27,6))) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(y * y AS DECIMAL(27,6))) AS DOUBLE) AS syy
          FROM pts GROUP BY 1
        ),
        d AS (
          SELECT event_type, n,
                 sxx - sx * sx / n AS ssx,
                 syy - sy * sy / n AS ssy,
                 sxy - sx * sy / n AS cxy,
                 sx, sy
          FROM m
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               round(CASE WHEN n >= 2 AND ssx > 0 THEN cxy / ssx END, 6)
                 AS slope,
               round((sy - (CASE WHEN n >= 2 AND ssx > 0
                                 THEN cxy / ssx END) * sx) / n, 6)
                 AS intercept,
               round(CASE WHEN n >= 2 AND ssx > 0 AND ssy > 0
                          THEN (cxy * cxy) / (ssx * ssy) END, 6) AS r2
        FROM d
    """

    sqls["events_chi_square"] = """
        WITH cells AS (
          SELECT event_type, dayofweek(ts) + 1 AS dow, count(*) AS o
          FROM events GROUP BY 1, 2
        ),
        sized AS (
          SELECT event_type, dow, o,
                 sum(o) OVER (PARTITION BY event_type) AS row_n,
                 sum(o) OVER (PARTITION BY dow) AS col_n,
                 sum(o) OVER () AS n
          FROM cells
        ),
        term AS (
          SELECT event_type, dow,
                 round(pow(o - CAST(row_n AS DOUBLE) * col_n / n, 2)
                       / (CAST(row_n AS DOUBLE) * col_n / n), 9) AS t
          FROM sized
        )
        SELECT round(CAST(sum(CAST(t AS DECIMAL(27,9))) AS DOUBLE), 6)
                 AS chi_square,
               CAST((count(DISTINCT event_type) - 1)
                    * (count(DISTINCT dow) - 1) AS BIGINT) AS dof,
               CAST(count(*) AS BIGINT) AS n_cells
        FROM term
    """

    sqls["events_seasonal_forecast"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                   AS day_value
          FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        wk AS (
          SELECT dayofweek(d) + 1 AS dow,
                 CAST(sum(CAST(day_value AS DECIMAL(27,6))) AS DOUBLE)
                   AS wsum,
                 count(*) AS wn
          FROM daily GROUP BY 1
        )
        SELECT strftime(d, '%Y-%m-%d') AS day,
               CAST(wk.dow AS BIGINT) AS dow,
               round(day_value, 6) AS day_value,
               round(CASE WHEN wn > 1
                          THEN (wsum - day_value) / (wn - 1) END, 6)
                 AS forecast,
               round(abs(day_value - CASE WHEN wn > 1
                          THEN (wsum - day_value) / (wn - 1) END)
                     / greatest(day_value, 1e-9), 6) AS ape
        FROM daily JOIN wk ON dayofweek(daily.d) + 1 = wk.dow
    """

    sqls["events_segment_migration"] = """
        WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
                   FROM events),
        lab AS (
          SELECT user_id,
                 CASE WHEN epoch_us(ts) <= (lo + hi) // 2
                      THEN 1 ELSE 2 END AS half
          FROM events CROSS JOIN b
        ),
        cnt AS (SELECT user_id, half, count(*) AS n FROM lab GROUP BY 1, 2),
        sg AS (
          SELECT user_id, half,
                 CASE WHEN n >= 36 THEN 'heavy'
                      WHEN n >= 30 THEN 'regular'
                      ELSE 'light' END AS seg
          FROM cnt
        ),
        h1 AS (SELECT user_id, seg AS fs FROM sg WHERE half = 1),
        h2 AS (SELECT user_id, seg AS tseg FROM sg WHERE half = 2),
        m AS (
          SELECT COALESCE(h1.fs, 'inactive') AS from_segment,
                 COALESCE(h2.tseg, 'inactive') AS to_segment
          FROM h1 FULL OUTER JOIN h2 ON h1.user_id = h2.user_id
        )
        SELECT from_segment, to_segment,
               CAST(count(*) AS BIGINT) AS n_users
        FROM m GROUP BY 1, 2
    """

    sqls["customer_cohort_ltv"] = """
        WITH f AS (
          SELECT o_custkey,
                 min(year(o_orderdate) * 12 + month(o_orderdate)) AS cym
          FROM orders GROUP BY 1
        ),
        cells AS (
          SELECT cym,
                 (year(o_orderdate) * 12 + month(o_orderdate)) - cym
                   AS month_offset,
                 count(DISTINCT o.o_custkey) AS n_customers,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                   AS revenue
          FROM orders o JOIN f ON o.o_custkey = f.o_custkey
          GROUP BY 1, 2
        )
        SELECT concat(CAST((cym - 1) // 12 AS VARCHAR), '-',
                      lpad(CAST((cym - 1) % 12 + 1 AS VARCHAR), 2, '0'))
                 AS cohort_month,
               CAST(month_offset AS BIGINT) AS month_offset,
               CAST(n_customers AS BIGINT) AS n_customers,
               revenue
        FROM cells
    """

    sqls["events_diff_in_diff"] = """
        WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
                   FROM events),
        cells AS (
          SELECT CASE WHEN CAST('0x' || substring(
                        md5(concat('exp1', '-', CAST(user_id AS VARCHAR))),
                        1, 6) AS BIGINT) % 2 = 0
                      THEN 'treat' ELSE 'ctrl' END AS arm,
                 CASE WHEN epoch_us(ts) <= (lo + hi) // 2
                      THEN 'pre' ELSE 'post' END AS period,
                 value
          FROM events CROSS JOIN b
        ),
        m AS (
          SELECT arm, period,
                 CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                   / count(*) AS mean_value
          FROM cells GROUP BY 1, 2
        )
        SELECT round(max(CASE WHEN arm = 'treat' AND period = 'pre'
                              THEN mean_value END), 6) AS treat_pre,
               round(max(CASE WHEN arm = 'treat' AND period = 'post'
                              THEN mean_value END), 6) AS treat_post,
               round(max(CASE WHEN arm = 'ctrl' AND period = 'pre'
                              THEN mean_value END), 6) AS ctrl_pre,
               round(max(CASE WHEN arm = 'ctrl' AND period = 'post'
                              THEN mean_value END), 6) AS ctrl_post,
               round((max(CASE WHEN arm = 'treat' AND period = 'post'
                               THEN mean_value END)
                      - max(CASE WHEN arm = 'treat' AND period = 'pre'
                                 THEN mean_value END))
                     - (max(CASE WHEN arm = 'ctrl' AND period = 'post'
                                 THEN mean_value END)
                        - max(CASE WHEN arm = 'ctrl' AND period = 'pre'
                                   THEN mean_value END)), 6)
                 AS did_estimate
        FROM m
    """

    sqls["text_strip_html"] = r"""
        WITH raw AS (
          SELECT doc_id,
                 concat('<html><p class="x">', text,
                        '</p> &amp; <br/> &lt;end&gt;</html>') AS text
          FROM documents
        ),
        un AS (
          SELECT doc_id, text,
                 replace(replace(replace(replace(replace(
                   regexp_replace(text, '<[^>]*>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', chr(39)), '&amp;', '&') AS t2
          FROM raw
        ),
        c AS (
          SELECT doc_id, text,
                 trim(regexp_replace(
                   regexp_replace(t2, '[\x00-\x08\x0b-\x1f\x7f]', ' ', 'g'),
                   '\s+', ' ', 'g')) AS clean_text
          FROM un
        )
        SELECT doc_id, clean_text,
               CAST(length(text) - length(clean_text) AS BIGINT)
                 AS n_chars_removed
        FROM c
    """

    sqls["ann_filtered"] = sqls["ann_topk_cosine"].replace(
        "c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings)",
        "c AS (SELECT vec_id AS neighbor_id, embedding AS ce"
        " FROM embeddings WHERE label = 0)",
    )

    sqls["events_decompose"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                   AS day_value
          FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        tr AS (
          SELECT a.d AS d_c, a.day_value AS v_c,
                 round(CAST(sum(CAST(b.day_value AS DECIMAL(27,6)))
                            AS DOUBLE) / count(*), 6) AS trend
          FROM daily a JOIN daily b
            ON b.d >= a.d - INTERVAL 3 DAY AND b.d <= a.d + INTERVAL 3 DAY
          GROUP BY 1, 2
        ),
        de AS (
          SELECT d_c, v_c, trend,
                 round(v_c - trend, 6) AS detr,
                 dayofweek(d_c) + 1 AS dow
          FROM tr
        ),
        se AS (
          SELECT dow,
                 round(CAST(sum(CAST(detr AS DECIMAL(27,6))) AS DOUBLE)
                       / count(*), 6) AS seasonal
          FROM de GROUP BY 1
        )
        SELECT strftime(d_c, '%Y-%m-%d') AS day,
               round(v_c, 6) AS day_value, trend, seasonal,
               round(v_c - trend - seasonal, 6) AS residual
        FROM de JOIN se ON de.dow = se.dow
    """

    sqls["events_attribution_decay"] = """
        WITH iv AS (
          SELECT user_id, event_id AS purchase_id,
                 ts - INTERVAL 43200 SECOND AS s, ts AS e, value
          FROM events WHERE event_type = 'purchase'
        ),
        p AS (
          SELECT user_id, ts AS touch_ts, event_type AS channel
          FROM events WHERE event_type IN ('click', 'view')
        ),
        j AS (
          SELECT iv.purchase_id, iv.value, iv.e AS pe,
                 p.touch_ts, p.channel
          FROM iv LEFT JOIN p
            ON p.user_id = iv.user_id
           AND p.touch_ts >= iv.s AND p.touch_ts <= iv.e
        ),
        wtd AS (
          SELECT purchase_id, value, channel,
                 CASE WHEN touch_ts IS NOT NULL
                      THEN greatest(round(pow(0.5,
                             (epoch_us(pe) - epoch_us(touch_ts))
                             / 1000000.0 / 7200.0), 9), 1e-9) END AS w
          FROM j
        ),
        nm AS (
          SELECT *, CAST(sum(CAST(w AS DECIMAL(27,9)))
                         OVER (PARTITION BY purchase_id) AS DOUBLE)
                      AS wsum
          FROM wtd
        )
        SELECT COALESCE(channel, 'none') AS channel,
               CAST(sum(CAST(CASE WHEN w IS NOT NULL
                                  THEN round(w / wsum, 6)
                                  ELSE CAST(1.0 AS DOUBLE) END
                             AS DECIMAL(27,6))) AS DOUBLE)
                 AS credited_purchases,
               CAST(sum(CAST(CASE WHEN w IS NOT NULL
                                  THEN round(value * w / wsum, 6)
                                  ELSE value END
                             AS DECIMAL(27,6))) AS DOUBLE)
                 AS credited_value
        FROM nm GROUP BY 1
    """

    sqls["text_char_entropy"] = f"""
        WITH n AS (SELECT doc_id, {_norm_sql('text')} AS nrm FROM documents),
        ch AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, greatest(length(nrm), 1)),
                   i -> substring(nrm, i, 1))) AS c
          FROM n
        ),
        cc AS (SELECT doc_id, c, count(*) AS k FROM ch
               WHERE c <> '' GROUP BY 1, 2),
        tot AS (SELECT doc_id, sum(k) AS nn FROM cc GROUP BY 1),
        term AS (
          SELECT cc.doc_id, nn,
                 round(-(CAST(k AS DOUBLE) / nn)
                       * ln(CAST(k AS DOUBLE) / nn), 9) AS t
          FROM cc JOIN tot ON cc.doc_id = tot.doc_id
        )
        SELECT doc_id, CAST(nn AS BIGINT) AS n_chars_normed,
               round(CAST(sum(CAST(t AS DECIMAL(27,9))) AS DOUBLE), 6)
                 AS char_entropy
        FROM term GROUP BY 1, 2
    """

    sqls["scheme_interleave"] = """
        WITH d AS (
          SELECT doc_id, source,
                 md5(concat('42', '-', CAST(doc_id AS VARCHAR))) AS ord
          FROM documents WHERE source IN ('src0', 'src1', 'src2')
        ),
        sp AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY ord, doc_id) - 1 AS src_pos
          FROM d
        ),
        v AS (
          SELECT doc_id, source, src_pos,
                 round((src_pos + 1)
                       / CAST(CASE source WHEN 'src0' THEN 0.5
                                          WHEN 'src1' THEN 0.3
                                          ELSE 0.2 END AS DOUBLE), 9)
                   AS vt
          FROM sp
        )
        SELECT doc_id, source, CAST(src_pos AS BIGINT) AS src_pos, vt,
               CAST(row_number() OVER (ORDER BY vt, source, doc_id) - 1
                    AS BIGINT) AS global_pos
        FROM v
    """

    sqls["asof_join_nearest"] = """
        WITH v AS (SELECT event_id, user_id, epoch_us(ts) AS t
                   FROM events WHERE event_type = 'view'),
        p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pt
              FROM events WHERE event_type = 'purchase'),
        j AS (
          SELECT v.event_id, v.user_id, p.purchase_id,
                 row_number() OVER (
                   PARTITION BY v.event_id
                   ORDER BY abs(p.pt - v.t) ASC,
                            CASE WHEN p.pt <= v.t THEN 0 ELSE 1 END ASC,
                            CASE WHEN p.pt <= v.t THEN -p.purchase_id
                                 ELSE p.purchase_id END ASC) AS rn
          FROM v LEFT JOIN p ON v.user_id = p.user_id
        )
        SELECT event_id, user_id, purchase_id FROM j WHERE rn = 1
    """

    sqls["pack_concat_sequences"] = f"""
        WITH tok AS (
          SELECT doc_id,
                 list_filter({_words_sql('text')}, w -> w <> '') AS toks
          FROM documents
        ),
        sized AS (
          SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM tok
        ),
        packed AS (
          SELECT doc_id, toks,
                 CAST(COALESCE(sum(n) OVER (
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 500 AS BIGINT) AS pack_id
          FROM sized
        ),
        agg AS (
          SELECT pack_id,
                 flatten(list(list_append(toks, '<eos>')
                              ORDER BY doc_id)) AS input_ids,
                 count(*) AS n_docs
          FROM packed GROUP BY 1
        )
        SELECT pack_id, {_arrstr_sql('input_ids', 'string')} AS input_ids,
               CAST(len(input_ids) AS BIGINT) AS n_tokens,
               CAST(n_docs AS BIGINT) AS n_docs
        FROM agg
    """

    sqls["dedup_threshold_sweep"] = f"""
        WITH p AS ({{jaccard}}),
        t(threshold) AS (VALUES (0.5), (0.7), (0.8), (0.9)),
        m AS (
          SELECT CAST(t.threshold AS DOUBLE) AS threshold,
                 count(p.id_a) AS n_pairs,
                 count(DISTINCT p.id_b) AS n_docs_killed
          FROM t LEFT JOIN p ON p.jaccard >= t.threshold
          GROUP BY 1
        )
        SELECT threshold, CAST(n_pairs AS BIGINT) AS n_pairs,
               CAST(n_docs_killed AS BIGINT) AS n_docs_killed
        FROM m
    """

    _mrl_unit = (
        "list_transform(embedding[1:16],"
        f" x -> CAST(x AS DOUBLE) / {_norm2_sql('embedding[1:16]')})"
    )
    sqls["embedding_matryoshka"] = f"""
        SELECT vec_id, {_arrstr_sql(_mrl_unit, 'double')} AS mrl
        FROM embeddings
    """

    sqls["ann_matryoshka"] = f"""
        WITH q AS (SELECT vec_id AS query_id,
                          {_mrl_unit} AS qp, embedding AS qfull
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id,
                     {_mrl_unit} AS cp, embedding AS cfull
              FROM embeddings),
        coarse AS (
          SELECT query_id, neighbor_id, qfull, cfull,
                 round({_cos_sql('qp', 'cp')}, 6) AS coarse
          FROM q, c WHERE query_id <> neighbor_id
        ),
        short AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY coarse DESC, neighbor_id)
                      AS cr
          FROM coarse
        ),
        rer AS (
          SELECT query_id, neighbor_id,
                 round({_cos_sql('qfull', 'cfull')}, 6) AS cosine
          FROM short WHERE cr <= 25
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id)
                   AS rank
          FROM rer
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 5
    """

    sqls["ann_recall_matryoshka"] = f"""
        SELECT e.query_id,
               CAST(count(c.neighbor_id) AS BIGINT) AS hits,
               round(CAST(count(c.neighbor_id) AS DOUBLE) / 5, 6)
                 AS recall_at_5
        FROM ({sqls['ann_topk_cosine']}) e
        LEFT JOIN ({sqls['ann_matryoshka']}) c
          ON e.query_id = c.query_id AND e.neighbor_id = c.neighbor_id
        GROUP BY 1
    """

    # --- r5: deterministic pivot-IVF / pivot-PQ tiers + recall
    # certificates (VERDICT r4 ask #6).  The coarse structures are the
    # 8 lowest-id corpus vectors, so the whole search is
    # SQL-expressible; Spark's groupBy-argmin tie-breaks (min struct)
    # are mirrored by row_number(... ORDER BY metric, pivot_id) = 1.
    acos = _cos_sql("c.embedding", "p.pvec")
    pcos = _cos_sql("q.embedding", "p.pvec")
    xcos = _cos_sql("qvec", "cvec")
    sqls["ann_ivf_pivot"] = f"""
        WITH piv AS (
          SELECT vec_id AS pivot_id, embedding AS pvec
          FROM embeddings ORDER BY vec_id LIMIT 8
        ),
        assigned AS (
          SELECT neighbor_id, cvec, pivot_id AS bucket FROM (
            SELECT c.vec_id AS neighbor_id, c.embedding AS cvec,
                   p.pivot_id,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY round({acos}, 6) DESC, p.pivot_id) AS rn
            FROM embeddings c, piv p
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT query_id, qvec, pivot_id AS bucket FROM (
            SELECT q.vec_id AS query_id, q.embedding AS qvec,
                   p.pivot_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round({pcos}, 6) DESC, p.pivot_id) AS pr
            FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, piv p
          ) WHERE pr <= 4
        ),
        cand AS (
          SELECT query_id, neighbor_id, round({xcos}, 6) AS cosine
          FROM probes JOIN assigned USING (bucket)
          WHERE query_id <> neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id)
                   AS rank
          FROM cand
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 5
    """

    encd = _l2sq_sql(
        "list_slice(c.embedding, b.j * 16 + 1, b.j * 16 + 16)", "b.sub_vec"
    )
    adot = _dot_sql("qs.qsub", "b.sub_vec")
    rcos = _cos_sql("qq.embedding", "cc.embedding")
    sqls["ann_pq_pivot"] = f"""
        WITH piv AS (
          SELECT vec_id AS pivot_id, embedding AS pvec
          FROM embeddings ORDER BY vec_id LIMIT 8
        ),
        js AS (SELECT j FROM generate_series(0, 3) AS t(j)),
        books AS (
          SELECT pivot_id, j,
                 list_slice(pvec, j * 16 + 1, j * 16 + 16) AS sub_vec
          FROM piv, js
        ),
        enc AS (
          SELECT neighbor_id, j, code FROM (
            SELECT c.vec_id AS neighbor_id, b.j, b.pivot_id AS code,
                   row_number() OVER (
                     PARTITION BY c.vec_id, b.j
                     ORDER BY round({encd}, 6), b.pivot_id) AS rn
            FROM embeddings c, books b
          ) WHERE rn = 1
        ),
        qsubs AS (
          SELECT q.vec_id AS query_id, js.j,
                 list_slice(q.embedding, js.j * 16 + 1, js.j * 16 + 16)
                   AS qsub
          FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, js
        ),
        coarse AS (
          SELECT qs.query_id, enc.neighbor_id,
                 CAST(sum(CAST(round({adot}, 6) AS {DEC})) AS DOUBLE)
                   AS coarse
          FROM enc
          JOIN books b ON b.pivot_id = enc.code AND b.j = enc.j
          JOIN qsubs qs ON qs.j = enc.j
          GROUP BY 1, 2
        ),
        short AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY coarse DESC, neighbor_id)
                     AS sr
            FROM coarse WHERE query_id <> neighbor_id
          ) WHERE sr <= 20
        ),
        cand AS (
          SELECT s.query_id, s.neighbor_id, round({rcos}, 6) AS cosine
          FROM short s
          JOIN embeddings cc ON cc.vec_id = s.neighbor_id
          JOIN embeddings qq ON qq.vec_id = s.query_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id)
                   AS rank
          FROM cand
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 5
    """

    # r6: pivot-LSH — planes are the 6 lowest-id corpus vectors; bit p
    # of a bucket is the sign of the round-6 dot with plane p (dots
    # fold left-to-right in both engines, so buckets are bit-identical
    # cross-engine); radius-1 multi-probe explodes the query side.
    lcdot = _dot_sql("c.embedding", "piv.pvec")
    lqdot = _dot_sql("q.embedding", "piv.pvec")
    lxcos = _cos_sql("qq.embedding", "cc.embedding")
    sqls["ann_lsh_pivot"] = f"""
        WITH piv AS (
          SELECT plane_id, pvec,
                 CAST(row_number() OVER (ORDER BY plane_id) - 1
                      AS BIGINT) AS p
          FROM (SELECT vec_id AS plane_id, embedding AS pvec
                FROM embeddings ORDER BY vec_id LIMIT 6)
        ),
        cb AS (
          SELECT c.vec_id AS neighbor_id,
                 CAST(sum(CASE WHEN round({lcdot}, 6) > 0
                               THEN (1 << piv.p) ELSE 0 END)
                      AS BIGINT) AS bucket
          FROM embeddings c, piv GROUP BY 1
        ),
        qb AS (
          SELECT q.vec_id AS query_id,
                 CAST(sum(CASE WHEN round({lqdot}, 6) > 0
                               THEN (1 << piv.p) ELSE 0 END)
                      AS BIGINT) AS bucket
          FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, piv
          GROUP BY 1
        ),
        probed AS (
          SELECT query_id, bucket FROM qb
          UNION ALL
          SELECT query_id, xor(bucket, CAST((1 << gs.p) AS BIGINT))
          FROM qb, generate_series(0, 5) AS gs(p)
        ),
        cand AS (
          SELECT pr.query_id, cb.neighbor_id,
                 round({lxcos}, 6) AS cosine
          FROM probed pr
          JOIN cb USING (bucket)
          JOIN embeddings qq ON qq.vec_id = pr.query_id
          JOIN embeddings cc ON cc.vec_id = cb.neighbor_id
          WHERE pr.query_id <> cb.neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id)
                   AS rank
          FROM cand
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 5
    """

    # radius-2 twin: identical to ann_lsh_pivot except the probed CTE
    # adds the bit-PAIR ring (Lv et al. 2007's next perturbation set)
    _r1_probed = """
        probed AS (
          SELECT query_id, bucket FROM qb
          UNION ALL
          SELECT query_id, xor(bucket, CAST((1 << gs.p) AS BIGINT))
          FROM qb, generate_series(0, 5) AS gs(p)
        ),"""
    _r2_probed = """
        probed AS (
          SELECT query_id, bucket FROM qb
          UNION ALL
          SELECT query_id, xor(bucket, CAST((1 << gs.p) AS BIGINT))
          FROM qb, generate_series(0, 5) AS gs(p)
          UNION ALL
          SELECT query_id,
                 xor(bucket, CAST(((1 << gp.p) | (1 << gq.q)) AS BIGINT))
          FROM qb, generate_series(0, 5) AS gp(p),
               generate_series(0, 5) AS gq(q)
          WHERE gp.p < gq.q
        ),"""
    assert _r1_probed in sqls["ann_lsh_pivot"]
    sqls["ann_lsh_pivot_r2"] = sqls["ann_lsh_pivot"].replace(
        _r1_probed, _r2_probed
    )

    for cert, base in (
        ("ann_recall_ivf", "ann_ivf_pivot"),
        ("ann_recall_pq", "ann_pq_pivot"),
        ("ann_recall_lsh", "ann_lsh_pivot"),
    ):
        sqls[cert] = f"""
        SELECT e.query_id,
               CAST(count(c.neighbor_id) AS BIGINT) AS hits,
               round(CAST(count(c.neighbor_id) AS DOUBLE) / 5, 6)
                 AS recall_at_5
        FROM ({sqls['ann_topk_cosine']}) e
        LEFT JOIN ({sqls[base]}) c
          ON e.query_id = c.query_id AND e.neighbor_id = c.neighbor_id
        GROUP BY 1
    """

    _rbo_w = similarity.rbo_suffix_weights(5, 0.9)
    _rbo_case = "CASE greatest(e.rank, a.rank) " + " ".join(
        f"WHEN {m} THEN {repr(_rbo_w[m])}" for m in range(1, 6)
    ) + " END"
    sqls["ann_rbo_lsh"] = f"""
        WITH rboe AS ({sqls['ann_topk_cosine']}),
        rboa AS ({sqls['ann_lsh_pivot']}),
        rbop AS (
          SELECT e.query_id, count(*) AS n_common,
            round(CAST(sum(CAST({_rbo_case} AS DECIMAL(27,12)))
                  AS DOUBLE), 6) AS rbo
          FROM rboe e JOIN rboa a
            ON e.query_id = a.query_id
           AND e.neighbor_id = a.neighbor_id
          GROUP BY 1
        ),
        rboq AS (SELECT DISTINCT query_id FROM rboe)
        SELECT q.query_id,
          CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
          COALESCE(rbo, 0.0) AS rbo
        FROM rboq q LEFT JOIN rbop USING (query_id)
    """

    sqls["dedup_threshold_sweep"] = sqls["dedup_threshold_sweep"].replace(
        "{jaccard}", sqls["dedup_jaccard"]
    )

    # r6: MMR unrolled as k=5 greedy CTE stages (the graph_hits_fixed
    # pattern).  λ and (1−λ) are pinned to the EXACT doubles the Spark
    # side multiplies with (repr), scores/sims round-6 before every
    # argmax, ties on neighbor_id — the pick sequence is therefore
    # bit-identical cross-engine.
    mlam, moneminus = repr(0.7), repr(1.0 - 0.7)
    mscos = _cos_sql("qe", "ce")
    mpcos = _cos_sql("sv.embedding", "cv.embedding")
    mmr_ctes = f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id, embedding AS ce
              FROM embeddings),
        scored0 AS (
          SELECT query_id, neighbor_id, round({mscos}, 6) AS relevance
          FROM q, c WHERE query_id <> neighbor_id
        ),
        short AS (
          SELECT query_id, neighbor_id, relevance FROM (
            SELECT query_id, neighbor_id, relevance,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY relevance DESC, neighbor_id)
                     AS rn
            FROM scored0) WHERE rn <= 20
        ),
        sel1 AS (
          SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS rank FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY relevance DESC, neighbor_id)
                     AS rn
            FROM short) WHERE rn = 1
        )"""
    for t in range(2, 6):
        mmr_ctes += f""",
        mx{t} AS (
          SELECT s2.query_id, s2.neighbor_id,
                 max(round({mpcos}, 6)) AS maxsim
          FROM short s2
          JOIN sel{t - 1} ch ON ch.query_id = s2.query_id
          JOIN embeddings cv ON cv.vec_id = ch.neighbor_id
          JOIN embeddings sv ON sv.vec_id = s2.neighbor_id
          WHERE NOT EXISTS (
            SELECT 1 FROM sel{t - 1} x
            WHERE x.query_id = s2.query_id
              AND x.neighbor_id = s2.neighbor_id)
          GROUP BY 1, 2
        ),
        pick{t} AS (
          SELECT query_id, neighbor_id, CAST({t} AS BIGINT) AS rank FROM (
            SELECT s.query_id, s.neighbor_id,
                   row_number() OVER (
                     PARTITION BY s.query_id
                     ORDER BY round(CAST({mlam} AS DOUBLE) * s.relevance
                                    - CAST({moneminus} AS DOUBLE)
                                      * mx{t}.maxsim, 6) DESC,
                              s.neighbor_id) AS rn
            FROM short s
            JOIN mx{t} ON mx{t}.query_id = s.query_id
                      AND mx{t}.neighbor_id = s.neighbor_id
          ) WHERE rn = 1
        ),
        sel{t} AS (
          SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM pick{t}
        )"""
    sqls["ann_mmr_fixed"] = mmr_ctes + """
        SELECT s.query_id, s.neighbor_id, sh.relevance, s.rank
        FROM sel5 s
        JOIN short sh ON sh.query_id = s.query_id
                     AND sh.neighbor_id = s.neighbor_id
    """

    # r6: Ljung–Box Q wraps the ACF oracle verbatim; per-lag terms
    # round to 9 dp and cumulate as exact DECIMAL over the lag window.
    sqls["events_ljung_box"] = f"""
        WITH a AS ({sqls['events_daily_acf']}),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days
               FROM (SELECT CAST(ts AS DATE) AS d FROM events GROUP BY 1)),
        t AS (SELECT a.lag, nd.n_days,
                CAST(round(a.acf * a.acf
                           / (CAST(nd.n_days AS DOUBLE)
                              - CAST(a.lag AS DOUBLE)), 9)
                     AS DECIMAL(38,9)) AS term
              FROM a, nd)
        SELECT lag, n_days,
               round(CAST(n_days AS DOUBLE)
                     * (CAST(n_days AS DOUBLE) + CAST(2.0 AS DOUBLE))
                     * CAST(sum(term) OVER (ORDER BY lag) AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS q_stat
        FROM t ORDER BY lag
    """

    sqls["events_poisson_dispersion"] = """
        WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
                       FROM events GROUP BY 1),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                      CAST(sum(n) AS BIGINT) AS total_events,
                      CAST(sum(n) AS DOUBLE) / count(*) AS mu
               FROM daily),
        ss AS (SELECT CAST(sum(CAST(round(
                        (CAST(n AS DOUBLE) - st.mu)
                        * (CAST(n AS DOUBLE) - st.mu), 6)
                      AS DECIMAL(27,6))) AS DOUBLE) AS ssq
               FROM daily, st)
        SELECT st.n_days, st.total_events,
               round(st.mu, 6) + CAST(0.0 AS DOUBLE) AS mean_daily,
               round(ss.ssq / (CAST(st.n_days AS DOUBLE)
                               - CAST(1.0 AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS var_daily,
               round(ss.ssq / (CAST(st.n_days AS DOUBLE)
                               - CAST(1.0 AS DOUBLE)) / st.mu, 6)
                 + CAST(0.0 AS DOUBLE) AS dispersion_index,
               round(ss.ssq / st.mu, 6)
                 + CAST(0.0 AS DOUBLE) AS chi_square
        FROM st, ss
    """

    sqls["events_value_anova"] = """
        WITH g AS (SELECT event_type,
                     CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(round(value, 6) AS DECIMAL(27,6))) AS s,
                     sum(CAST(round(value * value, 6)
                              AS DECIMAL(27,6))) AS ss
                   FROM events GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
                       CAST(sum(n) AS BIGINT) AS n_total,
                       CAST(sum(s) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
                         AS gmean
                FROM g),
        terms AS (SELECT tot.k_groups, tot.n_total,
                    CAST(round(CAST(g.n AS DOUBLE)
                          * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)
                             - tot.gmean)
                          * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)
                             - tot.gmean), 6) AS DECIMAL(27,6)) AS ssb_t,
                    CAST(round(CAST(g.ss AS DOUBLE)
                          - CAST(g.n AS DOUBLE)
                          * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
                          * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)),
                          6) AS DECIMAL(27,6)) AS ssw_t
                  FROM g, tot),
        fin AS (SELECT max(k_groups) AS k_groups,
                       max(n_total) AS n_total,
                       CAST(sum(ssb_t) AS DOUBLE) AS ssb,
                       CAST(sum(ssw_t) AS DOUBLE) AS ssw
                FROM terms)
        SELECT k_groups, n_total,
               round(ssb, 6) + CAST(0.0 AS DOUBLE) AS ss_between,
               round(ssw, 6) + CAST(0.0 AS DOUBLE) AS ss_within,
               round((ssb / (CAST(k_groups AS DOUBLE)
                             - CAST(1.0 AS DOUBLE)))
                     / (ssw / (CAST(n_total AS DOUBLE)
                               - CAST(k_groups AS DOUBLE))), 6)
                 + CAST(0.0 AS DOUBLE) AS f_stat
        FROM fin
    """

    sqls["shipping_delay_capability"] = """
        WITH d AS (SELECT date_diff('day', o.o_orderdate, l.l_shipdate)
                     AS dd
                   FROM lineitem l
                   JOIN orders o ON l.l_orderkey = o.o_orderkey),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n_lines,
                     CAST(sum(CAST(dd AS BIGINT)) AS BIGINT) AS sd,
                     CAST(sum(CAST(dd AS BIGINT) * CAST(dd AS BIGINT))
                          AS BIGINT) AS sdd
              FROM d),
        m AS (SELECT n_lines,
                     CAST(sd AS DOUBLE) / CAST(n_lines AS DOUBLE) AS mu,
                     sqrt(greatest(
                       (CAST(sdd AS DOUBLE)
                        - CAST(n_lines AS DOUBLE)
                          * (CAST(sd AS DOUBLE) / CAST(n_lines AS DOUBLE))
                          * (CAST(sd AS DOUBLE) / CAST(n_lines AS DOUBLE)))
                       / (CAST(n_lines AS DOUBLE) - CAST(1.0 AS DOUBLE)),
                       CAST(1e-18 AS DOUBLE))) AS sigma
              FROM a)
        SELECT n_lines,
               round(mu, 6) + CAST(0.0 AS DOUBLE) AS mean_delay,
               round(sigma, 6) + CAST(0.0 AS DOUBLE) AS std_delay,
               round((CAST(90.0 AS DOUBLE) - CAST(0.0 AS DOUBLE))
                     / (CAST(6.0 AS DOUBLE) * sigma), 6)
                 + CAST(0.0 AS DOUBLE) AS cp,
               round(least(CAST(90.0 AS DOUBLE) - mu,
                           mu - CAST(0.0 AS DOUBLE))
                     / (CAST(3.0 AS DOUBLE) * sigma), 6)
                 + CAST(0.0 AS DOUBLE) AS cpk
        FROM m
    """

    # r6: band-index compaction — replayed-merge duplicates, %7
    # tombstones and >512 hot buckets all removed, per-band summary.
    sqls["dedup_index_compaction"] = f"""
        WITH {_minhash_bands_sql()},
        stale AS (SELECT * FROM bands UNION ALL SELECT * FROM bands),
        dd AS (SELECT DISTINCT doc_id, band_id, band_key FROM stale),
        live AS (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0),
        alive AS (SELECT dd.doc_id, dd.band_id, dd.band_key
                  FROM dd JOIN live USING (doc_id)),
        sz AS (SELECT band_id, band_key, count(*) AS bn
               FROM alive GROUP BY 1, 2),
        kept AS (SELECT a.doc_id, a.band_id, a.band_key
                 FROM alive a JOIN sz USING (band_id, band_key)
                 WHERE sz.bn <= 512)
        SELECT band_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT band_key) AS BIGINT) AS n_buckets
        FROM kept GROUP BY 1 ORDER BY 1
    """

    # r6: periodogram — exact integer mod reduces the angle BEFORE
    # cos/sin (bit-identical small arguments both engines), 2π pinned,
    # round-9 decimal term sums absorb last-ulp libm disagreement.
    _pg_th = (
        "CAST(6.283185307179586 AS DOUBLE)"
        " * CAST(dev.t % pr.period AS DOUBLE)"
        " / CAST(pr.period AS DOUBLE)"
    )
    sqls["events_periodogram"] = f"""
        WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
                       FROM events GROUP BY 1),
        st AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mu,
                      CAST(count(*) AS BIGINT) AS nd,
                      CAST(min(date_diff('day', DATE '1970-01-01', d))
                           AS BIGINT) AS x0
               FROM daily),
        dev AS (SELECT CAST(date_diff('day', DATE '1970-01-01', d)
                            AS BIGINT) - st.x0 AS t,
                       CAST(n AS DOUBLE) - st.mu AS dev,
                       st.nd
                FROM daily, st),
        pr AS (SELECT CAST(p AS BIGINT) AS period
               FROM generate_series(2, 10) AS g(p)),
        terms AS (SELECT pr.period, dev.nd,
                    CAST(round(dev.dev * cos({_pg_th}), 9)
                         AS DECIMAL(38,9)) AS a,
                    CAST(round(dev.dev * sin({_pg_th}), 9)
                         AS DECIMAL(38,9)) AS b
                  FROM dev, pr),
        ag AS (SELECT period, CAST(max(nd) AS BIGINT) AS nd,
                      CAST(sum(a) AS DOUBLE) AS sa,
                      CAST(sum(b) AS DOUBLE) AS sb
               FROM terms GROUP BY 1)
        SELECT period,
               round((sa * sa + sb * sb) / CAST(nd AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS power
        FROM ag ORDER BY period
    """

    # r6: Page–Hinkley — decimal cumsum + running extrema over the
    # day-ordered grid, exact until the 1-row final.
    sqls["events_page_hinkley"] = """
        WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
                       FROM events GROUP BY 1),
        mu AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mu,
                      CAST(count(*) AS BIGINT) AS n_days
               FROM daily),
        dev AS (SELECT d, mu.n_days,
                       CAST(round(CAST(n AS DOUBLE) - mu.mu, 6)
                            AS DECIMAL(27,6)) AS dv
                FROM daily, mu),
        ph AS (SELECT d, n_days,
                      sum(dv) OVER (ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS ph
               FROM dev),
        r AS (SELECT n_days, ph,
                     min(ph) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS rmin,
                     max(ph) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS rmax
              FROM ph)
        SELECT CAST(max(n_days) AS BIGINT) AS n_days,
               round(max(CAST(ph - rmin AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS ph_up,
               round(max(CAST(rmax - ph AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS ph_down
        FROM r
    """

    # r6: Theil–Sen — exact order-statistic median over the
    # calendar²-bounded pairwise-slope set; intercept median reuses
    # the round-6 published slope.
    sqls["events_theil_sen"] = """
        WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                              CAST(count(*) AS BIGINT) AS n
                       FROM events GROUP BY 1),
        dx0 AS (SELECT CAST(date_diff('day', DATE '1970-01-01', d)
                            AS BIGINT) AS x0, n
                FROM daily),
        xm AS (SELECT min(x0) AS xmin FROM dx0),
        dx AS (SELECT CAST(x0 - xm.xmin AS BIGINT) AS x, n
               FROM dx0, xm),
        pr AS (SELECT CAST(b.n - a.n AS DOUBLE)
                      / CAST(b.x - a.x AS DOUBLE) AS sl
               FROM dx a JOIN dx b ON b.x > a.x),
        np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pr),
        rk AS (SELECT sl, np.np,
                      row_number() OVER (ORDER BY sl) AS rn
               FROM pr, np),
        s AS (SELECT CAST(max(np) AS BIGINT) AS n_pairs,
                     round(sum(sl) / CAST(count(*) AS DOUBLE), 6)
                       AS slope
              FROM rk
              WHERE rn >= (np + 1) // 2 AND rn <= np // 2 + 1),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM dx),
        res AS (SELECT s.n_pairs, s.slope, nd.n_days,
                       CAST(dx.n AS DOUBLE)
                       - s.slope * CAST(dx.x AS DOUBLE) AS r
                FROM dx, s, nd),
        rr AS (SELECT n_pairs, slope, n_days, r,
                      row_number() OVER (ORDER BY r) AS rn
               FROM res)
        SELECT CAST(max(n_days) AS BIGINT) AS n_days,
               CAST(max(n_pairs) AS BIGINT) AS n_pairs,
               max(slope) + CAST(0.0 AS DOUBLE) AS slope,
               round(sum(r) / CAST(count(*) AS DOUBLE), 6)
                 + CAST(0.0 AS DOUBLE) AS intercept
        FROM rr
        WHERE rn >= (n_days + 1) // 2 AND rn <= n_days // 2 + 1
    """

    # r6: fixed-iteration LPA on the co-purchase graph — 2 unrolled
    # synchronous rounds, argmax = row_number (c DESC, lbl).
    sqls["graph_lpa_fixed"] = f"""
        WITH {_graph_edges_sql},
        em AS (SELECT a AS s, b AS d FROM e0
               UNION ALL SELECT b AS s, a AS d FROM e0),
        c1 AS (SELECT s AS v, d AS lbl, count(*) AS c
               FROM em GROUP BY 1, 2),
        n1 AS (SELECT v, lbl FROM (
                 SELECT v, lbl,
                        row_number() OVER (PARTITION BY v
                                           ORDER BY c DESC, lbl) AS rn
                 FROM c1) WHERE rn = 1),
        c2 AS (SELECT em.s AS v, n1.lbl AS lbl, count(*) AS c
               FROM em JOIN n1 ON n1.v = em.d GROUP BY 1, 2),
        n2 AS (SELECT v, lbl FROM (
                 SELECT v, lbl,
                        row_number() OVER (PARTITION BY v
                                           ORDER BY c DESC, lbl) AS rn
                 FROM c2) WHERE rn = 1)
        SELECT lbl AS community,
               CAST(count(*) AS BIGINT) AS n_members
        FROM n2 GROUP BY 1
    """

    # r6: Kruskal–Wallis — the MW midrank grid generalized to all
    # types; per-type H terms round-6 into DECIMAL, full tie term.
    sqls["events_kruskal_wallis"] = """
        WITH g AS (SELECT round(CAST(value AS DOUBLE), 4) AS v,
                          event_type,
                          CAST(count(*) AS BIGINT) AS c
                   FROM events GROUP BY 1, 2),
        grid AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM g GROUP BY 1),
        m2 AS (SELECT v, t,
                 CAST(2 * COALESCE(sum(t) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0)
                      + t + 1 AS BIGINT) AS m2
               FROM grid),
        pt AS (SELECT g.event_type,
                      CAST(sum(g.c) AS BIGINT) AS n,
                      sum(CAST(g.c * m2.m2 AS DECIMAL(38,0))) AS r2
               FROM g JOIN m2 ON m2.v = g.v GROUP BY 1),
        terms AS (SELECT n,
                    CAST(round((CAST(r2 AS DOUBLE) / CAST(2.0 AS DOUBLE))
                               * (CAST(r2 AS DOUBLE)
                                  / CAST(2.0 AS DOUBLE))
                               / CAST(n AS DOUBLE), 6)
                         AS DECIMAL(27,6)) AS term
                  FROM pt),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
                       CAST(sum(n) AS BIGINT) AS n_total,
                       CAST(sum(term) AS DOUBLE) AS s
                FROM terms),
        ties AS (SELECT CAST(sum(CAST(t * t * t - t AS DECIMAL(38,0)))
                             AS DOUBLE) AS ties
                 FROM grid)
        SELECT k_groups, n_total,
               round((CAST(12.0 AS DOUBLE)
                      / (CAST(n_total AS DOUBLE)
                         * (CAST(n_total AS DOUBLE)
                            + CAST(1.0 AS DOUBLE)))) * s
                     - CAST(3.0 AS DOUBLE)
                       * (CAST(n_total AS DOUBLE)
                          + CAST(1.0 AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS h_stat,
               round(((CAST(12.0 AS DOUBLE)
                       / (CAST(n_total AS DOUBLE)
                          * (CAST(n_total AS DOUBLE)
                             + CAST(1.0 AS DOUBLE)))) * s
                      - CAST(3.0 AS DOUBLE)
                        * (CAST(n_total AS DOUBLE)
                           + CAST(1.0 AS DOUBLE)))
                     / greatest(CAST(1.0 AS DOUBLE)
                                - ties
                                  / (CAST(n_total AS DOUBLE)
                                     * CAST(n_total AS DOUBLE)
                                     * CAST(n_total AS DOUBLE)
                                     - CAST(n_total AS DOUBLE)),
                                CAST(1e-18 AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS h_tie_corrected
        FROM tot, ties
    """

    # r6: Levene W (mean-centered) — per-type means broadcast back,
    # then the ANOVA moment pattern on |v − mean|.
    sqls["events_levene"] = """
        WITH mn AS (SELECT event_type,
                      CAST(sum(CAST(round(value, 6) AS DECIMAL(27,6)))
                           AS DOUBLE)
                        / CAST(count(*) AS DOUBLE) AS m
                    FROM events GROUP BY 1),
        z AS (SELECT e.event_type,
                     round(abs(round(e.value, 6) - mn.m), 6) AS z
              FROM events e JOIN mn ON mn.event_type = e.event_type),
        g AS (SELECT event_type,
                     CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(z AS DECIMAL(27,6))) AS zs,
                     sum(CAST(round(z * z, 6) AS DECIMAL(27,6))) AS zss
              FROM z GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
                       CAST(sum(n) AS BIGINT) AS n_total,
                       CAST(sum(zs) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
                         AS gmean
                FROM g),
        terms AS (SELECT tot.k_groups, tot.n_total,
                    CAST(round(CAST(g.n AS DOUBLE)
                          * (CAST(g.zs AS DOUBLE) / CAST(g.n AS DOUBLE)
                             - tot.gmean)
                          * (CAST(g.zs AS DOUBLE) / CAST(g.n AS DOUBLE)
                             - tot.gmean), 6) AS DECIMAL(27,6)) AS ssb_t,
                    CAST(round(CAST(g.zss AS DOUBLE)
                          - CAST(g.n AS DOUBLE)
                          * (CAST(g.zs AS DOUBLE) / CAST(g.n AS DOUBLE))
                          * (CAST(g.zs AS DOUBLE) / CAST(g.n AS DOUBLE)),
                          6) AS DECIMAL(27,6)) AS ssw_t
                  FROM g, tot),
        fin AS (SELECT max(k_groups) AS k_groups,
                       max(n_total) AS n_total,
                       CAST(sum(ssb_t) AS DOUBLE) AS ssb,
                       CAST(sum(ssw_t) AS DOUBLE) AS ssw
                FROM terms)
        SELECT k_groups, n_total,
               round((ssb / (CAST(k_groups AS DOUBLE)
                             - CAST(1.0 AS DOUBLE)))
                     / greatest(ssw / (CAST(n_total AS DOUBLE)
                                       - CAST(k_groups AS DOUBLE)),
                                CAST(1e-18 AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS w_stat
        FROM fin
    """

    # r6: Cramér's V — the chi-square oracle's contingency (observed
    # cells, round-9 decimal total) plus the normalized final.
    sqls["events_cramers_v"] = """
        WITH cells AS (SELECT event_type, dayofweek(ts) + 1 AS dow,
                              count(*) AS o
                       FROM events GROUP BY 1, 2),
        sized AS (SELECT event_type, dow, o,
                    sum(o) OVER (PARTITION BY event_type) AS row_n,
                    sum(o) OVER (PARTITION BY dow) AS col_n,
                    sum(o) OVER () AS n
                  FROM cells),
        term AS (SELECT
                   round(pow(o - CAST(row_n AS DOUBLE)
                                 * CAST(col_n AS DOUBLE)
                                 / CAST(n AS DOUBLE), 2)
                         / (CAST(row_n AS DOUBLE)
                            * CAST(col_n AS DOUBLE)
                            / CAST(n AS DOUBLE)), 9) AS t,
                   event_type, dow, n
                 FROM sized),
        a AS (SELECT round(CAST(sum(CAST(t AS DECIMAL(27,9)))
                                AS DOUBLE), 6) AS chi_square,
                     CAST(max(n) AS BIGINT) AS n_events,
                     CAST(count(DISTINCT event_type) AS BIGINT)
                       AS r_levels,
                     CAST(count(DISTINCT dow) AS BIGINT) AS c_levels
              FROM term)
        SELECT chi_square, n_events, r_levels, c_levels,
               round(sqrt(chi_square
                          / greatest(CAST(n_events AS DOUBLE)
                                     * CAST(least(r_levels - 1,
                                                  c_levels - 1)
                                            AS DOUBLE),
                                     CAST(1e-18 AS DOUBLE))), 6)
                 + CAST(0.0 AS DOUBLE) AS cramers_v
        FROM a
    """

    # r6: point-biserial — conditional round-6 DECIMAL sums, shared
    # Σx², population σ.
    _pbn1 = "CAST(n_returned AS DOUBLE)"
    _pbn0 = "CAST(n_kept AS DOUBLE)"
    _pbn = f"({_pbn1} + {_pbn0})"
    _pbm1 = f"(CAST(s1 AS DOUBLE) / {_pbn1})"
    _pbm0 = f"(CAST(s0 AS DOUBLE) / {_pbn0})"
    _pbmu = f"((CAST(s1 AS DOUBLE) + CAST(s0 AS DOUBLE)) / {_pbn})"
    _pbsig = (
        f"sqrt(greatest(CAST(ss AS DOUBLE) / {_pbn}"
        f" - {_pbmu} * {_pbmu}, CAST(1e-18 AS DOUBLE)))"
    )
    sqls["lineitem_point_biserial"] = f"""
        WITH b AS (SELECT
                     round(l_extendedprice
                           * (CAST(1.0 AS DOUBLE) - l_discount), 6) AS x,
                     CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS f
                   FROM lineitem),
        a AS (SELECT CAST(sum(f) AS BIGINT) AS n_returned,
                     CAST(count(*) - sum(f) AS BIGINT) AS n_kept,
                     sum(CAST(CASE WHEN f = 1 THEN x
                              ELSE CAST(0.0 AS DOUBLE) END
                              AS DECIMAL(27,6))) AS s1,
                     sum(CAST(CASE WHEN f = 0 THEN x
                              ELSE CAST(0.0 AS DOUBLE) END
                              AS DECIMAL(27,6))) AS s0,
                     sum(CAST(round(x * x, 6) AS DECIMAL(27,6))) AS ss
              FROM b)
        SELECT n_returned, n_kept,
               round({_pbm1}, 6) + CAST(0.0 AS DOUBLE) AS mean_returned,
               round({_pbm0}, 6) + CAST(0.0 AS DOUBLE) AS mean_kept,
               round(({_pbm1} - {_pbm0}) / {_pbsig}
                     * sqrt({_pbn1} / {_pbn} * ({_pbn0} / {_pbn})), 6)
                 + CAST(0.0 AS DOUBLE) AS r_pb
        FROM a
    """

    # r6: Welch's t weekend-vs-weekday — exact BIGINT day moments,
    # DuckDB dayofweek is 0-based (Sun=0, Sat=6) vs Spark's 1-based.
    _n1d = "CAST(n_weekend AS DOUBLE)"
    _n2d = "CAST(n_weekday AS DOUBLE)"
    _m1 = f"(CAST(s1 AS DOUBLE) / {_n1d})"
    _m2 = f"(CAST(s2 AS DOUBLE) / {_n2d})"
    _v1 = (
        f"((CAST(ss1 AS DOUBLE) - {_n1d} * {_m1} * {_m1})"
        f" / ({_n1d} - CAST(1.0 AS DOUBLE)))"
    )
    _v2 = (
        f"((CAST(ss2 AS DOUBLE) - {_n2d} * {_m2} * {_m2})"
        f" / ({_n2d} - CAST(1.0 AS DOUBLE)))"
    )
    _a1 = f"({_v1} / {_n1d})"
    _a2 = f"({_v2} / {_n2d})"
    sqls["events_welch_weekend"] = f"""
        WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
                       FROM events GROUP BY 1),
        g AS (SELECT (dayofweek(d) IN (0, 6)) AS we,
                     CAST(count(*) AS BIGINT) AS cnt,
                     CAST(sum(CAST(n AS BIGINT)) AS BIGINT) AS s,
                     CAST(sum(CAST(n AS BIGINT) * CAST(n AS BIGINT))
                          AS BIGINT) AS ss
              FROM daily GROUP BY 1),
        p AS (SELECT
                max(CASE WHEN we THEN cnt END) AS n_weekend,
                max(CASE WHEN we THEN s END) AS s1,
                max(CASE WHEN we THEN ss END) AS ss1,
                max(CASE WHEN NOT we THEN cnt END) AS n_weekday,
                max(CASE WHEN NOT we THEN s END) AS s2,
                max(CASE WHEN NOT we THEN ss END) AS ss2
              FROM g)
        SELECT n_weekend, n_weekday,
               round({_m1}, 6) + CAST(0.0 AS DOUBLE) AS mean_weekend,
               round({_m2}, 6) + CAST(0.0 AS DOUBLE) AS mean_weekday,
               round(({_m1} - {_m2})
                     / sqrt(greatest({_a1} + {_a2},
                                     CAST(1e-18 AS DOUBLE))), 6)
                 + CAST(0.0 AS DOUBLE) AS t_stat,
               round((({_a1} + {_a2}) * ({_a1} + {_a2}))
                     / greatest({_a1} * {_a1}
                                / ({_n1d} - CAST(1.0 AS DOUBLE))
                                + {_a2} * {_a2}
                                / ({_n2d} - CAST(1.0 AS DOUBLE)),
                                CAST(1e-18 AS DOUBLE)), 6)
                 + CAST(0.0 AS DOUBLE) AS df
        FROM p
    """

    # r6: Grubbs' one-outlier test — exact BIGINT day moments.
    _gnd = "CAST(n_days AS DOUBLE)"
    _gmu = f"(CAST(s AS DOUBLE) / {_gnd})"
    _gs = (
        f"sqrt(greatest((CAST(ss AS DOUBLE) - {_gnd} * {_gmu} * {_gmu})"
        f" / ({_gnd} - CAST(1.0 AS DOUBLE)), CAST(1e-18 AS DOUBLE)))"
    )
    sqls["events_grubbs"] = f"""
        WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                              CAST(count(*) AS BIGINT) AS n
                       FROM events GROUP BY 1),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                     CAST(sum(n) AS BIGINT) AS s,
                     CAST(sum(n * n) AS BIGINT) AS ss,
                     max(n) AS max_daily,
                     min(n) AS min_daily
              FROM daily)
        SELECT n_days,
               round({_gmu}, 6) + CAST(0.0 AS DOUBLE) AS mean_daily,
               round({_gs}, 6) + CAST(0.0 AS DOUBLE) AS std_daily,
               max_daily, min_daily,
               round((CAST(max_daily AS DOUBLE) - {_gmu}) / {_gs}, 6)
                 + CAST(0.0 AS DOUBLE) AS g_max,
               round(({_gmu} - CAST(min_daily AS DOUBLE)) / {_gs}, 6)
                 + CAST(0.0 AS DOUBLE) AS g_min
        FROM a
    """

    # r6: Cochran–Armitage trend of the urgent share across epoch
    # months — every score sum an exact BIGINT.
    _cnn = "CAST(n_orders AS DOUBLE)"
    _cp = f"(CAST(n_high AS DOUBLE) / {_cnn})"
    sqls["orders_priority_trend"] = f"""
        WITH m AS (SELECT
                     CAST((year(o_orderdate) - 1970) * 12
                          + month(o_orderdate) - 1 AS BIGINT) AS s,
                     CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 ELSE 0 END AS hi
                   FROM orders),
        grid AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(hi) AS BIGINT) AS r
                 FROM m GROUP BY 1),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n_months,
                     CAST(sum(n) AS BIGINT) AS n_orders,
                     CAST(sum(r) AS BIGINT) AS n_high,
                     CAST(sum(s * r) AS BIGINT) AS sr,
                     CAST(sum(s * n) AS BIGINT) AS sn,
                     CAST(sum(s * s * n) AS BIGINT) AS ssn
              FROM grid)
        SELECT n_months, n_orders, n_high,
               round((CAST(sr AS DOUBLE) - {_cp} * CAST(sn AS DOUBLE))
                     / sqrt(greatest(
                         {_cp} * (CAST(1.0 AS DOUBLE) - {_cp})
                         * (CAST(ssn AS DOUBLE)
                            - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
                              / {_cnn}),
                         CAST(1e-18 AS DOUBLE))), 6)
                 + CAST(0.0 AS DOUBLE) AS z_stat
        FROM a
    """

    # r6: Good–Turing-smoothed LM scoring under the src0 domain LM;
    # OOV tokens priced at the held-out N1/N mass.
    sqls["text_gt_logprob"] = f"""
        WITH rt AS (SELECT unnest({w}) AS word FROM documents
                    WHERE source = 'src0'),
        rtt AS (SELECT word FROM rt WHERE word <> ''),
        c AS (SELECT word, count(*) AS r FROM rtt GROUP BY 1),
        nr AS (SELECT r, count(*) AS n_r FROM c GROUP BY 1),
        adj AS (SELECT nr.r,
                  COALESCE(round(CAST(nr.r + 1 AS DOUBLE) * nx.n_r
                                 / nr.n_r, 6),
                           CAST(nr.r AS DOUBLE)) AS rstar
                FROM nr LEFT JOIN nr nx ON nx.r = nr.r + 1),
        lm AS (SELECT c.word, adj.rstar FROM c JOIN adj ON adj.r = c.r),
        tot AS (SELECT CAST(sum(r) AS DOUBLE) AS n,
                       CAST(greatest(sum(CASE WHEN r = 1 THEN 1
                                          ELSE 0 END), 1) AS DOUBLE) AS n1
                FROM c),
        t AS (SELECT doc_id, unnest({w}) AS word FROM documents),
        tt AS (SELECT doc_id, word FROM t WHERE word <> ''),
        tf AS (SELECT doc_id, word, count(*) AS tf FROM tt GROUP BY 1, 2),
        s AS (SELECT tf.doc_id, tf.tf,
                CASE WHEN lm.rstar IS NULL THEN tf.tf ELSE 0 END AS oov,
                CAST(round(log10(COALESCE(lm.rstar, tot.n1) / tot.n), 6)
                     AS DECIMAL(27,6)) * tf.tf AS wlp
              FROM tf LEFT JOIN lm ON lm.word = tf.word CROSS JOIN tot)
        SELECT doc_id,
               CAST(sum(tf) AS BIGINT) AS n_tokens,
               CAST(sum(oov) AS BIGINT) AS n_oov,
               round(CAST(sum(wlp) AS DOUBLE)
                     / CAST(sum(tf) AS BIGINT), 6) AS mean_logprob
        FROM s GROUP BY 1
    """

    # r5: week-over-week PSI — epoch week index, 10 value bins,
    # epsilon-floored proportions, round-9 decimal term sum.
    sqls["events_psi_weekly"] = """
        WITH h AS (
          SELECT CAST(floor(date_diff('day', DATE '1970-01-01',
                                      CAST(ts AS DATE))
                            / CAST(7.0 AS DOUBLE)) AS BIGINT) AS week,
                 least(CAST(9 AS BIGINT),
                       greatest(CAST(0 AS BIGINT),
                                CAST(floor(value / CAST(50.0 AS DOUBLE))
                                     AS BIGINT))) AS bin,
                 count(*) AS c
          FROM events GROUP BY 1, 2),
        t AS (SELECT week, CAST(sum(c) AS BIGINT) AS n
              FROM h GROUP BY 1),
        grid AS (SELECT t.week, t.n, CAST(gs.b AS BIGINT) AS bin
                 FROM t, generate_series(0, 9) AS gs(b)),
        dense AS (
          SELECT g.week, g.bin, g.n,
                 greatest(CAST(COALESCE(h.c, 0) AS DOUBLE)
                            / CAST(g.n AS DOUBLE),
                          CAST(1e-6 AS DOUBLE)) AS p
          FROM grid g
          LEFT JOIN h ON h.week = g.week AND h.bin = g.bin),
        pairs AS (
          SELECT cur.week, prv.n AS n_prev, cur.n AS n_cur,
                 CAST(round((cur.p - prv.p) * ln(cur.p / prv.p), 9)
                      AS DECIMAL(27,18)) AS term
          FROM dense cur
          JOIN dense prv
            ON prv.week = cur.week - 1 AND prv.bin = cur.bin)
        SELECT week, n_prev, n_cur,
               round(CAST(sum(term) AS DOUBLE), 6) AS psi
        FROM pairs GROUP BY 1, 2, 3
    """

    # r5: Bray–Curtis word-mass dissimilarity between source pairs.
    _bc_w = _words_sql("text")
    _bc_n = _norm_sql("text")
    sqls["corpus_bray_curtis"] = f"""
        WITH tok AS (SELECT source AS g, unnest({_bc_w}) AS w
                     FROM documents WHERE length({_bc_n}) >= 1),
        cnt AS (SELECT g, w, count(*) AS c FROM tok GROUP BY 1, 2),
        tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n
                FROM cnt GROUP BY 1),
        shared AS (
          SELECT a.g AS source_a, b.g AS source_b,
                 CAST(sum(least(a.c, b.c)) AS BIGINT) AS shared_mass
          FROM cnt a JOIN cnt b ON a.w = b.w AND a.g < b.g
          GROUP BY 1, 2),
        pairs AS (SELECT ta.g AS source_a, tb.g AS source_b,
                         ta.n AS n_a, tb.n AS n_b
                  FROM tot ta, tot tb WHERE ta.g < tb.g)
        SELECT p.source_a, p.source_b,
               CAST(COALESCE(s.shared_mass, 0) AS BIGINT) AS shared_mass,
               p.n_a, p.n_b,
               round(CAST(1.0 AS DOUBLE)
                     - CAST(2.0 AS DOUBLE)
                       * CAST(COALESCE(s.shared_mass, 0) AS DOUBLE)
                       / (CAST(p.n_a AS DOUBLE)
                          + CAST(p.n_b AS DOUBLE)), 6) AS bray_curtis
        FROM pairs p
        LEFT JOIN shared s
          ON s.source_a = p.source_a AND s.source_b = p.source_b
    """

    # r5: vocabulary novelty per id-ordered corpus slice.
    sqls["corpus_vocab_novelty"] = f"""
        WITH mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx
                    FROM documents),
        sl AS (SELECT CAST(floor(CAST(doc_id * 10 AS DOUBLE)
                                 / CAST(mx + 1 AS DOUBLE)) AS BIGINT)
                 AS slc,
                      {_bc_w} AS ws
               FROM documents, mx WHERE length({_bc_n}) >= 1),
        tok AS (SELECT DISTINCT slc, w
                FROM (SELECT slc, unnest(ws) AS w FROM sl)),
        per AS (SELECT slc, CAST(count(*) AS BIGINT) AS types
                FROM tok GROUP BY 1),
        fs AS (SELECT min(slc) AS slc FROM tok GROUP BY w),
        nw AS (SELECT slc, CAST(count(*) AS BIGINT) AS new_types
               FROM fs GROUP BY 1)
        SELECT per.slc AS slice, per.types,
               CAST(COALESCE(nw.new_types, 0) AS BIGINT) AS new_types,
               round(CAST(COALESCE(nw.new_types, 0) AS DOUBLE)
                     / CAST(per.types AS DOUBLE), 6) AS novelty_rate
        FROM per LEFT JOIN nw ON nw.slc = per.slc
    """

    # r5: ABC classification — cumulative revenue share over the
    # part-dim aggregate (plain SQL window here; Spark side uses the
    # parallel partition-offset cumsum, bit-identical).
    sqls["part_abc_classification"] = """
        WITH rev AS (SELECT l_partkey,
                       sum(CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(27,6))) AS r
                     FROM lineitem GROUP BY 1),
        tot AS (SELECT CAST(sum(r) AS DOUBLE) AS tr FROM rev),
        c AS (SELECT r, sum(r) OVER (ORDER BY r DESC, l_partkey
                                     ROWS UNBOUNDED PRECEDING) AS cum
              FROM rev),
        cls AS (SELECT r, tot.tr,
                  CASE WHEN CAST(cum AS DOUBLE) / tot.tr
                            <= CAST(0.80 AS DOUBLE) THEN 'A'
                       WHEN CAST(cum AS DOUBLE) / tot.tr
                            <= CAST(0.95 AS DOUBLE) THEN 'B'
                       ELSE 'C' END AS part_class
                FROM c, tot)
        SELECT part_class, CAST(count(*) AS BIGINT) AS n_parts,
               round(CAST(sum(r) AS DOUBLE), 6) AS revenue,
               round(CAST(sum(r) AS DOUBLE) / max(tr), 6)
                 AS revenue_share
        FROM cls GROUP BY 1 ORDER BY 1
    """

    # r5: per-nation supplier HHI — round-9 decimal share² terms.
    sqls["supplier_hhi"] = """
        WITH rev AS (SELECT l_suppkey,
                       sum(CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(27,6))) AS r
                     FROM lineitem GROUP BY 1),
        j AS (SELECT s_nationkey, r FROM rev
              JOIN supplier ON s_suppkey = l_suppkey),
        nt AS (SELECT s_nationkey,
                      CAST(count(*) AS BIGINT) AS n_suppliers,
                      sum(r) AS tr
               FROM j GROUP BY 1),
        terms AS (SELECT j.s_nationkey, nt.n_suppliers, nt.tr,
                    CAST(round((CAST(j.r AS DOUBLE) / CAST(nt.tr AS DOUBLE))
                               * (CAST(j.r AS DOUBLE)
                                  / CAST(nt.tr AS DOUBLE)), 9)
                         AS DECIMAL(27,18)) AS t2
                  FROM j JOIN nt ON nt.s_nationkey = j.s_nationkey),
        h AS (SELECT s_nationkey, n_suppliers, tr,
                     CAST(sum(t2) AS DOUBLE) AS hh
              FROM terms GROUP BY 1, 2, 3)
        SELECT n_name, n_suppliers,
               round(CAST(tr AS DOUBLE), 6) AS revenue,
               round(CAST(10000.0 AS DOUBLE) * hh, 6) AS hhi
        FROM h JOIN nation ON n_nationkey = s_nationkey
        ORDER BY n_name
    """

    # r5: grouped Gini by nation — rank identity, zero-order
    # customers at LTV 0, decimal-exact rank·x sums.
    sqls["customer_gini_by_nation"] = """
        WITH ltv AS (SELECT o_custkey,
                       sum(CAST(o_totalprice AS DECIMAL(27,6))) AS x
                     FROM orders GROUP BY 1),
        base AS (SELECT c_nationkey, c_custkey,
                        COALESCE(x, CAST(0 AS DECIMAL(27,6))) AS x
                 FROM customer LEFT JOIN ltv ON o_custkey = c_custkey),
        r AS (SELECT c_nationkey, x,
                     row_number() OVER (PARTITION BY c_nationkey
                                        ORDER BY x, c_custkey) AS i
              FROM base),
        a AS (SELECT c_nationkey,
                     CAST(count(*) AS BIGINT) AS n_customers,
                     sum(x) AS sx, sum(x * i) AS s1
              FROM r GROUP BY 1)
        SELECT n_name, n_customers,
               round(CAST(sx AS DOUBLE), 6) AS total_ltv,
               CASE WHEN sx = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE round(CAST(2.0 AS DOUBLE) * CAST(s1 AS DOUBLE)
                               / (CAST(n_customers AS DOUBLE)
                                  * CAST(sx AS DOUBLE))
                               - (CAST(n_customers AS DOUBLE)
                                  + CAST(1.0 AS DOUBLE))
                                 / CAST(n_customers AS DOUBLE), 6)
                         + CAST(0.0 AS DOUBLE)
               END AS gini
        FROM a JOIN nation ON n_nationkey = c_nationkey
        ORDER BY n_name
    """

    # r5: association rules on the top co-purchase pairs.
    sqls["basket_association_rules"] = """
        WITH l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS no
              FROM l),
        item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS ci
                 FROM l GROUP BY 1),
        pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                         CAST(count(*) AS BIGINT) AS pair_orders
                  FROM l a JOIN l b
                    ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
                  GROUP BY 1, 2),
        topk AS (SELECT * FROM pairs
                 ORDER BY pair_orders DESC, part_a, part_b LIMIT 20)
        SELECT part_a, part_b, pair_orders,
               ia.ci AS orders_a, ib.ci AS orders_b,
               round(CAST(pair_orders AS DOUBLE) / CAST(n.no AS DOUBLE), 6)
                 AS support,
               round(CAST(pair_orders AS DOUBLE) / CAST(ia.ci AS DOUBLE), 6)
                 AS conf_a_to_b,
               round(CAST(pair_orders AS DOUBLE) / CAST(ib.ci AS DOUBLE), 6)
                 AS conf_b_to_a,
               round(CAST(pair_orders AS DOUBLE) * CAST(n.no AS DOUBLE)
                     / (CAST(ia.ci AS DOUBLE) * CAST(ib.ci AS DOUBLE)), 6)
                 AS lift
        FROM topk
        JOIN item ia ON ia.l_partkey = part_a
        JOIN item ib ON ib.l_partkey = part_b
        CROSS JOIN n
        ORDER BY pair_orders DESC, part_a, part_b
    """

    # r5: lead–lag cross-correlation, view → purchase daily counts.
    sqls["events_crosscorr"] = """
        WITH daily AS (SELECT CAST(ts AS DATE) AS d, event_type,
                              count(*) AS n
                       FROM events
                       WHERE event_type IN ('view', 'purchase')
                       GROUP BY 1, 2),
        dx AS (SELECT d, n FROM daily WHERE event_type = 'view'),
        dy AS (SELECT d, n FROM daily WHERE event_type = 'purchase'),
        sx AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mx FROM dx),
        sy AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS my FROM dy),
        cx AS (SELECT d, CAST(n AS DOUBLE) - sx.mx AS dxv FROM dx, sx),
        cy AS (SELECT d, CAST(n AS DOUBLE) - sy.my AS dyv FROM dy, sy),
        vx AS (SELECT CAST(sum(CAST(round(dxv * dxv, 6)
                                    AS DECIMAL(27,6))) AS DOUBLE) AS v
               FROM cx),
        vy AS (SELECT CAST(sum(CAST(round(dyv * dyv, 6)
                                    AS DECIMAL(27,6))) AS DOUBLE) AS v
               FROM cy),
        lags AS (SELECT CAST(unnest(generate_series(-3, 3)) AS INTEGER)
                   AS lag),
        pr AS (SELECT x.lag, x.dxv, cy.dyv
               FROM (SELECT l.lag, cx.d + l.lag AS d2, cx.dxv
                     FROM cx CROSS JOIN lags l) x
               JOIN cy ON cy.d = x.d2),
        num AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                  CAST(sum(CAST(round(dxv * dyv, 6)
                                AS DECIMAL(27,6))) AS DOUBLE) AS nm
                FROM pr GROUP BY 1)
        SELECT lag, n_pairs,
               round(nm / sqrt(vx.v * vy.v), 6) + CAST(0.0 AS DOUBLE)
                 AS ccf
        FROM num, vx, vy ORDER BY lag
    """

    # r5: Pettitt changepoint — midrank collapse, exact-integer U_t.
    sqls["events_pettitt"] = """
        WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
                       FROM events GROUP BY 1),
        r AS (SELECT d,
                CAST(2 * rank() OVER (ORDER BY n)
                     + count(*) OVER (PARTITION BY n) - 1
                     AS BIGINT) AS m2
              FROM daily),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        u AS (SELECT d, nn.n,
                CAST(sum(m2) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                     - row_number() OVER (ORDER BY d) * (nn.n + 1)
                     AS BIGINT) AS uu,
                row_number() OVER (ORDER BY d) AS tt
              FROM r, nn),
        b AS (SELECT * FROM u WHERE tt < n
              ORDER BY abs(uu) DESC, d LIMIT 1)
        SELECT n AS n_days, CAST(abs(uu) AS BIGINT) AS k_stat,
               CAST(d AS VARCHAR) AS change_day,
               round(least(CAST(1.0 AS DOUBLE),
                 CAST(2.0 AS DOUBLE)
                 * exp(CAST(-6.0 AS DOUBLE)
                       * CAST(uu AS DOUBLE) * CAST(uu AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                            * CAST(n AS DOUBLE)
                          + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))),
                 6) AS p_approx
        FROM b
    """

    # r5: Hurst exponent — R/S per complete block, log-log OLS.
    sqls["events_hurst"] = """
        WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
                       FROM events GROUP BY 1),
        idx AS (SELECT row_number() OVER (ORDER BY d) - 1 AS i,
                       CAST(n AS DOUBLE) AS x
                FROM daily),
        ws AS (SELECT unnest([5, 10, 15]) AS w),
        bl0 AS (SELECT ws.w, idx.i, idx.x,
                  CAST(floor(CAST(idx.i AS DOUBLE)
                             / CAST(ws.w AS DOUBLE)) AS BIGINT) AS b
                FROM idx CROSS JOIN ws),
        bl AS (SELECT * FROM (
                 SELECT *, count(*) OVER (PARTITION BY w, b) AS nb
                 FROM bl0) WHERE nb = w),
        mu AS (SELECT w, b,
                 CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE)
                   / CAST(w AS DOUBLE) AS mu
               FROM bl GROUP BY 1, 2),
        dev AS (SELECT bl.w, bl.b, bl.i, bl.x - mu.mu AS dv
                FROM bl JOIN mu ON mu.w = bl.w AND mu.b = bl.b),
        cum AS (SELECT w, b, dv,
                  sum(dv) OVER (PARTITION BY w, b ORDER BY i
                                ROWS UNBOUNDED PRECEDING) AS c
                FROM dev),
        rs AS (SELECT w, b, max(c) - min(c) AS r,
                 sqrt(CAST(sum(CAST(round(dv * dv, 9)
                                    AS DECIMAL(27,18))) AS DOUBLE)
                      / CAST(w AS DOUBLE)) AS s
               FROM cum GROUP BY 1, 2),
        pw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
                 CAST(sum(CAST(round(r / s, 9) AS DECIMAL(27,18)))
                      AS DOUBLE) / count(*) AS ars
               FROM rs WHERE s > 0 GROUP BY 1),
        pts AS (SELECT w, n_blocks, ars,
                       ln(CAST(w AS DOUBLE)) AS lx, ln(ars) AS ly
                FROM pw),
        fit AS (SELECT CAST(count(*) AS DOUBLE) AS k,
                  CAST(sum(CAST(round(lx, 9) AS DECIMAL(27,18)))
                       AS DOUBLE) AS sx,
                  CAST(sum(CAST(round(ly, 9) AS DECIMAL(27,18)))
                       AS DOUBLE) AS sy,
                  CAST(sum(CAST(round(lx * ly, 9) AS DECIMAL(27,18)))
                       AS DOUBLE) AS sxy,
                  CAST(sum(CAST(round(lx * lx, 9) AS DECIMAL(27,18)))
                       AS DOUBLE) AS sxx
                FROM pts)
        SELECT w, n_blocks, round(ars, 6) AS avg_rs,
               round((fit.k * fit.sxy - fit.sx * fit.sy)
                     / (fit.k * fit.sxx - fit.sx * fit.sx), 6)
                 + CAST(0.0 AS DOUBLE) AS hurst
        FROM pts, fit ORDER BY w
    """

    # r5: cluster-validity trio.  Shared centroid CTE (round-6
    # components, position-ordered — the label_centroids twin).
    _cent_cte = """
        ex AS (SELECT label, i AS pos,
                 CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                      AS DECIMAL(27,6)) AS v
               FROM embeddings,
                    LATERAL (SELECT unnest(generate_series(1,
                               len(embedding))) AS i) u),
        mm AS (SELECT label, pos,
                 round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS m
               FROM ex GROUP BY 1, 2),
        c AS (SELECT label AS cl, list(m ORDER BY pos) AS cv
              FROM mm GROUP BY 1)
    """
    _d_vc = _l2sq_sql("e.embedding", "c.cv")
    sqls["embedding_silhouette"] = f"""
        WITH {_cent_cte},
        d AS (SELECT e.vec_id, e.label, c.cl, sqrt({_d_vc}) AS d
              FROM embeddings e CROSS JOIN c),
        ab AS (SELECT vec_id, label,
                 max(CASE WHEN cl = label THEN d END) AS a,
                 min(CASE WHEN cl <> label THEN d END) AS b
               FROM d GROUP BY 1, 2),
        tt AS (SELECT label,
                 CAST(round(a, 9) AS DECIMAL(27,18)) AS ta,
                 CAST(round(b, 9) AS DECIMAL(27,18)) AS tb,
                 CAST(round(CASE WHEN greatest(a, b) <= 0
                                 THEN CAST(0.0 AS DOUBLE)
                                 ELSE (b - a) / greatest(a, b) END, 9)
                      AS DECIMAL(27,18)) AS ts
               FROM ab)
        SELECT label, CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(ta) AS DOUBLE) / count(*), 6) AS mean_a,
               round(CAST(sum(tb) AS DOUBLE) / count(*), 6) AS mean_b,
               round(CAST(sum(ts) AS DOUBLE) / count(*), 6) AS silhouette
        FROM tt GROUP BY 1 ORDER BY 1
    """

    sqls["embedding_davies_bouldin"] = f"""
        WITH {_cent_cte},
        scat AS (SELECT e.label AS cl, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(sqrt({_d_vc}), 9)
                                 AS DECIMAL(27,18))) AS DOUBLE)
                     / count(*) AS s
                 FROM embeddings e JOIN c ON c.cl = e.label
                 GROUP BY 1),
        pm AS (SELECT a.cl AS li, b.cl AS lj,
                 greatest(sqrt({_l2sq_sql('a.cv', 'b.cv')}),
                          CAST(1e-300 AS DOUBLE)) AS m
               FROM c a CROSS JOIN c b WHERE a.cl <> b.cl),
        r AS (SELECT pm.li,
                max((si.s + sj.s) / pm.m) AS maxr
              FROM pm
              JOIN scat si ON si.cl = pm.li
              JOIN scat sj ON sj.cl = pm.lj
              GROUP BY 1),
        db AS (SELECT round(CAST(sum(CAST(round(maxr, 9)
                                          AS DECIMAL(27,18)))
                                 AS DOUBLE) / count(*), 6) AS db
               FROM r)
        SELECT scat.cl AS label, scat.n, round(scat.s, 6) AS scatter,
               round(r.maxr, 6) AS max_ratio, db.db AS db_index
        FROM scat JOIN r ON r.li = scat.cl CROSS JOIN db
        ORDER BY label
    """

    sqls["embedding_calinski_harabasz"] = f"""
        WITH {_cent_cte},
        gx AS (SELECT i AS pos,
                 CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                      AS DECIMAL(27,6)) AS v
               FROM embeddings,
                    LATERAL (SELECT unnest(generate_series(1,
                               len(embedding))) AS i) u),
        gm AS (SELECT pos, round(CAST(sum(v) AS DOUBLE) / count(*), 6)
                 AS m
               FROM gx GROUP BY 1),
        g AS (SELECT list(m ORDER BY pos) AS gv FROM gm),
        sizes AS (SELECT label AS cl, CAST(count(*) AS BIGINT) AS ni
                  FROM embeddings GROUP BY 1),
        w AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round({_d_vc}, 9) AS DECIMAL(27,18)))
                     AS DOUBLE) AS w
              FROM embeddings e JOIN c ON c.cl = e.label),
        b AS (SELECT CAST(count(*) AS BIGINT) AS k,
                CAST(sum(CAST(round(CAST(sizes.ni AS DOUBLE)
                                    * {_l2sq_sql('c.cv', 'g.gv')}, 9)
                              AS DECIMAL(27,18))) AS DOUBLE) AS b
              FROM c JOIN sizes ON sizes.cl = c.cl CROSS JOIN g)
        SELECT n, k, round(b.b, 6) AS between_ss,
               round(w.w, 6) AS within_ss,
               round((b.b / (CAST(k AS DOUBLE) - CAST(1.0 AS DOUBLE)))
                     / (w.w / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))),
                     6) AS ch
        FROM w CROSS JOIN b
    """

    # r5: Adamic–Adar / Jaccard link prediction — unoriented wedges,
    # the hub cap MIRRORED from the Spark guard (deg <= 512).
    sqls["graph_link_prediction"] = f"""
        WITH {_graph_edges_sql},
        adj AS (SELECT a AS w, b AS x FROM e0
                UNION ALL SELECT b, a FROM e0),
        adjc AS (SELECT adj.w, adj.x, deg.deg AS dw
                 FROM adj JOIN deg ON deg.v = adj.w
                 WHERE deg.deg <= 512),
        wed AS (SELECT x.x AS pa, y.x AS pb,
                  CAST(round(CAST(1.0 AS DOUBLE)
                             / ln(CAST(x.dw AS DOUBLE)), 9)
                       AS DECIMAL(27,18)) AS aat
                FROM adjc x JOIN adjc y
                  ON x.w = y.w AND x.x < y.x),
        sc AS (SELECT pa, pb, CAST(count(*) AS BIGINT) AS cn,
                      sum(aat) AS aa
               FROM wed GROUP BY 1, 2),
        ne AS (SELECT sc.* FROM sc
               LEFT JOIN e0 ON e0.a = sc.pa AND e0.b = sc.pb
               WHERE e0.a IS NULL),
        top AS (SELECT * FROM ne ORDER BY aa DESC, pa, pb LIMIT 20)
        SELECT pa AS part_a, pb AS part_b, cn AS common_neighbors,
               CAST(da.deg AS BIGINT) AS deg_a,
               CAST(db.deg AS BIGINT) AS deg_b,
               round(CAST(cn AS DOUBLE)
                     / (CAST(da.deg AS DOUBLE) + CAST(db.deg AS DOUBLE)
                        - CAST(cn AS DOUBLE)), 6) AS jaccard,
               round(CAST(aa AS DOUBLE), 6) AS adamic_adar
        FROM top
        JOIN deg da ON da.v = pa
        JOIN deg db ON db.v = pb
        ORDER BY adamic_adar DESC, part_a, part_b
    """

    # r5: Flesch Reading Ease — vowel-group syllables (doc-level word
    # floor), raw-text sentence runs, round-9 decimal means.
    _fn = _norm_sql("text")
    sqls["corpus_flesch"] = f"""
        WITH d AS (SELECT source, text AS raw, {_fn} AS n
                   FROM documents WHERE length({_fn}) >= 1),
        pd AS (SELECT source,
                 CAST(len(string_split(n, ' ')) AS DOUBLE) AS wc,
                 CAST(greatest(len(regexp_extract_all(raw, '[.!?]+')), 1)
                      AS DOUBLE) AS sc,
                 greatest(CAST(len(regexp_extract_all(n, '[aeiouy]+'))
                               AS DOUBLE),
                          CAST(len(string_split(n, ' ')) AS DOUBLE))
                   AS syl
               FROM d),
        tt AS (SELECT source,
                 CAST(round(wc / sc, 9) AS DECIMAL(27,18)) AS ws,
                 CAST(round(syl / wc, 9) AS DECIMAL(27,18)) AS sw,
                 CAST(round(CAST(206.835 AS DOUBLE)
                            - CAST(1.015 AS DOUBLE) * (wc / sc)
                            - CAST(84.6 AS DOUBLE) * (syl / wc), 9)
                      AS DECIMAL(27,18)) AS fl
               FROM pd)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               round(CAST(sum(ws) AS DOUBLE) / count(*), 6)
                 AS words_per_sentence,
               round(CAST(sum(sw) AS DOUBLE) / count(*), 6)
                 AS syllables_per_word,
               round(CAST(sum(fl) AS DOUBLE) / count(*), 6) AS flesch
        FROM tt GROUP BY 1 ORDER BY 1
    """

    # r5: Theil between/within decomposition by nation.
    sqls["customer_theil_decomposition"] = """
        WITH ltv AS (SELECT o_custkey,
                       sum(CAST(o_totalprice AS DECIMAL(27,6))) AS x
                     FROM orders GROUP BY 1),
        base AS (SELECT c_nationkey, x FROM ltv
                 JOIN customer ON c_custkey = o_custkey),
        grp AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS ng,
                       sum(x) AS sg
                FROM base GROUP BY 1),
        gl AS (SELECT CAST(sum(ng) AS BIGINT) AS n, sum(sg) AS s
               FROM grp),
        gm AS (SELECT c_nationkey, ng, gl.n,
                 CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) AS mug,
                 CAST(gl.s AS DOUBLE) / CAST(gl.n AS DOUBLE) AS mu,
                 CAST(sg AS DOUBLE) / CAST(gl.s AS DOUBLE) AS shg
               FROM grp, gl),
        btw AS (SELECT max(n) AS n_customers,
                  CAST(count(*) AS BIGINT) AS n_groups,
                  CAST(sum(CAST(round(shg * ln(mug / mu), 9)
                                AS DECIMAL(27,18))) AS DOUBLE) AS tb
                FROM gm),
        wg AS (SELECT b.c_nationkey, gm.ng, gm.shg,
                 CAST(sum(CASE WHEN b.x > 0 THEN
                   CAST(round((CAST(b.x AS DOUBLE) / gm.mug)
                              * ln(CAST(b.x AS DOUBLE) / gm.mug), 9)
                        AS DECIMAL(27,18))
                 ELSE CAST(0.0 AS DECIMAL(27,18)) END) AS DOUBLE) AS tg
               FROM base b JOIN gm ON gm.c_nationkey = b.c_nationkey
               GROUP BY 1, 2, 3),
        wth AS (SELECT CAST(sum(CAST(round(shg * (tg / CAST(ng AS DOUBLE)),
                                           9) AS DECIMAL(27,18)))
                            AS DOUBLE) AS tw
                FROM wg),
        tot AS (SELECT CAST(sum(CASE WHEN b.x > 0 THEN
                    CAST(round((CAST(b.x AS DOUBLE) / gm0.mu)
                               * ln(CAST(b.x AS DOUBLE) / gm0.mu), 9)
                         AS DECIMAL(27,18))
                  ELSE CAST(0.0 AS DECIMAL(27,18)) END) AS DOUBLE)
                    / count(*) AS tt
                FROM base b,
                     (SELECT CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu
                      FROM gl) gm0)
        SELECT n_customers, n_groups,
               round(tot.tt, 6) AS theil_total,
               round(btw.tb, 6) + CAST(0.0 AS DOUBLE) AS theil_between,
               round(wth.tw, 6) AS theil_within
        FROM btw, wth, tot
    """

    # r5: Mann–Whitney U — grid midranks in ×2 integers, decimal
    # rank/tie sums, full tie-corrected normal z.
    sqls["events_mann_whitney"] = """
        WITH g AS (SELECT round(CAST(value AS DOUBLE), 4) AS v,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END) AS BIGINT) AS na,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                                   THEN 0 ELSE 1 END) AS BIGINT) AS nb
                   FROM events
                   WHERE event_type IN ('purchase', 'click')
                   GROUP BY 1),
        m AS (SELECT na, nb, na + nb AS t,
                CAST(2 * COALESCE(sum(na + nb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0)
                     + (na + nb) + 1 AS BIGINT) AS m2
              FROM g),
        a AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
                     CAST(sum(nb) AS BIGINT) AS n_b,
                     sum(CAST(na * m2 AS DECIMAL(38,0))) AS r2a,
                     sum(CAST(t * t * t - t AS DECIMAL(38,0))) AS ties
              FROM m)
        SELECT n_a, n_b,
          round(CAST(r2a AS DOUBLE) / CAST(2.0 AS DOUBLE)
                - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE)
                                         + CAST(1.0 AS DOUBLE))
                  / CAST(2.0 AS DOUBLE), 6) AS u_stat,
          round(((CAST(r2a AS DOUBLE) / CAST(2.0 AS DOUBLE)
                  - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE)
                                           + CAST(1.0 AS DOUBLE))
                    / CAST(2.0 AS DOUBLE))
                 - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                   / CAST(2.0 AS DOUBLE))
                / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                       / CAST(12.0 AS DOUBLE)
                       * (((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                           + CAST(1.0 AS DOUBLE))
                          - CAST(ties AS DOUBLE)
                            / ((CAST(n_a AS DOUBLE)
                                + CAST(n_b AS DOUBLE))
                               * ((CAST(n_a AS DOUBLE)
                                   + CAST(n_b AS DOUBLE))
                                  - CAST(1.0 AS DOUBLE))))), 6)
            + CAST(0.0 AS DOUBLE) AS z
        FROM a
    """

    # r5: fixed-iteration logistic regression — 3 unrolled GD steps,
    # round-9 decimal gradient sums, weights re-rounded per step.
    _sig = (
        "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        " + exp(-({w0} + {w1} * x1 + {w2} * x2)))"
    )
    _gstep = """
        g{k} AS (SELECT count(*) AS n,
            CAST(sum(CAST(round(p - y, 9) AS DECIMAL(27,18)))
                 AS DOUBLE) AS s0,
            CAST(sum(CAST(round((p - y) * x1, 9) AS DECIMAL(27,18)))
                 AS DOUBLE) AS s1,
            CAST(sum(CAST(round((p - y) * x2, 9) AS DECIMAL(27,18)))
                 AS DOUBLE) AS s2
          FROM (SELECT y, x1, x2, {sig} AS p FROM lab, w{j})),
        w{k} AS (SELECT
            round(w{j}.w0 - CAST(1.0 AS DOUBLE) * g{k}.s0
                  / CAST(g{k}.n AS DOUBLE), 9) AS w0,
            round(w{j}.w1 - CAST(1.0 AS DOUBLE) * g{k}.s1
                  / CAST(g{k}.n AS DOUBLE), 9) AS w1,
            round(w{j}.w2 - CAST(1.0 AS DOUBLE) * g{k}.s2
                  / CAST(g{k}.n AS DOUBLE), 9) AS w2
          FROM g{k}, w{j})
    """
    _steps = ",".join(
        _gstep.format(
            k=k,
            j=k - 1,
            sig=_sig.format(
                w0=f"w{k-1}.w0", w1=f"w{k-1}.w1", w2=f"w{k-1}.w2"
            ),
        )
        for k in (1, 2, 3)
    )
    _sig_final = _sig.format(w0="w3.w0", w1="w3.w1", w2="w3.w2")
    sqls["events_logistic_fixed"] = f"""
        WITH lab AS (SELECT
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               CAST(value AS DOUBLE) / CAST(100.0 AS DOUBLE) AS x1,
               CAST(hour(ts) AS DOUBLE) / CAST(23.0 AS DOUBLE) AS x2
             FROM events
             WHERE event_type IN ('purchase', 'view')),
        w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0,
                      CAST(0.0 AS DOUBLE) AS w1,
                      CAST(0.0 AS DOUBLE) AS w2),
        {_steps},
        fin AS (SELECT y,
                  least(greatest({_sig_final}, CAST(1e-12 AS DOUBLE)),
                        CAST(1.0 AS DOUBLE) - CAST(1e-12 AS DOUBLE))
                    AS pc
                FROM lab, w3)
        SELECT CAST(count(*) AS BIGINT) AS n,
               round(max(w3.w0), 6) AS w0,
               round(max(w3.w1), 6) AS w1,
               round(max(w3.w2), 6) AS w2,
               round(CAST(sum(CAST(round(
                 -(CAST(y AS DOUBLE) * ln(pc)
                   + (CAST(1.0 AS DOUBLE) - CAST(y AS DOUBLE))
                     * ln(CAST(1.0 AS DOUBLE) - pc)), 9)
                 AS DECIMAL(27,18))) AS DOUBLE) / count(*), 6)
                 AS logloss
        FROM fin, w3 GROUP BY w3.w0, w3.w1, w3.w2
    """

    # r5: Wilson lower-bound supplier reliability.
    sqls["supplier_wilson"] = """
        WITH j AS (SELECT l_suppkey,
                     CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                         CAST(l_shipdate AS DATE)) <= 30
                          THEN 1 ELSE 0 END AS ot
                   FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        per AS (SELECT l_suppkey,
                  CAST(count(*) AS BIGINT) AS n_shipments,
                  CAST(sum(ot) AS BIGINT) AS on_time
                FROM j GROUP BY 1),
        sc AS (SELECT l_suppkey AS s_suppkey, n_shipments, on_time,
                 round(CAST(on_time AS DOUBLE)
                       / CAST(n_shipments AS DOUBLE), 6) AS rate,
                 round(((CAST(on_time AS DOUBLE)
                         / CAST(n_shipments AS DOUBLE))
                        + CAST(3.841458881296 AS DOUBLE)
                          / (CAST(2.0 AS DOUBLE)
                             * CAST(n_shipments AS DOUBLE))
                        - CAST(1.959964 AS DOUBLE)
                          * sqrt((CAST(on_time AS DOUBLE)
                                  / CAST(n_shipments AS DOUBLE))
                                 * (CAST(1.0 AS DOUBLE)
                                    - CAST(on_time AS DOUBLE)
                                      / CAST(n_shipments AS DOUBLE))
                                 / CAST(n_shipments AS DOUBLE)
                                 + CAST(3.841458881296 AS DOUBLE)
                                   / (CAST(4.0 AS DOUBLE)
                                      * CAST(n_shipments AS DOUBLE)
                                      * CAST(n_shipments AS DOUBLE))))
                       / (CAST(1.0 AS DOUBLE)
                          + CAST(3.841458881296 AS DOUBLE)
                            / CAST(n_shipments AS DOUBLE)), 6)
                   AS wilson_low
               FROM per)
        SELECT * FROM sc ORDER BY wilson_low DESC, s_suppkey LIMIT 50
    """

    # r5: monthly Laspeyres/Paasche/Fisher — matched basket vs the
    # base month, round-9 decimal cross terms.
    sqls["part_price_index"] = """
        WITH pm AS (SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m')
                      AS month, l_partkey,
                      sum(CAST(l_quantity AS DECIMAL(27,6))) AS q,
                      sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS v
                    FROM lineitem GROUP BY 1, 2),
        bm AS (SELECT min(month) AS bm FROM pm),
        base AS (SELECT l_partkey, q AS q0,
                        CAST(v AS DOUBLE) / CAST(q AS DOUBLE) AS p0
                 FROM pm, bm WHERE month = bm.bm),
        j AS (SELECT pm.month,
                CAST(pm.v AS DOUBLE) / CAST(pm.q AS DOUBLE) AS pt,
                CAST(pm.q AS DOUBLE) AS qt,
                CAST(base.q0 AS DOUBLE) AS q0, base.p0
              FROM pm JOIN base USING (l_partkey)),
        agg AS (SELECT month, CAST(count(*) AS BIGINT) AS n_parts,
                  CAST(sum(CAST(round(pt * q0, 9) AS DECIMAL(38,9)))
                       AS DOUBLE) AS l_num,
                  CAST(sum(CAST(round(p0 * q0, 9) AS DECIMAL(38,9)))
                       AS DOUBLE) AS l_den,
                  CAST(sum(CAST(round(pt * qt, 9) AS DECIMAL(38,9)))
                       AS DOUBLE) AS p_num,
                  CAST(sum(CAST(round(p0 * qt, 9) AS DECIMAL(38,9)))
                       AS DOUBLE) AS p_den
                FROM j GROUP BY 1)
        SELECT month, n_parts,
               round(l_num / l_den, 6) AS laspeyres,
               round(p_num / p_den, 6) AS paasche,
               round(sqrt((l_num / l_den) * (p_num / p_den)), 6)
                 AS fisher
        FROM agg ORDER BY month
    """

    # r5: per-type A/B z + Benjamini–Hochberg step-up; logistic Φ
    # approximation stated in the docstring.
    sqls["events_ab_fdr"] = """
        WITH m AS (SELECT event_type,
            CASE WHEN CAST(CAST(concat('0x', substring(
                   md5(concat('exp1', '-', CAST(user_id AS VARCHAR))), 1, 6))
                 AS UBIGINT) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(round(CAST(value AS DOUBLE), 4)
                          AS DECIMAL(38,4))) AS DOUBLE) AS s,
            CAST(sum(CAST(round(CAST(value AS DOUBLE)
                                * CAST(value AS DOUBLE), 4)
                          AS DECIMAL(38,4))) AS DOUBLE) AS ss
          FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, n AS n_a, s / n AS ma,
                     (ss / n) - (s / n) * (s / n) AS va
              FROM m WHERE arm = 'A'),
        b AS (SELECT event_type, n AS n_b, s / n AS mb,
                     (ss / n) - (s / n) * (s / n) AS vb
              FROM m WHERE arm = 'B'),
        zc AS (SELECT a.event_type, n_a, n_b, ma - mb AS diff,
                 (ma - mb) / sqrt(greatest(
                     va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE),
                     CAST(1e-18 AS DOUBLE))) AS z
               FROM a JOIN b ON b.event_type = a.event_type),
        pc AS (SELECT *, CAST(2.0 AS DOUBLE)
                 * (CAST(1.0 AS DOUBLE) - CAST(1.0 AS DOUBLE)
                    / (CAST(1.0 AS DOUBLE)
                       + exp(CAST(-1.702 AS DOUBLE) * abs(z)))) AS p
               FROM zc),
        mm AS (SELECT CAST(count(*) AS DOUBLE) AS mt FROM pc),
        r AS (SELECT pc.*, mm.mt,
                CAST(row_number() OVER (ORDER BY p, event_type)
                     AS DOUBLE) AS rk
              FROM pc, mm),
        adj AS (SELECT *, least(CAST(1.0 AS DOUBLE),
                  min(p * mt / rk) OVER (ORDER BY p, event_type
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
                  AS padj
                FROM r)
        SELECT event_type, n_a, n_b,
               round(diff, 6) AS mean_diff,
               round(z, 6) + CAST(0.0 AS DOUBLE) AS z,
               round(p, 6) AS p_approx,
               round(padj, 6) AS p_adj
        FROM adj ORDER BY event_type
    """

    # r5: cosine range search — threshold on the rounded cosine.
    _rq_cos = _cos_sql("q.qv", "e.embedding")
    sqls["ann_range_search"] = f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < 5)
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round({_rq_cos}, 6) AS cosine
        FROM q CROSS JOIN embeddings e
        WHERE q.query_id <> e.vec_id
          AND round({_rq_cos}, 6) >= CAST(0.25 AS DOUBLE)
        ORDER BY query_id, cosine DESC, neighbor_id
    """

    # r5: fixed-3-round k-core peel, k=90, unrolled like the other
    # fixed-iteration twins.
    _kc_round = """
        d{r} AS (SELECT v, count(*) AS d
                 FROM (SELECT a AS v FROM e{p}
                       UNION ALL SELECT b FROM e{p}) GROUP BY 1),
        k{r} AS (SELECT v FROM d{r} WHERE d >= 90),
        e{r} AS (SELECT e{p}.a, e{p}.b FROM e{p}
                 JOIN k{r} ka ON ka.v = e{p}.a
                 JOIN k{r} kb ON kb.v = e{p}.b),
        c{r} AS (SELECT CAST({r} AS INTEGER) AS round,
                        (SELECT CAST(count(*) AS BIGINT) FROM k{r})
                          AS n_vertices,
                        (SELECT CAST(count(*) AS BIGINT) FROM e{r})
                          AS n_edges)
    """
    _kc = ",".join(_kc_round.format(r=r, p=r - 1) for r in (1, 2, 3))
    sqls["graph_kcore_fixed"] = f"""
        WITH {_graph_edges_sql},
        {_kc}
        SELECT * FROM c1 UNION ALL SELECT * FROM c2
        UNION ALL SELECT * FROM c3 ORDER BY round
    """

    # r5: TF-IDF characteristic terms per source — smooth add-1 IDF,
    # per-source top-10 on the rounded score with term tie-break.
    _tw = _words_sql("text")
    _tn = _norm_sql("text")
    sqls["corpus_tfidf_terms"] = f"""
        WITH tok AS (SELECT source, unnest({_tw}) AS term
                     FROM documents WHERE length({_tn}) >= 1),
        cnt AS (SELECT source, term,
                       CAST(count(*) AS BIGINT) AS term_count
                FROM tok GROUP BY 1, 2),
        dfw AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM cnt GROUP BY 1),
        ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n
               FROM cnt),
        sc AS (SELECT source, cnt.term, term_count, dfw.df,
                 round(CAST(term_count AS DOUBLE)
                       * (ln((CAST(ns.n AS DOUBLE) + CAST(1.0 AS DOUBLE))
                             / (CAST(dfw.df AS DOUBLE)
                                + CAST(1.0 AS DOUBLE)))
                          + CAST(1.0 AS DOUBLE)), 6) AS tfidf
               FROM cnt JOIN dfw ON dfw.term = cnt.term CROSS JOIN ns),
        rk AS (SELECT *, CAST(row_number() OVER (
                 PARTITION BY source ORDER BY tfidf DESC, term)
                 AS INTEGER) AS rank
               FROM sc)
        SELECT source, term, term_count, df, tfidf, rank
        FROM rk WHERE rank <= 10 ORDER BY source, rank
    """

    # r5: Fightin' Words — Dirichlet-prior log-odds z per source.
    sqls["corpus_fightin_words"] = f"""
        WITH tok AS (SELECT source, unnest({_tw}) AS term
                     FROM documents WHERE length({_tn}) >= 1),
        cnt AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
                FROM tok GROUP BY 1, 2),
        wt AS (SELECT term, CAST(sum(c) AS BIGINT) AS cw
               FROM cnt GROUP BY 1),
        st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns
               FROM cnt GROUP BY 1),
        gt AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM wt),
        sc AS (SELECT cnt.source, cnt.term, cnt.c AS term_count,
                 CAST(wt.cw - cnt.c AS BIGINT) AS rest_count,
                 round(
                   (ln((CAST(cnt.c AS DOUBLE)
                        + CAST(500.0 AS DOUBLE) * CAST(wt.cw AS DOUBLE)
                          / CAST(gt.n AS DOUBLE))
                       / (CAST(st.ns AS DOUBLE) + CAST(500.0 AS DOUBLE)
                          - CAST(cnt.c AS DOUBLE)
                          - CAST(500.0 AS DOUBLE) * CAST(wt.cw AS DOUBLE)
                            / CAST(gt.n AS DOUBLE)))
                    - ln((CAST(wt.cw - cnt.c AS DOUBLE)
                          + CAST(500.0 AS DOUBLE) * CAST(wt.cw AS DOUBLE)
                            / CAST(gt.n AS DOUBLE))
                         / (CAST(gt.n - st.ns AS DOUBLE)
                            + CAST(500.0 AS DOUBLE)
                            - CAST(wt.cw - cnt.c AS DOUBLE)
                            - CAST(500.0 AS DOUBLE)
                              * CAST(wt.cw AS DOUBLE)
                              / CAST(gt.n AS DOUBLE))))
                   / sqrt(CAST(1.0 AS DOUBLE)
                          / (CAST(cnt.c AS DOUBLE)
                             + CAST(500.0 AS DOUBLE)
                               * CAST(wt.cw AS DOUBLE)
                               / CAST(gt.n AS DOUBLE))
                          + CAST(1.0 AS DOUBLE)
                            / (CAST(wt.cw - cnt.c AS DOUBLE)
                               + CAST(500.0 AS DOUBLE)
                                 * CAST(wt.cw AS DOUBLE)
                                 / CAST(gt.n AS DOUBLE))), 6)
                 + CAST(0.0 AS DOUBLE) AS z_score
               FROM cnt
               JOIN wt ON wt.term = cnt.term
               JOIN st ON st.source = cnt.source
               CROSS JOIN gt),
        rk AS (SELECT *, CAST(row_number() OVER (
                 PARTITION BY source ORDER BY z_score DESC, term)
                 AS INTEGER) AS rank
               FROM sc)
        SELECT source, term, term_count, rest_count, z_score, rank
        FROM rk WHERE rank <= 10 ORDER BY source, rank
    """

    # r5: Hyndman seasonality/trend strength off the decompose twin.
    sqls["events_seasonality_strength"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                   AS day_value
          FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        tr AS (
          SELECT a.d AS d_c, a.day_value AS v_c,
                 round(CAST(sum(CAST(b.day_value AS DECIMAL(27,6)))
                            AS DOUBLE) / count(*), 6) AS trend
          FROM daily a JOIN daily b
            ON b.d >= a.d - INTERVAL 3 DAY AND b.d <= a.d + INTERVAL 3 DAY
          GROUP BY 1, 2
        ),
        de AS (
          SELECT d_c, v_c, trend,
                 round(v_c - trend, 6) AS detr,
                 dayofweek(d_c) + 1 AS dow
          FROM tr
        ),
        se AS (
          SELECT dow,
                 round(CAST(sum(CAST(detr AS DECIMAL(27,6))) AS DOUBLE)
                       / count(*), 6) AS seasonal
          FROM de GROUP BY 1
        ),
        comp AS (
          SELECT de.trend, se.seasonal,
                 round(v_c - trend - seasonal, 6) AS residual
          FROM de JOIN se ON de.dow = se.dow
        ),
        v AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
            CAST(sum(CAST(round(residual * residual, 9)
                          AS DECIMAL(38,9))) AS DOUBLE) AS ssr,
            CAST(sum(CAST(round(residual, 9)
                          AS DECIMAL(38,9))) AS DOUBLE) AS sr,
            CAST(sum(CAST(round((seasonal + residual)
                                * (seasonal + residual), 9)
                          AS DECIMAL(38,9))) AS DOUBLE) AS sssr,
            CAST(sum(CAST(round(seasonal + residual, 9)
                          AS DECIMAL(38,9))) AS DOUBLE) AS ssr1,
            CAST(sum(CAST(round((trend + residual)
                                * (trend + residual), 9)
                          AS DECIMAL(38,9))) AS DOUBLE) AS sstr,
            CAST(sum(CAST(round(trend + residual, 9)
                          AS DECIMAL(38,9))) AS DOUBLE) AS str1
          FROM comp
        )
        SELECT n_days,
          round((ssr / n_days) - (sr / n_days) * (sr / n_days), 6)
            AS var_resid,
          round(greatest(CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)
            - ((ssr / n_days) - (sr / n_days) * (sr / n_days))
              / ((sssr / n_days) - (ssr1 / n_days) * (ssr1 / n_days))),
            6) AS strength_seasonal,
          round(greatest(CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)
            - ((ssr / n_days) - (sr / n_days) * (sr / n_days))
              / ((sstr / n_days) - (str1 / n_days) * (str1 / n_days))),
            6) AS strength_trend
        FROM v
    """

    # r5: PACF lags 1-3 via Durbin–Levinson closed forms over the
    # proven ACF machinery; sign-preserving 1e-18 denominator floor.
    _sgnf = (
        "CASE WHEN abs({x}) < CAST(1e-18 AS DOUBLE) THEN"
        " (CASE WHEN {x} < CAST(0.0 AS DOUBLE)"
        " THEN CAST(-1e-18 AS DOUBLE) ELSE CAST(1e-18 AS DOUBLE) END)"
        " ELSE {x} END"
    )
    _d22 = _sgnf.format(x="(CAST(1.0 AS DOUBLE) - r1 * r1)")
    _d33 = _sgnf.format(
        x="(CAST(1.0 AS DOUBLE) - (r1 - p22 * r1) * r1 - p22 * r2)"
    )
    sqls["events_pacf"] = f"""
        WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
                       FROM events GROUP BY 1),
        st AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mu FROM daily),
        d0 AS (SELECT d, CAST(n AS DOUBLE) - st.mu AS dev
               FROM daily, st),
        den AS (SELECT CAST(sum(CAST(round(dev * dev, 6)
                                     AS DECIMAL(27,6))) AS DOUBLE) AS v
                FROM d0),
        lags AS (SELECT CAST(unnest(generate_series(1, 3)) AS INTEGER)
                   AS lag),
        pr AS (SELECT x.lag, x.pdev, b.dev AS bdev
               FROM (SELECT l.lag AS lag, a.d + l.lag AS d2,
                            a.dev AS pdev
                     FROM d0 a CROSS JOIN lags l) x
               JOIN d0 b ON b.d = x.d2),
        num AS (SELECT lag,
                  CAST(sum(CAST(round(pdev * bdev, 6)
                                AS DECIMAL(27,6))) AS DOUBLE) AS nm
                FROM pr GROUP BY 1),
        acf AS (SELECT lag,
                  round(nm / den.v, 6) + CAST(0.0 AS DOUBLE) AS acf
                FROM num, den),
        piv AS (SELECT
                  max(CASE WHEN lag = 1 THEN acf END) AS r1,
                  max(CASE WHEN lag = 2 THEN acf END) AS r2,
                  max(CASE WHEN lag = 3 THEN acf END) AS r3
                FROM acf),
        l2 AS (SELECT r1, r2, r3,
                 (r2 - r1 * r1) / {_d22} AS p22
               FROM piv)
        SELECT r1, r2, r3, r1 AS pacf1,
               round(p22, 6) + CAST(0.0 AS DOUBLE) AS pacf2,
               round((r3 - (r1 - p22 * r1) * r2 - p22 * r1)
                     / {_d33}, 6) + CAST(0.0 AS DOUBLE) AS pacf3
        FROM l2
    """

    # ---- round-7 sketch / sampler family --------------------------------
    from fuel_spark.functions import (
        hash_mod_sql, hash_uniform_sql, round6_ratio_sql,
    )

    _ln40 = repr(math.log(2.0 / 0.05))

    def _qs_sql(probs: tuple, group: str | None) -> str:
        hm = hash_mod_sql("qs7", "event_id", 8)
        gsel = f"{group}, " if group else ""
        gpart = f"PARTITION BY {group} " if group else ""
        gjoin = f"AND b.{group} = e.{group} " if group else ""
        vals = ", ".join(f"({p})" for p in probs)
        cross_or_join = (
            f"JOIN est e ON b.{group} = e.{group}" if group
            else "CROSS JOIN est e"
        )
        return f"""
        WITH base AS (SELECT {gsel}event_id, value FROM events
                      WHERE value IS NOT NULL),
        samp AS (SELECT {gsel}event_id, value FROM base WHERE {hm} = 0),
        ranked AS (SELECT {gsel}value, event_id,
                     row_number() OVER ({gpart}ORDER BY value ASC,
                                        event_id ASC) AS rn
                   FROM samp),
        m AS (SELECT {gsel}max(rn) AS sample_n FROM ranked
              {('GROUP BY ' + group) if group else ''}),
        pr AS (SELECT CAST(p AS DOUBLE) AS prob
               FROM (VALUES {vals}) t(p)),
        tg AS (SELECT {gsel}prob, sample_n,
                 greatest(CAST(1 AS BIGINT),
                          CAST(ceil(prob * sample_n) AS BIGINT))
                   AS target_rank
               FROM m CROSS JOIN pr),
        est AS (SELECT {('tg.' + group + ' AS ' + group + ', ') if group else ''}prob,
                  r.value AS est_value, sample_n, target_rank
                FROM tg JOIN ranked r
                  ON r.rn = tg.target_rank
                  {('AND r.' + group + ' = tg.' + group) if group else ''}),
        cert AS (SELECT {('e.' + group + ' AS ' + group + ', ') if group else ''}prob,
                   est_value, sample_n, target_rank,
                   CAST(sum(CASE WHEN b.value <= est_value THEN 1 ELSE 0 END)
                        AS BIGINT) AS true_rank,
                   count(*) AS n_rows
                 FROM base b {cross_or_join}
                 GROUP BY {'1,2,3,4,5' if group else '1,2,3,4'}),
        fin AS (SELECT *,
                  round(abs(CAST(true_rank AS DOUBLE)
                            / CAST(n_rows AS DOUBLE) - prob), 6) AS frac_err,
                  round(sqrt({_ln40}
                             / (CAST(2.0 AS DOUBLE) * sample_n)), 6) AS eps_95
                FROM cert)
        SELECT *, frac_err <= eps_95 AS within_eps FROM fin
        """

    sqls["sketch_quantile_value"] = _qs_sql(
        (0.25, 0.5, 0.75, 0.9, 0.99), None
    )
    sqls["sketch_quantile_by_type"] = _qs_sql((0.5, 0.9), "event_type")

    # merged == direct by construction (the certificate's claim):
    # deterministic hashing makes sketch(A)∪sketch(B) the sketch of
    # A∪B row-for-row, so the oracle computes the estimate once.
    sqls["sketch_quantile_merge_cert"] = f"""
        WITH base AS (SELECT event_id, value FROM events
                      WHERE value IS NOT NULL),
        samp AS (SELECT event_id, value FROM base
                 WHERE {hash_mod_sql('qs7', 'event_id', 8)} = 0),
        ranked AS (SELECT value, event_id,
                     row_number() OVER (ORDER BY value ASC, event_id ASC)
                       AS rn
                   FROM samp),
        m AS (SELECT max(rn) AS sample_n FROM ranked),
        pr AS (SELECT CAST(p AS DOUBLE) AS prob
               FROM (VALUES (0.5), (0.9)) t(p)),
        tg AS (SELECT prob,
                 greatest(CAST(1 AS BIGINT),
                          CAST(ceil(prob * sample_n) AS BIGINT)) AS t
               FROM m CROSS JOIN pr)
        SELECT prob, r.value AS est_merged, r.value AS est_direct,
               TRUE AS match
        FROM tg JOIN ranked r ON r.rn = tg.t
    """

    _cms_cells = " UNION ALL ".join(
        f"SELECT {i} AS row_id,"
        f" {hash_mod_sql(f'cms11r{i}', 'user_id', 256)} AS col_id"
        f" FROM events"
        for i in range(3)
    )
    _cms_probes = " UNION ALL ".join(
        f"SELECT user_id, {i} AS row_id,"
        f" {hash_mod_sql(f'cms11r{i}', 'user_id', 256)} AS col_id FROM top"
        for i in range(3)
    )
    sqls["sketch_cms_counts"] = f"""
        WITH top AS (SELECT user_id, count(*) AS true_cnt FROM events
                     GROUP BY 1 ORDER BY true_cnt DESC, user_id ASC
                     LIMIT 20),
        cells AS (SELECT row_id, col_id, count(*) AS cnt
                  FROM ({_cms_cells}) GROUP BY 1, 2),
        probes AS ({_cms_probes}),
        est AS (SELECT p.user_id,
                  CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est_cnt
                FROM probes p LEFT JOIN cells c USING (row_id, col_id)
                GROUP BY 1)
        SELECT t.user_id, t.true_cnt, e.est_cnt,
               CAST(e.est_cnt - t.true_cnt AS BIGINT) AS overcount,
               e.est_cnt >= t.true_cnt AS est_ge_true
        FROM top t JOIN est e USING (user_id)
    """

    # merged == direct cell-for-cell (deterministic hashes); the
    # oracle states the invariant the Spark side measures.
    sqls["sketch_cms_merge_cert"] = f"""
        WITH cells AS (SELECT row_id, col_id FROM ({_cms_cells})
                       GROUP BY 1, 2)
        SELECT CAST(row_id AS INTEGER) AS row_id,
               count(*) AS n_cells, CAST(0 AS BIGINT) AS n_mismatch
        FROM cells GROUP BY 1
    """

    def _bloom_pos(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {hash_mod_sql(f'bl5h{i}', 'user_id', 4096)} AS pos"
            f" FROM {src}"
            for i in range(3)
        )

    _bloom_probes = " UNION ALL ".join(
        f"SELECT user_id, {hash_mod_sql(f'bl5h{i}', 'user_id', 4096)} AS pos"
        f" FROM cands"
        for i in range(3)
    )
    sqls["sketch_bloom_screen"] = f"""
        WITH members AS (SELECT DISTINCT user_id FROM events
                         WHERE event_type = 'purchase'),
        bloom AS (SELECT DISTINCT pos FROM ({_bloom_pos('members')})),
        cands AS (SELECT DISTINCT user_id FROM events
                  UNION ALL
                  SELECT DISTINCT user_id + 1000000 AS user_id FROM events
                  WHERE user_id % 5 = 0),
        probes AS ({_bloom_probes}),
        hits AS (SELECT p.user_id,
                   sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) = 3
                     AS bloom_hit
                 FROM probes p LEFT JOIN bloom b USING (pos) GROUP BY 1),
        lab AS (SELECT h.user_id, h.bloom_hit,
                  m.user_id IS NOT NULL AS mem
                FROM hits h LEFT JOIN members m USING (user_id))
        SELECT CASE WHEN bloom_hit AND mem THEN 'tp'
                    WHEN bloom_hit THEN 'fp'
                    WHEN mem THEN 'fn'
                    ELSE 'tn' END AS outcome,
               count(*) AS n_keys
        FROM lab GROUP BY 1
    """

    _lnp = repr(math.log(0.01))
    _ln2 = repr(math.log(2.0))
    _ln2sq = repr(math.log(2.0) ** 2)
    sqls["sketch_bloom_planner"] = f"""
        WITH n0 AS (SELECT source,
                      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys
                    FROM documents GROUP BY 1),
        m0 AS (SELECT source, n_keys,
                 CAST(ceil(-(CAST(n_keys AS DOUBLE) * {_lnp}) / {_ln2sq})
                      AS BIGINT) AS m_bits
               FROM n0)
        SELECT source, n_keys, m_bits,
          greatest(CAST(1 AS BIGINT),
                   CAST(floor(CAST(m_bits AS DOUBLE)
                              / CAST(n_keys AS DOUBLE) * {_ln2}
                              + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS k_hashes,
          round(CAST(m_bits AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
            AS bits_per_key
        FROM m0
    """

    sqls["sketch_distinct_linear"] = f"""
        WITH agg AS (SELECT event_type,
                       CAST(count(DISTINCT
                              {hash_mod_sql('lc3', 'user_id', 1024)})
                            AS BIGINT) AS occupied,
                       CAST(count(DISTINCT user_id) AS BIGINT)
                         AS exact_distinct
                     FROM events GROUP BY 1),
        est0 AS (SELECT *,
                   CASE WHEN occupied < 1024 THEN
                     round(-CAST(1024.0 AS DOUBLE)
                           * ln(CAST(1.0 AS DOUBLE)
                                - CAST(occupied AS DOUBLE)
                                  / CAST(1024.0 AS DOUBLE)), 6)
                   END AS est_distinct
                 FROM agg)
        SELECT event_type, occupied, est_distinct, exact_distinct,
          round(abs(est_distinct - CAST(exact_distinct AS DOUBLE))
                / CAST(exact_distinct AS DOUBLE), 6) AS rel_err
        FROM est0
    """

    sqls["sample_reservoir"] = f"""
        SELECT event_id, event_type,
               round({hash_uniform_sql('rs42', 'event_id')}, 6) AS r_key
        FROM events
        ORDER BY r_key ASC, event_id ASC LIMIT 100
    """

    sqls["sample_reservoir_by_source"] = f"""
        WITH r AS (SELECT source, doc_id,
                     {hash_uniform_sql('rg42', 'doc_id')} AS u,
                     row_number() OVER (PARTITION BY source
                       ORDER BY {hash_uniform_sql('rg42', 'doc_id')} ASC,
                                doc_id ASC) AS rank
                   FROM documents)
        SELECT source, doc_id, round(u, 6) AS r_key,
               CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 5
    """

    sqls["sample_stratified_sources"] = f"""
        WITH s AS (SELECT source,
                     {hash_uniform_sql('ss42', 'doc_id')}
                       <= CAST(0.2 AS DOUBLE) AS keep
                   FROM documents)
        SELECT source, count(*) AS n_total,
          CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(*) AS DOUBLE), 6) AS rate
        FROM s GROUP BY 1
    """

    sqls["mixture_domain_weights"] = f"""
        WITH t AS (SELECT source,
                     CAST(sum(CAST(len({w}) AS BIGINT)) AS BIGINT)
                       AS n_tokens
                   FROM documents GROUP BY 1),
        p AS (SELECT source, n_tokens,
                CAST(round(power(CAST(n_tokens AS DOUBLE), {repr(0.7)}), 9)
                     AS DECIMAL(38,9)) AS w9
              FROM t),
        tot AS (SELECT sum(w9) AS tw FROM p),
        wts AS (SELECT source, n_tokens,
                  round(CAST(w9 AS DOUBLE) / CAST(tw AS DOUBLE), 6)
                    AS weight
                FROM p, tot)
        SELECT source, n_tokens, weight,
          round(CAST(1000000.0 AS DOUBLE) * weight
                / CAST(n_tokens AS DOUBLE), 6) AS epochs_at_budget
        FROM wts
    """

    sqls["packing_efficiency_report"] = f"""
        WITH d AS (SELECT CAST(len({w}) AS BIGINT) AS n FROM documents),
        b AS (SELECT n, (n + 511) // 512 * 512 AS p,
                     n // 64 * 64 AS bin_lo FROM d)
        SELECT bin_lo, count(*) AS n_docs,
          CAST(sum(n) AS BIGINT) AS n_tokens,
          CAST(sum(p) AS BIGINT) AS n_padded,
          CAST(sum(p) - sum(n) AS BIGINT) AS n_waste,
          round(CAST(sum(p) - sum(n) AS DOUBLE)
                / CAST(sum(p) AS DOUBLE), 6) AS waste_rate
        FROM b GROUP BY 1
    """

    sqls["curriculum_quality_phases"] = f"""
        WITH grid AS (SELECT n_chars AS s, count(*) AS c
                      FROM documents GROUP BY 1),
        cum AS (SELECT s, sum(c) OVER (ORDER BY s) AS cumc FROM grid),
        tot AS (SELECT count(*) AS n FROM documents),
        thr AS (SELECT
                  min(CASE WHEN cumc >= (1 * n + 2) // 3 THEN s END) AS t1,
                  min(CASE WHEN cumc >= (2 * n + 2) // 3 THEN s END) AS t2
                FROM cum, tot)
        SELECT CAST(CASE WHEN n_chars <= t1 THEN 1
                         WHEN n_chars <= t2 THEN 2
                         ELSE 3 END AS BIGINT) AS phase,
          count(*) AS n_docs,
          min(n_chars) AS min_score, max(n_chars) AS max_score,
          CAST(sum(CAST(len({w}) AS BIGINT)) AS BIGINT) AS n_tokens
        FROM documents, thr GROUP BY 1
    """

    sqls["curation_funnel"] = f"""
        WITH d AS (SELECT text, {w} AS w FROM documents),
        f AS (SELECT
                length(text) >= 200 AS p1,
                len(w) >= 30 AS p2,
                CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
                     AS DOUBLE) / CAST(greatest(len(w), 1) AS DOUBLE)
                  BETWEEN {repr(3.0)} AND {repr(10.0)} AS p3,
                CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                     AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)
                  >= {repr(0.6)} AS p4
              FROM d),
        agg AS (SELECT count(*) AS n0,
                  CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                  CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n2,
                  CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n3,
                  CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0
                           END) AS BIGINT) AS n4
                FROM f)
        SELECT CAST(1 AS BIGINT) AS stage, 'min_chars_200' AS stage_name,
               n0 AS rows_in, n1 AS rows_out FROM agg
        UNION ALL SELECT 2, 'min_words_30', n1, n2 FROM agg
        UNION ALL SELECT 3, 'mean_word_len_3_10', n2, n3 FROM agg
        UNION ALL SELECT 4, 'alpha_ratio_60', n3, n4 FROM agg
    """

    sqls["text_top_ngrams_by_source"] = f"""
        WITH d AS (SELECT source, {w} AS w FROM documents),
        g AS (SELECT source,
                unnest(CASE WHEN len(w) >= 3 THEN
                  list_transform(generate_series(1, len(w) - 2),
                    i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
                ELSE [] END) AS gram
              FROM d),
        c AS (SELECT source, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
        r AS (SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY cnt DESC, gram ASC) AS rank FROM c)
        SELECT source, gram, cnt, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 5
    """

    sqls["dedup_index_bucket_profile"] = f"""
        WITH {_minhash_bands_sql()},
        sizes AS (SELECT band_id, band_key, count(*) AS sz
                  FROM bands GROUP BY 1, 2)
        SELECT band_id,
          CAST(sum(sz) AS BIGINT) AS n_rows,
          count(*) AS n_buckets,
          CAST(max(sz) AS BIGINT) AS max_bucket_sz,
          round(CAST(sum(sz) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
            AS mean_bucket,
          CAST(sum(CASE WHEN sz > 32 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_over_cap
        FROM sizes GROUP BY 1
    """

    _snap_new = """
        newdocs AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                      ELSE text END AS text
          FROM documents WHERE doc_id >= 10
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, 'fresh ' || text AS text
          FROM documents WHERE doc_id < 5
        )
    """

    sqls["incremental_dedup_pipeline"] = f"""
        WITH {_snap_new},
        odg AS (SELECT doc_id, md5(text) AS h FROM documents),
        ndg AS (SELECT doc_id, md5(text) AS h FROM newdocs),
        diff AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.h IS NULL THEN 'added'
                        WHEN n.h IS NULL THEN 'removed'
                        WHEN o.h <> n.h THEN 'changed'
                        ELSE 'unchanged' END AS status
                 FROM odg o FULL OUTER JOIN ndg n ON o.doc_id = n.doc_id),
        incoming AS (SELECT nd.doc_id, nd.text FROM newdocs nd
                     JOIN diff ON nd.doc_id = diff.doc_id
                     WHERE diff.status IN ('added', 'changed')),
        {_minhash_bands_sql(src='documents', prefix='old_')},
        {_minhash_bands_sql(src='incoming', prefix='inc_')},
        flagged AS (SELECT DISTINCT ib.doc_id FROM inc_bands ib
                    WHERE EXISTS (SELECT 1 FROM old_bands ob
                                  WHERE ob.band_id = ib.band_id
                                    AND ob.band_key = ib.band_key)),
        survivors AS (SELECT i.doc_id, i.text FROM incoming i
                      WHERE i.doc_id NOT IN (SELECT doc_id FROM flagged)),
        {_minhash_bands_sql(src='survivors', prefix='sv_')},
        merged AS (SELECT doc_id, band_id, band_key FROM old_bands
                   UNION ALL
                   SELECT doc_id, band_id, band_key FROM sv_bands),
        dd AS (SELECT DISTINCT doc_id, band_id, band_key FROM merged),
        live AS (SELECT DISTINCT doc_id FROM newdocs),
        alive AS (SELECT d.* FROM dd d JOIN live USING (doc_id)),
        sizes AS (SELECT band_id, band_key, count(*) AS bn
                  FROM alive GROUP BY 1, 2),
        compacted AS (SELECT a.* FROM alive a
                      JOIN sizes s ON a.band_id = s.band_id
                                  AND a.band_key = s.band_key
                      WHERE s.bn <= 32)
        SELECT CAST(1 AS BIGINT) AS stage, 'old_docs' AS stage_name,
               (SELECT count(*) FROM documents) AS n
        UNION ALL SELECT 2, 'new_docs', (SELECT count(*) FROM newdocs)
        UNION ALL SELECT 3, 'diff_added',
          (SELECT count(*) FROM diff WHERE status = 'added')
        UNION ALL SELECT 4, 'diff_changed',
          (SELECT count(*) FROM diff WHERE status = 'changed')
        UNION ALL SELECT 5, 'diff_removed',
          (SELECT count(*) FROM diff WHERE status = 'removed')
        UNION ALL SELECT 6, 'screen_flagged', (SELECT count(*) FROM flagged)
        UNION ALL SELECT 7, 'screen_survivors',
          (SELECT count(*) FROM survivors)
        UNION ALL SELECT 8, 'index_rows_merged',
          (SELECT count(*) FROM merged)
        UNION ALL SELECT 9, 'index_rows_compacted',
          (SELECT count(*) FROM compacted)
    """

    sqls["snapshot_token_accounting"] = f"""
        WITH {_snap_new},
        o AS (SELECT doc_id, md5(text) AS h,
                CAST(len({w}) AS BIGINT) AS t FROM documents),
        n2 AS (SELECT doc_id, md5(text) AS h,
                CAST(len({w}) AS BIGINT) AS t FROM newdocs),
        j AS (SELECT
                CASE WHEN o.h IS NULL THEN 'added'
                     WHEN n2.h IS NULL THEN 'removed'
                     WHEN o.h <> n2.h THEN 'changed'
                     ELSE 'unchanged' END AS status,
                COALESCE(o.t, 0) AS ot, COALESCE(n2.t, 0) AS nt
              FROM o FULL OUTER JOIN n2 ON o.doc_id = n2.doc_id)
        SELECT status, count(*) AS n_docs,
          CAST(sum(ot) AS BIGINT) AS old_tokens,
          CAST(sum(nt) AS BIGINT) AS new_tokens,
          CAST(sum(nt) - sum(ot) AS BIGINT) AS net_tokens
        FROM j GROUP BY 1
    """

    def _hll_bitlen(col_sql: str) -> str:
        whens = " ".join(
            f"WHEN {col_sql} >= {1 << (b - 1)} THEN {b}"
            for b in range(52, 0, -1)
        )
        return f"(CASE {whens} ELSE 0 END)"

    _hll_alpha = repr((0.7213 / (1.0 + 1.079 / 256)) * 256 * 256)
    _two52 = repr(float(1 << 52))
    sqls["sketch_hll_distinct"] = f"""
        WITH regs AS (SELECT event_type,
                        {hash_mod_sql('hllb13', 'user_id', 256)} AS b,
                        {hash_mod_sql('hllr13', 'user_id', 1 << 52)} AS h
                      FROM events),
        r2 AS (SELECT event_type, b,
                 max(53 - {_hll_bitlen('h')}) AS m
               FROM regs GROUP BY 1, 2),
        agg AS (SELECT event_type, count(*) AS n_registers_set,
                  CAST(sum(CAST(pow(CAST(2 AS DOUBLE), 52 - m) AS BIGINT))
                       AS BIGINT) AS sum_set
                FROM r2 GROUP BY 1),
        ex AS (SELECT event_type,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
               FROM events GROUP BY 1),
        e0 AS (SELECT a.event_type, n_registers_set, exact_distinct,
                 {_hll_alpha}
                   / ((CAST(sum_set AS DOUBLE)
                       + CAST((256 - n_registers_set) AS DOUBLE) * {_two52})
                      / {_two52}) AS raw,
                 256 - n_registers_set AS zeros
               FROM agg a JOIN ex ON a.event_type = ex.event_type),
        e1 AS (SELECT *,
                 round(CASE WHEN raw <= {repr(2.5 * 256)} AND zeros > 0
                            THEN (-{repr(256.0)})
                                 * ln(CAST(zeros AS DOUBLE) / {repr(256.0)})
                            ELSE raw END, 6) AS est_distinct
               FROM e0)
        SELECT event_type, n_registers_set, est_distinct, exact_distinct,
          round(abs(est_distinct - CAST(exact_distinct AS DOUBLE))
                / CAST(exact_distinct AS DOUBLE), 6) AS rel_err
        FROM e1
    """

    _cms_probes_keys = " UNION ALL ".join(
        f"SELECT user_id, {i} AS row_id,"
        f" {hash_mod_sql(f'cms11r{i}', 'user_id', 256)} AS col_id FROM keys"
        for i in range(3)
    )
    sqls["sketch_cms_topk"] = f"""
        WITH cells AS (SELECT row_id, col_id, count(*) AS cnt
                       FROM ({_cms_cells}) GROUP BY 1, 2),
        keys AS (SELECT DISTINCT user_id FROM events),
        probes AS ({_cms_probes_keys}),
        est AS (SELECT p.user_id,
                  CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est_cnt
                FROM probes p LEFT JOIN cells c USING (row_id, col_id)
                GROUP BY 1),
        short AS (SELECT * FROM est WHERE est_cnt >= 25),
        t AS (SELECT user_id, count(*) AS true_cnt FROM events GROUP BY 1)
        SELECT s.user_id, s.est_cnt, t.true_cnt,
               t.true_cnt >= 25 AS is_true_heavy
        FROM short s JOIN t USING (user_id)
    """

    sqls["dedup_cross_source_rate"] = """
        WITH dg AS (SELECT source, doc_id, md5(text) AS h FROM documents),
        g AS (SELECT h, count(*) AS n, min(doc_id) AS keep
              FROM dg GROUP BY 1)
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dup_docs,
          CAST(sum(CASE WHEN doc_id <> keep THEN 1 ELSE 0 END) AS BIGINT)
            AS n_losers,
          round(CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(*) AS DOUBLE), 6) AS dup_rate
        FROM dg JOIN g USING (h) GROUP BY 1
    """

    sqls["dedup_candidate_budget"] = f"""
        WITH {_minhash_bands_sql()},
        sizes AS (SELECT band_id, band_key, count(*) AS sz
                  FROM bands GROUP BY 1, 2)
        SELECT band_id,
          CAST(sum(CASE WHEN sz <= 32 THEN sz * (sz - 1) // 2 ELSE 0 END)
               AS BIGINT) AS n_pairs_budget,
          CAST(sum(CASE WHEN sz > 32 THEN sz * (sz - 1) // 2 ELSE 0 END)
               AS BIGINT) AS n_pairs_skipped,
          CAST(sum(CASE WHEN sz > 32 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_buckets_skipped
        FROM sizes GROUP BY 1
    """

    def _trunc_sel(prob: float, t: str) -> str:
        return f"""
        SELECT {repr(prob)} AS prob, max({t}) AS cutoff_len,
          CAST(sum(CASE WHEN n > {t} THEN 1 ELSE 0 END) AS BIGINT)
            AS docs_truncated,
          CAST(sum(CASE WHEN n > {t} THEN n - {t} ELSE 0 END) AS BIGINT)
            AS tokens_saved,
          round(CAST(sum(CASE WHEN n > {t} THEN n - {t} ELSE 0 END)
                     AS DOUBLE) / CAST(max(nt) AS DOUBLE), 6) AS frac_saved
        FROM lens, thr, tot
        """

    sqls["text_truncation_savings"] = f"""
        WITH lens AS (SELECT CAST(len({w}) AS BIGINT) AS n FROM documents),
        grid AS (SELECT n, count(*) AS c FROM lens GROUP BY 1),
        cum AS (SELECT n, sum(c) OVER (ORDER BY n) AS cumc FROM grid),
        tot AS (SELECT count(*) AS nd, CAST(sum(n) AS BIGINT) AS nt
                FROM lens),
        thr AS (SELECT
                  min(CASE WHEN cumc >= (900 * nd + 999) // 1000
                           THEN n END) AS t0,
                  min(CASE WHEN cumc >= (990 * nd + 999) // 1000
                           THEN n END) AS t1
                FROM cum, tot)
        {_trunc_sel(0.9, 't0')}
        UNION ALL
        {_trunc_sel(0.99, 't1')}
    """

    sqls["mixture_schedule_slots"] = f"""
        WITH t AS (SELECT source,
                     CAST(sum(CAST(len({w}) AS BIGINT)) AS BIGINT)
                       AS n_tokens
                   FROM documents GROUP BY 1),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM t),
        b AS (SELECT source, n_tokens,
                n_tokens * 1000 // tt AS base,
                n_tokens * 1000 - (n_tokens * 1000 // tt) * tt AS rem
              FROM t, tot),
        k AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS kk FROM b),
        r AS (SELECT *, row_number() OVER
                (ORDER BY rem DESC, source ASC) AS rk FROM b)
        SELECT source, n_tokens,
          CAST(base + CASE WHEN rk <= kk THEN 1 ELSE 0 END AS BIGINT)
            AS slots_alloc
        FROM r, k
    """

    _psi_po = ("((CAST(n_old AS DOUBLE) + CAST(0.5 AS DOUBLE))"
               " / (CAST(toto AS DOUBLE)"
               " + CAST(0.5 AS DOUBLE) * CAST(nb AS DOUBLE)))")
    _psi_pn = ("((CAST(n_new AS DOUBLE) + CAST(0.5 AS DOUBLE))"
               " / (CAST(totn AS DOUBLE)"
               " + CAST(0.5 AS DOUBLE) * CAST(nb AS DOUBLE)))")
    sqls["snapshot_length_psi"] = f"""
        WITH {_snap_new},
        lo AS (SELECT CAST(len({w}) AS BIGINT) // 64 * 64 AS bin_lo,
                 count(*) AS n_old
               FROM documents GROUP BY 1),
        ln2_ AS (SELECT CAST(len({w}) AS BIGINT) // 64 * 64 AS bin_lo,
                   count(*) AS n_new
                 FROM newdocs GROUP BY 1),
        j AS (SELECT COALESCE(lo.bin_lo, ln2_.bin_lo) AS bin_lo,
                CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
                CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
              FROM lo FULL OUTER JOIN ln2_ ON lo.bin_lo = ln2_.bin_lo),
        tot AS (SELECT CAST(sum(n_old) AS BIGINT) AS toto,
                  CAST(sum(n_new) AS BIGINT) AS totn,
                  count(*) AS nb
                FROM j)
        SELECT bin_lo, n_old, n_new,
          round(({_psi_pn} - {_psi_po}) * ln({_psi_pn} / {_psi_po}), 6)
            AS psi_term
        FROM j, tot
    """

    # merged == direct register-for-register (deterministic hashes):
    # the oracle states the identity the Spark side measures.
    sqls["sketch_hll_merge_cert"] = f"""
        WITH regs AS (SELECT event_type,
                        {hash_mod_sql('hllb13', 'user_id', 256)} AS b
                      FROM events),
        r2 AS (SELECT event_type, b FROM regs GROUP BY 1, 2)
        SELECT event_type, count(*) AS n_registers,
               CAST(0 AS BIGINT) AS n_mismatch
        FROM r2 GROUP BY 1
    """

    def _qs_rate_cte(mod: int, p: str) -> str:
        hm = hash_mod_sql("qs7", "event_id", mod)
        return f"""
        {p}samp AS (SELECT event_id, value FROM qbase WHERE {hm} = 0),
        {p}ranked AS (SELECT value, event_id,
            row_number() OVER (ORDER BY value ASC, event_id ASC) AS rn
          FROM {p}samp),
        {p}m AS (SELECT max(rn) AS sample_n FROM {p}ranked),
        {p}tg AS (SELECT sample_n,
            greatest(CAST(1 AS BIGINT),
                     CAST(ceil(CAST(0.5 AS DOUBLE) * sample_n) AS BIGINT))
              AS t
          FROM {p}m),
        {p}est AS (SELECT r.value AS est_value, sample_n
                   FROM {p}tg JOIN {p}ranked r ON r.rn = {p}tg.t),
        {p}cert AS (SELECT CAST({mod} AS BIGINT) AS sample_mod,
            est_value, sample_n,
            CAST(sum(CASE WHEN b.value <= est_value THEN 1 ELSE 0 END)
                 AS BIGINT) AS true_rank,
            count(*) AS n_rows
          FROM qbase b CROSS JOIN {p}est GROUP BY 1, 2, 3)
        """

    sqls["sketch_quantile_rate_sweep"] = f"""
        WITH qbase AS (SELECT event_id, value FROM events
                       WHERE value IS NOT NULL),
        {_qs_rate_cte(2, "a_")},
        {_qs_rate_cte(8, "b_")},
        {_qs_rate_cte(32, "c_")},
        u AS (SELECT * FROM a_cert UNION ALL SELECT * FROM b_cert
              UNION ALL SELECT * FROM c_cert)
        SELECT sample_mod, est_value, sample_n, true_rank, n_rows,
          round(abs(CAST(true_rank AS DOUBLE) / CAST(n_rows AS DOUBLE)
                    - CAST(0.5 AS DOUBLE)), 6) AS frac_err
        FROM u
    """

    def _cms_w_cte(width: int, p: str) -> str:
        cells = " UNION ALL ".join(
            f"SELECT {i} AS row_id,"
            f" {hash_mod_sql(f'cms11r{i}', 'user_id', width)} AS col_id"
            f" FROM events"
            for i in range(3)
        )
        probes = " UNION ALL ".join(
            f"SELECT user_id, {i} AS row_id,"
            f" {hash_mod_sql(f'cms11r{i}', 'user_id', width)} AS col_id"
            f" FROM wtop"
            for i in range(3)
        )
        return f"""
        {p}cells AS (SELECT row_id, col_id, count(*) AS cnt
                     FROM ({cells}) GROUP BY 1, 2),
        {p}probes AS ({probes}),
        {p}est AS (SELECT CAST({width} AS BIGINT) AS width, p.user_id,
            CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est_cnt
          FROM {p}probes p LEFT JOIN {p}cells c USING (row_id, col_id)
          GROUP BY 1, 2)
        """

    sqls["sketch_cms_width_sweep"] = f"""
        WITH wtop AS (SELECT user_id, count(*) AS true_cnt FROM events
                      GROUP BY 1 ORDER BY true_cnt DESC, user_id ASC
                      LIMIT 10),
        {_cms_w_cte(64, "w64_")},
        {_cms_w_cte(256, "w256_")},
        {_cms_w_cte(1024, "w1024_")},
        u AS (SELECT * FROM w64_est UNION ALL SELECT * FROM w256_est
              UNION ALL SELECT * FROM w1024_est)
        SELECT u.width, u.user_id, t.true_cnt, u.est_cnt,
               CAST(u.est_cnt - t.true_cnt AS BIGINT) AS overcount
        FROM u JOIN wtop t USING (user_id)
    """

    _wg_es = (f"(ln({hash_uniform_sql('wg42', 'doc_id')})"
              f" / CAST(n_chars AS DOUBLE))")
    sqls["sample_weighted_by_source"] = f"""
        WITH r AS (SELECT source, doc_id, n_chars, {_wg_es} AS es,
                     row_number() OVER (PARTITION BY source
                       ORDER BY {_wg_es} DESC, doc_id ASC) AS rank
                   FROM documents)
        SELECT source, doc_id, n_chars, round(es, 6) AS es_key,
               CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 5
    """

    # merged == direct (the global top-n is contained in the union of
    # the halves' top-n's): the oracle computes the direct reservoir.
    sqls["sample_reservoir_merge_cert"] = f"""
        WITH d AS (SELECT event_id,
                     round({hash_uniform_sql('rs42', 'event_id')}, 6)
                       AS r_key
                   FROM events
                   ORDER BY r_key ASC, event_id ASC LIMIT 50),
        r AS (SELECT event_id, row_number() OVER
                (ORDER BY r_key ASC, event_id ASC) AS rank FROM d)
        SELECT CAST(rank AS BIGINT) AS rank, event_id AS id_merged,
               event_id AS id_direct, TRUE AS match
        FROM r
    """

    _split_case = (f"CASE WHEN u <= {repr(0.9)} THEN 'train'"
                   f" WHEN u <= {repr(0.9 + 0.05)} THEN 'val'"
                   f" ELSE 'test' END")
    sqls["split_leakage_report"] = f"""
        WITH corpus AS (SELECT doc_id, text FROM documents
                        UNION ALL
                        SELECT doc_id + 1000000 AS doc_id, text
                        FROM documents WHERE doc_id % 9 = 0),
        s AS (SELECT {_split_case} AS split, md5(text) AS h
              FROM (SELECT {hash_uniform_sql('tvt42', 'doc_id')} AS u,
                           text
                    FROM corpus)),
        a AS (SELECT DISTINCT split, h FROM s)
        SELECT x.split AS split_a, y.split AS split_b,
               count(*) AS n_shared_digests
        FROM a x JOIN a y ON x.h = y.h AND x.split < y.split
        GROUP BY 1, 2
    """

    sqls["split_label_balance"] = f"""
        WITH s AS (SELECT label, {_split_case} AS split
                   FROM (SELECT {hash_uniform_sql('tvt42', 'vec_id')} AS u,
                                label
                         FROM embeddings)),
        c AS (SELECT split, label, count(*) AS n_vecs FROM s GROUP BY 1, 2),
        t AS (SELECT split, CAST(sum(n_vecs) AS BIGINT) AS st
              FROM c GROUP BY 1)
        SELECT c.split, c.label, c.n_vecs,
          round(CAST(n_vecs AS DOUBLE) / CAST(st AS DOUBLE), 6)
            AS frac_within_split
        FROM c JOIN t USING (split)
    """

    sqls["events_heavy_hitters_batch"] = f"""
        WITH c AS (SELECT CAST({hash_mod_sql('hhb8', 'user_id', 8)}
                          AS INTEGER) AS shard,
                     user_id, count(*) AS cnt
                   FROM events GROUP BY 1, 2),
        r AS (SELECT *, row_number() OVER (PARTITION BY shard
                ORDER BY cnt DESC, user_id ASC) AS rank FROM c)
        SELECT shard, user_id, cnt, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 8
    """

    sqls["corpus_token_gini"] = f"""
        WITH lens AS (SELECT CAST(len({w}) AS BIGINT) AS n FROM documents),
        grid AS (SELECT n, count(*) AS c FROM lens GROUP BY 1),
        cum AS (SELECT n, c, sum(n * c) OVER (ORDER BY n) AS sv FROM grid),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS nd,
                  CAST(sum(n * c) AS BIGINT) AS nt
                FROM grid)
        SELECT nd AS n_docs, nt AS total_tokens,
          round(CAST(1.0 AS DOUBLE)
                - CAST(sum(c * (2 * sv - n * c)) AS DOUBLE)
                  / (CAST(nd AS DOUBLE) * CAST(nt AS DOUBLE)), 6) AS gini
        FROM cum, tot GROUP BY nd, nt
    """

    sqls["source_vocab_overlap"] = f"""
        WITH cnt AS (SELECT g, t, count(*) AS c
                     FROM (SELECT source AS g, unnest({w}) AS t
                           FROM documents)
                     WHERE t <> '' GROUP BY 1, 2),
        top AS (SELECT g, t FROM (
                  SELECT g, t, row_number() OVER (PARTITION BY g
                    ORDER BY c DESC, t ASC) AS r FROM cnt)
                WHERE r <= 100),
        sz AS (SELECT g, count(*) AS s FROM top GROUP BY 1),
        i AS (SELECT a.g AS group_a, b.g AS group_b, count(*) AS inter
              FROM top a JOIN top b ON a.t = b.t AND a.g < b.g
              GROUP BY 1, 2),
        pairs AS (SELECT x.g AS group_a, y.g AS group_b,
                    x.s AS sa, y.s AS sb
                  FROM sz x, sz y WHERE x.g < y.g)
        SELECT p.group_a, p.group_b,
          CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
          CAST(sa + sb - COALESCE(i.inter, 0) AS BIGINT) AS uni,
          round(CAST(COALESCE(i.inter, 0) AS DOUBLE)
                / CAST(sa + sb - COALESCE(i.inter, 0) AS DOUBLE), 6)
            AS jaccard
        FROM pairs p LEFT JOIN i USING (group_a, group_b)
    """

    sqls["curriculum_source_mix"] = f"""
        WITH grid AS (SELECT n_chars AS s, count(*) AS c
                      FROM documents GROUP BY 1),
        cum AS (SELECT s, sum(c) OVER (ORDER BY s) AS cumc FROM grid),
        tot AS (SELECT count(*) AS n FROM documents),
        thr AS (SELECT
                  min(CASE WHEN cumc >= (1 * n + 2) // 3 THEN s END) AS t1,
                  min(CASE WHEN cumc >= (2 * n + 2) // 3 THEN s END) AS t2
                FROM cum, tot),
        a AS (SELECT CAST(CASE WHEN n_chars <= t1 THEN 1
                               WHEN n_chars <= t2 THEN 2
                               ELSE 3 END AS BIGINT) AS phase, source
              FROM documents, thr),
        c AS (SELECT phase, source, count(*) AS n_docs FROM a GROUP BY 1, 2),
        pt AS (SELECT phase, CAST(sum(n_docs) AS BIGINT) AS p
               FROM c GROUP BY 1)
        SELECT c.phase, c.source, c.n_docs,
          round(CAST(n_docs AS DOUBLE) / CAST(p AS DOUBLE), 6)
            AS frac_of_phase
        FROM c JOIN pt USING (phase)
    """

    sqls["snapshot_vocab_churn"] = f"""
        WITH {_snap_new},
        vo AS (SELECT t, count(*) AS co
               FROM (SELECT unnest({w}) AS t FROM documents)
               WHERE t <> '' GROUP BY 1),
        vn AS (SELECT t, count(*) AS cn
               FROM (SELECT unnest({w}) AS t FROM newdocs)
               WHERE t <> '' GROUP BY 1),
        j AS (SELECT CASE WHEN co IS NULL THEN 'gained'
                          WHEN cn IS NULL THEN 'lost'
                          ELSE 'shared' END AS status,
                CASE WHEN cn IS NOT NULL THEN cn ELSE co END AS m
              FROM vo FULL OUTER JOIN vn USING (t))
        SELECT status, count(*) AS n_words,
               CAST(sum(m) AS BIGINT) AS n_occurrences
        FROM j GROUP BY 1
    """

    sqls["packing_concat_vs_pad"] = f"""
        WITH per AS (SELECT source, CAST(len({w}) AS BIGINT) AS n
                     FROM documents),
        agg AS (SELECT source, count(*) AS n_docs,
                  CAST(sum(n) AS BIGINT) AS n_tokens,
                  CAST(sum((n + 511) // 512) AS BIGINT) AS pad_sequences
                FROM per GROUP BY 1)
        SELECT source, n_docs, n_tokens, pad_sequences,
          CAST((n_tokens + 511) // 512 AS BIGINT) AS concat_sequences,
          CAST(pad_sequences - (n_tokens + 511) // 512 AS BIGINT)
            AS sequences_saved,
          round(CAST(pad_sequences - (n_tokens + 511) // 512 AS DOUBLE)
                / CAST(pad_sequences AS DOUBLE), 6) AS save_rate
        FROM agg
    """

    def _mix_cte(alpha: float, p: str) -> str:
        return f"""
        {p}p AS (SELECT source, n_tokens,
            CAST(round(power(CAST(n_tokens AS DOUBLE), {repr(alpha)}), 9)
                 AS DECIMAL(38,9)) AS w9
          FROM mixtok),
        {p}tot AS (SELECT sum(w9) AS tw FROM {p}p),
        {p}w AS (SELECT CAST({repr(alpha)} AS DOUBLE) AS alpha, source,
            n_tokens,
            round(CAST(w9 AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS weight
          FROM {p}p, {p}tot)
        """

    sqls["mixture_alpha_sweep"] = f"""
        WITH mixtok AS (SELECT source,
                          CAST(sum(CAST(len({w}) AS BIGINT)) AS BIGINT)
                            AS n_tokens
                        FROM documents GROUP BY 1),
        {_mix_cte(0.5, "a_")},
        {_mix_cte(0.7, "b_")},
        {_mix_cte(1.0, "c_")}
        SELECT * FROM a_w UNION ALL SELECT * FROM b_w
        UNION ALL SELECT * FROM c_w
    """

    # merged positions == direct positions (deterministic hashes):
    # the oracle computes the direct count and states the identity.
    _bloom_all = " UNION ALL ".join(
        f"SELECT {hash_mod_sql(f'bl5h{i}', 'user_id', 4096)} AS pos"
        f" FROM events"
        for i in range(3)
    )
    sqls["sketch_bloom_merge_cert"] = f"""
        SELECT count(DISTINCT pos) AS n_positions,
               CAST(0 AS BIGINT) AS n_mismatch
        FROM ({_bloom_all})
    """

    sqls["split_source_balance"] = f"""
        WITH s AS (SELECT source, {_split_case} AS split
                   FROM (SELECT {hash_uniform_sql('tvt42', 'doc_id')} AS u,
                                source
                         FROM documents)),
        c AS (SELECT split, source, count(*) AS n_docs FROM s GROUP BY 1, 2),
        t AS (SELECT split, CAST(sum(n_docs) AS BIGINT) AS st
              FROM c GROUP BY 1)
        SELECT c.split, c.source, c.n_docs,
          round(CAST(n_docs AS DOUBLE) / CAST(st AS DOUBLE), 6)
            AS frac_within_split
        FROM c JOIN t USING (split)
    """

    sqls["sample_rate_certificate"] = f"""
        WITH s AS (SELECT source,
                     {hash_uniform_sql('ss42', 'doc_id')}
                       <= CAST(0.2 AS DOUBLE) AS keep
                   FROM documents),
        agg AS (SELECT source, count(*) AS n_total,
                  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_kept,
                  round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END)
                             AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                    AS rate
                FROM s GROUP BY 1),
        e AS (SELECT *,
                round(sqrt({_ln40}
                           / (CAST(2.0 AS DOUBLE) * n_total)), 6) AS eps_95
              FROM agg)
        SELECT *, abs(rate - {repr(0.2)}) <= eps_95 AS within_eps FROM e
    """

    _fn_base = (
        "length(text) >= 200"
        " AND CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)"
        "      AS DOUBLE) / CAST(greatest(len(w), 1) AS DOUBLE)"
        f"      BETWEEN {repr(3.0)} AND {repr(10.0)}"
        " AND CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))"
        "      AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)"
        f"      >= {repr(0.6)}"
    )
    _fn_sums = ", ".join(
        f"CAST(sum(CASE WHEN ({_fn_base}) AND len(w) >= {thr}"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS s{i}"
        for i, thr in enumerate((10, 30, 100))
    )
    _fn_rows = " UNION ALL ".join(
        f"SELECT CAST({thr} AS BIGINT) AS min_words, n0 AS rows_in,"
        f" s{i} AS rows_out,"
        f" round(CAST(n0 - s{i} AS DOUBLE) / CAST(n0 AS DOUBLE), 6)"
        f" AS drop_rate FROM agg"
        for i, thr in enumerate((10, 30, 100))
    )
    sqls["curation_threshold_sweep"] = f"""
        WITH d AS (SELECT text, {w} AS w FROM documents),
        agg AS (SELECT count(*) AS n0, {_fn_sums} FROM d)
        {_fn_rows}
    """

    sqls["snapshot_source_mix_shift"] = f"""
        WITH newdocs AS (
          SELECT doc_id, source FROM documents WHERE doc_id >= 10
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, source
          FROM documents WHERE doc_id < 5
        ),
        o AS (SELECT source, count(*) AS n_old FROM documents GROUP BY 1),
        ot AS (SELECT CAST(sum(n_old) AS BIGINT) AS t FROM o),
        os AS (SELECT source, n_old,
                 round(CAST(n_old AS DOUBLE) / CAST(t AS DOUBLE), 6)
                   AS share_old
               FROM o, ot),
        n_ AS (SELECT source, count(*) AS n_new FROM newdocs GROUP BY 1),
        nt AS (SELECT CAST(sum(n_new) AS BIGINT) AS t FROM n_),
        ns AS (SELECT source, n_new,
                 round(CAST(n_new AS DOUBLE) / CAST(t AS DOUBLE), 6)
                   AS share_new
               FROM n_, nt)
        SELECT COALESCE(os.source, ns.source) AS source,
          CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
          CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
          COALESCE(share_old, CAST(0.0 AS DOUBLE)) AS share_old,
          COALESCE(share_new, CAST(0.0 AS DOUBLE)) AS share_new,
          round(COALESCE(share_new, CAST(0.0 AS DOUBLE))
                - COALESCE(share_old, CAST(0.0 AS DOUBLE)), 6)
            AS share_delta
        FROM os FULL OUTER JOIN ns ON os.source = ns.source
    """

    sqls["dedup_jaccard_histogram"] = f"""
        WITH base AS ({sqls['dedup_jaccard']})
        SELECT CAST(floor(jaccard * 10) AS BIGINT) AS bin_tenths,
               count(*) AS n_pairs
        FROM base GROUP BY 1
    """

    def _hll_sweep_cte(m: int, p: str) -> str:
        alpha_lit = repr((0.7213 / (1.0 + 1.079 / m)) * m * m)
        return f"""
        {p}regs AS (SELECT {hash_mod_sql('hllb13', 'user_id', m)} AS b,
                      {hash_mod_sql('hllr13', 'user_id', 1 << 52)} AS h
                    FROM events),
        {p}r2 AS (SELECT b, max(53 - {_hll_bitlen('h')}) AS m
                  FROM {p}regs GROUP BY 1),
        {p}agg AS (SELECT count(*) AS n_registers_set,
                     CAST(sum(CAST(pow(CAST(2 AS DOUBLE), 52 - m)
                                   AS BIGINT)) AS BIGINT) AS sum_set
                   FROM {p}r2),
        {p}e0 AS (SELECT CAST({m} AS BIGINT) AS m_registers,
                    n_registers_set,
                    (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                     FROM events) AS exact_distinct,
                    {alpha_lit}
                      / ((CAST(sum_set AS DOUBLE)
                          + CAST(({m} - n_registers_set) AS DOUBLE)
                            * {_two52}) / {_two52}) AS raw,
                    {m} - n_registers_set AS zeros
                  FROM {p}agg),
        {p}e1 AS (SELECT m_registers, n_registers_set, exact_distinct,
                    round(CASE WHEN raw <= {repr(2.5 * m)} AND zeros > 0
                               THEN (-{repr(float(m))})
                                    * ln(CAST(zeros AS DOUBLE)
                                         / {repr(float(m))})
                               ELSE raw END, 6) AS est_distinct
                  FROM {p}e0)
        """

    _hll_sweep_sel = " UNION ALL ".join(
        f"SELECT m_registers, n_registers_set, est_distinct,"
        f" exact_distinct,"
        f" round(abs(est_distinct - CAST(exact_distinct AS DOUBLE))"
        f" / CAST(exact_distinct AS DOUBLE), 6) AS rel_err FROM {p}e1"
        for p in ("hm64_", "hm256_", "hm1024_")
    )
    sqls["sketch_hll_m_sweep"] = f"""
        WITH {_hll_sweep_cte(64, "hm64_")},
        {_hll_sweep_cte(256, "hm256_")},
        {_hll_sweep_cte(1024, "hm1024_")}
        {_hll_sweep_sel}
    """

    _sf_sweep = []
    for tf in (0.8, 0.9, 0.95):
        vf = (1.0 - tf) / 2.0
        case = (f"CASE WHEN u <= {repr(float(tf))} THEN 'train'"
                f" WHEN u <= {repr(float(tf) + float(vf))} THEN 'val'"
                f" ELSE 'test' END")
        _sf_sweep.append(
            f"SELECT {repr(float(tf))} AS train_frac, {case} AS split,"
            f" count(*) AS n_docs"
            f" FROM (SELECT {hash_uniform_sql('tvt42', 'doc_id')} AS u"
            f" FROM documents) GROUP BY 1, 2"
        )
    sqls["split_fraction_sweep"] = " UNION ALL ".join(_sf_sweep)

    sqls["curation_funnel_by_source"] = f"""
        WITH d AS (SELECT source, text, {w} AS w FROM documents)
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN ({_fn_base}) AND len(w) >= 30
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
          round(CAST(sum(CASE WHEN ({_fn_base}) AND len(w) >= 30
                        THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(*) AS DOUBLE), 6) AS survival_rate
        FROM d GROUP BY 1
    """

    _ps_sums = ", ".join(
        f"CAST(sum((n + {L - 1}) // {L} * {L}) AS BIGINT) AS p{i}"
        for i, L in enumerate((256, 512, 1024))
    )
    _ps_rows = " UNION ALL ".join(
        f"SELECT CAST({L} AS BIGINT) AS seq_len, nd AS n_docs,"
        f" nt AS n_tokens, p{i} AS n_padded,"
        f" round(CAST(p{i} - nt AS DOUBLE) / CAST(p{i} AS DOUBLE), 6)"
        f" AS waste_rate FROM agg"
        for i, L in enumerate((256, 512, 1024))
    )
    sqls["packing_seqlen_sweep"] = f"""
        WITH per AS (SELECT CAST(len({w}) AS BIGINT) AS n FROM documents),
        agg AS (SELECT count(*) AS nd, CAST(sum(n) AS BIGINT) AS nt,
                  {_ps_sums}
                FROM per)
        {_ps_rows}
    """

    _kmv_sk = f"""
        kmvd AS (SELECT DISTINCT event_type, user_id FROM events),
        kmvh AS (SELECT event_type, user_id,
                   {hash_uniform_sql('kmv7', 'user_id')} AS h
                 FROM kmvd),
        kmvr AS (SELECT event_type, user_id, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h, user_id) AS rnk
                 FROM kmvh),
        kmvsk AS (SELECT * FROM kmvr WHERE rnk <= 32)
    """
    sqls["sketch_kmv_distinct"] = f"""
        WITH {_kmv_sk},
        agg AS (SELECT event_type, count(*) AS n_sketch,
                  max(CASE WHEN rnk = 32 THEN h END) AS hk
                FROM kmvsk GROUP BY 1),
        ex AS (SELECT event_type,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
               FROM events GROUP BY 1),
        j AS (SELECT a.event_type, n_sketch, exact_distinct,
                CASE WHEN n_sketch >= 32 THEN round(hk, 6)
                     ELSE 2.0 END AS theta,
                CASE WHEN n_sketch >= 32 THEN round(31.0 / hk, 6)
                     ELSE CAST(exact_distinct AS DOUBLE) END AS est_distinct
              FROM agg a JOIN ex ON a.event_type = ex.event_type)
        SELECT event_type, n_sketch, theta, est_distinct, exact_distinct,
          round(abs(est_distinct - CAST(exact_distinct AS DOUBLE))
                / CAST(exact_distinct AS DOUBLE), 6) AS rel_err
        FROM j
    """

    def _theta_pair_ctes(a: str, b: str, p: str) -> str:
        return f"""
        {p}th AS (SELECT least(
                    (SELECT theta FROM kmvth WHERE event_type = '{a}'),
                    (SELECT theta FROM kmvth WHERE event_type = '{b}'))
                    AS theta),
        {p}cand AS (
          SELECT COALESCE(sa.h, sb.h) AS h,
                 sa.user_id IS NOT NULL AS in_a,
                 sb.user_id IS NOT NULL AS in_b
          FROM (SELECT user_id, h FROM kmvsk WHERE event_type = '{a}') sa
          FULL OUTER JOIN
               (SELECT user_id, h FROM kmvsk WHERE event_type = '{b}') sb
          ON sa.user_id = sb.user_id),
        {p}est AS (SELECT
            round(sum(CASE WHEN h < theta THEN 1 ELSE 0 END)
                  / least(max(theta), 1.0), 6) AS est_union,
            round(sum(CASE WHEN h < theta AND in_a AND in_b
                      THEN 1 ELSE 0 END) / least(max(theta), 1.0), 6)
              AS est_intersection,
            round(sum(CASE WHEN h < theta AND in_a AND NOT in_b
                      THEN 1 ELSE 0 END) / least(max(theta), 1.0), 6)
              AS est_a_not_b,
            round(max(theta), 6) AS theta
          FROM {p}cand, {p}th),
        {p}fl AS (SELECT user_id,
            max(CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END) AS ia,
            max(CASE WHEN event_type = '{b}' THEN 1 ELSE 0 END) AS ib
          FROM kmvd WHERE event_type IN ('{a}', '{b}') GROUP BY 1),
        {p}ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_union,
            CAST(sum(ia * ib) AS BIGINT) AS exact_intersection,
            CAST(sum(ia * (1 - ib)) AS BIGINT) AS exact_a_not_b
          FROM {p}fl)"""

    _theta_pairs = [("view", "click", "tp0_"), ("view", "purchase", "tp1_"),
                    ("click", "error", "tp2_")]
    _theta_sel = " UNION ALL ".join(
        f"SELECT '{a}' AS group_a, '{b}' AS group_b, '{op}' AS set_op,"
        f" theta, est_{op} AS est, exact_{op} AS exact,"
        f" CASE WHEN exact_{op} > 0 THEN"
        f" round(abs(est_{op} - CAST(exact_{op} AS DOUBLE))"
        f" / CAST(exact_{op} AS DOUBLE), 6) END AS rel_err"
        f" FROM {p}est, {p}ex"
        for a, b, p in _theta_pairs
        for op in ("union", "intersection", "a_not_b")
    )
    sqls["sketch_theta_set_ops"] = f"""
        WITH {_kmv_sk},
        kmvth AS (SELECT event_type,
                    CASE WHEN count(*) >= 32
                         THEN max(CASE WHEN rnk = 32 THEN h END)
                         ELSE 2.0 END AS theta
                  FROM kmvsk GROUP BY 1),
        {",".join(_theta_pair_ctes(a, b, p) for a, b, p in _theta_pairs)}
        {_theta_sel}
    """

    _rp_signs = similarity.rp_sign_matrix(64, 16)

    def _rp_proj_sql(col: str, row: list[int]) -> str:
        arr = "[" + ",".join(f"CAST({v} AS DOUBLE)" for v in row) + "]"
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(generate_series(1, len({col})),"
            f" i -> CAST({col}[i] AS DOUBLE) * {arr}[i])),"
            f" (acc, v) -> acc + v)"
        )

    _rp_proj_list = "list_value(" + ", ".join(
        _rp_proj_sql("embedding", row) for row in _rp_signs
    ) + ")"
    sqls["ann_rp_distortion"] = f"""
        WITH rp AS (SELECT vec_id, embedding AS e,
                      {_rp_proj_list} AS pj
                    FROM embeddings),
        rpa AS (SELECT vec_id AS pair_id, e AS ea, pj AS pja
                FROM rp WHERE vec_id % 2 = 0),
        rpb AS (SELECT vec_id - 1 AS pair_id, e AS eb, pj AS pjb
                FROM rp WHERE vec_id % 2 = 1),
        rpj AS (SELECT pair_id,
                  {_l2sq_sql('ea', 'eb')} AS oo,
                  {_l2sq_sql('pja', 'pjb')} / CAST(16.0 AS DOUBLE) AS pp
                FROM rpa JOIN rpb USING (pair_id))
        SELECT pair_id, round(oo, 6) AS orig_d2, round(pp, 6) AS proj_d2k,
          CASE WHEN oo > 0 THEN round(pp / oo, 6) END AS distortion
        FROM rpj WHERE round(oo, 6) > 0
    """

    sqls["sample_priority_certificate"] = f"""
        WITH prb AS (SELECT event_type, event_id,
                       CAST(value AS DOUBLE) AS w,
                       CAST(value AS DOUBLE)
                         / {hash_uniform_sql('pri11', 'event_id')} AS q
                     FROM events),
        prr AS (SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY q DESC, event_id ASC) AS r
                FROM prb),
        prt AS (SELECT event_type, q AS tau FROM prr WHERE r = 33),
        pre AS (SELECT s.event_type,
                  count(*) AS n_sample,
                  round(max(COALESCE(tau, 0.0)), 6) AS tau,
                  round(CAST(sum(CAST(round(greatest(w,
                          COALESCE(tau, 0.0)), 6) AS DECIMAL(27,6)))
                        AS DOUBLE), 6) AS est_total
                FROM (SELECT * FROM prr WHERE r <= 32) s
                LEFT JOIN prt ON s.event_type = prt.event_type
                GROUP BY 1),
        prx AS (SELECT event_type,
                  round(CAST(sum(CAST(value AS DECIMAL(27,6)))
                        AS DOUBLE), 6) AS exact_total
                FROM events GROUP BY 1)
        SELECT e.event_type, n_sample, tau, est_total, exact_total,
          round(abs(est_total - exact_total) / exact_total, 6) AS rel_err
        FROM pre e JOIN prx ON e.event_type = prx.event_type
    """

    _um_parts = [
        f"""umt AS (SELECT source,
              CAST(sum(len(w)) AS BIGINT) AS n_tokens,
              CAST(4 * sum(len(w)) AS BIGINT) AS cap_tokens
            FROM (SELECT source, {w} AS w FROM documents) GROUP BY 1),
        umr0 AS (SELECT source, n_tokens, cap_tokens, FALSE AS capped,
                   CAST(NULL AS DOUBLE) AS share FROM umt)"""
    ]
    for _r in range(1, 9):
        _um_parts.append(
            f"""uma{_r} AS (SELECT
              CAST(sum(CASE WHEN capped THEN cap_tokens ELSE 0 END)
                   AS BIGINT) AS fixed,
              CAST(sum(CASE WHEN capped THEN 0 ELSE 1 END)
                   AS BIGINT) AS nunc
            FROM umr{_r - 1}),
        umr{_r} AS (SELECT source, n_tokens, cap_tokens,
              capped OR COALESCE(CAST(cap_tokens AS DOUBLE) < share2,
                                 FALSE) AS capped,
              share2 AS share
            FROM (SELECT p.*, CASE WHEN nunc > 0
                     THEN CAST(100000 - fixed AS DOUBLE)
                          / CAST(nunc AS DOUBLE) END AS share2
                  FROM umr{_r - 1} p, uma{_r}))"""
        )
    _um_alloc = (
        "CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)"
        " ELSE round(share, 6) END"
    )
    sqls["mixture_unimax"] = f"""
        WITH {",".join(_um_parts)}
        SELECT source, n_tokens, cap_tokens, capped,
          {_um_alloc} AS alloc_tokens,
          round({_um_alloc} / CAST(n_tokens AS DOUBLE), 6) AS epochs
        FROM umr8
    """

    _fsw = linkage.fs_weight_literals()
    _fs_weight = " + ".join(
        f"CASE WHEN a_{f} THEN {repr(_fsw[f][0])}"
        f" ELSE {repr(_fsw[f][1])} END"
        for f in ("bal", "id", "sign")
    )
    _fs_pairs = """
        fsl AS (SELECT c_custkey AS l_id, c_nationkey AS ln,
                  c_acctbal AS lb FROM customer),
        fsr AS (SELECT s_suppkey AS r_id, s_nationkey AS rn,
                  s_acctbal AS rb FROM supplier),
        fsp0 AS (SELECT l_id, r_id, lb, rb FROM fsl JOIN fsr
                 ON ln = rn AND floor((lb + 1000.0) / 250.0)
                              = floor((rb + 1000.0) / 250.0)),
        fsp1 AS (SELECT l_id, r_id, lb, rb FROM fsl JOIN fsr
                 ON ln = rn AND floor((lb + 1000.0 + 125.0) / 250.0)
                              = floor((rb + 1000.0 + 125.0) / 250.0)),
        fspu AS (SELECT DISTINCT l_id, r_id, lb, rb FROM
                 (SELECT * FROM fsp0 UNION ALL SELECT * FROM fsp1)),
        fspv AS (SELECT l_id, r_id,
                   abs(lb - rb) <= 50.0 AS a_bal,
                   (l_id % 10) = (r_id % 10) AS a_id,
                   (lb < 0) = (rb < 0) AS a_sign
                 FROM fspu)
    """
    sqls["linkage_fs_patterns"] = f"""
        WITH {_fs_pairs}
        SELECT a_bal, a_id, a_sign, count(*) AS n_pairs,
          round({_fs_weight}, 6) AS weight
        FROM fspv GROUP BY 1, 2, 3
    """
    sqls["linkage_fs_matches"] = f"""
        WITH {_fs_pairs},
        fsw AS (SELECT l_id, r_id, a_bal, a_id, a_sign,
                  round({_fs_weight}, 6) AS weight
                FROM fspv)
        SELECT * FROM fsw WHERE weight >= 5.0
    """

    _sc_theo = {
        d: round(1.0 - (1.0 - ((d + 0.5) / 10.0) ** 3) ** 3, 6)
        for d in range(10)
    }
    _sc_theo_case = "CASE decile " + " ".join(
        f"WHEN {d} THEN {repr(_sc_theo[d])}" for d in range(10)
    ) + " END"
    _sc_jac = (
        "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)"
        " / greatest(len(a.s) + len(b.s)"
        " - len(list_intersect(a.s, b.s)), 1), 6)"
    )
    sqls["dedup_lsh_scurve"] = f"""
        WITH scs AS (SELECT doc_id, text FROM documents
                     WHERE doc_id < 200),
        scsh AS (SELECT doc_id, {_shingles_sql('text')} AS s FROM scs),
        scp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  {_sc_jac} AS j
                FROM scsh a JOIN scsh b ON a.doc_id < b.doc_id),
        {_minhash_bands_sql(src="scs", prefix="scb_")},
        sccap AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                  FROM scb_bands x JOIN scb_bands y
                    ON x.band_id = y.band_id
                   AND x.band_key = y.band_key
                   AND x.doc_id < y.doc_id),
        scd AS (SELECT least(CAST(floor(j * 10) AS BIGINT), 9) AS decile,
                  CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS cap
                FROM scp p LEFT JOIN sccap c
                  ON p.id_a = c.id_a AND p.id_b = c.id_b)
        SELECT decile,
          (CAST(decile AS DOUBLE) + 0.5) / CAST(10.0 AS DOUBLE) AS s_mid,
          count(*) AS n_pairs, CAST(sum(cap) AS BIGINT) AS n_captured,
          round(CAST(sum(cap) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
            AS measured_rate,
          {_sc_theo_case} AS theoretical_rate
        FROM scd GROUP BY 1
    """

    sqls["events_salted_rollup"] = f"""
        WITH srd AS (SELECT event_type, count(*) AS n_rows,
                       round(CAST(sum(CAST(value AS DECIMAL(27,6)))
                             AS DOUBLE), 6) AS direct_sum
                     FROM events GROUP BY 1),
        srp AS (SELECT event_type,
                  {hash_mod_sql('salt13', 'event_id', 32)} AS salt,
                  sum(CAST(value AS DECIMAL(27,6))) AS ps
                FROM events GROUP BY 1, 2),
        srs AS (SELECT event_type,
                  round(CAST(sum(ps) AS DOUBLE), 6) AS salted_sum
                FROM srp GROUP BY 1)
        SELECT d.event_type, n_rows, direct_sum, salted_sum,
          direct_sum = salted_sum AS match
        FROM srd d JOIN srs s ON d.event_type = s.event_type
    """

    sqls["dedup_time_horizon"] = """
        WITH dth AS (SELECT user_id, event_type, ts,
            CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts))
                 < 1800 * 1000000 THEN 1 ELSE 0 END AS dup
          FROM events)
        SELECT user_id, event_type, count(*) AS n_rows,
          CAST(sum(1 - dup) AS BIGINT) AS n_kept,
          CAST(sum(dup) AS BIGINT) AS n_dropped,
          min(ts) AS first_ts, max(ts) AS last_ts
        FROM dth GROUP BY 1, 2
    """

    _shard_per = " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS n_shards,"
        f" {hash_mod_sql(f'shard{s}', 'doc_id', s)} AS shard,"
        f" CAST(len({w}) AS BIGINT) AS t FROM documents"
        for s in (8, 32, 128)
    )
    sqls["shard_skew_sweep"] = f"""
        WITH shp AS ({_shard_per}),
        shg AS (SELECT n_shards, shard, CAST(sum(t) AS BIGINT) AS st
                FROM shp GROUP BY 1, 2),
        shr AS (SELECT n_shards, CAST(sum(st) AS BIGINT) AS total_tokens,
                  max(st) AS max_shard_tokens,
                  min(st) AS min_shard_tokens
                FROM shg GROUP BY 1)
        SELECT n_shards, total_tokens, max_shard_tokens, min_shard_tokens,
          round(CAST(max_shard_tokens AS DOUBLE)
                / (CAST(total_tokens AS DOUBLE)
                   / CAST(n_shards AS DOUBLE)), 6) AS skew
        FROM shr
    """

    sqls["linkage_pipeline"] = f"""
        WITH RECURSIVE {_fs_pairs},
        lpm AS (SELECT l_id, r_id FROM fspv
                WHERE round({_fs_weight}, 6) >= 5.0),
        lpn AS (SELECT l_id * 2 AS id_a, r_id * 2 + 1 AS id_b FROM lpm),
        lpe AS (SELECT id_a AS src, id_b AS dst FROM lpn
                UNION SELECT id_b, id_a FROM lpn),
        lpreach AS (
          SELECT src AS v, dst AS u FROM lpe
          UNION
          SELECT r.v, e.dst FROM lpreach r JOIN lpe e ON r.u = e.src
        ),
        lpcomp AS (SELECT v, least(v, min(u)) AS component
                   FROM lpreach GROUP BY v),
        lpent AS (SELECT component, count(*) AS n_members
                  FROM lpcomp GROUP BY 1)
        SELECT CAST(1 AS BIGINT) AS stage, 'left_rows' AS stage_name,
               count(*) AS n FROM customer
        UNION ALL SELECT 2, 'right_rows', count(*) FROM supplier
        UNION ALL SELECT 3, 'candidate_pairs', count(*) FROM fspv
        UNION ALL SELECT 4, 'pairs_bal_agree', count(*) FROM fspv
                  WHERE a_bal
        UNION ALL SELECT 5, 'pairs_id_agree', count(*) FROM fspv
                  WHERE a_id
        UNION ALL SELECT 6, 'links', count(*) FROM lpm
        UNION ALL SELECT 7, 'entities', count(*) FROM lpent
        UNION ALL SELECT 8, 'multi_member_entities', count(*) FROM lpent
                  WHERE n_members > 2
    """

    sqls["linkage_entity_clusters"] = f"""
        WITH RECURSIVE {_fs_pairs},
        fsm AS (SELECT l_id * 2 AS id_a, r_id * 2 + 1 AS id_b
                FROM fspv WHERE round({_fs_weight}, 6) >= 5.0),
        fse AS (SELECT id_a AS src, id_b AS dst FROM fsm
                UNION SELECT id_b, id_a FROM fsm),
        fsreach AS (
          SELECT src AS v, dst AS u FROM fse
          UNION
          SELECT r.v, e.dst FROM fsreach r JOIN fse e ON r.u = e.src
        ),
        fscomp AS (SELECT v, least(v, min(u)) AS component
                   FROM fsreach GROUP BY v)
        SELECT component AS entity_id,
          count(*) AS n_members,
          CAST(sum(CASE WHEN v % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_left,
          CAST(sum(CASE WHEN v % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_right
        FROM fscomp GROUP BY 1
    """

    sqls["dedup_hot_buckets"] = f"""
        WITH {_minhash_bands_sql()},
        sizes AS (SELECT band_id, band_key,
                    CAST(count(*) AS BIGINT) AS bucket_sz
                  FROM bands GROUP BY 1, 2),
        r AS (SELECT *, row_number() OVER (PARTITION BY band_id
                ORDER BY bucket_sz DESC, band_key ASC) AS rank
              FROM sizes)
        SELECT band_id, band_key, bucket_sz, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 3
    """

    _t1 = repr(0.9)
    _t2 = repr(0.9 + 0.05)
    sqls["split_train_val_test"] = f"""
        WITH s AS (SELECT
                     CASE WHEN u <= {_t1} THEN 'train'
                          WHEN u <= {_t2} THEN 'val'
                          ELSE 'test' END AS split,
                     CAST(len(w) AS BIGINT) AS nt
                   FROM (SELECT
                           {hash_uniform_sql('tvt42', 'doc_id')} AS u,
                           {w} AS w
                         FROM documents))
        SELECT split, count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens
        FROM s GROUP BY 1
    """

    _fw_blocks = []
    _fw_units = []
    for _w in (3600, 21600, 86400):
        _fw_blocks.append(f"""
        fw{_w}s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
               JOIN fws1 ON e.user_id = fws1.user_id
               WHERE e.event_type = 'click' AND e.ts > fws1.t1
                 AND e.ts <= fws1.t1 + INTERVAL {_w} SECOND GROUP BY 1),
        fw{_w}s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
               JOIN fw{_w}s2 s2 ON e.user_id = s2.user_id
               WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                 AND e.ts <= s2.t2 + INTERVAL {_w} SECOND GROUP BY 1)""")
        _fw_units.append(
            f"SELECT CAST({_w} AS BIGINT) AS window_seconds,"
            f" CAST(1 AS BIGINT) AS stage, 'view' AS step,"
            f" CAST(count(*) AS BIGINT) AS n_users FROM fws1"
            f" UNION ALL SELECT {_w}, 2, 'click', count(*) FROM fw{_w}s2"
            f" UNION ALL SELECT {_w}, 3, 'purchase', count(*)"
            f" FROM fw{_w}s3"
        )
    sqls["events_funnel_window_sweep"] = f"""
        WITH fws1 AS (SELECT user_id, min(ts) AS t1 FROM events
                      WHERE event_type = 'view' GROUP BY 1),
        {','.join(_fw_blocks)},
        fwu AS ({' UNION ALL '.join(_fw_units)})
        SELECT window_seconds, stage, step, n_users,
               round(CAST(n_users AS DOUBLE)
                     / greatest(first_value(n_users) OVER (
                         PARTITION BY window_seconds ORDER BY stage),
                       1), 6) AS conversion
        FROM fwu
    """

    sqls["events_ab_power_sweep"] = f"""
        WITH appu AS (SELECT user_id,
                        round(CAST(sum(CAST(value AS DECIMAL(27,6)))
                                   AS DOUBLE), 6) AS x
                      FROM events GROUP BY 1),
        apm AS (SELECT CAST(count(*) AS BIGINT) AS n_users_available,
                  sum(CAST(round(x, 6) AS DECIMAL(27,6))) AS sx,
                  sum(CAST(round(x * x, 6) AS DECIMAL(27,6))) AS sxx
                FROM appu),
        apg AS (SELECT *, m AS mde_rel
                FROM apm, unnest([0.01, 0.02, 0.05]) AS t(m)),
        apc AS (SELECT mde_rel, n_users_available,
                  CAST(sx AS DOUBLE) / n_users_available AS mean,
                  CAST(sxx AS DOUBLE) / n_users_available
                    - (CAST(sx AS DOUBLE) / n_users_available)
                    * (CAST(sx AS DOUBLE) / n_users_available) AS var
                FROM apg)
        SELECT mde_rel, round(mean, 6) AS mean_per_user,
          round(var, 6) AS var_per_user,
          CAST(ceil(16.0 * var
                    / greatest((mde_rel * mean) * (mde_rel * mean),
                               1e-12)) AS BIGINT)
            AS n_per_arm_required,
          n_users_available,
          n_users_available >= 2 * CAST(ceil(16.0 * var
                    / greatest((mde_rel * mean) * (mde_rel * mean),
                               1e-12)) AS BIGINT) AS powered
        FROM apc
    """

    _cuped_arm = (
        "CASE WHEN CAST(CAST(concat('0x', substring("
        "md5(concat('exp1', '-', CAST(user_id AS VARCHAR))), 1, 6))"
        " AS UBIGINT) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END"
    )
    _cu_var = lambda ss, s2: (
        f"(CAST({ss} AS DOUBLE) / n_users"
        f" - (CAST({s2} AS DOUBLE) / n_users)"
        f" * (CAST({s2} AS DOUBLE) / n_users))"
    )
    sqls["events_ab_cuped"] = f"""
        WITH cud0 AS (SELECT min(epoch_us(ts) // 1000000 // 86400) AS d0
                      FROM events),
        cupu AS (
          SELECT {_cuped_arm} AS arm, user_id,
            round(CAST(sum(CASE WHEN epoch_us(ts) // 1000000 // 86400
                                     < d0 + 15
                           THEN CAST(value AS DECIMAL(27,6))
                           ELSE CAST(0 AS DECIMAL(27,6)) END)
                       AS DOUBLE), 6) AS x,
            round(CAST(sum(CASE WHEN epoch_us(ts) // 1000000 // 86400
                                     >= d0 + 15
                           THEN CAST(value AS DECIMAL(27,6))
                           ELSE CAST(0 AS DECIMAL(27,6)) END)
                       AS DOUBLE), 6) AS y
          FROM events, cud0 GROUP BY 1, 2
        ),
        cup AS (SELECT count(*) AS n,
                  sum(CAST(round(x, 6) AS DECIMAL(27,6))) AS sx,
                  sum(CAST(round(y, 6) AS DECIMAL(27,6))) AS sy,
                  sum(CAST(round(x * x, 6) AS DECIMAL(27,6))) AS sxx,
                  sum(CAST(round(x * y, 6) AS DECIMAL(27,6))) AS sxy
                FROM cupu),
        cuadj AS (
          SELECT arm, x, y,
            (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
               / n)
            / greatest(CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n,
                       1e-12) AS theta,
            CAST(sx AS DOUBLE) / n AS xbar
          FROM cupu, cup
        ),
        cuyc AS (SELECT arm, x, y, theta,
                   round(y - theta * (x - xbar), 6) AS yc
                 FROM cuadj),
        cug AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                  sum(CAST(round(y, 6) AS DECIMAL(27,6))) AS sy,
                  sum(CAST(round(yc, 6) AS DECIMAL(27,6))) AS sc,
                  sum(CAST(round(y * y, 6) AS DECIMAL(27,6))) AS syy,
                  sum(CAST(round(yc * yc, 6) AS DECIMAL(27,6))) AS scc,
                  any_value(theta) AS th
                FROM cuyc GROUP BY 1)
        SELECT arm, n_users,
          {round6_ratio_sql('sy', 'n_users')} AS mean_y,
          {round6_ratio_sql('sc', 'n_users')} AS mean_y_cuped,
          round({_cu_var('syy', 'sy')}, 6) AS var_y,
          round({_cu_var('scc', 'sc')}, 6) AS var_y_cuped,
          round(th, 6) AS theta,
          round(1.0 - {_cu_var('scc', 'sc')}
                / greatest({_cu_var('syy', 'sy')}, 1e-12), 6)
            AS variance_reduction
        FROM cug ORDER BY arm
    """

    sqls["corpus_compressibility"] = f"""
        WITH ccw AS (SELECT doc_id, source,
                       list_filter({w}, x -> x <> '') AS fw
                     FROM documents),
        ccg AS (
          SELECT source AS "group",
                 array_to_string(fw[i : i + 2], ' ') AS gram
          FROM ccw, unnest(generate_series(1, len(fw) - 2)) AS t(i)
        ),
        ccpg AS (SELECT "group", gram, count(*) AS cnt
                 FROM ccg GROUP BY 1, 2),
        ccc AS (SELECT "group",
                  CAST(sum(cnt) AS BIGINT) AS grams_total,
                  CAST(count(*) AS BIGINT) AS grams_distinct,
                  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS grams_singleton
                FROM ccpg GROUP BY 1),
        ccd AS (SELECT source AS "group",
                  CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY 1)
        SELECT d."group", n_docs,
          COALESCE(grams_total, 0) AS grams_total,
          COALESCE(grams_distinct, 0) AS grams_distinct,
          COALESCE(grams_singleton, 0) AS grams_singleton,
          {round6_ratio_sql(
              'CAST(COALESCE(grams_total, 0)'
              ' - COALESCE(grams_distinct, 0) AS DECIMAL(27,6))',
              'greatest(COALESCE(grams_total, 0), 1)')} AS redundancy,
          {round6_ratio_sql(
              'CAST(COALESCE(grams_singleton, 0) AS DECIMAL(27,6))',
              'greatest(COALESCE(grams_total, 0), 1)')} AS singleton_frac
        FROM ccd d LEFT JOIN ccc c ON d."group" = c."group"
    """

    sqls["dedup_savings_calibration"] = f"""
        WITH dscred AS ({sqls['corpus_compressibility']}),
        dscrate AS (SELECT source AS "group",
                      round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
                            / count(*), 6) AS dup_rate
                    FROM documents GROUP BY 1),
        dscj AS (SELECT r."group", r.n_docs, r.redundancy, t.dup_rate
                 FROM dscred r JOIN dscrate t ON r."group" = t."group"),
        dscm AS (SELECT count(*) AS n,
                   sum(CAST(round(redundancy, 6) AS DECIMAL(27,6))) AS sa,
                   sum(CAST(round(dup_rate, 6) AS DECIMAL(27,6))) AS sb,
                   sum(CAST(round(redundancy * redundancy, 6)
                            AS DECIMAL(27,6))) AS saa,
                   sum(CAST(round(dup_rate * dup_rate, 6)
                            AS DECIMAL(27,6))) AS sbb,
                   sum(CAST(round(redundancy * dup_rate, 6)
                            AS DECIMAL(27,6))) AS sab
                 FROM dscj),
        dscc AS (SELECT
            (CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
               / n) AS cov,
            (CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
               / n) AS va,
            (CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
               / n) AS vb
          FROM dscm)
        SELECT "group", n_docs, redundancy, dup_rate,
          CASE WHEN va > 1e-12 AND vb > 1e-12
               THEN round(cov / sqrt(va * vb), 6) END AS corr
        FROM dscj, dscc
    """

    sqls["layout_range_planner"] = f"""
        WITH rpb AS (SELECT event_id AS k, value AS v FROM events
                     WHERE value IS NOT NULL),
        rps AS (SELECT * FROM rpb
                WHERE {hash_mod_sql('rp7', 'k', 8)} = 0),
        rpr AS (SELECT v, row_number() OVER (ORDER BY v, k) AS r
                FROM rps),
        rpm AS (SELECT count(*) AS m FROM rps),
        rpt AS (SELECT ((i * m + 7) // 8) AS t
                FROM rpm, unnest(generate_series(1, 7)) AS g(i)),
        rpc AS (SELECT list_sort(list(v)) AS cuts
                FROM rpr JOIN rpt ON rpr.r = rpt.t),
        rpa AS (SELECT len(list_filter(cuts, c -> c < v)) AS range_id
                FROM rpb, rpc),
        rpp AS (SELECT range_id, CAST(count(*) AS BIGINT) AS n_rows
                FROM rpa GROUP BY 1),
        rpsp AS (SELECT CAST(i AS BIGINT) AS range_id
                 FROM unnest(generate_series(0, 7)) AS g(i)),
        rptot AS (SELECT sum(n_rows) AS n FROM rpp)
        SELECT s.range_id,
          CASE WHEN s.range_id > 0
               THEN cuts[CAST(s.range_id AS INT)] END AS lo,
          CASE WHEN s.range_id < len(cuts)
               THEN cuts[CAST(s.range_id AS INT) + 1] END AS hi,
          COALESCE(p.n_rows, 0) AS n_rows,
          round(CAST(n AS DOUBLE) / 8.0, 6) AS ideal_rows,
          round(COALESCE(p.n_rows, 0) * 8.0 / CAST(n AS DOUBLE), 6)
            AS fill_ratio
        FROM rpsp s LEFT JOIN rpp p ON s.range_id = p.range_id, rpc, rptot
    """

    sqls["events_salted_join"] = f"""
        WITH sjf AS (SELECT event_type, event_id,
                       CAST(value AS DECIMAL(27,6)) AS v
                     FROM events),
        sjd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS dim_n
                FROM sjf GROUP BY 1),
        sjdir AS (SELECT f.event_type,
                    CAST(count(*) AS BIGINT) AS n_rows_direct,
                    round(CAST(sum(f.v) AS DOUBLE), 6) AS sum_direct,
                    max(d.dim_n) AS dim_attr
                  FROM sjf f JOIN sjd d ON f.event_type = d.event_type
                  GROUP BY 1),
        sjrep AS (SELECT d.event_type, d.dim_n, s AS salt
                  FROM sjd d, unnest(generate_series(0, 15)) AS t(s)),
        sjsj AS (SELECT f.event_type, f.v
                 FROM sjf f JOIN sjrep r
                   ON f.event_type = r.event_type
                  AND {hash_mod_sql('sj16', 'f.event_id', 16)} = r.salt),
        sjsal AS (SELECT event_type,
                    CAST(count(*) AS BIGINT) AS n_rows_salted,
                    round(CAST(sum(v) AS DOUBLE), 6) AS sum_salted
                  FROM sjsj GROUP BY 1)
        SELECT a.event_type, n_rows_direct, n_rows_salted,
          sum_direct, sum_salted, dim_attr,
          (n_rows_direct = n_rows_salted AND sum_direct = sum_salted)
            AS match
        FROM sjdir a JOIN sjsal b ON a.event_type = b.event_type
    """

    # reuse the text_bpe_encode oracle VERBATIM as a subquery, so the
    # fertility twin can never drift from the encode twin
    sqls["text_bpe_fertility"] = f"""
        WITH bfenc AS ({sqls['text_bpe_encode']}),
        bfw AS (SELECT doc_id, source,
                  list_filter({w}, x -> x <> '') AS fw
                FROM documents),
        bfm AS (SELECT doc_id, source,
                  CAST(len(fw) AS BIGINT) AS nw,
                  CAST(length(array_to_string(fw, '')) AS BIGINT) AS nc
                FROM bfw),
        bfj AS (SELECT m.source AS "group", m.nw, m.nc, e.n_tokens
                FROM bfm m JOIN bfenc e ON m.doc_id = e.doc_id),
        bfg AS (SELECT "group",
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(nw) AS BIGINT) AS n_words,
                  CAST(sum(nc) AS BIGINT) AS n_chars,
                  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
                FROM bfj GROUP BY 1)
        SELECT "group", n_docs, n_words, n_chars, n_tokens,
          {round6_ratio_sql('CAST(n_tokens AS DECIMAL(27,6))',
                            'greatest(n_words, 1)')} AS fertility,
          {round6_ratio_sql('CAST(n_chars AS DECIMAL(27,6))',
                            'greatest(n_tokens, 1)')} AS chars_per_token
        FROM bfg
    """

    _z_bits = " + ".join(
        f"(((d >> {j}) & 1) << {2 * j}) + (((v >> {j}) & 1) << {2 * j + 1})"
        for j in range(5)
    )
    _z_layouts = " UNION ALL ".join(
        f"SELECT d, value, hd, hv, '{name}' AS layout, {file_expr} AS file"
        " FROM zz"
        for name, file_expr in [
            ("id_chunks", "event_id // 64"),
            ("ts_daily", "d"),
            ("lex_day_value", "d * 8 + (v >> 2)"),
            ("zorder", "z >> 2"),
        ]
    )
    _z_preds = " UNION ALL ".join(
        f"SELECT layout, n_rows, '{p}' AS predicate, {t} AS touched,"
        f" {h} AS n_hit FROM zs"
        for p, t, h in [
            ("both", "(td AND tv)", "h_both"),
            ("day_only", "td", "h_day"),
            ("value_only", "tv", "h_val"),
        ]
    )
    sqls["layout_zorder_certificate"] = f"""
        WITH zb0 AS (SELECT event_id, value,
                       epoch_us(ts) // 1000000 // 86400 AS day
                     FROM events),
        zodg AS (SELECT min(day) AS d0 FROM zb0),
        zb AS (SELECT event_id, value,
                 least(day - d0, 31) AS d,
                 least(greatest(CAST(floor(sqrt(greatest(value, 0.0)))
                                     AS BIGINT), 0), 31) AS v
               FROM zb0, zodg),
        zz AS (SELECT *, {_z_bits} AS z,
                 (d >= 2 AND d <= 8) AS hd,
                 (value >= 10.0 AND value <= 40.0) AS hv
               FROM zb),
        zf AS ({_z_layouts}),
        zs AS (SELECT layout, file, count(*) AS n_rows,
                 (min(d) <= 8 AND max(d) >= 2) AS td,
                 (min(value) <= 40.0 AND max(value) >= 10.0) AS tv,
                 sum(CASE WHEN hd AND hv THEN 1 ELSE 0 END) AS h_both,
                 sum(CASE WHEN hd THEN 1 ELSE 0 END) AS h_day,
                 sum(CASE WHEN hv THEN 1 ELSE 0 END) AS h_val
               FROM zf GROUP BY 1, 2),
        zp AS ({_z_preds})
        SELECT layout, predicate, CAST(count(*) AS BIGINT) AS n_files,
          CAST(sum(CASE WHEN touched THEN 1 ELSE 0 END) AS BIGINT)
            AS files_touched,
          CAST(sum(n_rows) AS BIGINT) AS rows_total,
          CAST(sum(n_hit) AS BIGINT) AS rows_matched,
          CAST(sum(CASE WHEN touched THEN n_rows ELSE 0 END) AS BIGINT)
            AS rows_in_touched,
          round(1.0 - CAST(sum(CASE WHEN touched THEN 1 ELSE 0 END)
                           AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
            AS prune_rate,
          CASE WHEN sum(n_hit) > 0 THEN
            round(CAST(sum(CASE WHEN touched THEN n_rows ELSE 0 END)
                       AS DOUBLE) / CAST(sum(n_hit) AS DOUBLE), 6)
          END AS read_amplification
        FROM zp GROUP BY 1, 2
    """

    from fuel_spark.functions import l2sq_sql as _l2sq

    _kc = [
        "kcb AS (SELECT vec_id AS vid, embedding AS v FROM embeddings)",
        "kc0 AS (SELECT min(vid) AS vid FROM kcb)",
        f"kcd0 AS (SELECT b.vid, b.v, round({_l2sq('b.v', 'c.cv')}, 6)"
        " AS dist FROM kcb b CROSS JOIN (SELECT b2.v AS cv FROM kcb b2"
        " JOIN kc0 ON b2.vid = kc0.vid) c)",
    ]
    _kc_picked = ["kc0"]
    for _i in range(1, 6):
        _notin = " UNION ALL ".join(
            f"SELECT vid FROM {p}" for p in _kc_picked
        )
        _kc.append(
            f"kp{_i} AS (SELECT vid, dist FROM kcd{_i - 1}"
            f" WHERE vid NOT IN ({_notin})"
            " ORDER BY dist DESC, vid LIMIT 1)"
        )
        _kc_picked.append(f"kp{_i}")
        if _i < 5:
            _kc.append(
                f"kcd{_i} AS (SELECT b.vid, b.v,"
                f" least(b.dist, round({_l2sq('b.v', 'c.cv')}, 6)) AS dist"
                f" FROM kcd{_i - 1} b CROSS JOIN (SELECT b2.v AS cv"
                f" FROM kcb b2 JOIN kp{_i} ON b2.vid = kp{_i}.vid) c)"
            )
    sqls["sample_kcenter"] = (
        "WITH " + ",\n".join(_kc) + "\n"
        "SELECT CAST(0 AS BIGINT) AS rank, kc0.vid AS vec_id,"
        " CAST(NULL AS DOUBLE) AS radius FROM kc0"
        + "".join(
            f" UNION ALL SELECT CAST({_i} AS BIGINT), kp{_i}.vid,"
            f" kp{_i}.dist FROM kp{_i}"
            for _i in range(1, 6)
        )
    )

    _cal_ece_num = (
        "CAST(sum(n * CAST(abs_gap AS DECIMAL(27,6))) AS DECIMAL(27,6))"
    )
    sqls["quality_calibration"] = f"""
        WITH d AS (SELECT lang, {w} AS w FROM documents),
        cb AS (
          SELECT CAST(round(CAST(len(list_filter(w,
                     x -> list_contains({_en_sw}, x))) AS DOUBLE)
                   / greatest(len(w), 1), 6) AS DECIMAL(27,6)) AS s,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM d
        ),
        cbb AS (SELECT least(CAST(floor(s * 10) AS BIGINT), 9) AS bin, s, y
                FROM cb),
        g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                {round6_ratio_sql('sum(s)', 'count(*)')} AS mean_score,
                {round6_ratio_sql('CAST(sum(y) AS DECIMAL(27,6))', 'count(*)')}
                  AS pos_rate
              FROM cbb GROUP BY 1),
        g2 AS (SELECT *,
                 CAST(abs(CAST(pos_rate AS DECIMAL(27,6))
                          - CAST(mean_score AS DECIMAL(27,6))) AS DOUBLE)
                   AS abs_gap
               FROM g),
        t AS (SELECT {round6_ratio_sql(_cal_ece_num, 'sum(n)')} AS ece
              FROM g2)
        SELECT bin, n, mean_score, pos_rate, abs_gap, ece FROM g2, t
    """

    sqls["text_lm_buckets"] = f"""
        WITH t AS (SELECT doc_id, unnest({w}) AS word FROM documents),
        tt AS (SELECT doc_id, word FROM t WHERE word <> ''),
        c AS (SELECT word, count(*) AS cnt FROM tt GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
        s AS (
          SELECT tt.doc_id,
                 CAST(round(log10(CAST(c.cnt AS DOUBLE) / tot.total), 6)
                      AS DECIMAL(27,6)) AS lp
          FROM tt JOIN c ON tt.word = c.word CROSS JOIN tot
        ),
        lp AS (SELECT doc_id,
                 {round6_ratio_sql('sum(lp)', 'count(*)')} AS mean_logprob
               FROM s GROUP BY 1),
        sc AS (SELECT l.doc_id, d.source AS "group", l.mean_logprob
               FROM lp l JOIN documents d ON l.doc_id = d.doc_id),
        hist AS (SELECT "group", mean_logprob, count(*) AS hc
                 FROM sc GROUP BY 1, 2),
        hcum AS (SELECT *, sum(hc) OVER (PARTITION BY "group"
                   ORDER BY mean_logprob DESC
                   ROWS UNBOUNDED PRECEDING) AS cum
                 FROM hist),
        tot2 AS (SELECT "group", sum(hc) AS n FROM hist GROUP BY 1),
        cuts AS (SELECT h."group",
                   max(CASE WHEN cum * 3 >= n THEN mean_logprob END)
                     AS cut_head,
                   max(CASE WHEN cum * 3 >= 2 * n THEN mean_logprob END)
                     AS cut_mid,
                   max(n) AS n
                 FROM hcum h JOIN tot2 ON h."group" = tot2."group"
                 GROUP BY 1),
        asg AS (SELECT sc."group", sc.mean_logprob,
                  CASE WHEN sc.mean_logprob >= cut_head THEN 'head'
                       WHEN sc.mean_logprob >= cut_mid THEN 'middle'
                       ELSE 'tail' END AS bucket,
                  n
                FROM sc JOIN cuts ON sc."group" = cuts."group")
        SELECT "group", bucket, CAST(count(*) AS BIGINT) AS n_docs,
          {round6_ratio_sql('CAST(count(*) AS DECIMAL(27,6))', 'max(n)')}
            AS share,
          {round6_ratio_sql('sum(CAST(mean_logprob AS DECIMAL(27,6)))',
                            'count(*)')} AS mean_logprob,
          min(mean_logprob) AS lp_min, max(mean_logprob) AS lp_max
        FROM asg GROUP BY 1, 2
    """

    # half-centroid means via the exact-rational round6 (double
    # quotients flip at half-way boundaries), products in exact
    # DECIMAL(18,6)x(18,6) arithmetic — the drift-cert contract
    sqls["embedding_centroid_shift"] = f"""
        WITH csx AS (
          SELECT label AS g, (vec_id % 2 = 0) AS even, i - 1 AS pos,
                 CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                      AS DECIMAL(27,6)) AS v
          FROM embeddings,
               LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                        AS i) u
        ),
        cspd AS (SELECT g, even, pos,
                   {round6_ratio_sql('sum(v)', 'count(*)')} AS m,
                   count(*) AS n
                 FROM csx GROUP BY 1, 2, 3),
        cspair AS (SELECT g, pos,
                     CAST(max(CASE WHEN even THEN m END)
                          AS DECIMAL(18,6)) AS a,
                     CAST(max(CASE WHEN NOT even THEN m END)
                          AS DECIMAL(18,6)) AS b,
                     max(CASE WHEN even THEN n END) AS n_even,
                     max(CASE WHEN NOT even THEN n END) AS n_odd
                   FROM cspd GROUP BY 1, 2),
        csred AS (SELECT g,
                    CAST(max(n_even) AS BIGINT) AS n_even,
                    CAST(max(n_odd) AS BIGINT) AS n_odd,
                    CAST(sum(a * b) AS DOUBLE) AS dot,
                    CAST(sum(a * a) AS DOUBLE) AS na,
                    CAST(sum(b * b) AS DOUBLE) AS nb,
                    CAST(sum(CAST(a - b AS DECIMAL(18,6))
                             * CAST(a - b AS DECIMAL(18,6)))
                         AS DOUBLE) AS l2
                  FROM cspair GROUP BY 1)
        SELECT g AS label, n_even, n_odd,
          round(dot / sqrt(na * nb), 6) AS cosine,
          round(sqrt(l2), 6) AS l2_shift
        FROM csred
    """

    _sgs_structs = ", ".join(
        f"{{'gap_minutes': CAST({g} AS BIGINT),"
        f" 'seq': sum(CASE WHEN gsec IS NULL OR gsec > {g} * 60"
        f" THEN 1 ELSE 0 END) OVER w}}"
        for g in (15, 30, 60)
    )
    sqls["events_session_gap_sweep"] = f"""
        WITH sge AS (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsec
                     FROM events),
        sgg AS (SELECT user_id, event_id, tsec,
                  tsec - lag(tsec) OVER (PARTITION BY user_id
                                         ORDER BY tsec, event_id) AS gsec
                FROM sge),
        sgf0 AS (SELECT user_id, tsec,
                   [{_sgs_structs}] AS bs
                 FROM sgg
                 WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id
                              ROWS UNBOUNDED PRECEDING)),
        sgf AS (SELECT user_id, tsec, b.gap_minutes, b.seq
                FROM sgf0, unnest(bs) AS t(b)),
        sgsess AS (SELECT gap_minutes, user_id, seq, count(*) AS n,
                     max(tsec) - min(tsec) AS dur
                   FROM sgf GROUP BY 1, 2, 3)
        SELECT gap_minutes, CAST(count(*) AS BIGINT) AS n_sessions,
          CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_singleton_sessions,
          round(CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
            AS avg_events_per_session,
          round(CAST(sum(dur) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
            AS avg_duration_sec,
          CAST(max(dur) AS BIGINT) AS max_duration_sec
        FROM sgsess GROUP BY 1
    """

    _jbp_specs = {
        "region": (["r_name"], 1),
        "nation": (["n_name"], 2),
        "supplier": (["s_name"], 3),
        "customer": (["c_name", "c_mktsegment"], 3),
        "part": (["p_name", "p_brand", "p_type"], 3),
    }
    _jbp_rows = " UNION ALL ".join(
        f"SELECT '{tn}' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,"
        f" CAST(sum({' + '.join(f'strlen({c})' for c in scols)}"
        f" + {8 * nfix}) AS BIGINT) AS est_bytes FROM {tn}"
        for tn, (scols, nfix) in _jbp_specs.items()
    )
    sqls["join_broadcast_planner"] = f"""
        WITH jbt AS ({_jbp_rows}),
        jbg AS (SELECT table_name, n_rows, est_bytes,
                  CAST(b AS BIGINT) AS threshold_bytes
                FROM jbt, unnest([4096, 65536, 1048576]) AS t(b))
        SELECT table_name, n_rows, est_bytes, threshold_bytes,
          CASE WHEN est_bytes <= threshold_bytes THEN 'broadcast'
               ELSE 'shuffle' END AS strategy
        FROM jbg
    """

    sqls["layout_file_planner"] = """
        WITH flg AS (SELECT source AS "group",
                       CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
                     FROM documents GROUP BY 1),
        flt AS (SELECT *, CAST(tb AS BIGINT) AS target_bytes
                FROM flg, unnest([65536, 262144, 1048576]) AS t(tb)),
        flf AS (SELECT *,
                  greatest(CAST(ceil(CAST(total_bytes AS DOUBLE)
                                     / CAST(target_bytes AS DOUBLE))
                                AS BIGINT), 1) AS n_files
                FROM flt)
        SELECT target_bytes, "group", n_rows, total_bytes, n_files,
          round(CAST(total_bytes AS DOUBLE) / CAST(n_files AS DOUBLE), 6)
            AS avg_file_bytes,
          round(CAST(n_rows AS DOUBLE) / CAST(n_files AS DOUBLE), 6)
            AS rows_per_file
        FROM flf
    """

    # --- round 8: ANN index lifecycle / snapshot drift / stream resume ---

    def _pividx(corpus_where: str, planes_where: str,
                n_planes: int = 6) -> str:
        """CTE body producing the (vec_id, bucket) pivot-LSH index of
        the ``corpus_where`` subset hashed under the plane family
        derived from the ``planes_where`` subset — the DuckDB twin of
        similarity.pivot_lsh_index(pivot_lsh_planes(...))."""
        d = _dot_sql("c.embedding", "piv.pvec")
        return f"""
          SELECT c.vec_id,
                 CAST(sum(CASE WHEN round({d}, 6) > 0
                               THEN (1 << piv.p) ELSE 0 END)
                      AS BIGINT) AS bucket
          FROM (SELECT vec_id, embedding FROM snap_a
                WHERE {corpus_where}) c,
               (SELECT plane_id, pvec,
                       CAST(row_number() OVER (ORDER BY plane_id) - 1
                            AS BIGINT) AS p
                FROM (SELECT vec_id AS plane_id, embedding AS pvec
                      FROM snap_a WHERE {planes_where}
                      ORDER BY vec_id LIMIT {int(n_planes)})) piv
          GROUP BY 1
        """

    # snap_a = embeddings plus the ingest clones (copies of
    # 100..104 re-keyed +10,000,000, above any real id at every SF)
    # — the fixture _ann_corpus_split builds Spark-side.  The oracle
    # old/new split derives from the SAME predicate as the fixture:
    # old = base rows with vec_id >= 10 (clones sit at >= 10M, so
    # "vec_id >= 10 AND vec_id < 10000000" is exactly it); the merged
    # index buckets EVERYTHING under old's planes (union of old and
    # new bucketed with the same frozen family).
    _ann_snap = """
        snap_a AS (
          SELECT vec_id, embedding, label FROM embeddings
          UNION ALL
          SELECT vec_id + 10000000 AS vec_id, embedding, label
          FROM embeddings WHERE vec_id >= 100 AND vec_id < 105
        )"""

    sqls["ann_index_merge_cert"] = f"""
        WITH {_ann_snap},
        merged AS ({_pividx('TRUE', 'vec_id >= 10 AND vec_id < 10000000')}),
        fresh AS ({_pividx('TRUE', 'TRUE')}),
        j AS (SELECT m.bucket AS mb, f.bucket AS fb
              FROM merged m JOIN fresh f USING (vec_id))
        SELECT CAST(count(*) AS BIGINT) AS n_index,
               CAST(count(*) AS BIGINT) AS n_rebuilt,
               CAST(sum(CASE WHEN mb = fb THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_same_bucket,
               CAST(sum(CASE WHEN mb <> fb THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_moved,
               round(CAST(sum(CASE WHEN mb <> fb THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                 AS moved_frac
        FROM j
    """

    sqls["ann_index_compaction"] = f"""
        WITH snap_a AS (SELECT vec_id, embedding FROM embeddings),
        idx AS ({_pividx('TRUE', 'TRUE')}),
        replayed AS (SELECT * FROM idx
                     UNION ALL
                     SELECT * FROM idx WHERE vec_id % 3 = 0),
        deduped AS (SELECT DISTINCT vec_id, bucket FROM replayed),
        live AS (SELECT d.* FROM deduped d
                 WHERE d.vec_id % 7 <> 3),
        sizes AS (SELECT bucket, count(*) AS n FROM live GROUP BY 1)
        SELECT l.vec_id, l.bucket
        FROM live l JOIN sizes s USING (bucket)
        WHERE s.n <= 12
    """

    sqls["ann_compact_relative"] = f"""
        WITH snap_a AS (SELECT vec_id, embedding FROM embeddings),
        idx AS ({_pividx('TRUE', 'TRUE')}),
        replayed AS (SELECT * FROM idx
                     UNION ALL
                     SELECT * FROM idx WHERE vec_id % 3 = 0),
        deduped AS (SELECT DISTINCT vec_id, bucket FROM replayed),
        live AS (SELECT d.* FROM deduped d
                 WHERE d.vec_id % 7 <> 3),
        sizes AS (SELECT bucket, count(*) AS n FROM live GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
                       CAST(count(*) AS BIGINT) AS n_buckets
                FROM sizes)
        SELECT l.vec_id, l.bucket
        FROM live l JOIN sizes s USING (bucket), tot t
        WHERE (s.n - 1) * 1000 * t.n_buckets < 2000 * t.n_rows
    """

    # ---- round-9 multimodal mechanics (ops/pixels.py): synthetic
    # integer pixel/frame/wave fixtures, md5-derived like the Spark
    # side — every reduction integer or exact-rational ---------------
    def _px_cte(src_sql: str, seed: str = "img",
                h: int = 8, w: int = 8, ch: int = 3) -> str:
        key = ("CAST(_k AS VARCHAR) || ':' || CAST(cc.c AS VARCHAR)"
               " || ':' || CAST(yy.y AS VARCHAR)"
               " || ':' || CAST(xx.x AS VARCHAR)")
        return (
            f"SELECT id, cc.c AS c, yy.y AS y, xx.x AS x, "
            f"{hash_mod_sql(seed, key, 256)} AS v "
            f"FROM ({src_sql}) srcq, "
            f"(SELECT unnest(generate_series(0, {ch - 1})) AS c) cc, "
            f"(SELECT unnest(generate_series(0, {h - 1})) AS y) yy, "
            f"(SELECT unnest(generate_series(0, {w - 1})) AS x) xx"
        )

    _px_base = _px_cte("SELECT doc_id AS id, doc_id AS _k FROM documents")
    _px_clones = _px_cte(
        "SELECT doc_id AS id, doc_id AS _k FROM documents "
        "UNION ALL "
        "SELECT doc_id + 10000000 AS id, doc_id AS _k FROM documents "
        "WHERE doc_id < 5"
    )
    _m6 = round6_ratio_sql("sum(CAST(v AS DECIMAL(27,6)))", "count(*)")

    def _px_stats_sql(px_sql: str, w: int) -> str:
        return f"""
        WITH px AS ({px_sql}),
        j AS (SELECT p.*, d.source FROM px p
              JOIN documents d ON d.doc_id = p.id)
        SELECT source, CAST(c AS BIGINT) AS c,
               CAST(count(*) AS BIGINT) AS n_px,
               CAST(min(v) AS BIGINT) AS v_min,
               CAST(max(v) AS BIGINT) AS v_max,
               {_m6} AS v_mean,
               CAST(sum(v * (y * {w} + x + 1)) AS BIGINT) AS checksum
        FROM j GROUP BY 1, 2
        """

    sqls["image_pixel_stats"] = _px_stats_sql(_px_base, 8)

    sqls["image_crop_stats"] = _px_stats_sql(
        f"""SELECT id, c, y - 2 AS y, x - 2 AS x, v
            FROM ({_px_base})
            WHERE y BETWEEN 2 AND 5 AND x BETWEEN 2 AND 5""", 4
    )

    sqls["image_downsample_box"] = _px_stats_sql(
        f"""SELECT id, c, y // 2 AS y, x // 2 AS x,
                   CAST(sum(v) AS BIGINT) // 4 AS v
            FROM ({_px_base})
            GROUP BY id, c, y // 2, x // 2""", 4
    )

    # WHT sign hash: separable +-1 integer transform, two 32-bit words
    _wht = f"""
        gray AS (SELECT id, y, x, CAST(sum(v) AS BIGINT) AS g
                 FROM px GROUP BY 1, 2, 3),
        txs AS (SELECT id, y, uu.u AS u,
                       CAST(sum(g * (1 - 2 * (bit_count(
                            CAST(x AS BIGINT) & CAST(uu.u AS BIGINT))
                            % 2))) AS BIGINT) AS t
                FROM gray,
                     (SELECT unnest(generate_series(0, 7)) AS u) uu
                GROUP BY 1, 2, 3),
        coef AS (SELECT id, vv.vr AS vr, u,
                        CAST(sum(t * (1 - 2 * (bit_count(
                             CAST(y AS BIGINT) & CAST(vv.vr AS BIGINT))
                             % 2))) AS BIGINT) AS coef
                 FROM txs,
                      (SELECT unnest(generate_series(0, 7)) AS vr) vv
                 GROUP BY 1, 2, 3),
        ph AS (SELECT id,
                 CAST(sum(CASE WHEN (vr * 8 + u) < 32 AND coef > 0
                          THEN (CAST(1 AS BIGINT) << (vr * 8 + u))
                          ELSE 0 END) AS BIGINT) AS phash_hi,
                 CAST(sum(CASE WHEN (vr * 8 + u) >= 32 AND coef > 0
                          THEN (CAST(1 AS BIGINT) << (vr * 8 + u - 32))
                          ELSE 0 END) AS BIGINT) AS phash_lo
               FROM coef GROUP BY 1)"""

    _wht_body = _wht.lstrip()

    sqls["image_phash_wht"] = f"""
        WITH px AS ({_px_base}), {_wht}
        SELECT id, phash_hi, phash_lo FROM ph
    """

    sqls["image_phash_neardup"] = f"""
        WITH px AS ({_px_clones}), {_wht},
        bands AS (
          SELECT id, phash_hi, phash_lo, 0 AS band_i,
                 phash_hi & 65535 AS band_v FROM ph
          UNION ALL SELECT id, phash_hi, phash_lo, 1,
                 (phash_hi >> 16) & 65535 FROM ph
          UNION ALL SELECT id, phash_hi, phash_lo, 2,
                 phash_lo & 65535 FROM ph
          UNION ALL SELECT id, phash_hi, phash_lo, 3,
                 (phash_lo >> 16) & 65535 FROM ph
        )
        SELECT DISTINCT l.id AS left_id, r.id AS right_id,
               CAST(bit_count(xor(l.phash_hi, r.phash_hi))
                    + bit_count(xor(l.phash_lo, r.phash_lo))
                    AS BIGINT) AS hamming
        FROM bands l JOIN bands r
          ON l.band_i = r.band_i AND l.band_v = r.band_v
         AND l.id < r.id
        WHERE bit_count(xor(l.phash_hi, r.phash_hi))
              + bit_count(xor(l.phash_lo, r.phash_lo)) <= 6
    """

    sqls["image_geometry_cert"] = f"""
        WITH px AS ({_px_base}),
        j AS (SELECT p.*, d.source FROM px p
              JOIN documents d ON d.doc_id = p.id),
        agg AS (
          SELECT source, CAST(c AS BIGINT) AS c,
                 CAST(sum(v * (y * 8 + x + 1)) AS BIGINT) AS chk_orig,
                 CAST(sum(v * (x * 8 + (7 - y) + 1)) AS BIGINT)
                   AS chk_rot1,
                 CAST(sum(v * (y * 8 + (7 - x) + 1)) AS BIGINT)
                   AS chk_flip
          FROM j GROUP BY 1, 2)
        SELECT source, c, chk_orig, chk_rot1, chk_flip,
               chk_orig = chk_orig AS rot4_identity,
               chk_orig = chk_orig AS flip2_identity
        FROM agg
    """

    sqls["image_patch_means"] = f"""
        WITH px AS ({_px_base})
        SELECT CAST(c AS BIGINT) AS c,
               CAST(y // 4 AS BIGINT) AS patch_y,
               CAST(x // 4 AS BIGINT) AS patch_x,
               CAST(count(*) AS BIGINT) AS n_px,
               {_m6} AS v_mean
        FROM px GROUP BY 1, 2, 3
    """

    sqls["image_dedup_exact"] = f"""
        WITH px AS ({_px_clones}),
        sigs AS (SELECT id,
                   md5(string_agg(CAST(v AS VARCHAR), ','
                       ORDER BY c, y, x)) AS img_sig
                 FROM px GROUP BY 1),
        per AS (SELECT img_sig, count(*) AS n_ids FROM sigs GROUP BY 1)
        SELECT CAST(count(*) AS BIGINT) AS n_sigs,
               CAST(sum(n_ids) AS BIGINT) AS n_images,
               CAST(sum(CASE WHEN n_ids > 1 THEN n_ids - 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_images,
               CAST(sum(CASE WHEN n_ids > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_groups
        FROM per
    """

    _vid_key = ("CAST(id AS VARCHAR) || ':' || CAST(ff.f AS VARCHAR)"
                " || ':' || CAST(xx.x AS VARCHAR)")
    _vid_cte = (
        f"SELECT doc_id AS id, ff.f AS f, xx.x AS x, "
        f"{hash_mod_sql('vid', _vid_key, 256)} AS v "
        f"FROM documents, "
        f"(SELECT unnest(generate_series(0, 11)) AS f) ff, "
        f"(SELECT unnest(generate_series(0, 15)) AS x) xx"
    )

    sqls["video_frame_stride"] = f"""
        WITH vt AS ({_vid_cte}),
        sampled AS (SELECT * FROM vt WHERE f % 3 = 0),
        j AS (SELECT sa.*, d.source FROM sampled sa
              JOIN documents d ON d.doc_id = sa.id)
        SELECT source,
               CAST(count(DISTINCT (id, f)) AS BIGINT) AS n_frames,
               CAST(sum(v * (x + 1) * (f + 1)) AS BIGINT) AS checksum
        FROM j GROUP BY 1
    """

    sqls["video_temporal_diff"] = f"""
        WITH vt AS ({_vid_cte}),
        lagd AS (SELECT id, x, f, v,
                        lag(v) OVER (PARTITION BY id, x ORDER BY f)
                          AS pv
                 FROM vt),
        d2 AS (SELECT id, abs(v - pv) AS ad FROM lagd
               WHERE pv IS NOT NULL),
        j AS (SELECT d2.*, d.source FROM d2
              JOIN documents d ON d.doc_id = d2.id)
        SELECT source, CAST(count(*) AS BIGINT) AS n_diffs,
               {round6_ratio_sql("sum(CAST(ad AS DECIMAL(27,6)))",
                                 "count(*)")} AS mean_abs_diff
        FROM j GROUP BY 1
    """

    _wav_key = "CAST(id AS VARCHAR) || ':' || CAST(tt.t AS VARCHAR)"
    _wav_cte = (
        f"SELECT doc_id AS id, tt.t AS t, "
        f"{hash_mod_sql('wav', _wav_key, 65536)} AS v "
        f"FROM documents, "
        f"(SELECT unnest(generate_series(0, 255)) AS t) tt"
    )

    sqls["audio_decimate"] = f"""
        WITH wt AS ({_wav_cte}),
        dec AS (SELECT id, t // 4 AS u,
                       CAST(sum(v) AS BIGINT) // 4 AS v
                FROM wt GROUP BY 1, 2),
        j AS (SELECT dec.*, d.source FROM dec
              JOIN documents d ON d.doc_id = dec.id)
        SELECT source, CAST(count(*) AS BIGINT) AS n_out,
               {_m6} AS v_mean,
               CAST(sum(v * (u + 1)) AS BIGINT) AS checksum
        FROM j GROUP BY 1
    """

    sqls["audio_level_hist"] = f"""
        WITH wt AS ({_wav_cte}),
        per AS (SELECT id,
                  (CAST(sum((v - 32768) * (v - 32768)) AS BIGINT) * 8)
                  // (count(*) * 1073741824) AS level
                FROM wt GROUP BY 1),
        j AS (SELECT per.*, d.source FROM per
              JOIN documents d ON d.doc_id = per.id)
        SELECT source, CAST(level AS BIGINT) AS level,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM j GROUP BY 1, 2
    """

    sqls["audio_silence_clipping"] = f"""
        WITH wt AS ({_wav_cte}),
        j AS (SELECT wt.*, d.source FROM wt
              JOIN documents d ON d.doc_id = wt.id),
        m AS (SELECT source,
                     CASE WHEN abs(v - 32768) < 8192 THEN 1 ELSE 0 END
                       AS sil,
                     CASE WHEN v < 256 OR v >= 65280 THEN 1 ELSE 0 END
                       AS clip
              FROM j)
        SELECT source, CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(sil) AS BIGINT) AS n_silent,
               CAST(sum(clip) AS BIGINT) AS n_clipped,
               {round6_ratio_sql("sum(CAST(sil AS DECIMAL(27,6)))",
                                 "count(*)")} AS silent_ratio,
               {round6_ratio_sql("sum(CAST(clip AS DECIMAL(27,6)))",
                                 "count(*)")} AS clipped_ratio
        FROM m GROUP BY 1
    """

    # ---- round-9 epilogue, second batch (r11 seeds) -------------------
    sqls["dedup_pair_degree_hist"] = f"""
        WITH {_minhash_bands_sql()},
        bsz AS (SELECT band_id, band_key, count(*) AS bn
                FROM bands GROUP BY 1, 2),
        bmin AS (SELECT band_id, band_key, min(doc_id) AS mn
                 FROM bands GROUP BY 1, 2),
        prs AS (SELECT DISTINCT id_a, id_b FROM (
                  SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a
                  JOIN bands b ON a.band_id = b.band_id
                              AND a.band_key = b.band_key
                              AND a.doc_id < b.doc_id
                  JOIN bsz s ON s.band_id = a.band_id
                            AND s.band_key = a.band_key
                  WHERE s.bn <= 512
                  UNION ALL
                  SELECT m.mn AS id_a, b.doc_id AS id_b
                  FROM bands b
                  JOIN bsz s ON s.band_id = b.band_id
                            AND s.band_key = b.band_key
                  JOIN bmin m ON m.band_id = b.band_id
                             AND m.band_key = b.band_key
                  WHERE s.bn > 512 AND b.doc_id <> m.mn)),
        deg AS (SELECT doc_id, count(*) AS degree FROM (
                  SELECT id_a AS doc_id FROM prs
                  UNION ALL SELECT id_b FROM prs) GROUP BY 1)
        SELECT CAST(degree AS BIGINT) AS degree,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM deg GROUP BY 1
    """

    sqls["order_worker_sweep"] = """
          SELECT CAST(4 AS BIGINT) AS n_workers,
                 CAST(worker_id AS BIGINT) AS worker_id, n_rows, weight,
                 (CASE WHEN CAST((CAST(weight * nw2 AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(weight * nw2 AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((tw) AS BIGINT)) // (2 * CAST((tw) AS BIGINT))) / 1000000.0) AS skew
          FROM (SELECT worker_id,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(sum(n_chars) AS BIGINT) AS weight
                FROM (SELECT (CAST('0x' || substring(
                        md5(concat('5', '-', CAST(doc_id AS VARCHAR))),
                        1, 6) AS BIGINT) % 4) AS worker_id, n_chars
                      FROM documents)
                GROUP BY 1) agg,
               (SELECT CAST(sum(n_chars) AS BIGINT) AS tw,
                       CAST(4 AS BIGINT) AS nw2 FROM documents) tot
        UNION ALL
          SELECT CAST(8 AS BIGINT) AS n_workers,
                 CAST(worker_id AS BIGINT) AS worker_id, n_rows, weight,
                 (CASE WHEN CAST((CAST(weight * nw2 AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(weight * nw2 AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((tw) AS BIGINT)) // (2 * CAST((tw) AS BIGINT))) / 1000000.0) AS skew
          FROM (SELECT worker_id,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(sum(n_chars) AS BIGINT) AS weight
                FROM (SELECT (CAST('0x' || substring(
                        md5(concat('5', '-', CAST(doc_id AS VARCHAR))),
                        1, 6) AS BIGINT) % 8) AS worker_id, n_chars
                      FROM documents)
                GROUP BY 1) agg,
               (SELECT CAST(sum(n_chars) AS BIGINT) AS tw,
                       CAST(8 AS BIGINT) AS nw2 FROM documents) tot
        UNION ALL
          SELECT CAST(16 AS BIGINT) AS n_workers,
                 CAST(worker_id AS BIGINT) AS worker_id, n_rows, weight,
                 (CASE WHEN CAST((CAST(weight * nw2 AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(weight * nw2 AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((tw) AS BIGINT)) // (2 * CAST((tw) AS BIGINT))) / 1000000.0) AS skew
          FROM (SELECT worker_id,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(sum(n_chars) AS BIGINT) AS weight
                FROM (SELECT (CAST('0x' || substring(
                        md5(concat('5', '-', CAST(doc_id AS VARCHAR))),
                        1, 6) AS BIGINT) % 16) AS worker_id, n_chars
                      FROM documents)
                GROUP BY 1) agg,
               (SELECT CAST(sum(n_chars) AS BIGINT) AS tw,
                       CAST(16 AS BIGINT) AS nw2 FROM documents) tot
    """

    sqls["profile_corr_matrix"] = """
          SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
                 CAST(n AS BIGINT) AS n,
                 round((sxy / n - (sx / n) * (sy / n))
                       / sqrt(greatest((sxx / n - (sx / n) * (sx / n))
                                       * (syy / n - (sy / n) * (sy / n)),
                                       1e-300)), 6) AS pearson_r
          FROM (SELECT count(*) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(27,6)))
                       AS DOUBLE) AS sxy,
                  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(27,6)))
                       AS DOUBLE) AS sxx,
                  CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(27,6)))
                       AS DOUBLE) AS syy
                FROM lineitem)
        UNION ALL
          SELECT 'l_quantity' AS col_x, 'l_discount' AS col_y,
                 CAST(n AS BIGINT) AS n,
                 round((sxy / n - (sx / n) * (sy / n))
                       / sqrt(greatest((sxx / n - (sx / n) * (sx / n))
                                       * (syy / n - (sy / n) * (sy / n)),
                                       1e-300)), 6) AS pearson_r
          FROM (SELECT count(*) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(l_discount AS DECIMAL(27,6))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(27,6)))
                       AS DOUBLE) AS sxy,
                  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(27,6)))
                       AS DOUBLE) AS sxx,
                  CAST(sum(CAST(l_discount * l_discount AS DECIMAL(27,6)))
                       AS DOUBLE) AS syy
                FROM lineitem)
        UNION ALL
          SELECT 'l_extendedprice' AS col_x, 'l_discount' AS col_y,
                 CAST(n AS BIGINT) AS n,
                 round((sxy / n - (sx / n) * (sy / n))
                       / sqrt(greatest((sxx / n - (sx / n) * (sx / n))
                                       * (syy / n - (sy / n) * (sy / n)),
                                       1e-300)), 6) AS pearson_r
          FROM (SELECT count(*) AS n,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(l_discount AS DECIMAL(27,6))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(27,6)))
                       AS DOUBLE) AS sxy,
                  CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(27,6)))
                       AS DOUBLE) AS sxx,
                  CAST(sum(CAST(l_discount * l_discount AS DECIMAL(27,6)))
                       AS DOUBLE) AS syy
                FROM lineitem)
    """

    sqls["audio_decimate_sweep"] = f"""
        WITH wt AS ({_wav_cte})
          SELECT CAST(2 AS BIGINT) AS factor,
                 CAST(count(*) AS BIGINT) AS n_out,
                 (CASE WHEN CAST((sum(CAST(v AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(v AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((count(*)) AS BIGINT)) // (2 * CAST((count(*)) AS BIGINT))) / 1000000.0)
                   AS v_mean,
                 CAST(sum(v * (u + 1)) AS BIGINT) AS checksum
          FROM (SELECT id, t // 2 AS u,
                       CAST(sum(v) AS BIGINT) // 2 AS v
                FROM wt GROUP BY 1, 2)
        UNION ALL
          SELECT CAST(4 AS BIGINT) AS factor,
                 CAST(count(*) AS BIGINT) AS n_out,
                 (CASE WHEN CAST((sum(CAST(v AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(v AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((count(*)) AS BIGINT)) // (2 * CAST((count(*)) AS BIGINT))) / 1000000.0)
                   AS v_mean,
                 CAST(sum(v * (u + 1)) AS BIGINT) AS checksum
          FROM (SELECT id, t // 4 AS u,
                       CAST(sum(v) AS BIGINT) // 4 AS v
                FROM wt GROUP BY 1, 2)
        UNION ALL
          SELECT CAST(8 AS BIGINT) AS factor,
                 CAST(count(*) AS BIGINT) AS n_out,
                 (CASE WHEN CAST((sum(CAST(v AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(v AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((count(*)) AS BIGINT)) // (2 * CAST((count(*)) AS BIGINT))) / 1000000.0)
                   AS v_mean,
                 CAST(sum(v * (u + 1)) AS BIGINT) AS checksum
          FROM (SELECT id, t // 8 AS u,
                       CAST(sum(v) AS BIGINT) // 8 AS v
                FROM wt GROUP BY 1, 2)
    """

    sqls["video_stride_sweep"] = f"""
        WITH vt AS ({_vid_cte})
          SELECT CAST(2 AS BIGINT) AS stride,
                 CAST(count(*) AS BIGINT) AS n_samples,
                 CAST(sum(v * (x + 1) * (f + 1)) AS BIGINT) AS checksum
          FROM vt WHERE f % 2 = 0
        UNION ALL
          SELECT CAST(3 AS BIGINT) AS stride,
                 CAST(count(*) AS BIGINT) AS n_samples,
                 CAST(sum(v * (x + 1) * (f + 1)) AS BIGINT) AS checksum
          FROM vt WHERE f % 3 = 0
        UNION ALL
          SELECT CAST(4 AS BIGINT) AS stride,
                 CAST(count(*) AS BIGINT) AS n_samples,
                 CAST(sum(v * (x + 1) * (f + 1)) AS BIGINT) AS checksum
          FROM vt WHERE f % 4 = 0
    """

    # ---- round-9 epilogue (r11 seeds) --------------------------------
    sqls["image_min_dims_screen"] = """
        WITH meta AS (SELECT doc_id AS id, ((CAST('0x' || substring(md5(concat('dimw', '-', CAST(doc_id AS VARCHAR))), 1, 13) AS BIGINT) % 56)) + 8 AS w, ((CAST('0x' || substring(md5(concat('dimh', '-', CAST(doc_id AS VARCHAR))), 1, 13) AS BIGINT) % 56)) + 8 AS h, 3 AS c FROM documents),
        scr AS (SELECT id, w, h,
                  (h >= 16 AND w >= 16) AS pass_dims,
                  (h < 16) AS fail_h, (w < 16) AS fail_w,
                  greatest((16 + h - 1) // h, (16 + w - 1) // w, 1)
                    AS upscale_num
                FROM meta),
        j AS (SELECT scr.*, d.source FROM scr
              JOIN documents d ON d.doc_id = scr.id)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_images,
               CAST(sum(CASE WHEN NOT pass_dims THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_fail,
               CAST(sum(CASE WHEN fail_h THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_fail_h,
               CAST(sum(CASE WHEN fail_w THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_fail_w,
               CAST(max(upscale_num) AS BIGINT) AS max_upscale,
               (CASE WHEN CAST((sum(CAST(CASE WHEN pass_dims THEN 1 ELSE 0 END AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(CASE WHEN pass_dims THEN 1 ELSE 0 END AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((count(*)) AS BIGINT)) // (2 * CAST((count(*)) AS BIGINT))) / 1000000.0)
                 AS pass_rate
        FROM j GROUP BY 1
    
    """

    sqls["image_aspect_buckets"] = """
        WITH meta AS (SELECT doc_id AS id, ((CAST('0x' || substring(md5(concat('dimw', '-', CAST(doc_id AS VARCHAR))), 1, 13) AS BIGINT) % 56)) + 8 AS w, ((CAST('0x' || substring(md5(concat('dimh', '-', CAST(doc_id AS VARCHAR))), 1, 13) AS BIGINT) % 56)) + 8 AS h, 3 AS c FROM documents),
        cl AS (SELECT id,
                 CASE WHEN (w * 100) // h < 75 THEN 'tall'
                      WHEN (w * 100) // h <= 133 THEN 'square'
                      ELSE 'wide' END AS aspect_class
               FROM meta),
        j AS (SELECT cl.*, d.source FROM cl
              JOIN documents d ON d.doc_id = cl.id)
        SELECT source, aspect_class,
               CAST(count(*) AS BIGINT) AS n_images
        FROM j GROUP BY 1, 2
    
    """

    sqls["image_bytes_estimate"] = """
        WITH meta AS (SELECT doc_id AS id, ((CAST('0x' || substring(md5(concat('dimw', '-', CAST(doc_id AS VARCHAR))), 1, 13) AS BIGINT) % 56)) + 8 AS w, ((CAST('0x' || substring(md5(concat('dimh', '-', CAST(doc_id AS VARCHAR))), 1, 13) AS BIGINT) % 56)) + 8 AS h, 3 AS c FROM documents),
        j AS (SELECT meta.c * meta.h * meta.w AS b, d.source
              FROM meta JOIN documents d ON d.doc_id = meta.id)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_images,
               CAST(sum(b) AS BIGINT) AS total_bytes,
               (CASE WHEN CAST((sum(CAST(b AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(b AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((count(*)) AS BIGINT)) // (2 * CAST((count(*)) AS BIGINT))) / 1000000.0)
                 AS mean_bytes
        FROM j GROUP BY 1
    
    """

    sqls["profile_numeric_moments"] = """
          SELECT 'l_extendedprice' AS "column", CAST(n AS BIGINT) AS n,
                 round(mu, 6) AS mean,
                 round(sqrt(greatest(m2, 0.0)), 6) AS stddev,
                 round(m3 / sqrt(greatest(m2 * m2 * m2, 1e-300)), 6)
                   AS skewness,
                 round(m4 / greatest(m2 * m2, 1e-300)
                       - CAST(3.0 AS DOUBLE), 6) AS excess_kurtosis
          FROM (
            SELECT n, mu,
                   e2 - mu * mu AS m2,
                   e3 - CAST(3.0 AS DOUBLE) * mu * e2
                      + CAST(2.0 AS DOUBLE) * mu * mu * mu AS m3,
                   e4 - CAST(4.0 AS DOUBLE) * mu * e3
                      + CAST(6.0 AS DOUBLE) * mu * mu * e2
                      - CAST(3.0 AS DOUBLE) * mu * mu * mu * mu AS m4
            FROM (
              SELECT n, s1 / CAST(n AS DOUBLE) AS mu,
                     s2 / CAST(n AS DOUBLE) AS e2,
                     s3 / CAST(n AS DOUBLE) AS e3,
                     s4 / CAST(n AS DOUBLE) AS e4
              FROM (
                SELECT count(*) AS n,
                  CAST(sum(CAST(CAST(l_extendedprice AS DOUBLE) AS DECIMAL(38,4))) AS DOUBLE) AS s1,
                  CAST(sum(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE) AS DECIMAL(38,4)))
                       AS DOUBLE) AS s2,
                  CAST(sum(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE) AS DECIMAL(38,4)))
                       AS DOUBLE) AS s3,
                  CAST(sum(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)
                            AS DECIMAL(38,4))) AS DOUBLE) AS s4
                FROM lineitem WHERE l_extendedprice IS NOT NULL)))
        UNION ALL
          SELECT 'o_totalprice' AS "column", CAST(n AS BIGINT) AS n,
                 round(mu, 6) AS mean,
                 round(sqrt(greatest(m2, 0.0)), 6) AS stddev,
                 round(m3 / sqrt(greatest(m2 * m2 * m2, 1e-300)), 6)
                   AS skewness,
                 round(m4 / greatest(m2 * m2, 1e-300)
                       - CAST(3.0 AS DOUBLE), 6) AS excess_kurtosis
          FROM (
            SELECT n, mu,
                   e2 - mu * mu AS m2,
                   e3 - CAST(3.0 AS DOUBLE) * mu * e2
                      + CAST(2.0 AS DOUBLE) * mu * mu * mu AS m3,
                   e4 - CAST(4.0 AS DOUBLE) * mu * e3
                      + CAST(6.0 AS DOUBLE) * mu * mu * e2
                      - CAST(3.0 AS DOUBLE) * mu * mu * mu * mu AS m4
            FROM (
              SELECT n, s1 / CAST(n AS DOUBLE) AS mu,
                     s2 / CAST(n AS DOUBLE) AS e2,
                     s3 / CAST(n AS DOUBLE) AS e3,
                     s4 / CAST(n AS DOUBLE) AS e4
              FROM (
                SELECT count(*) AS n,
                  CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(38,4))) AS DOUBLE) AS s1,
                  CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) * CAST(o_totalprice AS DOUBLE) AS DECIMAL(38,4)))
                       AS DOUBLE) AS s2,
                  CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) * CAST(o_totalprice AS DOUBLE) * CAST(o_totalprice AS DOUBLE) AS DECIMAL(38,4)))
                       AS DOUBLE) AS s3,
                  CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) * CAST(o_totalprice AS DOUBLE) * CAST(o_totalprice AS DOUBLE) * CAST(o_totalprice AS DOUBLE)
                            AS DECIMAL(38,4))) AS DOUBLE) AS s4
                FROM orders WHERE o_totalprice IS NOT NULL)))
        UNION ALL
          SELECT 'value' AS "column", CAST(n AS BIGINT) AS n,
                 round(mu, 6) AS mean,
                 round(sqrt(greatest(m2, 0.0)), 6) AS stddev,
                 round(m3 / sqrt(greatest(m2 * m2 * m2, 1e-300)), 6)
                   AS skewness,
                 round(m4 / greatest(m2 * m2, 1e-300)
                       - CAST(3.0 AS DOUBLE), 6) AS excess_kurtosis
          FROM (
            SELECT n, mu,
                   e2 - mu * mu AS m2,
                   e3 - CAST(3.0 AS DOUBLE) * mu * e2
                      + CAST(2.0 AS DOUBLE) * mu * mu * mu AS m3,
                   e4 - CAST(4.0 AS DOUBLE) * mu * e3
                      + CAST(6.0 AS DOUBLE) * mu * mu * e2
                      - CAST(3.0 AS DOUBLE) * mu * mu * mu * mu AS m4
            FROM (
              SELECT n, s1 / CAST(n AS DOUBLE) AS mu,
                     s2 / CAST(n AS DOUBLE) AS e2,
                     s3 / CAST(n AS DOUBLE) AS e3,
                     s4 / CAST(n AS DOUBLE) AS e4
              FROM (
                SELECT count(*) AS n,
                  CAST(sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(38,4))) AS DOUBLE) AS s1,
                  CAST(sum(CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE) AS DECIMAL(38,4)))
                       AS DOUBLE) AS s2,
                  CAST(sum(CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE) * CAST(value AS DOUBLE) AS DECIMAL(38,4)))
                       AS DOUBLE) AS s3,
                  CAST(sum(CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE) * CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                            AS DECIMAL(38,4))) AS DOUBLE) AS s4
                FROM events WHERE value IS NOT NULL)))
    """

    sqls["text_novelty_by_decile"] = f"""
        WITH p AS (SELECT doc_id, text, row_number() OVER (ORDER BY md5(concat('7', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents),
        tot AS (SELECT count(*) AS nn FROM documents),
        dd AS (SELECT doc_id, text,
                      (pos * 10) // nn AS dec
               FROM p, tot),
        g AS (SELECT DISTINCT dec,
                unnest(CASE WHEN len(w) >= 3 THEN
                  list_transform(generate_series(1, len(w) - 2),
                    i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
                ELSE [] END) AS gram
              FROM (SELECT dec, {w} AS w FROM dd)),
        fg AS (SELECT gram, min(dec) AS first_dec FROM g GROUP BY 1),
        per AS (SELECT g.dec AS decile,
                       CAST(count(*) AS BIGINT) AS n_distinct_grams,
                       CAST(sum(CASE WHEN g.dec = fg.first_dec
                                THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_new_grams
                FROM g JOIN fg USING (gram) GROUP BY 1)
        SELECT CAST(decile AS BIGINT) AS decile, n_distinct_grams,
               n_new_grams,
               (CASE WHEN CAST((CAST(n_new_grams AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(n_new_grams AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((n_distinct_grams) AS BIGINT)) // (2 * CAST((n_distinct_grams) AS BIGINT))) / 1000000.0) AS novelty_rate
        FROM per
    
    """

    # ---- round-9 late additions ------------------------------------
    sqls["image_histogram16"] = f"""
        WITH px AS ({_px_base})
        SELECT CAST(c AS BIGINT) AS c, CAST(v // 16 AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_px
        FROM px GROUP BY 1, 2
    
    """

    sqls["video_scene_cuts"] = f"""
        WITH vt AS ({_vid_cte}),
        lagd AS (SELECT id, f, x, v,
                        lag(v) OVER (PARTITION BY id, x ORDER BY f) AS pv
                 FROM vt),
        sad AS (SELECT id, f, sum(abs(v - pv)) AS sad
                FROM lagd WHERE pv IS NOT NULL GROUP BY 1, 2),
        per AS (SELECT id,
                       CAST(count(*) AS BIGINT) AS nt,
                       CAST(sum(CASE WHEN sad > 1360 THEN 1 ELSE 0 END)
                            AS BIGINT) AS nc
                FROM sad GROUP BY 1),
        j AS (SELECT per.*, d.source FROM per
              JOIN documents d ON d.doc_id = per.id)
        SELECT source,
               CAST(sum(nt) AS BIGINT) AS n_transitions,
               CAST(sum(nc) AS BIGINT) AS n_cuts,
               (CASE WHEN CAST((sum(CAST(nc AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(nc AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((sum(nt)) AS BIGINT)) // (2 * CAST((sum(nt)) AS BIGINT))) / 1000000.0)
                 AS cut_rate
        FROM j GROUP BY 1
    
    """

    sqls["audio_peak_windows"] = f"""
        WITH wt AS ({_wav_cte}),
        per_win AS (SELECT id, t // 32 AS w, max(v) AS mx
                    FROM wt GROUP BY 1, 2),
        per AS (SELECT id,
                       CAST(count(*) AS BIGINT) AS nw,
                       CAST(sum(CASE WHEN mx >= 65000 THEN 1 ELSE 0 END)
                            AS BIGINT) AS np
                FROM per_win GROUP BY 1),
        j AS (SELECT per.*, d.source FROM per
              JOIN documents d ON d.doc_id = per.id)
        SELECT source,
               CAST(sum(nw) AS BIGINT) AS n_windows,
               CAST(sum(np) AS BIGINT) AS n_peak,
               (CASE WHEN CAST((sum(CAST(np AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(np AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((sum(nw)) AS BIGINT)) // (2 * CAST((sum(nw)) AS BIGINT))) / 1000000.0)
                 AS peak_rate
        FROM j GROUP BY 1
    
    """

    sqls["text_pii_by_source"] = r"""
        WITH inj AS (
          SELECT doc_id, source,
                 CASE WHEN doc_id % 5 = 0 THEN
                   concat(text, ' reach me at user',
                          CAST(doc_id AS VARCHAR),
                          '@example.com or call 555-123-4567 from 10.0.0.',
                          CAST(doc_id % 256 AS VARCHAR))
                 ELSE text END AS text
          FROM documents
        ),
        r1 AS (SELECT doc_id, source, len(text) AS nch,
                      CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                           AS BIGINT) AS ne,
                      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
               FROM inj),
        r2 AS (SELECT doc_id, source, nch, ne,
                      CAST(len(regexp_extract_all(t1, '\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}'))
                           AS BIGINT) AS np,
                      regexp_replace(t1, '\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g') AS t2
               FROM r1),
        r3 AS (SELECT doc_id, source, nch, ne, np,
                      CAST(len(regexp_extract_all(t2, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
                           AS BIGINT) AS ni
               FROM r2)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs_with_pii,
               CAST(sum(ne) AS BIGINT) AS n_email,
               CAST(sum(np) AS BIGINT) AS n_phone,
               CAST(sum(ni) AS BIGINT) AS n_ipv4,
               (CASE WHEN CAST((sum(CAST((ne + np + ni) * 1000 AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST((ne + np + ni) * 1000 AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((sum(nch)) AS BIGINT)) // (2 * CAST((sum(nch)) AS BIGINT))) / 1000000.0) AS pii_per_kchar
        FROM r3 GROUP BY 1
    
    """

    sqls["order_curriculum_stability"] = """
          SELECT 'curriculum' AS regime,
                 CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k,
                 CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_overlap,
                 (CASE WHEN CAST((CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((max(k)) AS BIGINT)) // (2 * CAST((max(k)) AS BIGINT))) / 1000000.0)
                   AS overlap_rate
          FROM (SELECT a.pos AS pa, b.pos AS pb
                FROM (SELECT doc_id, row_number() OVER (ORDER BY n_chars, md5(concat('7', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) a JOIN (SELECT doc_id, row_number() OVER (ORDER BY n_chars, md5(concat('8', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) b USING (doc_id)),
               (SELECT count(*) AS n, count(*) // 10 AS k
                FROM documents)
        UNION ALL
          SELECT 'shuffled' AS regime,
                 CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k,
                 CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_overlap,
                 (CASE WHEN CAST((CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((max(k)) AS BIGINT)) // (2 * CAST((max(k)) AS BIGINT))) / 1000000.0)
                   AS overlap_rate
          FROM (SELECT a.pos AS pa, b.pos AS pb
                FROM (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('7', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) a JOIN (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('8', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) b USING (doc_id)),
               (SELECT count(*) AS n, count(*) // 10 AS k
                FROM documents)
    """

    sqls["order_resume_tail_mix"] = """
        WITH p AS (SELECT d.source, q.pos
                   FROM (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('7', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) q JOIN documents d USING (doc_id)),
        tot AS (SELECT count(*) // 2 AS half FROM p),
        agg AS (SELECT source,
                       CAST(count(*) AS BIGINT) AS n_total,
                       CAST(sum(CASE WHEN pos >= half THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_remaining
                FROM p, tot GROUP BY 1),
        tails AS (SELECT CAST(sum(n_total) AS BIGINT) AS nt,
                         CAST(sum(n_remaining) AS BIGINT) AS nr FROM agg)
        SELECT source, n_total, n_remaining,
               (CASE WHEN CAST((CAST(n_remaining AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(n_remaining AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((nr) AS BIGINT)) // (2 * CAST((nr) AS BIGINT))) / 1000000.0)
                 AS share_remaining,
               (CASE WHEN CAST((CAST(n_total AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(n_total AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((nt) AS BIGINT)) // (2 * CAST((nt) AS BIGINT))) / 1000000.0)
                 AS corpus_share
        FROM agg, tails
    
    """

    sqls["profile_row_width"] = """
        SELECT 'documents' AS "table",
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(len(text) + len(lang) + len(source) + 16)
                    AS BIGINT) AS total_bytes,
               (CASE WHEN CAST((sum(CAST(len(text) + len(lang) + len(source) + 16 AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(len(text) + len(lang) + len(source) + 16 AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((count(*)) AS BIGINT)) // (2 * CAST((count(*)) AS BIGINT))) / 1000000.0)
                 AS mean_row_bytes
        FROM documents
        UNION ALL
        SELECT 'orders',
               CAST(count(*) AS BIGINT),
               CAST(sum(len(o_orderstatus) + len(o_orderpriority) + 28)
                    AS BIGINT),
               (CASE WHEN CAST((sum(CAST(len(o_orderstatus) + len(o_orderpriority) + 28 AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(len(o_orderstatus) + len(o_orderpriority) + 28 AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((count(*)) AS BIGINT)) // (2 * CAST((count(*)) AS BIGINT))) / 1000000.0)
        FROM orders
    
    """

    sqls["image_dedup_pipeline"] = f"""
        WITH px AS ({_px_clones}),
        sigs AS (SELECT id,
                   md5(string_agg(CAST(v AS VARCHAR), ','
                       ORDER BY c, y, x)) AS img_sig
                 FROM px GROUP BY 1),
        per AS (SELECT img_sig, count(*) AS n_ids FROM sigs GROUP BY 1),
        ex AS (SELECT CAST(sum(n_ids) AS BIGINT) AS n_images,
                      CAST(sum(CASE WHEN n_ids > 1 THEN n_ids - 1
                               ELSE 0 END) AS BIGINT) AS n_exact
               FROM per),
        {_wht_body},
        bands AS (
          SELECT id, phash_hi, phash_lo, 0 AS band_i,
                 phash_hi & 65535 AS band_v FROM ph
          UNION ALL SELECT id, phash_hi, phash_lo, 1,
                 (phash_hi >> 16) & 65535 FROM ph
          UNION ALL SELECT id, phash_hi, phash_lo, 2,
                 phash_lo & 65535 FROM ph
          UNION ALL SELECT id, phash_hi, phash_lo, 3,
                 (phash_lo >> 16) & 65535 FROM ph
        ),
        np AS (SELECT CAST(count(*) AS BIGINT) AS n_near FROM (
          SELECT DISTINCT l.id AS li, r.id AS ri
          FROM bands l JOIN bands r
            ON l.band_i = r.band_i AND l.band_v = r.band_v
           AND l.id < r.id
          WHERE bit_count(xor(l.phash_hi, r.phash_hi))
                + bit_count(xor(l.phash_lo, r.phash_lo)) <= 6))
        SELECT 'images' AS stage, n_images AS n FROM ex
        UNION ALL SELECT 'exact_dups', n_exact FROM ex
        UNION ALL SELECT 'near_dup_pairs', n_near FROM np
        UNION ALL SELECT 'kept', n_images - n_exact FROM ex
    
    """

    sqls["audio_decimate_cascade"] = f"""
        WITH wt AS ({_wav_cte}),
        d2 AS (SELECT id, t // 2 AS t2,
                      CAST(sum(v) AS BIGINT) // 2 AS v
               FROM wt GROUP BY 1, 2),
        d22 AS (SELECT id, t2 // 2 AS u,
                       CAST(sum(v) AS BIGINT) // 2 AS v2
                FROM d2 GROUP BY 1, 2),
        d4 AS (SELECT id, t // 4 AS u,
                      CAST(sum(v) AS BIGINT) // 4 AS v4
               FROM wt GROUP BY 1, 2),
        j AS (SELECT a.id, a.u, a.v2, b.v4
              FROM d22 a JOIN d4 b USING (id, u)),
        jj AS (SELECT j.*, d.source FROM j
               JOIN documents d ON d.doc_id = j.id)
        SELECT source, CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(CASE WHEN v2 = v4 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_agree,
               CAST(max(abs(v2 - v4)) AS BIGINT) AS max_abs_diff
        FROM jj GROUP BY 1
    """

    # ---- round-9 training-order certificates (schemes.py r9) -------
    sqls["order_epoch_overlap"] = """
          SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k,
                 CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_overlap,
                 (CASE WHEN CAST((CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((max(k)) AS BIGINT)) // (2 * CAST((max(k)) AS BIGINT))) / 1000000.0)
                   AS overlap_rate,
                 (CASE WHEN CAST((CAST(max(k) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(max(k) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((max(n)) AS BIGINT)) // (2 * CAST((max(n)) AS BIGINT))) / 1000000.0)
                   AS expected_rate,
                 (CASE WHEN CAST((sum(CAST(abs(pa - pb) AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(abs(pa - pb) AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((count(*)) AS BIGINT)) // (2 * CAST((count(*)) AS BIGINT))) / 1000000.0)
                   AS mean_abs_disp
          FROM (SELECT a.pos AS pa, b.pos AS pb
                FROM (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('7', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) a JOIN (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('8', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) b
                USING (doc_id)),
               (SELECT count(*) AS n, count(*) // 10 AS k
                FROM documents)
    """

    sqls["order_seed_overlap_sweep"] = """
          SELECT '7-8' AS seed_pair, * FROM (
          SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k,
                 CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_overlap,
                 (CASE WHEN CAST((CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((max(k)) AS BIGINT)) // (2 * CAST((max(k)) AS BIGINT))) / 1000000.0)
                   AS overlap_rate,
                 (CASE WHEN CAST((CAST(max(k) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(max(k) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((max(n)) AS BIGINT)) // (2 * CAST((max(n)) AS BIGINT))) / 1000000.0)
                   AS expected_rate,
                 (CASE WHEN CAST((sum(CAST(abs(pa - pb) AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(abs(pa - pb) AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((count(*)) AS BIGINT)) // (2 * CAST((count(*)) AS BIGINT))) / 1000000.0)
                   AS mean_abs_disp
          FROM (SELECT a.pos AS pa, b.pos AS pb
                FROM (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('7', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) a JOIN (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('8', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) b
                USING (doc_id)),
               (SELECT count(*) AS n, count(*) // 10 AS k
                FROM documents))
        UNION ALL
          SELECT '7-9' AS seed_pair, * FROM (
          SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k,
                 CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_overlap,
                 (CASE WHEN CAST((CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((max(k)) AS BIGINT)) // (2 * CAST((max(k)) AS BIGINT))) / 1000000.0)
                   AS overlap_rate,
                 (CASE WHEN CAST((CAST(max(k) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(max(k) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((max(n)) AS BIGINT)) // (2 * CAST((max(n)) AS BIGINT))) / 1000000.0)
                   AS expected_rate,
                 (CASE WHEN CAST((sum(CAST(abs(pa - pb) AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(abs(pa - pb) AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((count(*)) AS BIGINT)) // (2 * CAST((count(*)) AS BIGINT))) / 1000000.0)
                   AS mean_abs_disp
          FROM (SELECT a.pos AS pa, b.pos AS pb
                FROM (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('7', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) a JOIN (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('9', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) b
                USING (doc_id)),
               (SELECT count(*) AS n, count(*) // 10 AS k
                FROM documents))
        UNION ALL
          SELECT '8-9' AS seed_pair, * FROM (
          SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k,
                 CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_overlap,
                 (CASE WHEN CAST((CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(sum(CASE WHEN pa < k AND pb < k THEN 1 ELSE 0 END) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((max(k)) AS BIGINT)) // (2 * CAST((max(k)) AS BIGINT))) / 1000000.0)
                   AS overlap_rate,
                 (CASE WHEN CAST((CAST(max(k) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(max(k) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((max(n)) AS BIGINT)) // (2 * CAST((max(n)) AS BIGINT))) / 1000000.0)
                   AS expected_rate,
                 (CASE WHEN CAST((sum(CAST(abs(pa - pb) AS DECIMAL(27,6)))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((sum(CAST(abs(pa - pb) AS DECIMAL(27,6)))) * 1000000 AS BIGINT)) + CAST((count(*)) AS BIGINT)) // (2 * CAST((count(*)) AS BIGINT))) / 1000000.0)
                   AS mean_abs_disp
          FROM (SELECT a.pos AS pa, b.pos AS pb
                FROM (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('8', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) a JOIN (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('9', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) b
                USING (doc_id)),
               (SELECT count(*) AS n, count(*) // 10 AS k
                FROM documents))
    """

    sqls["order_batch_mix"] = """
        WITH p AS (SELECT d.source, q.pos // 25 AS batch_id
                   FROM (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('7', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) q
                   JOIN documents d USING (doc_id)),
        per AS (SELECT batch_id, count(DISTINCT source) AS ng
                FROM p GROUP BY 1)
        SELECT CAST(ng AS BIGINT) AS n_distinct_groups,
               CAST(count(*) AS BIGINT) AS n_batches
        FROM per GROUP BY 1
    
    """

    sqls["order_position_decorrelation"] = """
        WITH a AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1
                          AS ra FROM documents),
        b AS ((SELECT doc_id, row_number() OVER (ORDER BY md5(concat('7', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents)),
        j AS (SELECT ra, b.pos AS rb FROM a JOIN b USING (doc_id)),
        red AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CAST((ra - rb) * (ra - rb)
                                AS DECIMAL(38,0))) AS BIGINT) AS s
                FROM j)
        SELECT n, s AS sum_d2,
               round(1 - (6.0 * CAST(s AS DOUBLE))
                     / (CAST(n AS DOUBLE)
                        * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1)),
                     6) AS rho
        FROM red
    
    """

    sqls["order_stride_coverage"] = """
        WITH p AS (SELECT d.source, q.pos
                   FROM (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('7', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents) q JOIN documents d USING (doc_id)),
        agg AS (SELECT source,
                       CAST(count(*) AS BIGINT) AS n_total,
                       CAST(sum(CASE WHEN pos % 7 = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_sampled
                FROM p GROUP BY 1),
        tot AS (SELECT CAST(sum(n_total) AS BIGINT) AS nt,
                       CAST(sum(n_sampled) AS BIGINT) AS ns FROM agg)
        SELECT source, n_total, n_sampled,
               (CASE WHEN CAST((CAST(n_sampled AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(n_sampled AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((ns) AS BIGINT)) // (2 * CAST((ns) AS BIGINT))) / 1000000.0)
                 AS share_sampled,
               (CASE WHEN CAST((CAST(n_total AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(n_total AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((nt) AS BIGINT)) // (2 * CAST((nt) AS BIGINT))) / 1000000.0)
                 AS corpus_share
        FROM agg, tot
    
    """

    sqls["order_epoch_batch_churn"] = """
        WITH a AS (SELECT doc_id, pos // 25 AS ba FROM (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('7', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents)),
        b AS (SELECT doc_id, pos // 25 AS bb FROM (SELECT doc_id, row_number() OVER (ORDER BY md5(concat('8', '-', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS pos FROM documents)),
        d AS (SELECT abs(ba - bb) AS dd FROM a JOIN b USING (doc_id))
        SELECT CASE WHEN dd = 0 THEN '0'
                    WHEN dd <= 3 THEN '1-3'
                    WHEN dd <= 10 THEN '4-10'
                    ELSE '>10' END AS churn_bucket,
               CAST(count(*) AS BIGINT) AS n_examples
        FROM d GROUP BY 1
    
    """

    sqls["order_worker_token_balance"] = """
        WITH w AS (SELECT (CAST('0x' || substring(
                     md5(concat('5', '-', CAST(doc_id AS VARCHAR))), 1, 6)
                     AS BIGINT) % 8) AS worker_id,
                   n_chars
                   FROM documents),
        agg AS (SELECT worker_id,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(sum(n_chars) AS BIGINT) AS weight
                FROM w GROUP BY 1),
        tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw,
                       CAST(count(*) AS BIGINT) AS nw FROM agg)
        SELECT CAST(worker_id AS BIGINT) AS worker_id, n_rows, weight,
               (CASE WHEN CAST((CAST(weight * nw AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(weight * nw AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((tw) AS BIGINT)) // (2 * CAST((tw) AS BIGINT))) / 1000000.0) AS skew
        FROM agg, tot
    
    """

    sqls["order_interleave_proportionality"] = """
        WITH sub AS (SELECT doc_id, source FROM documents
                     WHERE source IN ('src0', 'src1', 'src2')),
        sp AS (SELECT doc_id, source,
                      row_number() OVER (PARTITION BY source
                        ORDER BY md5(concat('42', '-',
                                            CAST(doc_id AS VARCHAR))),
                                 doc_id) - 1 AS src_pos
               FROM sub),
        vt AS (SELECT doc_id, source,
                      round((src_pos + 1) / (CASE WHEN source = 'src0' THEN CAST(0.5 AS DOUBLE) WHEN source = 'src1' THEN CAST(0.3 AS DOUBLE) WHEN source = 'src2' THEN CAST(0.2 AS DOUBLE) END), 9) AS vt
               FROM sp),
        g AS (SELECT doc_id, source,
                     row_number() OVER (ORDER BY vt, source, doc_id) - 1
                       AS global_pos
              FROM vt),
        tgt(prefix, source, target) AS (VALUES (50, 'src0', CAST(25.0 AS DOUBLE)), (50, 'src1', CAST(15.0 AS DOUBLE)), (50, 'src2', CAST(10.0 AS DOUBLE)), (100, 'src0', CAST(50.0 AS DOUBLE)), (100, 'src1', CAST(30.0 AS DOUBLE)), (100, 'src2', CAST(20.0 AS DOUBLE)), (200, 'src0', CAST(100.0 AS DOUBLE)), (200, 'src1', CAST(60.0 AS DOUBLE)), (200, 'src2', CAST(40.0 AS DOUBLE))),
        act AS (SELECT t.prefix, g.source,
                       CAST(count(*) AS BIGINT) AS n_actual
                FROM g JOIN (SELECT DISTINCT prefix FROM tgt) t
                  ON g.global_pos < t.prefix
                GROUP BY 1, 2)
        SELECT CAST(a.prefix AS BIGINT) AS prefix, a.source, a.n_actual,
               t.target,
               round(abs(CAST(a.n_actual AS DOUBLE) - t.target), 6)
                 AS abs_dev
        FROM act a JOIN tgt t ON a.prefix = t.prefix
                            AND a.source = t.source
    
    """

    # ---- round-9 catalog profiling (ops/profile.py r9 section) -----
    sqls["profile_top_values"] = """
          SELECT 'lineitem' AS "table", 'l_returnflag' AS "column",
                 value, cnt, CAST(rnk AS BIGINT) AS rnk
          FROM (SELECT CAST(l_returnflag AS VARCHAR) AS value,
                       CAST(count(*) AS BIGINT) AS cnt,
                       row_number() OVER (ORDER BY count(*) DESC,
                                          CAST(l_returnflag AS VARCHAR) ASC)
                         AS rnk
                FROM lineitem GROUP BY 1)
          WHERE rnk <= 3
        UNION ALL
          SELECT 'lineitem' AS "table", 'l_linestatus' AS "column",
                 value, cnt, CAST(rnk AS BIGINT) AS rnk
          FROM (SELECT CAST(l_linestatus AS VARCHAR) AS value,
                       CAST(count(*) AS BIGINT) AS cnt,
                       row_number() OVER (ORDER BY count(*) DESC,
                                          CAST(l_linestatus AS VARCHAR) ASC)
                         AS rnk
                FROM lineitem GROUP BY 1)
          WHERE rnk <= 3
        UNION ALL
          SELECT 'lineitem' AS "table", 'l_shipdate' AS "column",
                 value, cnt, CAST(rnk AS BIGINT) AS rnk
          FROM (SELECT CAST(l_shipdate AS VARCHAR) AS value,
                       CAST(count(*) AS BIGINT) AS cnt,
                       row_number() OVER (ORDER BY count(*) DESC,
                                          CAST(l_shipdate AS VARCHAR) ASC)
                         AS rnk
                FROM lineitem GROUP BY 1)
          WHERE rnk <= 3
        UNION ALL
          SELECT 'orders' AS "table", 'o_orderstatus' AS "column",
                 value, cnt, CAST(rnk AS BIGINT) AS rnk
          FROM (SELECT CAST(o_orderstatus AS VARCHAR) AS value,
                       CAST(count(*) AS BIGINT) AS cnt,
                       row_number() OVER (ORDER BY count(*) DESC,
                                          CAST(o_orderstatus AS VARCHAR) ASC)
                         AS rnk
                FROM orders GROUP BY 1)
          WHERE rnk <= 3
        UNION ALL
          SELECT 'orders' AS "table", 'o_orderpriority' AS "column",
                 value, cnt, CAST(rnk AS BIGINT) AS rnk
          FROM (SELECT CAST(o_orderpriority AS VARCHAR) AS value,
                       CAST(count(*) AS BIGINT) AS cnt,
                       row_number() OVER (ORDER BY count(*) DESC,
                                          CAST(o_orderpriority AS VARCHAR) ASC)
                         AS rnk
                FROM orders GROUP BY 1)
          WHERE rnk <= 3
        UNION ALL
          SELECT 'events' AS "table", 'event_type' AS "column",
                 value, cnt, CAST(rnk AS BIGINT) AS rnk
          FROM (SELECT CAST(event_type AS VARCHAR) AS value,
                       CAST(count(*) AS BIGINT) AS cnt,
                       row_number() OVER (ORDER BY count(*) DESC,
                                          CAST(event_type AS VARCHAR) ASC)
                         AS rnk
                FROM events GROUP BY 1)
          WHERE rnk <= 3
    """

    sqls["profile_fd_audit"] = """
          SELECT 'li_orderkey_to_shipdate' AS rule,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_violating_keys,
                 CAST(max(nv) AS BIGINT) AS max_rhs_variants,
                 sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0 AS holds
          FROM (SELECT l_orderkey, count(DISTINCT l_shipdate) AS nv
                FROM lineitem GROUP BY 1)
        UNION ALL
          SELECT 'li_orderkey_to_suppkey' AS rule,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_violating_keys,
                 CAST(max(nv) AS BIGINT) AS max_rhs_variants,
                 sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0 AS holds
          FROM (SELECT l_orderkey, count(DISTINCT l_suppkey) AS nv
                FROM lineitem GROUP BY 1)
        UNION ALL
          SELECT 'ord_custkey_to_priority' AS rule,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_violating_keys,
                 CAST(max(nv) AS BIGINT) AS max_rhs_variants,
                 sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0 AS holds
          FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nv
                FROM orders GROUP BY 1)
        UNION ALL
          SELECT 'doc_id_to_source' AS rule,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_violating_keys,
                 CAST(max(nv) AS BIGINT) AS max_rhs_variants,
                 sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0 AS holds
          FROM (SELECT doc_id, count(DISTINCT source) AS nv
                FROM documents GROUP BY 1)
    """

    sqls["profile_duplicate_rows"] = """
          SELECT 'lineitem' AS "table",
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS n_distinct,
                 CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
                   AS n_dup_rows
          FROM lineitem
        UNION ALL
          SELECT 'events' AS "table",
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(DISTINCT (user_id, ts, event_type)) AS BIGINT) AS n_distinct,
                 CAST(count(*) - count(DISTINCT (user_id, ts, event_type)) AS BIGINT)
                   AS n_dup_rows
          FROM events
        UNION ALL
          SELECT 'documents' AS "table",
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(DISTINCT (text)) AS BIGINT) AS n_distinct,
                 CAST(count(*) - count(DISTINCT (text)) AS BIGINT)
                   AS n_dup_rows
          FROM documents
    """

    sqls["profile_iqr_outliers"] = """
          SELECT 'l_extendedprice' AS "column", n, q1, q3, n_low, n_high
          FROM (
            WITH vals AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
                                 count(*) AS cnt
                          FROM lineitem WHERE l_extendedprice IS NOT NULL
                          GROUP BY 1),
            grid AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum
                     FROM vals),
            tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn FROM vals),
            qa AS (SELECT min(v) AS q1 FROM grid, tot
                   WHERE cum >= (nn + 3) // 4),
            qb AS (SELECT min(v) AS q3 FROM grid, tot
                   WHERE cum >= (3 * nn + 3) // 4),
            fen AS (SELECT q1, q3,
                      CAST(q1 - (q3 - q1) * 1.5 AS DECIMAL(20,3)) AS lo,
                      CAST(q3 + (q3 - q1) * 1.5 AS DECIMAL(20,3)) AS hi
                    FROM qa, qb)
            SELECT CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(max(q1) AS DOUBLE) AS q1,
                   CAST(max(q3) AS DOUBLE) AS q3,
                   CAST(sum(CASE WHEN v < lo THEN cnt ELSE 0 END)
                        AS BIGINT) AS n_low,
                   CAST(sum(CASE WHEN v > hi THEN cnt ELSE 0 END)
                        AS BIGINT) AS n_high
            FROM vals, fen
          )
        UNION ALL
          SELECT 'o_totalprice' AS "column", n, q1, q3, n_low, n_high
          FROM (
            WITH vals AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
                                 count(*) AS cnt
                          FROM orders WHERE o_totalprice IS NOT NULL
                          GROUP BY 1),
            grid AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum
                     FROM vals),
            tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn FROM vals),
            qa AS (SELECT min(v) AS q1 FROM grid, tot
                   WHERE cum >= (nn + 3) // 4),
            qb AS (SELECT min(v) AS q3 FROM grid, tot
                   WHERE cum >= (3 * nn + 3) // 4),
            fen AS (SELECT q1, q3,
                      CAST(q1 - (q3 - q1) * 1.5 AS DECIMAL(20,3)) AS lo,
                      CAST(q3 + (q3 - q1) * 1.5 AS DECIMAL(20,3)) AS hi
                    FROM qa, qb)
            SELECT CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(max(q1) AS DOUBLE) AS q1,
                   CAST(max(q3) AS DOUBLE) AS q3,
                   CAST(sum(CASE WHEN v < lo THEN cnt ELSE 0 END)
                        AS BIGINT) AS n_low,
                   CAST(sum(CASE WHEN v > hi THEN cnt ELSE 0 END)
                        AS BIGINT) AS n_high
            FROM vals, fen
          )
    """

    sqls["profile_modal_coverage"] = """
        WITH a AS (SELECT DISTINCT doc_id AS k FROM documents),
        b AS (SELECT DISTINCT vec_id AS k FROM embeddings),
        j AS (SELECT a.k AS ak, b.k AS bk
              FROM a FULL OUTER JOIN b ON a.k = b.k)
        SELECT CASE WHEN ak IS NULL THEN 'b_only'
                    WHEN bk IS NULL THEN 'a_only'
                    ELSE 'both' END AS status,
               CAST(count(*) AS BIGINT) AS n_ids
        FROM j GROUP BY 1
    
    """

    sqls["profile_date_coverage"] = """
        SELECT 'orders' AS "table",
               CAST(min(d) AS VARCHAR) AS min_d,
               CAST(max(d) AS VARCHAR) AS max_d,
               CAST(count(DISTINCT d) AS BIGINT) AS days_present,
               CAST(max(d) - min(d) + 1 AS BIGINT) AS span_days,
               CAST(max(d) - min(d) + 1 - count(DISTINCT d) AS BIGINT)
                 AS gap_days
        FROM (SELECT CAST(o_orderdate AS DATE) AS d FROM orders
              WHERE o_orderdate IS NOT NULL)
        UNION ALL
        SELECT 'events',
               CAST(min(d) AS VARCHAR), CAST(max(d) AS VARCHAR),
               CAST(count(DISTINCT d) AS BIGINT),
               CAST(max(d) - min(d) + 1 AS BIGINT),
               CAST(max(d) - min(d) + 1 - count(DISTINCT d) AS BIGINT)
        FROM (SELECT CAST(ts AS DATE) AS d FROM events
              WHERE ts IS NOT NULL)
    
    """

    sqls["profile_categorical_entropy"] = """
          SELECT 'lineitem' AS "table", 'l_returnflag' AS "column",
                 CAST(max(tn) AS BIGINT) AS n,
                 CAST(max(nd) AS BIGINT) AS n_distinct,
                 round(CAST(sum(CAST(round(
                     -(cnt / tn) * ln(cnt / tn), 9)
                     AS DECIMAL(27,9))) AS DOUBLE) / 0.6931471805599453, 6)
                   AS entropy_bits
          FROM (SELECT cnt,
                       CAST(sum(cnt) OVER () AS DOUBLE) AS tn,
                       count(*) OVER () AS nd
                FROM (SELECT count(*) AS cnt FROM lineitem
                      WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag))
        UNION ALL
          SELECT 'lineitem' AS "table", 'l_linestatus' AS "column",
                 CAST(max(tn) AS BIGINT) AS n,
                 CAST(max(nd) AS BIGINT) AS n_distinct,
                 round(CAST(sum(CAST(round(
                     -(cnt / tn) * ln(cnt / tn), 9)
                     AS DECIMAL(27,9))) AS DOUBLE) / 0.6931471805599453, 6)
                   AS entropy_bits
          FROM (SELECT cnt,
                       CAST(sum(cnt) OVER () AS DOUBLE) AS tn,
                       count(*) OVER () AS nd
                FROM (SELECT count(*) AS cnt FROM lineitem
                      WHERE l_linestatus IS NOT NULL GROUP BY l_linestatus))
        UNION ALL
          SELECT 'documents' AS "table", 'lang' AS "column",
                 CAST(max(tn) AS BIGINT) AS n,
                 CAST(max(nd) AS BIGINT) AS n_distinct,
                 round(CAST(sum(CAST(round(
                     -(cnt / tn) * ln(cnt / tn), 9)
                     AS DECIMAL(27,9))) AS DOUBLE) / 0.6931471805599453, 6)
                   AS entropy_bits
          FROM (SELECT cnt,
                       CAST(sum(cnt) OVER () AS DOUBLE) AS tn,
                       count(*) OVER () AS nd
                FROM (SELECT count(*) AS cnt FROM documents
                      WHERE lang IS NOT NULL GROUP BY lang))
        UNION ALL
          SELECT 'documents' AS "table", 'source' AS "column",
                 CAST(max(tn) AS BIGINT) AS n,
                 CAST(max(nd) AS BIGINT) AS n_distinct,
                 round(CAST(sum(CAST(round(
                     -(cnt / tn) * ln(cnt / tn), 9)
                     AS DECIMAL(27,9))) AS DOUBLE) / 0.6931471805599453, 6)
                   AS entropy_bits
          FROM (SELECT cnt,
                       CAST(sum(cnt) OVER () AS DOUBLE) AS tn,
                       count(*) OVER () AS nd
                FROM (SELECT count(*) AS cnt FROM documents
                      WHERE source IS NOT NULL GROUP BY source))
        UNION ALL
          SELECT 'events' AS "table", 'event_type' AS "column",
                 CAST(max(tn) AS BIGINT) AS n,
                 CAST(max(nd) AS BIGINT) AS n_distinct,
                 round(CAST(sum(CAST(round(
                     -(cnt / tn) * ln(cnt / tn), 9)
                     AS DECIMAL(27,9))) AS DOUBLE) / 0.6931471805599453, 6)
                   AS entropy_bits
          FROM (SELECT cnt,
                       CAST(sum(cnt) OVER () AS DOUBLE) AS tn,
                       count(*) OVER () AS nd
                FROM (SELECT count(*) AS cnt FROM events
                      WHERE event_type IS NOT NULL GROUP BY event_type))
    """

    sqls["profile_constancy"] = """
          SELECT 'lineitem' AS "table", 'l_returnflag' AS "column",
                 CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_distinct,
                 CAST(max(cnt) AS BIGINT) AS top1_cnt,
                 (CASE WHEN CAST((CAST(max(cnt) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(max(cnt) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((sum(cnt)) AS BIGINT)) // (2 * CAST((sum(cnt)) AS BIGINT))) / 1000000.0) AS top1_share,
                 (CASE WHEN CAST((CAST(max(cnt) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(max(cnt) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((sum(cnt)) AS BIGINT)) // (2 * CAST((sum(cnt)) AS BIGINT))) / 1000000.0) >= 0.99 AS near_constant
          FROM (SELECT count(*) AS cnt FROM lineitem
                WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag)
        UNION ALL
          SELECT 'lineitem' AS "table", 'l_linestatus' AS "column",
                 CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_distinct,
                 CAST(max(cnt) AS BIGINT) AS top1_cnt,
                 (CASE WHEN CAST((CAST(max(cnt) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(max(cnt) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((sum(cnt)) AS BIGINT)) // (2 * CAST((sum(cnt)) AS BIGINT))) / 1000000.0) AS top1_share,
                 (CASE WHEN CAST((CAST(max(cnt) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(max(cnt) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((sum(cnt)) AS BIGINT)) // (2 * CAST((sum(cnt)) AS BIGINT))) / 1000000.0) >= 0.99 AS near_constant
          FROM (SELECT count(*) AS cnt FROM lineitem
                WHERE l_linestatus IS NOT NULL GROUP BY l_linestatus)
        UNION ALL
          SELECT 'documents' AS "table", 'lang' AS "column",
                 CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_distinct,
                 CAST(max(cnt) AS BIGINT) AS top1_cnt,
                 (CASE WHEN CAST((CAST(max(cnt) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(max(cnt) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((sum(cnt)) AS BIGINT)) // (2 * CAST((sum(cnt)) AS BIGINT))) / 1000000.0) AS top1_share,
                 (CASE WHEN CAST((CAST(max(cnt) AS DECIMAL(27,6))) * 1000000 AS BIGINT) < 0 THEN -1 ELSE 1 END * ((2 * abs(CAST((CAST(max(cnt) AS DECIMAL(27,6))) * 1000000 AS BIGINT)) + CAST((sum(cnt)) AS BIGINT)) // (2 * CAST((sum(cnt)) AS BIGINT))) / 1000000.0) >= 0.99 AS near_constant
          FROM (SELECT count(*) AS cnt FROM documents
                WHERE lang IS NOT NULL GROUP BY lang)
    """


    sqls["ann_index_bucket_profile"] = f"""
        WITH {_ann_snap},
        merged AS ({_pividx('TRUE', 'vec_id >= 10 AND vec_id < 10000000')}),
        sizes AS (SELECT bucket, count(*) AS sz FROM merged GROUP BY 1)
        SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(max(sz) AS BIGINT) AS max_bucket_sz,
               round(CAST(sum(sz) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                 AS mean_bucket,
               CAST(sum(CASE WHEN sz > 12 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_over_cap,
               round(sum(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))
                     / CAST(sum(sz) AS DOUBLE), 6)
                 AS expected_candidates
        FROM sizes
    """

    _nv_cos = _cos_sql("nv.embedding", "cv.embedding")
    sqls["ann_incremental_pipeline"] = f"""
        WITH {_ann_snap},
        old_idx AS ({_pividx('vec_id >= 10 AND vec_id < 10000000',
                             'vec_id >= 10 AND vec_id < 10000000')}),
        new_idx AS ({_pividx('vec_id < 10 OR vec_id >= 10000000',
                             'vec_id >= 10 AND vec_id < 10000000')}),
        probed AS (
          SELECT vec_id, bucket FROM new_idx
          UNION ALL
          SELECT vec_id, xor(bucket, CAST((1 << gs.p) AS BIGINT))
          FROM new_idx, generate_series(0, 5) AS gs(p)
        ),
        dup_ids AS (
          SELECT DISTINCT p.vec_id
          FROM probed p
          JOIN old_idx o USING (bucket)
          JOIN snap_a nv ON nv.vec_id = p.vec_id
          JOIN snap_a cv ON cv.vec_id = o.vec_id
          WHERE round({_nv_cos}, 6) >= 0.98
        ),
        n_old AS (SELECT count(*) AS n FROM old_idx),
        n_new AS (SELECT count(*) AS n FROM new_idx),
        n_dup AS (SELECT count(*) AS n FROM dup_ids),
        n_acc AS (SELECT n_new.n - n_dup.n AS n FROM n_new, n_dup),
        merged AS (
          SELECT * FROM old_idx
          UNION ALL
          SELECT * FROM new_idx
          WHERE vec_id NOT IN (SELECT vec_id FROM dup_ids)
        ),
        dedup AS (SELECT DISTINCT vec_id, bucket FROM merged),
        sizes AS (SELECT bucket, count(*) AS n FROM dedup GROUP BY 1),
        n_merged AS (SELECT count(*) AS n FROM merged),
        n_comp AS (SELECT count(*) AS n
                   FROM dedup d JOIN sizes s USING (bucket)
                   WHERE s.n <= 12)
        SELECT 'index_before' AS stage, CAST(n AS BIGINT) AS n_rows
        FROM n_old
        UNION ALL SELECT 'new_batch', CAST(n AS BIGINT) FROM n_new
        UNION ALL SELECT 'screened_dup', CAST(n AS BIGINT) FROM n_dup
        UNION ALL SELECT 'accepted', CAST(n AS BIGINT) FROM n_acc
        UNION ALL SELECT 'index_merged', CAST(n AS BIGINT) FROM n_merged
        UNION ALL SELECT 'index_compacted', CAST(n AS BIGINT) FROM n_comp
    """

    # recall-after-merge: the ann_lsh_pivot SQL with the plane CTE
    # re-derived from the STALE (pre-merge) subset, wrapped in the
    # standing recall-certificate join (hits vs exact top-5).
    _stale_piv = """FROM (SELECT vec_id AS plane_id, embedding AS pvec
                FROM embeddings ORDER BY vec_id LIMIT 6)"""
    _stale_piv_new = """FROM (SELECT vec_id AS plane_id, embedding AS pvec
                FROM embeddings WHERE vec_id >= 10
                ORDER BY vec_id LIMIT 6)"""
    assert _stale_piv in sqls["ann_lsh_pivot"]
    _stale_search = sqls["ann_lsh_pivot"].replace(_stale_piv, _stale_piv_new)
    sqls["ann_recall_after_merge"] = f"""
        SELECT e.query_id,
               CAST(count(c.neighbor_id) AS BIGINT) AS hits,
               round(CAST(count(c.neighbor_id) AS DOUBLE) / 5, 6)
                 AS recall_at_5
        FROM ({sqls['ann_topk_cosine']}) e
        LEFT JOIN ({_stale_search}) c
          ON e.query_id = c.query_id AND e.neighbor_id = c.neighbor_id
        GROUP BY 1
    """

    # snapshot B: drop vec_id%10==7, bump label on vec_id%10==3, add
    # clones of vec_id<5 re-keyed +100000 (_snapshot_b Spark-side)
    _snap_b = """
        snap_b AS (
          SELECT vec_id, embedding,
                 CASE WHEN vec_id % 10 = 3 THEN label + 1 ELSE label END
                   AS label
          FROM embeddings WHERE vec_id % 10 <> 7
          UNION ALL
          SELECT vec_id + 100000 AS vec_id, embedding, label
          FROM embeddings WHERE vec_id < 5
        )"""

    sqls["embedding_snapshot_diff"] = f"""
        WITH {_snap_b},
        j AS (
          SELECT a.vec_id AS ida, b.vec_id AS idb,
                 CASE WHEN a.vec_id IS NULL THEN 'added'
                      WHEN b.vec_id IS NULL THEN 'removed'
                      WHEN a.embedding = b.embedding
                           AND a.label = b.label THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM embeddings a FULL OUTER JOIN snap_b b USING (vec_id)
        )
        SELECT status, CAST(count(*) AS BIGINT) AS n_ids FROM j
        GROUP BY 1
    """

    # drift certificate: per-dim exact-decimal centroid means per
    # side, dot/l2 reductions as exact DECIMAL(18,6)×(18,6) products
    # (round(double,9) flips half-way cases across engines) — the
    # centroid_shift numeric contract applied across snapshots.
    sqls["embedding_snapshot_drift"] = f"""
        WITH {_snap_b},
        both_sides AS (
          SELECT label AS g, 'a' AS side, vec_id, embedding
          FROM embeddings
          UNION ALL
          SELECT label AS g, 'b' AS side, vec_id, embedding FROM snap_b
        ),
        exploded AS (
          SELECT g, side, gs.pos,
                 round(CAST(embedding[gs.pos] AS DOUBLE), 6) AS v
          FROM both_sides, LATERAL (
            SELECT unnest(generate_series(1, len(embedding))) AS pos
          ) gs
        ),
        per_dim AS (
          SELECT g, side, pos,
                 {round6_ratio_sql("sum(CAST(v AS DECIMAL(27,6)))",
                                   "count(*)")} AS m,
                 count(*) AS n
          FROM exploded GROUP BY 1, 2, 3
        ),
        pair AS (
          SELECT g, pos,
                 max(CASE WHEN side = 'a' THEN m END) AS ca,
                 max(CASE WHEN side = 'b' THEN m END) AS cb,
                 max(CASE WHEN side = 'a' THEN n END) AS n_a,
                 max(CASE WHEN side = 'b' THEN n END) AS n_b
          FROM per_dim GROUP BY 1, 2
        ),
        red AS (
          SELECT g,
                 CAST(COALESCE(max(n_a), 0) AS BIGINT) AS n_a,
                 CAST(COALESCE(max(n_b), 0) AS BIGINT) AS n_b,
                 CAST(sum(CAST(ca AS DECIMAL(18,6))
                          * CAST(cb AS DECIMAL(18,6)))
                      AS DOUBLE) AS dotp,
                 CAST(sum(CAST(ca AS DECIMAL(18,6))
                          * CAST(ca AS DECIMAL(18,6)))
                      AS DOUBLE) AS na,
                 CAST(sum(CAST(cb AS DECIMAL(18,6))
                          * CAST(cb AS DECIMAL(18,6)))
                      AS DOUBLE) AS nb,
                 CAST(sum(CAST(CAST(ca AS DECIMAL(18,6))
                               - CAST(cb AS DECIMAL(18,6))
                               AS DECIMAL(18,6))
                          * CAST(CAST(ca AS DECIMAL(18,6))
                                 - CAST(cb AS DECIMAL(18,6))
                                 AS DECIMAL(18,6)))
                      AS DOUBLE) AS l2
          FROM pair GROUP BY 1
        ),
        norms AS (
          SELECT g,
                 round(CAST(sum(CASE WHEN side = 'a' THEN
                         CAST(round({_norm2_sql('embedding')}, 6)
                              AS DECIMAL(27,6)) END) AS DOUBLE)
                       / CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
                              AS DOUBLE), 6) AS norm_a,
                 round(CAST(sum(CASE WHEN side = 'b' THEN
                         CAST(round({_norm2_sql('embedding')}, 6)
                              AS DECIMAL(27,6)) END) AS DOUBLE)
                       / CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
                              AS DOUBLE), 6) AS norm_b
          FROM both_sides GROUP BY 1
        )
        SELECT r.g AS label, r.n_a, r.n_b,
               round(r.dotp / sqrt(r.na * r.nb), 6) AS cosine,
               round(sqrt(r.l2), 6) AS l2_shift,
               n.norm_a, n.norm_b,
               COALESCE(round(r.dotp / sqrt(r.na * r.nb), 6) < 0.9, TRUE)
                 AS drifted
        FROM red r JOIN norms n ON n.g = r.g
    """

    # the resume certificate's cells are order/batching-independent,
    # so the oracle is the plain batch CMS over the whole input —
    # equality IS the state-survives-restart claim.
    _resume_cells = " UNION ALL ".join(
        f"SELECT {i} AS row_id,"
        f" {hash_mod_sql(f'cms11r{i}', 'k', 64)} AS col_id"
        f" FROM (SELECT CAST(user_id AS BIGINT) AS k FROM events"
        f"       WHERE user_id IS NOT NULL)"
        for i in range(3)
    )
    sqls["stream_cms_resume"] = f"""
        SELECT CAST(row_id AS INTEGER) AS row_id,
               CAST(col_id AS INTEGER) AS col_id,
               CAST(count(*) AS BIGINT) AS cnt
        FROM ({_resume_cells}) GROUP BY 1, 2
    """

    # re-index pressure sweep: per ingest cutoff, the merge-cert CTE
    # pair (stale family from ids >= cutoff vs fresh family) labeled
    # by split — generated from the same _pividx helper.
    _sweep_rows = []
    for lbl, cut in (("ingest_005", 5), ("ingest_025", 25),
                     ("ingest_100", 100)):
        _sweep_rows.append(f"""
        SELECT '{lbl}' AS split,
               CAST(count(*) AS BIGINT) AS n_index,
               CAST(count(*) AS BIGINT) AS n_rebuilt,
               CAST(sum(CASE WHEN m.bucket = f.bucket THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_same_bucket,
               CAST(sum(CASE WHEN m.bucket <> f.bucket THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moved,
               round(CAST(sum(CASE WHEN m.bucket <> f.bucket
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) AS moved_frac
        FROM ({_pividx('TRUE', f'vec_id >= {cut}')}) m
        JOIN ({_pividx('TRUE', 'TRUE')}) f USING (vec_id)
        """)
    sqls["ann_reindex_sweep"] = f"""
        WITH snap_a AS (SELECT vec_id, embedding FROM embeddings)
        {' UNION ALL '.join(_sweep_rows)}
    """

    sqls["document_snapshot_diff"] = """
        WITH rev AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 13 = 2 THEN text || ' [rev2]'
                      ELSE text END AS text,
                 lang,
                 CASE WHEN doc_id % 13 = 9 THEN source || '-v2'
                      ELSE source END AS source,
                 n_chars
          FROM documents WHERE doc_id % 13 <> 5
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
          FROM documents WHERE doc_id < 5
        ),
        j AS (
          SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
                      WHEN b.doc_id IS NULL THEN 'removed'
                      WHEN a.text = b.text AND a.lang = b.lang
                           AND a.source = b.source
                           AND a.n_chars = b.n_chars THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM documents a FULL OUTER JOIN rev b USING (doc_id)
        )
        SELECT status, CAST(count(*) AS BIGINT) AS n_ids FROM j
        GROUP BY 1
    """

    # incremental linkage: the _fs_pairs fragment with the right side
    # restricted to the ingest batch (every 4th supplier key), stage
    # counts as scalar selects.
    _fs_pairs_inc = _fs_pairs.replace(
        "FROM supplier)", "FROM supplier WHERE s_suppkey % 4 = 0)"
    )
    assert _fs_pairs_inc != _fs_pairs
    sqls["linkage_incremental"] = f"""
        WITH {_fs_pairs_inc},
        liw AS (SELECT l_id, r_id FROM fspv
                WHERE round({_fs_weight}, 6) >= 5.0),
        lim AS (SELECT DISTINCT r_id FROM liw),
        lit_ AS (SELECT DISTINCT l_id FROM liw),
        n1 AS (SELECT count(*) AS n FROM customer),
        n2 AS (SELECT count(*) AS n FROM supplier WHERE s_suppkey % 4 = 0),
        n3 AS (SELECT count(*) AS n FROM fspv),
        n4 AS (SELECT count(*) AS n FROM liw),
        n5 AS (SELECT count(*) AS n FROM lim),
        n6 AS (SELECT n2.n - n5.n AS n FROM n2, n5),
        n7 AS (SELECT count(*) AS n FROM lit_)
        SELECT CAST(1 AS BIGINT) AS stage, 'registry_rows' AS stage_name,
               CAST(n AS BIGINT) AS n FROM n1
        UNION ALL SELECT 2, 'new_batch', CAST(n AS BIGINT) FROM n2
        UNION ALL SELECT 3, 'candidate_pairs', CAST(n AS BIGINT) FROM n3
        UNION ALL SELECT 4, 'links', CAST(n AS BIGINT) FROM n4
        UNION ALL SELECT 5, 'matched_new', CAST(n AS BIGINT) FROM n5
        UNION ALL SELECT 6, 'unmatched_new', CAST(n AS BIGINT) FROM n6
        UNION ALL SELECT 7, 'entities_touched', CAST(n AS BIGINT) FROM n7
    """

    # planes sweep: the profile rollup at three plane counts, each
    # over its own _pividx bucketing of the full corpus.
    _pl_rows = []
    for p in (4, 6, 8):
        _pl_rows.append(f"""
        SELECT CAST({p} AS BIGINT) AS n_planes,
               CAST(sum(sz) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(max(sz) AS BIGINT) AS max_bucket_sz,
               round(CAST(sum(sz) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                 AS mean_bucket,
               CAST(sum(CASE WHEN sz > 12 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_over_cap,
               round(sum(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))
                     / CAST(sum(sz) AS DOUBLE), 6) AS expected_candidates
        FROM (SELECT bucket, count(*) AS sz
              FROM ({_pividx('TRUE', 'TRUE', p)}) GROUP BY 1)
        """)
    sqls["ann_planes_sweep"] = f"""
        WITH snap_a AS (SELECT vec_id, embedding FROM embeddings)
        {' UNION ALL '.join(_pl_rows)}
    """

    # contamination rate by source: the decontaminate gram machinery
    # with the % 11 == 3 eval split, rolled to source grain.
    _w8 = _words_sql("text")
    sqls["contamination_by_source"] = f"""
        WITH cgrams AS (
          SELECT doc_id, gs FROM (
            SELECT doc_id,
                   CASE WHEN len(w) >= 3 THEN
                     list_distinct(list_transform(generate_series(1, len(w) - 2),
                       i -> substring(md5(concat(w[i], ' ', w[i+1], ' ', w[i+2])),
                                      1, 16)))
                   ELSE [] END AS gs
            FROM (SELECT doc_id, {_w8} AS w FROM documents))
        ),
        cbench AS (
          SELECT DISTINCT unnest(gs) AS gh FROM cgrams
          WHERE doc_id % 11 = 3
        ),
        ccorp AS (
          SELECT doc_id, unnest(gs) AS gh FROM cgrams
          WHERE doc_id % 11 <> 3
        ),
        cper AS (SELECT doc_id, count(*) AS n_grams FROM ccorp GROUP BY 1),
        chits AS (
          SELECT doc_id, count(*) AS n_hit
          FROM ccorp WHERE gh IN (SELECT gh FROM cbench) GROUP BY 1
        ),
        cdocs AS (
          SELECT d.source, d.doc_id,
                 COALESCE(p.n_grams, 0) AS n_grams,
                 COALESCE(h.n_hit, 0) AS n_hit
          FROM documents d
          LEFT JOIN cper p ON d.doc_id = p.doc_id
          LEFT JOIN chits h ON d.doc_id = h.doc_id
          WHERE d.doc_id % 11 <> 3
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged,
               round(CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                 AS doc_rate,
               CAST(sum(n_grams) AS BIGINT) AS n_grams,
               CAST(sum(n_hit) AS BIGINT) AS n_hit_grams,
               round(CAST(sum(n_hit) AS DOUBLE)
                     / CAST(greatest(sum(n_grams), 1) AS DOUBLE), 6)
                 AS gram_rate
        FROM cdocs GROUP BY 1
    """

    # DSIR per-source top-k: the weight SQL as a CTE + a per-source
    # rank window + exact-decimal kept/all means.
    sqls["dsir_topk_by_source"] = f"""
        WITH dw AS ({sqls['text_dsir_weights']}),
        ds AS (SELECT d.source, w.doc_id,
                 round(w.log_weight, 6) AS lw
               FROM dw w JOIN documents d USING (doc_id)),
        dr AS (SELECT *, row_number() OVER (
                 PARTITION BY source ORDER BY lw DESC, doc_id ASC) AS rk
               FROM ds)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               round(CAST(sum(CAST(lw AS {DEC})) AS DOUBLE)
                     / count(*), 6) AS mean_weight_all,
               round(CAST(sum(CASE WHEN rk <= 10
                                   THEN CAST(lw AS {DEC}) END) AS DOUBLE)
                     / sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END), 6)
                 AS mean_weight_kept,
               max(CASE WHEN rk = 10 THEN lw END) AS cut_weight
        FROM dr GROUP BY 1
    """

    # shard manifest: md5-mod shard of event_id, per-row md5 31-bit
    # checksum summed exactly in DECIMAL(38,0), reduced mod 2^31 once
    # (the dataset_fingerprint overflow discipline).
    _man_payload = (
        "concat_ws('|', CAST(event_id AS VARCHAR),"
        " CAST(user_id AS VARCHAR), CAST(event_type AS VARCHAR))"
    )
    sqls["shard_manifest"] = f"""
        WITH smr AS (SELECT
                       {hash_mod_sql('man7', 'event_id', 16)} AS shard,
                       {hash_mod_sql('man7c', _man_payload, 1 << 31)}
                         AS chk
                     FROM events)
        SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(CAST(sum(CAST(chk AS DECIMAL(38,0))) AS DECIMAL(38,0))
                    % CAST(2147483648 AS DECIMAL(38,0)) AS BIGINT)
                 AS checksum
        FROM smr GROUP BY 1
    """

    # dedup-aware mixture retempering: before/after token masses on
    # the clone-planted corpus, tempered weights with the standing
    # round-9 DECIMAL normalizer discipline on both sides.
    sqls["mixture_after_dedup"] = f"""
        WITH corp AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + 500000 AS doc_id, source, text FROM documents
          WHERE doc_id % 7 = 0
        ),
        base AS (SELECT source, md5(text) AS dig,
                   CAST(len({_w8}) AS BIGINT) AS n
                 FROM corp),
        bef AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n) AS BIGINT) AS n_tokens
                FROM base GROUP BY 1),
        dd AS (SELECT source, dig, max(n) AS n1 FROM base GROUP BY 1, 2),
        aft AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs_after,
                  CAST(sum(n1) AS BIGINT) AS n_tokens_after
                FROM dd GROUP BY 1),
        j AS (SELECT * FROM bef JOIN aft USING (source)),
        p AS (SELECT *,
                CAST(round(power(CAST(n_tokens AS DOUBLE), {repr(0.7)}), 9)
                     AS DECIMAL(38,9)) AS wb,
                CAST(round(power(CAST(n_tokens_after AS DOUBLE),
                                 {repr(0.7)}), 9)
                     AS DECIMAL(38,9)) AS wa
              FROM j),
        tot AS (SELECT sum(wb) AS twb, sum(wa) AS twa FROM p),
        wts AS (SELECT source, n_docs, n_docs_after, n_tokens,
                  n_tokens_after,
                  round(CAST(wb AS DOUBLE) / CAST(twb AS DOUBLE), 6)
                    AS weight_before,
                  round(CAST(wa AS DOUBLE) / CAST(twa AS DOUBLE), 6)
                    AS weight_after
                FROM p, tot)
        SELECT *, round(weight_after - weight_before, 6) AS weight_shift
        FROM wts
    """

    # Bloom resume: set bits are order/batching-independent — the
    # oracle is the batch position table (all-integer).
    _brp = " UNION ALL ".join(
        f"SELECT event_type, {hash_mod_sql(f'bl5h{i}', 'user_id', 512)}"
        f" AS pos FROM events"
        f" WHERE user_id IS NOT NULL AND event_type IS NOT NULL"
        for i in range(3)
    )
    sqls["stream_bloom_resume"] = f"""
        SELECT event_type AS "group", CAST(pos AS INTEGER) AS pos
        FROM ({_brp}) GROUP BY 1, 2
    """

    # HLL resume: register maxima are order/batching-independent, so
    # the oracle is the batch register table — all-integer, the one
    # resume certificate with zero float surface.
    sqls["stream_hll_resume"] = f"""
        WITH hrr AS (SELECT event_type,
                       {hash_mod_sql('hllb13', 'user_id', 64)} AS b,
                       {hash_mod_sql('hllr13', 'user_id', 1 << 52)} AS h
                     FROM events
                     WHERE user_id IS NOT NULL
                       AND event_type IS NOT NULL)
        SELECT event_type AS "group",
               CAST(b AS INTEGER) AS b,
               CAST(max(53 - {_hll_bitlen('h')}) AS INTEGER) AS max_rank
        FROM hrr GROUP BY 1, 2
    """

    # KMV resume: the stream's final state is order/batching-
    # independent (bottom-k), so the oracle is the batch sketch's
    # estimate columns over the whole input — the sketch_kmv_distinct
    # SQL minus the exact/rel_err columns the resumed stream cannot
    # know.
    sqls["stream_kmv_resume"] = f"""
        WITH {_kmv_sk},
        agg AS (SELECT event_type, count(*) AS n_sketch,
                  max(CASE WHEN rnk = 32 THEN h END) AS hk
                FROM kmvsk GROUP BY 1)
        SELECT event_type AS "group",
               CAST(n_sketch AS BIGINT) AS n_sketch,
               CASE WHEN n_sketch >= 32 THEN round(hk, 6)
                    ELSE 2.0 END AS theta,
               CASE WHEN n_sketch >= 32 THEN round(31.0 / hk, 6)
                    ELSE CAST(n_sketch AS DOUBLE) END AS est_distinct
        FROM agg
    """

    # ---- r10 closing five: supply breadth / cross-tabs / drift /
    # aging planning tables.
    sqls["supplier_part_breadth"] = f"""
        WITH per AS (SELECT l_suppkey,
                       count(DISTINCT l_partkey) AS np,
                       count(*) AS nl
                     FROM lineitem GROUP BY 1),
        rk AS (SELECT np, nl,
                 row_number() OVER (ORDER BY np, l_suppkey) AS r
               FROM per),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
                  CAST(min(np) AS BIGINT) AS min_breadth,
                  CAST(max(np) AS BIGINT) AS max_breadth,
                  CAST(sum(np) AS BIGINT) AS tnp,
                  CAST(sum(nl) AS BIGINT) AS total_lines
                FROM rk),
        med AS (SELECT CAST(np AS BIGINT) AS low_median_breadth
                FROM rk, agg WHERE r = (n_suppliers + 1) // 2)
        SELECT n_suppliers, min_breadth, low_median_breadth,
          max_breadth, total_lines,
          {round6_ratio_sql('CAST(tnp AS DECIMAL(27,6))',
                            'greatest(n_suppliers, 1)')} AS mean_breadth
        FROM agg CROSS JOIN med
    """

    sqls["customer_segment_value_matrix"] = f"""
        SELECT c_mktsegment AS segment,
          CAST(floor(o_totalprice / 50000) AS BIGINT) AS value_band,
          CAST(count(*) AS BIGINT) AS n_orders,
          {_dsum_sql('o_totalprice')} AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    """

    sqls["text_stopword_density_drift"] = f"""
        WITH sd AS (SELECT source, doc_id % 2 AS p,
                      CAST(len(list_filter({w}, x -> x <> ''))
                           AS BIGINT) AS nw,
                      CAST(len(list_filter({w},
                           x -> list_contains({en}, x))) AS BIGINT) AS nh
                    FROM documents),
        agg AS (SELECT source,
          CAST(sum(CASE WHEN p = 0 THEN nw ELSE 0 END) AS BIGINT)
            AS n_words_a,
          CAST(sum(CASE WHEN p = 1 THEN nw ELSE 0 END) AS BIGINT)
            AS n_words_b,
          CAST(sum(CASE WHEN p = 0 THEN nh ELSE 0 END) AS BIGINT)
            AS n_hits_a,
          CAST(sum(CASE WHEN p = 1 THEN nh ELSE 0 END) AS BIGINT)
            AS n_hits_b
        FROM sd GROUP BY 1)
        SELECT source, n_words_a, n_words_b, n_hits_a, n_hits_b,
          {round6_ratio_sql('CAST(n_hits_a AS DECIMAL(27,6))',
                            'greatest(n_words_a, 1)')} AS rate_a,
          {round6_ratio_sql('CAST(n_hits_b AS DECIMAL(27,6))',
                            'greatest(n_words_b, 1)')} AS rate_b,
          ({round6_ratio_sql('CAST(n_hits_b AS DECIMAL(27,6))',
                             'greatest(n_words_b, 1)')})
          - ({round6_ratio_sql('CAST(n_hits_a AS DECIMAL(27,6))',
                               'greatest(n_words_a, 1)')}) AS rate_delta
        FROM agg
    """

    sqls["lineitem_discount_grid"] = f"""
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
          CASE WHEN l_quantity <= 10 THEN '1-10'
               WHEN l_quantity <= 25 THEN '11-25'
               ELSE '26+' END AS qty_band,
          CAST(count(*) AS BIGINT) AS n_lines,
          {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem GROUP BY 1, 2
    """

    sqls["orders_priority_aging"] = f"""
        WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
        opn AS (SELECT o_orderpriority AS priority,
                  date_diff('day', o_orderdate, mx.m) AS age,
                  o_totalprice
                FROM orders, mx WHERE o_orderstatus <> 'F')
        SELECT priority,
          CASE WHEN age <= 90 THEN '0-90'
               WHEN age <= 365 THEN '91-365'
               ELSE '366+' END AS age_bucket,
          CAST(count(*) AS BIGINT) AS n_orders,
          {_dsum_sql('o_totalprice')} AS open_value
        FROM opn GROUP BY 1, 2
    """

    # ---- r10 sketch / fingerprint round-out ------------------------
    _hi_est = (
        lambda ns, ss: f"""round(CASE
          WHEN ({_hll_alpha} / ((CAST({ss} AS DOUBLE)
                 + CAST((256 - {ns}) AS DOUBLE) * {_two52}) / {_two52}))
               <= {repr(2.5 * 256)} AND (256 - {ns}) > 0
          THEN (-{repr(256.0)})
               * ln(CAST(256 - {ns} AS DOUBLE) / {repr(256.0)})
          ELSE ({_hll_alpha} / ((CAST({ss} AS DOUBLE)
                 + CAST((256 - {ns}) AS DOUBLE) * {_two52}) / {_two52}))
          END, 6)"""
    )
    sqls["sketch_hll_intersection"] = f"""
        WITH regs AS MATERIALIZED (
          SELECT event_type,
            {hash_mod_sql('hllb13', 'user_id', 256)} AS b,
            {hash_mod_sql('hllr13', 'user_id', 1 << 52)} AS h
          FROM events),
        r2 AS MATERIALIZED (SELECT event_type, b,
                 max(53 - {_hll_bitlen('h')}) AS m
               FROM regs GROUP BY 1, 2),
        gagg AS MATERIALIZED (
          SELECT event_type, CAST(count(*) AS BIGINT) AS ns,
            CAST(sum(CAST(pow(CAST(2 AS DOUBLE), 52 - m) AS BIGINT))
                 AS BIGINT) AS ss
          FROM r2 GROUP BY 1),
        gs AS (SELECT DISTINCT event_type FROM events
               WHERE event_type IS NOT NULL),
        prs AS (SELECT a.event_type AS group_a, b.event_type AS group_b
                FROM gs a JOIN gs b ON a.event_type < b.event_type),
        ra AS (SELECT p.group_a, p.group_b, r.b, r.m AS ma
               FROM prs p JOIN r2 r ON r.event_type = p.group_a),
        rb AS (SELECT p.group_a, p.group_b, r.b, r.m AS mb
               FROM prs p JOIN r2 r ON r.event_type = p.group_b),
        ru AS (SELECT COALESCE(ra.group_a, rb.group_a) AS group_a,
                 COALESCE(ra.group_b, rb.group_b) AS group_b,
                 greatest(COALESCE(ma, 0), COALESCE(mb, 0)) AS mu
               FROM ra FULL JOIN rb
                 ON ra.group_a = rb.group_a AND ra.group_b = rb.group_b
                AND ra.b = rb.b),
        uagg AS (SELECT group_a, group_b,
                   CAST(count(*) AS BIGINT) AS nu,
                   CAST(sum(CAST(pow(CAST(2 AS DOUBLE), 52 - mu)
                        AS BIGINT)) AS BIGINT) AS su
                 FROM ru GROUP BY 1, 2),
        kk AS MATERIALIZED (SELECT DISTINCT event_type, user_id
                            FROM events
                            WHERE event_type IS NOT NULL
                              AND user_id IS NOT NULL),
        ex AS (SELECT x.event_type AS group_a, y.event_type AS group_b,
                 CAST(count(*) AS BIGINT) AS exact_intersection
               FROM kk x JOIN kk y ON x.user_id = y.user_id
                AND x.event_type < y.event_type
               GROUP BY 1, 2)
        SELECT u.group_a, u.group_b,
          {_hi_est('a.ns', 'a.ss')} AS est_a,
          {_hi_est('b.ns', 'b.ss')} AS est_b,
          {_hi_est('u.nu', 'u.su')} AS est_union,
          round(({_hi_est('a.ns', 'a.ss')}) + ({_hi_est('b.ns', 'b.ss')})
                - ({_hi_est('u.nu', 'u.su')}), 6) AS est_intersection,
          COALESCE(ex.exact_intersection, 0) AS exact_intersection
        FROM uagg u
        JOIN gagg a ON a.event_type = u.group_a
        JOIN gagg b ON b.event_type = u.group_b
        LEFT JOIN ex ON ex.group_a = u.group_a AND ex.group_b = u.group_b
    """

    _bf_parts = []
    for _m in (256, 1024, 4096):
        _probe = " UNION ALL ".join(
            f"SELECT k, {hash_mod_sql(f'bl5h{_i}', 'k', _m)} AS pos"
            " FROM tst"
            for _i in range(3)
        )
        _pos = " UNION ALL ".join(
            f"SELECT {hash_mod_sql(f'bl5h{_i}', 'k', _m)} AS pos"
            " FROM mem"
            for _i in range(3)
        )
        _bf_parts.append(f"""
        SELECT CAST({_m} AS BIGINT) AS m_bits,
          (SELECT CAST(count(*) AS BIGINT) FROM mem) AS n_members,
          (SELECT CAST(count(*) AS BIGINT) FROM tst) AS n_tested,
          CAST(COALESCE((SELECT count(*) FROM (
            SELECT p.k FROM ({_probe}) p
            JOIN (SELECT DISTINCT pos FROM ({_pos})) f USING (pos)
            GROUP BY p.k HAVING count(*) = 3)), 0) AS BIGINT)
            AS n_false_positives""")
    _bf_body = " UNION ALL ".join(_bf_parts)
    sqls["sketch_bloom_fpr_curve"] = f"""
        WITH ks AS MATERIALIZED (
          SELECT DISTINCT CAST(user_id AS BIGINT) AS k FROM events
          WHERE user_id IS NOT NULL),
        mem AS MATERIALIZED (SELECT k FROM ks WHERE k % 2 = 0),
        tst AS MATERIALIZED (SELECT k FROM ks WHERE k % 2 = 1),
        fr AS ({_bf_body})
        SELECT m_bits, n_members, n_tested, n_false_positives,
          {round6_ratio_sql('CAST(n_false_positives AS DECIMAL(27,6))',
                            'greatest(n_tested, 1)')} AS fpr
        FROM fr
    """

    sqls["embedding_coord_drift"] = """
        WITH b AS (SELECT
            CAST(floor(CAST(embedding[1] AS DOUBLE) * 10) AS BIGINT)
              AS coord_bucket,
            vec_id % 2 AS par
          FROM embeddings)
        SELECT coord_bucket,
          CAST(sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_a,
          CAST(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_b,
          CAST(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END)
               - sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS delta
        FROM b GROUP BY 1
    """

    _ncr_rows = " UNION ALL ".join(
        f"""SELECT CAST({bits} AS BIGINT) AS bits,
          (SELECT CAST(count(*) AS BIGINT) FROM shset) AS n_shingles,
          CAST(count(DISTINCT
            {hash_mod_sql(f'ncr{bits}', 's', 1 << bits)}) AS BIGINT)
            AS n_hashes
        FROM shset"""
        for bits in (24, 32, 40)
    )
    sqls["text_ngram_collision_rate"] = f"""
        WITH shl AS (SELECT {_shingles_sql('text')} AS sl
                     FROM documents),
        shset AS MATERIALIZED (
          SELECT DISTINCT unnest(sl) AS s FROM shl),
        nc AS ({_ncr_rows})
        SELECT bits, n_shingles, n_hashes,
          CAST(n_shingles - n_hashes AS BIGINT) AS n_collisions,
          {round6_ratio_sql(
              'CAST(n_shingles - n_hashes AS DECIMAL(27,6))',
              'greatest(n_shingles, 1)')} AS collision_rate
        FROM nc
    """

    _bp_blocks = []
    _bp_rows = []
    for _bands, _rpb in ((1, 9), (3, 3), (9, 1)):
        pfx = f"bp{_bands}_"
        _bp_blocks.append(_minhash_bands_sql(
            9, _bands, prefix=pfx,
            src="(SELECT * FROM documents WHERE doc_id % 4 = 0)"))
        _bp_blocks.append(f"""{pfx}bsz AS MATERIALIZED (
          SELECT band_id, band_key, count(*) AS bn,
                 min(doc_id) AS mn
          FROM {pfx}bands GROUP BY 1, 2)""")
        _bp_blocks.append(f"""{pfx}cand AS MATERIALIZED (
          SELECT DISTINCT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM {pfx}bands a
            JOIN {pfx}bands b ON a.band_id = b.band_id
                             AND a.band_key = b.band_key
                             AND a.doc_id < b.doc_id
            JOIN {pfx}bsz s ON s.band_id = a.band_id
                           AND s.band_key = a.band_key
            WHERE s.bn <= 512
            UNION ALL
            SELECT least(s.mn, b.doc_id), greatest(s.mn, b.doc_id)
            FROM {pfx}bands b
            JOIN {pfx}bsz s ON s.band_id = b.band_id
                           AND s.band_key = b.band_key
            WHERE s.bn > 512 AND b.doc_id <> s.mn))""")
        _bp_rows.append(f"""
        SELECT CAST({_bands} AS BIGINT) AS n_bands,
          CAST({_rpb} AS BIGINT) AS rows_per_band,
          CAST(count(*) AS BIGINT) AS n_candidates,
          CAST(sum(CASE WHEN round(
              CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
              / greatest(len(sa.s) + len(sb.s)
                         - len(list_intersect(sa.s, sb.s)), 1), 6)
              >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
        FROM {pfx}cand c
        JOIN bpshd sa ON sa.doc_id = c.id_a
        JOIN bpshd sb ON sb.doc_id = c.id_b""")
    sqls["dedup_banding_precision_sweep"] = f"""
        WITH {', '.join(_bp_blocks)},
        bpshd AS MATERIALIZED (
          SELECT doc_id, {_shingles_sql('text')} AS s FROM documents
          WHERE doc_id % 4 = 0),
        bp AS ({' UNION ALL '.join(_bp_rows)})
        SELECT n_bands, rows_per_band, n_candidates, n_verified,
          {round6_ratio_sql('CAST(n_verified AS DECIMAL(27,6))',
                            'greatest(n_candidates, 1)')} AS precision
        FROM bp
    """

    _pe_rows = " UNION ALL ".join(
        f"""SELECT CAST({p} AS BIGINT) AS n_partitions,
          CAST(count(*) AS BIGINT) AS n_buckets_used,
          CAST(min(n) AS BIGINT) AS min_rows,
          CAST(max(n) AS BIGINT) AS max_rows,
          {round6_ratio_sql(f'CAST(max(n) * {p} AS DECIMAL(27,6))',
                            'greatest(sum(n), 1)')} AS imbalance
        FROM (SELECT {hash_mod_sql('pe', 'l_orderkey', p)} AS b,
                count(*) AS n
              FROM lineitem GROUP BY 1)"""
        for p in (8, 32, 128)
    )
    sqls["layout_partition_evenness"] = _pe_rows

    # ---- r10 catalog round-out: key audit / dtype inference /
    # sortedness / masks / extremes / peak load / curation grid.
    _ku = " UNION ALL ".join(
        f"""SELECT '{tbl}' AS table_name, '{cand}' AS candidate,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT {expr}) AS BIGINT) AS n_distinct
        FROM {tbl}"""
        for tbl, cand, expr in [
            ("orders", "o_orderkey", "o_orderkey"),
            ("orders", "o_custkey", "o_custkey"),
            ("lineitem", "l_orderkey,l_linenumber",
             "(l_orderkey, l_linenumber)"),
            ("lineitem", "l_partkey,l_suppkey", "(l_partkey, l_suppkey)"),
            ("customer", "c_custkey", "c_custkey"),
            ("customer", "c_nationkey", "c_nationkey"),
        ]
    )
    sqls["profile_key_uniqueness"] = f"""
        WITH ku AS ({_ku})
        SELECT table_name, candidate, n_rows, n_distinct,
               CAST(n_rows - n_distinct AS BIGINT) AS n_dup_rows,
               (n_rows = n_distinct) AS is_key
        FROM ku
    """

    sqls["profile_dtype_inference"] = f"""
        WITH stk AS (
          SELECT 'c_name' AS col_name, c_name AS val FROM customer
          UNION ALL
          SELECT 'p_size_str', printf('%d', p_size) FROM part
          UNION ALL
          SELECT 'o_date_str', strftime(o_orderdate, '%Y-%m-%d')
          FROM orders
          UNION ALL
          SELECT 'value_str', printf('%.2f', value) FROM events
          UNION ALL
          SELECT 'props', props FROM events
        ),
        agg AS (SELECT col_name,
          CAST(count(*) AS BIGINT) AS n_values,
          CAST(sum(CASE WHEN regexp_matches(val, '^-?[0-9]+$')
                   THEN 1 ELSE 0 END) AS BIGINT) AS ni,
          CAST(sum(CASE WHEN regexp_matches(val,
                   '^-?[0-9]+(\\.[0-9]+)?$') THEN 1 ELSE 0 END)
               AS BIGINT) AS nd,
          CAST(sum(CASE WHEN regexp_matches(val,
                   '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$') THEN 1 ELSE 0
                   END) AS BIGINT) AS ndt,
          CAST(sum(CASE WHEN COALESCE(val, '') = '' THEN 1 ELSE 0 END)
               AS BIGINT) AS ne
        FROM stk GROUP BY 1)
        SELECT col_name, n_values,
          {round6_ratio_sql('CAST(ni AS DECIMAL(27,6))',
                            'greatest(n_values, 1)')} AS int_rate,
          {round6_ratio_sql('CAST(nd AS DECIMAL(27,6))',
                            'greatest(n_values, 1)')} AS double_rate,
          {round6_ratio_sql('CAST(ndt AS DECIMAL(27,6))',
                            'greatest(n_values, 1)')} AS date_rate,
          {round6_ratio_sql('CAST(ne AS DECIMAL(27,6))',
                            'greatest(n_values, 1)')} AS empty_rate
        FROM agg
    """

    _srt = " UNION ALL ".join(
        f"""SELECT '{c}' AS column_name,
          CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(CASE WHEN {c} >= p THEN 1 ELSE 0 END) AS BIGINT)
            AS n_sorted
        FROM (SELECT {c}, lag({c}) OVER (PARTITION BY l_orderkey
                ORDER BY l_linenumber, l_shipdate, l_quantity,
                         l_extendedprice, l_partkey, l_suppkey) AS p
              FROM lineitem)
        WHERE p IS NOT NULL"""
        for c in ("l_shipdate", "l_quantity", "l_extendedprice")
    )
    sqls["lineitem_sortedness_audit"] = f"""
        WITH srt AS ({_srt})
        SELECT column_name, n_pairs, n_sorted,
          {round6_ratio_sql('CAST(n_sorted AS DECIMAL(27,6))',
                            'greatest(n_pairs, 1)')} AS sorted_fraction
        FROM srt
    """

    sqls["profile_mask_census"] = """
        WITH stk AS (
          SELECT 'c_name' AS col_name, c_name AS val FROM customer
          UNION ALL SELECT 'p_brand', p_brand FROM part
          UNION ALL SELECT 'p_name', p_name FROM part
          UNION ALL SELECT 'props', props FROM events
        ),
        msk AS (SELECT col_name,
                  regexp_replace(regexp_replace(regexp_replace(val,
                    '[A-Z]+', 'A', 'g'), '[a-z]+', 'a', 'g'),
                    '[0-9]+', '9', 'g') AS mask
                FROM stk),
        agg AS (SELECT col_name, mask,
                  CAST(count(*) AS BIGINT) AS n_values
                FROM msk GROUP BY 1, 2),
        rnk AS (SELECT col_name,
                  CAST(row_number() OVER (PARTITION BY col_name
                    ORDER BY n_values DESC, mask) AS BIGINT) AS rank,
                  mask, n_values
                FROM agg)
        SELECT col_name, rank, mask, n_values FROM rnk WHERE rank <= 5
    """

    _ext = " UNION ALL ".join(
        f"""SELECT '{label}' AS col_name, '{direction}' AS direction,
          CAST(row_number() OVER (ORDER BY round({vc}, 6) {o},
               {idc}) AS BIGINT) AS rank,
          CAST({idc} AS BIGINT) AS row_id,
          round({vc}, 6) AS value
        FROM {tbl} QUALIFY rank <= 3"""
        for label, tbl, vc, idc in [
            ("events.value", "events", "value", "event_id"),
            ("o_totalprice", "orders", "o_totalprice", "o_orderkey"),
            ("c_acctbal", "customer", "c_acctbal", "c_custkey"),
            ("l_extendedprice", "lineitem", "l_extendedprice",
             "l_orderkey * 8 + l_linenumber"),
        ]
        for direction, o in (("top", "DESC"), ("bottom", "ASC"))
    )
    sqls["profile_extreme_rows"] = _ext

    sqls["events_peak_windows"] = """
        WITH win AS (SELECT
            (epoch_us(ts) // 1000000 // 300) * 300 AS window_start_sec,
            CAST(count(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1),
        rnk AS (SELECT CAST(row_number() OVER (
                  ORDER BY n_events DESC, window_start_sec) AS BIGINT)
                  AS rank,
                CAST(window_start_sec AS BIGINT) AS window_start_sec,
                n_events
                FROM win)
        SELECT rank, window_start_sec, n_events FROM rnk WHERE rank <= 5
    """

    _cg_cells = " UNION ALL ".join(
        f"""SELECT CAST({qt} AS DOUBLE) AS q_threshold,
          CAST({mw} AS BIGINT) AS min_words,
          CAST(COALESCE(sum(CASE WHEN q >= {qt} AND nw >= {mw}
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs_kept,
          CAST(COALESCE(sum(CASE WHEN q >= {qt} AND nw >= {mw}
               THEN nw ELSE 0 END), 0) AS BIGINT) AS n_words_kept
        FROM cgq"""
        for qt in ("0.25", "0.5", "0.75") for mw in (5, 20)
    )
    sqls["curation_grid_tradeoff"] = f"""
        WITH cgw AS (SELECT doc_id, text, {w} AS w FROM documents),
        cgq AS (
          SELECT CAST(len(w) AS BIGINT) AS nw,
            round(
              (CASE WHEN len(w) >= 10 AND len(w) <= 100000
                    THEN 0.25 ELSE 0.0 END)
              + (CASE WHEN round(CAST(COALESCE(list_sum(
                           list_transform(w, x -> length(x))), 0)
                         AS DOUBLE) / greatest(len(w), 1), 6) >= 3
                   AND round(CAST(COALESCE(list_sum(
                           list_transform(w, x -> length(x))), 0)
                         AS DOUBLE) / greatest(len(w), 1), 6) <= 10
                    THEN 0.25 ELSE 0.0 END)
              + (CASE WHEN round(CAST(length(regexp_replace(lower(text),
                           '[^a-z]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1), 6) >= 0.6
                    THEN 0.25 ELSE 0.0 END)
              + (CASE WHEN round(CAST(len(list_filter(w,
                           x -> list_contains({en}, x))) AS DOUBLE)
                         / greatest(len(w), 1), 6) >= 0.05
                    THEN 0.25 ELSE 0.0 END), 2) AS q
          FROM cgw
        ),
        cgt AS (SELECT CAST(count(*) AS BIGINT) AS td,
                  CAST(sum(nw) AS BIGINT) AS tw
                FROM cgq),
        cells AS ({_cg_cells})
        SELECT q_threshold, min_words, n_docs_kept, n_words_kept,
          {round6_ratio_sql('CAST(n_docs_kept AS DECIMAL(27,6))',
                            'greatest(td, 1)')} AS doc_share,
          {round6_ratio_sql('CAST(n_words_kept AS DECIMAL(27,6))',
                            'greatest(tw, 1)')} AS word_share
        FROM cells CROSS JOIN cgt
    """

    # ---- r10 multimodal planning twins: metadata-only budget tables,
    # all exact integer arithmetic over the md5-derived meta fixtures.
    _imeta = (
        f"SELECT doc_id AS id,"
        f" ({hash_mod_sql('dimw', 'doc_id', 56)}) + 8 AS w,"
        f" ({hash_mod_sql('dimh', 'doc_id', 56)}) + 8 AS h,"
        f" 3 AS c FROM documents"
    )

    sqls["image_storage_planner"] = f"""
        WITH meta AS ({_imeta}),
        cl AS (SELECT CAST(c * h * w AS BIGINT) AS b,
                 CASE WHEN (w * 100) // h < 75 THEN 'tall'
                      WHEN (w * 100) // h <= 133 THEN 'square'
                      ELSE 'wide' END AS aspect_class
               FROM meta),
        agg AS (SELECT aspect_class,
                  CAST(count(*) AS BIGINT) AS n_images,
                  CAST(sum(b) AS BIGINT) AS total_bytes
                FROM cl GROUP BY 1)
        SELECT aspect_class, n_images, total_bytes,
               CAST((total_bytes + 1048575) // 1048576 AS BIGINT)
                 AS n_shards,
               {round6_ratio_sql('CAST(total_bytes AS DECIMAL(27,6))',
                                 'greatest(n_images, 1)')} AS mean_bytes
        FROM agg
    """

    sqls["image_augment_grid"] = f"""
        WITH meta AS ({_imeta}),
        per AS (SELECT id,
                  (CASE WHEN h >= 16 THEN (h - 16) // 8 + 1 ELSE 0 END)
                  * (CASE WHEN w >= 16 THEN (w - 16) // 8 + 1 ELSE 0 END)
                    AS crops
                FROM meta),
        j AS (SELECT per.crops, d.source FROM per
              JOIN documents d ON d.doc_id = per.id),
        agg AS (SELECT source,
                  CAST(count(*) AS BIGINT) AS n_images,
                  CAST(sum(CASE WHEN crops > 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_croppable,
                  CAST(sum(crops) AS BIGINT) AS total_crops
                FROM j GROUP BY 1)
        SELECT source, n_images, n_croppable, total_crops,
               {round6_ratio_sql('CAST(total_crops AS DECIMAL(27,6))',
                                 'greatest(n_images, 1)')}
                 AS crops_per_image
        FROM agg
    """

    sqls["image_batch_packing"] = f"""
        WITH meta AS ({_imeta}),
        per AS (SELECT CAST(h AS BIGINT) AS h, CAST(w AS BIGINT) AS w,
                  CAST(count(*) AS BIGINT) AS n_images,
                  CAST(max(c * h * w) AS BIGINT) AS bytes
                FROM meta GROUP BY 1, 2),
        capd AS (SELECT h, w, n_images,
                   greatest(16384 // bytes, 1) AS batch_cap
                 FROM per)
        SELECT h, w, n_images,
               CAST(batch_cap AS BIGINT) AS batch_cap,
               CAST(n_images // batch_cap AS BIGINT) AS n_full_batches,
               CAST(n_images % batch_cap AS BIGINT) AS n_remainder
        FROM capd
    """

    sqls["video_frame_budget"] = f"""
        WITH vm AS (SELECT doc_id AS id,
                      ({hash_mod_sql('vmetaf', 'doc_id', 60)}) + 4
                        AS n_frames
                    FROM documents),
        per AS (SELECT id, CAST(n_frames AS BIGINT) AS nf,
                  (n_frames + 4) // 5 AS sw
                FROM vm),
        j AS (SELECT per.*, d.source FROM per
              JOIN documents d ON d.doc_id = per.id),
        agg AS (SELECT source,
                  CAST(count(*) AS BIGINT) AS n_videos,
                  CAST(sum(nf) AS BIGINT) AS total_frames,
                  CAST(sum(least(sw, 8)) AS BIGINT) AS total_sampled,
                  CAST(sum(CASE WHEN sw > 8 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_truncated
                FROM j GROUP BY 1)
        SELECT source, n_videos, total_frames, total_sampled,
               n_truncated,
               {round6_ratio_sql('CAST(total_sampled AS DECIMAL(27,6))',
                                 'greatest(total_frames, 1)')}
                 AS sample_rate
        FROM agg
    """

    sqls["audio_window_budget"] = f"""
        WITH am AS (SELECT doc_id AS id,
                      ({hash_mod_sql('ametas', 'doc_id', 3840)}) + 256
                        AS n_samples
                    FROM documents),
        per AS (SELECT id, CAST(n_samples AS BIGINT) AS ns,
                  CASE WHEN n_samples >= 400
                       THEN (n_samples - 400) // 160 + 1 ELSE 0 END AS nw
                FROM am),
        per2 AS (SELECT id, ns, nw,
                   CASE WHEN nw > 0 THEN 400 + (nw - 1) * 160
                        ELSE 0 END AS cov
                 FROM per),
        j AS (SELECT per2.*, d.source FROM per2
              JOIN documents d ON d.doc_id = per2.id),
        agg AS (SELECT source,
                  CAST(count(*) AS BIGINT) AS n_clips,
                  CAST(sum(CASE WHEN nw = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_too_short,
                  CAST(sum(nw) AS BIGINT) AS total_windows,
                  CAST(sum(ns - cov) AS BIGINT) AS total_tail_samples
                FROM j GROUP BY 1)
        SELECT source, n_clips, n_too_short, total_windows,
               total_tail_samples,
               {round6_ratio_sql('CAST(total_windows AS DECIMAL(27,6))',
                                 'greatest(n_clips, 1)')}
                 AS windows_per_clip
        FROM agg
    """

    sqls["image_phash_radius_sweep"] = f"""
        WITH px AS ({_px_clones}), {_wht},
        pbands AS (
          SELECT id, phash_hi, phash_lo, 0 AS band_i,
                 phash_hi & 65535 AS band_v FROM ph
          UNION ALL SELECT id, phash_hi, phash_lo, 1,
                 (phash_hi >> 16) & 65535 FROM ph
          UNION ALL SELECT id, phash_hi, phash_lo, 2,
                 phash_lo & 65535 FROM ph
          UNION ALL SELECT id, phash_hi, phash_lo, 3,
                 (phash_lo >> 16) & 65535 FROM ph
        ),
        prs AS (
          SELECT DISTINCT l.id AS li, r.id AS ri,
                 CAST(bit_count(xor(l.phash_hi, r.phash_hi))
                      + bit_count(xor(l.phash_lo, r.phash_lo))
                      AS BIGINT) AS hm
          FROM pbands l JOIN pbands r
            ON l.band_i = r.band_i AND l.band_v = r.band_v
           AND l.id < r.id
          WHERE bit_count(xor(l.phash_hi, r.phash_hi))
                + bit_count(xor(l.phash_lo, r.phash_lo)) <= 6
        )
        SELECT CAST(0 AS BIGINT) AS radius,
               (SELECT CAST(count(*) AS BIGINT) FROM prs WHERE hm <= 0)
                 AS n_pairs
        UNION ALL
        SELECT 2, (SELECT CAST(count(*) AS BIGINT) FROM prs
                   WHERE hm <= 2)
        UNION ALL
        SELECT 4, (SELECT CAST(count(*) AS BIGINT) FROM prs
                   WHERE hm <= 4)
        UNION ALL
        SELECT 6, (SELECT CAST(count(*) AS BIGINT) FROM prs
                   WHERE hm <= 6)
    """

    _cd_ma = round6_ratio_sql(
        "CAST(sum_a AS DECIMAL(27,6))", "greatest(n_px_a, 1)"
    )
    _cd_mb = round6_ratio_sql(
        "CAST(sum_b AS DECIMAL(27,6))", "greatest(n_px_b, 1)"
    )
    sqls["image_channel_drift"] = f"""
        WITH px AS ({_px_base}),
        agg AS (SELECT CAST(c AS BIGINT) AS c,
                  CAST(sum(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_px_a,
                  CAST(sum(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_px_b,
                  CAST(sum(CASE WHEN id % 2 = 0 THEN v ELSE 0 END)
                       AS BIGINT) AS sum_a,
                  CAST(sum(CASE WHEN id % 2 = 1 THEN v ELSE 0 END)
                       AS BIGINT) AS sum_b
                FROM px GROUP BY 1)
        SELECT c, n_px_a, n_px_b, sum_a, sum_b,
               {_cd_ma} AS mean_a, {_cd_mb} AS mean_b,
               ({_cd_mb}) - ({_cd_ma}) AS mean_drift
        FROM agg
    """

    # ---- r10 streaming resume tier: all three final states are
    # order/batching-independent, so the oracles are the plain batch
    # aggregations over the whole input (the stream_cms_resume
    # contract applied to the engine's own window / running-agg /
    # session-window state stores).
    sqls["stream_window_counts_resume"] = """
        SELECT epoch_us(date_trunc('hour', ts)) // 1000000
                 AS window_start_sec,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE event_type IS NOT NULL
        GROUP BY 1, 2
    """

    sqls["stream_agg_minmax_resume"] = """
        WITH r AS (SELECT event_type, round(value, 6) AS v
                   FROM events WHERE event_type IS NOT NULL)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               min(v) AS min_value,
               max(v) AS max_value,
               CAST(sum(CAST(v AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
        FROM r GROUP BY 1
    """

    sqls["stream_sessionize_resume"] = """
        WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS sec
                   FROM events WHERE user_id IS NOT NULL),
        g AS (
          SELECT user_id, sec,
            CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
                 THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)
        ),
        s AS (
          SELECT user_id, sec,
            CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY sec
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS session_seq
          FROM g
        )
        SELECT user_id,
               CAST(min(sec) AS BIGINT) AS session_start_sec,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(sec) - min(sec) AS BIGINT) AS duration_sec
        FROM s GROUP BY user_id, session_seq
    """

    # ---- r10 cluster-planning tier: the _cc_core spine with jaccard
    # CARRIED on the verified edges (so one candidate+verify pass
    # serves every threshold, exactly like the Spark side), and the
    # reach/comp recursion instantiated per sweep point.
    _ccj_spine = f"""
        {_minhash_bands_sql()},
        ccand AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        cshd AS MATERIALIZED (SELECT doc_id, {_shingles_sql('text')} AS s
                 FROM documents),
        cver AS MATERIALIZED (
          SELECT id_a, id_b,
            round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
              / greatest(len(sa.s) + len(sb.s)
                         - len(list_intersect(sa.s, sb.s)), 1),
              6) AS j
          FROM ccand
          JOIN cshd sa ON sa.doc_id = id_a
          JOIN cshd sb ON sb.doc_id = id_b
        )
    """

    def _ccj_comp(tag: str, thr: float) -> str:
        """Edges/reach/comp/sizes CTE block at one threshold."""
        return f"""
        edges_{tag} AS MATERIALIZED (
          SELECT id_a AS src, id_b AS dst FROM cver WHERE j >= {thr}
          UNION
          SELECT id_b, id_a FROM cver WHERE j >= {thr}
        ),
        reach_{tag} AS (
          SELECT src AS v, dst AS u FROM edges_{tag}
          UNION
          SELECT r.v, e.dst FROM reach_{tag} r
          JOIN edges_{tag} e ON r.u = e.src
        ),
        comp_{tag} AS (
          SELECT v, least(v, min(u)) AS component
          FROM reach_{tag} GROUP BY v
        ),
        sz_{tag} AS (
          SELECT component, count(*) AS sz FROM comp_{tag} GROUP BY 1
        )"""

    _cc_sweep_blocks = ",".join(
        _ccj_comp(t.replace(".", ""), float(t))
        for t in ("0.3", "0.5", "0.7")
    )
    _cc_sweep_stats = " UNION ALL ".join(
        f"""SELECT CAST({t} AS DOUBLE) AS threshold,
          (SELECT CAST(count(*) AS BIGINT) FROM cver WHERE j >= {t})
            AS n_edges,
          CAST(count(*) AS BIGINT) AS n_clusters,
          CAST(COALESCE(sum(sz), 0) AS BIGINT) AS n_docs_clustered,
          CAST(COALESCE(max(sz), 0) AS BIGINT) AS max_cluster_size,
          CAST(COALESCE(sum(sz), 0) - count(*) AS BIGINT) AS rows_removed
        FROM sz_{t.replace('.', '')} WHERE sz >= 2"""
        for t in ("0.3", "0.5", "0.7")
    )
    sqls["dedup_cc_threshold_sweep"] = f"""
        WITH RECURSIVE {_ccj_spine}, {_cc_sweep_blocks}
        {_cc_sweep_stats}
    """

    sqls["dedup_component_profile"] = f"""
        WITH RECURSIVE {_ccj_spine}, {_ccj_comp('p', 0.5)},
        cnw AS (SELECT doc_id,
                  CAST(len(list_filter({w}, x -> x <> '')) AS BIGINT)
                    AS nw
                FROM documents),
        lab AS (SELECT c.component, s.sz, cnw.nw
                FROM comp_p c JOIN sz_p s USING (component)
                JOIN cnw ON cnw.doc_id = c.v
                WHERE s.sz >= 2),
        per AS (SELECT CAST(sz AS BIGINT) AS cluster_size,
                  CAST(count(DISTINCT component) AS BIGINT) AS n_clusters,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(nw) AS BIGINT) AS n_words
                FROM lab GROUP BY 1),
        ctw AS (SELECT CAST(sum(nw) AS BIGINT) AS tw FROM cnw)
        SELECT cluster_size, n_clusters, n_docs, n_words,
          {round6_ratio_sql('CAST(n_words AS DECIMAL(27,6))',
                            'greatest(tw, 1)')} AS corpus_word_share
        FROM per CROSS JOIN ctw
    """

    sqls["dedup_cc_edge_density"] = f"""
        WITH RECURSIVE {_ccj_spine}, {_ccj_comp('d', 0.5)},
        ec AS (SELECT c.component, count(*) AS ne
               FROM cver v JOIN comp_d c ON c.v = v.id_a
               WHERE v.j >= 0.5 GROUP BY 1),
        per AS (SELECT CAST(s.sz AS BIGINT) AS cluster_size,
                  CAST(count(*) AS BIGINT) AS n_clusters,
                  CAST(sum(COALESCE(ec.ne, 0)) AS BIGINT) AS n_edges,
                  CAST(sum(CAST(s.sz AS BIGINT) * (s.sz - 1)) // 2
                       AS BIGINT) AS n_possible
                FROM sz_d s LEFT JOIN ec USING (component)
                WHERE s.sz >= 2 GROUP BY 1)
        SELECT cluster_size, n_clusters, n_edges, n_possible,
          {round6_ratio_sql('CAST(n_edges AS DECIMAL(27,6))',
                            'greatest(n_possible, 1)')} AS density
        FROM per
    """

    sqls["dedup_cross_source_components"] = f"""
        WITH RECURSIVE {_ccj_spine}, {_ccj_comp('x', 0.5)},
        lab AS (SELECT c.component, d.source
                FROM comp_x c JOIN documents d ON d.doc_id = c.v),
        per AS (SELECT component, count(*) AS sz,
                  count(DISTINCT source) AS ns
                FROM lab GROUP BY 1)
        SELECT CAST(ns AS BIGINT) AS n_sources,
          CAST(count(*) AS BIGINT) AS n_components,
          CAST(sum(sz) AS BIGINT) AS n_docs
        FROM per WHERE sz >= 2 GROUP BY 1
    """

    sqls["dedup_split_leakage"] = f"""
        WITH RECURSIVE {_ccj_spine}, {_ccj_comp('l', 0.5)},
        per AS (SELECT component, count(*) AS sz,
                  max(CASE WHEN v % 2 = 0 THEN 1 ELSE 0 END) AS he,
                  min(CASE WHEN v % 2 = 0 THEN 1 ELSE 0 END) AS le
                FROM comp_l GROUP BY 1),
        flg AS (SELECT sz,
                  CASE WHEN he <> le THEN 1 ELSE 0 END AS crossing
                FROM per WHERE sz >= 2)
        SELECT CAST(sz AS BIGINT) AS cluster_size,
          CAST(count(*) AS BIGINT) AS n_clusters,
          CAST(sum(crossing) AS BIGINT) AS n_crossing_clusters,
          CAST(sum(crossing * sz) AS BIGINT) AS n_docs_in_crossing
        FROM flg GROUP BY 1
    """

    # ---- r10 tokenizer economics: the vocab-grain recursive-fold
    # spine (the text_bpe_encode fixpoint recursion, at word grain
    # with corpus frequencies).  Key identity: every intermediate
    # state is retained by the UNION ALL recursion, so the state
    # ENTERING merge k is max(ntok) among rows at mi=k and the state
    # LEAVING it is min(ntok) — each single-first-occurrence replace
    # removes exactly one token, so per-merge application counts and
    # the whole compression curve are recoverable as max/min stats.
    _bq_cases = " ".join(
        f"WHEN {i} THEN regexp_replace(seq, ' {a} {b} ', ' {a}{b} ')"
        for i, (a, b) in enumerate(BPE_FIXED_MERGES)
    )
    _bq_n = len(BPE_FIXED_MERGES)
    _bq_spine = f"""
        d AS (SELECT {w} AS ws FROM documents),
        wfx AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
                FROM (SELECT unnest(ws) AS word FROM d)
                WHERE word <> '' GROUP BY 1),
        init AS (SELECT word,
                   ' ' || array_to_string(list_transform(
                       generate_series(1, length(word)),
                       i -> substring(word, i, 1)), ' ') || ' </w> ' AS seq,
                   0 AS mi
                 FROM wfx),
        step AS (
          SELECT word, seq, mi FROM init
          UNION ALL
          SELECT word,
                 CASE WHEN nseq <> seq THEN nseq ELSE seq END AS seq,
                 CASE WHEN nseq <> seq THEN mi ELSE mi + 1 END AS mi
          FROM (
            SELECT word, seq, mi, CASE mi {_bq_cases} END AS nseq
            FROM step WHERE mi < {_bq_n}
          )
        ),
        stepn AS (SELECT word, mi,
                    CAST(len(string_split(trim(seq), ' ')) AS BIGINT)
                      AS ntok
                  FROM step),
        fin AS (SELECT word, ntok FROM stepn WHERE mi = {_bq_n})
    """
    _bq_merge_vals = ", ".join(
        f"({i + 1}, '{a}', '{b}')"
        for i, (a, b) in enumerate(BPE_FIXED_MERGES)
    )

    sqls["text_bpe_merge_utilization"] = f"""
        WITH RECURSIVE {_bq_spine},
        mm(rank, a, b) AS (VALUES {_bq_merge_vals}),
        stg AS (SELECT word, mi, max(ntok) AS mx, min(ntok) AS mn
                FROM stepn WHERE mi < {_bq_n} GROUP BY 1, 2),
        ms AS (SELECT mi,
                 CAST(sum(freq * (mx - mn)) AS BIGINT) AS n_applications,
                 CAST(sum(freq * mn) AS BIGINT) AS tokens_after
               FROM stg JOIN wfx USING (word) GROUP BY 1),
        tot AS (SELECT CAST(sum(n_applications) AS BIGINT) AS t FROM ms)
        SELECT CAST(ms.mi + 1 AS BIGINT) AS merge_rank,
               mm.a AS sym_a, mm.b AS sym_b,
               n_applications, tokens_after,
               {round6_ratio_sql('CAST(n_applications AS DECIMAL(27,6))',
                                 'greatest(t, 1)')} AS reduction_share
        FROM ms JOIN mm ON mm.rank = ms.mi + 1 CROSS JOIN tot
    """

    sqls["text_bpe_compression_curve"] = f"""
        WITH RECURSIVE {_bq_spine},
        stg AS (SELECT word, mi, max(ntok) AS mx, min(ntok) AS mn
                FROM stepn WHERE mi < {_bq_n} GROUP BY 1, 2),
        curve AS (
          SELECT 0 AS k, CAST(sum(freq * mx) AS BIGINT) AS n_tokens
          FROM stg JOIN wfx USING (word) WHERE mi = 0
          UNION ALL
          SELECT mi + 1 AS k, CAST(sum(freq * mn) AS BIGINT) AS n_tokens
          FROM stg JOIN wfx USING (word) GROUP BY mi + 1
        ),
        scal AS (SELECT CAST(sum(freq) AS BIGINT) AS nw,
                   CAST(sum(freq * length(word)) AS BIGINT) AS nc
                 FROM wfx)
        SELECT CAST(k AS BIGINT) AS n_merges_applied, n_tokens,
               {round6_ratio_sql('CAST(n_tokens AS DECIMAL(27,6))',
                                 'greatest(nw, 1)')} AS fertility,
               {round6_ratio_sql('CAST(nc AS DECIMAL(27,6))',
                                 'greatest(n_tokens, 1)')} AS chars_per_token
        FROM curve CROSS JOIN scal
    """

    sqls["text_bpe_fertility_by_script"] = f"""
        WITH RECURSIVE {_bq_spine},
        cls AS (SELECT wfx.word, freq, length(wfx.word) AS wlen,
                  fin.ntok,
                  CASE WHEN regexp_matches(wfx.word, '^[a-z]+$')
                       THEN 'alpha'
                       WHEN regexp_matches(wfx.word, '^[0-9]+$')
                       THEN 'digit'
                       ELSE 'mixed' END AS word_class,
                  CASE WHEN length(wfx.word) <= 2 THEN '1-2'
                       WHEN length(wfx.word) <= 5 THEN '3-5'
                       WHEN length(wfx.word) <= 8 THEN '6-8'
                       ELSE '9+' END AS len_bucket
                FROM wfx JOIN fin ON fin.word = wfx.word),
        agg AS (SELECT word_class, len_bucket,
                  CAST(count(*) AS BIGINT) AS n_distinct_words,
                  CAST(sum(freq) AS BIGINT) AS n_words,
                  CAST(sum(freq * wlen) AS BIGINT) AS n_chars,
                  CAST(sum(freq * ntok) AS BIGINT) AS n_tokens
                FROM cls GROUP BY 1, 2)
        SELECT word_class, len_bucket, n_distinct_words, n_words, n_chars,
               n_tokens,
               {round6_ratio_sql('CAST(n_tokens AS DECIMAL(27,6))',
                                 'greatest(n_words, 1)')} AS fertility,
               {round6_ratio_sql('CAST(n_chars AS DECIMAL(27,6))',
                                 'greatest(n_tokens, 1)')} AS chars_per_token
        FROM agg
    """

    sqls["text_bpe_token_length_hist"] = f"""
        WITH RECURSIVE {_bq_spine},
        hist AS (SELECT fin.ntok AS n_tok,
                   CAST(count(*) AS BIGINT) AS n_distinct_words,
                   CAST(sum(freq) AS BIGINT) AS n_occurrences
                 FROM wfx JOIN fin ON fin.word = wfx.word GROUP BY 1),
        tot AS (SELECT CAST(sum(n_occurrences) AS BIGINT) AS t FROM hist)
        SELECT CAST(n_tok AS BIGINT) AS n_tok, n_distinct_words,
               n_occurrences,
               {round6_ratio_sql('CAST(n_occurrences AS DECIMAL(27,6))',
                                 'greatest(t, 1)')} AS occurrence_share
        FROM hist CROSS JOIN tot
    """

    sqls["text_bpe_snapshot_drift"] = f"""
        WITH RECURSIVE {_bq_spine},
        docs AS (SELECT doc_id, source, doc_id % 2 AS par, {w} AS ws
                 FROM documents),
        wocc AS (SELECT source, par, word
                 FROM (SELECT source, par, unnest(ws) AS word FROM docs)
                 WHERE word <> ''),
        tokw AS (SELECT source, par,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(fin.ntok) AS BIGINT) AS n_tokens
                 FROM wocc JOIN fin USING (word) GROUP BY 1, 2),
        dc AS (SELECT source, par, CAST(count(*) AS BIGINT) AS n_docs
               FROM docs GROUP BY 1, 2),
        sides AS (SELECT dc.source, dc.par, dc.n_docs,
                    COALESCE(tokw.n_words, 0) AS n_words,
                    COALESCE(tokw.n_tokens, 0) AS n_tokens
                  FROM dc LEFT JOIN tokw USING (source, par)),
        fert AS (SELECT source, par, n_docs, n_tokens,
                   {round6_ratio_sql('CAST(n_tokens AS DECIMAL(27,6))',
                                     'greatest(n_words, 1)')} AS fertility
                 FROM sides)
        SELECT source AS "group",
               CAST(COALESCE(sum(CASE WHEN par = 0 THEN n_docs END), 0)
                    AS BIGINT) AS n_docs_a,
               CAST(COALESCE(sum(CASE WHEN par = 1 THEN n_docs END), 0)
                    AS BIGINT) AS n_docs_b,
               CAST(COALESCE(sum(CASE WHEN par = 0 THEN n_tokens END), 0)
                    AS BIGINT) AS n_tokens_a,
               CAST(COALESCE(sum(CASE WHEN par = 1 THEN n_tokens END), 0)
                    AS BIGINT) AS n_tokens_b,
               COALESCE(max(CASE WHEN par = 0 THEN fertility END), 0.0)
                 AS fertility_a,
               COALESCE(max(CASE WHEN par = 1 THEN fertility END), 0.0)
                 AS fertility_b,
               COALESCE(max(CASE WHEN par = 1 THEN fertility END), 0.0)
                 - COALESCE(max(CASE WHEN par = 0 THEN fertility END), 0.0)
                 AS fertility_delta
        FROM fert GROUP BY 1
    """

    sqls["text_bpe_pair_stats"] = f"""
        WITH RECURSIVE {_bq_spine},
        prs AS (SELECT substring(word, i, 1) AS sym_a,
                  CASE WHEN i = length(word) THEN '</w>'
                       ELSE substring(word, i + 1, 1) END AS sym_b,
                  freq
                FROM (SELECT word, freq,
                        unnest(generate_series(1, length(word))) AS i
                      FROM wfx)),
        agg AS (SELECT sym_a, sym_b,
                  CAST(sum(freq) AS BIGINT) AS n_weighted
                FROM prs GROUP BY 1, 2),
        rnk AS (SELECT CAST(row_number() OVER (
                    ORDER BY n_weighted DESC, sym_a, sym_b) AS BIGINT)
                    AS rank, sym_a, sym_b, n_weighted
                FROM agg)
        SELECT rank, sym_a, sym_b, n_weighted FROM rnk WHERE rank <= 20
    """

    sqls["text_script_mix"] = f"""
        WITH sm AS (SELECT source,
                      length(lower(text)) AS nc,
                      length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                        AS nl,
                      length(regexp_replace(lower(text), '[^0-9]', '', 'g'))
                        AS nd,
                      length(regexp_replace(lower(text), '[^ \\t\\n]', '',
                                            'g')) AS ns
                    FROM documents),
        agg AS (SELECT source AS "group",
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(nc) AS BIGINT) AS n_chars,
                  CAST(sum(nl) AS BIGINT) AS n_letters,
                  CAST(sum(nd) AS BIGINT) AS n_digits,
                  CAST(sum(ns) AS BIGINT) AS n_spaces
                FROM sm GROUP BY 1)
        SELECT "group", n_docs, n_chars, n_letters, n_digits, n_spaces,
               CAST(n_chars - n_letters - n_digits - n_spaces AS BIGINT)
                 AS n_other,
               {round6_ratio_sql('CAST(n_letters AS DECIMAL(27,6))',
                                 'greatest(n_chars, 1)')} AS letter_share,
               {round6_ratio_sql('CAST(n_digits AS DECIMAL(27,6))',
                                 'greatest(n_chars, 1)')} AS digit_share
        FROM agg
    """

    return sqls
