"""Text analysis operators for LLM-scale data pipelines.

Not in the fuel surface (closest: fuel/datasets/text.py tokenization);
these are the training-data-pipeline extensions: language ID, quality
scoring, token counting, fingerprinting.  All pure
``pyspark.sql.functions`` — no Python in the hot path, so a 100 TB
documents table streams through whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fuel_spark.functions import (
    ensure_parallelism,
    materialize,
    norm_text,
    shingles_over_norm,
    with_materialized,
    words,
)

# Tiny per-language stopword lists (public, standard closed-class
# words).  Kept deliberately small so the oracle SQL stays readable —
# this is a heuristic language id, like fastText's char-ngram scoring
# in spirit but pure-SQL.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "por"],
}

# BPE-ish pre-tokenizer: letter runs | single digits | single
# non-alphanumeric marks (GPT-2-style pre-tokenization shape).
BPE_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


def _stopword_hits(words_col, lang: str):
    # Count with multiplicity (repeated stopwords count each time),
    # matching the oracle's list_filter/len semantics.
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words_col, lambda w: F.array_contains(arr, w)))


def lang_id(df: DataFrame, text_col: str, out_col: str = "pred_lang") -> DataFrame:
    """Pick the language whose stopwords cover the largest fraction of
    the document's words; deterministic tie-break by language code."""
    w = words(F.col(text_col))
    out = df.withColumn("_words", w)
    scores = [
        (_stopword_hits(F.col("_words"), lang) / F.greatest(F.size("_words"), F.lit(1)))
        .alias(f"score_{lang}")
        for lang in STOPWORDS
    ]
    out = out.select("*", *scores)
    # argmax with lexicographic tie-break: max over (score, -rank(lang))
    best = None
    for lang in sorted(STOPWORDS):
        cond = F.lit(True)
        for other in sorted(STOPWORDS):
            if other == lang:
                continue
            if other < lang:
                cond = cond & (F.col(f"score_{lang}") > F.col(f"score_{other}"))
            else:
                cond = cond & (F.col(f"score_{lang}") >= F.col(f"score_{other}"))
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    any_hit = F.greatest(*[F.col(f"score_{lang}") for lang in sorted(STOPWORDS)]) > 0
    out = out.withColumn(
        out_col, F.when(any_hit, F.coalesce(best, F.lit("und"))).otherwise(F.lit("und"))
    )
    return out.drop("_words")


def quality_score(df: DataFrame, text_col: str) -> DataFrame:
    """Heuristic document quality features + a combined score.

    Features mirror standard LLM-corpus filters (C4/Gopher rules):
    length, mean word length, alpha ratio, stopword ratio.
    """
    t = F.col(text_col)
    # barrier-materialize the normalized word array: it is referenced
    # by three features and would otherwise re-run the normalize+split
    # regex for each (see functions.with_materialized)
    df = with_materialized(df, "_w", words(t))
    w = F.col("_w")
    n_chars = F.length(t)
    n_words = F.size(w)
    alpha = F.length(F.regexp_replace(F.lower(t), "[^a-z]", ""))
    en_hits = _stopword_hits(w, "en")
    out = (
        df.withColumn("n_chars_q", n_chars.cast("bigint"))
        .withColumn("n_words", n_words.cast("bigint"))
        .withColumn(
            "mean_word_len",
            F.round(
                F.length(F.concat_ws("", w)).cast("double")
                / F.greatest(n_words, F.lit(1)),
                6,
            ),
        )
        .withColumn(
            "alpha_ratio",
            F.round(alpha.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        )
        .withColumn(
            "stopword_ratio",
            F.round(en_hits.cast("double") / F.greatest(n_words, F.lit(1)), 6),
        )
    )
    score = (
        F.when((F.col("n_words") >= 10) & (F.col("n_words") <= 100000), 0.25).otherwise(0.0)
        + F.when((F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10), 0.25).otherwise(0.0)
        + F.when(F.col("alpha_ratio") >= 0.6, 0.25).otherwise(0.0)
        + F.when(F.col("stopword_ratio") >= 0.05, 0.25).otherwise(0.0)
    )
    return out.withColumn("quality", F.round(score, 2)).drop("_w")


def token_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish pre-token count (regex)."""
    t = F.col(text_col)
    ws = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), "\\s+"))
    )
    bpe = F.regexp_count(t, F.lit(BPE_RE))
    return df.withColumn("ws_tokens", ws.cast("bigint")).withColumn(
        "bpe_tokens", bpe.cast("bigint")
    )


def char_entropy(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) over the
    normalized text — the cheapest gibberish/compression-artifact
    signal: natural language sits in a tight entropy band, base64
    blobs and keyboard mash fall far outside it, repeated padding
    collapses toward zero.

    One char explode (same order of work as shingling) → per-(doc,
    char) counts → per-row −p·ln p terms rounded at 9 dp → exact
    DECIMAL per-doc sum.  Docs whose normalized text is empty have no
    characters to score and are absent from the output.
    """
    out = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    out = out.select(F.col(id_col), norm_text(F.col(text_col)).alias("_n"))
    chars = out.select(
        F.col(id_col),
        F.explode(
            F.expr("transform(sequence(1, greatest(length(_n), 1)),"
                   " i -> substring(_n, i, 1))")
        ).alias("ch"),
    ).where(F.col("ch") != "")
    cc = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("k"))
    tot = cc.groupBy(id_col).agg(F.sum("k").alias("n"))
    term = cc.join(tot, id_col).select(
        F.col(id_col),
        F.col("n"),
        F.round(
            -(F.col("k") / F.col("n")) * F.log(F.col("k") / F.col("n")), 9
        ).alias("t"),
    )
    return (
        term.groupBy(id_col, "n")
        .agg(
            F.round(
                F.sum(F.col("t").cast("decimal(27,9)")).cast("double"), 6
            ).alias("char_entropy")
        )
        .select(
            F.col(id_col),
            F.col("n").cast("bigint").alias("n_chars_normed"),
            "char_entropy",
        )
    )


def tfidf_similar_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    max_df: int = 256,
) -> DataFrame:
    """Top-k related documents by sparse TF-IDF cosine — the classic
    more-like-this query (related articles, discovery feeds), as a
    term-keyed sparse join instead of any all-pairs scan.

    Two docs score only through shared terms, so join work is
    Σ_term df² — never corpus².  ``max_df`` drops terms present in
    more than that many documents (mirroring the dedup family's skew
    guards): a high-df term is stopword-like, carries ~zero IDF
    weight, and is exactly the term whose posting list would go
    quadratic.  Per-term partial products and per-doc norms round at
    9 dp before exact DECIMAL sums, so every cosine is deterministic
    at any parallelism; ranks break ties on the neighbor id.

    Output: one row per (doc_id, rank ≤ k): neighbor_id, cosine.
    """
    out = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    terms = out.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    # tf is consumed 2x (the df count, the weighting join); unit 2x
    # (both sides of the term self-join)
    tf = materialize(
        terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    DEC9 = "decimal(27,9)"
    weighted = (
        tf.join(dfreq.where(F.col("df") <= max_df), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "w", F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
        )
    )
    norms = weighted.groupBy(id_col).agg(
        F.sqrt(
            F.sum(F.round(F.col("w") * F.col("w"), 9).cast(DEC9)).cast(
                "double"
            )
        ).alias("_nrm")
    )
    unit = materialize(
        weighted.join(norms, id_col)
        .where(F.col("_nrm") > 0)
        .select(
            F.col(id_col), "term", (F.col("w") / F.col("_nrm")).alias("u")
        )
    )
    a = unit.select(
        F.col(id_col).alias("id_a"), "term", F.col("u").alias("ua")
    )
    b = unit.select(
        F.col(id_col).alias("id_b"), "term", F.col("u").alias("ub")
    )
    pair = (
        a.join(b, "term")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("ua") * F.col("ub"), 9).cast(DEC9)
                ).cast("double"),
                6,
            ).alias("cosine")
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b"))
    return (
        pair.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def source_divergence(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Per-group unigram KL divergence to the corpus-wide distribution
    — the domain-shift diagnostic for mixture design (a source whose
    language diverges hard from the blend deserves its own mixture
    weight; near-zero divergence means it adds volume, not diversity).
    KL(p_group ‖ p_corpus) = Σ_w p_g(w) · ln(p_g(w)/p_c(w)); finite
    by construction since every group word is a corpus word.

    One tokenize/explode pass feeds all four tallies ((group, word),
    word, group, corpus totals); the only large join is (group, word)
    × word on the word key — vocabulary-sized, not corpus-sized.
    Per-word terms round at 9 dp before the exact DECIMAL sum, so the
    aggregate is deterministic at any parallelism.
    """
    out = ensure_parallelism(df.select(F.col(group_col).alias("g"), F.col(text_col)))
    w = out.select("g", F.explode(words(F.col(text_col))).alias("w")).where(
        F.col("w") != ""
    )
    gw = w.groupBy("g", "w").agg(F.count(F.lit(1)).alias("n_gw"))
    cw = w.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    gt = w.groupBy("g").agg(F.count(F.lit(1)).alias("n_g"))
    ct = w.agg(F.count(F.lit(1)).alias("n_c"))
    term = (
        gw.join(cw, "w")
        .join(gt, "g")
        .crossJoin(F.broadcast(ct))
        .select(
            "g",
            "n_g",
            F.round(
                (F.col("n_gw") / F.col("n_g"))
                * F.log(
                    (F.col("n_gw") / F.col("n_g"))
                    / (F.col("n_w") / F.col("n_c"))
                ),
                9,
            ).alias("t"),
        )
    )
    return (
        term.groupBy("g", "n_g")
        .agg(
            F.round(
                F.sum(F.col("t").cast("decimal(27,9)")).cast("double"), 6
            ).alias("kl_divergence")
        )
        .select(
            F.col("g").alias(group_col),
            F.col("n_g").cast("bigint").alias("n_words"),
            "kl_divergence",
        )
    )


def clean_text(
    df: DataFrame,
    text_col: str,
    out_col: str = "clean_text",
    strip_html: bool = False,
) -> DataFrame:
    """Ingest-tier text cleanup: C0/C1 control characters become
    spaces, whitespace runs collapse to single spaces, ends trim —
    the first stage of every crawl pipeline (raw HTML extraction
    leaves NULs, form feeds, and ragged whitespace that break
    downstream tokenizers and shingles).  ``strip_html=True``
    additionally removes ``<...>`` tag spans and unescapes the five
    core entities (&amp; &lt; &gt; &quot; &#39;) first — the
    raw-crawl tier, for corpora that skipped a real extractor.

    Pure projection, zero shuffle; ``n_chars_removed`` quantifies the
    cleanup per row so a quality dashboard can flag sources whose
    extraction is misbehaving.
    """
    src = F.col(text_col)
    if strip_html:
        src = F.regexp_replace(src, "<[^>]*>", " ")
        for ent, ch in (
            ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
            ("&#39;", "'"), ("&amp;", "&"),
        ):
            src = F.replace(src, F.lit(ent), F.lit(ch))
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(src, "[\\x00-\\x08\\x0b-\\x1f\\x7f]", " "),
            "\\s+",
            " ",
        )
    )
    return df.withColumn(out_col, cleaned).withColumn(
        "n_chars_removed",
        (F.length(F.col(text_col)) - F.length(F.col(out_col))).cast("bigint"),
    )


def feature_hashing(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_features: int = 1024,
) -> DataFrame:
    """Hashing-trick bag-of-words (Weinberger et al. 2009): each word
    hashes into one of ``n_features`` slots, per-document slot counts
    form a fixed-width sparse feature vector with NO vocabulary fit —
    the standard way to featurize an unbounded vocabulary at corpus
    scale (no global dictionary, no second pass, no OOV).

    Emitted in exploded long form (id, slot, count) rather than a
    dense array: sparse rows stay sparse on the wire, downstream
    aggregation/joins key on slot directly, and the shape is
    SQL-portable.  Slot = first-8-md5-hex-digits mod n_features —
    the engine-agnostic hash used by the whole dedup family, so the
    oracle reproduces it bit-for-bit.  One explode + one
    map-side-combinable rollup; no shuffle carries raw text.
    """
    out = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    out = out.select(F.col(id_col), words(F.col(text_col)).alias("_ws"))
    out = out.select(
        F.col(id_col), F.explode("_ws").alias("_w")
    ).where(F.col("_w") != "")
    slot = F.expr(
        f"CAST(conv(substring(md5(_w), 1, 8), 16, 10) AS BIGINT) % {n_features}"
    )
    return (
        out.select(F.col(id_col), slot.alias("slot"))
        .groupBy(id_col, "slot")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def tf_idf_top_terms(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 3
) -> DataFrame:
    """Top-N characteristic terms per document by TF-IDF.

    Two shuffles total: (doc, word) term counts, then a broadcast of
    the (small) document-frequency table back onto terms.  idf uses
    ln((N+1)/(df+1)) + 1 (smoothed); per-row arithmetic → portable.
    N rides along as a broadcast 1-row relation inside the same plan
    (no separate driver-side count pass over the corpus).
    Output: id, word, tf, df, tfidf, term_rank.
    """
    from pyspark.sql import Window

    n_df = df.select(F.count(F.lit(1)).cast("double").alias("_n"))
    terms = (
        df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = terms.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("word")
    )
    return (
        terms.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(n_df))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("_n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ),
        )
        .withColumn("term_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("term_rank") <= top_n)
        .select(id_col, "word", "tf", "df", "tfidf", "term_rank")
    )


def fingerprint(
    df: DataFrame, text_col: str, k: int = 5, num_keep: int = 4,
    out_col: str = "fingerprint",
) -> DataFrame:
    """Document fingerprint: the num_keep lexicographically-smallest
    md5 hashes of the text's char-k-shingles (min-k sketch — the
    set-sketch at the heart of winnowing/minhash dedup)."""
    out = ensure_parallelism(df).withColumn("_norm", norm_text(F.col(text_col)))
    sh = shingles_over_norm("_norm", k)
    hashed = F.transform(sh, lambda s: F.md5(s))
    sketch = F.slice(F.array_sort(hashed), 1, num_keep)
    return out.withColumn(out_col, F.concat_ws("", sketch)).drop("_norm")


def remove_stopwords(
    df: DataFrame, text_col: str, lang: str = "en", out_col: str = "content_words"
) -> DataFrame:
    """Drop closed-class words from the token stream — the standard
    pre-step before TF-IDF/topic features.  Pure array filter in
    codegen; no shuffle."""
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    w = words(F.col(text_col))
    kept = F.filter(w, lambda x: ~F.array_contains(arr, x))
    # barrier so the filtered array (and its normalize+split input)
    # evaluates once, not once per referencing expression
    return with_materialized(df, out_col, kept).withColumn(
        f"n_{out_col}", F.size(out_col).cast("bigint")
    )


def sentence_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Per-document sentence segmentation stats: count and mean
    length in characters.  Sentences split on runs of [.!?]; empty
    segments (trailing punctuation) are ignored.  Pure projection."""
    segs = F.filter(
        F.transform(F.split(F.col(text_col), "[.!?]+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    df = with_materialized(df, "_segs", segs)
    n = F.size("_segs")
    total_chars = F.aggregate(
        F.col("_segs"), F.lit(0), lambda acc, s: acc + F.length(s)
    )
    return (
        df.withColumn("n_sentences", n.cast("bigint"))
        .withColumn(
            "mean_sentence_chars",
            F.round(total_chars.cast("double") / F.greatest(n, F.lit(1)), 6),
        )
        .drop("_segs")
    )


def ngram_counts(
    df: DataFrame, text_col: str, n: int = 2, min_count: int = 1
) -> DataFrame:
    """Corpus-wide word n-gram counts (the count table of an n-gram
    language model).  One explode + one groupBy shuffle on the gram
    key — the canonical map-side-combinable aggregation.
    Output: gram (words joined by space), cnt.
    """
    w = words(F.col(text_col))
    # guard short docs: sequence(1, 0) would count DOWN in Spark
    grams = F.expr(
        f"CASE WHEN size(_w) >= {n} THEN"
        f" transform(sequence(1, size(_w) - {n - 1}),"
        f" i -> array_join(slice(_w, i, {n}), ' '))"
        f" ELSE CAST(array() AS array<string>) END"
    )
    out = (
        df.withColumn("_w", w)
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if min_count > 1:
        out = out.where(F.col("cnt") >= min_count)
    return out


def top_ngrams_by_group(
    df: DataFrame,
    group_col: str,
    text_col: str,
    n: int = 3,
    k: int = 5,
) -> DataFrame:
    """Top-``k`` word n-grams per group — the per-domain boilerplate
    fingerprint (a domain whose top trigrams are navigation chrome is
    a dedup/cleaning candidate; cf. :func:`ngram_counts`, the
    corpus-global tier).

    One explode + one (group, gram) count shuffle (map-side
    combinable), then a rank window PARTITIONED BY GROUP (never
    SinglePartition) with deterministic ties (count desc, gram asc).
    Per-group output is capped at k rows, so result size is
    groups × k regardless of corpus size.

    Output: group, gram, cnt, rank.
    """
    from pyspark.sql import Window

    w = words(F.col(text_col))
    grams = F.expr(
        f"CASE WHEN size(_w) >= {n} THEN"
        f" transform(sequence(1, size(_w) - {n - 1}),"
        f" i -> array_join(slice(_w, i, {n}), ' '))"
        f" ELSE CAST(array() AS array<string>) END"
    )
    counted = (
        df.withColumn("_w", w)
        .select(F.col(group_col), F.explode(grams).alias("gram"))
        .groupBy(group_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rank_w = Window.partitionBy(group_col).orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    )
    return (
        counted.withColumn(
            "rank", F.row_number().over(rank_w).cast("bigint")
        )
        .where(F.col("rank") <= k)
        .select(group_col, "gram", "cnt", "rank")
    )


def source_vocab_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_k: int = 100,
) -> DataFrame:
    """Pairwise Jaccard of the top-``k`` vocabularies between domains
    — the domain-similarity matrix a mixture designer reads next to
    the KL divergences (``source_divergence`` measures each domain vs
    the blend; this measures domains against EACH OTHER).

    One token-count pass, a group-partitioned top-k rank window, then
    the pairwise join runs over the TOP-K SETS ONLY: work is
    groups² × k, never corpus-sized (a 1000-domain corpus is 10⁶·k
    — still tiny).  Set sizes join in exactly (a group can carry
    fewer than k distinct words).

    Output: group_a, group_b (a < b), inter, uni, jaccard.
    """
    from pyspark.sql import Window

    counted = (
        df.withColumn("_w", words(F.col(text_col)))
        .select(F.col(group_col).alias("_g"), F.explode("_w").alias("_t"))
        .where(F.col("_t") != "")
        .groupBy("_g", "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy("_g").orderBy(
        F.col("_c").desc(), F.col("_t").asc()
    )
    top = counted.withColumn("_r", F.row_number().over(w)).where(
        F.col("_r") <= top_k
    )
    sizes = top.groupBy("_g").agg(F.count(F.lit(1)).alias("_sz"))
    a = top.select(F.col("_g").alias("group_a"), "_t")
    b = top.select(F.col("_g").alias("group_b"), "_t")
    inter = (
        a.join(b, "_t")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    pairs = (
        sizes.select(F.col("_g").alias("group_a"), F.col("_sz").alias("_sa"))
        .crossJoin(
            sizes.select(
                F.col("_g").alias("group_b"), F.col("_sz").alias("_sb")
            )
        )
        .where(F.col("group_a") < F.col("group_b"))
    )
    return (
        pairs.join(inter, ["group_a", "group_b"], "left")
        .withColumn("inter", F.coalesce("inter", F.lit(0)).cast("bigint"))
        .withColumn(
            "uni", (F.col("_sa") + F.col("_sb") - F.col("inter")).cast("bigint")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double") / F.col("uni").cast("double"),
                6,
            ),
        )
        .select("group_a", "group_b", "inter", "uni", "jaccard")
    )


def snapshot_vocab_churn(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary churn between two corpus snapshots: distinct words
    gained (new-only), lost (old-only), and shared — with occurrence
    mass on the side that carries it (gained/shared count in the NEW
    snapshot, lost in the OLD).  The vocabulary twin of the
    length-PSI drift screen: topic drift shows up here before it
    moves the length distribution.

    Two token-count passes onto word-keyed tables, one full-outer
    word join (vocab-sized), a 3-row rollup.

    Output: status, n_words, n_occurrences.
    """
    def vocab(df: DataFrame, cname: str) -> DataFrame:
        return (
            df.withColumn("_w", words(F.col(text_col)))
            .select(F.explode("_w").alias("_t"))
            .where(F.col("_t") != "")
            .groupBy("_t")
            .agg(F.count(F.lit(1)).alias(cname))
        )

    o = vocab(old, "_co")
    n = vocab(new, "_cn")
    status = (
        F.when(F.col("_co").isNull(), F.lit("gained"))
        .when(F.col("_cn").isNull(), F.lit("lost"))
        .otherwise(F.lit("shared"))
    )
    mass = F.when(F.col("_cn").isNotNull(), F.col("_cn")).otherwise(
        F.col("_co")
    )
    return (
        o.join(n, "_t", "full_outer")
        .select(status.alias("status"), mass.alias("_m"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_m").cast("bigint").alias("n_occurrences"),
        )
    )


def repetition_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", Table A1): duplicate-word fraction,
    duplicate-bigram fraction, and the fraction of the document taken
    by the single most frequent bigram.

    All per-row array expressions in codegen — no shuffle; the
    top-bigram scan is O(distinct_bigrams x n_bigrams) per document,
    bounded by document length, never by corpus size.
    """
    out = df.withColumn("_w", words(F.col(text_col)))
    bigrams = F.expr(
        "CASE WHEN size(_w) >= 2 THEN"
        " transform(sequence(1, size(_w) - 1),"
        " i -> array_join(slice(_w, i, 2), ' '))"
        " ELSE CAST(array() AS array<string>) END"
    )
    out = out.withColumn("_bg", bigrams)
    nw = F.size("_w").cast("double")
    nbg = F.size("_bg").cast("double")
    top_bg = F.expr(
        "CASE WHEN size(_bg) = 0 THEN 0 ELSE"
        " array_max(transform(array_distinct(_bg),"
        " g -> size(filter(_bg, x -> x = g)))) END"
    )
    return (
        out.withColumn("n_words", F.size("_w").cast("bigint"))
        .withColumn(
            "dup_word_frac",
            F.round(
                (nw - F.size(F.array_distinct("_w"))) / F.greatest(nw, F.lit(1.0)), 6
            ),
        )
        .withColumn(
            "dup_bigram_frac",
            F.round(
                (nbg - F.size(F.array_distinct("_bg"))) / F.greatest(nbg, F.lit(1.0)),
                6,
            ),
        )
        .withColumn(
            "top_bigram_frac",
            F.round(top_bg.cast("double") / F.greatest(nbg, F.lit(1.0)), 6),
        )
        .drop("_w", "_bg")
    )


# PII patterns chosen to parse identically under Java regex (Spark)
# and RE2 (DuckDB): plain character classes, no lookaround.
PII_PATTERNS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone": "\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}",
    "ipv4": "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
}


def redact_pii(
    df: DataFrame, text_col: str, out_col: str = "redacted"
) -> DataFrame:
    """Scrub emails / phone numbers / IPv4 literals, the standard
    pre-training privacy pass: each match is replaced by a typed
    sentinel (``<EMAIL>`` etc.) and counted per document.

    Pure projection (regexp_replace + regexp_count in codegen);
    patterns apply in a fixed order so overlapping matches resolve
    deterministically in both engines.
    """
    red = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.regexp_count(red, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return df.select("*", *counts).withColumn(out_col, red)


def unigram_logprob(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Corpus-unigram language-model score per document: the mean
    log10 probability of the document's tokens under the corpus's own
    unigram distribution — the classic cheap fluency/outlier filter
    (CCNet uses a KenLM for the same purpose; the unigram LM is its
    portable, in-plan reduction).

    The corpus is tokenized ONCE into per-doc term frequencies; the
    corpus count table derives from those (sum of tf), the total rides
    along as a broadcast 1-row relation (no driver pass), and scoring
    joins the doc x distinct-word table — smaller than the raw token
    stream by the in-doc repetition factor.  Per-word log probs are
    rounded then tf-weighted and summed as DECIMAL (exactly the sum
    over token occurrences), so the per-doc mean is bit-deterministic
    at any parallelism.
    Output: id, n_tokens, mean_logprob.
    """
    tf = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(words(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    counts = tf.groupBy("word").agg(F.sum("tf").alias("cnt"))
    total = counts.select(F.sum("cnt").cast("double").alias("_total"))
    lp6 = F.round(
        F.log10(F.col("cnt").cast("double") / F.col("_total")), 6
    ).cast("decimal(27,6)")
    scored = (
        tf.join(F.broadcast(counts), "word")
        .crossJoin(F.broadcast(total))
        .withColumn("_wlp", lp6 * F.col("tf"))
    )
    from fuel_spark.functions import round6_ratio

    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum("_wlp").alias("_sum_lp"),
        )
        .withColumn(
            # exact integer rounding of the RATIONAL sum/n — round of
            # the double quotient flips at half-way boundaries
            # between engines (see functions.round6_ratio)
            "mean_logprob",
            round6_ratio(F.col("_sum_lp"), F.col("n_tokens")),
        )
        .drop("_sum_lp")
    )


def lexical_diversity(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document vocabulary-richness block: type-token ratio, hapax
    fraction, and Shannon word entropy — the standard cheap signals for
    boilerplate/templated text (low entropy, low TTR) vs natural prose.

    Linear, scale-safe shape: explode once to (doc, word) term
    frequencies (same tokenization contract as :func:`unigram_logprob`),
    then one map-side-combinable groupBy per doc.  Entropy uses the
    single-pass identity  H = log2(n) - sum(c*log2 c)/n  so no second
    join for the doc total is needed.  Docs with zero tokens are kept
    (left join back) with zeroed stats, mirroring the empty-doc rule of
    ``dictionary_encode``.
    Output: id, n_words, n_distinct, ttr, hapax_frac, entropy.
    """
    tf = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(words(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    per_doc = tf.groupBy(id_col).agg(
        F.sum("tf").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)).alias("_hapax"),
        # round the transcendental per-term, then sum as exact DECIMAL
        # (same determinism contract as unigram_logprob): reordering the
        # sum across partitions cannot change a bit
        F.sum(
            F.round(
                F.col("tf").cast("double") * F.log2(F.col("tf").cast("double")),
                6,
            ).cast("decimal(27,6)")
        ).alias("_clog"),
    )
    n = F.col("n_words").cast("double")
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_distinct", F.lit(0)).cast("bigint").alias("n_distinct"),
            F.when(
                F.col("n_words").isNull(), F.lit(0.0)
            ).otherwise(
                F.round(F.col("n_distinct").cast("double") / n, 6)
            ).alias("ttr"),
            F.when(
                F.col("n_distinct").isNull(), F.lit(0.0)
            ).otherwise(
                F.round(F.col("_hapax").cast("double") / F.col("n_distinct"), 6)
            ).alias("hapax_frac"),
            F.when(
                F.col("n_words").isNull(), F.lit(0.0)
            ).otherwise(
                F.round(F.log2(n) - F.col("_clog").cast("double") / n, 6)
            ).alias("entropy"),
        )
    )


def corpus_stats(
    df: DataFrame,
    text_col: str = "text",
    group_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """Corpus composition report per stratum (the mixture dashboard
    every pre-training run starts from — what the reference's users
    compute with driver-side numpy over full epochs): document count,
    token totals/means, and exact median document length.

    One map-side-combinable groupBy on the stratum key; token count is
    the same whitespace rule as :func:`token_counts` (parity-proven
    against the oracle).  percentile() is exact and equals DuckDB's
    quantile_cont — fine at a few thousand strata, swap to
    approx_percentile when strata are huge and exactness is not
    contractual.
    """
    t = F.col(text_col)
    ws = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), "\\s+"))
    )
    out = df.withColumn("_tok", ws.cast("bigint"))
    return (
        out.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").alias("total_tokens"),
            F.round(
                F.sum(F.col("_tok").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_tokens"),
            F.round(F.expr("percentile(_tok, 0.5)"), 6).alias("p50_tokens"),
            F.sum(F.length(t).cast("bigint")).alias("total_chars"),
        )
    )


POS_LEXICON = ("good", "great", "fast", "big", "excellent", "love", "best")
NEG_LEXICON = ("bad", "poor", "slow", "small", "terrible", "hate", "worst")


def sentiment_score(
    df: DataFrame,
    text_col: str,
    pos: tuple[str, ...] = POS_LEXICON,
    neg: tuple[str, ...] = NEG_LEXICON,
) -> DataFrame:
    """Lexicon-based sentiment polarity per document (the distributed
    scale-out of dictionary sentiment scoring, cf. "Large Scale
    Sentiment Analysis on Twitter with Spark", EDBT 2016): count
    positive/negative lexicon hits over the normalized token stream
    and derive polarity in [-1, 1] plus a 3-way label.

    Pure per-row array expressions in codegen (token membership via a
    literal array — the lexicon travels inside the plan, no join, no
    shuffle); occurrences count multiplicity, not distinct presence.
    """
    out = df.withColumn("_w", words(F.col(text_col)))
    pos_arr = F.array(*[F.lit(x) for x in pos])
    neg_arr = F.array(*[F.lit(x) for x in neg])
    n_pos = F.size(F.filter(F.col("_w"), lambda x: F.array_contains(pos_arr, x)))
    n_neg = F.size(F.filter(F.col("_w"), lambda x: F.array_contains(neg_arr, x)))
    out = (
        out.withColumn("n_pos", n_pos.cast("bigint"))
        .withColumn("n_neg", n_neg.cast("bigint"))
    )
    tot = F.col("n_pos") + F.col("n_neg")
    polarity = F.when(tot == 0, F.lit(0.0)).otherwise(
        F.round((F.col("n_pos") - F.col("n_neg")).cast("double") / tot, 6)
    )
    return (
        out.withColumn("polarity", polarity)
        .withColumn(
            "sentiment",
            F.when(F.col("polarity") > 0.2, "positive")
            .when(F.col("polarity") < -0.2, "negative")
            .otherwise("neutral"),
        )
        .drop("_w")
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
) -> DataFrame:
    """BM25 keyword retrieval (Robertson & Zaragoza 2009) — score every
    document against a term query and return the top-N, the keyword
    leg of hybrid (keyword + vector) retrieval over a training corpus.

    Scale shape: the query-term list is an in-plan literal filter, so
    only matching (doc, term) rows survive the explode; document
    frequency and average length ride along as broadcast relations
    (|terms| rows and 1 row — never corpus-width).  idf uses the
    standard ln(1 + (N-df+0.5)/(df+0.5)); all arithmetic is per-row
    double ops on deterministic counts, portable to the oracle.
    Output: id, n_terms_hit, score (round 6), rank.
    """
    from pyspark.sql import Window

    q = F.array(*[F.lit(t) for t in query_terms])
    lengths = df.select(
        F.col(id_col),
        F.size(F.filter(words(F.col(text_col)), lambda x: x != "")).alias("_len"),
    )
    stats = lengths.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        (F.sum(F.col("_len").cast("decimal(27,6)")).cast("double")
         / F.count(F.lit(1))).alias("_avglen"),
    )
    terms = (
        df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("word"))
        .where(F.array_contains(q, F.col("word")))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = terms.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0 + (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("_len") / F.col("_avglen")))
    )
    scored = (
        terms.join(F.broadcast(dfreq), "word")
        .join(lengths, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("_term_score", idf * tf_part)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            # per-term scores rounded then decimal-summed: the per-doc
            # total cannot depend on float accumulation order
            F.round(
                F.sum(F.round(F.col("_term_score"), 9).cast("decimal(27,9)"))
                .cast("double"),
                6,
            ).alias("score"),
        )
    )
    # top-N via sort-limit (executes as per-partition TakeOrdered — no
    # single-partition window over every matched doc), then rank the
    # already-tiny result
    top = scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(top_n)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into fixed-size token windows for
    context-length training prep (the standard LM chunking shape:
    ``chunk_size`` whitespace-normalized tokens per chunk, windows
    advancing by ``stride`` tokens so consecutive chunks overlap by
    ``chunk_size - stride``).

    LLM-pipeline extension (no fuel analogue; the closest reference
    surface is fuel/transformers/sequences.py Window, which slides
    over a flat stream — this chunks WITHIN each document).  All JVM
    expressions: words once (barrier-materialized), ``sequence`` for
    the start offsets, ``slice`` per chunk — no Python, no shuffle;
    the explode is the only row expansion and it is bounded by
    len/stride per doc.  A trailing window that is fully contained in
    its predecessor (the previous chunk already reached the end of
    the doc) is dropped, so every emitted chunk contributes at least
    one new token.  Empty documents emit no chunks.  ``stride <=
    chunk_size`` covers every token (property-tested); a larger
    stride is deliberate gap-sampling and skips tokens between
    windows.

    Output: ``id_col``, chunk_id (0-based window index), start
    (0-based token offset), n_tokens, chunk_text.
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    base = df.select(F.col(id_col), F.col(text_col).alias("_t"))
    base = with_materialized(base, "_words", words(F.col("_t")))
    n = F.size("_words")
    starts = F.when(
        F.length(F.trim(norm_text(F.col("_t")))) == 0,
        F.array().cast("array<int>"),
    ).otherwise(
        F.sequence(F.lit(0), n - 1, F.lit(stride)).cast("array<int>")
    )
    exploded = base.select(
        id_col, "_words", F.explode(starts).alias("start")
    ).where(
        (F.col("start") == 0)
        | (F.col("start") - stride + chunk_size < F.size("_words"))
    )
    chunk = F.slice("_words", F.col("start") + 1, F.lit(chunk_size))
    return exploded.select(
        F.col(id_col),
        (F.col("start") / stride).cast("int").alias("chunk_id"),
        F.col("start"),
        F.size(chunk).alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target,
    buckets: int = 256,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): per-document log importance weight
    ``sum_f count(f) * ln(p_target(f) / p_raw(f))`` over hashed
    unigram features, used to resample a raw corpus toward a target
    domain.  ``is_target`` is a boolean Column marking the target
    rows inside ``df`` (the usual setup: a small trusted slice of the
    same corpus).

    One tokenize pass: per-(doc, bucket) term frequencies feed BOTH
    the bucket distributions (raw + target derived from the same tf
    table, Laplace +1 smoothing) and the scoring join; the bucket
    table is at most ``buckets`` rows, broadcast.  The per-bucket
    log-ratio is rounded then tf-weighted and summed as DECIMAL, so
    the weight is bit-deterministic at any parallelism and
    hash-matches the DuckDB oracle.  Feature hashing is the portable
    md5-prefix bigint (fuel_spark.functions.shingle_hashes_expr
    convention), so Spark and the oracle bucket identically.

    Output: id, n_tokens, log_weight (higher = more target-like).
    """
    toks = (
        ensure_parallelism(
            df.select(F.col(id_col), F.col(text_col), is_target.alias("_tgt"))
        )
        .select(
            F.col(id_col),
            "_tgt",
            F.explode(words(F.col(text_col))).alias("_w"),
        )
        .where(F.col("_w") != "")
        .withColumn(
            "_b",
            F.expr(
                f"CAST(conv(substring(md5(_w), 1, 8), 16, 10) AS BIGINT) % {buckets}"
            ),
        )
    )
    tf = toks.groupBy(id_col, "_tgt", "_b").agg(F.count(F.lit(1)).alias("_tf"))
    bt = tf.groupBy("_b").agg(
        F.sum("_tf").alias("_cr"),
        F.sum(F.when(F.col("_tgt"), F.col("_tf")).otherwise(F.lit(0))).alias("_ct"),
    )
    tot = bt.select(
        F.sum("_cr").cast("double").alias("_r"),
        F.sum("_ct").cast("double").alias("_t"),
    )
    lr6 = F.round(
        F.log((F.col("_ct") + 1.0) / (F.col("_t") + buckets))
        - F.log((F.col("_cr") + 1.0) / (F.col("_r") + buckets)),
        6,
    ).cast("decimal(27,6)")
    bucket_lr = bt.crossJoin(F.broadcast(tot)).select("_b", lr6.alias("_lr6"))
    return (
        tf.join(F.broadcast(bucket_lr), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_tf").alias("n_tokens"),
            F.sum(F.col("_lr6") * F.col("_tf")).cast("double").alias("log_weight"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    MOSS local document fingerprinting): positional char ``k``-gram
    hashes, then the minimum hash of every ``window`` consecutive
    grams is selected; the distinct selected hashes are the document's
    fingerprint set.  Guarantees a shared substring of length
    ``k + window - 1`` between two docs yields a shared fingerprint —
    the locality property plain min-k sampling (ops.text.fingerprint)
    lacks.

    All JVM expressions: the positional gram-hash array materializes
    once per doc (barrier), windows are ``slice`` + ``array_min`` —
    no shuffle before the final explode.  Ties collapse through the
    distinct (the standard relaxation of the rightmost-tie rule).
    Docs shorter than ``k`` chars (normalized) emit nothing.

    Output: id, fingerprint (bigint) — one row per distinct selected
    hash; feed into the segment/minhash join machinery for
    plagiarism-style overlap detection.
    """
    base = df.select(F.col(id_col), norm_text(F.col(text_col)).alias("_n"))
    base = with_materialized(
        base,
        "_hs",
        F.expr(
            f"""CASE WHEN length(_n) < {k} THEN CAST(array() AS ARRAY<BIGINT>)
            ELSE transform(sequence(1, length(_n) - {k} + 1),
                 i -> CAST(conv(substring(md5(substring(_n, i, {k})), 1, 8), 16, 10) AS BIGINT))
            END"""
        ),
    )
    fps = F.when(
        F.size("_hs") < window,
        # fewer grams than one window: the doc's single window is the
        # whole gram list (standard winnowing edge case)
        F.when(F.size("_hs") > 0, F.array(F.array_min("_hs"))).otherwise(
            F.expr("CAST(array() AS ARRAY<BIGINT>)")
        ),
    ).otherwise(
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(_hs) - {window} + 1),"
                f" i -> array_min(slice(_hs, i, {window})))"
            )
        )
    )
    return base.select(
        F.col(id_col), F.explode(fps).alias("fingerprint")
    )


def oov_rate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dictionary: DataFrame,
) -> DataFrame:
    """Vocabulary coverage: per-document token count, OOV count, and
    OOV rate against a ``(word, word_id)`` dictionary (the
    ``sources.text.build_dictionary`` relation) — the go/no-go check
    before committing a tokenizer vocab to a training run.

    One tokenize pass; the dictionary joins broadcast (a vocab is
    small by construction) so the corpus never shuffles.  Documents
    with zero tokens emit nothing (nothing to cover).

    Output: id, n_tokens, n_oov, oov_rate (round 6).
    """
    toks = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(words(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
    )
    vocab = dictionary.select("word").withColumn("_in", F.lit(1))
    return (
        toks.join(F.broadcast(vocab), "word", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("_in").isNull(), F.lit(1))).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6),
        )
    )


def train_bpe(
    df: DataFrame,
    text_col: str,
    n_merges: int = 16,
    end_of_word: str = "</w>",
) -> list[tuple[str, str, int]]:
    """Byte-pair-encoding merge training (Sennrich, Haddow & Birch
    2016): iteratively merge the most frequent adjacent symbol pair.

    The Spark-shaped insight is the same one the reference algorithm
    uses: BPE statistics live on the WORD-FREQUENCY table, not the
    corpus — one corpus pass builds (distinct word, count), and every
    merge iteration then runs on that vocabulary-sized table (pair
    explode → weighted count → argmax), so ``n_merges`` iterations
    cost n_merges tiny shuffles, not corpus scans.  The adjacent-pair
    merge applies as a JVM ``aggregate`` fold over each word's symbol
    array (left-to-right, the reference order).  The per-iteration
    1-row argmax collect is the fit-loop action (same contract as
    KMeans / connected components); ties break on the
    lexicographically smallest pair, so training is deterministic.

    Returns the merge table: [(sym_a, sym_b, pair_count), ...] in
    merge order — feed to a tokenizer or inspect as the vocab.
    """
    wf = (
        ensure_parallelism(df.select(F.col(text_col)))
        .select(F.explode(words(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # word → symbol array: chars + end-of-word marker
    wf = materialize(
        wf.select(
            F.expr(
                f"concat(transform(sequence(1, length(w)),"
                f" i -> substring(w, i, 1)), array('{end_of_word}'))"
            ).alias("syms"),
            "freq",
        )
    )

    merges: list[tuple[str, str, int]] = []
    for it in range(n_merges):
        pairs = wf.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(element_at(syms, i) AS a,"
                    "             element_at(syms, i + 1) AS b))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((a, b, n))
        qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
        wf = wf.select(
            F.expr(
                f"""aggregate(syms, CAST(array() AS ARRAY<STRING>),
                    (acc, x) -> CASE WHEN size(acc) > 0
                                      AND element_at(acc, -1) = '{qa}'
                                      AND x = '{qb}'
                                THEN concat(slice(acc, 1, size(acc) - 1),
                                            array('{qa}{qb}'))
                                ELSE concat(acc, array(x)) END)"""
            ).alias("syms"),
            "freq",
        )
        if (it + 1) % 4 == 0:
            # the loop carries wf: a round replays at most 3 folds
            wf = materialize(wf)
    return merges


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    end_of_word: str = "</w>",
    vocab_dedup: bool = False,
) -> DataFrame:
    """Apply trained BPE merges (:func:`train_bpe`) to a corpus: each
    word starts as chars + end-of-word marker and every merge applies
    in training order via the same left-to-right JVM aggregate fold.

    One projection per merge, with a Generate barrier
    (``with_materialized``) every 4 merges — Catalyst would otherwise
    collapse the chained folds into one exponentially-nested
    expression (the projection-collapse trap this engine already pins
    for regex pipelines).  Output: id, tokens (the per-doc BPE symbol
    sequence, words flattened in order), n_tokens.

    ``vocab_dedup=True`` is the scale tier: the fold runs once per
    DISTINCT word (natural-language vocabularies are ~1e4-1e6 rows
    while word occurrences are the corpus), the encoded vocab joins
    back as a BROADCAST (so hub words like "the" never become a
    shuffle hot key), and per-doc order is restored with one
    groupBy(doc) sort of (pos, tokens) structs — the single corpus
    shuffle in the plan.  Same output, bit for bit (tested); the 20x
    smoke measured 46.8s inline vs 5.5s deduped on 100k docs under an
    honest all-column force (a bare count() reads 1.5s because
    Catalyst elides the unique-keyed spine join — don't trust it).
    """
    if vocab_dedup:
        return _bpe_encode_vocab(df, id_col, text_col, merges, end_of_word)
    d = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    d = with_materialized(d, "_ws", words(F.col(text_col)))
    d = d.select(
        F.col(id_col),
        F.expr(
            f"""transform(filter(_ws, w -> w <> ''),
                w -> concat(transform(sequence(1, length(w)),
                                      i -> substring(w, i, 1)),
                            array('{end_of_word}')))"""
        ).alias("_sw"),
    )
    for i, m in enumerate(merges):
        a, b = m[0], m[1]
        qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
        fold = (
            f"""transform(_sw, syms -> aggregate(syms,
                CAST(array() AS ARRAY<STRING>),
                (acc, x) -> CASE WHEN size(acc) > 0
                                  AND element_at(acc, -1) = '{qa}'
                                  AND x = '{qb}'
                            THEN concat(slice(acc, 1, size(acc) - 1),
                                        array('{qa}{qb}'))
                            ELSE concat(acc, array(x)) END))"""
        )
        if (i + 1) % 4 == 0:
            d = with_materialized(
                d.select(id_col, F.expr(fold).alias("_sw0")).withColumnRenamed(
                    "_sw0", "_pre"
                ),
                "_sw",
                F.col("_pre"),
            ).drop("_pre")
        else:
            d = d.select(id_col, F.expr(fold).alias("_sw"))
    return d.select(
        F.col(id_col),
        F.flatten("_sw").alias("tokens"),
        F.size(F.flatten("_sw")).alias("n_tokens"),
    )


def _bpe_fold_vocab(vocab: DataFrame, merges, end_of_word: str) -> DataFrame:
    """Apply the merge table to one word per row (the shared
    vocab-grain fold behind ``bpe_encode(vocab_dedup=True)`` and
    :func:`bpe_fertility`): same left-to-right JVM aggregate as the
    inline tier, with the Generate barrier every 4 merges.
    Input column ``word``; output (word, _toks)."""
    v = vocab.select(
        "word",
        F.expr(
            f"""array(concat(transform(sequence(1, length(word)),
                                       i -> substring(word, i, 1)),
                             array('{end_of_word}')))"""
        ).alias("_sw"),
    )
    for i, m in enumerate(merges):
        a, b = m[0], m[1]
        qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
        fold = (
            f"""transform(_sw, syms -> aggregate(syms,
                CAST(array() AS ARRAY<STRING>),
                (acc, x) -> CASE WHEN size(acc) > 0
                                  AND element_at(acc, -1) = '{qa}'
                                  AND x = '{qb}'
                            THEN concat(slice(acc, 1, size(acc) - 1),
                                        array('{qa}{qb}'))
                            ELSE concat(acc, array(x)) END))"""
        )
        if (i + 1) % 4 == 0:
            v = with_materialized(
                v.select("word", F.expr(fold).alias("_pre")), "_sw",
                F.col("_pre"),
            ).drop("_pre")
        else:
            v = v.select("word", F.expr(fold).alias("_sw"))
    return v.select("word", F.col("_sw")[0].alias("_toks"))


def _bpe_encode_vocab(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges,
    end_of_word: str,
) -> DataFrame:
    """Vocab-deduped tier of :func:`bpe_encode` (see its docstring)."""
    from pyspark.sql.functions import broadcast

    base = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    base = with_materialized(base, "_ws", words(F.col(text_col)))
    wpos = base.select(
        F.col(id_col),
        F.posexplode(F.expr("filter(_ws, w -> w <> '')")).alias(
            "pos", "word"
        ),
    )
    vocab = wpos.select("word").distinct()
    enc_vocab = _bpe_fold_vocab(vocab, merges, end_of_word)
    joined = wpos.join(broadcast(enc_vocab), "word")
    per_doc = joined.groupBy(id_col).agg(
        F.flatten(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, _toks))),"
                " s -> s._toks)"
            )
        ).alias("tokens")
    )
    # id spine: documents whose every word normalizes away still get a
    # row (empty tokens), matching the inline tier
    spine = base.select(F.col(id_col))
    return (
        spine.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(
                "tokens", F.expr("CAST(array() AS ARRAY<STRING>)")
            ).alias("tokens"),
        )
        .withColumn("n_tokens", F.size("tokens"))
    )


def span_corruption(
    df: DataFrame,
    id_col: str,
    text_col: str,
    rate: float = 0.15,
    mean_span: int = 3,
    seed: int = 7,
) -> DataFrame:
    """T5 span-corruption training pairs (Raffel et al. 2020 §3.1.4):
    mask ~``rate`` of each document's tokens in spans of mean length
    ``mean_span``, emitting the denoising (input, target) pair —
    masked runs collapse to numbered ``<extra_id_k>`` sentinels in the
    input, the target lists each sentinel followed by the words it
    hides.  (T5 additionally appends a terminal sentinel to the
    target; omitted here, documented.)

    DETERMINISTIC by construction: the per-position randomness is an
    md5-derived integer over (salt, seed, doc id, position) — the
    repo's minhash parity trick — so the masking is reproducible
    across runs, partitionings, AND engines (the DuckDB oracle
    replays it exactly; this is what makes a stochastic-looking
    training-data op exact-hash checkable).  A position starts a span
    with probability rate/mean_span; span length is
    1 + (u2 mod (2*mean_span - 1)), mean = mean_span; overlapping
    spans merge into one masked run (numbered by first position).

    Scale shape: one explode to (doc, pos) rows, start positions
    expand via a bounded ``sequence`` explode (span length <=
    2*mean_span - 1), run numbering and the final (input, target)
    assembly are windows/aggregations partitioned BY DOCUMENT —
    never global — and the corpus shuffles once on doc id.  Output:
    id, n_words, n_masked, n_spans, input_text, target_text.
    """
    from pyspark.sql import Window

    start_ppm = int(round(rate / mean_span * 1_000_000))
    span_mod = 2 * mean_span - 1
    d = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    d = with_materialized(d, "_ws", words(F.col(text_col)))
    base = d.select(id_col, F.expr("filter(_ws, w -> w <> '')").alias("_fw"))
    spine = base.select(
        F.col(id_col), F.size("_fw").cast("bigint").alias("n_words")
    )
    pos = base.select(
        id_col, F.size("_fw").alias("_n"),
        F.posexplode("_fw").alias("_p0", "word"),
    ).select(
        id_col, "_n", (F.col("_p0") + 1).alias("p"), "word",
        F.expr(
            f"CAST(conv(substring(md5(concat('sc1:', {seed}, ':', {id_col},"
            f" ':', _p0 + 1)), 1, 8), 16, 10) AS BIGINT)"
        ).alias("_u1"),
        F.expr(
            f"CAST(conv(substring(md5(concat('sc2:', {seed}, ':', {id_col},"
            f" ':', _p0 + 1)), 1, 8), 16, 10) AS BIGINT)"
        ).alias("_u2"),
    )
    # `pos` (the explode + two md5 draws per word position) is consumed
    # 2x: the span-start pass and the token assembly join
    pos = materialize(pos)
    starts = pos.where(F.col("_u1") % 1_000_000 < start_ppm).select(
        id_col, "p", "_n",
        (F.lit(1) + F.col("_u2") % span_mod).alias("_len"),
    )
    covered = (
        starts.select(
            id_col,
            F.explode(
                F.expr("sequence(p, least(p + _len - 1, _n))")
            ).alias("p"),
        )
        .distinct()
    )
    w_ord = Window.partitionBy(id_col).orderBy("p")
    runs = (
        covered.withColumn("_isl", F.col("p") - F.row_number().over(w_ord))
        .withColumn(
            "run_id",
            F.dense_rank().over(Window.partitionBy(id_col).orderBy("_isl")),
        )
        .withColumn(
            "run_first",
            F.row_number().over(
                Window.partitionBy(id_col, "_isl").orderBy("p")
            ) == 1,
        )
        .select(id_col, "p", "run_id", "run_first")
    )
    toks = pos.join(runs, [id_col, "p"], "left").select(
        id_col, "p", "word", "run_id", "run_first",
        F.when(F.col("run_id").isNull(), F.col("word"))
        .when(
            F.col("run_first"),
            F.concat(F.lit("<extra_id_"), F.col("run_id") - 1, F.lit(">")),
        )
        .otherwise(F.lit(None))
        .alias("_in_tok"),
        F.when(
            F.col("run_first"),
            F.concat(
                F.lit("<extra_id_"), F.col("run_id") - 1, F.lit("> "),
                F.col("word"),
            ),
        )
        .when(F.col("run_id").isNotNull(), F.col("word"))
        .otherwise(F.lit(None))
        .alias("_tg_tok"),
    )
    agg = toks.groupBy(id_col).agg(
        F.expr(
            "concat_ws(' ', transform(filter(array_sort(collect_list("
            "struct(p, _in_tok))), s -> s._in_tok IS NOT NULL),"
            " s -> s._in_tok))"
        ).alias("input_text"),
        F.expr(
            "concat_ws(' ', transform(filter(array_sort(collect_list("
            "struct(p, _tg_tok))), s -> s._tg_tok IS NOT NULL),"
            " s -> s._tg_tok))"
        ).alias("target_text"),
        F.sum(
            F.when(F.col("run_id").isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_masked"),
        F.count_distinct(
            F.when(F.col("run_first"), F.col("run_id"))
        ).cast("bigint").alias("n_spans"),
    )
    return (
        spine.join(agg, id_col, "left")
        .select(
            F.col(id_col),
            "n_words",
            F.coalesce("n_masked", F.lit(0)).cast("bigint").alias("n_masked"),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("input_text", F.lit("")).alias("input_text"),
            F.coalesce("target_text", F.lit("")).alias("target_text"),
        )
    )


def mlm_masking(
    df: DataFrame,
    id_col: str,
    text_col: str,
    rate: float = 0.15,
    vocab_size: int = 4096,
    seed: int = 7,
    mask_token: str = "[MASK]",
) -> DataFrame:
    """BERT masked-LM training pairs (Devlin et al. 2019 §3.1): select
    ~``rate`` of each document's tokens; of the selected, 80% become
    ``mask_token``, 10% are replaced by a corpus-vocabulary word and
    10% stay unchanged — emitting the corrupted input plus position-
    tagged labels (``p:word``) so the original is recoverable.

    DETERMINISTIC like :func:`span_corruption`: all three decisions
    (select / action / replacement pick) are md5-derived integers
    over (salt, seed, doc, pos), and the replacement vocabulary is
    :func:`fuel_spark.sources.build_dictionary`'s frequency-ranked
    top-``vocab_size`` table (ties lexicographic), so the whole
    transform replays bit-exactly across runs, partitionings and
    engines — oracle-checkable despite looking stochastic.  The
    action split is exact 80/10/10 by residue (u2 mod 10: 0-7 mask,
    8 random, 9 keep).

    Scale shape: the vocab is TakeOrdered + a vocab-sized window
    (the ``build_dictionary`` pattern) and broadcasts to the
    replacement join; everything else is one explode to (doc, pos),
    per-document aggregation, one doc-keyed shuffle.  Output: id,
    n_words, n_selected, n_masked, n_random, n_kept, input_text,
    labels_text.
    """
    from pyspark.sql.functions import broadcast

    from fuel_spark.sources.text import FIRST_WORD_ID, build_dictionary

    sel_ppm = int(round(rate * 1_000_000))
    d = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    d = with_materialized(d, "_ws", words(F.col(text_col)))
    base = d.select(id_col, F.expr("filter(_ws, w -> w <> '')").alias("_fw"))
    spine = base.select(
        F.col(id_col), F.size("_fw").cast("bigint").alias("n_words")
    )
    pos = base.select(
        id_col, F.posexplode("_fw").alias("_p0", "word")
    ).select(
        id_col, (F.col("_p0") + 1).alias("p"), "word",
        *[
            F.expr(
                f"CAST(conv(substring(md5(concat('mlm{i}:', {seed}, ':',"
                f" {id_col}, ':', _p0 + 1)), 1, 8), 16, 10) AS BIGINT)"
            ).alias(f"_u{i}")
            for i in (1, 2, 3)
        ],
    )
    vocab = build_dictionary(df, text_col, vocab_size)
    vsize = vocab.groupBy().agg(F.count(F.lit(1)).alias("_v"))
    sel = (
        pos.where(F.col("_u1") % 1_000_000 < sel_ppm)
        .crossJoin(broadcast(vsize))
        .select(
            id_col, "p",
            (F.col("_u2") % 10).alias("_act"),
            (
                F.col("_u3") % F.greatest(F.col("_v"), F.lit(1))
                + F.lit(FIRST_WORD_ID)
            ).alias("_pick"),
        )
        .join(
            broadcast(
                vocab.select(
                    F.col("word_id").alias("_pick"),
                    F.col("word").alias("_rw"),
                )
            ),
            "_pick",
            "left",
        )
        .select(id_col, "p", "_act", "_rw")
    )
    toks = pos.join(sel, [id_col, "p"], "left").select(
        id_col, "p", "_act",
        F.when(F.col("_act").isNull(), F.col("word"))
        .when(F.col("_act") <= 7, F.lit(mask_token))
        .when(F.col("_act") == 8, F.coalesce("_rw", F.col("word")))
        .otherwise(F.col("word"))
        .alias("_in_tok"),
        F.when(
            F.col("_act").isNotNull(),
            F.concat(F.col("p"), F.lit(":"), F.col("word")),
        ).alias("_lab_tok"),
    )
    agg = toks.groupBy(id_col).agg(
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list("
            "struct(p, _in_tok))), s -> s._in_tok))"
        ).alias("input_text"),
        F.expr(
            "concat_ws(' ', transform(filter(array_sort(collect_list("
            "struct(p, _lab_tok))), s -> s._lab_tok IS NOT NULL),"
            " s -> s._lab_tok))"
        ).alias("labels_text"),
        F.sum(F.when(F.col("_act").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_selected"),
        F.sum(F.when(F.col("_act") <= 7, 1).otherwise(0))
        .cast("bigint").alias("n_masked"),
        F.sum(F.when(F.col("_act") == 8, 1).otherwise(0))
        .cast("bigint").alias("n_random"),
        F.sum(F.when(F.col("_act") == 9, 1).otherwise(0))
        .cast("bigint").alias("n_kept"),
    )
    return spine.join(agg, id_col, "left").select(
        F.col(id_col), "n_words",
        F.coalesce("n_selected", F.lit(0)).cast("bigint").alias("n_selected"),
        F.coalesce("n_masked", F.lit(0)).cast("bigint").alias("n_masked"),
        F.coalesce("n_random", F.lit(0)).cast("bigint").alias("n_random"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("input_text", F.lit("")).alias("input_text"),
        F.coalesce("labels_text", F.lit("")).alias("labels_text"),
    )


def c4_filters(
    df: DataFrame, id_col: str, text_col: str, keep_cols: tuple = ()
) -> DataFrame:
    """C4-style rule filters (Raffel et al. 2020, §2.2) adapted to
    single-line documents: per-doc boolean flags for each rule plus the
    conjunction ``keep`` — the standard first-pass web-corpus cleaner.

    Rules: minimum word count, sane mean word length (3–10), no code
    markers (braces), no "lorem ipsum" boilerplate, terminal
    punctuation or prose-like alpha ratio.  Every flag is a pure
    projection over one normalized-word materialization (Generate
    barrier, single regex pass) — zero shuffles, streams through
    codegen at any scale.  Flags stay in the output so downstream can
    re-weight instead of hard-dropping.  ``keep_cols`` pass extra
    columns through (so rollups like :func:`quality_by_source` need no
    join back to the corpus).
    """
    t = F.col(text_col)
    df = with_materialized(
        df.select(F.col(id_col), t, *[F.col(c) for c in keep_cols]),
        "_w", words(t),
    )
    w = F.col("_w")
    n_words = F.size(w)
    mean_wl = F.length(F.concat_ws("", w)).cast("double") / F.greatest(
        n_words, F.lit(1)
    )
    alpha = F.length(F.regexp_replace(F.lower(t), "[^a-z]", ""))
    alpha_ratio = alpha.cast("double") / F.greatest(F.length(t), F.lit(1))
    lower = F.lower(t)
    flags = {
        "too_short": n_words < 10,
        "bad_word_len": ~((mean_wl >= 3.0) & (mean_wl <= 10.0)),
        "has_brace": lower.contains("{") | lower.contains("}"),
        "has_lorem": lower.contains("lorem ipsum"),
        "low_alpha": alpha_ratio < 0.6,
    }
    out = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        *[c.alias(name) for name, c in flags.items()],
    )
    keep = ~(
        F.col("too_short")
        | F.col("bad_word_len")
        | F.col("has_brace")
        | F.col("has_lorem")
        | F.col("low_alpha")
    )
    return out.withColumn("keep", keep)


def policy_filters(
    df: DataFrame, id_col: str, text_col: str, keep_cols: tuple = ()
) -> DataFrame:
    """Robots/license/policy-boilerplate flags — the compliance
    companion to :func:`c4_filters` (r5): C4's policy-page removal
    (Raffel et al. 2020 §2.2 drops pages whose text is terms-of-
    service / privacy / cookie boilerplate), robots ``noindex``
    honoring, and license-string detection in the The-Stack/StarCoder
    style (Kocetkov et al. 2022 filter by license signal; here the
    in-text markers).

    Flags: ``has_noindex`` (robots opt-out), ``rights_reserved``
    ("all rights reserved"), ``policy_page`` (ToS/privacy/cookie
    boilerplate), ``has_copyright`` (copyright line or ©) and
    ``cc_licensed`` (Creative-Commons marker).  ``keep`` excludes
    only noindex/rights-reserved/policy pages; copyright and CC are
    ATTRIBUTION signals, not drop rules — a pipeline that wants to
    train only on permissive text filters on ``cc_licensed``
    explicitly.  Pure projection over one lowercase pass — zero
    shuffles, whole-stage codegen at any scale.
    """
    t = F.col(text_col)
    low = F.lower(t)
    policy_markers = (
        "terms of service", "terms of use", "privacy policy",
        "cookie policy", "uses cookies",
    )
    policy = None
    for m in policy_markers:
        c = low.contains(m)
        policy = c if policy is None else (policy | c)
    flags = {
        "has_noindex": low.contains("noindex"),
        "rights_reserved": low.contains("all rights reserved"),
        "policy_page": policy,
        "has_copyright": low.contains("copyright") | t.contains("©"),
        "cc_licensed": low.contains("creative commons")
        | low.contains("cc-by"),
    }
    out = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        *[c.alias(name) for name, c in flags.items()],
    )
    keep = ~(
        F.col("has_noindex")
        | F.col("rights_reserved")
        | F.col("policy_page")
    )
    return out.withColumn("keep", keep)


def quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seed: int = 7,
    alpha: float = 9.0,
) -> DataFrame:
    """GPT-3-style quality-classifier filtering (Brown et al. 2020,
    Appendix A): score documents with a trained classifier, then keep a
    document when ``score > threshold_sample`` so high-scoring docs are
    kept deterministically and the low-scoring tail is sampled in
    proportion to its score — preserving diversity instead of
    hard-thresholding.

    The "classifier" here is the reproducible stand-in for a trained
    model: a fixed-weight linear scorer over the same features as
    :func:`quality_score`, squashed by a logistic.  The stochastic
    keep rule uses a deterministic md5 uniform per (seed, doc), so the
    result is a pure projection — zero shuffles, identical on any
    cluster size, and exactly re-expressible in the SQL oracle.
    ``keep  iff  score > u ** alpha`` (u uniform): mirrors the paper's
    Pareto-tail rule — almost always keeps score≈1 docs, keeps a
    score-proportional sliver of the rest.
    """
    from fuel_spark.functions import det_key

    t = F.col(text_col)
    df = with_materialized(
        df.select(F.col(id_col), t), "_w", words(t)
    )
    w = F.col("_w")
    n_words = F.size(w).cast("double")
    mean_wl = F.length(F.concat_ws("", w)).cast("double") / F.greatest(
        F.size(w), F.lit(1)
    )
    alpha_ratio = (
        F.length(F.regexp_replace(F.lower(t), "[^a-z]", "")).cast("double")
        / F.greatest(F.length(t), F.lit(1))
    )
    stop_ratio = _stopword_hits(w, "en").cast("double") / F.greatest(
        F.size(w), F.lit(1)
    )
    # fixed "trained" weights: prose-like docs (stopwords present,
    # alpha-heavy, mid-length words) score high
    z = (
        F.lit(-3.0)
        + F.lit(0.01) * F.least(n_words, F.lit(300.0))
        + F.lit(4.0) * alpha_ratio
        + F.lit(8.0) * stop_ratio
        - F.lit(0.4) * F.abs(mean_wl - F.lit(5.0))
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    # deterministic uniform in [0,1): first 8 md5 hex digits / 2^32
    u = (
        F.conv(F.substring(det_key(seed, F.col(id_col)), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    return df.select(
        F.col(id_col),
        F.round(score, 6).alias("score"),
        F.round(u, 6).alias("u"),
        (F.round(score, 6) > F.pow(F.round(u, 6), F.lit(alpha))).alias("keep"),
    )


def length_histogram(
    df: DataFrame, len_col: str = "n_chars", bucket: int = 50
) -> DataFrame:
    """Document-length histogram: counts per fixed-width length bucket
    plus each bucket's share — the one-glance corpus shape check (and
    the input to truncation/chunking policy decisions).

    Map-side-combinable single shuffle over |buckets| groups; shares
    divide exact BIGINTs.
    """
    from pyspark.sql import Window as W

    b = (F.floor(F.col(len_col) / bucket) * bucket).cast("bigint")
    h = df.groupBy(b.alias("bucket_lo")).agg(F.count(F.lit(1)).alias("n_docs"))
    total = F.sum("n_docs").over(W.partitionBy())
    return (
        h.select(
            "bucket_lo",
            (F.col("bucket_lo") + bucket).alias("bucket_hi"),
            "n_docs",
            F.round(F.col("n_docs").cast("double") / total, 6).alias("share"),
        )
        .orderBy("bucket_lo")
    )


def canonical_url(url) -> F.Column:
    """Canonicalize a URL column: lowercase; drop scheme, ``www.``,
    fragment, tracking parameters (utm_*/fbclid/gclid); sort the
    surviving query params; trim trailing slashes.  Pure per-row
    string expressions — zero shuffle, and exactly re-expressible in
    the SQL oracle.
    """
    u = F.lower(F.trim(url))
    u = F.regexp_replace(u, "^https?://", "")
    u = F.regexp_replace(u, "^www\\.", "")
    u = F.split_part(u, F.lit("#"), F.lit(1))
    path = F.regexp_replace(F.split_part(u, F.lit("?"), F.lit(1)), "/+$", "")
    qs = F.split_part(u, F.lit("?"), F.lit(2))
    params = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: ~(
                p.startswith("utm_")
                | p.startswith("fbclid=")
                | p.startswith("gclid=")
                | (p == "")
            ),
        )
    )
    joined = F.array_join(params, "&")
    return F.when(joined == "", path).otherwise(
        F.concat(path, F.lit("?"), joined)
    )


def url_dedup(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """URL-level exact dedup after canonicalization — the standard
    crawl-corpus first pass (the same page arrives as http/https,
    with/without www, with tracking params, trailing slash, fragment).

    Canonicalization is a projection; the keeper rule is min(id) per
    canonical URL — one 8-byte-key map-side-combinable shuffle, the
    same scale shape as ``exact_dedup``.
    Output: id, canonical_url, is_dup (true for every non-keeper).
    """
    canon = df.select(
        F.col(id_col), canonical_url(F.col(url_col)).alias("canonical_url")
    )
    keepers = canon.groupBy("canonical_url").agg(
        F.min(id_col).alias("_keep_id")
    )
    return (
        canon.join(keepers, "canonical_url")
        .select(
            F.col(id_col),
            "canonical_url",
            (F.col(id_col) != F.col("_keep_id")).alias("is_dup"),
        )
    )


def quality_by_source(df: DataFrame, id_col: str, text_col: str,
                      *strata: str) -> DataFrame:
    """Per-stratum corpus-quality rollup: document counts, mean length,
    and the fraction surviving the C4 rule filters — the
    which-source-is-dirty dashboard that decides mixture weights.

    Composes :func:`c4_filters` (zero-shuffle projection, strata
    passed through via ``keep_cols`` — no join back to the corpus)
    with one map-side-combinable rollup over |strata| groups.
    """
    flags = c4_filters(df, id_col, text_col, keep_cols=tuple(strata))
    return (
        flags.groupBy(*strata)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("n_words").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_words"),
            F.round(
                F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("keep_frac"),
        )
        .orderBy(*strata)
    )


def doc_frequency_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 2, top: int = 20
) -> DataFrame:
    """Highest document-frequency n-grams: the fraction of documents
    containing each n-gram — high-DF n-grams are boilerplate/template
    candidates (the signal `ngram_counts` term frequency misses, since
    one spammy doc can dominate TF).

    One tokenize pass; per-doc n-gram sets (array_distinct) so each doc
    votes once; corpus size rides as a broadcast 1-row relation; top-k
    is TakeOrdered with a full tiebreak.
    """
    d = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    d = with_materialized(d, "_w", words(F.col(text_col)))
    grams = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size(_w) - {n - 1}, 1)),"
            f" i -> array_join(slice(_w, i, {n}), ' '))"
        )
    )
    n_docs = d.select(F.count(F.lit(1)).alias("_n_docs"))
    dfreq = (
        d.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs_containing"))
    )
    return (
        dfreq.crossJoin(F.broadcast(n_docs))
        .select(
            "ngram",
            "n_docs_containing",
            F.round(
                F.col("n_docs_containing").cast("double") / F.col("_n_docs"),
                6,
            ).alias("doc_frac"),
        )
        .orderBy(F.desc("n_docs_containing"), F.asc("ngram"))
        .limit(top)
    )


def dup_rate_by_source(
    df: DataFrame, text_col: str, *strata: str
) -> DataFrame:
    """Exact-duplicate rate per stratum: distinct text digests vs doc
    count — the quick which-feed-is-replaying screen before the heavier
    near-dup passes.

    The digest is 16 bytes per row on the wire (md5), one map-side-
    combinable rollup per stratum.
    """
    d = df.select(*[F.col(s) for s in strata], F.md5(F.col(text_col)).alias("_h"))
    return (
        d.groupBy(*strata)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("_h").alias("n_unique"),
        )
        .select(
            *strata,
            "n_docs",
            "n_unique",
            F.round(
                F.lit(1.0)
                - F.col("n_unique").cast("double") / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
        )
        .orderBy(*strata)
    )


def shingle_uniqueness(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Per-document shingle-uniqueness ratio: distinct char-k-shingles
    over total shingle positions — a repetitiveness signal in the
    Gopher family (templated/looping text scores low) that reuses the
    dedup pipeline's exact shingle definition.

    Pure projection over one normalized materialization; zero shuffle.
    """
    d = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    d = with_materialized(d, "_norm", norm_text(F.col(text_col)))
    total = F.greatest(F.length("_norm") - (k - 1), F.lit(1)).cast("bigint")
    distinct = F.size(shingles_over_norm("_norm", k)).cast("bigint")
    return d.select(
        F.col(id_col),
        total.alias("n_shingles"),
        distinct.alias("n_distinct_shingles"),
        F.round(distinct.cast("double") / total, 6).alias("uniqueness"),
    )


def lang_confusion(
    df: DataFrame, label_col: str, text_col: str
) -> DataFrame:
    """Language-ID confusion matrix: predicted vs labeled language
    with per-label recall shares — the accuracy readout that turns
    :func:`lang_id` from a feature into an evaluated classifier.

    One projection (the classifier is stopword arithmetic) + one
    |langs|² rollup; shares divide exact counts over a window on the
    aggregate rows only.
    """
    from pyspark.sql import Window as W

    pred = lang_id(df.select(F.col(label_col), F.col(text_col)), text_col)
    c = pred.groupBy(
        F.col(label_col).alias("lang_true"), F.col("pred_lang")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(W.partitionBy("lang_true"))
    return c.select(
        "lang_true",
        "pred_lang",
        "n",
        F.round(F.col("n").cast("double") / tot, 6).alias("share_of_true"),
    ).orderBy("lang_true", "pred_lang")


def word_length_histogram(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus word-length distribution with shares — the tokenizer
    sanity curve (a spike at extreme lengths signals markup/garbage
    the mean-word-length filter only sees in aggregate).

    One tokenize pass, |lengths|-row rollup, shares over the tiny
    aggregate.
    """
    from pyspark.sql import Window as W

    d = ensure_parallelism(df.select(F.col(text_col)))
    lens = (
        d.select(F.explode(words(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .select(F.length("w").alias("word_len"))
        .groupBy("word_len")
        .agg(F.count(F.lit(1)).alias("n_words"))
    )
    total = F.sum("n_words").over(W.partitionBy())
    return (
        lens.select(
            "word_len",
            "n_words",
            F.round(F.col("n_words").cast("double") / total, 6).alias("share"),
        )
        .orderBy("word_len")
    )


def vocab_coverage_curve(
    df: DataFrame, text_col: str, checkpoints: tuple = (10, 100, 1000)
) -> DataFrame:
    """Vocabulary coverage curve: what share of the corpus token mass
    the top-N words cover, for each checkpoint N — the vocabulary-size
    sizing input (where the curve flattens is where a bigger dict
    stops paying).

    One tokenize pass to word counts; the top-maxN slice is a
    sort-limit (TakeOrdered — the unbounded vocabulary never sorts in
    one task), ranked and cumulated over the bounded result; total
    mass rides as a broadcast 1-row relation.
    """
    from pyspark.sql import Window as W

    max_n = max(checkpoints)
    counts = (
        ensure_parallelism(df.select(F.col(text_col)))
        .select(F.explode(words(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.groupBy().agg(
        F.sum("cnt").cast("double").alias("_total")
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("w")).limit(max_n)
    w = W.orderBy(F.desc("cnt"), F.asc("w"))
    ranked = top.withColumn("rank", F.row_number().over(w)).withColumn(
        "cum",
        F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    marks = F.array(*[F.lit(c) for c in checkpoints])
    return (
        ranked.where(F.array_contains(marks, F.col("rank")))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank").alias("top_n"),
            F.col("cum").alias("n_tokens_covered"),
            F.round(F.col("cum").cast("double") / F.col("_total"), 6).alias(
                "coverage"
            ),
        )
        .orderBy("top_n")
    )


def bigram_logprob(
    df: DataFrame, id_col: str, text_col: str, alpha: float = 1.0
) -> DataFrame:
    """Corpus-bigram language-model score per document: mean log10 of
    add-α-smoothed conditional bigram probabilities
    p(w₂|w₁) = (c(w₁w₂) + α) / (c(w₁) + α·V) — the next tier above
    :func:`unigram_logprob` (word order now matters: scrambled text
    scores low even when its unigram mix is fluent), i.e. the
    portable KenLM-style fluency filter.

    One tokenize pass feeds both per-doc bigram tfs and (by summing
    them) the corpus bigram/unigram count tables; V (vocabulary) and
    nothing else rides as a broadcast 1-row relation.  The scoring
    join is keyed on the bigram (doc-distinct bigrams, smaller than
    the token stream by in-doc repetition); history counts join
    broadcast-or-shuffle on w₁ as AQE measures.  Per-bigram log
    probs round(6) then tf-weight and sum as exact DECIMAL — the
    per-doc mean is bit-deterministic at any parallelism.
    Output: id, n_bigrams, mean_logprob2.
    """
    d = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    d = with_materialized(d, "_w", words(F.col(text_col)))
    # the size(_w) >= 2 guard inside the lambda drops the spurious
    # element the greatest(...) floor creates for single-word docs
    # (an untyped empty-array CASE branch would not type-unify)
    grams = F.expr(
        "filter(transform(sequence(1, greatest(size(_w) - 1, 1)),"
        "   i -> struct(element_at(_w, i) AS w1,"
        "               element_at(_w, least(i + 1, size(_w))) AS w2)),"
        "   g -> size(_w) >= 2 AND g.w1 != '' AND g.w2 != '')"
    )
    doc_bi = (
        d.select(F.col(id_col), F.explode(grams).alias("g"))
        .select(F.col(id_col), F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    bi_counts = doc_bi.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    uni_counts = bi_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        d.select(F.explode(F.col("_w")).alias("w"))
        .where(F.col("w") != "")
        .agg(F.count_distinct("w").cast("double").alias("_v"))
    )
    lp6 = F.round(
        F.log10(
            (F.col("c12") + F.lit(alpha))
            / (F.col("c1") + F.lit(alpha) * F.col("_v"))
        ),
        6,
    ).cast("decimal(27,6)")
    scored = (
        doc_bi.join(bi_counts, ["w1", "w2"])
        .join(uni_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn("_wlp", lp6 * F.col("tf"))
    )
    # the 6-dp mean via EXACT INTEGER rounded division: the decimal sum
    # ×1e6 is an exact BIGINT, and (2|num| + n) DIV 2n is
    # half-away-from-zero — engines disagree on double-rounding exact
    # halves (hit in practice: −61.534011/42 = −1.4650955), integer
    # arithmetic cannot
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum("_wlp").alias("_slp"),
        )
        .withColumn("_num", (F.col("_slp") * 1000000).cast("long"))
        .withColumn(
            "mean_logprob2",
            F.expr(
                "CAST((CASE WHEN _num < 0 THEN -1 ELSE 1 END)"
                " * ((2 * abs(_num) + n_bigrams) DIV (2 * n_bigrams))"
                " AS BIGINT) / 1e6"
            ),
        )
        .drop("_slp", "_num")
    )


def pmi_cooccurrence(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 2,
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information over skip-gram co-occurrence
    (Church & Hanks 1990): for every unordered word pair observed
    within ``window`` positions of each other, how much more often
    the pair co-occurs than independence predicts —
    ``pmi = ln(P(a,b) / (P(a)·P(b)))``.  The collocation/phrase-mining
    primitive (and the statistic under PPMI embedding matrices and
    word2vec's implicit factorization, Levy & Goldberg 2014).

    Pair generation is a per-doc array transform — for each position
    i, pairs (w_i, w_j) for j in (i, i+window] — NO self-join of the
    token table: zero shuffles until the counting aggregates.  Three
    map-side-combinable groupBys (pair counts, unigram counts, 1-row
    totals); the totals and unigram frames are aggregate-sized, so
    both joins onto the pair frame broadcast.  Work is
    tokens x window, linear in corpus size; output is bounded by
    vocab² and in practice by ``min_count``.

    Cross-engine determinism: pairs canonicalize by binary string
    order (normalized text is [a-z0-9 ] so collation is moot); PMI is
    one double expression with identical parenthesization in the
    DuckDB oracle, rounded to 6 dp.

    Output: w_a <= w_b, pair_count, pmi — pairs with
    ``pair_count >= min_count``.
    """
    base = (
        df.select(norm_text(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= 1)
        .select(F.split("_t", " ").alias("_w"))
    )
    # consumed 2x: pairs and unigrams
    base = materialize(ensure_parallelism(base))
    pair_expr = (
        # filter-over-greatest keeps the 1-token doc an empty TYPED
        # array (sequence(1, 0) would descend, not stay empty)
        f"flatten(transform("
        f"filter(sequence(1, greatest(size(_w) - 1, 1)), i -> i <= size(_w) - 1), "
        f"i -> transform(sequence(i + 1, least(i + {int(window)}, size(_w))), "
        f"j -> struct(least(element_at(_w, i), element_at(_w, j)) AS w_a, "
        f"greatest(element_at(_w, i), element_at(_w, j)) AS w_b))))"
    )
    pairs = base.select(F.explode(F.expr(pair_expr)).alias("_p")).select(
        "_p.w_a", "_p.w_b"
    )
    pairs = materialize(pairs)  # counted twice (P, pc)
    pc = pairs.groupBy("w_a", "w_b").agg(F.count(F.lit(1)).alias("pair_count"))
    uc = materialize(  # consumed 3x (both joins + T)
        base.select(F.explode("_w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    tot = pc.agg(F.sum("pair_count").alias("P")).crossJoin(
        uc.agg(F.sum("_c").alias("T"))
    )
    out = (
        pc.where(F.col("pair_count") >= int(min_count))
        .join(F.broadcast(uc.withColumnRenamed("w", "w_a").withColumnRenamed("_c", "_ca")), "w_a")
        .join(F.broadcast(uc.withColumnRenamed("w", "w_b").withColumnRenamed("_c", "_cb")), "w_b")
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.log(
        (F.col("pair_count").cast("double") * F.col("T") * F.col("T"))
        / (F.col("P").cast("double") * F.col("_ca") * F.col("_cb"))
    )
    return out.select(
        "w_a", "w_b", "pair_count", F.round(pmi, 6).alias("pmi")
    )


def textrank_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 2,
    iterations: int = 3,
    top_k: int = 20,
    contrib_scale: int = 9,
    out_scale: int = 6,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): build the
    word co-occurrence graph (an undirected edge between every word
    pair observed within ``window`` positions) and rank vertices by
    fixed-iteration PageRank — the classic unsupervised keyword /
    keyphrase scorer.

    Composition of two already-pinned primitives: PMI-style per-doc
    array pair generation (zero joins; see :func:`pmi_cooccurrence`)
    collapsed to a DISTINCT vocab²-bounded edge list, then
    :func:`fuel_spark.ops.graph.pagerank` at the cross-engine-safe
    scales (contributions rounded to ``contrib_scale`` then summed as
    exact DECIMAL — bit-deterministic at any parallelism, and
    exact-hash comparable against the DuckDB unrolled-CTE oracle).
    The graph is vocab-sized, so every per-iteration frame is
    aggregate-sized regardless of corpus scale; the corpus-sized work
    is the single edge-extraction pass.

    Output: word, rank — top ``top_k`` by (rank DESC, word).
    """
    from fuel_spark.ops.graph import pagerank

    base = (
        df.select(norm_text(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= 1)
        .select(F.split("_t", " ").alias("_w"))
    )
    pair_expr = (
        f"flatten(transform("
        f"filter(sequence(1, greatest(size(_w) - 1, 1)), i -> i <= size(_w) - 1), "
        f"i -> transform(sequence(i + 1, least(i + {int(window)}, size(_w))), "
        f"j -> struct(least(element_at(_w, i), element_at(_w, j)) AS w_a, "
        f"greatest(element_at(_w, i), element_at(_w, j)) AS w_b))))"
    )
    edges = (
        base.select(F.explode(F.expr(pair_expr)).alias("_p"))
        .select("_p.w_a", "_p.w_b")
        .where(F.col("w_a") != F.col("w_b"))
        .distinct()
    )
    ranks = pagerank(
        edges,
        src="w_a",
        dst="w_b",
        iterations=iterations,
        contrib_scale=contrib_scale,
        out_scale=out_scale,
        # vocabulary graph: the vertex set is vocab-BOUNDED (grows
        # sublinearly with corpus size), so broadcasting the rank
        # frame keeps the edge list unshuffled at every scale — the
        # case where pagerank's broadcast mode is safe (see the
        # measured 20x note in ops/graph.py for the contrast with
        # data-scaled vertex sets)
        broadcast_ranks=True,
    )
    return (
        ranks.select(F.col("vertex").alias("word"), "rank")
        .orderBy(F.desc("rank"), F.asc("word"))
        .limit(top_k)
    )


def zipf_slope(df: DataFrame, text_col: str, min_count: int = 2) -> DataFrame:
    """Zipf rank-frequency fit: OLS slope/intercept of ln(freq) on
    ln(rank) over the corpus vocabulary — the corpus-health
    diagnostic (natural language sits near slope -1; template or
    synthetic text drifts far off, so the slope is a cheap
    generation/boilerplate detector at ingest time).

    One corpus-scale token count, then everything is vocab-sized:
    ranks come from a window over the frequency table (aggregate
    frame — the allowlisted global-sort case), and the OLS moments
    are DECIMAL-exact sums of 6-dp-rounded ln values, so the fit is
    bit-deterministic at any partitioning and exact-hash comparable.

    Output: one row — n_types, slope, intercept (round 6).
    """
    from pyspark.sql import Window as W

    DEC = "decimal(38,12)"
    tok = (
        df.select(norm_text(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= 1)
        .select(F.explode(F.split("_t", " ")).alias("w"))
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("freq")).where(
        F.col("freq") >= int(min_count)
    )
    ranked = freq.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("freq"), F.asc("w")))
    )
    x = F.round(F.log(F.col("rank").cast("double")), 6)
    y = F.round(F.log(F.col("freq").cast("double")), 6)
    m = ranked.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum(x.cast(DEC)).cast("double").alias("_sx"),
        F.sum(y.cast(DEC)).cast("double").alias("_sy"),
        F.sum((x * y).cast(DEC)).cast("double").alias("_sxy"),
        F.sum((x * x).cast(DEC)).cast("double").alias("_sxx"),
    )
    n = F.col("n_types").cast("double")
    slope = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
        n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    )
    intercept = (F.col("_sy") - slope * F.col("_sx")) / n
    return m.select(
        "n_types",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def term_burstiness(
    df: DataFrame, id_col: str, text_col: str, min_cf: int = 10
) -> DataFrame:
    """Term burstiness (Church & Gale 1995): collection frequency vs
    document frequency per term — cf/df (mean in-doc repetitions of
    a term given it appears) and the ratio of observed df to the
    Poisson-expected df at that cf.  Content words are bursty
    (cf/df >> 1, df below Poisson); function words are not — the
    signal behind stopword induction, keyword weighting, and
    template detection (a boilerplate phrase's terms have df at
    exactly the Poisson prediction).

    One tokenize pass, one (term)-keyed count + distinct-doc count,
    a broadcast 1-row doc total; output is vocab-sized, filtered to
    ``cf >= min_cf``.

    Output: w, cf, df, burstiness, df_vs_poisson (round 6).
    """
    tok = (
        df.select(F.col(id_col).alias("_id"), norm_text(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= 1)
        .select("_id", F.explode(F.split("_t", " ")).alias("w"))
    )
    stats = tok.groupBy("w").agg(
        F.count(F.lit(1)).alias("cf"),
        F.countDistinct("_id").alias("df"),
    ).where(F.col("cf") >= int(min_cf))
    n_docs = (
        df.select(norm_text(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= 1)
        .agg(F.count(F.lit(1)).cast("double").alias("_nd"))
    )
    out = stats.crossJoin(F.broadcast(n_docs))
    poisson_df = F.col("_nd") * (
        F.lit(1.0) - F.exp(-F.col("cf").cast("double") / F.col("_nd"))
    )
    return out.select(
        "w",
        "cf",
        "df",
        F.round(F.col("cf").cast("double") / F.col("df").cast("double"), 6).alias(
            "burstiness"
        ),
        F.round(F.col("df").cast("double") / poisson_df, 6).alias(
            "df_vs_poisson"
        ),
    )


def heaps_fit(
    df: DataFrame, id_col: str, text_col: str, grid: int = 24
) -> DataFrame:
    """Heaps'-law fit: vocabulary growth V(n) ≈ K·n^β estimated by
    OLS of ln V on ln n over a growth curve — the companion
    diagnostic to :func:`zipf_slope` (β ≈ 0.4–0.6 for natural
    language; template text saturates early, id-heavy logs never
    saturate) and the principled way to forecast vocab size at 100 TB
    from a sample.

    100 TB shape: the growth curve is NOT a per-document running
    distinct (a corpus-sized global window) — the doc-id domain
    splits into a fixed ``grid`` of buckets from a broadcast 1-row
    min/max, each word contributes one row at the bucket of its
    FIRST-occurrence doc (one groupBy min per word), token counts
    roll up per bucket, and two cumulative sums over the grid-sized
    frame produce (n_tokens, vocab) checkpoints.  OLS moments are
    DECIMAL-exact sums of 6-dp ln values (the zipf_slope contract).

    Output: one row — n_points, beta (round 6), k (round 6, the
    ln-intercept exponentiated).
    """
    from pyspark.sql import Window as W

    base = (
        df.select(F.col(id_col).alias("_id"), norm_text(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= 1)
        .select("_id", F.split("_t", " ").alias("_w"))
    )
    base = materialize(ensure_parallelism(base))
    bounds = base.agg(
        F.min("_id").alias("_lo"), F.max("_id").alias("_hi")
    )
    g = F.lit(int(grid))
    # bucket = 0..grid-1 by position of _id in [lo, hi]
    bucket = F.least(
        F.floor(
            (F.col("_id") - F.col("_lo")).cast("double")
            / F.greatest((F.col("_hi") - F.col("_lo") + 1).cast("double"), F.lit(1.0))
            * g
        ).cast("long"),
        g.cast("long") - 1,
    )
    wb = base.crossJoin(F.broadcast(bounds)).select(
        bucket.alias("_b"), "_w"
    )
    toks = wb.select("_b", F.explode("_w").alias("w"))
    first_b = toks.groupBy("w").agg(F.min("_b").alias("_fb"))
    new_words = first_b.groupBy("_fb").agg(F.count(F.lit(1)).alias("_nw"))
    tok_counts = toks.groupBy("_b").agg(F.count(F.lit(1)).alias("_nt"))
    w = W.orderBy("_b")
    curve = (
        tok_counts.join(
            new_words.withColumnRenamed("_fb", "_b"), "_b", "left"
        )
        .select("_b", "_nt", F.coalesce("_nw", F.lit(0)).alias("_nw"))
        .withColumn("n_tokens", F.sum("_nt").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .withColumn("vocab", F.sum("_nw").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .where((F.col("n_tokens") > 0) & (F.col("vocab") > 0))
    )
    DECH = "decimal(38,12)"
    x = F.round(F.log(F.col("n_tokens").cast("double")), 6)
    y = F.round(F.log(F.col("vocab").cast("double")), 6)
    m = curve.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(x.cast(DECH)).cast("double").alias("_sx"),
        F.sum(y.cast(DECH)).cast("double").alias("_sy"),
        F.sum((x * y).cast(DECH)).cast("double").alias("_sxy"),
        F.sum((x * x).cast(DECH)).cast("double").alias("_sxx"),
    )
    n = F.col("n_points").cast("double")
    beta = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
        n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    )
    k = F.exp((F.col("_sy") - beta * F.col("_sx")) / n)
    # + 0.0 normalizes IEEE negative zero (a saturated-vocab corpus
    # fits slope -0.0 on one engine and +0.0 on the other)
    return m.select(
        "n_points",
        (F.round(beta, 6) + F.lit(0.0)).alias("beta"),
        F.round(k, 6).alias("k"),
    )


def good_turing_counts(
    df: DataFrame, text_col: str, max_r: int = 50
) -> DataFrame:
    """Good–Turing count-of-counts table (Gale & Sampson 1995): for
    each observed frequency r, how many word types occur exactly r
    times (N_r) and the Turing-smoothed adjusted count
    r* = (r+1)·N_{r+1}/N_r — the foundation of held-out probability
    mass estimation (P(unseen) = N_1/N) and classical LM smoothing.

    One token count, then everything is count-of-counts-sized
    (≤ max_r rows): the frequency table rolls up by frequency, and
    r* is a self-join against the shifted table.  Rows with no
    N_{r+1} get NULL r* (the estimator is undefined there — Gale &
    Sampson's smoothing of the N_r sequence itself is out of scope,
    stated).

    Output: r, n_r, r_star (round 6) for r <= max_r, ordered by r.
    The unseen-mass estimate P(unseen) = N_1/N is the r=1 row's n_r
    over the corpus token total (available from corpus_stats).
    """
    tok = (
        df.select(norm_text(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= 1)
        .select(F.explode(F.split("_t", " ")).alias("w"))
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("r"))
    nr = freq.groupBy("r").agg(F.count(F.lit(1)).alias("n_r")).where(
        F.col("r") <= int(max_r)
    )
    shifted = nr.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("_n_next")
    )
    return (
        nr.join(shifted, "r", "left")
        .select(
            "r",
            "n_r",
            F.round(
                (F.col("r") + 1).cast("double")
                * F.col("_n_next")
                / F.col("n_r"),
                6,
            ).alias("r_star"),
        )
        .orderBy("r")
    )


def gt_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ref: DataFrame | None = None,
    ref_text_col: str | None = None,
) -> DataFrame:
    """Good–Turing-smoothed unigram LM scoring (Gale & Sampson 1995)
    of every document under a REFERENCE corpus's LM — the smoothed
    tier of the DSIR-style domain scorer (VERDICT r5 ask #7): where
    :func:`unigram_logprob` scores under raw ML counts (and cannot
    handle out-of-vocabulary tokens at all), this one scores under
    Turing-adjusted counts r* = (r+1)·N_{r+1}/N_r and gives OOV
    tokens the held-out mass estimate P(unseen) = N_1/N — so a
    document full of words the target domain has never seen is
    scored HONESTLY low instead of being unscorable.  Words whose r*
    is undefined (no N_{r+1} row) keep their raw count, Gale &
    Sampson's standard cutover for large r; a hapax-free reference
    floors N_1 at 1 (degenerate but total, stated).

    Scale shape: identical to :func:`unigram_logprob` — the reference
    tokenizes once into a vocab-sized count table, the count-of-counts
    table is ≤max-r-sized, both broadcast back against the doc×
    distinct-word tf table; per-word round-6 log probs are tf-weighted
    and summed as DECIMAL so the per-doc mean is bit-deterministic at
    any parallelism.  OOV handling is a LEFT join null branch — no
    extra pass.

    Output: id, n_tokens, n_oov, mean_logprob (round 6).
    """
    if ref is None:
        ref = df
    rtext = ref_text_col or text_col
    rtok = (
        ensure_parallelism(ref.select(F.col(rtext)))
        .select(F.explode(words(F.col(rtext))).alias("word"))
        .where(F.col("word") != "")
    )
    counts = rtok.groupBy("word").agg(F.count(F.lit(1)).alias("r"))
    nr = counts.groupBy("r").agg(F.count(F.lit(1)).alias("n_r"))
    shifted = nr.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("_n_next")
    )
    # Turing-adjusted count per frequency r (round 6, the
    # good_turing_counts contract); fall back to raw r where the
    # estimator is undefined.
    adj = (
        nr.join(shifted, "r", "left")
        .select(
            "r",
            F.coalesce(
                F.round(
                    (F.col("r") + 1).cast("double")
                    * F.col("_n_next")
                    / F.col("n_r"),
                    6,
                ),
                F.col("r").cast("double"),
            ).alias("_rstar"),
        )
    )
    lm = counts.join(F.broadcast(adj), "r").select("word", "_rstar")
    totals = counts.agg(
        F.sum("r").cast("double").alias("_N"),
        F.greatest(
            F.sum(F.when(F.col("r") == 1, 1).otherwise(0)), F.lit(1)
        ).cast("double").alias("_n1"),
    )
    tf = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(words(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    lp6 = F.round(
        F.log10(
            F.coalesce(F.col("_rstar"), F.col("_n1")) / F.col("_N")
        ),
        6,
    ).cast("decimal(27,6)")
    scored = (
        tf.join(F.broadcast(lm), "word", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("_wlp", lp6 * F.col("tf"))
        .withColumn(
            "_oov", F.when(F.col("_rstar").isNull(), F.col("tf")).otherwise(F.lit(0))
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum("_oov").cast("bigint").alias("n_oov"),
            F.sum("_wlp").alias("_sum_lp"),
        )
        .withColumn(
            "mean_logprob",
            F.round(F.col("_sum_lp").cast("double") / F.col("n_tokens"), 6),
        )
        .drop("_sum_lp")
    )


def bigram_llr(
    df: DataFrame, text_col: str, min_count: int = 5
) -> DataFrame:
    """Collocation significance by log-likelihood ratio (Dunning
    1993): G² = 2·Σ O·ln(O/E) over each adjacent bigram's 2×2
    contingency table — the collocation test that stays calibrated on
    sparse counts where PMI over-rewards rare pairs (the reason
    Dunning wrote the paper).

    ORDERED adjacent bigrams (w1 followed by w2), one per-doc array
    transform (no token self-join); margins re-aggregate from the
    bigram table, so everything after the one corpus pass is
    vocab-bounded.  The G² expression evaluates row-wise in one
    identically-parenthesized double chain (0·ln 0 terms guarded to
    0), rounded to 6 dp.

    Output: w1, w2, n11 (bigram count ≥ min_count), llr.
    """
    base = (
        df.select(norm_text(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= 1)
        .select(F.split("_t", " ").alias("_w"))
    )
    pair_expr = (
        "transform(filter(sequence(1, greatest(size(_w) - 1, 1)),"
        " i -> i <= size(_w) - 1),"
        " i -> struct(element_at(_w, i) AS w1,"
        " element_at(_w, i + 1) AS w2))"
    )
    bi = (
        base.select(F.explode(F.expr(pair_expr)).alias("_p"))
        .select("_p.w1", "_p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n11"))
    )
    bi = materialize(bi)  # margins + totals + output
    m1 = bi.groupBy("w1").agg(F.sum("n11").alias("_c1"))
    m2 = bi.groupBy("w2").agg(F.sum("n11").alias("_c2"))
    tot = bi.agg(F.sum("n11").cast("double").alias("_N"))
    j = (
        bi.where(F.col("n11") >= int(min_count))
        .join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .crossJoin(F.broadcast(tot))
    )
    k11 = F.col("n11").cast("double")
    k12 = F.col("_c1").cast("double") - k11
    k21 = F.col("_c2").cast("double") - k11
    k22 = F.col("_N") - k11 - k12 - k21
    c1 = F.col("_c1").cast("double")
    c2 = F.col("_c2").cast("double")
    r2c = F.col("_N") - c1
    q2c = F.col("_N") - c2

    def _term(o, e):
        return F.when(o > 0, o * F.log(o / e)).otherwise(F.lit(0.0))

    nn = F.col("_N")
    llr = F.lit(2.0) * (
        _term(k11, c1 * c2 / nn)
        + _term(k12, c1 * q2c / nn)
        + _term(k21, r2c * c2 / nn)
        + _term(k22, r2c * q2c / nn)
    )
    return j.select("w1", "w2", "n11", (F.round(llr, 6) + F.lit(0.0)).alias("llr"))


def diversity_profile(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Hill-number diversity profile per group (Hill 1973): effective
    vocabulary sizes at q=0 (richness), q=1 (exp Shannon) and q=2
    (inverse Simpson) — the ecology-standard triple that separates
    "many rare types" from "evenly used types", here the per-source
    lexical-diversity dashboard (a source whose hill2 ≪ hill0 is
    template-dominated).

    One (group, word) rollup; entropy/Simpson terms round to 9 dp and
    sum as exact DECIMAL per group.  Output: one row per group —
    n_tokens, hill0, hill1 (round 6), hill2 (round 6).
    """
    DECD = "decimal(27,18)"
    tok = (
        df.select(F.col(group_col).alias("g"), norm_text(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= 1)
        .select("g", F.explode(F.split("_t", " ")).alias("w"))
    )
    wc = tok.groupBy("g", "w").agg(F.count(F.lit(1)).alias("_c"))
    gt = wc.groupBy("g").agg(F.sum("_c").cast("double").alias("_T"))
    terms = wc.join(F.broadcast(gt), "g").select(
        "g",
        "_T",
        F.round(
            -(F.col("_c").cast("double") / F.col("_T"))
            * F.log(F.col("_c").cast("double") / F.col("_T")),
            9,
        ).cast(DECD).alias("_h"),
        F.round(
            (F.col("_c").cast("double") / F.col("_T"))
            * (F.col("_c").cast("double") / F.col("_T")),
            9,
        ).cast(DECD).alias("_s"),
    )
    out = terms.groupBy("g", "_T").agg(
        F.count(F.lit(1)).alias("hill0"),
        F.sum("_h").cast("double").alias("_H"),
        F.sum("_s").cast("double").alias("_S"),
    )
    return out.select(
        F.col("g").alias(group_col),
        F.col("_T").cast("bigint").alias("n_tokens"),
        "hill0",
        F.round(F.exp("_H"), 6).alias("hill1"),
        F.round(F.lit(1.0) / F.col("_S"), 6).alias("hill2"),
    ).orderBy(group_col)


def chao1_richness(df: DataFrame, text_col: str) -> DataFrame:
    """Chao1 lower-bound richness estimator (Chao 1984): how many
    word types the corpus PLUS its unseen tail holds, from the
    singleton/doubleton counts — the "how much vocabulary haven't we
    crawled yet" companion to :func:`good_turing_counts` (which
    estimates unseen MASS) and :func:`heaps_fit` (which extrapolates
    by curve).  Bias-corrected form S + N₁(N₁−1)/(2(N₂+1)) is exact
    integer arithmetic until one final division.

    Output: one row — s_obs, n1, n2, chao1 (round 6).
    """
    tok = (
        df.select(norm_text(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= 1)
        .select(F.explode(F.split("_t", " ")).alias("w"))
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("_r"))
    m = freq.agg(
        F.count(F.lit(1)).alias("s_obs"),
        F.sum((F.col("_r") == 1).cast("long")).alias("n1"),
        F.sum((F.col("_r") == 2).cast("long")).alias("n2"),
    )
    chao = F.col("s_obs").cast("double") + (
        F.col("n1").cast("double") * (F.col("n1").cast("double") - F.lit(1.0))
    ) / (F.lit(2.0) * (F.col("n2").cast("double") + F.lit(1.0)))
    return m.select("s_obs", "n1", "n2", F.round(chao, 6).alias("chao1"))


def burrows_delta(
    df: DataFrame, group_col: str, text_col: str, top_k: int = 30
) -> DataFrame:
    """Burrows' Delta stylometric distance (Burrows 2002): z-score
    each group's relative frequency of the corpus's ``top_k`` most
    frequent words (across-group mean/std per word), then
    Delta(a, b) = mean_w |z_aw − z_bw| — the standard
    authorship/style distance, here a source-similarity matrix
    (crawl pipelines use it to spot mirrored or templated sources
    that exact dedup misses).

    The word panel is a TakeOrdered constant; per-(group, word)
    relative frequencies, per-word across-group moments, and the
    pairwise rollup are all (groups × top_k)-sized — corpus-scale
    work is the single token count.  Sums at every stage are round-9
    DECIMAL (float contract); the final mean divides by the FIXED
    panel size.  Output: source_a < source_b, delta (round 6).
    """
    DECB = "decimal(27,18)"
    tok = (
        df.select(F.col(group_col).alias("g"), norm_text(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= 1)
        .select("g", F.explode(F.split("_t", " ")).alias("w"))
    )
    tok = materialize(tok)  # panel + group counts
    panel = F.broadcast(
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("_cf"))
        .orderBy(F.desc("_cf"), F.asc("w"))
        .limit(int(top_k))
        .select("w")
    )
    gtot = tok.groupBy("g").agg(F.count(F.lit(1)).alias("_T"))
    gw = (
        tok.join(panel, "w")
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # dense (group × panel) grid: absent words get frequency 0
    grid = (
        gtot.crossJoin(panel)
        .join(gw, ["g", "w"], "left")
        .select(
            "g",
            "w",
            F.round(
                F.coalesce("_c", F.lit(0)).cast("double")
                / F.col("_T").cast("double"),
                9,
            ).alias("_f"),
        )
    )
    ng = gtot.agg(F.count(F.lit(1)).cast("double").alias("_ng"))
    mom = (
        grid.groupBy("w")
        .agg(
            F.sum(F.col("_f").cast(DECB)).cast("double").alias("_sf"),
            F.sum(F.round(F.col("_f") * F.col("_f"), 9).cast(DECB))
            .cast("double")
            .alias("_sff"),
        )
        .crossJoin(F.broadcast(ng))
        .select(
            "w",
            (F.col("_sf") / F.col("_ng")).alias("_mu"),
            F.sqrt(
                F.greatest(
                    F.col("_sff") / F.col("_ng")
                    - (F.col("_sf") / F.col("_ng"))
                    * (F.col("_sf") / F.col("_ng")),
                    F.lit(1e-18),
                )
            ).alias("_sd"),
        )
    )
    z = grid.join(F.broadcast(mom), "w").select(
        "g",
        "w",
        F.round((F.col("_f") - F.col("_mu")) / F.col("_sd"), 9).alias("_z"),
    )
    za = z.select(F.col("g").alias("source_a"), "w", F.col("_z").alias("_za"))
    zb = z.select(F.col("g").alias("source_b"), "w", F.col("_z").alias("_zb"))
    pairs = za.join(zb, "w").where(F.col("source_a") < F.col("source_b"))
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.sum(F.round(F.abs(F.col("_za") - F.col("_zb")), 9).cast(DECB))
            .cast("double")
            .alias("_s")
        )
        .select(
            "source_a",
            "source_b",
            F.round(F.col("_s") / F.lit(float(top_k)), 6).alias("delta"),
        )
        .orderBy("source_a", "source_b")
    )


def bray_curtis_sources(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Bray–Curtis dissimilarity between every pair of sources' word
    profiles: BC(a,b) = 1 − 2·Σ_w min(c_aw, c_bw) / (N_a + N_b) —
    the abundance-weighted ecology distance, here a corpus-mix
    monitor (BC → 0 means two crawls/sources deliver near-identical
    word mixes, i.e. redundant acquisition; BC → 1 means disjoint
    vocabulary mass).  Complements [[corpus_burrows_delta]]
    (style z-scores on a fixed panel) with a full-vocabulary
    mass-overlap measure.

    Scale story: one corpus-scale token count per (source, word);
    the pair stage inner-joins the two copies ON THE WORD KEY — work
    is Σ_w (#sources sharing w)², never |corpus|², and sources are
    few by construction.  Denominators come from an aggregate-sized
    totals frame; the dense pair grid is sources², built by
    crossJoin of two broadcast aggregate frames so zero-overlap
    pairs still emit BC = 1.  All counts integer until one final
    double division.

    Output: source_a < source_b, shared_mass, n_a, n_b,
    bray_curtis (round 6).
    """
    tok = (
        df.select(
            F.col(group_col).alias("g"), norm_text(F.col(text_col)).alias("_t")
        )
        .where(F.length("_t") >= 1)
        .select("g", F.explode(F.split("_t", " ")).alias("w"))
    )
    cnt = tok.groupBy("g", "w").agg(F.count(F.lit(1)).alias("_c"))
    cnt = materialize(cnt)  # feeds totals + both join sides
    tot = cnt.groupBy("g").agg(F.sum("_c").cast("bigint").alias("_n"))
    a = cnt.select(F.col("g").alias("source_a"), "w", F.col("_c").alias("_ca"))
    b = cnt.select(F.col("g").alias("source_b"), "w", F.col("_c").alias("_cb"))
    shared = (
        a.join(b, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.least("_ca", "_cb")).cast("bigint").alias("shared_mass"))
    )
    ta = tot.select(F.col("g").alias("source_a"), F.col("_n").alias("n_a"))
    tb = tot.select(F.col("g").alias("source_b"), F.col("_n").alias("n_b"))
    pairs = (
        F.broadcast(ta)
        .crossJoin(F.broadcast(tb))
        .where(F.col("source_a") < F.col("source_b"))
    )
    return pairs.join(shared, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce("shared_mass", F.lit(0)).cast("bigint").alias("shared_mass"),
        "n_a",
        "n_b",
        F.round(
            F.lit(1.0)
            - F.lit(2.0)
            * F.coalesce("shared_mass", F.lit(0)).cast("double")
            / (F.col("n_a").cast("double") + F.col("n_b").cast("double")),
            6,
        ).alias("bray_curtis"),
    )


def vocab_novelty_slices(
    df: DataFrame, id_col: str, text_col: str, n_slices: int = 10
) -> DataFrame:
    """Vocabulary novelty curve: split the corpus into ``n_slices``
    deterministic id-ordered slices and report, per slice, how many
    distinct word types appear and what fraction of them were never
    seen in any earlier slice — the incremental-crawl freshness
    monitor ("is batch k still contributing new vocabulary, or are
    we re-crawling the same material?").  The cumulative twin of
    [[text_heaps_fit]]: Heaps extrapolates total growth, this
    localizes WHERE growth stops.

    Slice = floor(id·n / (max_id+1)) — pure integer arithmetic off a
    broadcast 1-row max, deterministic at any engine/partitioning.
    Work: one distinct (slice, word) projection of the token stream;
    first-appearance is a vocabulary-sized min-groupBy; the rollup
    is n_slices rows.  No windows, no sort.

    Output: slice, types, new_types, novelty_rate (round 6).
    """
    mx = df.agg(F.max(F.col(id_col)).cast("bigint").alias("_mx"))
    sliced = df.crossJoin(F.broadcast(mx)).select(
        F.floor(
            (F.col(id_col).cast("bigint") * F.lit(int(n_slices)))
            / (F.col("_mx") + F.lit(1))
        )
        .cast("bigint")
        .alias("slice"),
        norm_text(F.col(text_col)).alias("_t"),
    )
    tok = (
        sliced.where(F.length("_t") >= 1)
        .select("slice", F.explode(F.split("_t", " ")).alias("w"))
        .distinct()
    )
    tok = materialize(tok)  # feeds per-slice + first-seen
    per_slice = tok.groupBy("slice").agg(
        F.count(F.lit(1)).cast("bigint").alias("types")
    )
    first = (
        tok.groupBy("w")
        .agg(F.min("slice").alias("slice"))
        .groupBy("slice")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
    )
    return per_slice.join(first, "slice", "left").select(
        "slice",
        "types",
        F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
        F.round(
            F.coalesce("new_types", F.lit(0)).cast("double")
            / F.col("types").cast("double"),
            6,
        ).alias("novelty_rate"),
    )


def flesch_reading_ease(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Flesch Reading Ease per source (Flesch 1948): RE = 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words) — the classic
    readability score (90+ ≈ grade school, <30 ≈ academic), here the
    per-source curation signal ("is this crawl conversational text or
    legal boilerplate") complementing the stopword/length heuristics
    of the quality-scoring family.

    Syllables use the standard vowel-group heuristic — runs of
    [aeiouy] in the normalized text, floored at the word count so no
    word counts zero (doc-level floor, stated; exact syllabification
    needs a dictionary).  Sentences are [.!?]+ runs in the RAW text
    (normalization strips punctuation), floored at 1.  One scan, all
    counts per-doc regexp_count (JVM codegen, no explode), per-source
    means as round-9 DECIMAL term sums.

    Output: source, n_docs, words_per_sentence, syllables_per_word,
    flesch (round 6, corpus-mean of per-doc scores), by source.
    """
    norm = norm_text(F.col(text_col))
    d = df.select(
        F.col(group_col).alias("source"),
        F.col(text_col).alias("_raw"),
        norm.alias("_n"),
    ).where(F.length("_n") >= 1)
    wc = F.size(F.split("_n", " ")).cast("double")
    sc = F.greatest(
        F.regexp_count("_raw", F.lit(r"[.!?]+")), F.lit(1)
    ).cast("double")
    syl = F.greatest(
        F.regexp_count("_n", F.lit("[aeiouy]+")).cast("double"), wc
    )
    fl = (
        F.lit(206.835)
        - F.lit(1.015) * (wc / sc)
        - F.lit(84.6) * (syl / wc)
    )
    terms = d.select(
        "source",
        F.round(wc / sc, 9).cast("decimal(27,18)").alias("_ws"),
        F.round(syl / wc, 9).cast("decimal(27,18)").alias("_sw"),
        F.round(fl, 9).cast("decimal(27,18)").alias("_fl"),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.sum("_ws").cast("double") / F.count(F.lit(1)), 6).alias(
                "words_per_sentence"
            ),
            F.round(F.sum("_sw").cast("double") / F.count(F.lit(1)), 6).alias(
                "syllables_per_word"
            ),
            F.round(F.sum("_fl").cast("double") / F.count(F.lit(1)), 6).alias(
                "flesch"
            ),
        )
        .orderBy("source")
    )


def tfidf_top_terms(
    df: DataFrame, group_col: str, text_col: str, top_k: int = 10
) -> DataFrame:
    """TF-IDF characteristic terms per source: score(w, s) =
    count(w in s) · ln((N+1)/(df_w+1) + 1) with sources as the
    "documents" of the IDF (smooth add-1 variant, stated) — "what
    vocabulary makes THIS source itself", the term-level complement
    to the distribution-level JS divergence and Burrows' Delta views.

    One corpus token pass to (source, word) counts; document
    frequency is a vocab-sized rollup over the same frame
    (materialized — two consumers); N is a broadcast 1-row count;
    the per-source top-k ranks a window PARTITIONED by source (≤
    |vocab| rows each, parallel across sources) on the ROUNDED score
    with a word tie-break, so the cut is engine-exact.

    Output: source, term, term_count, df, tfidf (round 6), rank —
    top_k rows per source, ordered (source, rank).
    """
    tok = (
        df.select(
            F.col(group_col).alias("source"),
            norm_text(F.col(text_col)).alias("_t"),
        )
        .where(F.length("_t") >= 1)
        .select("source", F.explode(F.split("_t", " ")).alias("term"))
    )
    cnt = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("term_count")
    )
    cnt = materialize(cnt)  # scores + document freq
    dfw = cnt.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    nsrc = cnt.select("source").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    idf = (
        F.log(
            (F.col("_n").cast("double") + F.lit(1.0))
            / (F.col("df").cast("double") + F.lit(1.0))
        )
        + F.lit(1.0)
    )
    scored = (
        cnt.join(dfw, "term")
        .crossJoin(F.broadcast(nsrc))
        .select(
            "source",
            "term",
            "term_count",
            "df",
            F.round(F.col("term_count").cast("double") * idf, 6).alias(
                "tfidf"
            ),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= int(top_k))
        .orderBy("source", "rank")
    )


def fightin_words(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_k: int = 10,
    alpha0: float = 500.0,
) -> DataFrame:
    """Monroe/Colaresi/Quinn "Fightin' Words" (2008): per-source
    log-odds-ratio of each word vs the REST of the corpus, with an
    informative Dirichlet prior proportional to corpus frequencies
    (α_w = α0·c_w/N), z-scored by the delta's variance — the
    statistically calibrated source-contrast that fixes both TF-IDF
    (over-rewards raw counts) and plain log-odds (over-rewards rare
    words): the prior shrinks rare-word estimates, the variance
    normalizes the rest.  Top-k by z per source = "what vocabulary
    is overrepresented HERE, credibly".

    All frames are vocab- or (source×word)-sized after one corpus
    token pass (materialized and shared); δ and its variance
    1/(y+α) + 1/(y'+α') are row-local double chains; the per-source
    top-k ranks a source-PARTITIONED window on the ROUNDED z with a
    word tie-break (engine-exact cut).

    Output: source, term, term_count, rest_count, z_score (round 6),
    rank — top_k rows per source.
    """
    tok = (
        df.select(
            F.col(group_col).alias("source"),
            norm_text(F.col(text_col)).alias("_t"),
        )
        .where(F.length("_t") >= 1)
        .select("source", F.explode(F.split("_t", " ")).alias("term"))
    )
    cnt = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    cnt = materialize(cnt)  # word totals + source totals
    wtot = cnt.groupBy("term").agg(F.sum("_c").cast("bigint").alias("_cw"))
    stot = cnt.groupBy("source").agg(F.sum("_c").cast("bigint").alias("_ns"))
    gtot = wtot.agg(F.sum("_cw").cast("bigint").alias("_n"))
    j = (
        cnt.join(wtot, "term")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(gtot))
    )
    aw = (
        F.lit(float(alpha0))
        * F.col("_cw").cast("double")
        / F.col("_n").cast("double")
    )
    y1 = F.col("_c").cast("double")
    y2 = (F.col("_cw") - F.col("_c")).cast("double")
    n1 = F.col("_ns").cast("double")
    n2 = (F.col("_n") - F.col("_ns")).cast("double")
    d1 = F.log((y1 + aw) / (n1 + F.lit(float(alpha0)) - y1 - aw))
    d2 = F.log((y2 + aw) / (n2 + F.lit(float(alpha0)) - y2 - aw))
    var = F.lit(1.0) / (y1 + aw) + F.lit(1.0) / (y2 + aw)
    z = (d1 - d2) / F.sqrt(var)
    scored = j.select(
        "source",
        "term",
        F.col("_c").alias("term_count"),
        (F.col("_cw") - F.col("_c")).cast("bigint").alias("rest_count"),
        (F.round(z, 6) + F.lit(0.0)).alias("z_score"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(F.desc("z_score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= int(top_k))
        .orderBy("source", "rank")
    )


def lm_quality_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """CCNet-style perplexity buckets (Wenzek et al. 2020, CCNet:
    head / middle / tail): score every document with the corpus
    unigram LM (:func:`unigram_logprob` — the portable reduction of
    CCNet's KenLM) and split each group at its own tercile CUTOFFS,
    the way CCNet splits each language at the 33rd/67th perplexity
    percentile before keeping mostly the head.

    Scale shape: the corpus-scale work is exactly one
    ``unigram_logprob`` pass; cutoff selection then runs over the
    per-group DISTINCT-score histogram (value-grid frame, bounded by
    the score's 6-dp domain, never corpus size) with an integer
    3·cum ≥ k·n compare — no percentile function, whose tie semantics
    differ across engines.  Threshold semantics on ties are explicit:
    head is lp ≥ c_head where c_head is the highest score whose
    from-the-top cumulative count reaches n/3 — ties at a cutoff land
    in the better bucket together, so bucket sizes are n/3 ± tie mass
    (stated; CCNet's behavior at equal perplexities is the same).
    Cutoffs broadcast back; the assignment join is group-grain tiny.

    Output per (group, bucket): n_docs, share (round 6),
    mean_logprob (exact DECIMAL mean, round 6), lp_min, lp_max.
    """
    from pyspark.sql import Window as W

    from fuel_spark.functions import round6_ratio

    scored = unigram_logprob(df, id_col, text_col).join(
        df.select(F.col(id_col), F.col(group_col).alias("group")), id_col
    )
    hist = scored.groupBy("group", "mean_logprob").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wcum = (
        W.partitionBy("group")
        .orderBy(F.col("mean_logprob").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    h = hist.withColumn("_cum", F.sum("_c").over(wcum))
    # the conditional max needs the group total alongside each
    # histogram row — join it in (group-grain, broadcast)
    totals = hist.groupBy("group").agg(F.sum("_c").alias("_n"))
    hh = h.join(F.broadcast(totals), "group")
    cuts = hh.groupBy("group").agg(
        F.max(F.col("_n")).alias("_n"),
        F.max(
            F.when(F.col("_cum") * 3 >= F.col("_n"), F.col("mean_logprob"))
        ).alias("_cut_head"),
        F.max(
            F.when(F.col("_cum") * 3 >= 2 * F.col("_n"), F.col("mean_logprob"))
        ).alias("_cut_mid"),
    )
    assigned = scored.join(F.broadcast(cuts), "group").withColumn(
        "bucket",
        F.when(F.col("mean_logprob") >= F.col("_cut_head"), "head")
        .when(F.col("mean_logprob") >= F.col("_cut_mid"), "middle")
        .otherwise("tail"),
    )
    return (
        assigned.groupBy("group", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("_n").alias("_n"),
            F.sum(F.col("mean_logprob").cast("decimal(27,6)")).alias("_slp"),
            F.min("mean_logprob").alias("lp_min"),
            F.max("mean_logprob").alias("lp_max"),
        )
        .select(
            "group",
            "bucket",
            "n_docs",
            round6_ratio(
                F.col("n_docs").cast("decimal(27,6)"), F.col("_n")
            ).alias("share"),
            round6_ratio(F.col("_slp"), F.col("n_docs")).alias(
                "mean_logprob"
            ),
            "lp_min",
            "lp_max",
        )
    )


def bpe_fertility(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    merges,
    end_of_word: str = "</w>",
) -> DataFrame:
    """Tokenizer fertility report: BPE tokens per word and characters
    per token, per source — THE tokenizer-choice table (fertility is
    the standard metric for how well a merge table fits a domain:
    Rust et al. 2021 show high-fertility domains train slower and
    truncate more at fixed context length).  A planner reads this per
    candidate merge table before committing a pretrain run's
    tokenization.

    Scale shape — strictly cheaper than an encode pass: fertility
    needs only PER-WORD token counts, never the per-doc token
    sequence, so the corpus reduces to a (group, word) frequency
    table (one shuffle), the merge fold runs once per DISTINCT word
    (:func:`_bpe_fold_vocab`, the ``bpe_encode(vocab_dedup=True)``
    fold — bit-identical by construction), the encoded vocab joins
    back as a broadcast, and the rollup is Σ count·per-word-stats.
    No doc-grain join, no order-restoring groupBy anywhere
    (measured: 18.1s → 2.7s at the 20× smoke vs the encode-based
    draft).  Ratios use the exact-rational
    :func:`fuel_spark.functions.round6_ratio` contract.

    Output per group: n_docs, n_words, n_chars, n_tokens,
    fertility (tokens/word, round 6), chars_per_token (round 6).
    """
    from fuel_spark.functions import round6_ratio

    base = ensure_parallelism(
        df.select(F.col(group_col).alias("group"), F.col(text_col))
    )
    wf = (
        base.select(
            "group",
            F.explode(words(F.col(text_col))).alias("word"),
        )
        .where(F.col("word") != "")
        .groupBy("group", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    encv = _bpe_fold_vocab(
        wf.select("word").distinct(), merges, end_of_word
    ).select("word", F.size("_toks").cast("long").alias("_ntok"))
    per = wf.join(F.broadcast(encv), "word")
    counts = per.groupBy("group").agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        F.sum(F.col("cnt") * F.length("word")).cast("bigint").alias(
            "n_chars"
        ),
        F.sum(F.col("cnt") * F.col("_ntok")).cast("bigint").alias(
            "n_tokens"
        ),
    )
    docs = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return (
        docs.join(counts, "group", "left")
        .select(
            "group",
            "n_docs",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            round6_ratio(
                F.coalesce("n_tokens", F.lit(0)).cast("decimal(27,6)"),
                F.greatest(F.coalesce("n_words", F.lit(0)), F.lit(1)),
            ).alias("fertility"),
            round6_ratio(
                F.coalesce("n_chars", F.lit(0)).cast("decimal(27,6)"),
                F.greatest(F.coalesce("n_tokens", F.lit(0)), F.lit(1)),
            ).alias("chars_per_token"),
        )
    )


def corpus_compressibility(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    n: int = 3,
) -> DataFrame:
    """Cross-document redundancy forecast per source: the fraction of
    word n-gram OCCURRENCES that are repeats of an already-seen
    n-gram — a direct, cheap predictor of what near-dup dedup and
    dictionary compression will win on this source BEFORE running
    either (the deduplicate-then-train literature's observation that
    crawl sources differ enormously here; boilerplate-heavy domains
    read 0.9+, fresh prose reads near the type-token floor).

    One explode to (group, gram) occurrence counts — the classic
    two-level aggregate: groupBy(group, gram) with map-side combine
    collapses the corpus to the gram vocabulary, then a group-grain
    rollup derives totals, distincts, and singleton mass.  No joins,
    no windows; linear in corpus tokens.

    Output per group: n_docs, grams_total, grams_distinct,
    grams_singleton, redundancy (1 − distinct/total, round 6),
    singleton_frac (round 6).
    """
    from fuel_spark.functions import round6_ratio

    base = ensure_parallelism(
        df.select(F.col(id_col), F.col(group_col).alias("group"),
                  F.col(text_col))
    )
    w = F.filter(words(F.col(text_col)), lambda x: x != "")
    # sequence(a, b) runs DESCENDING when b < a, so a short doc must
    # produce an explicitly empty index array, not sequence(0, -1)
    idx = F.when(
        F.size(w) >= int(n), F.sequence(F.lit(0), F.size(w) - int(n))
    ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
    grams = base.select(
        "group",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(" ", F.slice(w, i + 1, int(n))),
            )
        ).alias("gram"),
    )
    per_gram = grams.groupBy("group", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    counts = per_gram.groupBy("group").agg(
        F.sum("cnt").cast("bigint").alias("grams_total"),
        F.count(F.lit(1)).cast("bigint").alias("grams_distinct"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("grams_singleton"),
    )
    docs = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    gt1 = F.greatest(F.col("grams_total"), F.lit(1))
    return docs.join(counts, "group", "left").select(
        "group",
        "n_docs",
        F.coalesce("grams_total", F.lit(0)).alias("grams_total"),
        F.coalesce("grams_distinct", F.lit(0)).alias("grams_distinct"),
        F.coalesce("grams_singleton", F.lit(0)).alias("grams_singleton"),
        round6_ratio(
            (
                F.coalesce("grams_total", F.lit(0))
                - F.coalesce("grams_distinct", F.lit(0))
            ).cast("decimal(27,6)"),
            gt1,
        ).alias("redundancy"),
        round6_ratio(
            F.coalesce("grams_singleton", F.lit(0)).cast("decimal(27,6)"),
            gt1,
        ).alias("singleton_frac"),
    )


def dsir_topk_by_source(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    is_target,
    k: int = 10,
    buckets: int = 256,
) -> DataFrame:
    """DSIR selection with a per-SOURCE cap — the resampling half the
    weight table (:func:`dsir_weights`) only scores: keep the ``k``
    most target-like documents per source (rank by log_weight desc,
    id asc — deterministic), and report the selection accounting a
    mixture owner reads: docs kept, the kept slice's exact-decimal
    mean weight beside the source's overall mean (the tilt — how much
    more target-like the kept slice is), and the weight at the cut.
    Capping per source instead of globally is the policy that stops
    one on-target source from monopolizing the budget — and it is
    also the scale-correct shape: the rank window partitions by
    source (bounded per group) where a global top-frac would plan a
    corpus-wide sort.

    Output per source: source, n_docs, n_kept, mean_weight_all,
    mean_weight_kept, cut_weight.
    """
    from pyspark.sql import Window

    w = dsir_weights(df, id_col, text_col, is_target, buckets)
    src = df.select(F.col(id_col), F.col(source_col).alias("_src"))
    scored = w.join(src, id_col)
    win = Window.partitionBy("_src").orderBy(
        F.col("log_weight").desc(), F.col(id_col).asc()
    )
    ranked = scored.withColumn("_rk", F.row_number().over(win))
    d6 = lambda c: F.round(
        F.sum(F.round(c, 6).cast("decimal(27,6)")).cast("double")
        / F.count(F.lit(1)), 6)
    return (
        ranked.groupBy("_src")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("_rk") <= k, 1).otherwise(0))
            .cast("bigint").alias("n_kept"),
            d6(F.col("log_weight")).alias("mean_weight_all"),
            F.round(
                F.sum(F.when(F.col("_rk") <= k,
                             F.round(F.col("log_weight"), 6)
                             .cast("decimal(27,6)")))
                .cast("double")
                / F.sum(F.when(F.col("_rk") <= k, 1).otherwise(0)), 6
            ).alias("mean_weight_kept"),
            F.max(
                F.when(F.col("_rk") == k, F.round(F.col("log_weight"), 6))
            ).alias("cut_weight"),
        )
        .select(
            F.col("_src").alias(source_col),
            "n_docs", "n_kept", "mean_weight_all", "mean_weight_kept",
            "cut_weight",
        )
    )


def ngram_novelty_by_decile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    deciles: int = 10,
    seed: int = 7,
) -> DataFrame:
    """Novelty decay over the TRAINING ORDER: split the seeded
    shuffled order into ``deciles`` slices; per slice, how many of
    its distinct word n-grams were never seen in an earlier slice
    (first_slice == slice).  A healthy shuffle decays smoothly (the
    long tail of rare grams keeps arriving); a source-clumped order
    front-loads novelty then starves.  The order/text composition a
    repetition-sensitive training run actually cares about.

    One positions pass, one gram explode, a (gram -> min slice)
    aggregation and a distinct-(slice, gram) census — all keyed
    shuffles, gram-domain-sized state.  Output per slice: decile,
    n_distinct_grams, n_new_grams, novelty_rate (exact-rational).
    """
    from fuel_spark.functions import round6_ratio
    from fuel_spark.schemes import with_positions

    p = with_positions(
        df.select(F.col(id_col), F.col(text_col)), id_col,
        shuffled=True, seed=seed,
    )
    tot = p.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    dnum = F.col("pos") * int(deciles)
    p = p.crossJoin(F.broadcast(tot)).select(
        F.col(id_col),
        F.col(text_col),
        ((dnum - F.pmod(dnum, F.col("_n"))) / F.col("_n"))
        .cast("int").alias("_dec"),
    )
    w = words(F.col(text_col))
    grams = F.expr(
        f"CASE WHEN size(_w) >= {n} THEN"
        f" transform(sequence(1, size(_w) - {n - 1}),"
        f" i -> array_join(slice(_w, i, {n}), ' '))"
        f" ELSE CAST(array() AS array<string>) END"
    )
    sg = (
        p.withColumn("_w", w)
        .select("_dec", F.explode(grams).alias("gram"))
        .distinct()
    )
    first = sg.groupBy("gram").agg(F.min("_dec").alias("_first"))
    per = sg.join(first, "gram").groupBy(
        F.col("_dec").cast("bigint").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_grams"),
        F.sum(F.when(F.col("_dec") == F.col("_first"), 1).otherwise(0))
        .cast("long").alias("n_new_grams"),
    )
    return per.select(
        "decile", "n_distinct_grams", "n_new_grams",
        round6_ratio(
            F.col("n_new_grams").cast("decimal(27,6)"),
            F.col("n_distinct_grams"),
        ).alias("novelty_rate"),
    )


# --------------------------------------------------------------------------
# Tokenizer economics (r10): merge-table drift, utilization, script mix
# --------------------------------------------------------------------------
# Reference parity note: the reference tokenizes per-example in Python
# (fuel/datasets/text.py:46 maps a dictionary over word streams); the
# planning tables below are the corpus-scale economics a tokenizer
# CHOICE needs — computed once on the word-frequency table (vocab
# grain), never per document, so the 100 TB corpus contributes one
# shuffle (the word count) and everything downstream is vocab-sized.


def _word_class(col) -> F.Column:
    """Charclass of a normalized word ([a-z0-9]+ by construction):
    alpha / digit / mixed — the script bucket a fertility planner
    slices by (Rust et al. 2021 report fertility varies most across
    scripts; our synthetic corpus's analogue is the charclass)."""
    return (
        F.when(col.rlike("^[a-z]+$"), F.lit("alpha"))
        .when(col.rlike("^[0-9]+$"), F.lit("digit"))
        .otherwise(F.lit("mixed"))
    )


def _word_freq(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus word-frequency table: (word, freq) — the tokenizer-
    economics spine.  One corpus pass; every economics table below is
    vocab-sized after this."""
    return (
        ensure_parallelism(df.select(F.col(text_col)))
        .select(F.explode(words(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _bpe_fold_vocab_sizes(
    vocab: DataFrame, merges, end_of_word: str = "</w>"
) -> DataFrame:
    """Per-word token counts after EVERY merge prefix: (word, sizes)
    where sizes[k] (0-based element k+1 in SQL terms) is the token
    count after applying merges[0..k-1] — sizes[0] = len(word)+1 (the
    char + end-of-word init), sizes[n_merges] = the final count.

    Same left-to-right JVM aggregate fold as :func:`_bpe_fold_vocab`
    (bit-identical states by construction), with the Generate barrier
    every 4 merges; the extra cost over the plain fold is one
    ``size()`` per merge per distinct word — vocab-grain, never
    corpus-grain."""
    v = vocab.select(
        "word",
        F.expr(
            f"""array(concat(transform(sequence(1, length(word)),
                                       i -> substring(word, i, 1)),
                             array('{end_of_word}')))"""
        ).alias("_sw"),
        F.array(F.length("word") + F.lit(1)).alias("_szs"),
    )
    for i, m in enumerate(merges):
        a, b = m[0], m[1]
        qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
        fold = (
            f"""transform(_sw, syms -> aggregate(syms,
                CAST(array() AS ARRAY<STRING>),
                (acc, x) -> CASE WHEN size(acc) > 0
                                  AND element_at(acc, -1) = '{qa}'
                                  AND x = '{qb}'
                            THEN concat(slice(acc, 1, size(acc) - 1),
                                        array('{qa}{qb}'))
                            ELSE concat(acc, array(x)) END))"""
        )
        if (i + 1) % 4 == 0:
            v = with_materialized(
                v.select("word", "_szs", F.expr(fold).alias("_pre")),
                "_sw", F.col("_pre"),
            ).drop("_pre")
        else:
            v = v.select("word", "_szs", F.expr(fold).alias("_sw"))
        v = v.select(
            "word", "_sw",
            F.concat("_szs", F.array(F.size(F.col("_sw")[0]))).alias("_szs"),
        )
    return v.select("word", F.col("_szs").alias("sizes"))


def bpe_merge_utilization(
    df: DataFrame, text_col: str, merges, end_of_word: str = "</w>"
) -> DataFrame:
    """Per-merge utilization on THIS corpus: how many times each merge
    of a fixed table actually fires — the merge-table audit a planner
    reads before shipping a tokenizer to a new domain (a merge that
    never fires is vocabulary budget wasted on the wrong domain).

    Each application of merge k removes exactly one token, so
    n_applications(k) = Σ_word freq · (sizes[k-1] − sizes[k]) — pure
    arithmetic on the prefix-size table (:func:`_bpe_fold_vocab_sizes`,
    vocab grain, broadcast back onto the word-frequency table).

    Output per merge rank (1-based, training order): merge_rank,
    sym_a, sym_b, n_applications, tokens_after, reduction_share
    (this merge's share of the total token reduction, exact-rational
    round6)."""
    from fuel_spark.functions import round6_ratio

    wf = _word_freq(df, text_col)
    sizes = _bpe_fold_vocab_sizes(
        wf.select("word").distinct(), merges, end_of_word
    )
    per = wf.join(F.broadcast(sizes), "word")
    n = len(merges)
    ranks = per.select(
        "freq",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, {n}),"
                f" k -> struct(element_at(sizes, k) - element_at(sizes, k + 1)"
                f" AS apps, element_at(sizes, k + 1) AS after))"
            )
        ).alias("pos", "r"),
    )
    agg = ranks.groupBy((F.col("pos") + 1).alias("merge_rank")).agg(
        F.sum(F.col("freq") * F.col("r.apps")).cast("bigint").alias(
            "n_applications"
        ),
        F.sum(F.col("freq") * F.col("r.after")).cast("bigint").alias(
            "tokens_after"
        ),
    )
    pairs = F.array(
        *[
            F.struct(F.lit(m[0]).alias("a"), F.lit(m[1]).alias("b"))
            for m in merges
        ]
    )
    total = agg.agg(
        F.sum("n_applications").cast("bigint").alias("_tot")
    )
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            F.col("merge_rank").cast("bigint").alias("merge_rank"),
            F.element_at(pairs, F.col("merge_rank").cast("int"))["a"].alias(
                "sym_a"
            ),
            F.element_at(pairs, F.col("merge_rank").cast("int"))["b"].alias(
                "sym_b"
            ),
            "n_applications",
            "tokens_after",
            round6_ratio(
                F.col("n_applications").cast("decimal(27,6)"),
                F.greatest(F.col("_tot"), F.lit(1)),
            ).alias("reduction_share"),
        )
    )


def bpe_compression_curve(
    df: DataFrame, text_col: str, merges, end_of_word: str = "</w>"
) -> DataFrame:
    """Corpus compression vs merge-count curve: tokens, fertility and
    chars/token after the first k merges, k = 0..n — the
    vocabulary-size economics read (how much context-window do the
    next 4 merges actually buy on THIS corpus?).

    Same vocab-grain prefix-size table as
    :func:`bpe_merge_utilization`; the curve is Σ freq·sizes[k] per k
    plus two corpus scalars (total normalized chars and words)
    broadcast in.  Output per k: n_merges_applied, n_tokens,
    fertility, chars_per_token (exact-rational round6)."""
    from fuel_spark.functions import round6_ratio

    wf = _word_freq(df, text_col)
    sizes = _bpe_fold_vocab_sizes(
        wf.select("word").distinct(), merges, end_of_word
    )
    per = wf.join(F.broadcast(sizes), "word")
    n = len(merges)
    curve = (
        per.select(
            "freq",
            F.posexplode(F.col("sizes")).alias("pos", "sz"),
        )
        .groupBy(F.col("pos").cast("bigint").alias("n_merges_applied"))
        .agg(F.sum(F.col("freq") * F.col("sz")).cast("bigint").alias(
            "n_tokens"
        ))
    )
    scal = per.agg(
        F.sum("freq").cast("bigint").alias("_nw"),
        F.sum(F.col("freq") * F.length("word")).cast("bigint").alias("_nc"),
    )
    return curve.crossJoin(F.broadcast(scal)).select(
        "n_merges_applied",
        "n_tokens",
        round6_ratio(
            F.col("n_tokens").cast("decimal(27,6)"),
            F.greatest(F.col("_nw"), F.lit(1)),
        ).alias("fertility"),
        round6_ratio(
            F.col("_nc").cast("decimal(27,6)"),
            F.greatest(F.col("n_tokens"), F.lit(1)),
        ).alias("chars_per_token"),
    )


def bpe_fertility_by_class(
    df: DataFrame, text_col: str, merges, end_of_word: str = "</w>"
) -> DataFrame:
    """Fertility sliced by word charclass (alpha/digit/mixed) — the
    fertility-by-script table: merge tables trained on prose
    under-serve numeric/code-like tokens, and this is the read that
    shows it (digits stay at ~1 token per char under prose merges).

    Vocab-grain fold + broadcast join (the :func:`bpe_fertility`
    scale shape); sliced by (charclass, word-length bucket) so the
    table reads the length gradient too (long words are where a
    too-small merge table bleeds context budget).  Output per
    (word_class, len_bucket): n_distinct_words, n_words, n_chars,
    n_tokens, fertility, chars_per_token."""
    from fuel_spark.functions import round6_ratio

    wf = _word_freq(df, text_col)
    sizes = _bpe_fold_vocab_sizes(
        wf.select("word").distinct(), merges, end_of_word
    )
    lb = (
        F.when(F.length("word") <= 2, F.lit("1-2"))
        .when(F.length("word") <= 5, F.lit("3-5"))
        .when(F.length("word") <= 8, F.lit("6-8"))
        .otherwise(F.lit("9+"))
    )
    per = wf.join(F.broadcast(sizes), "word").select(
        _word_class(F.col("word")).alias("word_class"),
        lb.alias("len_bucket"),
        "freq",
        F.length("word").alias("_len"),
        F.element_at("sizes", len(merges) + 1).alias("_ntok"),
    )
    return (
        per.groupBy("word_class", "len_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
            F.sum("freq").cast("bigint").alias("n_words"),
            F.sum(F.col("freq") * F.col("_len")).cast("bigint").alias(
                "n_chars"
            ),
            F.sum(F.col("freq") * F.col("_ntok")).cast("bigint").alias(
                "n_tokens"
            ),
        )
        .select(
            "word_class", "len_bucket", "n_distinct_words", "n_words",
            "n_chars",
            "n_tokens",
            round6_ratio(
                F.col("n_tokens").cast("decimal(27,6)"),
                F.greatest(F.col("n_words"), F.lit(1)),
            ).alias("fertility"),
            round6_ratio(
                F.col("n_chars").cast("decimal(27,6)"),
                F.greatest(F.col("n_tokens"), F.lit(1)),
            ).alias("chars_per_token"),
        )
    )


def bpe_token_length_hist(
    df: DataFrame, text_col: str, merges, end_of_word: str = "</w>"
) -> DataFrame:
    """Tokens-per-word histogram under a fixed merge table: per final
    token count, how many distinct words and corpus occurrences land
    there — the truncation/padding planning read (a fat tail of
    8-token words is what blows up sequence packing).

    Output per n_tok: n_distinct_words, n_occurrences,
    occurrence_share (round6)."""
    from fuel_spark.functions import round6_ratio

    wf = _word_freq(df, text_col)
    sizes = _bpe_fold_vocab_sizes(
        wf.select("word").distinct(), merges, end_of_word
    )
    per = wf.join(F.broadcast(sizes), "word").select(
        "freq", F.element_at("sizes", len(merges) + 1).alias("n_tok")
    )
    hist = per.groupBy(F.col("n_tok").cast("bigint").alias("n_tok")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
        F.sum("freq").cast("bigint").alias("n_occurrences"),
    )
    tot = hist.agg(F.sum("n_occurrences").cast("bigint").alias("_tot"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "n_tok", "n_distinct_words", "n_occurrences",
        round6_ratio(
            F.col("n_occurrences").cast("decimal(27,6)"),
            F.greatest(F.col("_tot"), F.lit(1)),
        ).alias("occurrence_share"),
    )


def bpe_fertility_drift(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    merges,
    end_of_word: str = "</w>",
) -> DataFrame:
    """Merge-table drift between corpus snapshots: per-source
    fertility under the SAME fixed merge table on snapshot A (even
    ids) vs snapshot B (odd ids) — the tokenizer-rot monitor (a
    domain whose fertility climbs between snapshots is drifting away
    from the merge table's training distribution, the signal to
    retrain before the context-window budget erodes).

    Two :func:`bpe_fertility` passes (vocab-grain fold each) joined
    on the group; output per group: n_docs_a/b, n_tokens_a/b,
    fertility_a/b, fertility_delta (b − a, difference of the two
    exact-6dp ratios)."""
    a = bpe_fertility(
        df.where(F.col(id_col) % 2 == 0), id_col, text_col, group_col,
        merges, end_of_word,
    ).select(
        "group",
        F.col("n_docs").alias("n_docs_a"),
        F.col("n_tokens").alias("n_tokens_a"),
        F.col("fertility").alias("fertility_a"),
    )
    b = bpe_fertility(
        df.where(F.col(id_col) % 2 == 1), id_col, text_col, group_col,
        merges, end_of_word,
    ).select(
        "group",
        F.col("n_docs").alias("n_docs_b"),
        F.col("n_tokens").alias("n_tokens_b"),
        F.col("fertility").alias("fertility_b"),
    )
    return a.join(b, "group", "full_outer").select(
        "group",
        F.coalesce("n_docs_a", F.lit(0)).alias("n_docs_a"),
        F.coalesce("n_docs_b", F.lit(0)).alias("n_docs_b"),
        F.coalesce("n_tokens_a", F.lit(0)).alias("n_tokens_a"),
        F.coalesce("n_tokens_b", F.lit(0)).alias("n_tokens_b"),
        F.coalesce("fertility_a", F.lit(0.0)).alias("fertility_a"),
        F.coalesce("fertility_b", F.lit(0.0)).alias("fertility_b"),
        (
            F.coalesce("fertility_b", F.lit(0.0))
            - F.coalesce("fertility_a", F.lit(0.0))
        ).alias("fertility_delta"),
    )


def bpe_pair_stats(
    df: DataFrame, text_col: str, k: int = 20, end_of_word: str = "</w>"
) -> DataFrame:
    """The next-merge candidate table: top-k adjacent symbol pairs by
    weighted frequency at the CHAR-level init state (what
    :func:`train_bpe`'s first iteration would see) — training
    transparency for the merge table, and the drift signal's raw
    form (a pair that rockets up this table between snapshots is the
    merge the current table is missing).

    Vocab-grain pair explode weighted by word frequency; ties break
    (n desc, a, b) so the ranking is deterministic.  Output:
    rank, sym_a, sym_b, n_weighted."""
    wf = _word_freq(df, text_col)
    pairs = wf.select(
        "freq",
        F.explode(
            F.expr(
                f"""transform(sequence(1, length(word)),
                    i -> struct(substring(word, i, 1) AS a,
                                CASE WHEN i = length(word)
                                     THEN '{end_of_word}'
                                     ELSE substring(word, i + 1, 1)
                                END AS b))"""
            )
        ).alias("p"),
    )
    agg = pairs.groupBy("p.a", "p.b").agg(
        F.sum("freq").cast("bigint").alias("n_weighted")
    )
    from pyspark.sql import Window

    win = Window.orderBy(
        F.col("n_weighted").desc(), F.col("a"), F.col("b")
    )
    return (
        agg.select(
            F.row_number().over(win).cast("bigint").alias("rank"),
            F.col("a").alias("sym_a"),
            F.col("b").alias("sym_b"),
            "n_weighted",
        )
        .where(F.col("rank") <= k)
    )


def script_mix(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Charclass composition census per source: letters / digits /
    whitespace / other shares of the RAW text — the pre-tokenization
    profile (a source drifting toward digits or markup is the
    upstream cause the fertility tables then quantify).

    Pure regexp-length arithmetic, one scan; output per group:
    n_docs, n_chars, n_letters, n_digits, n_spaces, n_other +
    round6 shares."""
    from fuel_spark.functions import round6_ratio

    low = F.lower(F.col(text_col))
    d = ensure_parallelism(df).select(
        F.col(group_col).alias("group"),
        F.length(low).alias("_nc"),
        F.length(F.regexp_replace(low, "[^a-z]", "")).alias("_nl"),
        F.length(F.regexp_replace(low, "[^0-9]", "")).alias("_nd"),
        F.length(F.regexp_replace(low, "[^ \\t\\n]", "")).alias("_ns"),
    )
    agg = d.groupBy("group").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_nc").cast("bigint").alias("n_chars"),
        F.sum("_nl").cast("bigint").alias("n_letters"),
        F.sum("_nd").cast("bigint").alias("n_digits"),
        F.sum("_ns").cast("bigint").alias("n_spaces"),
    )
    return agg.select(
        "group", "n_docs", "n_chars", "n_letters", "n_digits", "n_spaces",
        (
            F.col("n_chars") - F.col("n_letters") - F.col("n_digits")
            - F.col("n_spaces")
        ).cast("bigint").alias("n_other"),
        round6_ratio(
            F.col("n_letters").cast("decimal(27,6)"),
            F.greatest(F.col("n_chars"), F.lit(1)),
        ).alias("letter_share"),
        round6_ratio(
            F.col("n_digits").cast("decimal(27,6)"),
            F.greatest(F.col("n_chars"), F.lit(1)),
        ).alias("digit_share"),
    )


def ngram_collision_rate(
    df: DataFrame, text_col: str, bit_widths=(24, 32, 40), k: int = 5
) -> DataFrame:
    """Hash-width planning table: the corpus's distinct character
    k-shingles hashed at several widths, with exact collision counts
    (distinct shingles − distinct hashes) — the read that picks the
    fingerprint width BEFORE a 32-bit digest silently merges distinct
    content at the 100 TB shingle count (birthday bound: ~2^16
    shingles already collide at 32 bits).

    Output per bits: n_shingles, n_hashes, n_collisions,
    collision_rate (exact-rational round6)."""
    from fuel_spark.functions import (
        hash_mod, norm_text, round6_ratio, shingles_over_norm,
    )

    # Generate-barrier the normalization (with_materialized): a bare
    # projection would let CollapseProject inline the regex into the
    # shingle lambda — the O(len²) trap the helper exists to prevent
    sh = materialize(
        with_materialized(
            ensure_parallelism(df.select(F.col(text_col))),
            "_n", norm_text(F.col(text_col)),
        )
        .select(F.explode(shingles_over_norm("_n", k)).alias("s"))
        .distinct()
    )
    parts = []
    for bits in bit_widths:
        m = 1 << int(bits)
        agg = sh.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.count_distinct(hash_mod(f"ncr{bits}", F.col("s"), m))
            .cast("bigint").alias("n_hashes"),
        )
        parts.append(
            agg.select(
                F.lit(int(bits)).cast("bigint").alias("bits"),
                "n_shingles", "n_hashes",
                (F.col("n_shingles") - F.col("n_hashes")).cast("bigint")
                .alias("n_collisions"),
                round6_ratio(
                    (F.col("n_shingles") - F.col("n_hashes"))
                    .cast("decimal(27,6)"),
                    F.greatest(F.col("n_shingles"), F.lit(1)),
                ).alias("collision_rate"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
