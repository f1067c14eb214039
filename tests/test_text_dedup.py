"""Text / dedup / similarity operator tests with planted fixtures."""

import math

from pyspark.sql import functions as F

from fuel_spark.functions import norm_text
from fuel_spark.ops import dedup, similarity, text as text_ops
from fuel_spark.sources import build_dictionary, dictionary_encode, from_rows


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    other = "completely different words about spark engines and shuffles"
    return from_rows(
        spark,
        [(0, base), (1, base), (2, near), (3, other)],
        schema="doc_id bigint, text string",
    )


def test_exact_dedup_groups(spark):
    out = dedup.exact_dedup(_docs(spark), "doc_id", "text").collect()
    by_keep = {r.keep_id: r.dup_count for r in out}
    assert by_keep[0] == 2  # docs 0 and 1 identical
    assert by_keep[2] == 1 and by_keep[3] == 1


def test_minhash_finds_near_dup_not_unrelated(spark):
    pairs = {(r.id_a, r.id_b) for r in
             dedup.minhash_candidate_pairs(_docs(spark), "doc_id", "text").collect()}
    assert (0, 1) in pairs  # identical docs always collide
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup should bucket together
    assert (0, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_values(spark):
    out = {(r.id_a, r.id_b): r.jaccard for r in
           dedup.ngram_jaccard_pairs(_docs(spark), "doc_id", "text").collect()}
    assert out[(0, 1)] == 1.0
    assert 0.5 < out.get((0, 2), out.get((1, 2), 0)) < 1.0


def test_apply_dedup_keeps_canonicals(spark):
    out = sorted(r.doc_id for r in
                 dedup.apply_dedup(_docs(spark), "doc_id", "text", threshold=0.5).collect())
    # doc 1 (exact dup of 0) and doc 2 (near-dup of 0) drop; 0 and 3 survive
    assert out == [0, 3]


def test_simhash_close_for_near_dup(spark):
    fp = {r.doc_id: r.simhash for r in
          dedup.simhash(_docs(spark), "doc_id", "text").collect()}
    assert fp[0] == fp[1]
    ham_near = bin(fp[0] ^ fp[2]).count("1")
    ham_far = bin(fp[0] ^ fp[3]).count("1")
    assert ham_near < ham_far


def test_lang_id_english(spark):
    df = from_rows(
        spark,
        [(0, "the cat is in the house and it is warm"),
         (1, "le chat est dans la maison et il est un chat"),
         (2, "xyzzy qwerty")],
        schema="doc_id bigint, text string",
    )
    out = {r.doc_id: r.pred_lang for r in text_ops.lang_id(df, "text").collect()}
    assert out[0] == "en"
    assert out[1] == "fr"
    assert out[2] == "und"


def test_token_counts(spark):
    df = from_rows(spark, [(0, "Hello, world! 42"), (1, "")],
                   schema="doc_id bigint, text string")
    out = {r.doc_id: (r.ws_tokens, r.bpe_tokens) for r in
           text_ops.token_counts(df, "text").collect()}
    assert out[0][0] == 3
    # Hello , world ! 4 2 → 6 BPE-ish pre-tokens
    assert out[0][1] == 6
    assert out[1] == (0, 0)


def test_quality_score_range(spark):
    df = from_rows(
        spark,
        [(0, "the cat and the dog sat in the warm house for hours today")],
        schema="doc_id bigint, text string",
    )
    r = text_ops.quality_score(df, "text").first()
    assert r.quality == 1.0


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    vecs = {0: [1.0, 0.0], 1: [0.9, 0.1], 2: [0.0, 1.0], 3: [-1.0, 0.0]}
    df = from_rows(spark, [(k, v) for k, v in vecs.items()],
                   schema="vec_id bigint, embedding array<float>")
    out = similarity.cosine_topk(df, df.where(F.col("vec_id") == 0), k=3).collect()
    got = [(r.neighbor_id, r.cosine) for r in sorted(out, key=lambda r: r.rank)]
    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert [g[0] for g in got] == [1, 2, 3]
    for nid, c in got:
        assert math.isclose(c, cos(vecs[0], vecs[nid]), abs_tol=1e-6)


def test_char_level_encode(spark):
    df = from_rows(spark, [(0, "aba")], schema="doc_id bigint, text string")
    dic = build_dictionary(df, "text", vocab_size=10, level="character")
    ids = {r.word: r.word_id for r in dic.collect()}
    assert ids["a"] == 3 and ids["b"] == 4  # 'a' more frequent
    enc = dictionary_encode(df, "doc_id", "text", dic, level="character").first()
    assert enc.token_ids == [0, 3, 4, 3, 1]


def test_dictionary_encode_bos_eos_unk(spark):
    df = from_rows(spark, [(0, "aa bb aa"), (1, "aa zz")],
                   schema="doc_id bigint, text string")
    dic = build_dictionary(df, "text", vocab_size=1)  # only 'aa' in vocab
    enc = {r.doc_id: r.token_ids for r in
           dictionary_encode(df, "doc_id", "text", dic).collect()}
    # BOS=0 EOS=1 UNK=2, first word id 3
    assert enc[0] == [0, 3, 2, 3, 1]
    assert enc[1] == [0, 3, 2, 1]


def test_cosine_pairs_max_block_star_degrade(spark):
    """A block over the cap contributes star pairs (anchor × rest),
    never all-pairs — bounded expansion on skewed blocking keys."""
    rows = [(i, 0, [1.0, float(i)]) for i in range(6)]  # giant block
    rows += [(10 + i, 1, [1.0, float(i)]) for i in range(3)]  # small block
    df = from_rows(spark, rows, schema="vec_id bigint, label int, embedding array<double>")
    capped = similarity.cosine_pairs_within(
        df, "label", threshold=-1.0, max_block=4
    ).collect()
    uncapped = similarity.cosine_pairs_within(df, "label", threshold=-1.0).collect()
    assert len(uncapped) == 15 + 3
    assert len(capped) == 5 + 3  # star pairs for the giant block
    giant = [(r.id_a, r.id_b) for r in capped if r.label == 0]
    assert all(a == 0 for a, _ in giant)  # anchored at the block min id
    small = {(r.id_a, r.id_b) for r in capped if r.label == 1}
    assert small == {(10, 11), (10, 12), (11, 12)}  # small block: all pairs


def test_dictionary_encode_external_vocab(spark):
    from fuel_spark.sources.text import BOS_ID, EOS_ID, UNK_ID

    df = from_rows(
        spark,
        [(0, "the cat"), (1, ""), (2, "dog")],
        schema="doc_id bigint, text string",
    )
    enc = {r.doc_id: r.token_ids
           for r in dictionary_encode(df, "doc_id", "text", {"the": 3, "cat": 4}).collect()}
    assert enc[0] == [BOS_ID, 3, 4, EOS_ID]
    assert enc[1] == [BOS_ID, EOS_ID]  # empty doc still yields a row
    assert enc[2] == [BOS_ID, UNK_ID, EOS_ID]


def test_remove_stopwords_and_sentences(spark):
    df = from_rows(
        spark,
        [(0, "The cat sat. The dog ran! And then?")],
        schema="doc_id bigint, text string",
    )
    r = text_ops.remove_stopwords(df, "text").first()
    assert "the" not in r.content_words and "cat" in r.content_words
    s = text_ops.sentence_stats(df, "text").first()
    assert s.n_sentences == 3


def test_ngram_counts_short_doc_safe(spark):
    df = from_rows(
        spark,
        [(0, "a b a b"), (1, "a b"), (2, "x"), (3, "")],
        schema="doc_id bigint, text string",
    )
    got = {r.gram: r.cnt for r in text_ops.ngram_counts(df, "text", n=2).collect()}
    assert got["a b"] == 3  # two in doc 0, one in doc 1
    assert got["b a"] == 1
    assert all(" " in g for g in got)  # no single-word grams leaked


def test_label_centroids_matches_numpy(spark):
    import numpy as np

    rows = [(0, 0, [1.0, 2.0]), (1, 0, [3.0, 6.0]), (2, 1, [5.0, 5.0])]
    df = from_rows(spark, rows, schema="vec_id bigint, label int, embedding array<double>")
    got = {r.label: (r.centroid, r.dim) for r in
           similarity.label_centroids(df).collect()}
    assert got[0] == ([2.0, 4.0], 2)
    assert got[1] == ([5.0, 5.0], 2)


def test_repetition_stats_known_fractions(spark):
    df = from_rows(spark, [(1, "a a a b"), (2, "x y z w")],
                   schema="doc_id bigint, text string")
    rows = {r.doc_id: r for r in
            text_ops.repetition_stats(df, "text").collect()}
    r1 = rows[1]
    assert r1.n_words == 4
    assert abs(r1.dup_word_frac - 0.5) < 1e-9        # 4 words, 2 distinct
    assert abs(r1.dup_bigram_frac - (1 / 3)) < 1e-5  # [a a, a a, a b]
    assert abs(r1.top_bigram_frac - (2 / 3)) < 1e-5
    r2 = rows[2]
    assert r2.dup_word_frac == 0.0 and r2.top_bigram_frac < 0.5


def test_redact_pii_counts_and_sentinels(spark):
    df = from_rows(
        spark,
        [(1, "mail bob@corp.io or bob.smith@mail.example.org today"),
         (2, "call 555-123-4567 now"),
         (3, "server at 192.168.1.10 up"),
         (4, "clean text")],
        schema="doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in text_ops.redact_pii(df, "text").collect()}
    assert rows[1].n_email == 2 and "<EMAIL>" in rows[1].redacted
    assert "bob" not in rows[1].redacted.replace("<EMAIL>", "")
    assert rows[2].n_phone == 1 and "<PHONE>" in rows[2].redacted
    assert rows[3].n_ipv4 == 1 and "<IPV4>" in rows[3].redacted
    assert rows[4].redacted == "clean text"
    assert rows[4].n_email == rows[4].n_phone == rows[4].n_ipv4 == 0


def test_cross_doc_ngram_dup_fraction(spark):
    df = from_rows(
        spark,
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        schema="doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in
            dedup.cross_doc_ngram_dup(df, "doc_id", "text", n=3).collect()}
    assert rows[1].n_grams == 2 and rows[1].n_dup_grams == 1
    assert abs(rows[1].dup_gram_frac - 0.5) < 1e-9   # shares 'a b c' with doc 2
    assert rows[3].n_dup_grams == 0 and rows[3].dup_gram_frac == 0.0


def test_unigram_logprob_matches_hand_computation(spark):
    df = from_rows(
        spark, [(1, "a a a"), (2, "a b")],
        schema="doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in
            text_ops.unigram_logprob(df, "doc_id", "text").collect()}
    # counts: a=4, b=1, total=5
    assert rows[1].n_tokens == 3
    assert abs(rows[1].mean_logprob - math.log10(0.8)) < 1e-5
    expect2 = (math.log10(0.8) + math.log10(0.2)) / 2
    assert rows[2].n_tokens == 2
    assert abs(rows[2].mean_logprob - expect2) < 1e-5


def test_connected_components_transitive_chain(spark):
    pairs = from_rows(
        spark,
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        schema="id_a bigint, id_b bigint",
    )
    comp = {r.v: r.component for r in
            dedup.connected_components(pairs).collect()}
    # the 5-chain needs several propagation rounds to fully converge
    assert all(comp[v] == 1 for v in (1, 2, 3, 4, 5))
    assert comp[10] == 10 and comp[11] == 10


def _union_find_components(edges):
    """Reference: each vertex -> the smallest id in its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_deep_path_matches_union_find(spark):
    """Path graphs need several propagation rounds (each carried into
    the next as a materialized frame); the labels must equal a plain
    union-find on the same edges."""
    for n in (21, 9):
        edges = [(i, i + 1) for i in range(1, n)]
        pairs = from_rows(spark, edges, schema="id_a bigint, id_b bigint")
        got = {r.v: r.component for r in
               dedup.connected_components(pairs).collect()}
        assert got == _union_find_components(edges)
        assert set(got.values()) == {1}


def test_dedup_components_labels_all_docs(spark):
    df = from_rows(
        spark,
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "totally different words with no overlap here")],
        schema="doc_id bigint, text string",
    )
    out = {r.doc_id: r.component for r in
           dedup.dedup_components(df, "doc_id", "text", 0.5).collect()}
    assert out[1] == 1 and out[2] == 1    # near-dups share a component
    assert out[3] == 3                    # singleton keeps its own id


def test_decontaminate_flags_overlap(spark):
    bench = from_rows(
        spark,
        [(100, "the quick brown fox jumps over the lazy dog")],
        schema="doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in
           dedup.decontaminate(_docs(spark), "doc_id", "text", bench, "text", n=3)
           .collect()}
    # docs 0/1 share the benchmark's trigrams verbatim; doc 3 shares none
    assert out[0].contaminated and out[1].contaminated
    assert not out[3].contaminated and out[3].n_contaminated == 0
    # every input doc yields a row, even without grams
    assert set(out) == {0, 1, 2, 3}
    assert out[0].n_contaminated > 0
    assert out[0].n_grams >= out[0].n_contaminated


def test_semantic_dedup_kills_near_identical_vectors(spark):
    rows = [
        (0, [1.0, 0.1, 0.2], 0),
        (1, [1.0, 0.11, 0.2], 0),   # near-identical to 0: same signs, cos ~1
        (2, [-1.0, 0.5, -0.3], 1),  # different sign block
        (3, [0.1, 1.0, 0.9], 2),    # same signs as 0/1, low cosine
    ]
    df = from_rows(spark, rows, schema="vec_id bigint, embedding array<double>, label int")
    kept = sorted(r.vec_id for r in
                  similarity.semantic_dedup(df, threshold=0.97, bits=3).collect())
    assert kept == [0, 2, 3]  # 1 killed as the larger id of the (0,1) pair


def test_corpus_stats_hand_counts(spark):
    rows = [
        (0, "a b c", "en", "web"),
        (1, "d e", "en", "web"),
        (2, "f", "fr", "book"),
    ]
    df = from_rows(spark, rows,
                   schema="doc_id bigint, text string, lang string, source string")
    out = {(r.lang, r.source): r for r in
           text_ops.corpus_stats(df, "text", ("lang", "source")).collect()}
    en = out[("en", "web")]
    assert en.n_docs == 2 and en.total_tokens == 5
    assert en.mean_tokens == 2.5 and en.p50_tokens == 2.5
    assert out[("fr", "book")].total_tokens == 1


def test_leakage_split_cohesive_clusters(spark):
    out = {r.doc_id: r for r in
           dedup.leakage_free_split(_docs(spark), "doc_id", "text",
                                    holdout_fraction=0.5).collect()}
    assert set(out) == {0, 1, 2, 3}
    # near-dup cluster {0,1,2} must land on ONE side, whole
    sides = {out[i].split for i in (0, 1, 2)}
    assert len(sides) == 1
    comps = {out[i].component for i in (0, 1, 2)}
    assert comps == {0}


def test_sentiment_score_polarity(spark):
    rows = [
        (0, "good great fast excellent"),
        (1, "bad slow terrible"),
        (2, "table scan row"),
        (3, "good bad"),
    ]
    df = from_rows(spark, rows, schema="doc_id bigint, text string")
    out = {r.doc_id: r for r in
           text_ops.sentiment_score(df, "text").collect()}
    assert out[0].sentiment == "positive" and out[0].polarity == 1.0
    assert out[1].sentiment == "negative" and out[1].polarity == -1.0
    assert out[2].sentiment == "neutral" and out[2].n_pos == 0
    assert out[3].polarity == 0.0 and out[3].n_pos == 1 and out[3].n_neg == 1


def test_events_similar_users_finds_twin_trails(spark):
    import datetime as dt

    from fuel_spark.plans import analytics

    # users 1 and 2 follow the same 12-step trail; user 3 diverges
    base = ["view", "click", "view", "purchase"] * 3
    other = ["click", "click", "view", "view"] * 3
    rows = []
    eid = 0
    for uid, trail in ((1, base), (2, base), (3, other)):
        for i, et in enumerate(trail):
            rows.append((eid, uid, et, dt.datetime(2024, 1, 1, 0, i)))
            eid += 1
    e = from_rows(
        spark, rows,
        schema="event_id bigint, user_id bigint, event_type string, ts timestamp",
    )
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             analytics.events_similar_users({"events": e}, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_bm25_ranks_matching_docs(spark):
    rows = [
        (0, "spark spark spark shuffle"),     # high tf for 'spark'
        (1, "spark engine shuffle"),          # one hit each
        (2, "completely unrelated words"),    # no hits
        (3, "engine engine engine engine"),   # rare-term tf
    ]
    df = from_rows(spark, rows, schema="doc_id bigint, text string")
    out = text_ops.bm25_scores(df, "doc_id", "text", ("spark", "engine"), top_n=5)
    got = {r.doc_id: r for r in out.collect()}
    assert 2 not in got                       # zero-hit docs don't score
    assert got[0].n_terms_hit == 1 and got[1].n_terms_hit == 2
    ranks = sorted((r.rank, r.doc_id) for r in got.values())
    assert [r for r, _ in ranks] == [1, 2, 3]
    # doc 1 hits both terms; saturation (k1) caps doc 0's repeated term
    assert got[1].score > got[0].score


def test_quantized_ann_agrees_with_exact_rerank(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)
    ]
    df = from_rows(spark, rows, schema="vec_id bigint, embedding array<double>")
    q = df.where("vec_id < 3")
    approx = {(r.query_id, r.neighbor_id)
              for r in similarity.quantized_ann(df, q, k=5, bits=4).collect()}
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.sign_block_ann(df, q, k=5, bits=4).collect()}
    # same blocking, int8 vs float scoring: top-5 sets nearly coincide
    assert approx and exact
    overlap = len(approx & exact) / len(exact)
    assert overlap >= 0.8


def test_chunk_documents_windows_and_overlap(spark):
    # 10 words: w0..w9; size 4, stride 3 → starts 0,3,6,9 but the
    # start=9 window [w9] is fully inside [w6..w9] → dropped
    text = " ".join(f"w{i}" for i in range(10))
    df = from_rows(spark, [(1, text)], schema="doc_id bigint, text string")
    out = text_ops.chunk_documents(df, chunk_size=4, stride=3)
    rows = sorted((r.chunk_id, r.start, r.n_tokens, r.chunk_text)
                  for r in out.collect())
    assert rows == [
        (0, 0, 4, "w0 w1 w2 w3"),
        (1, 3, 4, "w3 w4 w5 w6"),
        (2, 6, 4, "w6 w7 w8 w9"),
    ]


def test_chunk_documents_short_and_empty_docs(spark):
    df = from_rows(
        spark,
        [(1, "only two"), (2, ""), (3, "   "), (4, "one")],
        schema="doc_id bigint, text string",
    )
    out = text_ops.chunk_documents(df, chunk_size=4, stride=3)
    rows = {r.doc_id: (r.n_tokens, r.chunk_text) for r in out.collect()}
    # short docs → one partial chunk; empty/whitespace docs → no chunks
    assert rows == {1: (2, "only two"), 4: (1, "one")}


def test_chunk_documents_no_shuffle(spark):
    df = from_rows(spark, [(1, "a b c d e")], schema="doc_id bigint, text string")
    plan = text_ops.chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_containment_catches_subset_duplication(spark):
    short = "the quick brown fox jumps over the lazy dog again and again"
    long_ = short + " plus a tail"
    other = "completely different words about spark engines and shuffles"
    df = from_rows(
        spark,
        [(0, short), (1, long_), (2, other)],
        schema="doc_id bigint, text string",
    )
    # single-row bands: LSH recall at moderate Jaccard (the containment
    # case lowers J by construction — the union grows with the tail)
    rows = {(r.id_a, r.id_b): r for r in
            dedup.containment_pairs(df, "doc_id", "text", threshold=0.9,
                                    num_hashes=9, bands=9)
            .collect()}
    assert (0, 1) in rows
    r = rows[(0, 1)]
    # every shingle of the short doc appears in the long one
    assert r.containment_ab == 1.0
    # but not vice versa (the tail is unique to the long doc)
    assert r.containment_ba < 1.0
    # the unrelated doc pairs with nothing
    assert all(2 not in pair for pair in rows)


def test_minhash_max_bucket_star_degrade(spark):
    """An over-cap LSH bucket contributes star pairs (bucket-min x
    rest), never all-pairs — the bounded-expansion guard for
    boilerplate buckets at scale."""
    text = "the same boilerplate text repeated verbatim in every document"
    df = from_rows(
        spark,
        [(i, text) for i in range(6)],
        schema="doc_id bigint, text string",
    )
    uncapped = {(r.id_a, r.id_b) for r in
                dedup.minhash_candidate_pairs(df, "doc_id", "text").collect()}
    assert len(uncapped) == 15  # all pairs of 6 identical docs
    capped = {(r.id_a, r.id_b) for r in
              dedup.minhash_candidate_pairs(
                  df, "doc_id", "text", max_bucket=4).collect()}
    assert capped == {(0, j) for j in range(1, 6)}  # anchored at min id


def test_segment_dedup_flags_repeats_keeps_first(spark):
    """Four-word segments: the shared boilerplate segment is flagged in
    every doc but its first (min doc_id, min position) occurrence;
    unique segments never flag."""
    boiler = "alpha beta gamma delta"
    docs = from_rows(
        spark,
        [
            {"doc_id": 1, "text": boiler + " one two three four"},
            {"doc_id": 2, "text": boiler + " five six seven eight"},
            # boilerplate appears at position 1 here, not 0
            {"doc_id": 3, "text": "x y z w " + boiler},
        ],
    )
    out = dedup.segment_dedup(docs, segment_words=4)
    rows = {(r.doc_id, r.chunk_id): (r.n_copies, r.is_dup) for r in out.collect()}
    assert rows[(1, 0)] == (3, False)      # keeper: min (doc, pos)
    assert rows[(2, 0)] == (3, True)
    assert rows[(3, 1)] == (3, True)
    assert rows[(1, 1)] == (1, False)
    assert rows[(2, 1)] == (1, False)
    assert rows[(3, 0)] == (1, False)


def test_apply_segment_dedup_rebuilds_survivors_in_order(spark):
    """The apply tier drops flagged repeats and reassembles surviving
    segments in chunk order; fully-duplicate docs come back empty but
    present."""
    boiler = "alpha beta gamma delta"
    docs = from_rows(
        spark,
        [
            {"doc_id": 1, "text": boiler + " one two three four"},
            {"doc_id": 2, "text": boiler + " five six seven eight"},
            {"doc_id": 3, "text": "x y z w " + boiler},
            {"doc_id": 4, "text": boiler},  # nothing survives
        ],
    )
    out = {
        r.doc_id: (r.text, r.n_kept, r.n_dropped)
        for r in dedup.apply_segment_dedup(docs, segment_words=4).collect()
    }
    assert out[1] == (boiler + " one two three four", 2, 0)  # keeper doc
    assert out[2] == ("five six seven eight", 1, 1)
    assert out[3] == ("x y z w", 1, 1)
    assert out[4] == ("", 0, 1)


def test_feature_hashing_counts_and_slots(spark):
    """Slot counts sum to the word total; identical words land in the
    same slot; slots stay inside [0, n_features)."""
    from fuel_spark.ops.text import feature_hashing

    docs = from_rows(
        spark,
        [
            {"doc_id": 1, "text": "cat cat dog"},
            {"doc_id": 2, "text": "cat"},
        ],
    )
    rows = feature_hashing(docs, "doc_id", "text", n_features=8).collect()
    by_doc = {}
    for r in rows:
        assert 0 <= r.slot < 8
        by_doc.setdefault(r.doc_id, {})[r.slot] = r["count"]
    assert sum(by_doc[1].values()) == 3
    assert sum(by_doc[2].values()) == 1
    # 'cat' hashes identically in both docs
    (slot2,) = by_doc[2].keys()
    assert by_doc[1][slot2] == 2


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """Docs made of target-slice vocabulary must score higher than
    docs of off-target vocabulary; token counts are exact."""
    rows = (
        [{"doc_id": i, "text": "foo foo bar", "grp": "tgt"} for i in range(3)]
        + [{"doc_id": 10 + i, "text": "baz qux zap", "grp": "raw"} for i in range(3)]
        + [{"doc_id": 20, "text": "foo foo foo foo", "grp": "raw"},
           {"doc_id": 21, "text": "baz baz baz baz", "grp": "raw"}]
    )
    out = {
        r.doc_id: (r.n_tokens, r.log_weight)
        for r in text_ops.dsir_weights(
            from_rows(spark, rows), "doc_id", "text", F.col("grp") == "tgt"
        ).collect()
    }
    assert out[20][0] == 4 and out[21][0] == 4
    # doc 20 is pure target vocabulary, doc 21 pure non-target
    assert out[20][1] > out[21][1]


def test_winnowing_locality_guarantee(spark):
    """Docs sharing a substring of length k + window - 1 (= 11 here)
    must share a fingerprint; docs over disjoint alphabets share
    none; short docs still emit their single-window fingerprint."""
    shared = "abcdefghijk"  # 11 chars
    docs = from_rows(
        spark,
        [
            {"doc_id": 1, "text": "xxxx" + shared + "yyyy"},
            {"doc_id": 2, "text": "zzzz" + shared + "wwww"},
            {"doc_id": 3, "text": "mnopqrstuvmnopqrstuv"},
            {"doc_id": 4, "text": "tiny"},   # < k chars: nothing
            {"doc_id": 5, "text": "exactly09"},  # 9 chars: 2 grams, 1 window
        ],
    )
    out = text_ops.winnow_fingerprints(docs, "doc_id", "text", k=8, window=4)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc
    assert len(by_doc[5]) == 1


def test_merge_into_index_catches_cross_batch_dups(spark):
    """Screen-vs-index lifecycle: batch 1's accepted docs merge into
    the index, so batch 2's near-copy of a batch-1 doc is screened out
    — without the merge it would sail through."""
    from fuel_spark.streaming.serve import near_dup_stream

    ref = from_rows(
        spark,
        [{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog " * 3}],
    )
    idx = dedup.with_minhash_bands(ref, "doc_id", "text")

    b1_text = "pack my box with five dozen liquor jugs tonight " * 3
    batch1 = from_rows(spark, [{"doc_id": 100, "text": b1_text}])
    accepted1 = near_dup_stream(batch1, idx).select("doc_id", "text")
    assert [r.doc_id for r in accepted1.collect()] == [100]

    # batch 2 near-copies the batch-1 doc (and nothing from ref)
    batch2 = from_rows(
        spark, [{"doc_id": 200, "text": b1_text + "extra trailing words"}]
    )
    # stale index misses it
    stale = near_dup_stream(batch2, idx).select("doc_id")
    assert [r.doc_id for r in stale.collect()] == [200]
    # merged index catches it
    merged = dedup.merge_into_index(idx, accepted1)
    fresh = near_dup_stream(batch2, merged).select("doc_id")
    assert fresh.collect() == []


def test_band_forms_agree_long_and_wide(spark):
    """Screening (``near_dup_stream``) reads the WIDE band form and
    index building the LONG one: a doc is caught only if both sketch
    it identically.  The long rows equal the unpivot of the wide
    columns, including a text shorter than ``shingle_k`` and an empty
    text; the wide form keeps every input column."""
    docs = from_rows(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog", "a"),
            (2, "The quick brown fox jumped over the lazy dog!", "b"),
            (3, "abc", "c"),
            (4, "", "d"),
            (5, "completely different words about spark engines", "e"),
        ],
        schema="doc_id bigint, text string, src string",
    )
    for num_hashes, bands, shingle_k in ((9, 3, 5), (8, 4, 3)):
        long = {
            tuple(r)
            for r in dedup.with_minhash_bands(
                docs, "doc_id", "text", num_hashes, bands, shingle_k
            ).collect()
        }
        wide = dedup.minhash_band_key_cols(
            docs, "doc_id", "text", num_hashes, bands, shingle_k
        )
        assert wide.columns == docs.columns + [f"band_key_{b}" for b in range(bands)]
        rows = wide.collect()
        unpivot = {
            (r.doc_id, b, r[f"band_key_{b}"]) for r in rows for b in range(bands)
        }
        assert len(long) == 5 * bands
        assert long == unpivot
        assert {(r.doc_id, r.src) for r in rows} == {
            (1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")
        }


def test_fuzzy_join_links_near_dups_across_corpora(spark):
    """A left doc links to its right-side near-copy above threshold;
    unrelated docs never pair; max_bucket skips boilerplate buckets."""
    base = "the quick brown fox jumps over the lazy sleeping dog " * 2
    left = from_rows(
        spark,
        [
            {"doc_id": 1, "text": base},
            {"doc_id": 2, "text": "completely different material about stocks " * 3},
        ],
    )
    right = from_rows(
        spark,
        [
            {"doc_id": 10, "text": base + "tail"},
            {"doc_id": 11, "text": "unrelated musical prose entirely here " * 3},
        ],
    )
    got = {
        (r.id_l, r.id_r): r.jaccard
        for r in dedup.fuzzy_join(left, right, threshold=0.5).collect()
    }
    assert set(got) == {(1, 10)}
    assert got[(1, 10)] > 0.5
    # a cap of 0 skips every bucket -> no candidates survive
    assert (
        dedup.fuzzy_join(left, right, threshold=0.0, max_bucket=0).count() == 0
    )


def test_oov_rate_hand_computed(spark):
    """OOV = tokens outside the supplied vocab; empty docs emit no
    row; exact counts and a round-6 rate."""
    from fuel_spark.sources import dictionary_from_mapping

    docs = from_rows(
        spark,
        [
            {"doc_id": 1, "text": "cat dog cat bird"},   # bird OOV -> 1/4
            {"doc_id": 2, "text": "zeb yak"},            # all OOV  -> 2/2
            {"doc_id": 3, "text": ""},                   # no row
        ],
    )
    vocab = dictionary_from_mapping(spark, {"cat": 3, "dog": 4})
    out = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in text_ops.oov_rate(docs, "doc_id", "text", vocab).collect()
    }
    assert out == {1: (4, 1, 0.25), 2: (2, 2, 1.0)}


def test_multiprobe_lsh_improves_recall_on_random_corpus(spark):
    """Radius-1 multi-probe must find at least as many true top-k
    pairs as single-probe, and strictly more on an unstructured
    corpus (the measured failure mode of single-probe sign families)."""
    import numpy as np

    rng = np.random.RandomState(11)
    X = rng.randn(150, 16)
    rows = [
        {"vec_id": i, "embedding": [float(v) for v in X[i]]} for i in range(150)
    ]
    e = from_rows(spark, rows)
    q = e.where(F.col("vec_id") < 10)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(e, q, "vec_id", "embedding", k=3).collect()
    }

    def got(probes):
        return {
            (r.query_id, r.neighbor_id)
            for r in similarity.lsh_ann(
                e, q, "vec_id", "embedding", k=3, num_planes=5,
                probes=probes,
            ).collect()
        }

    r0 = len(got(0) & brute)
    r1 = len(got(1) & brute)
    assert r1 >= r0
    assert r1 > r0  # random corpus: probing must actually help


def test_hard_negatives_exclude_same_label_and_rank_by_cosine(spark):
    import numpy as np

    rows = []
    # label 0 anchors near axis-x; label 1 near-axis-x too (hard), label 2 orthogonal
    vecs = {
        0: [1.0, 0.0, 0.0],
        1: [0.99, 0.14, 0.0],   # different label, very similar = hard
        2: [0.0, 1.0, 0.0],     # different label, orthogonal = easy
        3: [1.0, 0.01, 0.0],    # SAME label as anchor: must be excluded
    }
    labels = {0: 7, 1: 8, 2: 9, 3: 7}
    for vid, v in vecs.items():
        rows.append({"vec_id": vid, "embedding": v, "label": labels[vid]})
    e = from_rows(spark, rows)
    q = e.where(F.col("vec_id") == 0)
    out = similarity.hard_negatives(e, q, k=2).orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [1, 2]
    assert all(r.neighbor_label != 7 for r in out)


def test_sample_negatives_deterministic_and_self_free(spark):
    e = from_rows(spark, [{"vec_id": i} for i in range(40)])
    a = similarity.sample_negatives(e, k=4, seed=3).collect()
    b = similarity.sample_negatives(e, k=4, seed=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(0 <= r.neg_id < 40 and r.neg_id != r.vec_id for r in a)
    # each anchor yields k or k-1 negatives (anchor collisions skipped)
    from collections import Counter

    per = Counter(r.vec_id for r in a)
    assert all(3 <= per[i] <= 4 for i in range(40))
    # a different seed draws a different set
    c = similarity.sample_negatives(e, k=4, seed=4).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_hamming_near_dup_complete_within_radius(spark):
    """Pigeonhole completeness: EVERY pair within the radius is found
    (banding cannot miss one), and nothing outside the radius slips
    through the verify."""
    from itertools import combinations

    hashes = {
        1: 0b0000000000000000,
        2: 0b0000000000000111,   # d(1,2)=3 -> pair
        3: 0b0000000000001111,   # d(1,3)=4 -> no; d(2,3)=1 -> pair
        4: 0b1111111100000000,   # far from all
        5: 0b1111111100000001,   # d(4,5)=1 -> pair
    }
    df = from_rows(spark, [{"doc_id": k, "h": v} for k, v in hashes.items()])
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.hamming_near_dup(df, "doc_id", "h", bits=16, radius=3).collect()
    }
    want = {
        (a, b): bin(hashes[a] ^ hashes[b]).count("1")
        for a, b in combinations(sorted(hashes), 2)
        if bin(hashes[a] ^ hashes[b]).count("1") <= 3
    }
    assert got == want


def test_train_bpe_matches_reference_model(spark):
    """Merge sequence equals a straightforward Python BPE (Sennrich
    2016) with the same tie-break (max count, then lexicographically
    smallest pair) on the classic low/lower/newest/widest corpus."""
    corpus = (
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )

    def ref_bpe(tokens, n):
        from collections import Counter

        vocab = Counter(tuple(w) + ("</w>",) for w in tokens)
        out = []
        for _ in range(n):
            pc = Counter()
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += f
            if not pc:
                break
            # tie-break: max count, then smallest (a, b)
            top_n = max(pc.values())
            cands = sorted(k for k, v in pc.items() if v == top_n)
            a, b = cands[0]
            if pc[(a, b)] < 2:
                break
            out.append((a, b, pc[(a, b)]))
            new_vocab = Counter()
            for syms, f in vocab.items():
                merged, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                new_vocab[tuple(merged)] += f
            vocab = new_vocab
        return out

    docs = from_rows(spark, [{"doc_id": 0, "text": " ".join(corpus)}])
    got = text_ops.train_bpe(docs, "text", n_merges=8)
    want = ref_bpe(corpus, 8)
    assert got == want
    # sanity: the famous first merges appear (es, est for 'newest'/'widest')
    assert ("e", "s") in [(a, b) for a, b, _ in got[:2]]


def test_bpe_encode_roundtrips_training_corpus(spark):
    """Encoding the training corpus with its own merges reproduces the
    reference segmentation (e.g. newest -> n e w est</w> after enough
    merges) and loses no characters."""
    corpus = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = from_rows(spark, [{"doc_id": 0, "text": " ".join(corpus)}])
    merges = text_ops.train_bpe(docs, "text", n_merges=8)
    enc = text_ops.bpe_encode(docs, "doc_id", "text", merges).collect()[0]
    toks = enc.tokens
    # reconstruct: stripping markers and joining must give the corpus
    flat = "".join(toks).replace("</w>", " ").strip().split()
    assert flat == corpus
    # the high-frequency word collapsed into few symbols
    joined = " ".join(toks)
    assert "est</w>" in joined or "newest</w>" in joined


def test_hamming_near_dup_star_degrade_guard(spark):
    """Oversized band buckets must degrade to star pairs (anchor x
    member) instead of materializing a quadratic in-row array — the
    10x-smoke OOM shape: many identical fingerprints in a 4-bit band
    keyspace."""
    from fuel_spark.ops.dedup import hamming_near_dup
    from fuel_spark.sources import from_rows

    rows = [(i, 0b1010101010101010) for i in range(40)]
    df = from_rows(spark, rows, "doc_id bigint, simhash bigint")
    exact = hamming_near_dup(
        df, "doc_id", "simhash", bits=16, radius=3, max_bucket=None
    ).collect()
    starred = hamming_near_dup(
        df, "doc_id", "simhash", bits=16, radius=3, max_bucket=8
    ).collect()
    # exact: all 40*39/2 pairs; starred: one bucket anchor (min id)
    # paired with every other member, per band -> same star set
    assert len(exact) == 40 * 39 // 2
    assert {(r.id_a, r.id_b) for r in starred} == {(0, i) for i in range(1, 40)}
    assert all(r.hamming == 0 for r in starred)


def test_hamming_near_dup_guard_keeps_small_buckets_exact(spark):
    from fuel_spark.ops.dedup import hamming_near_dup
    from fuel_spark.sources import from_rows

    rows = [(1, 0b0000000000000000), (2, 0b0000000000000001),
            (3, 0b1111111111111111), (4, 0b0000111100001111)]
    df = from_rows(spark, rows, "doc_id bigint, simhash bigint")
    guarded = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_near_dup(
            df, "doc_id", "simhash", bits=16, radius=3, max_bucket=512
        ).collect()
    }
    unguarded = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_near_dup(
            df, "doc_id", "simhash", bits=16, radius=3, max_bucket=None
        ).collect()
    }
    assert guarded == unguarded == {(1, 2): 1}


def test_bigram_logprob_rewards_repeated_word_order(spark):
    """Word order matters: a corpus where 'alpha beta' always appears
    in that order scores the in-order doc higher than a reversed one,
    even though their unigram mixes are identical."""
    from fuel_spark.ops.text import bigram_logprob
    from fuel_spark.sources import from_rows

    docs = [(i, "alpha beta gamma delta " * 5) for i in range(8)]
    docs.append((100, "alpha beta gamma delta " * 5))          # in-order
    docs.append((101, "delta gamma beta alpha " * 5))          # reversed
    df = from_rows(spark, docs, "doc_id bigint, text string")
    out = {r.doc_id: r.mean_logprob2
           for r in bigram_logprob(df, "doc_id", "text").collect()}
    assert out[100] > out[101]


def test_bigram_logprob_single_word_docs_excluded(spark):
    from fuel_spark.ops.text import bigram_logprob
    from fuel_spark.sources import from_rows

    df = from_rows(
        spark,
        [(1, "only"), (2, "two words")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in bigram_logprob(df, "doc_id", "text").collect()}
    assert 1 not in out          # no bigram can exist
    assert out[2].n_bigrams == 1


def test_bigram_logprob_half_boundary_deterministic(spark):
    """The rounded mean comes from exact integer division, so repeat
    runs at different parallelism are bit-identical."""
    from fuel_spark.ops.text import bigram_logprob
    from fuel_spark.sources import load_tables

    d = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    a = sorted(map(tuple, bigram_logprob(d, "doc_id", "text").collect()))
    b = sorted(map(tuple, bigram_logprob(
        d.repartition(7), "doc_id", "text").collect()))
    assert a == b


def test_minhash_calibration_sane(spark):
    """On a corpus with exact copies the estimate and exact Jaccard
    both read 1.0 for those pairs; MAE bounded by construction."""
    from fuel_spark.ops.dedup import minhash_calibration
    from fuel_spark.sources import from_rows

    docs = [(i, f"totally unique document number {i} with extra words here")
            for i in range(20)]
    docs += [(100 + i, docs[i][1]) for i in range(5)]  # 5 exact copies
    df = from_rows(spark, docs, "doc_id bigint, text string")
    row = minhash_calibration(df, "doc_id", "text").collect()[0]
    assert row.n_pairs >= 5
    assert 0.0 <= row.mean_abs_err <= 0.5
    # est and exact must broadly agree on this mostly-exact-copy set
    assert abs(row.mean_est_jaccard - row.mean_exact_jaccard) <= row.mean_abs_err + 1e-9


def test_apply_dedup_keep_longest_policy(spark):
    """keep='longest': the fuller page survives a verified pair even
    when it has the larger id; keep='min_id' would kill it."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = from_rows(
        spark,
        [
            {"doc_id": 1, "text": base},
            # near-dup (jaccard 0.84), LONGER, larger id
            {"doc_id": 2, "text": base + " tail words"},
            {"doc_id": 3, "text": "completely different words here"},
        ],
    )
    kept_min = {
        r.doc_id
        for r in dedup.apply_dedup(docs, "doc_id", "text", threshold=0.5).collect()
    }
    kept_long = {
        r.doc_id
        for r in dedup.apply_dedup(
            docs, "doc_id", "text", threshold=0.5, keep="longest"
        ).collect()
    }
    assert kept_min == {1, 3}
    assert kept_long == {2, 3}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep"):
        dedup.apply_dedup(docs, "doc_id", "text", keep="weird")


def test_corpus_diff_statuses(spark):
    old = from_rows(
        spark,
        [(1, "a"), (2, "b"), (3, "c")],
        schema="doc_id bigint, text string",
    )
    new = from_rows(
        spark,
        [(2, "b"), (3, "c CHANGED"), (4, "d")],
        schema="doc_id bigint, text string",
    )
    out = {r.doc_id: r.status for r in dedup.corpus_diff(old, new).collect()}
    assert out == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_clean_text_strips_controls_and_collapses(spark):
    from fuel_spark.ops.text import clean_text

    docs = from_rows(
        spark,
        [(1, "a\x00b\x01  c\t d \x7f"), (2, "clean already")],
        schema="doc_id bigint, text string",
    )
    out = {r.doc_id: (r.clean_text, r.n_chars_removed) for r in
           clean_text(docs, "text").collect()}
    assert out[1] == ("a b c d", 5)
    assert out[2] == ("clean already", 0)


def test_jaccard_carry_exprs_ride_verify_join(spark):
    """carry_exprs payloads come out as <name>_a/<name>_b on every
    verified pair without extra joins."""
    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark), "doc_id", "text",
        carry_exprs={"len": F.length("text")},
    ).collect()
    assert pairs, "expected verified pairs"
    texts = {r.doc_id: r.text for r in _docs(spark).collect()}
    for r in pairs:
        assert r.len_a == len(texts[r.id_a])
        assert r.len_b == len(texts[r.id_b])


def test_apply_dedup_prepass_identical_survivors(spark):
    """The exact pre-pass must not change the survivor set (no
    max_bucket pressure here): same output with it on or off, for
    both survivor policies."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = from_rows(
        spark,
        [(1, base), (2, base), (3, base), (4, base + " tail words"),
         (5, "completely different words here")],
        schema="doc_id bigint, text string",
    )
    for keep in ("min_id", "longest"):
        with_pre = sorted(
            r.doc_id for r in dedup.apply_dedup(
                docs, "doc_id", "text", threshold=0.5, keep=keep
            ).collect()
        )
        without = sorted(
            r.doc_id for r in dedup.apply_dedup(
                docs, "doc_id", "text", threshold=0.5, keep=keep,
                prededup_exact=False,
            ).collect()
        )
        assert with_pre == without, keep


def test_tfidf_similar_docs_ranks_shared_rare_terms(spark):
    """Docs sharing a RARE term rank each other first; a doc sharing
    only ubiquitous (max_df-capped) terms matches nothing."""
    from fuel_spark.ops.text import tfidf_similar_docs

    docs = from_rows(
        spark,
        [
            (1, "common words plus zebra stripes"),
            (2, "common words plus zebra patterns"),
            (3, "common words plus ocean waves"),
            (4, "common words plus ocean tides"),
        ],
        schema="doc_id bigint, text string",
    )
    # 'common'/'words'/'plus' are in all 4 docs -> dropped by max_df=3
    out = {
        (r.doc_id, r.rank): r.neighbor_id
        for r in tfidf_similar_docs(docs, "doc_id", "text", k=2, max_df=3).collect()
    }
    assert out[(1, 1)] == 2 and out[(2, 1)] == 1   # zebra pair
    assert out[(3, 1)] == 4 and out[(4, 1)] == 3   # ocean pair
    # cross-cluster pairs share no surviving term: no rank-2 rows
    assert (1, 2) not in out and (3, 2) not in out


def test_clean_text_strip_html_tier(spark):
    from fuel_spark.ops.text import clean_text

    docs = from_rows(
        spark,
        [(1, '<div id="a">Hello &amp; <b>world</b></div>'),
         (2, '&lt;tag&gt; is literal text')],
        schema="doc_id bigint, text string",
    )
    out = {r.doc_id: r.clean_text for r in
           clean_text(docs, "text", strip_html=True).collect()}
    assert out[1] == "Hello & world"
    assert out[2] == "<tag> is literal text"
    # entity unescape order: &amp;lt; must become &lt;, not <
    tricky = from_rows(spark, [(3, "a &amp;lt; b")],
                       schema="doc_id bigint, text string")
    r = clean_text(tricky, "text", strip_html=True).first()
    assert r.clean_text == "a &lt; b"


def test_char_entropy_hand_values(spark):
    import math as m

    from fuel_spark.ops.text import char_entropy

    docs = from_rows(
        spark,
        [(1, "abab"), (2, "aaaa"), (3, "abcd")],
        schema="doc_id bigint, text string",
    )
    out = {r.doc_id: (r.n_chars_normed, r.char_entropy) for r in
           char_entropy(docs, "doc_id", "text").collect()}
    assert out[1] == (4, round(m.log(2), 6))
    assert out[2] == (4, 0.0)
    assert out[3] == (4, round(m.log(4), 6))


def test_fuzzy_join_prededup_representatives(spark):
    """prededup_exact=True pairs only min-id representatives of each
    side's exact-duplicate groups; raw mode pairs every copy."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    L = from_rows(spark, [(0, base), (2, base)],            # exact dups
                  schema="doc_id bigint, text string")
    R = from_rows(spark, [(1, base + " tail"), (3, base + " tail")],
                  schema="doc_id bigint, text string")
    raw = {(r.id_l, r.id_r) for r in dedup.fuzzy_join(
        L, R, threshold=0.4).collect()}
    rep = {(r.id_l, r.id_r) for r in dedup.fuzzy_join(
        L, R, threshold=0.4, prededup_exact=True).collect()}
    assert raw == {(0, 1), (0, 3), (2, 1), (2, 3)}
    assert rep == {(0, 1)}  # min-id representative of each side


def test_containment_prededup_representatives(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = from_rows(
        spark,
        [(0, base), (2, base), (1, base + " tail words here")],
        schema="doc_id bigint, text string",
    )
    raw = {(r.id_a, r.id_b) for r in dedup.containment_pairs(
        docs, "doc_id", "text", threshold=0.4).collect()}
    rep = {(r.id_a, r.id_b) for r in dedup.containment_pairs(
        docs, "doc_id", "text", threshold=0.4, prededup_exact=True
    ).collect()}
    assert (0, 2) in raw and (0, 1) in raw and (1, 2) in raw
    assert rep == {(0, 1)}


def test_threshold_sweep_monotone_and_complete(spark):
    """Counts are monotone non-increasing in the threshold, and every
    requested threshold reports even when nothing qualifies."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = from_rows(
        spark,
        [(1, base), (2, base), (3, base + " tail words"),
         (4, "completely different words here")],
        schema="doc_id bigint, text string",
    )
    out = {r.threshold: (r.n_pairs, r.n_docs_killed) for r in
           dedup.dedup_threshold_sweep(
               docs, "doc_id", "text",
               thresholds=(0.5, 0.9, 0.999999)).collect()}
    assert set(out) == {0.5, 0.9, 0.999999}
    pairs = [out[t][0] for t in (0.5, 0.9, 0.999999)]
    kills = [out[t][1] for t in (0.5, 0.9, 0.999999)]
    assert pairs == sorted(pairs, reverse=True)
    assert kills == sorted(kills, reverse=True)
    assert out[0.5][0] >= 2          # exact pair + near pair qualify
    assert out[0.999999] == (1, 1)   # only the exact dup survives 1.0-ish


def test_oracle_scale_buckets_under_default_cap(spark):
    """Oracle-parity invariant for DEFAULT_MAX_BUCKET: the DuckDB
    oracle SQL for the pair-family registry queries has no bucket
    guard, so hash parity at the driver's gate scale (sf0.01) relies
    on no LSH bucket reaching the 512 cap (guards never fire → guarded
    and unguarded plans emit identical pairs).  Pin that for both
    bucketed sketch families with the registry parameters; if testdata
    drift ever pushes a bucket past the cap this fails loudly instead
    of surfacing as an inscrutable value-hash mismatch."""
    from fuel_spark.ops.dedup import (
        DEFAULT_MAX_BUCKET,
        simhash,
        with_minhash_bands,
    )
    from fuel_spark.sources import load_tables

    d = load_tables(spark, "/root/testdata/sf0.01")["documents"]
    mh_max = (
        with_minhash_bands(d, "doc_id", "text")  # registry: 9/3/5
        .groupBy("band_id", "band_key")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert mh_max <= DEFAULT_MAX_BUCKET, f"minhash bucket {mh_max} > cap"
    # simhash pigeonhole buckets: 16 bits / radius 3 -> 4 bands of 4
    # bits, the exact banding hamming_near_dup uses
    fp = simhash(d, "doc_id", "text", bits=16)
    bands, width, mask = 4, 4, 0xF
    sh = fp.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.expr(f"shiftright(cast(simhash as bigint), {b * width}) & {mask}").alias("key"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    )
    sh_max = (
        sh.groupBy("bk.band", "bk.key").count().agg(F.max("count")).first()[0]
    )
    assert sh_max <= DEFAULT_MAX_BUCKET, f"simhash bucket {sh_max} > cap"


SHARED12 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"


def test_exact_substring_spans_maximal_and_hashed(spark):
    """A 12-word shared block is reported ONCE per doc pair (maximal,
    never fragmented into sub-spans) with identical content hashes —
    and a non-overlapping doc contributes nothing."""
    rows = [
        (1, "intro one two three " + SHARED12 + " outro xx yy"),
        (2, "different start here " + SHARED12 + " and a tail zz"),
        (3, "no overlap at all just unique words qq ww ee rr tt"),
        (4, SHARED12),
    ]
    df = from_rows(spark, rows, schema="doc_id bigint, text string")
    spans = dedup.exact_substring_spans(
        df, "doc_id", "text", min_len=10, seed_k=5
    ).collect()
    got = {(r.doc_a, r.doc_b): r for r in spans}
    assert set(got) == {(1, 2), (1, 4), (2, 4)}
    assert all(r.span_words == 12 for r in spans)
    assert len({r.span_hash for r in spans}) == 1
    r12 = got[(1, 2)]
    assert (r12.start_a, r12.start_b) == (5, 4)


def test_exact_substring_apply_first_occurrence_survives(spark):
    rows = [
        (1, "intro one two three " + SHARED12 + " outro xx yy"),
        (2, "different start here " + SHARED12 + " and a tail zz"),
        (4, SHARED12),
    ]
    df = from_rows(spark, rows, schema="doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in dedup.exact_substring_apply(
            df, "doc_id", "text", min_len=10, seed_k=5
        ).collect()
    }
    assert out[1].n_words_removed == 0 and SHARED12 in out[1].text_clean
    assert out[2].n_words_removed == 12 and SHARED12 not in out[2].text_clean
    assert out[2].text_clean == "different start here and a tail zz"
    # the fully-duplicated doc empties out
    assert out[4].n_words_removed == 12 and out[4].text_clean == ""


def test_exact_substring_apply_merges_overlapping_cuts(spark):
    """doc 3 shares two different spans with docs 1 and 2 that OVERLAP
    inside doc 3 — each overlapped position must be cut exactly once
    (merged-interval sweep), so removed = union size, not the sum."""
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"          # 12 words
    b = "w8 w9 w10 w11 w12 x1 x2 x3 x4 x5 x6 x7"          # overlaps a's tail
    doc3 = a + " x1 x2 x3 x4 x5 x6 x7"
    rows = [(1, a), (2, b), (3, doc3)]
    df = from_rows(spark, rows, schema="doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in dedup.exact_substring_apply(
            df, "doc_id", "text", min_len=10, seed_k=5
        ).collect()
    }
    # doc3 = 19 words, every one of them covered by the union of the
    # two spans (1..12 from doc1's block, 8..19 from doc2's block)
    assert out[3].n_words == 19
    assert out[3].n_words_removed == 19
    assert out[3].text_clean == ""
    # doc2 loses its overlap with doc1 (w8..w12 + x1..x7 = 12 words)
    assert out[1].n_words_removed == 0


def test_exact_substring_posting_cap_honest_degrade(spark):
    """With max_positions below the seed frequency the hub seeds are
    dropped BEFORE the join and the span disappears — the documented
    guard trade: capped grams can only hide spans made entirely of
    capped (boilerplate) seeds."""
    rows = [
        (1, SHARED12),
        (2, "prefix " + SHARED12),
        (3, "other prefix " + SHARED12),
    ]
    df = from_rows(spark, rows, schema="doc_id bigint, text string")
    full = dedup.exact_substring_spans(
        df, "doc_id", "text", min_len=10, seed_k=5, max_positions=None
    )
    capped = dedup.exact_substring_spans(
        df, "doc_id", "text", min_len=10, seed_k=5, max_positions=2
    )
    assert full.count() == 3 and capped.count() == 0


def test_exact_substring_apply_idempotent(spark):
    """Re-running the removal over an already-cleaned corpus removes
    nothing — the Lee et al. fixed-point property."""
    rows = [
        (1, "intro one two three " + SHARED12 + " outro xx yy"),
        (2, "different start here " + SHARED12 + " and a tail zz"),
        (4, SHARED12),
    ]
    df = from_rows(spark, rows, schema="doc_id bigint, text string")
    once = dedup.exact_substring_apply(
        df, "doc_id", "text", min_len=10, seed_k=5
    ).select("doc_id", F.col("text_clean").alias("text"))
    twice = dedup.exact_substring_apply(
        once, "doc_id", "text", min_len=10, seed_k=5
    ).collect()
    assert all(r.n_words_removed == 0 for r in twice)


def test_policy_filters_flags_and_keep(spark):
    rows = [
        (1, "A perfectly normal prose document about gardens and weather."),
        (2, "This page uses cookies. Read our privacy policy for details."),
        (3, "Content copyright 2020 Example Corp. All rights reserved."),
        (4, "Shared under a Creative Commons CC-BY 4.0 license."),
        (5, "meta robots noindex nofollow"),
    ]
    df = from_rows(spark, rows, schema="doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in text_ops.policy_filters(df, "doc_id", "text").collect()
    }
    assert out[1].keep and not any(
        [out[1].has_noindex, out[1].rights_reserved, out[1].policy_page,
         out[1].has_copyright, out[1].cc_licensed]
    )
    assert out[2].policy_page and not out[2].keep
    assert out[3].has_copyright and out[3].rights_reserved and not out[3].keep
    # CC licensing is an attribution signal, not a drop rule
    assert out[4].cc_licensed and out[4].keep
    assert out[5].has_noindex and not out[5].keep


def test_bpe_encode_fixed_merges_fold_semantics(spark):
    """Left-to-right greedy pass pinned on the tricky shapes: equal-
    symbol runs merge at odd positions only, and later merges chain
    on earlier merges' outputs (training order)."""
    docs = from_rows(
        spark,
        [(1, "aaa aaaa the there"), (2, "inner banana")],
        schema="doc_id bigint, text string",
    )
    merges = [("a", "a"), ("t", "h"), ("th", "e"), ("the", "</w>")]
    enc = {
        r.doc_id: r.tokens
        for r in text_ops.bpe_encode(docs, "doc_id", "text", merges).collect()
    }
    # aaa -> [aa, a]; aaaa -> [aa, aa]; the -> the</w>; there -> the,r,e
    assert enc[1] == [
        "aa", "a", "</w>", "aa", "aa", "</w>",
        "the</w>",
        "the", "r", "e", "</w>",
    ]
    # in-word occurrences chain too: inner -> i,n,n,e,r; banana stays chars
    assert enc[2][:6] == ["i", "n", "n", "e", "r", "</w>"]


def test_bpe_encode_matches_python_greedy(spark):
    """bpe_encode against a pure-Python encoder: each normalized word
    starts as its characters plus the end-of-word marker, and each
    merge, in training order, is one greedy left-to-right pass that
    joins every non-overlapping matching pair."""
    import re

    rows = [(1, "the thin thing in the inn"), (2, "!!!"), (3, "another other")]
    docs = from_rows(spark, rows, schema="doc_id bigint, text string")
    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("the", "</w>")]

    def encode(text):
        toks = []
        for word in re.sub("[^a-z0-9]+", " ", text.lower()).split():
            syms = list(word) + ["</w>"]
            for a, b in merges:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            toks += syms
        return toks, len(toks)

    got = {
        r.doc_id: (r.tokens, r.n_tokens)
        for r in text_ops.bpe_encode(docs, "doc_id", "text", merges).collect()
    }
    assert got == {i: encode(t) for i, t in rows}
    # "!!!" normalizes to nothing: empty token list, not a missing row
    assert got[2] == ([], 0)


def test_self_repetition_spans_periodic_and_block(spark):
    """Within-doc diagonal islands: a doc made of a repeated 6-word
    block reports exactly that block pair; a period-2 doc reports one
    long overlapping match (suffix-array semantics); prose reports
    nothing."""
    block = "p q r s t u"
    rows = [
        (1, block + " " + block),                # 12 words, unit repeated
        (2, "x y x y x y x y x y"),              # 10 words, period 2
        (3, "all these words appear exactly once in this document"),
    ]
    df = from_rows(spark, rows, schema="doc_id bigint, text string")
    spans = dedup.self_repetition_spans(
        df, "doc_id", "text", min_len=6, seed_k=5
    ).collect()
    got = {}
    for r in spans:
        got.setdefault(r.doc_id, set()).add(
            (r.start_a, r.start_b, r.span_words)
        )
    assert got[1] == {(1, 7, 6)}
    # period-2: every shift that is a multiple of the period aligns —
    # shift 2 gives words 1..8 == 3..10, shift 4 gives 1..6 == 5..10
    # (suffix-array semantics: each maximal pair alignment reported)
    assert got[2] == {(1, 3, 8), (1, 5, 6)}
    assert 3 not in got


def test_span_corruption_structure_and_determinism(spark):
    """T5 denoising pairs: sentinels are numbered in order, input +
    target words reconstruct the document exactly, empty docs pass
    through, and the masking is deterministic across runs."""
    import re

    n = 40
    docs = from_rows(
        spark,
        [(1, " ".join(f"w{i}" for i in range(n))), (2, "!!!")],
        schema="doc_id bigint, text string",
    )
    run1 = {
        r.doc_id: r
        for r in text_ops.span_corruption(
            docs, "doc_id", "text", rate=0.3, mean_span=3, seed=7
        ).collect()
    }
    run2 = {
        r.doc_id: r
        for r in text_ops.span_corruption(
            docs, "doc_id", "text", rate=0.3, mean_span=3, seed=7
        ).collect()
    }
    assert {k: tuple(v) for k, v in run1.items()} == {
        k: tuple(v) for k, v in run2.items()
    }
    r = run1[1]
    assert r.n_words == n and 0 < r.n_masked < n
    sentinels_in = re.findall(r"<extra_id_(\d+)>", r.input_text)
    sentinels_tg = re.findall(r"<extra_id_(\d+)>", r.target_text)
    assert sentinels_in == sentinels_tg == [str(i) for i in range(r.n_spans)]
    # splice targets back into the input -> the original document
    spans = {}
    cur = None
    for tok in r.target_text.split(" "):
        m = re.fullmatch(r"<extra_id_(\d+)>", tok)
        if m:
            cur = int(m.group(1))
            spans[cur] = []
        else:
            spans[cur].append(tok)
    rebuilt = []
    for tok in r.input_text.split(" "):
        m = re.fullmatch(r"<extra_id_(\d+)>", tok)
        rebuilt.extend(spans[int(m.group(1))] if m else [tok])
    assert rebuilt == [f"w{i}" for i in range(n)]
    assert sum(len(v) for v in spans.values()) == r.n_masked
    assert tuple(run1[2]) == (2, 0, 0, 0, "", "")


def test_decontaminate_spans_cuts_only_the_leak(spark):
    """A corpus doc quoting a 12-word benchmark passage loses exactly
    those words; its other words and clean docs are untouched — and
    unlike flag-level decontaminate, the document survives."""
    bench_text = "question alpha bravo charlie delta echo foxtrot golf hotel india juliet answer"
    bench = from_rows(
        spark, [(900, bench_text)], schema="doc_id bigint, text string"
    )
    rows = [
        (1, "intro words here " + bench_text + " closing remark"),
        (2, "a perfectly clean document with no overlap at all"),
    ]
    corpus = from_rows(spark, rows, schema="doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in dedup.decontaminate_spans(
            corpus, "doc_id", "text", bench, "doc_id", "text",
            min_len=10, seed_k=5,
        ).collect()
    }
    assert set(out) == {1, 2}  # benchmark rows never emitted
    assert out[1].n_words_removed == 12
    assert out[1].text_clean == "intro words here closing remark"
    assert out[2].n_words_removed == 0


def test_mlm_masking_structure_and_reconstruction(spark):
    """MLM pairs: position-tagged labels restore the original document
    exactly; untouched positions pass through verbatim; the action
    counters partition the selection; deterministic across runs."""
    n = 60
    docs = from_rows(
        spark,
        [(1, " ".join(f"w{i}" for i in range(n)))],
        schema="doc_id bigint, text string",
    )
    r1 = text_ops.mlm_masking(
        docs, "doc_id", "text", rate=0.3, seed=7
    ).collect()[0]
    r2 = text_ops.mlm_masking(
        docs, "doc_id", "text", rate=0.3, seed=7
    ).collect()[0]
    assert tuple(r1) == tuple(r2)
    assert r1.n_selected == r1.n_masked + r1.n_random + r1.n_kept > 0
    toks = r1.input_text.split(" ")
    assert len(toks) == n
    labels = dict(
        t.split(":", 1) for t in r1.labels_text.split(" ")
    )
    assert len(labels) == r1.n_selected
    rebuilt = [
        labels.get(str(p + 1), tok) for p, tok in enumerate(toks)
    ]
    assert rebuilt == [f"w{i}" for i in range(n)]
    # unselected positions are verbatim
    for p, tok in enumerate(toks):
        if str(p + 1) not in labels:
            assert tok == f"w{p}"
    # mask token count matches the counter (random/keep may alias
    # real words, but [MASK] is not in the vocabulary)
    assert toks.count("[MASK]") == r1.n_masked


def test_edit_distance_pairs_planted_edits_complete(spark):
    """PassJoin blocking completeness: every planted pair within the
    threshold is found with its EXACT distance (verified against a
    reference Levenshtein), and nothing beyond the threshold leaks."""
    from fuel_spark.ops.dedup import edit_distance_pairs

    def lev(a, b):
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[n]

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (0, base),
        (1, base[:-1] + "x"),                      # 1 substitution (tail)
        (2, "a" + base[1:]),                       # 1 substitution (head)
        (3, base[:21] + base[25:]),                # 4-char deletion ("umps")
        (4, base[:30] + "zzzzz" + base[30:]),      # 5-char insertion
        (5, base[:10] + "q" + base[11:40] + "v" + base[41:]),  # 2 subs
        (6, "completely unrelated text about spark and parquet files"),
        (7, base[::-1]),                           # reversal: far away
        # same length, 2 deleted at head + 2 appended: every segment
        # shifts NEGATIVE (delta=0, del-before=2) — exercises the
        # multi-match-aware lower bound -(tau-delta)/2
        (8, base[2:] + "zq"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, "doc_id", "text", max_dist=5).collect()
    }
    import re

    def norm(s):
        return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()

    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            d = lev(norm(docs[i][1]), norm(docs[j][1]))
            if d <= 5:
                want[(docs[i][0], docs[j][0])] = d
    assert got == want
    assert got[(0, 1)] == 1 and got[(0, 3)] == 4 and got[(0, 4)] == 5


def test_edit_distance_pairs_short_docs(spark):
    """Texts shorter than max_dist+1 chars take the length-keyed
    short bucket and still pair exactly."""
    from fuel_spark.ops.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(0, "ab"), (1, "ac"), (2, "abcd"), (3, "xyz"), (4, "!!!")],
        ["doc_id", "text"],
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, "doc_id", "text", max_dist=2).collect()
    }
    # doc 4 normalizes to empty and is dropped; remaining distances:
    # ab-ac 1, ab-abcd 2, ac-abcd 3 (excluded), ab-xyz 3 (excluded)...
    assert got[(0, 1)] == 1
    assert got[(0, 2)] == 2
    assert all(v <= 2 for v in got.values())
    assert not any(4 in p for p in got)


def test_edit_distance_pairs_segment_index_bound_complete(spark):
    """r11 probe refinement (the segment-index-aware multi-match
    bound, Li et al. §4): seeded random corpus with 1..7 planted
    edits per variant, exhaustively cross-checked against a
    reference Levenshtein — the tightened probe window must lose NO
    qualifying pair and invent none (exact distances included)."""
    import random
    import re

    from fuel_spark.ops.dedup import edit_distance_pairs

    def lev(a, b):
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[n]

    def norm(s):
        return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()

    rng = random.Random(11)
    alpha = "abcdefghij "
    docs, did = [], 0
    for _ in range(6):
        base = "".join(
            rng.choice(alpha)
            for _ in range(rng.choice([3, 6, 12, 25, 50, 90]))
        )
        docs.append((did, base))
        did += 1
        for _ in range(4):
            s = list(base)
            for _ in range(rng.randint(1, 7)):
                op = rng.choice("ids")
                if op == "i":
                    s.insert(rng.randint(0, len(s)), rng.choice(alpha))
                elif op == "d" and s:
                    del s[rng.randint(0, len(s) - 1)]
                elif s:
                    s[rng.randint(0, len(s) - 1)] = rng.choice(alpha)
            docs.append((did, "".join(s)))
            did += 1

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, "doc_id", "text", max_dist=5).collect()
    }
    normed = [(i, norm(t)) for i, t in docs]
    normed = [(i, t) for i, t in normed if len(t) >= 1]
    want = {}
    for x in range(len(normed)):
        for y in range(x + 1, len(normed)):
            i, a = normed[x]
            j, b = normed[y]
            d = lev(a, b)
            if d <= 5:
                want[(min(i, j), max(i, j))] = d
    assert got == want


def test_edit_distance_pairs_max_bucket_degrade(spark):
    """A boilerplate segment bucket past the cap is skipped (the
    documented fuzzy_join-style recall trade), not exploded.  The
    texts must be DISTINCT to exercise the cap: identical copies are
    collapsed by the exact pre-pass and restored via the dist-0 path,
    which no cap touches (next test)."""
    from fuel_spark.ops.dedup import edit_distance_pairs

    # 12 distinct docs, pairwise distance 1-2: only the last char
    # varies, so every segment except the last is a 12-member
    # boilerplate bucket.
    docs = [(i, "shared boilerplate prefix text " + c) for i, c in enumerate("abcdefghijkl")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    full = edit_distance_pairs(df, "doc_id", "text", max_dist=2, max_bucket=None)
    assert full.count() == 12 * 11 // 2
    capped = edit_distance_pairs(df, "doc_id", "text", max_dist=2, max_bucket=5)
    assert capped.count() == 0


def test_edit_distance_pairs_prededup_restores_all_copies(spark):
    """The exact pre-pass collapses duplicate texts before blocking
    but the OUTPUT contract is unchanged: within-group dist-0 pairs
    and every member cross pair of a representative near-pair."""
    from fuel_spark.ops.dedup import edit_distance_pairs

    a = "the quick brown fox jumps over the lazy dog"
    b = a[:-1] + "t"  # distance 1 from a
    docs = [(0, a), (1, a), (2, a), (10, b), (11, b), (20, "utterly different content here")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, "doc_id", "text", max_dist=2).collect()
    }
    want = {(0, 1): 0, (0, 2): 0, (1, 2): 0, (10, 11): 0}
    for x in (0, 1, 2):
        for y in (10, 11):
            want[(x, y)] = 1
    assert got == want
    # raw mode agrees on the same corpus
    raw = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(
            df, "doc_id", "text", max_dist=2, prededup_exact=False
        ).collect()
    }
    assert raw == want


def test_pmi_cooccurrence_hand_computed(spark):
    """Pair counts and PMI match a hand enumeration of window-2
    skip-grams on a tiny corpus."""
    import math

    from fuel_spark.ops.text import pmi_cooccurrence

    docs = [(0, "a b a b"), (1, "a b c")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.w_a, r.w_b): (r.pair_count, r.pmi)
        for r in pmi_cooccurrence(df, "doc_id", "text", window=2, min_count=1).collect()
    }
    # doc0 pairs (i<j<=i+2): (a,b),(a,a),(b,a),(b,b),(a,b) ->
    #   {a,b}x3, {a,a}x1, {b,b}x1 ; doc1: (a,b),(a,c),(b,c)
    # totals: P=8 pairs, T=7 tokens; unigrams a=3, b=3, c=1
    T, P = 7, 8
    u = {"a": 3, "b": 3, "c": 1}
    want_counts = {("a", "b"): 4, ("a", "a"): 1, ("b", "b"): 1,
                   ("a", "c"): 1, ("b", "c"): 1}
    assert {k: v[0] for k, v in got.items()} == want_counts
    for (wa, wb), (c, pmi) in got.items():
        expect = round(math.log((c * T * T) / (P * u[wa] * u[wb])), 6)
        assert abs(pmi - expect) < 1e-9, (wa, wb, pmi, expect)


def test_textrank_keywords_hub_ranks_first(spark):
    """A word co-occurring with every other word (the hub) gets the
    top TextRank score; output is bounded by top_k."""
    from fuel_spark.ops.text import textrank_keywords

    docs = [(i, f"hub word{i} filler{i}") for i in range(8)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = textrank_keywords(df, "doc_id", "text", window=2, top_k=5).collect()
    assert len(rows) == 5
    assert rows[0].word == "hub"
    assert rows[0].rank == max(r.rank for r in rows)


def test_zipf_slope_two_point_exact(spark):
    """With exactly two ranked types the OLS line passes through both
    points: freqs 8 and 4 at ranks 1 and 2 give slope -1 in log space
    (base e: (ln4 - ln8) / (ln2 - ln1) = -1)."""
    from fuel_spark.ops.text import zipf_slope

    text = " ".join(["aa"] * 8 + ["bb"] * 4 + ["once"])
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    r = zipf_slope(df, "text", min_count=2).collect()[0]
    assert r.n_types == 2
    assert abs(r.slope - (-1.0)) < 1e-4
    import math
    assert abs(r.intercept - math.log(8)) < 1e-4


def test_term_burstiness_known_values(spark):
    """A term concentrated in one doc is maximally bursty; a term
    spread one-per-doc has burstiness 1 and df at ~the Poisson
    prediction's scale."""
    from fuel_spark.ops.text import term_burstiness

    docs = [(0, "rare rare rare rare rare the"), (1, "the x"), (2, "the y"),
            (3, "the z"), (4, "the w")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.w: r for r in
           term_burstiness(df, "doc_id", "text", min_cf=5).collect()}
    assert set(out) == {"rare", "the"}
    assert out["rare"].cf == 5 and out["rare"].df == 1
    assert out["rare"].burstiness == 5.0
    assert out["the"].cf == 5 and out["the"].df == 5
    assert out["the"].burstiness == 1.0
    # poisson-expected df at cf=5, n=5: 5*(1-exp(-1)) = 3.1606
    import math
    want = round(5 / (5 * (1 - math.exp(-1))), 6)
    assert abs(out["the"].df_vs_poisson - want) < 1e-6


def test_heaps_fit_growth_and_saturation(spark):
    """A corpus that keeps introducing words fits beta > 0; a
    saturated corpus fits beta == +0.0 (negative-zero normalized)."""
    from fuel_spark.ops.text import heaps_fit

    growing = [(i, " ".join(f"w{j}" for j in range(max(1, i - 3), i + 1)))
               for i in range(1, 49)]
    r = heaps_fit(spark.createDataFrame(growing, ["doc_id", "text"]),
                  "doc_id", "text", grid=8).collect()[0]
    assert r.n_points == 8
    assert 0.0 < r.beta <= 1.2

    flat = [(i, "same words every single time") for i in range(48)]
    r2 = heaps_fit(spark.createDataFrame(flat, ["doc_id", "text"]),
                   "doc_id", "text", grid=8).collect()[0]
    assert r2.beta == 0.0 and str(r2.beta) == "0.0"


def test_heaps_fit_normalizes_each_document_once(spark, monkeypatch):
    """The frame heaps_fit materializes evaluates the normalize regex
    once per document, and empty documents (dropped after the
    materialize) still stay out of the id bounds."""
    from fuel_spark.ops import text as text_mod

    seen = []

    def spy(df):
        seen.append(df)
        return real(df)

    real = text_mod.materialize
    monkeypatch.setattr(text_mod, "materialize", spy)
    docs = [(i, " ".join(f"w{j}" for j in range(i + 1))) for i in range(1, 17)]
    empties = [(0, "..."), (40, "")]
    df = spark.createDataFrame(docs + empties, ["doc_id", "text"])
    r = text_mod.heaps_fit(df, "doc_id", "text", grid=4).collect()
    plan = seen[0]._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace(lower(") == 1
    want = text_mod.heaps_fit(
        spark.createDataFrame(docs, ["doc_id", "text"]), "doc_id", "text", grid=4
    ).collect()
    assert r == want


def test_good_turing_hand_computed(spark):
    """N_1=2, N_2=1, N_3=1 -> r*(1) = 2*N_2/N_1 = 1.0,
    r*(2) = 3*N_3/N_2 = 3.0, r*(3) undefined (no N_4)."""
    from fuel_spark.ops.text import good_turing_counts

    text = "x y z z q q q"  # x,y once; z twice; q thrice
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    out = {r.r: (r.n_r, r.r_star)
           for r in good_turing_counts(df, "text", max_r=50).collect()}
    assert out[1] == (2, 1.0)
    assert out[2] == (1, 3.0)
    assert out[3][0] == 1 and out[3][1] is None


def test_bigram_llr_hand_computed(spark):
    """G² for the dominant bigram matches the 2×2 hand computation
    (Dunning 1993)."""
    import math

    from fuel_spark.ops.text import bigram_llr

    df = spark.createDataFrame([(0, "a b a b a b c d")], ["doc_id", "text"])
    got = {(r.w1, r.w2): (r.n11, r.llr)
           for r in bigram_llr(df, "text", min_count=1).collect()}
    # bigrams: (a,b)x3 (b,a)x2 (b,c)x1 (c,d)x1; N=7
    k11, c1, c2, N = 3.0, 3.0, 3.0, 7.0
    k12, k21 = c1 - k11, c2 - k11
    k22 = N - k11 - k12 - k21
    r2c, q2c = N - c1, N - c2

    def term(o, e):
        return o * math.log(o / e) if o > 0 else 0.0

    want = 2.0 * (term(k11, c1 * c2 / N) + term(k12, c1 * q2c / N)
                  + term(k21, r2c * c2 / N) + term(k22, r2c * q2c / N))
    assert got[("a", "b")][0] == 3
    assert abs(got[("a", "b")][1] - want) < 1e-4


def test_diversity_profile_uniform_and_skewed(spark):
    from fuel_spark.ops.text import diversity_profile

    docs = [(0, "a b c d", "uni"), (1, "a a a a a a a b", "skew")]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    out = {r.source: r for r in
           diversity_profile(df, "source", "text").collect()}
    u = out["uni"]
    assert (u.hill0, u.hill1, u.hill2) == (4, 4.0, 4.0)
    s = out["skew"]
    # p = (7/8, 1/8): hill2 = 1/(49/64 + 1/64) = 64/50 = 1.28
    assert s.hill0 == 2 and abs(s.hill2 - 1.28) < 1e-5
    assert s.hill1 < 2.0


def test_chao1_hand_computed(spark):
    from fuel_spark.ops.text import chao1_richness

    # singletons: a; doubletons: b, c; triple: d -> S=4, N1=1, N2=2
    df = spark.createDataFrame([(0, "a b b c c d d d")], ["doc_id", "text"])
    r = chao1_richness(df, "text").collect()[0]
    assert (r.s_obs, r.n1, r.n2) == (4, 1, 2)
    assert r.chao1 == 4.0  # N1*(N1-1) = 0
    # N2 = 0 with two singletons: 3 + 2*1/2 = 4
    df2 = spark.createDataFrame([(0, "a b c c c")], ["doc_id", "text"])
    r2 = chao1_richness(df2, "text").collect()[0]
    assert (r2.s_obs, r2.n1, r2.n2, r2.chao1) == (3, 2, 0, 4.0)


def test_burrows_delta_similar_sources_closer(spark):
    from fuel_spark.ops.text import burrows_delta

    same = "the cat sat on the mat and the dog ran"
    diff = "zebra quark flux nova lumen vortex prism echo"
    docs = ([(i, same, "s1") for i in range(5)]
            + [(100 + i, same, "s2") for i in range(5)]
            + [(200 + i, diff, "s3") for i in range(5)])
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    out = {(r.source_a, r.source_b): r.delta
           for r in burrows_delta(df, "source", "text", top_k=10).collect()}
    assert out[("s1", "s2")] == 0.0  # identical word usage
    assert out[("s1", "s3")] > 0.5 and out[("s2", "s3")] > 0.5


def test_bray_curtis_hand_computed(spark):
    from fuel_spark.ops.text import bray_curtis_sources

    df = spark.createDataFrame(
        [(0, "a a b", "s1"), (1, "a b c", "s2"), (2, "x y z", "s3")],
        ["doc_id", "text", "source"],
    )
    out = {(r.source_a, r.source_b): r
           for r in bray_curtis_sources(df, "source", "text").collect()}
    # s1={a:2,b:1}, s2={a:1,b:1,c:1}: shared min-mass 2, BC=1-4/6
    r12 = out[("s1", "s2")]
    assert r12.shared_mass == 2 and r12.n_a == 3 and r12.n_b == 3
    assert r12.bray_curtis == round(1 - 4 / 6, 6)
    # disjoint vocabularies -> BC = 1 (and the pair still emits)
    assert out[("s1", "s3")].bray_curtis == 1.0
    assert out[("s2", "s3")].shared_mass == 0


def test_vocab_novelty_slices(spark):
    from fuel_spark.ops.text import vocab_novelty_slices

    # ids 0-4 -> slice 0, ids 5-9 -> slice 1 (n_slices=2, max_id=9)
    rows = [(i, "alpha beta") for i in range(5)]
    rows += [(5 + i, "alpha beta") for i in range(4)]  # nothing new
    rows += [(9, "alpha gamma")]  # one new type in slice 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.slice: r
           for r in vocab_novelty_slices(df, "doc_id", "text",
                                         n_slices=2).collect()}
    assert out[0].types == 2 and out[0].new_types == 2
    assert out[0].novelty_rate == 1.0
    assert out[1].types == 3 and out[1].new_types == 1
    assert out[1].novelty_rate == round(1 / 3, 6)


def test_flesch_simple_vs_complex(spark):
    from fuel_spark.ops.text import flesch_reading_ease

    rows = [
        # short words, many sentences -> high RE
        (0, "the cat sat. the dog ran. it is fun.", "simple"),
        (1, "we go up. he is ok. so it goes.", "simple"),
        # long polysyllabic words, one sentence -> low RE
        (2, "organizational responsibilities necessitate comprehensive "
            "documentation methodologies", "complex"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.source: r for r in
           flesch_reading_ease(df, "source", "text").collect()}
    assert out["simple"].n_docs == 2
    assert out["simple"].flesch > 80 and out["complex"].flesch < 30
    assert out["complex"].syllables_per_word > 3
    # hand-check doc 0: 9 words, 3 sentences, 9 syllable groups
    assert out["simple"].words_per_sentence == 3.0


def test_tfidf_top_terms_contrast(spark):
    from fuel_spark.ops.text import tfidf_top_terms

    rows = [
        (0, "common zebra zebra zebra", "s1"),
        (1, "common common yak", "s2"),
        (2, "common llama llama", "s3"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = tfidf_top_terms(df, "source", "text", top_k=2).collect()
    top = {(r.source, r.rank): r for r in out}
    # s1: exclusive 'zebra' x3 (idf ln(4/2)+1) beats 'common' x1 (idf 1)
    assert top[("s1", 1)].term == "zebra" and top[("s1", 1)].term_count == 3
    # s2: 'common' x2 (tfidf 2.0) beats exclusive 'yak' x1 (1.693..)
    assert top[("s2", 1)].term == "common" and top[("s2", 1)].tfidf == 2.0
    assert top[("s2", 2)].term == "yak" and top[("s2", 2)].df == 1
    assert top[("s3", 1)].term == "llama"
    import math
    assert top[("s2", 2)].tfidf == round(1 * (math.log(4 / 2) + 1), 6)


def test_fightin_words_flags_overrepresented(spark):
    from fuel_spark.ops.text import fightin_words

    # 'insulin' dominates s1; 'football' dominates s2; 'the' is even
    rows = []
    for i in range(20):
        rows.append((i, "the insulin dose", "s1"))
        rows.append((100 + i, "the football match", "s2"))
    rows.append((300, "the insulin", "s2"))  # tiny leak the prior absorbs
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = fightin_words(df, "source", "text", top_k=3).collect()
    top = {(r.source, r.rank): r for r in out}
    # the purest source-exclusive terms lead ('dose' 20/0 edges out
    # 'insulin' 20/1 - the leak costs it, correctly)
    assert top[("s1", 1)].term in ("dose", "insulin")
    assert top[("s2", 1)].term in ("football", "match")
    # the balanced word never tops either list
    assert all(r.term != "the" or r.rank > 1 for r in out)
    ins = {r.term: r for r in out if r.source == "s1"}["insulin"]
    assert ins.term_count == 20 and ins.rest_count == 1
    assert ins.z_score > 1.0 and ins.rank <= 3


def test_compact_index_drops_replays_tombstones_hot_buckets(spark):
    """All three decay paths in one pass: replayed (duplicate) band
    rows collapse, rows of docs absent from the live set vanish, and
    any bucket wider than max_bucket is quarantined away — while
    normal rows survive untouched."""
    rows = [
        # normal bucket (2 members)
        (1, 0, "k1"), (2, 0, "k1"),
        # replayed row (appears twice)
        (1, 1, "k2"), (1, 1, "k2"),
        # tombstoned doc 9 (not in live set)
        (9, 0, "k3"),
        # hot bucket: 3 members > max_bucket=2
        (1, 2, "hot"), (2, 2, "hot"), (3, 2, "hot"),
    ]
    idx = from_rows(
        spark, rows, schema="doc_id bigint, band_id int, band_key string"
    )
    live = from_rows(spark, [(1,), (2,), (3,)], schema="doc_id bigint")
    got = {
        (r.doc_id, r.band_id, r.band_key)
        for r in dedup.compact_index(idx, live, max_bucket=2).collect()
    }
    assert got == {(1, 0, "k1"), (2, 0, "k1"), (1, 1, "k2")}


def test_compact_index_no_live_set_keeps_all_ids(spark):
    """live_ids=None skips tombstone cleanup (dedupe + hot-bucket
    passes still run) — the weekly cadence where only the corpus
    snapshot monthly job knows the live set."""
    rows = [(9, 0, "k"), (9, 0, "k"), (8, 0, "k2")]
    idx = from_rows(
        spark, rows, schema="doc_id bigint, band_id int, band_key string"
    )
    got = {
        (r.doc_id, r.band_id, r.band_key)
        for r in dedup.compact_index(idx, None, max_bucket=10).collect()
    }
    assert got == {(9, 0, "k"), (8, 0, "k2")}


def test_gt_logprob_hand_values_and_oov_mass(spark):
    """Reference 'a a b': N=3, hapax mass N1/N = 1/3; r*(a)=2 (no N3
    row, raw fallback), r*(b)=2·N2/N1=2.  Scoring 'a b c': a and b
    both price at log10(2/3), OOV c at log10(1/3) — hand-checked mean
    of the round-6 logs."""
    ref = from_rows(
        spark, [(0, "a a b")], schema="doc_id bigint, text string"
    )
    doc = from_rows(
        spark, [(1, "a b c")], schema="doc_id bigint, text string"
    )
    import math

    r = text_ops.gt_logprob(doc, "doc_id", "text", ref=ref).first()
    lp_seen = round(math.log10(2.0 / 3.0), 6)
    lp_oov = round(math.log10(1.0 / 3.0), 6)
    assert (r.n_tokens, r.n_oov) == (3, 1)
    assert r.mean_logprob == round((2 * lp_seen + lp_oov) / 3, 6)


def test_gt_logprob_self_reference_has_no_oov(spark):
    """Scoring the reference corpus under its own LM: zero OOV
    everywhere, and smoothing keeps every logprob finite."""
    from fuel_spark.sources import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"].limit(50)
    out = text_ops.gt_logprob(docs, "doc_id", "text").collect()
    assert out and all(r.n_oov == 0 for r in out)
    assert all(r.mean_logprob is not None for r in out)


def test_dedup_time_horizon_drops_replays_keeps_recurrences(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # burst: original + two replays seconds apart -> 1 kept, 2 dropped
        (1, "click", base),
        (1, "click", base + dt.timedelta(seconds=5)),
        (1, "click", base + dt.timedelta(seconds=10)),
        # genuine recurrence past the horizon -> kept
        (1, "click", base + dt.timedelta(hours=2)),
        # different key entirely -> untouched
        (2, "click", base + dt.timedelta(seconds=3)),
    ]
    df = from_rows(
        spark, rows, schema="user_id bigint, event_type string, ts timestamp"
    )
    out = {(r.user_id, r.event_type): r for r in dedup.dedup_time_horizon(
        df, ["user_id", "event_type"], "ts", horizon_sec=3600).collect()}
    k1 = out[(1, "click")]
    assert k1.n_rows == 4 and k1.n_kept == 2 and k1.n_dropped == 2
    k2 = out[(2, "click")]
    assert k2.n_rows == 1 and k2.n_kept == 1 and k2.n_dropped == 0


def test_dedup_time_horizon_matches_streaming_dedup_counts(spark, tmp_path):
    """Contract twin: kept counts equal what dedup_stream's
    dropDuplicatesWithinWatermark keeps for in-horizon replays (ids
    keyed, fresh timestamps still dropped)."""
    import datetime as dt
    import os

    from fuel_spark.streaming import serve

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(i % 7, base + dt.timedelta(seconds=i)) for i in range(50)]
    src = os.path.join(str(tmp_path), "src")
    # Spark-written parquet: pandas writes INT64 nanos the stream's
    # explicit timestamp schema refuses
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    got = []
    q = (
        serve.dedup_stream(stream, ["user_id"], "ts", "1 hour")
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, i: got.extend(d.collect()))
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = dedup.dedup_time_horizon(
        from_rows(spark, rows, schema="user_id bigint, ts timestamp"),
        ["user_id"], "ts", horizon_sec=3600,
    ).collect()
    assert sum(r.n_kept for r in batch) == len(got) == 7


def test_lsh_scurve_calibration_bounds_and_endpoints(spark):
    # exact duplicates (j=1.0 decile 9) MUST be captured (identical
    # minhashes share every band); near-zero-similarity pairs land in
    # low deciles with capture at or near the design curve's floor
    rows = [(0, "the quick brown fox jumps over the lazy dog " * 5),
            (1, "the quick brown fox jumps over the lazy dog " * 5),
            (2, "completely different content about spark engines etc"),
            (3, "unrelated third text on record linkage and sketches")]
    df = from_rows(spark, rows, schema="doc_id bigint, text string")
    out = {r.decile: r for r in dedup.lsh_scurve_calibration(
        df, "doc_id", "text", max_id=10).collect()}
    assert out[9].n_captured == out[9].n_pairs    # exact dups captured
    assert out[9].theoretical_rate > 0.99   # midpoint s=0.95 curve
    total = sum(r.n_pairs for r in out.values())
    assert total == 6                              # C(4,2) all pairs
    for r in out.values():                        # rates are rates
        assert 0.0 <= r.measured_rate <= 1.0
        assert 0.0 <= r.theoretical_rate <= 1.0


def test_round6_ratio_exact_halfway_boundary(spark):
    """The observed cross-engine defect case: -26.607591/18 is
    EXACTLY -1.4781995, so half-away-from-zero must give -1.4782 —
    round(double_division) lands on -1.478199 because the quotient
    double is a hair above the true rational."""
    from fuel_spark.functions import round6_ratio

    df = from_rows(spark, [(1,)], schema="k bigint")
    r = df.select(
        round6_ratio(
            F.lit("-26.607591").cast("decimal(27,6)"), F.lit(18)
        ).alias("v"),
        round6_ratio(
            F.lit("26.607591").cast("decimal(27,6)"), F.lit(18)
        ).alias("p"),
        round6_ratio(
            F.lit("10.000000").cast("decimal(27,6)"), F.lit(4)
        ).alias("e"),
    ).first()
    assert r.v == -1.4782
    assert r.p == 1.4782
    assert r.e == 2.5


def test_lm_buckets_tercile_semantics(spark):
    """9 docs in one source with clearly separated LM scores must
    split 3/3/3 with head strictly better than tail; a tie-heavy
    source keeps ties in the same (better) bucket."""
    # 3 fluent docs (common words), 3 mid, 3 of rare gibberish
    common = "the cat sat on the mat with the dog"
    mid = "cat dog mat sat quite unusual phrasing here today"
    rare = "zxqv wpld njrk qwty plmz oxcv bnrt yulp zzap"
    rows = [(i, common, "s1") for i in range(3)]
    rows += [(i + 3, mid + f" extra{i}", "s1") for i in range(3)]
    rows += [(i + 6, rare + f" tail{i}", "s1") for i in range(3)]
    df = from_rows(spark, rows, schema="doc_id bigint, text string, source string")
    out = {r.bucket: r for r in text_ops.lm_quality_buckets(
        df, "doc_id", "text", "source").collect()}
    assert set(out) == {"head", "middle", "tail"}
    assert out["head"].n_docs == 3
    assert out["head"].mean_logprob > out["tail"].mean_logprob
    assert abs(sum(r.share for r in out.values()) - 1.0) < 1e-5
    # identical docs (exact ties) all land in the same bucket
    assert out["head"].lp_min == out["head"].lp_max


def test_bpe_fertility_hand_values(spark):
    """Two sources with a two-merge table: 'ab' fully merges to one
    symbol + </w> (2 tokens/word), unmergeable 'xy' stays 3 chars +
    </w>.  Counts and exact-rational ratios checked by hand."""
    merges = [("a", "b"), ("ab", "</w>")]
    rows = [(1, "ab ab", "s1"), (2, "ab", "s1"), (3, "xy", "s2")]
    df = from_rows(spark, rows,
                   schema="doc_id bigint, text string, source string")
    out = {r.group: r for r in text_ops.bpe_fertility(
        df, "doc_id", "text", "source", merges).collect()}
    s1 = out["s1"]
    # 'ab' -> ['ab</w>'] : 1 token per word
    assert (s1.n_docs, s1.n_words, s1.n_chars, s1.n_tokens) == (2, 3, 6, 3)
    assert s1.fertility == 1.0 and s1.chars_per_token == 2.0
    s2 = out["s2"]
    # 'xy' -> ['x','y','</w>'] : 3 tokens for one 2-char word
    assert (s2.n_words, s2.n_tokens) == (1, 3)
    assert s2.fertility == 3.0
    assert s2.chars_per_token == round(2 / 3, 6)


def test_dedup_keep_best_cluster_policy_beats_pairwise_chain(spark):
    """A 3-chain A~B~C where the middle doc has the best quality:
    the cluster rule keeps exactly B; quality ties break on min id."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base + " x", 0.5),
        (1, base + " y", 1.0),   # best quality in the chain
        (2, base + " z", 0.75),
        (9, "completely different words about spark engines", 0.25),
    ]
    df = from_rows(spark, rows,
                   schema="doc_id bigint, text string, q double")
    out = {r.component: r for r in dedup.dedup_keep_best(
        df, "doc_id", "text", "q", threshold=0.5).collect()}
    chain = out[0]
    assert chain.cluster_size == 3
    assert chain.keep_id == 1 and chain.best_score == 1.0
    assert out[9].cluster_size == 1 and out[9].keep_id == 9
    # tie on quality -> min id wins
    tied = from_rows(spark, [(5, base, 1.0), (6, base, 1.0)],
                     schema="doc_id bigint, text string, q double")
    r = dedup.dedup_keep_best(tied, "doc_id", "text", "q").first()
    assert r.keep_id == 5 and r.cluster_size == 2


def test_corpus_compressibility_extremes(spark):
    """Identical docs read near-total redundancy; all-unique trigram
    text reads 0; a doc shorter than n contributes no grams but still
    counts as a doc."""
    dup = "alpha beta gamma delta epsilon zeta"
    rows = [(i, dup, "dupsrc") for i in range(5)]
    rows += [(10, "one two three four five six seven eight nine", "fresh")]
    rows += [(11, "hi", "tiny")]
    df = from_rows(spark, rows,
                   schema="doc_id bigint, text string, source string")
    out = {r.group: r for r in text_ops.corpus_compressibility(
        df, "doc_id", "text", "source", n=3).collect()}
    d = out["dupsrc"]
    # 4 distinct trigrams, each seen 5x -> redundancy 16/20
    assert d.grams_total == 20 and d.grams_distinct == 4
    assert d.redundancy == 0.8 and d.grams_singleton == 0
    f = out["fresh"]
    assert f.redundancy == 0.0 and f.singleton_frac == 1.0
    t = out["tiny"]
    assert t.n_docs == 1 and t.grams_total == 0 and t.redundancy == 0.0


def test_dedup_savings_calibration_perfectly_correlated_fixture(spark):
    """Three sources engineered so redundancy ranks exactly with dup
    rate: all-dup source (high, high), half-dup (mid, mid), fresh
    (0, 0) -> strong positive corr, identical on every row."""
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, dup, "all_dup") for i in range(4)]
    rows += [(10, dup, "half"), (11, dup, "half"),
             (12, "one two three four five six seven", "half")]
    rows += [(20, "unique words everywhere nothing repeats here today", "fresh"),
             (21, "another totally different sentence with fresh words", "fresh")]
    df = from_rows(spark, rows,
                   schema="doc_id bigint, text string, source string")
    out = {r.group: r for r in dedup.dedup_savings_calibration(
        df, "source").collect()}
    assert out["all_dup"].dup_rate == 0.75   # 4 docs, 1 distinct
    assert out["fresh"].dup_rate == 0.0 and out["fresh"].redundancy == 0.0
    assert out["all_dup"].redundancy > out["half"].redundancy > 0
    corrs = {r.corr for r in out.values()}
    assert len(corrs) == 1
    assert corrs.pop() > 0.9


def test_contamination_rate_by_source_planted_leak(spark):
    """A source whose docs ARE the benchmark reads doc_rate 1.0; a
    disjoint-vocabulary source reads 0.0; rates bounded in [0,1]."""
    from fuel_spark.ops.dedup import contamination_rate_by_source
    from fuel_spark.sources import from_rows

    bench = from_rows(
        spark,
        [(100, "alpha beta gamma delta epsilon zeta")],
        schema="doc_id bigint, text string",
    )
    corpus = from_rows(
        spark,
        [
            (1, "leaky", "alpha beta gamma delta epsilon zeta"),
            (2, "leaky", "alpha beta gamma repeated words here"),
            (3, "clean", "one two three four five six seven"),
        ],
        schema="doc_id bigint, source string, text string",
    )
    got = {r.source: r for r in contamination_rate_by_source(
        corpus, "doc_id", "text", "source", bench, "text", n=3
    ).collect()}
    assert got["leaky"].n_docs == 2 and got["leaky"].doc_rate == 1.0
    assert got["clean"].n_flagged == 0 and got["clean"].gram_rate == 0.0
    assert 0.0 < got["leaky"].gram_rate <= 1.0


def test_dsir_topk_by_source_tilt_and_cap(spark):
    """Per-source cap holds (n_kept = min(k, n_docs)) and the kept
    slice's mean weight is >= the overall mean (top-k by weight can
    never tilt down)."""
    from fuel_spark.ops.text import dsir_topk_by_source
    from fuel_spark.sources import from_rows

    rows = []
    for i in range(12):
        rows.append((i, "a", "target words alpha beta " * (1 + i % 3)))
    for i in range(12, 18):
        rows.append((i, "b", "other vocabulary entirely different"))
    df = from_rows(spark, rows, schema="doc_id bigint, source string, text string")
    got = {r.source: r for r in dsir_topk_by_source(
        df, "doc_id", "text", "source", F.col("source") == "a", k=5
    ).collect()}
    assert got["a"].n_kept == 5 and got["b"].n_kept == 5
    for r in got.values():
        assert r.mean_weight_kept >= r.mean_weight_all
        assert r.cut_weight is not None


# ---- r10 tokenizer-economics tier -----------------------------------------

_ECON_MERGES = [("t", "h"), ("th", "e"), ("the", "</w>")]


def _econ_corpus(spark):
    # word freq: "the" x2, "then" x1 — hand-traceable through the
    # three merges above
    return from_rows(
        spark,
        [(0, "the the then")],
        schema="doc_id bigint, text string",
    )


def test_bpe_merge_utilization_hand_values(spark):
    """Each application removes exactly one token: (t,h) fires on
    every word (3 weighted), (th,e) likewise (3), (the,</w>) only on
    the bare 'the' (2); shares sum to 1."""
    rows = {r.merge_rank: r for r in text_ops.bpe_merge_utilization(
        _econ_corpus(spark), "text", _ECON_MERGES
    ).collect()}
    assert [rows[k].n_applications for k in (1, 2, 3)] == [3, 3, 2]
    assert rows[1].sym_a == "t" and rows[1].sym_b == "h"
    assert rows[3].tokens_after == 5  # 'the'->1 tok x2 + 'then'->3 toks
    assert abs(sum(r.reduction_share for r in rows.values()) - 1.0) < 1e-6


def test_bpe_compression_curve_monotone(spark):
    """Curve starts at the char+eow count (2*4 + 1*5 = 13), drops by
    the per-merge applications (3, 3, 2), and fertility is
    nonincreasing in k."""
    rows = {r.n_merges_applied: r for r in text_ops.bpe_compression_curve(
        _econ_corpus(spark), "text", _ECON_MERGES
    ).collect()}
    assert [rows[k].n_tokens for k in (0, 1, 2, 3)] == [13, 10, 7, 5]
    ferts = [rows[k].fertility for k in (0, 1, 2, 3)]
    assert all(a >= b for a, b in zip(ferts, ferts[1:]))


def test_bpe_utilization_curve_agree(spark):
    """Cross-operator contract: the utilization table's final
    tokens_after equals the curve's last point, and total
    applications equal the end-to-end token reduction."""
    util = text_ops.bpe_merge_utilization(
        _econ_corpus(spark), "text", _ECON_MERGES
    ).collect()
    curve = {r.n_merges_applied: r.n_tokens
             for r in text_ops.bpe_compression_curve(
                 _econ_corpus(spark), "text", _ECON_MERGES
             ).collect()}
    n = len(_ECON_MERGES)
    final = [r.tokens_after for r in util if r.merge_rank == n][0]
    assert final == curve[n]
    assert sum(r.n_applications for r in util) == curve[0] - curve[n]


def test_bpe_fertility_by_script_classes(spark):
    """Words split into alpha/digit/mixed charclasses with exact
    token accounting (no merges -> every word costs len+1 tokens)."""
    df = from_rows(
        spark,
        [(0, "abc 12 a1b abc")],
        schema="doc_id bigint, text string",
    )
    rows = {(r.word_class, r.len_bucket): r
            for r in text_ops.bpe_fertility_by_class(
                df, "text", []
            ).collect()}
    a = rows[("alpha", "3-5")]
    assert a.n_distinct_words == 1 and a.n_words == 2
    assert a.n_tokens == 2 * 4  # 'abc' -> 3 chars + </w>
    d = rows[("digit", "1-2")]
    assert d.n_words == 1 and d.n_tokens == 3
    m = rows[("mixed", "3-5")]
    assert m.n_words == 1 and m.n_chars == 3


def test_bpe_token_length_hist_shares(spark):
    """Histogram counts distinct words and occurrences per final
    token count; occurrence shares sum to 1."""
    rows = text_ops.bpe_token_length_hist(
        _econ_corpus(spark), "text", _ECON_MERGES
    ).collect()
    got = {r.n_tok: (r.n_distinct_words, r.n_occurrences) for r in rows}
    # 'the' -> 1 token (x2 occurrences), 'then' -> 3 tokens (x1)
    assert got[1] == (1, 2) and got[3] == (1, 1)
    assert abs(sum(r.occurrence_share for r in rows) - 1.0) < 1e-6


def test_bpe_snapshot_drift_delta(spark):
    """Even/odd halves tokenize independently; delta = b - a; a
    source present on one side only reads zeros on the other."""
    df = from_rows(
        spark,
        [
            (0, "s1", "the the"),      # even -> A
            (1, "s1", "then then"),    # odd  -> B (higher fertility)
            (2, "s2", "the"),          # even only
        ],
        schema="doc_id bigint, source string, text string",
    )
    rows = {r.group: r for r in text_ops.bpe_fertility_drift(
        df, "doc_id", "text", "source", _ECON_MERGES
    ).collect()}
    s1 = rows["s1"]
    assert s1.n_docs_a == 1 and s1.n_docs_b == 1
    assert s1.n_tokens_a == 2 and s1.n_tokens_b == 6
    assert s1.fertility_a == 1.0 and s1.fertility_b == 3.0
    assert abs(s1.fertility_delta - 2.0) < 1e-9
    s2 = rows["s2"]
    assert s2.n_docs_b == 0 and s2.fertility_b == 0.0


def test_bpe_pair_stats_ranking(spark):
    """Weighted adjacent-pair counts at the char+eow init state with
    the deterministic (n desc, a, b) tie-break."""
    df = from_rows(
        spark,
        [(0, "ab ab b")],
        schema="doc_id bigint, text string",
    )
    rows = text_ops.bpe_pair_stats(df, "text", k=20).collect()
    by_rank = {r.rank: (r.sym_a, r.sym_b, r.n_weighted) for r in rows}
    assert by_rank[1] == ("b", "</w>", 3)
    assert by_rank[2] == ("a", "b", 2)


def test_script_mix_hand_values(spark):
    """Charclass census of raw text: 'Ab 1!' -> 2 letters, 1 digit,
    1 space, 1 other of 5 chars."""
    df = from_rows(
        spark,
        [(0, "s", "Ab 1!")],
        schema="doc_id bigint, source string, text string",
    )
    r = text_ops.script_mix(df, "source", "text").collect()[0]
    assert (r.n_chars, r.n_letters, r.n_digits, r.n_spaces, r.n_other) == (
        5, 2, 1, 1, 1
    )
    assert abs(r.letter_share - 0.4) < 1e-9


# ---- r10 cluster-planning tier --------------------------------------------


def _cluster_corpus(spark):
    # doc 0,1 identical; doc 2 near-dup of them; doc 3 unrelated —
    # one 3-cluster + one singleton
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    other = "completely different words about spark engines and shuffles"
    return from_rows(
        spark,
        [(0, base), (1, base), (2, near), (3, other)],
        schema="doc_id bigint, text string",
    )


def test_cc_threshold_sweep_monotone(spark):
    """Edges and clustered docs are nonincreasing in the threshold,
    and rows_removed = docs_clustered - clusters at every point."""
    rows = {r.threshold: r for r in dedup.cc_threshold_sweep(
        _cluster_corpus(spark), "doc_id", "text"
    ).collect()}
    assert set(rows) == {0.3, 0.5, 0.7}
    es = [rows[t].n_edges for t in (0.3, 0.5, 0.7)]
    ds = [rows[t].n_docs_clustered for t in (0.3, 0.5, 0.7)]
    assert all(a >= b for a, b in zip(es, es[1:]))
    assert all(a >= b for a, b in zip(ds, ds[1:]))
    for r in rows.values():
        assert r.rows_removed == r.n_docs_clustered - r.n_clusters
    # at 0.5 the three near-dups form one cluster
    assert rows[0.5].n_clusters == 1
    assert rows[0.5].n_docs_clustered == 3
    assert rows[0.5].rows_removed == 2


def test_component_token_profile_shares(spark):
    """The single 3-cluster holds its docs' words; the corpus share
    is words_in_cluster / total corpus words."""
    out = dedup.component_token_profile(
        _cluster_corpus(spark), "doc_id", "text"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.cluster_size == 3 and r.n_clusters == 1 and r.n_docs == 3
    assert r.n_words == 3 * 12  # each clustered doc is 12 words
    assert abs(r.corpus_word_share - 36.0 / 44.0) < 1e-6  # 'other' is 8


def test_cc_edge_density_clique(spark):
    """All three near-dups pairwise verify -> the 3-cluster is a
    clique: 3 edges of 3 possible, density 1."""
    out = dedup.cc_edge_density(
        _cluster_corpus(spark), "doc_id", "text"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.cluster_size, r.n_edges, r.n_possible) == (3, 3, 3)
    assert r.density == 1.0


def test_cross_source_components_census(spark):
    """A cluster spanning two sources lands in the n_sources=2
    bucket; a same-source cluster in n_sources=1."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different words about spark engines and shuffles"
    df = from_rows(
        spark,
        [
            (0, "a", base), (1, "b", base),          # cross-source pair
            (2, "a", other), (3, "a", other),        # same-source pair
        ],
        schema="doc_id bigint, source string, text string",
    )
    rows = {r.n_sources: r for r in dedup.cross_source_components(
        df, "doc_id", "text", "source"
    ).collect()}
    assert rows[2].n_components == 1 and rows[2].n_docs == 2
    assert rows[1].n_components == 1 and rows[1].n_docs == 2


def test_split_leakage_parity(spark):
    """Cluster {0,1,2} mixes parities (crossing); cluster {4,6} is
    all-even (safe)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different words about spark engines and shuffles"
    df = from_rows(
        spark,
        [(0, base), (1, base), (2, base), (4, other), (6, other)],
        schema="doc_id bigint, text string",
    )
    rows = {r.cluster_size: r for r in dedup.split_leakage_census(
        df, "doc_id", "text"
    ).collect()}
    assert rows[3].n_crossing_clusters == 1
    assert rows[3].n_docs_in_crossing == 3
    assert rows[2].n_crossing_clusters == 0
    assert rows[2].n_docs_in_crossing == 0


def test_ngram_collision_rate_widths(spark):
    """Collisions are nonincreasing in hash width and bounded by the
    shingle count; n_hashes <= n_shingles always."""
    df = from_rows(
        spark,
        [(i, f"document number {i} with some shared words") for i in range(40)],
        schema="doc_id bigint, text string",
    )
    rows = {r.bits: r for r in text_ops.ngram_collision_rate(
        df, "text", bit_widths=(8, 16, 40)
    ).collect()}
    ns = rows[8].n_shingles
    assert all(r.n_shingles == ns for r in rows.values())
    assert rows[8].n_collisions >= rows[16].n_collisions >= rows[40].n_collisions
    assert rows[8].n_hashes <= ns
    # 8-bit space (256) must collide on a few hundred shingles
    assert rows[8].n_collisions > 0


def test_banding_precision_sweep_nested(spark):
    """Candidate sets are nested: 1 band of 9 rows ⊆ 3x3 ⊆ 9x1, and
    precision is nonincreasing as candidates widen.  Fixture ids are
    multiples of 4 so every doc survives the sweep's deterministic
    25% sample."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    other = "completely different words about spark engines and shuffles"
    df = from_rows(
        spark,
        [(0, base), (4, base), (8, near), (12, other)],
        schema="doc_id bigint, text string",
    )
    out = {r.n_bands: r for r in dedup.banding_precision_sweep(
        df, "doc_id", "text"
    ).collect()}
    assert out[9].n_candidates >= 3  # the near-dup trio floods in
    assert out[1].n_candidates <= out[3].n_candidates <= out[9].n_candidates
    assert out[1].precision >= out[3].precision >= out[9].precision
    for r in out.values():
        assert r.n_verified <= r.n_candidates


# --------------------------------------------------------------------------
# Verify inside the LSH bucket: parity with the join form.  The reference
# below is the earlier plan in pure Python — bucket the non-NULL ids,
# expand all pairs (star past max_bucket), join each side's shingle set
# back by id — fed by the unchanged sketch primitives.
# --------------------------------------------------------------------------


def _parity_corpus(spark, n_bases=30):
    import random

    rng = random.Random(11)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    bases = [" ".join(rng.choice(words) for _ in range(12)) for _ in range(n_bases)]
    rows, i = [], 0
    for b in bases:
        for k in range(rng.randint(1, 4)):
            rows.append((i, b if k == 0 or rng.random() < 0.3 else f"{b} {rng.choice(words)}"))
            i += 1
    rows += [(None, bases[0]), (None, bases[0] + " x"), (500, None), (501, None), (None, None)]
    return from_rows(spark, rows, schema="doc_id bigint, text string")


def _ref_jaccard_pairs(df, threshold, max_bucket, distinct_pairs, carry=None):
    """Counter of (id_a, id_b, inter, uni, jaccard, *carried) rows."""
    import collections
    import itertools

    buckets = collections.defaultdict(list)
    for r in dedup.with_minhash_bands(df, "doc_id", "text").collect():
        if r.doc_id is not None:
            buckets[(r.band_id, r.band_key)].append(r.doc_id)
    cands = []
    for ids in buckets.values():
        ids = sorted(ids)
        if max_bucket is None or len(ids) <= max_bucket:
            cands += itertools.combinations(ids, 2)
        else:
            cands += [(ids[0], x) for x in ids[1:]]
    if distinct_pairs:
        cands = set(cands)
    sh = collections.defaultdict(list)
    for r in dedup._shingle_sets(df, ["doc_id"], "text", 5).collect():
        sh[r.doc_id].append(r._sh)
    extra = {}
    if carry:
        extra = {r[0]: tuple(r[1:]) for r in
                 df.select("doc_id", *carry.values()).collect()}
    out = collections.Counter()
    for a, b in cands:
        for sa, sb in itertools.product(sh[a], sh[b]):
            if sa is None or sb is None:
                continue  # a NULL text scores NULL, which no threshold keeps
            inter = len(set(sa) & set(sb))
            uni = len(sa) + len(sb) - inter
            jac = round(inter / max(uni, 1), 6)
            if jac >= threshold:
                carried = tuple(v for pair in zip(extra.get(a, ()), extra.get(b, ())) for v in pair)
                out[(a, b, inter, uni, jac, *carried)] += 1
    return out


def _ref_apply_dedup(df, threshold, keep, max_bucket):
    """Sorted survivor ids: exact pre-pass, then the reference pairs."""
    rows = [(r.doc_id, r.text) for r in df.collect()]
    keep_id = {}
    for i, t in rows:
        if i is not None:
            keep_id[t] = min(keep_id.get(t, i), i)
    exact_losers = {i for i, t in rows if i is not None and i != keep_id[t]}
    survivors = df.where(
        F.col("doc_id").isNull() | ~F.col("doc_id").isin(sorted(exact_losers))
    )
    lengths = {"len": F.length(norm_text(F.col("text")))}
    pairs = _ref_jaccard_pairs(survivors, threshold, max_bucket, False, lengths)
    losers = {
        (a if keep == "longest" and la < lb else b)
        for a, b, _, _, _, la, lb in pairs
    }
    return sorted(
        (i for i, _ in rows if i is None or (i not in exact_losers and i not in losers)),
        key=lambda i: (i is None, i),
    )


def _counter(df):
    import collections

    return collections.Counter(tuple(r) for r in df.collect())


def test_jaccard_pairs_match_join_form_reference(spark):
    """Bucket-side verify == the join form: NULL ids never pair, NULL
    texts never verify, the star degrade (``max_bucket=2``) and the
    ``distinct_pairs=False`` multiplicity (one row per shared band)
    hold, and ``carry_exprs`` payloads ride both sides."""
    df = _parity_corpus(spark)
    carry = {"len": F.length("text")}
    for max_bucket, distinct in ((512, True), (512, False), (2, True), (2, False), (None, False)):
        got = _counter(dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", 0.3, distinct_pairs=distinct,
            max_bucket=max_bucket, carry_exprs=carry,
        ))
        want = _ref_jaccard_pairs(df, 0.3, max_bucket, distinct, carry)
        assert got == want, (max_bucket, distinct)
        assert want and (distinct or max(want.values()) > 1)


def test_apply_dedup_matches_join_form_reference(spark):
    """apply_dedup == exact pre-pass + join-form pairs + anti-join,
    for both survivor policies, at the default cap and star-degraded."""
    df = _parity_corpus(spark)
    for keep in ("min_id", "longest"):
        for max_bucket in (512, 2):
            got = sorted(
                (r.doc_id for r in dedup.apply_dedup(
                    df, "doc_id", "text", 0.5, max_bucket=max_bucket, keep=keep
                ).collect()),
                key=lambda i: (i is None, i),
            )
            assert got == _ref_apply_dedup(df, 0.5, keep, max_bucket), (keep, max_bucket)


def test_null_ids_never_enter_a_bucket(spark):
    """A NULL-id doc joins no bucket: it neither pairs with another
    NULL-id doc nor removes a doc, and it is never removed itself."""
    t = "the quick brown fox jumps over the lazy dog again and again"
    df = from_rows(
        spark, [(1, t), (2, t + " x"), (None, t), (None, t + " y")],
        schema="doc_id bigint, text string",
    )
    pairs = {(r.id_a, r.id_b) for r in
             dedup.ngram_jaccard_pairs(df, "doc_id", "text", distinct_pairs=False).collect()}
    assert pairs == {(1, 2)}
    for keep in ("min_id", "longest"):
        got = [r.doc_id for r in dedup.apply_dedup(df, "doc_id", "text", 0.5, keep=keep).collect()]
        assert sorted(got, key=lambda i: (i is None, i)) == [1 if keep == "min_id" else 2, None, None]


def test_jaccard_pairs_plan_shingles_once_without_join(spark):
    """One shingle pass feeds both the band keys and the verify, and
    no join brings the shingle sets back to the candidate pairs: in
    ``ngram_jaccard_pairs`` and in ``minhash_calibration``."""
    for frame in (
        dedup.ngram_jaccard_pairs(
            _docs(spark), "doc_id", "text", carry_exprs={"len": F.length("text")}
        ),
        dedup.minhash_calibration(_docs(spark), "doc_id", "text"),
    ):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("array_distinct(transform(sequence") == 1, plan
        assert "Join" not in plan, plan


def test_apply_dedup_builds_in_few_jobs(spark, tmp_path):
    """Building ``apply_dedup`` (the pre-pass materialization and a
    lazy checkpoint of the result, as a pipeline stage does) over a
    300-doc parquet table runs at most 7 Spark jobs; the join form ran
    13."""
    import random

    rng = random.Random(5)
    words = [f"w{i}" for i in range(400)]
    rows = []
    for i in range(300):
        if i % 10 == 3:
            rows.append((i, rows[i - 1][1]))
        elif i % 10 == 7:
            rows.append((i, rows[i - 2][1] + " tail"))
        else:
            rows.append((i, " ".join(rng.choice(words) for _ in range(20))))
    path = str(tmp_path / "docs")
    from_rows(spark, rows, schema="doc_id bigint, text string").write.parquet(path)
    df = spark.read.parquet(path)
    sc = spark.sparkContext
    group = "test-apply-dedup-build"
    sc.setJobGroup(group, "build apply_dedup")
    try:
        out = dedup.apply_dedup(df, "doc_id", "text", threshold=0.5).localCheckpoint(eager=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < len(jobs) <= 7, jobs
    kept = {r.doc_id for r in out.collect()}
    assert not any(i in kept for i in range(3, 300, 10))
    assert not any(i in kept for i in range(7, 300, 10))
