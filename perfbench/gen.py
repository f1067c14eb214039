"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: inputs are made without the
engine under test, so set-up time does not include a second JIT
warm-up.  The same seed gives byte-identical parquet files; every draw
goes through one ``numpy.random.default_rng(seed)`` stream per table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Words scored as English stopwords by the quality filter; a share of
# them in every clean document keeps it above the 0.9 quality cut.
STOPWORDS = ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was")
LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
N_BENCH_DOCS = 20  # doc_id < 20 is the held-out eval set (curation_pipeline)
ARRIVAL_ID0 = 1_000_000  # screen arrivals never share an id with the reference


def vocabulary(rng: np.random.Generator, size: int, min_len: int = 3,
               max_len: int = 9) -> np.ndarray:
    """``size`` distinct lowercase words of ``min_len``..``max_len`` letters."""
    words: dict[str, None] = {}
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(min_len, max_len + 1, n)
        codes = rng.integers(0, 26, (n, max_len))
        for row, k in zip(LETTERS[codes], lens):
            w = row[:k].tobytes().decode()
            if w not in STOPWORDS:
                words.setdefault(w)
    return np.array(list(words)[:size], dtype=object)


def _zipf_ranks(rng: np.random.Generator, vocab_size: int, skew: float,
                n: int) -> np.ndarray:
    """Word ranks with P(rank r) ~ 1 / r**skew; skew 0 is uniform."""
    if skew == 0:
        return rng.integers(0, vocab_size, n)
    cdf = np.cumsum(1.0 / np.arange(1, vocab_size + 1) ** skew)
    return np.searchsorted(cdf / cdf[-1], rng.random(n), side="right")


def _doc_words(rng, vocab, p: dict) -> list[str]:
    n = int(rng.integers(p["doc_words_min"], p["doc_words_max"] + 1))
    words = vocab[_zipf_ranks(rng, len(vocab), p["vocab_skew"], n)]
    stop = rng.random(n) < p["stopword_share"]
    words[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), stop.sum())]
    return list(words)


def _junk_words(rng, p: dict) -> list[str]:
    """A low-quality document: digit runs, which fail the alpha-ratio rule."""
    n = int(rng.integers(p["doc_words_min"], p["doc_words_max"] + 1))
    return [str(v) for v in rng.integers(0, 100000, n)]


def _edit(rng, words: list[str], vocab, rate: float) -> list[str]:
    """Replace ``rate`` of the word positions (at least one) with random words."""
    out = list(words)
    k = max(1, int(round(rate * len(out))))
    for i in rng.choice(len(out), size=min(k, len(out)), replace=False):
        out[i] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def corpus(seed: int, p: dict) -> pa.Table:
    """A document table shaped like the repo's ``documents`` table.

    Rows ``0..N_BENCH_DOCS-1`` are the eval set; later rows are clean
    docs plus planted low-quality docs, exact copies, near copies
    (``near_dup_edit_rate`` of the words replaced) and contaminated docs
    (a ``contam_span_words`` span lifted from an eval doc).  The
    ``kind`` column records what each row was planted as, and ``src_id``
    the row an exact or near copy was made from (-1 otherwise).
    """
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, p["vocab_size"])
    n = p["docs"]
    texts: list[list[str]] = []
    kinds: list[str] = []
    srcs: list[int] = []
    roll = rng.random(n)
    cuts = np.cumsum([p["junk_share"], p["exact_dup_share"], p["near_dup_share"],
                      p["contam_share"]])
    for i in range(n):
        kind, src = "clean", -1
        if i >= N_BENCH_DOCS * 2:
            kind = ("junk", "exact", "near", "contam", "clean")[
                int(np.searchsorted(cuts, roll[i], side="right"))]
        if kind == "junk":
            words = _junk_words(rng, p)
        elif kind in ("exact", "near"):
            src = int(rng.integers(N_BENCH_DOCS, i))
            words = texts[src] if kind == "exact" else _edit(
                rng, texts[src], vocab, p["near_dup_edit_rate"])
        elif kind == "contam":
            bench = texts[int(rng.integers(0, N_BENCH_DOCS))]
            span = p["contam_span_words"]
            at = int(rng.integers(0, len(bench) - span))
            words = _doc_words(rng, vocab, p)
            cut = int(rng.integers(0, len(words)))
            words = words[:cut] + bench[at:at + span] + words[cut:]
        else:
            words = _doc_words(rng, vocab, p)
        texts.append(words)
        kinds.append(kind)
        srcs.append(src)
    text = [" ".join(w) for w in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "kind": pa.array(kinds, pa.string()),
        "src_id": pa.array(srcs, pa.int64()),
    })


def arrivals(seed: int, reference: pa.Table, p: dict, n: int) -> pa.Table:
    """``n`` documents arriving at the screen: fresh docs, except that a
    ``copy_share`` of them are near copies (``copy_edit_rate`` of the
    words replaced) of reference docs.  ``src_id`` names the copied doc."""
    ref = p["reference"]
    fresh = corpus(seed + 1, dict(ref, docs=n + N_BENCH_DOCS))
    rng = np.random.default_rng(seed + 2)
    vocab = vocabulary(rng, ref["vocab_size"])
    ref_texts = reference.column("text").to_pylist()
    texts = fresh.column("text").to_pylist()[N_BENCH_DOCS:]
    srcs = [-1] * n
    for i in np.flatnonzero(rng.random(n) < p["copy_share"]):
        srcs[i] = int(rng.integers(0, len(ref_texts)))
        texts[i] = " ".join(_edit(rng, ref_texts[srcs[i]].split(), vocab, p["copy_edit_rate"]))
    return pa.table({
        "doc_id": pa.array(np.arange(ARRIVAL_ID0, ARRIVAL_ID0 + n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "src_id": pa.array(srcs, pa.int64()),
    })


def examples(seed: int, p: dict) -> pa.Table:
    """An MNIST-shaped table: ``idx``, ``features`` (``p['width']``
    uint8 values per example, as a list column) and int ``targets``."""
    rng = np.random.default_rng(seed)
    n, width = p["examples"], p["width"]
    feats = rng.integers(0, 256, (n, width), dtype=np.uint8)
    return pa.table({
        "idx": pa.array(np.arange(n, dtype=np.int64)),
        "features": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * width + 1, width, dtype=np.int32)),
            pa.array(feats.ravel()),
        ),
        "targets": pa.array(rng.integers(0, p["classes"], n).astype(np.int32)),
    })


def write(table: pa.Table, path: str) -> str:
    """Write ``table`` as one parquet file with fixed writer settings."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd", use_dictionary=False,
                   write_statistics=False)
    return path
