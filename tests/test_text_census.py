"""Census of the text pipeline's building blocks in ``ops/text.py`` and
``ops/curate.py``.

Tokenize, count, score: each block of that chain (the word front end,
per-document term frequencies, word n-grams, the Gopher document
statistics, the whitespace token count, the BPE start state and merge)
is written once, as a private helper, so a change to the tokenizer,
the n-gram rule or a statistic is made in one place.  Pure AST scan
(``tests/census.py``), no Spark session.
"""

from census import ROOT, where_used

FILES = (
    ROOT / "fuel_spark" / "ops" / "text.py",
    ROOT / "fuel_spark" / "ops" / "curate.py",
)

# block -> the one helper that writes it, keyed by a name, a fragment
# of a SQL string, or a fragment of a call's source (ast.unparse form)
NAMES = {"array_remove": "_doc_words"}
FRAGMENTS = {
    "array_join(slice(_w": "_word_ngrams_sql",
    "i -> substring(word, i, 1)": "_bpe_symbols",
    "element_at(acc, -1)": "_bpe_merge",
}
CODE = {
    "groupBy(id_col, 'word')": "_doc_tf",
    "F.length(F.concat_ws(''": "_doc_stats",
    "F.split(F.trim(": "_ws_tokens",
}
# hand copies of the front end, and of _doc_stats's word count, that
# must stay gone (curate counts words with curate._n_words)
GONE_CODE = ("F.explode(words(", "F.filter(words(", "F.size(words(")
GONE_FRAGMENTS = ("<> ''",)


def test_each_text_block_is_written_once():
    found = where_used(FILES, names=NAMES, fragments=FRAGMENTS, code=CODE)
    want = {**NAMES, **FRAGMENTS, **CODE}
    assert {k: {s.split(":")[1] for s in v} for k, v in found.items()} == {
        k: {f} for k, f in want.items()
    }


def test_only_the_fit_loop_and_the_vocab_fold_apply_a_merge():
    found = where_used(FILES, code=("_bpe_merge(",))
    assert {s.split(":")[1] for s in found["_bpe_merge("]} == {
        "train_bpe", "_bpe_fold_vocab",
    }


def test_front_end_copies_are_gone():
    found = where_used(FILES, fragments=GONE_FRAGMENTS, code=GONE_CODE)
    assert found == {k: set() for k in found}
    hits = [
        f"{p.relative_to(ROOT)}: {needle}"
        for p in sorted((ROOT / "fuel_spark").rglob("*.py"))
        for needle in ('F.split("_t"', "vocab_dedup")
        if needle in p.read_text()
    ]
    assert hits == []
