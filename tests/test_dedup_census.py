"""Census of the near-dup pipeline's building blocks in ``ops/dedup.py``.

Each block (shingle sets, MinHash signature, overlap, exact pre-pass,
all-pairs expansion, word-gram hash) is written once, as a private
helper, so a change to the MinHash family, the shingle rule or the
Jaccard rounding is made in one place.  Pure AST scan
(``tests/census.py``), no Spark session.
"""

from census import ROOT, where_used

DEDUP = ROOT / "fuel_spark" / "ops" / "dedup.py"

# names (a bare name or an attribute) and SQL-text fragments (inside a
# string literal) that may appear in exactly one function each
NAMES = ("array_intersect", "minhash_expr", "shingles_over_norm")
FRAGMENTS = ("md5(array_join(slice", "flatten(transform(sequence(1, size(")


def test_each_near_dup_block_is_written_once():
    found = where_used([DEDUP], names=NAMES, fragments=FRAGMENTS)
    assert {k: len(v) for k, v in found.items()} == {k: 1 for k in found}, found
    assert not any(f.endswith(":<module>") for f in set().union(*found.values()))


def test_shingle_hash_helper_is_gone():
    hits = [
        f"{p.relative_to(ROOT)}"
        for p in sorted((ROOT / "fuel_spark").rglob("*.py"))
        if "with_materialized_shingle_hashes" in p.read_text()
    ]
    assert hits == []
