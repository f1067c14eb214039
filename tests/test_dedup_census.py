"""Census of the near-dup pipeline's building blocks in ``ops/dedup.py``.

Each block (shingle sets, MinHash signature, overlap, exact pre-pass,
all-pairs expansion, band-bucket collect, bucket pairs with the star
degrade, word-gram hash) is written once, as a private helper, so a
change to the MinHash family, the shingle rule or the Jaccard rounding
is made in one place.  Pure AST scan
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


def test_band_bucket_collect_and_star_pairs_are_written_once():
    """The LSH band-bucket collect (``collect_list`` under a
    ``groupBy("band_id", ...)``) sits in ``_band_buckets``, and the
    star-degrade SQL (every member with the bucket's first) in
    ``_bucket_pairs``: candidates, the verify and the calibration all
    expand their buckets there."""
    found = where_used(
        [DEDUP], names=("collect_list",), calls=(("groupBy", "band_id"),),
        fragments=(", 2, size(",),
    )
    bucket_collect = found["collect_list"] & found[("groupBy", "band_id")]
    assert bucket_collect == {"fuel_spark/ops/dedup.py:_band_buckets"}, found
    assert found[", 2, size("] == {"fuel_spark/ops/dedup.py:_bucket_pairs"}, found


def test_shingle_hash_helper_is_gone():
    hits = [
        f"{p.relative_to(ROOT)}"
        for p in sorted((ROOT / "fuel_spark").rglob("*.py"))
        if "with_materialized_shingle_hashes" in p.read_text()
    ]
    assert hits == []
