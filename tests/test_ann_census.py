"""Census of the ANN pipeline's building blocks in ``ops/similarity.py``
and ``ml.py``.

Each block of the filter-and-verify shape (per-query top-k window,
multi-probe explode, sign bucket under pivot planes, lowest-id pivot
pick) is written once, as a private helper, so a change to the
tie-break, the probe rule or the pivot rule is made in one place.
Pure AST scan (``tests/census.py``), no Spark session.
"""

from census import ROOT, where_used

FILES = (
    ROOT / "fuel_spark" / "ops" / "similarity.py",
    ROOT / "fuel_spark" / "ml.py",
)

# method calls whose first argument is a given string literal, and
# SQL-text fragments (inside a string literal); each may appear in
# exactly one function across both files
CALLS = (("partitionBy", "query_id"), ("orderBy", "pivot_id"))
FRAGMENTS = ("explode(array(", "shiftleft(1, p)")


def test_each_ann_block_is_written_once():
    found = where_used(FILES, fragments=FRAGMENTS, calls=CALLS)
    assert {k: len(v) for k, v in found.items()} == {k: 1 for k in found}, found
    assert not any(f.endswith(":<module>") for f in set().union(*found.values()))


def test_probe_pairs_are_not_deduplicated():
    # radius-1/2 probe buckets are pairwise distinct (see _probe), so a
    # (query, neighbor) pair dedup is a wasted shuffle of both vectors
    hits = [p.name for p in FILES if 'dropDuplicates(["query_id"' in p.read_text()]
    assert hits == []
