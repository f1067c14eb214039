"""Driver-contract conformance: entry() smoke, queries()/oracle_sql()
key discipline, flagship row sanity on sf0.001."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_entry_module_compiles_without_warnings():
    """Oracle SQL holds regex text: a backslash in a non-raw string is
    an invalid escape (a SyntaxWarning from Python 3.12 on)."""
    import warnings

    with open(E.__file__, encoding="utf-8") as f:
        src = f.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(src, E.__file__, "exec")


def test_oracle_keys_subset_of_queries():
    q = set(E.queries())
    o = set(E.oracle_sql())
    assert o <= q
    # rows-only set is exactly the documented non-SQL-expressible ops
    assert q - o == {
        "multimodal_decode",
        "ann_mmr",
        "ann_lsh",
        "ann_ivf",
        "pack_batches_local",
        "pad_sequences_local",
        "sort_batches_local",
        "pack_token_budget_local",
        "merge_streams_local",
        "ann_pq",
        "events_approx_distinct",
        "embedding_pca",
        "corpus_domains",
        "text_bpe_merges",
        "part_pagerank",
        "text_quality_model",
        # r7: compactor KLL — partitioning-defined identity by design
        "value_kll_quantiles",
    }


def test_every_query_runs_at_sf0001(spark):
    sf = "/root/testdata/sf0.001"
    for name, fn in E.queries().items():
        df = fn(spark, sf)
        # resolvable plan + stable schema, cheap action
        assert df.columns, name
        assert df.limit(1).count() >= 0, name
