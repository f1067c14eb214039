"""Census of the streaming tier's Python state.

A streaming operator keeps its state in Python
(``applyInPandasWithState``) only when no native aggregation can hold
it; the sketches whose state is a cell table (Count-Min, HLL, Bloom)
are their batch builders run on the stream.  Pure AST/text scan
(``tests/census.py``), no Spark session.
"""

from census import ROOT, scan

SOURCES = sorted((ROOT / "fuel_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]

# operator -> why its state cannot be a native aggregation
PYTHON_STATE = {
    "sessionize_stateful": "re-emits the live open session every batch",
    "heavy_hitters_stream": "Misra-Gries eviction depends on arrival order",
    "pack_tokens_stateful": "a pack spans batches in arrival order",
    "kmv_stream": "bottom-k per group; a per-key min is unbounded",
    "kll_stream": "the compactor ladder compacts",
}
GONE = ("cms_stream", "hll_stream", "bloom_build_stream")


def test_python_state_only_where_no_native_aggregation_holds_it():
    sites = {
        (h.file, h.func)
        for h in scan(SOURCES)
        if h.kind == "call" and h.value[0] == "applyInPandasWithState"
    }
    assert sites == {
        ("fuel_spark/streaming/serve.py", f) for f in PYTHON_STATE
    }


def test_python_sketch_streams_are_gone():
    hits = [
        f"{p.relative_to(ROOT)}: {name}"
        for p in SOURCES
        for name in GONE
        if name in p.read_text()
    ]
    assert hits == []
