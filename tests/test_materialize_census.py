"""Census of how fuel_spark computes a frame once.

``functions.materialize`` is the only materialization call in the
library and the driver contract: ``localCheckpoint`` is called nowhere
else, and ``cache``/``persist``/``unpersist`` only where Spark's own
semantics need them.  Pure AST/token scan (``tests/census.py``), no
Spark session.
"""

import inspect
import io
import tokenize

from census import ROOT, scan

from fuel_spark import functions

SOURCES = sorted((ROOT / "fuel_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]

# (file, enclosing function, method) -> why it is not materialize
ALLOWED = {
    # Spark's documented remedy for a query over the corrupt-record column
    ("fuel_spark/sources/jsonl.py", "corrupt_split", "cache"),
    # fuel's Cache transformer: persisting the upstream plan is the API
    ("fuel_spark/ops/core.py", "cache_stream", "persist"),
    ("fuel_spark/functions.py", "materialize", "localCheckpoint"),
}
METHODS = {"localCheckpoint", "cache", "persist", "unpersist"}
GONE = {"checkpoint_if_narrow", "checkpoint_interval", "est_row_bytes"}


def test_materialize_is_the_only_checkpoint_and_cache_site():
    calls = [
        (h.file, h.func, h.value[0], h.line)
        for h in scan(SOURCES)
        if h.kind == "call" and h.value[0] in METHODS
    ]
    stray = [c for c in calls if c[:3] not in ALLOWED]
    assert stray == []
    assert {c[:3] for c in calls} == ALLOWED


def test_materialize_takes_only_the_frame():
    assert list(inspect.signature(functions.materialize).parameters) == ["df"]


def test_removed_materialization_knobs_stay_gone():
    hits = []
    for path in SOURCES:
        toks = tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
        for tok in toks:
            if tok.type == tokenize.NAME and tok.string in GONE:
                hits.append(f"{path.relative_to(ROOT)}:{tok.start[0]} {tok.string}")
    assert hits == []
