"""Census of the ANN pipeline's building blocks in ``ops/similarity.py``
and ``ml.py``.

Each block of the filter-and-verify shape (per-query top-k window,
multi-probe explode, sign bucket under pivot planes, lowest-id pivot
pick) is written once, as a private helper, so a change to the
tie-break, the probe rule or the pivot rule is made in one place.
Pure AST scan, no Spark session.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
FILES = (
    ROOT / "fuel_spark" / "ops" / "similarity.py",
    ROOT / "fuel_spark" / "ml.py",
)

# method calls whose first argument is a given string literal, and
# SQL-text fragments (inside a string literal); each may appear in
# exactly one function across both files
CALLS = (("partitionBy", "query_id"), ("orderBy", "pivot_id"))
FRAGMENTS = ("explode(array(", "shiftleft(1, p)")


class _Census(ast.NodeVisitor):
    """Map each call / fragment to the innermost functions using it."""

    def __init__(self, path):
        self.path = path.name
        self.stack = ["<module>"]
        self.found = {k: set() for k in CALLS + FRAGMENTS}

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def _here(self):
        return f"{self.path}:{self.stack[-1]}"

    def visit_Call(self, node):
        f = node.func
        if isinstance(f, ast.Attribute) and node.args:
            a = node.args[0]
            if isinstance(a, ast.Constant) and (f.attr, a.value) in CALLS:
                self.found[(f.attr, a.value)].add(self._here())
        self.generic_visit(node)

    def visit_Constant(self, node):
        if isinstance(node.value, str):
            for frag in FRAGMENTS:
                if frag in node.value:
                    self.found[frag].add(self._here())


def _census():
    found = {k: set() for k in CALLS + FRAGMENTS}
    for path in FILES:
        census = _Census(path)
        census.visit(ast.parse(path.read_text()))
        for k, v in census.found.items():
            found[k] |= v
    return found


def test_each_ann_block_is_written_once():
    found = _census()
    assert {k: len(v) for k, v in found.items()} == {k: 1 for k in found}, found
    assert not any(f.endswith(":<module>") for f in set().union(*found.values()))


def test_probe_pairs_are_not_deduplicated():
    # radius-1/2 probe buckets are pairwise distinct (see _probe), so a
    # (query, neighbor) pair dedup is a wasted shuffle of both vectors
    hits = [p.name for p in FILES if 'dropDuplicates(["query_id"' in p.read_text()]
    assert hits == []
