"""Census of the near-dup pipeline's building blocks in ``ops/dedup.py``.

Each block (shingle sets, MinHash signature, overlap, exact pre-pass,
all-pairs expansion, word-gram hash) is written once, as a private
helper, so a change to the MinHash family, the shingle rule or the
Jaccard rounding is made in one place.  Pure AST scan, no Spark session.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
DEDUP = ROOT / "fuel_spark" / "ops" / "dedup.py"

# names (a bare name or an attribute) and SQL-text fragments (inside a
# string literal) that may appear in exactly one function each
NAMES = ("array_intersect", "minhash_expr", "shingles_over_norm")
FRAGMENTS = ("md5(array_join(slice", "flatten(transform(sequence(1, size(")


class _Census(ast.NodeVisitor):
    """Map each name / fragment to the innermost functions using it."""

    def __init__(self):
        self.stack, self.found = ["<module>"], {k: set() for k in NAMES + FRAGMENTS}

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def _name(self, name):
        if name in NAMES:
            self.found[name].add(self.stack[-1])

    def visit_Name(self, node):
        self._name(node.id)

    def visit_Attribute(self, node):
        self._name(node.attr)
        self.generic_visit(node)

    def visit_Constant(self, node):
        if isinstance(node.value, str):
            for frag in FRAGMENTS:
                if frag in node.value:
                    self.found[frag].add(self.stack[-1])


def _census():
    census = _Census()
    census.visit(ast.parse(DEDUP.read_text()))
    return census.found


def test_each_near_dup_block_is_written_once():
    found = _census()
    assert {k: len(v) for k, v in found.items()} == {k: 1 for k in found}, found
    assert "<module>" not in set().union(*found.values())


def test_shingle_hash_helper_is_gone():
    hits = [
        f"{p.relative_to(ROOT)}"
        for p in sorted((ROOT / "fuel_spark").rglob("*.py"))
        if "with_materialized_shingle_hashes" in p.read_text()
    ]
    assert hits == []
