"""Shared AST census behind the "each block is written once" tests.

``scan`` walks Python modules and records every hit against the
innermost enclosing function (``<module>`` at top level): each name
or attribute used, each string constant (the literal parts of an
f-string included), each method call with its first literal argument,
and the source text (``ast.unparse``) of each call and comparison.
``where_used`` turns the hits into ``key -> {"file:function", ...}``.
Pure AST, no Spark session.
"""

from __future__ import annotations

import ast
import pathlib
from typing import NamedTuple

ROOT = pathlib.Path(__file__).resolve().parents[1]


class Hit(NamedTuple):
    file: str  # path relative to the repository root
    func: str  # innermost enclosing function, or "<module>"
    kind: str  # "name" | "string" | "call" | "code"
    value: object  # "call": (method, first literal argument or None)
    line: int


class _Census(ast.NodeVisitor):
    def __init__(self, rel: str):
        self.rel, self.stack, self.hits = rel, ["<module>"], []

    def _hit(self, kind, value, node):
        self.hits.append(Hit(self.rel, self.stack[-1], kind, value, node.lineno))

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Name(self, node):
        self._hit("name", node.id, node)

    def visit_Attribute(self, node):
        self._hit("name", node.attr, node)
        self.generic_visit(node)

    def visit_Constant(self, node):
        if isinstance(node.value, str):
            self._hit("string", node.value, node)

    def visit_Call(self, node):
        self._hit("code", ast.unparse(node), node)
        if isinstance(node.func, ast.Attribute):
            a = node.args[0] if node.args else None
            arg = a.value if isinstance(a, ast.Constant) else None
            self._hit("call", (node.func.attr, arg), node)
        self.generic_visit(node)

    def visit_Compare(self, node):
        self._hit("code", ast.unparse(node), node)
        self.generic_visit(node)


def scan(paths) -> list[Hit]:
    hits = []
    for path in paths:
        census = _Census(pathlib.Path(path).relative_to(ROOT).as_posix())
        census.visit(ast.parse(pathlib.Path(path).read_text()))
        hits += census.hits
    return hits


def where_used(paths, names=(), fragments=(), calls=(), code=()):
    """Map each key to the ``"file:function"`` sites that use it:
    ``names`` by exact name or attribute, ``fragments`` as a substring
    of a string constant, ``calls`` as ``(method, first literal
    argument)`` pairs, ``code`` as a substring of a call's or a
    comparison's source text."""
    found = {k: set() for k in (*names, *fragments, *calls, *code)}
    for h in scan(paths):
        site = f"{h.file}:{h.func}"
        if h.kind == "name" and h.value in names:
            found[h.value].add(site)
        elif h.kind == "string":
            for k in fragments:
                if k in h.value:
                    found[k].add(site)
        elif h.kind == "call" and h.value in calls:
            found[h.value].add(site)
        elif h.kind == "code":
            for k in code:
                if k in h.value:
                    found[k].add(site)
    return found
