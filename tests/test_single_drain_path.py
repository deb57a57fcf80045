"""Every bounded stream in the package runs through one function,
streaming.events.drain: it scopes the drain confs, waits for the
query to terminate and records DRAIN_PROGRESS. A hand-rolled
``.trigger(availableNow=...)`` or ``.awaitTermination(`` anywhere
else would bypass all three, so this check fails on the first one.
"""

from __future__ import annotations

import ast
import os

import etl_npl_pipeline_spark as pkg

PKG_DIR = os.path.dirname(pkg.__file__)
HELPER = (os.path.join("streaming", "events.py"), "drain")


def _is_drain_call(node: ast.AST) -> bool:
    if not isinstance(node, ast.Call) or not isinstance(
        node.func, ast.Attribute
    ):
        return False
    if node.func.attr == "awaitTermination":
        return True
    return node.func.attr == "trigger" and any(
        kw.arg == "availableNow" for kw in node.keywords
    )


def _drain_call_sites() -> list[tuple[str, str, int]]:
    """(file, enclosing top-level name, line) of every drain call."""
    sites = []
    for root, _, files in os.walk(PKG_DIR):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG_DIR)
            for top in ast.parse(open(path).read()).body:
                for node in ast.walk(top):
                    if _is_drain_call(node):
                        name = getattr(top, "name", "<module>")
                        sites.append((rel, name, node.lineno))
    return sites


def test_only_the_drain_helper_starts_bounded_streams():
    # equality, not subset: the scan must also find the helper itself,
    # or an empty result would prove nothing
    sites = _drain_call_sites()
    assert {(rel, name) for rel, name, _ in sites} == {HELPER}, sites
