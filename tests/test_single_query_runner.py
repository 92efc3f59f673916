"""Hygiene invariant: the package starts streaming queries in exactly
one place — ``sinks.drain``, which runs every foreachBatch job. (The
memory-sink runner the tests read back, ``run_to_completion``, lives
in ``tests/stream_helpers.py``.) This test scans the package source
so copies of the writeStream boilerplate cannot creep back in.
"""

from __future__ import annotations

import ast
import os

import gmall_flink_2021_spark as pkg

_ALLOWED = {"streaming/sinks.py:drain"}


def _writestream_sites(root: str) -> set[str]:
    sites = set()
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            funcs = [n for n in ast.walk(tree)
                     if isinstance(n, (ast.FunctionDef,
                                       ast.AsyncFunctionDef))]
            for node in ast.walk(tree):
                if not (isinstance(node, ast.Attribute)
                        and node.attr == "writeStream"):
                    continue
                # the innermost function whose lines enclose the use
                owner = min((f for f in funcs
                             if f.lineno <= node.lineno <= f.end_lineno),
                            key=lambda f: f.end_lineno - f.lineno,
                            default=None)
                name = owner.name if owner else "<module>"
                sites.add(f"{rel}:{name}")
    return sites


def test_writestream_only_in_the_query_runners():
    root = os.path.dirname(os.path.abspath(pkg.__file__))
    sites = _writestream_sites(root)
    assert sites <= _ALLOWED, (
        "writeStream used outside sinks.drain "
        "— run the query through sinks.drain instead: "
        + ", ".join(sorted(sites - _ALLOWED)))
    assert sites == _ALLOWED
