"""Every top-level function and class of the package has a caller: its
name occurs, as a whole word, somewhere in the repo's .py files beyond
its own definition. A name only its definition mentions is dead code
and goes (or gets the caller it was written for)."""

import ast
import collections
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "text_search_spark")
WORD = re.compile(r"\w+")


def _py_files():
    return [
        p
        for p in glob.glob(os.path.join(REPO, "**", "*.py"), recursive=True)
        if os.sep + "." not in os.path.relpath(p, REPO)
    ]


def test_every_top_level_name_has_a_reference():
    words = collections.Counter()
    for path in _py_files():
        with open(path, encoding="utf-8") as f:
            words.update(WORD.findall(f.read()))
    defs = collections.defaultdict(list)
    pkg_files = glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
    for path in sorted(pkg_files):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs[node.name].append(
                    f"{os.path.relpath(path, REPO)}:{node.lineno}"
                )
    dead = sorted(
        f"{where[0]} {name}"
        for name, where in defs.items()
        if words[name] <= len(where)
    )
    assert not dead, f"top-level names nothing references: {dead}"
