"""Structural checks over the package source (AST only, no Spark session).

- Only ``session.py`` runs jobs side by side or changes session conf: no
  ``ThreadPoolExecutor``, ``inheritable_thread_target`` or ``.conf.set``
  elsewhere, apart from ``suite.enable_nanos_as_long``'s deliberate
  session-global set.
- No SQL text is written twice: an oracle shared by twin queries is
  written once and the twins refer to it.
"""

from __future__ import annotations

import ast
import collections
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "datacooker_dist_spark"
SESSION = PKG / "session.py"
SUITE_INIT = PKG / "suite" / "__init__.py"
THREAD_NAMES = {"ThreadPoolExecutor", "inheritable_thread_target"}


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path, ast.parse(path.read_text(), filename=str(path))


def _thread_or_conf_uses(node, path):
    if (
        path == SUITE_INIT
        and isinstance(node, ast.FunctionDef)
        and node.name == "enable_nanos_as_long"
    ):
        return
    name = None
    if isinstance(node, ast.alias):
        name = node.name.rsplit(".", 1)[-1]
    elif isinstance(node, ast.Name):
        name = node.id
    elif isinstance(node, ast.Attribute):
        name = node.attr
    if name in THREAD_NAMES:
        yield f"{path.relative_to(PKG)}: {name}"
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "unset")
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    ):
        yield f"{path.relative_to(PKG)}:{node.lineno}: .conf.{node.func.attr}("
    for child in ast.iter_child_nodes(node):
        yield from _thread_or_conf_uses(child, path)


def test_only_session_runs_legs_or_changes_conf():
    found = [
        use
        for path, tree in _modules()
        if path != SESSION
        for use in _thread_or_conf_uses(tree, path)
    ]
    assert found == [], (
        "use session.concurrently / session.scoped_conf instead: "
        + "; ".join(found)
    )


def _string_literals(tree):
    """Top-level string literals: plain strings and f-string templates
    (an f-string's constant parts are not literals of their own)."""
    parts = {
        id(v)
        for n in ast.walk(tree)
        if isinstance(n, ast.JoinedStr)
        for v in n.values
    }
    for n in ast.walk(tree):
        if id(n) in parts:
            continue
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.lineno, n.value
        elif isinstance(n, ast.JoinedStr):
            yield n.lineno, ast.unparse(n)


def test_no_sql_text_is_written_twice():
    where = collections.defaultdict(list)
    for path, tree in _modules():
        for line, text in _string_literals(tree):
            text = re.sub(r"\s+", " ", text).strip()
            if len(text) >= 20 and re.search(r"\bSELECT\b", text):
                where[text].append(f"{path.relative_to(PKG)}:{line}")
    copies = [locs for locs in where.values() if len(locs) > 1]
    assert copies == [], f"write the SQL once and refer to it: {copies}"
