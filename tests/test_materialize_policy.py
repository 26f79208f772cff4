"""One materialization policy and one sizing policy: no module in the
package (or the contract queries in ``__spark_entry__.py``) picks its
own method or storage level, and none sizes a frame by its row count.
Every reuse point calls ``session.materialize`` and every broadcast or
collect-to-driver decision ``session.fits``; this test parses the
sources with ``ast`` (no Spark needed) and fails on any
``.localCheckpoint(``/``.persist(``/``.cache(``/``.checkpoint(`` call or
``StorageLevel`` name outside ``session.materialize``, and on any
comparison with a ``.count()`` call as an operand."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "streetview_naturevisibility_spark")
SESSION = os.path.join(PKG, "session.py")

_METHODS = {"localCheckpoint", "persist", "cache", "checkpoint"}


def _sources() -> list[str]:
    out = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, files in os.walk(PKG):
        out.extend(os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))
    return sorted(out)


def policy_violations(path: str, source: str) -> list[str]:
    """``file:line what`` for every storage decision outside
    ``session.materialize``."""
    tree = ast.parse(source, filename=path)
    allowed: set[int] = set()
    if os.path.abspath(path) == SESSION:
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and node.name == "materialize":
                allowed.update(id(n) for n in ast.walk(node))
    rel = os.path.relpath(path, ROOT)
    found = []
    for node in ast.walk(tree):
        if id(node) in allowed:
            continue
        what = None
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _METHODS
        ):
            what = f".{node.func.attr}("
        elif isinstance(node, ast.Name) and node.id == "StorageLevel":
            what = "StorageLevel"
        elif isinstance(node, ast.Attribute) and node.attr == "StorageLevel":
            what = "StorageLevel"
        elif isinstance(node, ast.alias) and "StorageLevel" in (
            node.name,
            node.asname,
        ):
            what = "import StorageLevel"
        if what:
            found.append((getattr(node, "lineno", 0), f"{rel}:{{}} {what}"))
    return [f.format(line) for line, f in sorted(found)]


def test_no_storage_decision_outside_materialize():
    found = []
    for path in _sources():
        with open(path, encoding="utf-8") as f:
            found.extend(policy_violations(path, f.read()))
    assert not found, "use session.materialize instead:\n" + "\n".join(found)


def test_guard_catches_each_form():
    src = (
        "from pyspark import StorageLevel\n"
        "a = df.localCheckpoint(eager=True)\n"
        "b = df.persist(StorageLevel.DISK_ONLY)\n"
        "c = df.cache()\n"
        "d = df.checkpoint()\n"
        "def materialize(df):\n"
        "    return df.localCheckpoint()\n"
    )
    every_form = [
        "import StorageLevel",
        ".localCheckpoint(",
        ".persist(",
        "StorageLevel",
        ".cache(",
        ".checkpoint(",
    ]

    def kinds(path):
        return sorted(f.split(" ", 1)[1] for f in policy_violations(path, src))

    # a helper named materialize is exempt only in session.py
    elsewhere = os.path.join(PKG, "operators", "x.py")
    assert kinds(elsewhere) == sorted(every_form + [".localCheckpoint("])
    assert kinds(SESSION) == sorted(every_form)


def row_count_guards(path: str, source: str) -> list[str]:
    """``file:line`` for every comparison that has a ``.count()`` call
    (a Spark job's row count) as an operand."""
    rel = os.path.relpath(path, ROOT)
    lines = set()
    for node in ast.walk(ast.parse(source, filename=path)):
        if isinstance(node, ast.Compare) and any(
            isinstance(op, ast.Call)
            and isinstance(op.func, ast.Attribute)
            and op.func.attr == "count"
            and not op.args
            and not op.keywords
            for op in [node.left, *node.comparators]
        ):
            lines.add(node.lineno)
    return [f"{rel}:{line}" for line in sorted(lines)]


def test_no_row_count_size_guard():
    found = []
    for path in _sources():
        with open(path, encoding="utf-8") as f:
            found.extend(row_count_guards(path, f.read()))
    assert not found, "size frames with session.fits instead:\n" + "\n".join(
        found
    )


def test_row_count_guard_catches_each_form():
    src = (
        "a = df.count() <= 5_000_000\n"
        "b = 10 > edges.count()\n"
        "c = 0 < x.count() < cap\n"
        "d = s.count(' ') > 2\n"
        "e = n_rows <= cap\n"
        "f = df.count()\n"
    )
    path = os.path.join(PKG, "operators", "x.py")
    assert [g.rsplit(":", 1)[1] for g in row_count_guards(path, src)] == [
        "1",
        "2",
        "3",
    ]
