"""Production call sites stay callable: every call that the frozen
benches, the contract queries, the cli and the benchmark workloads make
to a ``streetview_naturevisibility_spark.operators`` function must bind
to that function's current signature. Static (``ast`` + ``inspect``),
no Spark session — a deleted or renamed keyword that a production
caller still names fails here, not in a long benchmark run."""

from __future__ import annotations

import ast
import importlib
import inspect
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "streetview_naturevisibility_spark"
OPS = f"{PKG}.operators"
CALLERS = [
    "bench.py",
    "bench_extra.py",
    "__spark_entry__.py",
    f"{PKG}/cli.py",
    "perfbench/workloads.py",
]
# ``Tracer.call(name, fn, *args, then=..., **kwargs)`` runs ``fn(*args,
# **kwargs)``; ``then`` belongs to the tracer
_TRACER_KW = {"then"}


def _absolute(node: ast.ImportFrom, path: str) -> str:
    if not node.level:
        return node.module or ""
    pkg = os.path.relpath(os.path.dirname(path), ROOT).split(os.sep)
    pkg = pkg[: len(pkg) - (node.level - 1)]
    return ".".join(pkg + ([node.module] if node.module else []))


def _bindings(tree: ast.AST, path: str) -> tuple[dict, dict]:
    """(local name -> operator function, local name -> operator module)
    from every ``from ... import`` in the file, at any scope."""
    funcs, mods = {}, {}
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        mod = _absolute(node, path)
        for alias in node.names:
            local = alias.asname or alias.name
            if mod == OPS:
                mods[local] = importlib.import_module(f"{OPS}.{alias.name}")
            elif mod.startswith(OPS + "."):
                fn = getattr(importlib.import_module(mod), alias.name)
                if inspect.isfunction(fn):
                    funcs[local] = fn
    return funcs, mods


def _resolve(node: ast.expr, funcs: dict, mods: dict):
    if isinstance(node, ast.Name):
        return funcs.get(node.id)
    if (
        isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id in mods
    ):
        fn = getattr(mods[node.value.id], node.attr, None)
        return fn if inspect.isfunction(fn) else None
    return None


def _operator_calls(path: str):
    """Yield (line, fn, positional arg count or None, keyword names) for
    every call of an operator function, direct or through
    ``Tracer.call``. The count is None when a ``*args`` makes it
    unknown; ``**kwargs`` spreads are skipped."""
    with open(os.path.join(ROOT, path)) as f:
        tree = ast.parse(f.read())
    funcs, mods = _bindings(tree, path)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn, args, skip = _resolve(node.func, funcs, mods), node.args, set()
        if (
            fn is None
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "call"
            and len(node.args) >= 2
        ):
            fn, args, skip = _resolve(node.args[1], funcs, mods), node.args[2:], _TRACER_KW
        if fn is None:
            continue
        n_pos = None if any(isinstance(a, ast.Starred) for a in args) else len(args)
        kws = [k.arg for k in node.keywords if k.arg is not None and k.arg not in skip]
        yield node.lineno, fn, n_pos, kws


def _check(path: str) -> tuple[int, list[str]]:
    n, problems = 0, []
    for line, fn, n_pos, kws in _operator_calls(path):
        n += 1
        pos = [None] * (n_pos or 0)
        try:
            inspect.signature(fn).bind_partial(*pos, **dict.fromkeys(kws))
        except TypeError as e:
            problems.append(f"{path}:{line} {fn.__module__}.{fn.__name__}: {e}")
    return n, problems


@pytest.mark.parametrize("path", CALLERS)
def test_production_calls_bind_to_operator_signatures(path):
    n, problems = _check(path)
    assert n > 0, f"no operator calls found in {path}"
    assert not problems, "\n".join(problems)


def test_guard_catches_unknown_keyword(tmp_path, monkeypatch):
    """The guard itself: a call naming a keyword the operator does not
    take is reported, and a call through ``Tracer.call`` is seen."""
    src = tmp_path / "caller.py"
    src.write_text(
        f"from {OPS}.knn import knn_snap\n"
        "knn_snap(points, pages, max_distance=50.0)\n"
        "knn_snap(points, pages, salt=16)\n"
        "tr.call('knn.knn_snap', knn_snap, points, pages, then=print, zoom=14)\n"
        "tr.call('knn.knn_snap', knn_snap, points, pages, broadcast_points=True)\n"
    )
    monkeypatch.setattr(f"{__name__}.ROOT", str(tmp_path))
    n, problems = _check("caller.py")
    assert n == 4
    assert [p.split()[0] for p in problems] == ["caller.py:3", "caller.py:5"]
