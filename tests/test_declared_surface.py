"""Every package module is reached from a declared surface.

The declared surfaces are the driver contract (``__spark_entry__.py``,
``bench.py``), the public API (``irivermetrics_spark/api.py``), the
examples and the repository benchmark (``perfbench/*.py``, which also
reaches ``oracle/numpy_oracle``). A module that none of them imports,
directly or transitively, is dead code and fails this test. The walk is
AST-only (no Spark, nothing imported) and follows imports at any depth,
including the lazy ``from .x import y`` inside functions.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "irivermetrics_spark"


def _package_modules() -> dict[str, str]:
    """Dotted module name → file path for every module in the package."""
    mods = {}
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        mods[".".join(rel)] = path
    return mods


def _imported_names(path: str, modname: str, is_pkg: bool) -> set[str]:
    """Dotted names an import in ``path`` may refer to. ``from a import b``
    yields both ``a`` and ``a.b``: ``b`` may be a submodule or an attribute,
    and only the names that are package modules are kept by the caller."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    package = modname if is_pkg else modname.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base_parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(base_parts + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    # ``import a.b.c`` also imports a and a.b
    for name in list(out):
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts)))
    return out


def _roots() -> list[str]:
    paths = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py"),
             os.path.join(ROOT, PKG, "api.py")]
    paths += sorted(glob.glob(os.path.join(ROOT, "examples", "*.py")))
    paths += sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
    return paths


def reachable_modules() -> tuple[set[str], dict[str, str]]:
    mods = _package_modules()
    by_path = {p: m for m, p in mods.items()}
    roots = _roots()
    seen = {by_path[p] for p in roots if p in by_path}
    stack = [(p, by_path.get(p, "")) for p in roots]
    while stack:
        path, modname = stack.pop()
        is_pkg = path.endswith("__init__.py")
        for name in _imported_names(path, modname, is_pkg):
            if name in mods and name not in seen:
                seen.add(name)
                stack.append((mods[name], name))
    return seen, mods


def test_every_package_module_is_reached_from_a_declared_surface():
    seen, mods = reachable_modules()
    dead = sorted(set(mods) - seen)
    assert not dead, f"modules no declared surface reaches: {dead}"


def test_scan_follows_lazy_and_relative_imports():
    seen, _ = reachable_modules()
    # session imports _pydaemon at module level; decode is imported lazily
    # inside api functions; numpy_oracle only through perfbench.
    for name in (f"{PKG}._pydaemon", f"{PKG}.operators.decode", f"{PKG}.oracle.numpy_oracle"):
        assert name in seen, name
