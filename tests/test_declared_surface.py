"""Every package module, top-level function and class is reached from a
declared surface.

The declared surfaces are the driver contract (``__spark_entry__.py``,
``bench.py``), the public API (``irivermetrics_spark/api.py``), the
examples, the repository benchmark (``perfbench/*.py``, which also
reaches ``oracle/numpy_oracle``) and the tools (``tools/*.py``, among
them the oracle gate ``tools/check_oracle.py``). The walk is AST-only:
no Spark, nothing imported.

Modules: a module that no root imports, directly or transitively, is
dead. Imports are followed at any depth, including the lazy
``from .x import y`` inside functions.

Definitions: a top-level function or class is reached when a root, the
module-level code of a package module (it runs on import), or the body
of an already-reached definition names it, as a ``Name``, an
``Attribute``, an imported name or a string key of a dict (a dispatch
table). Every definition in ``api.py`` is public and so reached. The
walk runs to a fixed point. Names are matched without their module, so
a name shared by two modules keeps both alive: the scan errs toward
live, never toward deleting.
"""

from __future__ import annotations

import ast
import glob
import os
import shutil

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "irivermetrics_spark"

# Definitions kept although no declared surface reaches them, as
# "module.name": "why". A stale entry (reached, or gone) fails the test.
ALLOWED: dict[str, str] = {
    f"{PKG}.kernels.wav.to_float":
        "PCM -> [-1, 1) float normalization paired with resample; tested on its own",
    f"{PKG}.operators.bpe.vocab_bytes":
        "merge table -> token bytes, used by decode_ids",
    f"{PKG}.operators.bpe.encode_text":
        "single-string encode, the per-row form of with_bpe_tokens; round-trip tested",
    f"{PKG}.operators.bpe.decode_ids":
        "inverse of encode_text; round-trip tested",
    f"{PKG}.operators.bpe.bpe_to_json":
        "merge-table checkpoint writer; round-trip tested with bpe_from_json",
    f"{PKG}.operators.bpe.bpe_from_json":
        "merge-table checkpoint reader; round-trip tested with bpe_to_json",
    f"{PKG}.operators.dedup._mod_mersenne61":
        "scalar form of the shift-fold minhash_signatures inlines; pinned to hardware mod",
    f"{PKG}.operators.dedup.simhash_n_blocks":
        "n_blocks sizing rule the hamming_candidates docstring points to",
    f"{PKG}.operators.multimodal.with_ar_bucket":
        "aspect-ratio bucket over with_image_info dims; plan and truth table tested",
    f"{PKG}.operators.multimodal.with_format_detail":
        "sniff_format as a column router ahead of decode; tested",
    f"{PKG}.operators.spandedup.contaminated_ids":
        "benchmark decontamination over span_windows; both join paths tested",
    f"{PKG}.operators.webdataset.split_member_name":
        "the WebDataset key/ext rule write_webdataset's keys follow; tested",
}


def _package_modules(root: str = ROOT) -> dict[str, str]:
    """Dotted module name → file path for every module in the package."""
    mods = {}
    for path in glob.glob(os.path.join(root, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        mods[".".join(rel)] = path
    return mods


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _imported_names(path: str, modname: str, is_pkg: bool) -> set[str]:
    """Dotted names an import in ``path`` may refer to. ``from a import b``
    yields both ``a`` and ``a.b``: ``b`` may be a submodule or an attribute,
    and only the names that are package modules are kept by the caller."""
    package = modname if is_pkg else modname.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(_parse(path)):
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


def _roots(root: str = ROOT) -> list[str]:
    paths = [os.path.join(root, "__spark_entry__.py"), os.path.join(root, "bench.py"),
             os.path.join(root, PKG, "api.py")]
    for pattern in ("examples", "perfbench", "tools"):
        paths += sorted(glob.glob(os.path.join(root, pattern, "*.py")))
    return paths


def reachable_modules(root: str = ROOT) -> tuple[set[str], dict[str, str]]:
    mods = _package_modules(root)
    by_path = {p: m for m, p in mods.items()}
    roots = _roots(root)
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


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` may refer to a definition by."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
        elif isinstance(n, ast.Dict):
            out.update(k.value for k in n.keys
                       if isinstance(k, ast.Constant) and isinstance(k.value, str))
    return out


_DEFINITION = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def unreached_definitions(root: str = ROOT) -> list[str]:
    """``module.name`` of every top-level package definition that no
    declared surface reaches."""
    api = os.path.join(root, PKG, "api.py")
    defs: dict[str, tuple[str, ast.AST]] = {}  # qualified name -> (name, node)
    named: set[str] = set()
    for modname, path in _package_modules(root).items():
        for stmt in _parse(path).body:
            if isinstance(stmt, _DEFINITION) and path != api:
                defs[f"{modname}.{stmt.name}"] = (stmt.name, stmt)
            else:
                named |= _names(stmt)
    for path in _roots(root):
        if not path.startswith(os.path.join(root, PKG) + os.sep):
            named |= _names(_parse(path))
    todo = dict(defs)
    grew = True
    while grew:
        grew = False
        for qual, (name, node) in list(todo.items()):
            if name in named:
                named |= _names(node)
                del todo[qual]
                grew = True
    return sorted(todo)


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


def test_every_package_function_and_class_is_reached():
    unreached = unreached_definitions()
    dead = sorted(set(unreached) - set(ALLOWED))
    assert not dead, f"definitions no declared surface reaches: {dead}"
    stale = sorted(set(ALLOWED) - set(unreached))
    assert not stale, f"allow-list entries that are reached or gone: {stale}"


def _package_copy(tmp_path) -> str:
    """The package and every root file, copied under ``tmp_path``."""
    skip = shutil.ignore_patterns("__pycache__", "*.pyc")
    shutil.copytree(os.path.join(ROOT, PKG), tmp_path / PKG, ignore=skip)
    for name in ("examples", "perfbench", "tools"):
        shutil.copytree(os.path.join(ROOT, name), tmp_path / name, ignore=skip)
    for name in ("__spark_entry__.py", "bench.py"):
        shutil.copy(os.path.join(ROOT, name), tmp_path / name)
    return str(tmp_path)


def _append(path: str, source: str) -> None:
    with open(path, "a", encoding="utf-8") as f:
        f.write("\n\n" + source)


def test_guard_reports_a_planted_unreached_function(tmp_path):
    root = _package_copy(tmp_path)
    assert unreached_definitions(root) == unreached_definitions()
    _append(os.path.join(root, PKG, "kernels", "fill.py"),
            "def planted_dead():\n    return 1\n")
    assert f"{PKG}.kernels.fill.planted_dead" in unreached_definitions(root)


def test_guard_sees_lazy_imports_and_dispatch_keys(tmp_path):
    root = _package_copy(tmp_path)
    _append(os.path.join(root, PKG, "kernels", "fill.py"),
            "def planted_lazy():\n    return 1\n\n\n"
            "def planted_keyed():\n    return 2\n\n\n"
            "def planted_dead():\n    return 3\n")
    # reached from a public API function: one name only through a lazy
    # in-function import, the other only as a dispatch table's key
    _append(os.path.join(root, PKG, "api.py"),
            "def planted_router(kind):\n"
            "    from .kernels.fill import planted_lazy  # noqa: F401\n"
            "    from .kernels import fill\n"
            "    return getattr(fill, {'planted_keyed': 'planted_keyed'}[kind])\n")
    dead = unreached_definitions(root)
    assert f"{PKG}.kernels.fill.planted_dead" in dead
    assert f"{PKG}.kernels.fill.planted_lazy" not in dead
    assert f"{PKG}.kernels.fill.planted_keyed" not in dead
