"""Lint: every private top-level function in the package has a caller
inside the package.

A private (`_name`) function that nothing in `ndl_core_data_pipeline_spark/`
references is either dead or a reference form that only tests use. Dead
code is deleted; test-only reference forms live in tests/reference_forms.py.
The check is static (AST): a function counts as used when another
top-level statement of its own module names it, when a module imports it
with `from ... import`, or when any module reads it as an attribute
(`mod._name`). A function that only calls itself is not used.
"""

from __future__ import annotations

import ast
import os

PKG = "ndl_core_data_pipeline_spark"
ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG)

# (module, function) -> why it may stay without a caller
ALLOWED = {
    (f"{PKG}.operators.multimodal", "_decode_image_real"): (
        "documented codec stub: the real image decoder's call site, kept "
        "so the stubbed dimension probe has one place to swap in a codec"
    ),
}


def _modules():
    for dirpath, _, files in os.walk(ROOT):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, os.path.dirname(ROOT))[: -len(".py")]
            parts = rel.split(os.sep)
            is_pkg = parts[-1] == "__init__"
            if is_pkg:
                parts = parts[:-1]
            with open(path, encoding="utf-8") as fh:
                yield ".".join(parts), is_pkg, ast.parse(fh.read(), path)


def _resolve(mod: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = mod.split(".")
    base = base[: len(base) - node.level + (1 if is_pkg else 0)]
    return ".".join(base + ([node.module] if node.module else []))


def _uncalled_private_functions():
    defined: dict[tuple[str, str], int] = {}
    used: set[tuple[str, str]] = set()
    attr_names: set[str] = set()
    for mod, is_pkg, tree in _modules():
        for top in tree.body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if top.name.startswith("_") and not top.name.startswith("__"):
                    defined[(mod, top.name)] = top.lineno
            own = getattr(top, "name", None)
            for node in ast.walk(top):
                if isinstance(node, ast.Name) and node.id != own:
                    used.add((mod, node.id))
                elif isinstance(node, ast.Attribute):
                    attr_names.add(node.attr)
                elif isinstance(node, ast.ImportFrom):
                    src = _resolve(mod, is_pkg, node)
                    used.update((src, a.name) for a in node.names)
    return {
        key: line
        for key, line in defined.items()
        if key not in used and key[1] not in attr_names
    }


def test_every_private_function_has_a_package_caller():
    bad = {
        k: line for k, line in _uncalled_private_functions().items() if k not in ALLOWED
    }
    assert not bad, "private functions with no caller in the package: " + ", ".join(
        f"{mod}.{name} (line {line})" for (mod, name), line in sorted(bad.items())
    )


def test_allowlist_names_only_uncalled_functions():
    """An allowlisted function that gained a caller leaves the list."""
    uncalled = _uncalled_private_functions()
    assert set(ALLOWED) <= set(uncalled), set(ALLOWED) - set(uncalled)
