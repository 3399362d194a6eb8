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
import re

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


def test_no_package_module_imports_pyspark_ml():
    """The engine's own vector kernels are the only ones: no module in the
    package imports MLlib (`pyspark.ml`)."""
    bad = []
    for mod, _, tree in _modules():
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and not node.level:
                names = [node.module or ""]
                if node.module == "pyspark":
                    names += [f"pyspark.{a.name}" for a in node.names]
            else:
                continue
            bad += [
                f"{mod}:{node.lineno} {n}"
                for n in names
                if n == "pyspark.ml" or n.startswith("pyspark.ml.")
            ]
    assert not bad, "pyspark.ml imports in the package: " + ", ".join(bad)


def test_binary_file_listing_lives_in_the_file_seam():
    """Raw files are listed in one place: the `"binaryFile"` format name
    appears only in `sources.files` (the listing every file reader uses)
    and in `sinks.compact_parquet`'s size-only listing."""
    allowed = {(f"{PKG}.sources.files", "list_files"), (f"{PKG}.sinks", "compact_parquet")}
    found = set()
    for mod, _, tree in _modules():
        for top in tree.body:
            for node in ast.walk(top):
                if isinstance(node, ast.Constant) and node.value == "binaryFile":
                    found.add((mod, getattr(top, "name", f"line {node.lineno}")))
    assert found <= allowed, sorted(found - allowed)
    assert found == allowed, sorted(allowed - found)


def test_optional_imports_live_in_the_tier_loader():
    """Each optional library tier is resolved once per process: in
    `functions/udfs.py` and `classify.py`, `except ImportError` appears
    only in `udfs._tier`, the cached loader every tier goes through, never
    on a per-call path."""
    found = []
    for mod, _, tree in _modules():
        if mod not in {f"{PKG}.functions.udfs", f"{PKG}.classify"}:
            continue
        for top in tree.body:
            for node in ast.walk(top):
                if isinstance(node, ast.ExceptHandler) and node.type is not None:
                    names = {n.id for n in ast.walk(node.type) if isinstance(n, ast.Name)}
                    if names & {"ImportError", "ModuleNotFoundError"}:
                        found.append((mod, getattr(top, "name", None), node.lineno))
    bad = [f for f in found if f[:2] != (f"{PKG}.functions.udfs", "_tier")]
    assert not bad, "ImportError handled outside the tier loader: " + ", ".join(
        f"{mod}:{line}" for mod, _, line in bad
    )
    assert found, "udfs._tier no longer handles ImportError"


# the text vocabulary's spellings, matched on whitespace-collapsed source
_TEXT_VOCABULARY = {
    "Spark word split (use _util.words)": re.compile(r"F\.split\( ?F\.lower\( ?F\.trim\("),
    "DuckDB word split (use _util.sql_words)": re.compile(
        r"string_split_regex\( ?lower\( ?trim\("
    ),
    "normalized-text md5 (use _util.content_md5 / sql_content_md5)": re.compile(
        r"regexp_replace\( ?(F\.)?lower\( ?(F\.)?trim\("
    ),
    "48-bit md5 prefix (use _util.hash48 / sql_hash48)": re.compile(
        r"substring\( ?(F\.)?md5\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\) ?, ?1 ?, ?12 ?\)"
    ),
}


def _top_level_sources():
    for mod, is_pkg, tree in _modules():
        parts = mod.split(".") + (["__init__"] if is_pkg else [])
        with open(os.path.join(os.path.dirname(ROOT), *parts) + ".py", encoding="utf-8") as fh:
            src = fh.read()
        for top in tree.body:
            name = getattr(top, "name", None)
            if name is None and isinstance(top, (ast.Assign, ast.AnnAssign)):
                targets = top.targets if isinstance(top, ast.Assign) else [top.target]
                name = ",".join(t.id for t in targets if isinstance(t, ast.Name))
            yield mod, name or f"line {top.lineno}", top, ast.get_source_segment(src, top)


def test_text_vocabulary_is_spelled_once():
    """The word split, the normalized-text md5 and the 48-bit md5 prefix
    are spelled only in `operators/_util.py` (`words`, `content_md5`,
    `hash48` and their `sql_*` twins); every operator and oracle calls
    those functions."""
    found = set()
    for mod, name, _, seg in _top_level_sources():
        if mod == f"{PKG}.operators._util":
            continue
        flat = re.sub(r"\s+", " ", seg)
        found |= {(mod, name, what) for what, pat in _TEXT_VOCABULARY.items() if pat.search(flat)}
    assert not found, "text vocabulary spelled outside _util: " + "; ".join(
        f"{mod}.{name}: {what}" for mod, name, what in sorted(found)
    )


def test_license_map_is_folded_once():
    """The Spark fold of LICENSE_MAP into a when-chain lives in
    `textops.normalize_license`; every other license column calls it."""
    found = [
        (mod, name)
        for mod, name, top, _ in _top_level_sources()
        for node in ast.walk(top)
        if isinstance(node, ast.For)
        and any(isinstance(n, ast.Name) and n.id == "LICENSE_MAP" for n in ast.walk(node.iter))
    ]
    assert found == [(f"{PKG}.operators.textops", "normalize_license")], found
