"""Lint: the repository layout stays grouped, and its pointers resolve.

Tests live in one `tests/test_<module>.py` per module or fixture axis,
never in a file named after a development round. The root holds only
the records that tooling reads or writes there (`BENCH_*`, `PERF_*`,
`CORRECTNESS_*`, `VERIFY_*`); every other round-named sweep record
lives under `artifacts/`. Every test, script, perfbench or plan path
and every round-record name that the package, `tests/`, `scripts/`,
README.md or COVERAGE.md mentions must exist, and a
`tests/<file>.py::name[param]` pointer must name a function in that
file and, with a parameter, one of its collected ids. No module in the
package, `tests/` or `scripts/` imports a name it never uses, unless the
import says `# noqa` (an availability probe).
"""

from __future__ import annotations

import ast
import glob
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROOT_RECORD = re.compile(r"^[A-Z][A-Z0-9_]*_r\d+.*\.json$")
ROOT_RECORD_KEPT = ("BENCH_", "PERF_", "CORRECTNESS_", "VERIFY_")

# a path or record name that does not sit inside a longer path and is
# not a brace pattern; the reference repo's tests/resources/... paths do
# not match because their second component is not test_*
POINTER = re.compile(
    r"(?<![\w/.{}])("
    r"(?:tests/test_\w+|scripts/\w+|perfbench/[\w/]+)\.py"
    r"|plans/r\d+/[\w./-]*\w"
    r"|(?:artifacts/)?[A-Z][A-Z0-9_]*_r\d+\w*\.json"
    r")(?![\w{}])"
)


def _tracked():
    return subprocess.run(
        ["git", "ls-files"], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.split()


def test_no_round_named_test_files():
    found = glob.glob(os.path.join(REPO, "tests", "test_round*.py"))
    assert [os.path.basename(p) for p in found] == []


def test_root_keeps_only_tooling_records():
    stray = [
        f for f in _tracked()
        if "/" not in f and ROOT_RECORD.match(f) and not f.startswith(ROOT_RECORD_KEPT)
    ]
    assert stray == [], f"move under artifacts/: {stray}"


CODE_DIRS = ("ndl_core_data_pipeline_spark", "tests", "scripts")


def _modules():
    return [f for f in _tracked() if f.endswith(".py") and f.split("/")[0] in CODE_DIRS]


def _doc_lines():
    """(file, line number, line) over the modules, README.md and COVERAGE.md."""
    for f in _modules() + ["README.md", "COVERAGE.md"]:
        with open(os.path.join(REPO, f), encoding="utf-8") as fh:
            for i, line in enumerate(fh, 1):
                yield f, i, line


def test_named_paths_and_records_exist():
    missing = []
    for f, i, line in _doc_lines():
        for name in POINTER.findall(line):
            where = [name]
            if "/" not in name:  # a record: root or artifacts/
                where.append(os.path.join("artifacts", name))
            if not any(os.path.exists(os.path.join(REPO, w)) for w in where):
                missing.append(f"{f}:{i}: {name}")
    assert missing == [], "\n".join(missing)


NODE_ID = re.compile(r"(?<![\w/.])(tests/\w+\.py)::(\w+)(\[[^\]\s]*\])?")


def _collected(path: str) -> set[str]:
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", path],
        cwd=REPO, capture_output=True, text=True,
    ).stdout
    return {line.strip() for line in out.splitlines() if "::" in line}


def test_node_id_pointers_resolve():
    defined: dict[str, set[str]] = {}
    collected: dict[str, set[str]] = {}
    dangling = []
    for f, i, line in _doc_lines():
        for path, name, param in NODE_ID.findall(line):
            full = os.path.join(REPO, path)
            if not os.path.exists(full):
                continue  # test_named_paths_and_records_exist names it
            if path not in defined:
                with open(full, encoding="utf-8") as fh:
                    defined[path] = {
                        n.name for n in ast.walk(ast.parse(fh.read()))
                        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                    }
            if name not in defined[path]:
                dangling.append(f"{f}:{i}: {path}::{name}")
            elif param:
                if path not in collected:
                    collected[path] = _collected(path)
                if f"{path}::{name}{param}" not in collected[path]:
                    dangling.append(f"{f}:{i}: {path}::{name}{param}")
    assert dangling == [], "\n".join(dangling)


# `# noqa` alone or naming F401 keeps an import that exists to be tried
NOQA_UNUSED = re.compile(r"#\s*noqa(?!:)|#\s*noqa:[^#]*\bF401\b")


def test_no_unused_imports():
    unused = []
    for f in _modules():
        with open(os.path.join(REPO, f), encoding="utf-8") as fh:
            src = fh.read()
        lines = src.splitlines()
        tree = ast.parse(src)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        used |= {  # re-exports a package `__init__` lists in `__all__`
            c.value for n in ast.walk(tree) if isinstance(n, ast.Assign)
            and any(getattr(t, "id", None) == "__all__" for t in n.targets)
            for c in ast.walk(n.value) if isinstance(c, ast.Constant)
        }
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(node, "module", None) == "__future__" or any(
                NOQA_UNUSED.search(ln) for ln in lines[node.lineno - 1:node.end_lineno]
            ):
                continue
            for alias in node.names:
                bound = alias.asname or alias.name.split(".")[0]
                if bound != "*" and bound not in used:
                    unused.append(f"{f}:{node.lineno}: {bound}")
    assert unused == [], "\n".join(unused)
