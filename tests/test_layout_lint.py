"""Lint: the repository layout stays grouped, and its pointers resolve.

Tests live in one `tests/test_<module>.py` per module or fixture axis,
never in a file named after a development round (`ROUND_FILES_LEFT`
names the one still waiting for its fold). The root holds only
the records that tooling reads or writes there (`BENCH_*`, `PERF_*`,
`CORRECTNESS_*`, `VERIFY_*`); every other round-named sweep record
lives under `artifacts/`. Every test, script, perfbench or plan path
and every round-record name that the package, `tests/`, `scripts/`,
README.md or COVERAGE.md mentions must exist.
"""

from __future__ import annotations

import glob
import os
import re
import subprocess

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


# the last round-named file; it is folded in a change of its own so that
# each change renames only a small set of test ids
ROUND_FILES_LEFT = ["test_round6_ops.py"]


def test_no_round_named_test_files():
    found = glob.glob(os.path.join(REPO, "tests", "test_round*.py"))
    assert sorted(os.path.basename(p) for p in found) == ROUND_FILES_LEFT


def test_root_keeps_only_tooling_records():
    stray = [
        f for f in _tracked()
        if "/" not in f and ROOT_RECORD.match(f) and not f.startswith(ROOT_RECORD_KEPT)
    ]
    assert stray == [], f"move under artifacts/: {stray}"


def test_named_paths_and_records_exist():
    sources = [
        f for f in _tracked()
        if f in ("README.md", "COVERAGE.md")
        or (f.endswith(".py") and f.split("/")[0] in
            ("ndl_core_data_pipeline_spark", "tests", "scripts"))
    ]
    missing = []
    for f in sources:
        with open(os.path.join(REPO, f), encoding="utf-8") as fh:
            for i, line in enumerate(fh, 1):
                for name in POINTER.findall(line):
                    where = [name]
                    if "/" not in name:  # a record: root or artifacts/
                        where.append(os.path.join("artifacts", name))
                    if not any(os.path.exists(os.path.join(REPO, w)) for w in where):
                        missing.append(f"{f}:{i}: {name}")
    assert missing == [], "\n".join(missing)
