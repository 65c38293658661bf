"""End-to-end differential test against the actual reference binary
(SURVEY §5.2 item 4). Skips unless a prebuilt ``wd2duckdb`` exists:
this container has a Rust toolchain but no network route to any crate
registry, so the binary cannot be built here — tools/diff_reference.py
documents the resolution/build order and runs anywhere a binary or a
registry IS available."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.diff_reference import find_binary  # noqa: E402

_BINARY, _REASON = find_binary(allow_build=False)


@pytest.mark.skipif(
    _BINARY is None, reason=f"reference binary unavailable: {_REASON}"
)
def test_reference_binary_tables_match():
    proc = subprocess.run(
        [sys.executable, "tools/diff_reference.py"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
