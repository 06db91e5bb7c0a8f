"""Every tracked Python file compiles with SyntaxWarning and
DeprecationWarning raised as errors: an invalid escape sequence such as
'\\_' in a plain string literal is a DeprecationWarning on Python 3.11,
a SyntaxWarning on 3.12 and slated to become a SyntaxError."""

from __future__ import annotations

import os
import subprocess
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tracked_python_compiles_without_warnings():
    paths = subprocess.run(
        ["git", "ls-files", "--", "*.py"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.split()
    assert "bench.py" in paths, paths
    bad = []
    for path in paths:
        with open(os.path.join(ROOT, path), encoding="utf-8") as fh:
            src = fh.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(src, path, "exec")
            except SyntaxError as e:
                bad.append(f"{path}:{e.lineno}: {e.msg}")
    assert not bad, bad
