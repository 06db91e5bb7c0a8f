"""Scratch directories the queries write through (stream chunks,
checkpoints, sinks, landed tables), under the platform temp dir so
``TMPDIR`` is honoured."""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid


def scratch_dir(kind: str, key: str | None = None) -> str:
    """``<tempdir>/dss_<kind>/<tag>``. With a ``key`` (an sf_dir) the tag
    is its md5 prefix, so the same key always gets the same directory
    (idempotent re-runs share landed files); without one it is a fresh
    uuid, for directories a query removes before it returns."""
    tag = hashlib.md5(key.encode()).hexdigest()[:8] if key is not None else uuid.uuid4().hex[:8]
    return os.path.join(tempfile.gettempdir(), f"dss_{kind}", tag)
