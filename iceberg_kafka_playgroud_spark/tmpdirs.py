"""Temp dirs that outlive the call that made them, but not the process."""

from __future__ import annotations

import atexit
import shutil
import tempfile


def tmpdir_reclaimed_at_exit(prefix: str) -> str:
    """mkdtemp whose contents are reclaimed at interpreter exit —
    result sinks, staged fixtures and demo tables can't be deleted
    before the caller's lazy read executes, but they must not
    accumulate across a best-of-N bench session either."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
