"""Atomic small-file writes: manifests, positions, capture state, cards."""

from __future__ import annotations

import os
import tempfile


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` atomically: a reader or a crash sees
    the old file or the new one, never a torn one. The temp file has a
    unique name in the target's directory (the rename stays on one file
    system, and two writers of one path never share a temp file) and is
    removed when the write fails."""
    out_dir = os.path.dirname(path) or "."
    os.makedirs(out_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=out_dir, prefix=".", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
