"""The one scratch-dir idiom for work that round-trips through storage.

Queries that prove a storage contract (a format, a layout, a versioned
table, a replay) write to a scratch dir, read it back and return a
result; the dir must be gone when the query returns, whatever happened.
``scratch_dir`` is the only place that makes such a dir.
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager
from typing import Iterator


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """Yield a fresh, empty dir in the system temp dir and remove it on
    every exit path, normal return or exception.

    The dir is handed out as made, never deleted and re-made, so its
    name stays this process's own; a writer that needs a target that
    does not exist yet writes to a child of it.  Whatever leaves the
    block must not read the dir: materialize a returned DataFrame
    inside the block (``localCheckpoint(eager=True)``), or the caller
    gets a lazy scan of files that are already gone."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
