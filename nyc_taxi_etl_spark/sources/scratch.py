"""Ephemeral per-run scratch directories, preferring tmpfs.

Catalog entries that demonstrate storage-backed operators (versioned
tables, materialized views, stream checkpoints) create small
throwaway table roots that live exactly as long as one invocation.
Those writes are pure fixed cost on a disk-backed ``/tmp``; placing
them on tmpfs (``/dev/shm``) when the host has one removes the disk
round-trip without changing a single byte of the computed result.

Production callers pass their own durable roots to the operators —
this helper only serves the catalog's self-contained demos and the
finite ``Trigger.AvailableNow`` drains.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from collections.abc import Iterator

__all__ = ["scratch_dir", "scratch_dirs"]


def scratch_dir(prefix: str) -> str:
    """mkdtemp on tmpfs when ``/dev/shm`` exists, else the default
    temp root. The caller removes it: nothing deletes a ``mkdtemp``
    directory at process exit."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


@contextlib.contextmanager
def scratch_dirs(*prefixes: str) -> Iterator[list[str]]:
    """One ``scratch_dir`` per prefix, all removed when the block exits.
    ``scratch_dir`` is looked up per call, so a caller that rebinds
    ``scratch.scratch_dir`` moves these directories too."""
    dirs = [scratch_dir(p) for p in prefixes]
    try:
        yield dirs
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
