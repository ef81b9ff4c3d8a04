"""Sinks: sharded writers (O33) and the TFRecord container format (O35)."""

from __future__ import annotations

import contextlib
import os
import uuid


@contextlib.contextmanager
def atomic_write(path: str):
    """Open a unique hidden temporary file next to ``path`` for binary
    writing, ``os.replace`` it to ``path`` when the block exits cleanly
    and remove it when the block raises. A retried, speculative or
    killed task attempt therefore never truncates or interleaves with a
    file another attempt completed: readers see no file or a whole one.
    The temporary name (``.{name}.{hex}.tmp``) is hidden and matches no
    ``*.{ext}`` glob a reader lists the directory with."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "xb") as f:
            yield f
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise
