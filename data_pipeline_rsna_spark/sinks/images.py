"""PNG image-directory sink (O10, ref generate_images_from_dicom.py:80).

The reference pipeline's output stage writes one PNG per patient image
into train/val directories. Here each executor encodes and writes its
own partition's rows (no driver collect, no shuffle) and the sink
returns a manifest DataFrame (img_id, file, n_bytes) the caller can
count, join, or persist — the same accounting the reference prints.

``path`` must be a filesystem visible to the executors: a local dir in
local mode, a mounted/distributed FS on a cluster (for object stores a
real deployment would swap the ``open()`` for the store's client; the
encode stage is identical).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from . import atomic_write


def write_png_dir(images: DataFrame, path: str) -> DataFrame:
    """Encode every (pixels, dtype, height, width) row to ``{path}/
    {img_id}.png`` and return the written-file manifest. Lazy like every
    DataFrame op — materializing the manifest performs the writes.

    Each PNG goes through ``sinks.atomic_write``, so a speculative or
    killed task attempt never truncates a file another attempt already
    completed: readers see either no file or a whole one."""
    from ..operators.multimodal import encode_png

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(path, exist_ok=True)
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.pixels, dtype=np.dtype(r.dtype)).reshape(
                    r.height, r.width
                )
                png = encode_png(arr)
                fn = os.path.join(path, f"{r.img_id}.png")
                with atomic_write(fn) as f:
                    f.write(png)
                out.append((r.img_id, fn, len(png)))
            yield pd.DataFrame(out, columns=["img_id", "file", "n_bytes"])

    return images.mapInPandas(run, "img_id long, file string, n_bytes long")
