"""JSON sinks (SURVEY.md O12).

The reference dumps ``{patient_id: …}`` Python dicts into single-object
JSON documents (``generate_images_from_dicom.py:89-99,563-576``). The
engine's canonical sink is line-delimited JSON via ``df.write.json`` —
distributed, splittable on re-read, overwrite-safe. The reference's
single-object document shape is not reproduced: it needs a driver-side
collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_json(df: DataFrame, path: str, num_files: int | None = None) -> None:
    """O12, scale path: overwrite line-delimited JSON. ``num_files``
    coalesces small outputs (annotation tables) into a readable count
    without a shuffle."""
    out = df.coalesce(num_files) if num_files else df
    out.write.mode("overwrite").json(path)
