"""Scalar function library (SURVEY.md §2.1 scalar inventory).

The reference's inline string/math calls, centralized as Column
functions so every pipeline shares one bit-exact definition. All JVM
built-ins — nothing here leaves whole-stage codegen.

| reference call | here | notes |
|---|---|---|
| ``replace('.dcm','')`` | ``strip_suffix`` | regexp, anchored at end |
| ``'{pid}-{op}-{i}-{stage}'.format`` | ``synth_variant_id`` | concat_ws |
| ``int(float(s))`` | ``int_of_float`` | truncation toward zero |
| ``hashlib.sha256(bytes)`` | ``content_key`` | ``sha2(col, 256)`` |
| ``round(x)`` (CPython) | ``py_round`` | banker's rounding = bround |
| ``random.uniform`` (unseeded!) | ``seeded_uniform`` | keyed, replayable |
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def strip_suffix(c: Column | str) -> Column:
    """Basename minus a trailing ``.dcm`` (generate_images_from_dicom.py:77).
    Anchored — only a trailing match is removed."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(col, r"\.dcm$", "")


def synth_variant_id(pid: Column, op: str, variant: Column,
                     stage: int) -> Column:
    """Synthetic augmentation id ``{pid}-{op}-{i}-{stage}``
    (generate_images_from_dicom.py:300 and every stage)."""
    return F.concat_ws(
        "-", pid.cast("string"), F.lit(op), variant.cast("string"),
        F.lit(str(stage)),
    )


def int_of_float(c: Column | str) -> Column:
    """CPython ``int(float(s))``: parse as double, truncate toward zero
    (generate_images_from_dicom.py:33). Spark's double→int cast
    truncates toward zero, matching; DuckDB's rounds, so oracles must
    spell ``trunc()``."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("double").cast("int")


def content_key(c: Column | str) -> Column:
    """sha256 hex digest of binary/string content — the reference's
    record key (images_to_tfrecord.py:96-101) and the exact-dedup
    primitive (X1)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sha2(col, 256)


def py_round(c: Column | str) -> Column:
    """CPython ``round``: banker's (half-even) rounding — Spark's
    ``bround``, NOT ``round`` (half-up). The reference leans on
    ``round`` in all box geometry (generate_images_from_dicom.py:72,
    179-250), so geometry parity requires this."""
    col = F.col(c) if isinstance(c, str) else c
    return F.bround(col, 0)


def seeded_uniform(*key_cols: Column | str, salt: str = "") -> Column:
    """Deterministic pseudo-uniform in [0, 1) keyed on columns + salt:
    ``xxhash64`` of the key, folded to 31 bits. Replaces the reference's
    unseeded ``random.uniform`` (:117-118 etc.) with replayable,
    per-row-stable randomness — same convention as the pandas-UDF
    kernels' ``seeded_rng`` (image_kernels.py)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    h = F.xxhash64(*cols, F.lit(salt))
    return F.pmod(h, F.lit(2_147_483_647)).cast("double") / 2_147_483_647.0


def _spread_bits16(c: Column) -> Column:
    """Spread a 16-bit value's bits into the even bit positions of a
    32-bit lane (the classic mask-shift 'Part1By1' sequence). All
    bitwise JVM built-ins — stays in whole-stage codegen."""
    c = c.bitwiseOR(F.shiftleft(c, 8)).bitwiseAND(F.lit(0x00FF00FF))
    c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(0x33333333))
    c = c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(0x55555555))
    return c


def zorder_key2(x: Column, y: Column) -> Column:
    """Morton / Z-order key of two 16-bit dimensions: interleaved bits,
    so keys close in z-order are close in BOTH dimensions. Sorting or
    range-partitioning files by this key gives multi-dimensional data
    skipping: a predicate on either dimension prunes contiguous key
    ranges (the mechanism behind Delta/Iceberg Z-ordering), where a
    lexicographic (x, y) layout prunes only on the leading column.
    Inputs must already be in [0, 65535] — scale/clamp first."""
    return _spread_bits16(x.cast("long")).bitwiseOR(
        F.shiftleft(_spread_bits16(y.cast("long")), 1)
    )
