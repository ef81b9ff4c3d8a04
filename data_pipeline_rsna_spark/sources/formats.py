"""Multi-format table IO: one declared schema, four wire formats.

The engine's tables live in parquet, but a pipeline at warehouse scale
constantly imports/exports ORC, CSV and JSON. The contract here is
TYPED ROUNDTRIP: `write_table` then `read_table` with the same schema
returns value-identical rows for every format — which requires knowing
each format's lossy spots and pinning them:

- parquet/ORC are self-describing columnar: schema rides the file,
  predicate pushdown + column pruning work, nothing to pin.
- CSV is stringly typed: reads MUST pass the explicit schema (never
  inferSchema — one Spark job to sniff types, then wrong on edge
  cases); timestamps pinned to microsecond ISO so sub-second survives;
  nulls vs empty strings disambiguated via nullValue sentinel.
- JSON (line-delimited): explicit schema again (inference samples), and
  the same timestamp pin.

Column-pruning note for the scale argument: parquet/ORC scans read only
`ReadSchema` columns; CSV/JSON always parse whole lines — another
reason they are import/export formats, not table formats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FORMATS = ("parquet", "orc", "json", "csv")

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
_NULL = "\\N"  # CSV null sentinel, distinguishes NULL from ""


def _text_options(fmt: str) -> dict[str, str]:
    if fmt == "csv":
        return {
            "header": "true",
            "timestampFormat": _TS_FMT,
            "nullValue": _NULL,
            "escape": '"',
        }
    if fmt == "json":
        return {"timestampFormat": _TS_FMT}
    return {}


def write_table(
    df: DataFrame,
    path: str,
    fmt: str,
    partition_by: list[str] | None = None,
) -> None:
    """Write a DataFrame in any supported format. `partition_by` gives
    Hive-style directory partitioning (partition pruning on read) for
    every format alike."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    writer = df.write.mode("overwrite").format(fmt)
    for k, v in _text_options(fmt).items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Read a table written by `write_table`. For CSV/JSON the schema is
    REQUIRED (stringly formats cannot self-describe); for parquet/ORC
    it is optional (pass it to assert-pin the expected schema)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    if fmt in ("csv", "json") and schema is None:
        raise ValueError(f"{fmt} read requires an explicit schema")
    reader = spark.read.format(fmt)
    for k, v in _text_options(fmt).items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
