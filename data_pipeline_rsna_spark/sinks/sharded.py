"""Sharded sinks (SURVEY.md O33).

The reference writes records round-robin across N open writers
(``images_to_tfrecord.py:228-231,252``: shard = idx % num_shards, 256
train / 32 val). In Spark the same outcome is a repartition + per-
partition file write. ``roundrobin_shards`` keeps the faithful
semantics — a global row index modulo N, ranked by
``global_row_number`` (a ``prefix_scan`` count). The TFRecord sink
(``tfrecord.write_tfrecord_shards``) is the file-writing half: it hashes
each record to a shard instead, and with ``by`` writes several groups
(the reference's train and val splits) in one shuffle and one writer
action, the groups' shards laid end to end over the writer partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import global_row_number


def roundrobin_shards(df: DataFrame, order_col: str, num_shards: int) -> DataFrame:
    """Faithful O33: shard = (rank in global order) % num_shards.
    Rank comes from ``global_row_number`` — the range-partitioned
    ``prefix_scan`` count, no single-partition WindowExec."""
    ranked = global_row_number(df, order_col, "_rn")
    return ranked.withColumn(
        "shard", F.pmod(F.col("_rn") - 1, F.lit(num_shards)).cast("int")
    ).drop("_rn")
