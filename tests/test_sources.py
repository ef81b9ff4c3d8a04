"""Source readers: file-based roundtrips for O1, O12+O23, O36, O37, O42."""

from __future__ import annotations

import textwrap

from pyspark.sql import functions as F

from data_pipeline_rsna_spark.sinks import json_sink
from data_pipeline_rsna_spark.sources import readers
import pytest


def test_labels_csv_reader(spark, tmp_path):
    p = tmp_path / "labels.csv"
    p.write_text(
        "patientId,x,y,width,height,Target\n"
        "p1,10.7,20.2,30.0,40.9,1\n"
        "p2,,,,,0\n"
    )
    df = readers.read_labels_csv(spark, str(p))
    rows = {r.patientId: r for r in df.collect()}
    assert rows["p1"].x == "10.7" and rows["p1"].Target == "1"
    assert rows["p2"].x is None


@pytest.mark.slow
def test_json_sink_scan_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("p1", [[1, 2, 3, 4], [5, 6, 7, 8]]), ("p2", [])],
        readers.BOX_ANNOTATIONS_SCHEMA,
    )
    out = str(tmp_path / "boxes")
    json_sink.write_json(df, out, num_files=1)
    back = readers.read_box_annotations_json(spark, out)
    got = {r.patient_id: r.boxes for r in back.collect()}
    assert got == {"p1": [[1, 2, 3, 4], [5, 6, 7, 8]], "p2": []}


def test_examples_list_reader(spark, tmp_path):
    p = tmp_path / "examples.txt"
    p.write_text("img001 extra tokens here\nimg002\n   \nimg003 1\n")
    ids = [r.example_id for r in readers.read_examples_list(spark, str(p)).collect()]
    assert sorted(ids) == ["img001", "img002", "img003"]


VOC_XML = textwrap.dedent(
    """\
    <annotation>
      <filename>img1.png</filename>
      <size><width>1024</width><height>768</height><depth>1</depth></size>
      <object>
        <name>pneumonia</name>
        <bndbox><xmin>10</xmin><ymin>20</ymin><xmax>110</xmax><ymax>220</ymax></bndbox>
      </object>
      <object>
        <name>pneumonia</name>
        <bndbox><xmin>5</xmin><ymin>6</ymin><xmax>7</xmax><ymax>8</ymax></bndbox>
      </object>
    </annotation>
    """
)


def test_recursive_xml_parse_repeated_objects():
    d = readers.recursive_parse_xml(VOC_XML)["annotation"]
    assert d["filename"] == "img1.png"
    assert len(d["object"]) == 2  # repeated tags -> list (dataset_util.py:74-78)
    assert d["size"]["width"] == "1024"  # single tags stay scalar


def test_parse_voc_annotations_df(spark):
    no_obj = "<annotation><filename>img2.png</filename><size><width>10</width><height>10</height></size></annotation>"
    df = spark.createDataFrame([(VOC_XML,), (no_obj,)], "xml string")
    got = {r.filename: r for r in readers.parse_voc_annotations(df).collect()}
    assert got["img1.png"].width == 1024
    assert [o.xmin for o in got["img1.png"].objects] == [10, 5]
    assert got["img2.png"].objects == []


LABEL_MAP_TEXT = """
item {
  name: "/m/01g317"
  id: 1
  display_name: "pneumonia"
}
item {
  id: 2
  name: "background-ish"
}
"""


def test_label_map_reader(spark, tmp_path):
    p = tmp_path / "label_map.pbtxt"
    p.write_text(LABEL_MAP_TEXT)
    df = readers.read_label_map(spark, str(p))
    rows = {r.id: r for r in df.collect()}
    assert rows[1].display_name == "pneumonia" and rows[1].pos == 0
    assert rows[2].name == "background-ish" and rows[2].display_name is None


def _pb_varint(v: int) -> bytes:
    out = b""
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out += bytes([b | 0x80])
        else:
            return out + bytes([b])


def _pb_str(field: int, s: str) -> bytes:
    b = s.encode()
    return _pb_varint(field << 3 | 2) + _pb_varint(len(b)) + b


def _pb_int(field: int, v: int) -> bytes:
    return _pb_varint(field << 3 | 0) + _pb_varint(v)


def test_label_map_binary_proto_fallback(spark, tmp_path):
    """O42 fallback order (ref label_map_util.py:123-126): a BINARY
    StringIntLabelMap file — text parse yields nothing, the wire-format
    parser must produce the same rows the text reader would. Includes an
    unknown field (4, varint) that must be skipped, not choke."""
    item1 = _pb_str(1, "/m/01g317") + _pb_int(2, 1) + _pb_str(3, "pneumonia")
    item2 = _pb_str(1, "background-ish") + _pb_int(2, 2) + _pb_int(4, 99)
    msg = b"".join(
        _pb_varint(1 << 3 | 2) + _pb_varint(len(it)) + it
        for it in (item1, item2)
    )
    p = tmp_path / "label_map.pb"
    p.write_bytes(msg)
    df = readers.read_label_map(spark, str(p))
    rows = {r.id: r for r in df.collect()}
    assert rows[1].name == "/m/01g317"
    assert rows[1].display_name == "pneumonia" and rows[1].pos == 0
    assert rows[2].name == "background-ish" and rows[2].display_name is None


def test_orc_sink_source_roundtrip(spark, sf_dir, tmp_path):
    """ORC is the second columnar format the engine reads/writes (same
    DataFrameReader/Writer surface as parquet). Roundtrip must preserve
    schema, row count, and exact aggregate values."""
    from pyspark.sql import functions as F

    from data_pipeline_rsna_spark import tables

    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "li_orc")
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == li.schema
    key = lambda df: sorted(  # noqa: E731
        (r.l_returnflag, r.n, r.q)
        for r in df.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("q"),
        )
        .collect()
    )
    assert key(back) == key(li)


@pytest.mark.slow
def test_multiformat_typed_roundtrip(spark, sf_dir, tmp_path):
    """write_table -> read_table must be value-identical for every
    format, including sub-second timestamps, NULLs vs empty strings,
    quotes/commas in strings, and negative doubles."""
    from pyspark.sql import types as T
    from data_pipeline_rsna_spark.sources import formats

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    import datetime

    rows = [
        (1, 'comma, "quote"', -0.25, datetime.datetime(2026, 1, 2, 3, 4, 5, 123456)),
        (2, "", 490.02, datetime.datetime(2026, 1, 2, 3, 4, 5)),
        (3, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    want = sorted(map(tuple, df.collect()))
    for fmt in formats.FORMATS:
        path = str(tmp_path / fmt)
        formats.write_table(df, path, fmt)
        got = formats.read_table(spark, path, fmt, schema)
        assert got.schema == schema, fmt
        assert sorted(map(tuple, got.collect())) == want, fmt


def test_multiformat_partitioned_write_prunes(spark, tmp_path):
    from pyspark.sql import types as T
    from data_pipeline_rsna_spark.sources import formats

    df = spark.range(100).selectExpr("id", "id % 4 AS part")
    path = str(tmp_path / "orc_part")
    formats.write_table(df, path, "orc", partition_by=["part"])
    got = formats.read_table(spark, path, "orc").filter("part = 2")
    assert got.count() == 25
    # partition pruning: the filtered scan must touch only part=2 files
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "part=2" in plan or "PartitionFilters" in plan


@pytest.mark.slow
def test_python_datasource_partitioned_and_deterministic(spark):
    from pyspark.sql import functions as F

    from data_pipeline_rsna_spark.sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 1000)
        .option("partitions", 5)
        .load()
    )
    assert df.count() == 1000
    # work actually splits across the declared input partitions
    n_parts = (
        df.select(F.spark_partition_id().alias("p")).distinct().count()
    )
    assert n_parts == 5
    # closed form holds row-for-row
    bad = df.filter(
        (F.col("user_id") != (F.col("event_id") * F.col("event_id")) % 97)
        | (F.col("cents") != (F.col("event_id") * 37) % 10000 + 1)
    ).count()
    assert bad == 0
    # two reads agree (pure function of options)
    again = (
        spark.read.format("synthetic_events")
        .option("rows", 1000)
        .option("partitions", 3)
        .load()
    )
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in again.collect())
    assert a == b


def test_cli_list_run_and_oracle(spark, sf_dir, tmp_path, capsys):
    from data_pipeline_rsna_spark import cli

    assert cli.main(["list", "--tag", "drift"]) == 0
    listed = capsys.readouterr().out
    assert "drift_ks_two_sample" in listed

    assert cli.main(["oracle", "drift_ks_two_sample"]) == 0
    assert "ks_num" in capsys.readouterr().out

    out = str(tmp_path / "cli_out")
    assert cli.main(
        ["run", "drift_ks_two_sample", "--sf-dir", sf_dir, "--out", out]
    ) == 0
    capsys.readouterr()
    got = spark.read.parquet(out).collect()
    assert len(got) == 1 and got[0].ks_num >= 0

    assert cli.main(["run", "no_such_query"]) == 2
