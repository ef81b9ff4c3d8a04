"""Typed source readers (SURVEY.md O1, O23, O36, O37, O42).

Every reader takes an explicit schema — ``inferSchema`` is banned
(SURVEY.md §1.3: the reference's schemas are fixed-by-convention; the
engine makes them fixed-by-declaration). File-format notes:

- CSV labels: header skipped by the *reader* option, not positional
  slicing (reference ``generate_images_from_dicom.py:20-23``).
- JSON annotations: line-delimited JSON (the engine's sink format);
  the reference's single-object documents
  (``images_to_tfrecord.py:180-181``) are a driver-side load, gated to
  dimension-sized data.
- Examples list: text lines, first whitespace token is the id
  (``dataset_util.py:41-56``).
- XML annotations: recursive element→dict parse with repeated
  ``object`` tags becoming lists (``dataset_util.py:59-79``), expressed
  as a plain-Python parser inside ``mapInPandas`` so it scales with the
  number of XML documents, not the driver.
- Label map: text-format protobuf parsed driver-side (``label_map_util
  .py:113-128``) — the file is a dimension table measured in bytes; the
  parse is a tiny regex state machine, no protobuf dependency.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import LABELS_CSV
from ..sinks.tfrecord import _read_varint, _skip_field

# ---------------------------------------------------------------------------
# O1 — labels CSV
# ---------------------------------------------------------------------------


def read_labels_csv(spark: SparkSession, path: str) -> DataFrame:
    """O1: header-aware CSV scan with the explicit labels schema."""
    return spark.read.option("header", "true").schema(LABELS_CSV).csv(path)


# ---------------------------------------------------------------------------
# O23 — annotation JSON scan
# ---------------------------------------------------------------------------

BOX_ANNOTATIONS_SCHEMA = T.StructType(
    [
        T.StructField("patient_id", T.StringType()),
        T.StructField(
            "boxes", T.ArrayType(T.ArrayType(T.IntegerType()))
        ),
    ]
)

CAPTION_ANNOTATIONS_SCHEMA = T.StructType(
    [
        T.StructField("patient_id", T.StringType()),
        T.StructField("target", T.StringType()),
    ]
)


def read_box_annotations_json(spark: SparkSession, path: str) -> DataFrame:
    """O23: line-delimited box-annotation JSON with explicit schema."""
    return spark.read.schema(BOX_ANNOTATIONS_SCHEMA).json(path)


def read_caption_annotations_json(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(CAPTION_ANNOTATIONS_SCHEMA).json(path)


# ---------------------------------------------------------------------------
# O36 — examples-list text scan
# ---------------------------------------------------------------------------


def first_token(line: F.Column | str) -> F.Column:
    """First whitespace-delimited token of a stripped line
    (``dataset_util.py:56``: ``line.strip().split(' ')[0]``)."""
    c = F.col(line) if isinstance(line, str) else line
    return F.split(F.trim(c), r"\s+")[0]


def read_examples_list(spark: SparkSession, path: str) -> DataFrame:
    """O36: text lines → example ids. Returns one ``example_id`` column."""
    return (
        spark.read.text(path)
        .filter(F.trim("value") != "")
        .select(first_token("value").alias("example_id"))
    )


# ---------------------------------------------------------------------------
# O37 — XML → nested record parse
# ---------------------------------------------------------------------------


def recursive_parse_xml(xml_text: str) -> dict[str, Any]:
    """``dataset_util.py:59-79`` semantics: element → dict keyed by child
    tags; repeated ``object`` children accumulate into a list, every
    other tag is single-valued (last wins); leaves are text strings."""
    import xml.etree.ElementTree as ET

    def walk(node: ET.Element) -> Any:
        children = list(node)
        if not children:
            return node.text
        out: dict[str, Any] = {}
        for child in children:
            val = walk(child)
            if child.tag == "object":
                out.setdefault("object", []).append(val)
            else:
                out[child.tag] = val
        return out

    root = ET.fromstring(xml_text)
    return {root.tag: walk(root)}


VOC_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField(
            "objects",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("xmin", T.IntegerType()),
                        T.StructField("ymin", T.IntegerType()),
                        T.StructField("xmax", T.IntegerType()),
                        T.StructField("ymax", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def parse_voc_annotations(xml_docs: DataFrame) -> DataFrame:
    """O37 at scale: one XML document per row → typed VOC-shaped record.
    The recursive parser runs inside ``mapInPandas`` (Arrow-batched), so
    throughput scales with partitions; the driver never sees a document."""
    import pandas as pd

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for xml_text in pdf["xml"]:
                d = recursive_parse_xml(xml_text)["annotation"]
                size = d.get("size") or {}
                objs = [
                    {
                        "name": o.get("name"),
                        "xmin": int(o["bndbox"]["xmin"]),
                        "ymin": int(o["bndbox"]["ymin"]),
                        "xmax": int(o["bndbox"]["xmax"]),
                        "ymax": int(o["bndbox"]["ymax"]),
                    }
                    for o in d.get("object", [])
                ]
                rows.append(
                    {
                        "filename": d.get("filename"),
                        "width": int(size.get("width", 0)),
                        "height": int(size.get("height", 0)),
                        "objects": objs,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["filename", "width", "height", "objects"]
            )

    return xml_docs.mapInPandas(parse_batch, VOC_SCHEMA)


# ---------------------------------------------------------------------------
# O42 — label-map text-proto scan
# ---------------------------------------------------------------------------

LABEL_MAP_SCHEMA = "name string, id int, display_name string, pos int"

_ITEM_RE = re.compile(r"item\s*\{(.*?)\}", re.DOTALL)
_FIELD_RE = re.compile(r'(name|display_name|id)\s*:\s*(?:"([^"]*)"|(\d+))')


def parse_label_map_text(text: str) -> list[dict[str, Any]]:
    """O42: parse the text-format ``StringIntLabelMap`` proto (the public
    TF Object Detection API format: repeated ``item { name id
    display_name }`` blocks) without a protobuf dependency. Returns
    items in file order with their position (the keep-first dedup of O41
    needs a stable input order)."""
    items = []
    for pos, m in enumerate(_ITEM_RE.finditer(text)):
        item: dict[str, Any] = {"name": None, "id": None,
                                "display_name": None, "pos": pos}
        for fm in _FIELD_RE.finditer(m.group(1)):
            key, sval, ival = fm.groups()
            item[key] = int(ival) if ival is not None else sval
        items.append(item)
    return items


def parse_label_map_binary(data: bytes) -> list[dict[str, Any]]:
    """O42 binary fallback (ref label_map_util.py:123-126: text parse,
    then ``ParseFromString`` on failure): a from-scratch wire-format
    parser for the public ``StringIntLabelMap`` message — repeated
    ``item`` (field 1) of {name=1:string, id=2:int32,
    display_name=3:string} — keeping the engine's no-protobuf stance.
    Unknown fields are skipped by wire type, as protobuf requires."""
    items = []
    pos, n = 0, len(data)
    while pos < n:
        key, pos = _read_varint(data, pos)
        field, wt = key >> 3, key & 7
        if field == 1 and wt == 2:  # repeated item
            ln, pos = _read_varint(data, pos)
            body, end = data[pos:pos + ln], pos + ln
            item: dict[str, Any] = {"name": None, "id": None,
                                    "display_name": None, "pos": len(items)}
            ipos = 0
            while ipos < len(body):
                ikey, ipos = _read_varint(body, ipos)
                ifield, iwt = ikey >> 3, ikey & 7
                if ifield == 1 and iwt == 2:
                    iln, ipos = _read_varint(body, ipos)
                    item["name"] = body[ipos:ipos + iln].decode("utf-8")
                    ipos += iln
                elif ifield == 2 and iwt == 0:
                    item["id"], ipos = _read_varint(body, ipos)
                elif ifield == 3 and iwt == 2:
                    iln, ipos = _read_varint(body, ipos)
                    item["display_name"] = body[ipos:ipos + iln].decode("utf-8")
                    ipos += iln
                else:
                    ipos = _skip_field(body, ipos, iwt)
            items.append(item)
            pos = end
        else:
            pos = _skip_field(data, pos, wt)
    return items


def read_label_map(spark: SparkSession, path: str) -> DataFrame:
    """O42: label map file → dimension DataFrame, text format first with
    binary-proto fallback (the reference's exact order, label_map_util
    .py:113-128). Driver-side parse is correct here — the label map is a
    dimension table of a few dozen entries, broadcast everywhere it
    joins."""
    with open(path, "rb") as fh:
        raw = fh.read()
    items: list[dict[str, Any]] = []
    try:
        items = parse_label_map_text(raw.decode("utf-8"))
    except Exception:
        # the reference's exact order: ANY text-parse failure (not just a
        # decode error — binary bytes can be valid UTF-8 yet make the
        # text grammar raise) falls through to the binary parser
        items = []
    if not items:
        items = parse_label_map_binary(raw)
    return spark.createDataFrame(
        [
            (i["name"], i["id"], i["display_name"], i["pos"])
            for i in items
        ],
        LABEL_MAP_SCHEMA,
    )


# ---------------------------------------------------------------------------
# O44 — composed label-map loaders (without the reference's TypeError)
# ---------------------------------------------------------------------------


def create_categories_from_labelmap(
    spark: SparkSession, path: str, use_display_name: bool = True
) -> DataFrame:
    """O44 = O42 ∘ O40 ∘ O41 (label_map_util.py:177-194): load the label
    map, take max id as the class count, convert to categories."""
    from ..operators.relational import categories_from_label_map

    lm = read_label_map(spark, path)
    max_id = lm.agg(F.max("id")).collect()[0][0] or 0  # O40, dimension-sized
    return categories_from_label_map(lm, max_id, use_display_name)


def create_category_index_from_labelmap(
    spark: SparkSession, path: str, use_display_name: bool = True
) -> dict[int, dict]:
    """O44 second composition (label_map_util.py:197-210). The reference
    calls a zero-arg function with one argument and would TypeError
    (SURVEY.md §2.2(8)); this is the evidently-intended behavior:
    categories keyed by id, driver-side (dimension table)."""
    cats = create_categories_from_labelmap(spark, path, use_display_name)
    return {
        r.id: {"id": r.id, "name": r.category_name} for r in cats.collect()
    }

