"""Query registry: the driver-checkable surface of the engine.

Every implemented operator from SURVEY.md §2 gets one ``QuerySpec`` here:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (for the [Q]
operators) the equivalent ANSI SQL the DuckDB oracle runs on the same
parquet. ``__spark_entry__.py`` re-exports this registry.

Cross-engine determinism rules (every query obeys these):
- Output columns are ints, strings, or **explicitly rounded** doubles —
  raw float aggregates differ between engines in the last ulp.
- No raw timestamps in output — epoch seconds / formatted strings.
- Collected lists are canonicalized: sorted, then joined to a string
  (Spark ``sort_array``+``array_join`` == DuckDB ``string_agg(... ORDER
  BY ...)``) so order-insensitive hashing sees identical scalars.
- ``int(float(s))`` truncation (reference semantics) = Spark
  ``cast double->int``; DuckDB casts *round*, so oracles use ``trunc()``.
- Spark ``pmod`` == DuckDB ``%`` only for non-negative operands; key
  synthesis keeps operands non-negative.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .lineage import lineage_cut

from . import tables
from .operators import labels as labels_ops
from .operators import relational as rel


@dataclass
class QuerySpec:
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible, rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    # Largest SF at which the ORACLE (not the engine) is feasible.
    # Some oracles are deliberately brute-force so the hash match
    # proves the engine's pruning is complete (e.g. the O(n^2) spatial
    # argmin); beyond this SF the local gate runs the Spark side
    # rows-only and records the cap. None = oracle scales fine.
    oracle_scale_cap: float | None = None


REGISTRY: dict[str, QuerySpec] = {}

# Queries whose spark_fn EXECUTES work at construction time (streaming
# replays, sink-writing pipelines): static plan capture would re-run
# them, so plan audits list and skip these — their behavior is covered
# by tests, not by plan shape. Shared by tools/plan_audit.py and
# tests/test_plans.py (round 11: single source of truth).
EXECUTING_QUERIES = frozenset({
    "events_hourly_streaming",
    "events_session_finalizer_streaming",
    "events_session_streaming",
    "events_stateful_running_totals",
    "events_attribution_streaming",
    "json_sink_roundtrip",
    "rsna_pipeline_counts",
    "events_dedup_streaming",
    "events_attribution_outer_streaming",
    "events_attribution_full_outer_streaming",
    "events_fingerprint_streaming",
    "events_stream_static_enrich",
    "text_quality_gate_streaming",
    "events_srm_streaming",
    "events_slo_burn_streaming",
    "orc_sink_roundtrip",
    "tfrecord_scan_roundtrip",
})

# the set above is easy to let drift as queries are added; pin it
# against a source grep in tests/test_plans.py::test_executing_set_complete


def _scratch_dir(prefix: str) -> str:
    """mkdtemp whose removal is deferred to interpreter exit.

    The sink-roundtrip queries return LAZY plans over files they just
    wrote, so the files must outlive the function (the driver collects
    later) — but without cleanup every gate/bench invocation leaks a
    directory into /tmp. atexit keeps the files alive for the whole
    process (any number of re-executions of the returned plan) and
    reclaims them when the process ends.
    """
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    oracle_scale_cap: float | None = None,
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        REGISTRY[name] = QuerySpec(fn, oracle, doc, tags, oracle_scale_cap)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Shared synthesis: a labels-shaped table derived from lineitem.
#
# The driver testdata has no labels CSV, so the labels pipeline runs over a
# deterministic projection of lineitem with the same shape: patient_id (one
# per order), string-numeral box coords, a '0'/'1' target. All arithmetic is
# IEEE-double and integer-modulo, bit-identical across engines.
# ---------------------------------------------------------------------------

_LABELS_FROM_LINEITEM_SQL = """
    SELECT CAST(l_orderkey AS VARCHAR) AS patient_id,
           CAST(trunc(CAST((l_partkey * 7) % 800 AS DOUBLE) + 0.5) AS INTEGER) AS x,
           CAST(trunc(CAST((l_suppkey * 13) % 800 AS DOUBLE) + 0.25) AS INTEGER) AS y,
           CAST(trunc(l_quantity * 3.7) AS INTEGER) AS width,
           CAST(trunc(l_extendedprice / 300.0) AS INTEGER) AS height,
           CASE WHEN l_discount >= 0.05 THEN '1' ELSE '0' END AS target
    FROM lineitem
"""


def _lineitem_as_raw_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → the raw (all-string) labels CSV shape of FIXTURES.md F1,
    so the real O2 typed-projection code path runs on driver data.

    Hash-repartitioned on the future patient key BEFORE the stringify
    projection: every consumer groups/windows on patient_id, and Catalyst
    tracks ``cast(l_orderkey as string)`` through the aliases, so the one
    shuffle here satisfies every downstream clustering (single Exchange in
    the whole plan). It also moves compact raw numerics over the wire and
    runs the CPU-heavy cast chain post-shuffle on all cores — 3× faster
    than projecting inside a narrow (single-row-group) scan task. Filters
    on patientId still push through the RepartitionByExpression.

    Width scales with the DATA, not just the machine (round 10), and
    never uses spark.sql.shuffle.partitions (that knob is sized for
    post-agg row counts, small at low SF, while this stage is CPU-bound
    on the full pre-agg fact table). Measured on a 32-core box:

    - sf0.1 (600 k rows): 16-way 0.82 s vs 32-way 1.86 s — at small
      data the cast chain saturates memory bandwidth and extra tasks
      only add scheduling + collect_list buffer pressure (round 8);
    - sf10 (60 M rows): 16-way 24.1 s vs 32-way 13.9 s vs 64-way
      17.4 s — at real data volume the stage is CPU-bound and half
      the cores idle half the work (round 10).

    So: half the cores as the floor, one extra task per ~32 MB of
    source beyond that, capped at cluster parallelism. The size comes
    from the optimizer's relation statistics (driver-side, no job).
    The later groupBy(patient_id) still plans no second exchange: hash
    clustering on the same key satisfies the agg's required
    distribution at any partition count."""
    li = tables.load(spark, sf_dir, "lineitem")
    cores = spark.sparkContext.defaultParallelism
    size = int(
        li._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    n_parts = max(8, min(cores, max(cores // 2, size // (32 << 20))))
    li = li.repartition(n_parts, F.col("l_orderkey").cast("string"))
    # expr strings: same plan, fewer py4j round trips per construction
    return li.selectExpr(
        "cast(l_orderkey AS string) AS patientId",
        "cast(cast(pmod(l_partkey * 7, 800) AS double) + 0.5D AS string) AS x",
        "cast(cast(pmod(l_suppkey * 13, 800) AS double) + 0.25D AS string) AS y",
        "cast(l_quantity * 3.7D AS string) AS width",
        "cast(l_extendedprice / 300.0D AS string) AS height",
        "CASE WHEN l_discount >= 0.05D THEN '1' ELSE '0' END AS Target",
    )


def _box_sig(boxes_col: str = "boxes") -> F.Column:
    """array<array<int>> → canonical 'x,y,w,h;x,y,w,h' string (sorted).
    One expr string: the nested-lambda F.transform form costs ~8 py4j
    round trips per construction for the identical analyzed plan."""
    return F.expr(
        f"array_join(transform(`{boxes_col}`, b -> "
        "array_join(transform(b, v -> cast(v AS string)), ',')), ';')"
    )


# ---------------------------------------------------------------------------
# Flagship: O1+O2+O3+O4+O5 — the reference's create_maps as one lazy DAG.
# ---------------------------------------------------------------------------


@register(
    "labels_ingest",
    oracle=f"""
    WITH labels AS ({_LABELS_FROM_LINEITEM_SQL}),
    boxes AS (
        SELECT patient_id,
               count(*) AS n_boxes,
               string_agg(
                   x || ',' || y || ',' || width || ',' || height, ';'
                   ORDER BY x, y, width, height
               ) AS box_sig
        FROM labels
        WHERE CAST(target AS INTEGER) <> 0
        GROUP BY patient_id
    ),
    captions AS (
        SELECT patient_id, max(target) AS target FROM labels GROUP BY patient_id
    )
    SELECT c.patient_id AS patient_id,
           c.target AS target,
           COALESCE(b.n_boxes, 0) AS n_boxes,
           COALESCE(b.box_sig, '') AS box_sig
    FROM captions c LEFT JOIN boxes b USING (patient_id)
    """,
    doc="O1-O5 create_maps (generate_images_from_dicom.py:15-41): typed "
    "projection + int(float()) casts + positives filter + per-patient "
    "box collect + per-patient target, as one lazy DataFrame DAG.",
    tags=("core", "flagship"),
)
def q_labels_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _lineitem_as_raw_labels(spark, sf_dir)
    labels = labels_ops.typed_labels(raw)
    ann = labels_ops.patient_annotations(labels)
    return ann.select(
        "patient_id",
        "target",
        "n_boxes",
        _box_sig().alias("box_sig"),
    )


# ---------------------------------------------------------------------------
# Relational kernel — SURVEY.md §2.1 [Q] operators over the star schema.
# ---------------------------------------------------------------------------


@register(
    "deterministic_split",
    oracle="""
    WITH numbered AS (
        SELECT o_orderkey,
               row_number() OVER (ORDER BY o_orderkey) AS rn,
               count(*) OVER () AS n
        FROM orders
    )
    SELECT CASE WHEN rn <= round(n * 0.8) THEN 'train' ELSE 'val' END AS split,
           count(*) AS n_rows,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key
    FROM numbered
    GROUP BY 1
    """,
    doc="O9 split_images (generate_images_from_dicom.py:54-104): "
    "deterministic 80/20 split by global order, intended semantics "
    "(off-by-one of :78 behind a flag).",
    tags=("core",),
)
def q_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders").select("o_orderkey")
    split = rel.deterministic_split(orders, "o_orderkey", 0.8)
    return split.groupBy("split").agg(
        F.count("*").alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "semi_join_annotations",
    oracle="""
    SELECT s.s_nationkey AS nation_key, count(*) AS n_suppliers
    FROM supplier s
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_suppkey = s.s_suppkey
          AND l.l_quantity > 45
    )
    GROUP BY s.s_nationkey
    """,
    doc="O11 val-side annotation semi-join (generate_images_from_dicom.py:84-85): "
    "left_semi keeps suppliers having a qualifying fact row, without "
    "duplicating them (a join would).",
    tags=("core",),
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = tables.load(spark, sf_dir, "supplier")
    li = tables.load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        sup.join(li, sup.s_suppkey == li.l_suppkey, "left_semi")
        .groupBy(F.col("s_nationkey").alias("nation_key"))
        .agg(F.count("*").alias("n_suppliers"))
    )


@register(
    "anti_join_gaps",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000
    )
    GROUP BY c.c_mktsegment
    """,
    doc="O43 gap-detection primitive: left_anti join (customers with no "
    "orders), the distributed form of label_map_util.py:168-172's "
    "missing-id scan.",
    tags=("core",),
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 150000
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "suffix_dispatch",
    oracle="""
    SELECT CASE
             WHEN CAST(o_orderkey AS VARCHAR) LIKE '%1' THEN 'shift_image'
             WHEN CAST(o_orderkey AS VARCHAR) LIKE '%2' THEN 'shift_bbox'
             WHEN CAST(o_orderkey AS VARCHAR) LIKE '%3' THEN 'scale_bbox'
             WHEN CAST(o_orderkey AS VARCHAR) LIKE '%4' THEN 'scale_image'
             WHEN CAST(o_orderkey AS VARCHAR) LIKE '%5' THEN 'scale_shift_bbox'
             WHEN CAST(o_orderkey AS VARCHAR) LIKE '%6' THEN 'shift_image_shift_bbox'
             ELSE 'scale_image_scale_shift_bbox'
           END AS stage_dir,
           count(*) AS n
    FROM orders
    GROUP BY 1
    """,
    doc="O24 suffix dispatch (images_to_tfrecord.py:186-200): endswith "
    "CASE chain mapping id suffix to augmentation-stage directory.",
    tags=("core",),
)
def q_suffix_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    return (
        orders.select(
            rel.dispatch_on_suffix(F.col("o_orderkey").cast("string")).alias(
                "stage_dir"
            )
        )
        .groupBy("stage_dir")
        .agg(F.count("*").alias("n"))
    )


@register(
    "three_way_lookup_join",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
    doc="O26 per-record 3-way lookup join (images_to_tfrecord.py:242-247) "
    "generalized: fact x fact x dim x broadcast dim. Catalyst/AQE picks "
    "broadcast for nation; the orders/customer joins shuffle on their "
    "keys. Revenue is summed in exact integer 1e-4-dollar units per row "
    "(price and discount are exact 2-decimal values) and converted to "
    "dollars by ONE identical double division — round(sum(double), 2) "
    "diverged between engines at sf1 when the accumulated float error "
    "crossed a half-cent boundary (round-7 fix from the sf1 gate).",
    tags=("core", "headline"),
)
def q_three_way_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    # no join hint here: AQE's runtime SMJ->SHJ conversion
    # (maxShuffledHashJoinLocalMapThreshold, session.py) picks the
    # hash join when the build side's post-shuffle partitions are
    # small enough — measured 9.9 -> 8.5 s at sf10 — while keeping
    # auto-broadcast at small SF (a forced shuffle_hash hint overrode
    # the broadcast and pessimized the graded scale; the
    # pre-aggregation rewrite was also measured and LOST: partial-agg
    # over 15M orderkey groups costs more than the shuffle rows saved)
    orders = tables.load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    cust = tables.load(spark, sf_dir, "customer")
    nation = tables.load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
                " * (100 - CAST(round(l_discount * 100) AS BIGINT)))"
                " AS DOUBLE) / 10000.0"
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "three_way_lookup_join_bucketed",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
    doc="The 100 TB deployment form of three_way_lookup_join (VERDICT r9 "
    "#3): lineitem+orders land bucketed+sorted by orderkey at layout "
    "time (sinks/bucketed.py), so the dominant join is EXCHANGE-FREE - "
    "the planner zips pre-clustered, pre-sorted bucket-file pairs with "
    "no shuffle and no sort on either side (plan pinned in "
    "test_bucketing: zero orderkey hashpartitioning). The one-time "
    "layout shuffle is paid ONCE PER DISK LAYOUT (round 11: fresh "
    "sessions re-register the existing files instead of re-writing; "
    "concurrent writers resolve by atomic rename) "
    "and amortized across every subsequent orderkey join; measured at "
    "sf10: 5.76 s shuffled vs 2.31 s bucketed after a 17.5 s layout "
    "write (BASELINE.md round-10). Same oracle as the shuffled form: "
    "layout must never change the answer.",
    tags=("relational", "scale"),
)
def q_three_way_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from .sinks.bucketed import ensure_bucketed_layout

    sfx = hashlib.md5(
        os.path.realpath(sf_dir).encode()
    ).hexdigest()[:8]
    li_t, o_t = f"li_bkt_{sfx}", f"orders_bkt_{sfx}"
    n_buckets = 16
    # external-table path INSIDE the repo (gitignored .tmp/): the
    # managed-table default is ./spark-warehouse relative to the
    # DRIVER's cwd, which an embedding harness may run anywhere.
    # ensure_bucketed_layout makes the write once-per-DISK, not
    # once-per-session: a fresh session re-registers the existing
    # layout instead of re-paying the 17.5 s (sf10) shuffle-write, two
    # concurrent applications resolve by atomic rename, and the layout
    # root is growth-capped (VERDICT r10 #4, ADVICE r10).
    layout_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp", "bucketed",
    )
    for table, src, src_cols, key in (
        (li_t, "lineitem",
         ("l_orderkey", "l_extendedprice", "l_discount"), "l_orderkey"),
        (o_t, "orders",
         ("o_orderkey", "o_custkey", "o_orderstatus"), "o_orderkey"),
    ):
        ensure_bucketed_layout(
            spark, table, key, n_buckets,
            path=os.path.join(layout_root, table),
            df_fn=lambda src=src, src_cols=src_cols: tables.load(
                spark, sf_dir, src).select(*src_cols),
        )
    li = spark.table(li_t)
    orders = spark.table(o_t).filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_custkey")
    cust = tables.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = tables.load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
                " * (100 - CAST(round(l_discount * 100) AS BIGINT)))"
                " AS DOUBLE) / 10000.0"
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_BOXES_FROM_LINEITEM_SQL = f"""
    SELECT patient_id, x, y, width, height,
           row_number() OVER (PARTITION BY patient_id ORDER BY x, y, width, height) AS box_id
    FROM ({_LABELS_FROM_LINEITEM_SQL})
    WHERE CAST(target AS INTEGER) <> 0
"""


def _boxes_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive boxes (one row per box) with a stable per-patient box_id."""
    from pyspark.sql import Window

    labels = labels_ops.typed_labels(_lineitem_as_raw_labels(spark, sf_dir))
    w = Window.partitionBy("patient_id").orderBy("x", "y", "width", "height")
    return labels_ops.positive_boxes(labels).withColumn(
        "box_id", F.row_number().over(w)
    )


@register(
    "validity_filter",
    oracle=f"""
    SELECT count(*) FILTER (WHERE width > 0 AND height > 0
                              AND x + width <= 900 AND y + height <= 900) AS n_kept,
           count(*) FILTER (WHERE NOT (width > 0 AND height > 0
                              AND x + width <= 900 AND y + height <= 900)) AS n_skipped
    FROM ({_BOXES_FROM_LINEITEM_SQL})
    """,
    doc="O28 validity filter with skip accounting (images_to_tfrecord.py:"
    "113-120,260-261): degenerate/out-of-bounds boxes dropped and counted.",
    tags=("core",),
)
def q_validity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    boxes = _boxes_from_lineitem(spark, sf_dir)
    valid = rel.box_valid(900, 900)
    return boxes.agg(
        F.sum(valid.cast("long")).alias("n_kept"),
        F.sum((~valid).cast("long")).alias("n_skipped"),
    )


@register(
    "normalize_coords",
    oracle=f"""
    SELECT patient_id, box_id,
           round(x / 900.0, 9) AS xmin,
           round((x + width) / 900.0, 9) AS xmax,
           round(y / 900.0, 9) AS ymin,
           round((y + height) / 900.0, 9) AS ymax
    FROM ({_BOXES_FROM_LINEITEM_SQL})
    WHERE width > 0 AND height > 0 AND x + width <= 900 AND y + height <= 900
    """,
    doc="O29 coordinate normalization (images_to_tfrecord.py:121-124): "
    "absolute px -> [0,1] floats, applied after the O28 validity filter.",
    tags=("core",),
)
def q_normalize_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    boxes = _boxes_from_lineitem(spark, sf_dir).filter(rel.box_valid(900, 900))
    return rel.normalize_boxes(boxes, 900, 900).select(
        "patient_id", "box_id", "xmin", "xmax", "ymin", "ymax"
    )


@register(
    "dim_lookup_broadcast",
    oracle="""
    SELECT r.r_name AS region, count(*) AS n_customers,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="O30 dimension lookup (images_to_tfrecord.py:126-128) as broadcast "
    "joins: both dims ship to every task; the fact table never shuffles "
    "for the join (only for the final small agg).",
    tags=("core",),
)
def q_dim_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tables.load(spark, sf_dir, "customer")
    nation = tables.load(spark, sf_dir, "nation")
    region = tables.load(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_customers"),
            F.expr(
                "CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))"
                " AS DOUBLE) / 100.0"
            ).alias("total_acctbal"),
        )
    )


@register(
    "label_map_checks",
    oracle="""
    WITH label_map AS (
        SELECT n_nationkey AS id, n_name AS name FROM nation
    )
    SELECT count(*) FILTER (WHERE id < 0 OR (id = 0 AND name <> 'background')) AS n_violations,
           max(id) AS max_id,
           count(*) AS n_entries
    FROM label_map
    """,
    doc="O38+O40 label-map validation & max-id aggregation "
    "(label_map_util.py:24-36,54-61) as one validation query.",
    tags=("core",),
)
def q_label_map_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    lm = tables.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("id"), F.col("n_name").alias("name")
    )
    violation = (F.col("id") < 0) | (
        (F.col("id") == 0) & (F.col("name") != "background")
    )
    return lm.agg(
        F.sum(violation.cast("long")).alias("n_violations"),
        F.max("id").alias("max_id"),
        F.count("*").alias("n_entries"),
    )


@register(
    "categories_range_dedup",
    oracle="""
    WITH label_map AS (
        SELECT p_size AS id, p_name AS name,
               CASE WHEN p_partkey % 3 = 0 THEN NULL ELSE p_brand END AS display_name,
               p_partkey AS pos
        FROM part
    ),
    ranked AS (
        SELECT id,
               COALESCE(NULLIF(display_name, ''), name) AS category_name,
               row_number() OVER (PARTITION BY id ORDER BY pos) AS rn
        FROM label_map
        WHERE id > 0 AND id <= 30
    )
    SELECT id, category_name FROM ranked WHERE rn = 1
    """,
    doc="O41 convert_label_map_to_categories (label_map_util.py:64-110): "
    "range filter + display-name coalesce + keep-first-per-id dedup.",
    tags=("core",),
)
def q_categories_range_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = tables.load(spark, sf_dir, "part")
    lm = part.select(
        F.col("p_size").alias("id"),
        F.col("p_name").alias("name"),
        F.when(F.col("p_partkey") % 3 == 0, None)
        .otherwise(F.col("p_brand"))
        .alias("display_name"),
        F.col("p_partkey").alias("pos"),
    )
    return rel.categories_from_label_map(lm, max_num_classes=30)


@register(
    "gap_fill_dense_domain",
    oracle="""
    WITH existing AS (
        SELECT n_nationkey AS id, n_name AS name
        FROM nation WHERE n_nationkey % 4 <> 0
    )
    SELECT id, name FROM existing
    UNION ALL
    SELECT g.id, 'class_' || g.id AS name
    FROM (SELECT CAST(unnest(generate_series(0, 24)) AS INTEGER) AS id) g
    WHERE g.id NOT IN (SELECT id FROM existing)
    """,
    doc="O43 dense-domain gap fill (label_map_util.py:157-172): synthesize "
    "class_<id> rows for missing ids via generated-range anti-join.",
    tags=("core",),
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = tables.load(spark, sf_dir, "nation")
    existing = nation.filter(F.col("n_nationkey") % 4 != 0).select(
        F.col("n_nationkey").alias("id"), F.col("n_name").alias("name")
    )
    return rel.fill_id_gaps(existing, "id", domain_max=24)


@register(
    "augmentation_fanout",
    oracle="""
    WITH src AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0),
    variants AS (
        SELECT CAST(o_orderkey AS VARCHAR) || '-shift-' || i || '-1' AS image_id,
               i AS variant_i
        FROM src CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i)
    )
    SELECT variant_i, count(*) AS n,
           count(DISTINCT image_id) AS n_distinct,
           min(image_id) AS first_id,
           max(image_id) AS last_id
    FROM variants
    GROUP BY variant_i
    """,
    doc="O19 augmentation fan-out x5 with synthetic-id construction "
    "(generate_images_from_dicom.py:282-314): explode(sequence()) is a "
    "narrow op - no shuffle for a 190x fan-out at scale.",
    tags=("core",),
)
def q_augmentation_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        tables.load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey")
    )
    fanned = rel.fanout(src, "o_orderkey", "shift", k=5, stage=1)
    return fanned.groupBy("variant_i").agg(
        F.count("*").alias("n"),
        F.countDistinct("image_id").alias("n_distinct"),
        F.min("image_id").alias("first_id"),
        F.max("image_id").alias("last_id"),
    )


@register(
    "union_stage_outputs",
    oracle="""
    SELECT stage, count(*) AS n FROM (
        SELECT 'stage1' AS stage, o_orderkey AS id FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT 'stage2' AS stage, o_orderkey AS id FROM orders WHERE o_totalprice > 100000
    )
    GROUP BY stage
    """,
    doc="O21 union of stage outputs (generate_images_from_dicom.py:278-279 "
    "onward): unionByName of branch DataFrames.",
    tags=("core",),
)
def q_union_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    s1 = orders.filter(F.col("o_orderstatus") == "F").select(
        F.lit("stage1").alias("stage"), F.col("o_orderkey").alias("id")
    )
    s2 = orders.filter(F.col("o_totalprice") > 100000).select(
        F.lit("stage2").alias("stage"), F.col("o_orderkey").alias("id")
    )
    return rel.union_stages([s1, s2]).groupBy("stage").agg(
        F.count("*").alias("n")
    )


@register(
    "pricing_summary",
    oracle="""
    WITH c AS (
        SELECT l_returnflag, l_linestatus,
               CAST(round(l_quantity) AS BIGINT) AS qty,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
               CAST(round(l_tax * 100) AS BIGINT) AS tax_pct
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sum(qty) AS BIGINT) AS sum_qty,
           CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(sum(cents * (100 - disc_pct)) AS DOUBLE) / 10000.0
               AS sum_disc_price,
           CAST(sum(CAST(cents * (100 - disc_pct) AS HUGEINT)
                    * (100 + tax_pct)) AS DOUBLE) / 1000000.0
               AS sum_charge,
           CAST((1000000 * sum(qty)) // count(*) AS BIGINT) AS avg_qty_micro,
           CAST((10000 * sum(cents)) // count(*) AS BIGINT)
               AS avg_price_micro,
           CAST((10000 * sum(disc_pct)) // count(*) AS BIGINT)
               AS avg_disc_ppm,
           count(*) AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="X8 relational kernel: TPC-H Q1-shaped pricing summary - the "
    "groupBy/multi-agg the reference entirely lacks. Partial aggregation "
    "(map-side combine) + 4-group output: shuffle is O(groups), not "
    "O(rows). Money aggregates are exact: per-row integer cents / "
    "1e-4-dollar / 1e-6-dollar units (prices, discounts and taxes are "
    "exact 2-decimal values), decimal(38,0) for the triple product, one "
    "identical double division for display, and truncating integer "
    "division for the averages - round(sum(double)) diverged between "
    "engines at sf1 scale (round-7 fix from the sf1 gate).",
    tags=("core", "headline"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    c = li.filter(F.col("l_shipdate") <= "1998-09-02").selectExpr(
        "l_returnflag",
        "l_linestatus",
        "CAST(round(l_quantity) AS BIGINT) AS qty",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents",
        "CAST(round(l_discount * 100) AS BIGINT) AS disc_pct",
        "CAST(round(l_tax * 100) AS BIGINT) AS tax_pct",
    ).selectExpr(
        "*",
        # shared per-row product: feeds both sum_disc_price and (via
        # one more multiply) sum_charge
        "cents * (100 - disc_pct) AS c4",
        # the triple product cents*(100-disc)*(100+tax) <= ~1.1e11
        # fits int64 per row; only its SUM can overflow. Round 10:
        # sum it as two int64 streams (v div 1e6, v % 1e6) inside
        # whole-stage codegen and reassemble in DECIMAL over the 4
        # output groups — Spark's sum over DECIMAL(38,0) leaves the
        # compact-long representation (precision > 18) and pays a
        # BigDecimal per row, measured +0.38 s of the 1.68 s sf10 agg
        # (hi/lo form: 1.34 s, bit-identical output). Exactness bound:
        # sum(v % 1e6) <= 1e6·N overflows int64 only past N ≈ 9.2e12
        # rows per group ≈ 900 TB of lineitem; past that, widen the
        # split modulus toward sqrt(max v) ≈ 3.3e5 (bound ~2.8e13) or
        # revert to the decimal form.
        "cents * (100 - disc_pct) * (100 + tax_pct) AS v",
    )
    return c.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("CAST(sum(qty) AS BIGINT)").alias("sum_qty"),
        F.expr("CAST(sum(cents) AS DOUBLE) / 100.0").alias(
            "sum_base_price"
        ),
        F.expr(
            "CAST(sum(c4) AS DOUBLE) / 10000.0"
        ).alias("sum_disc_price"),
        F.expr(
            "CAST(CAST(CAST(sum(v div 1000000) AS DECIMAL(38,0))"
            " * 1000000 + sum(v % 1000000) AS DOUBLE)"
            " / 1000000.0 AS DOUBLE)"
        ).alias("sum_charge"),
        F.expr(
            "CAST((1000000 * sum(qty)) div count(*) AS BIGINT)"
        ).alias("avg_qty_micro"),
        F.expr(
            "CAST((10000 * sum(cents)) div count(*) AS BIGINT)"
        ).alias("avg_price_micro"),
        F.expr(
            "CAST((10000 * sum(disc_pct)) div count(*) AS BIGINT)"
        ).alias("avg_disc_ppm"),
        F.count("*").alias("count_order"),
    )


@register(
    "window_topk_per_group",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority, o_orderkey,
               round(o_totalprice, 2) AS totalprice,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rank
        FROM orders
    )
    SELECT o_orderpriority, rank, o_orderkey, totalprice
    FROM ranked WHERE rank <= 3
    """,
    doc="X8 top-k per group: the window-function surface (row_number over "
    "partitioned desc order) the reference lacks. Scale note: partial "
    "top-k pushdown (AQE) keeps the shuffle k-bounded per partition.",
    tags=("core",),
)
def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = tables.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "o_orderpriority",
            "rank",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


@register(
    "rollup_aggregation",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="X8 grouping-sets surface: ROLLUP over two dims (reference has "
    "none; SURVEY.md join-inventory note).",
    tags=("core",),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@register(
    "set_operations",
    oracle="""
    SELECT 'both_statuses' AS op, count(*) AS n FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT 'only_f' AS op, count(*) AS n FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    """,
    doc="X8 set operations (INTERSECT/EXCEPT) - absent from the reference, "
    "required by the relational kernel mandate.",
    tags=("core",),
)
def q_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    both = f_cust.intersect(o_cust).agg(F.count("*").alias("n")).select(
        F.lit("both_statuses").alias("op"), "n"
    )
    only_f = (
        f_cust.subtract(o_cust)  # EXCEPT (set semantics), not exceptAll
        .agg(F.count("*").alias("n"))
        .select(F.lit("only_f").alias("op"), "n")
    )
    return both.unionByName(only_f)


# ---------------------------------------------------------------------------
# X1/X2 — deduplication family over `documents`.
#
# The driver corpus is all-distinct, so each query plants duplicates
# deterministically: exact copies of every doc_id % 10 == 0 (at
# id + 2*stride) and near copies (first token dropped) of every
# doc_id % 10 == 5 (at id + stride), stride = 1 + max(doc_id) so the
# ranges stay disjoint at any replication factor.
# Finding exactly the planted pairs is the check.
# ---------------------------------------------------------------------------

_CORPUS_SQL = """
    SELECT d.doc_id, d.text FROM documents d
    UNION ALL
    SELECT d.doc_id + 2 * m.stride AS doc_id, d.text
    FROM documents d, (SELECT 1 + max(doc_id) AS stride FROM documents) m
    WHERE d.doc_id % 10 = 0
    UNION ALL
    SELECT d.doc_id + m.stride AS doc_id,
           substr(d.text, position(' ' IN d.text) + 1) AS text
    FROM documents d, (SELECT 1 + max(doc_id) AS stride FROM documents) m
    WHERE d.doc_id % 10 = 5
"""

_SHINGLES_SQL = f"""
    SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> array_to_string(ws[i:i+2], ' ')))) AS shingle
    FROM (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
        FROM ({_CORPUS_SQL})
    )
    WHERE len(ws) >= 3
"""


_STRIDE_CACHE: dict[tuple, int] = {}


def _stride_cache_key(sf_dir: str) -> tuple:
    """Cache key for :func:`_corpus_stride`: realpath PLUS a content
    fingerprint (name/size/mtime of every documents part file). The
    stride is correctness-bearing — it keeps the planted-duplicate id
    ranges disjoint — so a long-lived process that regenerates testdata
    at the same path must NOT serve a stale value (round 11, ADVICE
    r10: the old realpath-only key could silently reintroduce the r9
    id-collision bug). Stat-only: no file reads, no Spark job."""
    import pathlib

    root = os.path.realpath(sf_dir)
    p = pathlib.Path(root) / "documents.parquet"
    files = sorted(p.glob("*.parquet")) if p.is_dir() else [p]
    fp = []
    for f in files:
        try:
            st = f.stat()
            fp.append((f.name, st.st_size, st.st_mtime_ns))
        except OSError:
            fp.append((f.name, -1, -1))
    return (root, tuple(fp))


def _corpus_stride(spark: SparkSession, sf_dir: str) -> int:
    """``1 + max(doc_id)`` of the documents table — the plant offset.

    Round 10: read the parquet footer statistics DIRECTLY (pyarrow,
    driver-side, memoized per directory CONTENT — the key includes a
    name/size/mtime fingerprint so regenerated testdata at the same
    path invalidates the entry) instead of running a Spark
    aggregate job. int64 min/max column statistics are exact, so this
    is the same answer with zero jobs — the aggregate-pushdown job it
    replaces still cost one full scheduling round (~0.15 s) per corpus
    query at any SF, pure floor. Falls back to the Spark agg when any
    row group lacks statistics."""
    import pathlib

    key = _stride_cache_key(sf_dir)
    hit = _STRIDE_CACHE.get(key)
    if hit is not None:
        return hit
    mx: int | None = None
    try:
        import pyarrow.parquet as pq

        p = pathlib.Path(sf_dir) / "documents.parquet"
        files = sorted(p.glob("*.parquet")) if p.is_dir() else [p]
        if not files:
            raise FileNotFoundError(str(p))
        for f in files:
            md = pq.ParquetFile(f).metadata
            j = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == "doc_id"
            )
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(j).statistics
                if st is None or not st.has_min_max:
                    raise ValueError("row group without doc_id stats")
                mx = st.max if mx is None else max(mx, st.max)
    except Exception:
        mx = None
    if mx is None:
        docs = tables.load(spark, sf_dir, "documents")
        mx = docs.agg(F.max("doc_id")).first()[0] or 0
    val = 1 + int(mx)
    _STRIDE_CACHE[key] = val
    return val


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one scan, not a 3-branch union of the same parquet: each row emits
    # itself plus (for 1-in-10 ids) a planted exact or near duplicate —
    # explode is narrow, so the plant costs zero extra I/O and no shuffle
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    # plant offsets derive from the corpus key range (round 9, VERDICT r8
    # #2): stride = 1 + max(doc_id), exact copies at +2*stride, near
    # copies at +stride — the three id ranges are disjoint at ANY
    # replication factor, unlike the old fixed +100000/+200000 which
    # collided with replicated ids at sf10. The max() comes from parquet
    # footer statistics (driver-side, zero jobs, memoized — round 10),
    # embedded as a literal so the scan plan stays a single narrow
    # explode with no join node.
    stride = _corpus_stride(spark, sf_dir)
    # single expr string: same plan as the Column-tree form, built in 2
    # gateway calls instead of ~40 (plan construction is serving latency)
    keep = (
        "explode(filter(array("
        "struct(doc_id, text), "
        f"struct(doc_id + {2 * stride} AS doc_id, text), "
        f"struct(doc_id + {stride} AS doc_id, "
        "substring(text, instr(text, ' ') + 1) AS text)"
        "), (v, i) -> i = 0 OR (i = 1 AND doc_id % 10 = 0) "
        "OR (i = 2 AND doc_id % 10 = 5))) AS v"
    )
    return docs.selectExpr(keep).select("v.doc_id", "v.text")


@register(
    "dedup_exact",
    oracle=f"""
    SELECT md5(text) AS content_hash,
           count(*) AS n_copies,
           min(doc_id) AS keeper_id
    FROM ({_CORPUS_SQL})
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
    doc="X1 exact dedup by content hash (generalizes the sha256 record "
    "keying of images_to_tfrecord.py:96-101): hash groupBy, min-id keeper. "
    "Shuffles 16-byte hashes, not documents - scale-free.",
    tags=("dedup", "headline"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    return dedup.exact_dedup_groups(corpus).filter(F.col("n_copies") > 1)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    mh AS (
        SELECT doc_id, s.i AS i,
               min(substring(md5((s.i // 4) || '|' || shingle),
                             1 + 8 * (s.i % 4), 8)) AS mh
        FROM shingles CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) s
        GROUP BY doc_id, s.i
    ),
    bands AS (
        SELECT doc_id, i // 2 AS band,
               md5(string_agg(mh, '|' ORDER BY i)) AS band_hash
        FROM mh GROUP BY doc_id, i // 2
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
    doc="X2 MinHash(12 hashes) + LSH(6 bands x 2 rows) near-dup candidate "
    "pairs. Portable md5-min sketch: bit-identical in any engine. "
    "HEADLINE registers the ADAPTIVE form (round 9, VERDICT r8 #1): "
    "one HLL probe of the distinct-text ratio picks collapse-first "
    "(duplication-heavy corpora - signatures over one rep per class, "
    "measured 7.7s vs DuckDB 98.8s at sf10) or the direct streamed "
    "self-join (mostly-unique corpora, skips the collapse overhead). "
    "Both forms are pair-for-pair identical (shared oracle SQL, "
    "equality pinned at sf10 by exact digest); no path materializes "
    "a pair array.",
    tags=("dedup", "headline"),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    return dedup.minhash_lsh_candidates_adaptive(
        corpus, num_hashes=12, rows_per_band=2, shingle_n=3
    )


@register(
    "dedup_minhash_direct",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    mh AS (
        SELECT doc_id, s.i AS i,
               min(substring(md5((s.i // 4) || '|' || shingle),
                             1 + 8 * (s.i % 4), 8)) AS mh
        FROM shingles CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) s
        GROUP BY doc_id, s.i
    ),
    bands AS (
        SELECT doc_id, i // 2 AS band,
               md5(string_agg(mh, '|' ORDER BY i)) AS band_hash
        FROM mh GROUP BY doc_id, i // 2
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
    doc="X2 direct (uncollapsed) MinHash-LSH: pair-for-pair the SAME "
    "answer as the collapse-first headline (the oracle is literally "
    "the same SQL), computed per-document. Round 9: the pair "
    "expansion is a streamed bucket-local self-join on (band, "
    "band_hash) with exchange reuse (signatures computed once) — no "
    "per-task pair array on any path; a mega-bucket streams across "
    "tasks (AQE skew split) instead of OOMing one reducer.",
    tags=("dedup",),
)
def q_dedup_minhash_direct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    return dedup.minhash_lsh_candidates(
        corpus, num_hashes=12, rows_per_band=2, shingle_n=3
    )


# corpus + a planted mega-bucket: 150 verbatim copies of doc 7 (the
# boilerplate-crawl shape — templated pages that survive nothing but
# exact dedup). Mirrored in Spark by q_dedup_minhash_capped.
_MEGA_CORPUS_SQL = f"""
    SELECT doc_id, text FROM ({_CORPUS_SQL})
    UNION ALL
    SELECT 3 * m.stride + s.i AS doc_id, d.text
    FROM documents d,
         (SELECT 1 + max(doc_id) AS stride FROM documents) m
    CROSS JOIN (SELECT unnest(generate_series(0, 149)) AS i) s
    WHERE d.doc_id = 7
"""

_MEGA_SHINGLES_SQL = f"""
    SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> array_to_string(ws[i:i+2], ' ')))) AS shingle
    FROM (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
        FROM ({_MEGA_CORPUS_SQL})
    )
    WHERE len(ws) >= 3
"""


@register(
    "dedup_minhash_capped",
    oracle=f"""
    WITH shingles AS ({_MEGA_SHINGLES_SQL}),
    mh AS (
        SELECT doc_id, s.i AS i,
               min(substring(md5((s.i // 4) || '|' || shingle),
                             1 + 8 * (s.i % 4), 8)) AS mh
        FROM shingles CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) s
        GROUP BY doc_id, s.i
    ),
    bands AS (
        SELECT doc_id, i // 2 AS band,
               md5(string_agg(mh, '|' ORDER BY i)) AS band_hash
        FROM mh GROUP BY doc_id, i // 2
    ),
    members AS (
        SELECT band, band_hash, count(*) AS m FROM bands GROUP BY 1, 2
    ),
    kept AS (
        SELECT band, band_hash, doc_id,
               row_number() OVER (
                   PARTITION BY band, band_hash ORDER BY doc_id
               ) AS rn
        FROM bands
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_shared_bands,
           max(mm.m > 16) AS capped
    FROM kept a
    JOIN kept b ON a.band = b.band AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
    JOIN members mm ON mm.band = a.band AND mm.band_hash = a.band_hash
    WHERE a.rn <= 16 AND b.rn <= 16
    GROUP BY 1, 2
    """,
    doc="X2 MinHash-LSH with the mega-bucket guard engaged (max_bucket="
    "16) over a corpus holding a planted 151-member degenerate bucket: "
    "each (band, band_hash) bucket keeps its 16 smallest ids — ranked "
    "BEFORE the collect, so the hot reducer is bounded, not just the "
    "pair fan-out — and every emitted pair carries the capped flag so "
    "overflow groups can be routed to exact dedup. At 100 TB this is "
    "what keeps one boilerplate bucket from hot-spotting a reducer "
    "with k^2 pairs.",
    tags=("dedup",),
)
def q_dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    docs = tables.load(spark, sf_dir, "documents")
    stride = _corpus_stride(spark, sf_dir)
    seed = docs.filter(F.col("doc_id") == 7)
    mega = seed.select(
        F.explode(F.sequence(F.lit(0), F.lit(149))).alias("_i"), "text"
    ).select(
        (F.lit(3 * stride) + F.col("_i")).cast("long").alias("doc_id"),
        "text",
    )
    return dedup.minhash_lsh_candidates(
        corpus.unionByName(mega),
        num_hashes=12,
        rows_per_band=2,
        shingle_n=3,
        max_bucket=16,
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    votes AS (
        SELECT doc_id, j.j AS j,
               sum(CASE WHEN substr(md5(shingle), j.j + 1, 1) >= '8'
                        THEN 1 ELSE -1 END) AS v
        FROM shingles CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) j
        GROUP BY doc_id, j.j
    ),
    sigs AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN CAST(2 ** j AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS sig
        FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """,
    doc="X2 SimHash(32-bit over 3-gram shingles) near-dup pairs, Hamming "
    "<= 3. Spark side uses pigeonhole blocking (4 blocks of 8 bits) to "
    "avoid the crossJoin; the oracle brute-forces - answers must agree, "
    "which also proves blocking loses no pairs.",
    tags=("dedup",),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    pairs = dedup.simhash_near_pairs(corpus, max_hamming=3)
    return pairs.select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, shared,
           round(shared / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(shared / (sa.n_sh + sb.n_sh - shared), 6) >= 0.5
    """,
    doc="X2 exact n-gram Jaccard near-dup pairs (threshold 0.5) via "
    "shingle inverted-index join - the exactness oracle for MinHash/"
    "SimHash, itself n^2-free. Skew note: cap shingle document-frequency "
    "at scale.",
    tags=("dedup",),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(corpus, shingle_n=3, threshold=0.5)


# ---------------------------------------------------------------------------
# X4 — text analysis over `documents`.
# ---------------------------------------------------------------------------

_WS_DOCS_SQL = """
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws, lower(text) AS lt
    FROM documents
"""


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len(ws) AS n_ws_tokens,
           len(regexp_extract_all(lt, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
           round(list_sum(list_transform(ws, t -> len(t))) / len(ws), 6) AS avg_token_len
    FROM ({_WS_DOCS_SQL})
    """,
    doc="X4 token counting: whitespace tokens + BPE-ish regex pre-tokens "
    "+ mean token length, one scan, all JVM-side expressions.",
    tags=("text",),
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as tx

    docs = tables.load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.ws_token_count().alias("n_ws_tokens"),
        tx.bpe_ish_token_count().alias("n_bpe_tokens"),
        tx.avg_token_length().alias("avg_token_len"),
    )


@register(
    "text_token_budget_sample",
    oracle="""
    WITH toks AS (
        SELECT lang, doc_id,
               CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT)
                   AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) || CAST(doc_id AS VARCHAR) AS pri
        FROM documents
    ),
    c AS (
        SELECT lang, doc_id, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY pri
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM toks
    )
    SELECT lang, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens - n_tokens < 2000
    """,
    doc="X4+ training-corpus quota sampling: per-language document "
    "selection in seeded-shuffle order (md5 priority) until a token "
    "budget is covered. Runs on the grouped two-phase prefix sum "
    "(range partition on (lang, priority) + per-slice subtotals + "
    "broadcast offsets), never a partitionBy(lang) window — a handful "
    "of languages over billions of docs would pin each language to one "
    "task.",
    tags=("text",),
)
def q_text_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as tx

    docs = tables.load(spark, sf_dir, "documents")
    return tx.token_budget_sample(docs, budget_tokens=2000)


@register(
    "text_bigram_next_token",
    oracle="""
    WITH ws AS (
        SELECT string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    bg AS (
        SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p FROM ws
    ),
    counts AS (
        SELECT p[1] AS w1, p[2] AS w2, count(*) AS n
        FROM bg GROUP BY 1, 2
    ),
    ranked AS (
        SELECT w1, w2, n,
               row_number() OVER (PARTITION BY w1 ORDER BY n DESC, w2)
                   AS rn
        FROM counts
    )
    SELECT w1, w2 AS top_next, n AS n_occurrences
    FROM ranked WHERE rn = 1 AND n >= 5
    """,
    doc="X4+ corpus bigram statistics: deterministic argmax next-token "
    "table (most frequent follower per leading token, ties broken "
    "lexicographically, min support 5). Narrow pair explode + one "
    "counted shuffle with map-side combine + vocab-keyed argmax "
    "window.",
    tags=("text",),
)
def q_text_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as tx

    return tx.bigram_next_token_table(
        tables.load(spark, sf_dir, "documents"), min_count=5
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           round(len(list_distinct(ws)) / len(ws), 6) AS ttr,
           round(len(list_filter(ws, t -> list_contains(
                     ['the','a','and','of','to','in','is'], t))) / len(ws), 6)
               AS en_stopword_ratio,
           CASE WHEN len(ws) >= 50
                 AND len(list_distinct(ws)) / len(ws) >= 0.2
                THEN 'keep' ELSE 'flag' END AS quality_bucket
    FROM ({_WS_DOCS_SQL})
    """,
    doc="X4 quality scoring: type-token ratio + stopword ratio + a "
    "keep/flag bucket - the LLM-corpus filtering primitive.",
    tags=("text",),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as tx

    docs = tables.load(spark, sf_dir, "documents")
    keep = (tx.ws_token_count() >= 50) & (tx.type_token_ratio() >= 0.2)
    return docs.select(
        "doc_id",
        tx.type_token_ratio().alias("ttr"),
        tx.stopword_ratio().alias("en_stopword_ratio"),
        F.when(keep, "keep").otherwise("flag").alias("quality_bucket"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               len(list_filter(ws, t -> list_contains(['the','a','and','of','to','in','is'], t))) AS en_score,
               len(list_filter(ws, t -> list_contains(['el','la','de','los','que','y'], t))) AS es_score,
               len(list_filter(ws, t -> list_contains(['der','die','das','und','ist'], t))) AS de_score,
               len(list_filter(ws, t -> list_contains(['le','la','les','et','est'], t))) AS fr_score
        FROM ({_WS_DOCS_SQL})
    )
    SELECT doc_id, en_score, es_score, de_score, fr_score,
           CASE
             WHEN en_score >= es_score AND en_score >= de_score AND en_score >= fr_score THEN 'en'
             WHEN es_score >= de_score AND es_score >= fr_score THEN 'es'
             WHEN de_score >= fr_score THEN 'de'
             ELSE 'fr'
           END AS predicted_lang
    FROM scored
    """,
    doc="X4 language-ID heuristic: stopword-profile scores with "
    "deterministic arg-max. Profiles are expression literals - no "
    "broadcast, no UDF.",
    tags=("text",),
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as tx

    docs = tables.load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.lang_score("text", "en").alias("en_score"),
        tx.lang_score("text", "es").alias("es_score"),
        tx.lang_score("text", "de").alias("de_score"),
        tx.lang_score("text", "fr").alias("fr_score"),
        tx.predicted_lang().alias("predicted_lang"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS content_fp,
           list_min(list_transform(
               list_distinct(list_transform(
                   generate_series(1, len(ws) - 2),
                   i -> array_to_string(ws[i:i+2], ' '))),
               s -> md5(s))) AS winnow_fp
    FROM ({_WS_DOCS_SQL})
    WHERE len(ws) >= 3
    """,
    doc="X4 document fingerprinting: order-insensitive bag-of-words md5 "
    "+ winnowing-style min-shingle-hash (1-hash MinHash).",
    tags=("text",),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as tx

    docs = tables.load(spark, sf_dir, "documents").filter(
        tx.ws_token_count() >= 3
    )
    return docs.select(
        "doc_id",
        tx.content_fingerprint().alias("content_fp"),
        tx.min_shingle_fingerprint().alias("winnow_fp"),
    )


# ---------------------------------------------------------------------------
# X3 — similarity search over `embeddings`.
# ---------------------------------------------------------------------------


@register(
    "similarity_topk_cosine",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < 5
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings
    ),
    sims AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(qe, ce)
                     / (sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(ce, ce))), 6) AS cosine
        FROM q CROSS JOIN c
        WHERE neighbor_id <> query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
               ) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 10
    """,
    doc="X3 exact top-k cosine similarity search — the deployed scale "
    "path: one Arrow-batched mapInPandas pass scores each query-batch x "
    "corpus-batch block as a single numpy matmul (BLAS/SIMD) and folds "
    "a running per-query top-k, so the final window merge shuffles "
    "<= k*|q| rows per partition. The brute-force baseline every ANN "
    "method is measured against; its HOF-fold twin "
    "(similarity_topk_fold) is the bit-reproducibility differential "
    "baseline and is pinned equal in tests.",
    tags=("similarity", "headline"),
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.cosine_topk_blas(emb, queries, k=10)


@register(
    "similarity_topk_fold",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < 5
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings
    ),
    sims AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(qe, ce)
                     / (sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(ce, ce))), 6) AS cosine
        FROM q CROSS JOIN c
        WHERE neighbor_id <> query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
               ) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 10
    """,
    doc="X3 exact top-k cosine — the HOF-fold twin: zip_with/aggregate "
    "dot products, JVM-side whole-stage codegen, sequential "
    "left-to-right double adds matching DuckDB's list_dot_product term "
    "order exactly. Same output contract as similarity_topk_cosine "
    "(round-6 before ranking, id tie-break); kept registered as the "
    "bit-reproducibility differential baseline for the BLAS scale path "
    "that the headline query deploys.",
    tags=("similarity",),
)
def q_similarity_topk_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.cosine_topk(emb, queries, k=10)


@register(
    "similarity_ivf_topk",
    # the SRP coarse quantizer is md5-derived, so DuckDB re-derives the
    # exact cells, probe set, and in-cell top-k — a full value oracle for
    # an ANN search (list_dot_product matches the engine's sequential
    # fold bit-for-bit, proven by similarity_topk_cosine)
    oracle="""
    WITH signs AS (
        SELECT h.h AS h,
               list_transform(generate_series(0, 63), j ->
                   CASE WHEN substr(md5(CAST(h.h AS VARCHAR) || '|' ||
                                        CAST(j AS VARCHAR)), 1, 1) >= '8'
                        THEN 1.0 ELSE -1.0 END) AS sv
        FROM (SELECT unnest(generate_series(0, 3)) AS h) h
    ),
    vecs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    bits AS (
        SELECT v.vec_id, s.h,
               CASE WHEN list_dot_product(v.e, s.sv) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM vecs v CROSS JOIN signs s
    ),
    cells AS (
        SELECT vec_id, CAST(sum(bit * (1 << h)) AS INTEGER) AS cell
        FROM bits GROUP BY vec_id
    ),
    qs AS (
        SELECT v.vec_id AS query_id, v.e AS qe, c.cell AS qcell
        FROM vecs v JOIN cells c USING (vec_id) WHERE vec_id < 5
    ),
    probes AS (
        SELECT query_id, qe, cell FROM (
            SELECT q.query_id, q.qe, a.cell,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY bit_count(CAST(xor(q.qcell, a.cell)
                                               AS BIGINT)), a.cell
                   ) AS pr
            FROM qs q
            CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS cell) a
        ) WHERE pr <= 4
    ),
    sims AS (
        SELECT p.query_id, v.vec_id AS neighbor_id,
               round(list_dot_product(p.qe, v.e)
                     / (sqrt(list_dot_product(p.qe, p.qe))
                        * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine
        FROM probes p
        JOIN cells c ON c.cell = p.cell
        JOIN vecs v ON v.vec_id = c.vec_id
        WHERE v.vec_id <> p.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
               ) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 10
    """,
    doc="X3 IVF approximate nearest neighbor with a deterministic SRP "
    "coarse quantizer: 16 sign-bit cells from md5-derived hyperplanes, "
    "probe the nprobe=4 cells nearest in Hamming distance, exact cosine "
    "within probed cells. Same storage-pruning shape as k-means IVF "
    "(cell-partitioned layout, (nlist-nprobe)/nlist of files pruned per "
    "probe) but the quantizer is engine-reproducible, so the whole ANN "
    "search is value-hash-checkable. The learned k-means variant "
    "(build_ivf/ivf_topk) remains the production path when a trained "
    "codebook exists; recall vs brute force asserted in tests for both.",
    tags=("similarity",),
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.srp_ivf_topk(emb, queries, k=10, nprobe=4)


@register(
    "similarity_knn_graph_stats",
    oracle="""
    WITH signs AS (
        SELECT h.h AS h,
               list_transform(generate_series(0, 63), j ->
                   CASE WHEN substr(md5(CAST(h.h AS STRING) || '|' ||
                                        CAST(j AS STRING)), 1, 1) >= '8'
                        THEN 1.0 ELSE -1.0 END) AS sv
        FROM (SELECT unnest(generate_series(0, 3)) AS h) h
    ),
    vecs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    bits AS (
        SELECT v.vec_id, s.h,
               CASE WHEN list_dot_product(v.e, s.sv) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM vecs v CROSS JOIN signs s
    ),
    cells AS (
        SELECT vec_id, CAST(sum(bit * (1 << h)) AS INTEGER) AS cell
        FROM bits GROUP BY vec_id
    ),
    qs AS (
        SELECT v.vec_id AS query_id, v.e AS qe, c.cell AS qcell
        FROM vecs v JOIN cells c USING (vec_id) WHERE vec_id < 500
    ),
    probes AS (
        SELECT query_id, qe, cell FROM (
            SELECT q.query_id, q.qe, a.cell,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY bit_count(CAST(xor(q.qcell, a.cell)
                                               AS BIGINT)), a.cell
                   ) AS pr
            FROM qs q
            CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS cell) a
        ) WHERE pr <= 4
    ),
    sims AS (
        SELECT p.query_id, v.vec_id AS neighbor_id,
               round(list_dot_product(p.qe, v.e)
                     / (sqrt(list_dot_product(p.qe, p.qe))
                        * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine
        FROM probes p
        JOIN cells c ON c.cell = p.cell
        JOIN vecs v ON v.vec_id = c.vec_id
        WHERE v.vec_id <> p.query_id
    ),
    knn AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id
                   ) AS rank
            FROM sims
        ) WHERE rank <= 3
    ),
    indeg AS (
        SELECT neighbor_id, count(*) AS in_degree FROM knn GROUP BY 1
    )
    SELECT CAST(in_degree AS BIGINT) AS in_degree,
           count(*) AS n_nodes
    FROM indeg GROUP BY 1
    """,
    doc="kNN-graph build over the deterministic SRP cells (the diversity-"
    "sampling / near-dup-clustering primitive of a training corpus): "
    "every query vector links to its 3 approximate nearest neighbors, "
    "then the neighbor in-degree distribution summarizes hubness — the "
    "quantity that decides whether embedding-based dedup will collapse "
    "clusters. Same cell-keyed candidate join as similarity_ivf_topk "
    "(never a crossJoin); at 100 TB the graph build is one cell-"
    "partitioned self-join whose fan-in is bounded by cell size.",
    tags=("similarity",),
)
def q_similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 500).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    knn = sim.srp_ivf_topk(emb, queries, k=3, nprobe=4)
    indeg = knn.groupBy("neighbor_id").agg(F.count("*").alias("in_degree"))
    return indeg.groupBy(F.col("in_degree").cast("long").alias("in_degree")).agg(
        F.count("*").alias("n_nodes")
    )


# ---------------------------------------------------------------------------
# X5/X6 — windowed event analytics over `events` (batch + streaming twin).
# ---------------------------------------------------------------------------


@register(
    "events_hourly_agg",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value,
           -- DuckDB // floors, Spark DIV truncates toward zero: compute on
           -- abs() and reapply the sign so the two agree even if a
           -- (window, type) group ever sums negative
           CAST(sign(CAST(round(sum(value) * 100) AS BIGINT)) AS BIGINT)
             * (abs(CAST(round(sum(value) * 100) AS BIGINT)) * 10000
                // count(*)) AS avg_micro
    FROM events
    GROUP BY 1, 2
    """,
    doc="X5 tumbling 1-hour window aggregation per event type "
    "(window start exported as epoch seconds).",
    tags=("events", "headline"),
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev

    return ev.hourly_type_agg(tables.load(spark, sf_dir, "events"))


@register(
    "events_gap_fill_locf",
    oracle="""
    WITH obs AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               value,
               row_number() OVER (
                   PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events WHERE event_type = 'purchase'
    ),
    daily AS (SELECT user_id, day, value FROM obs WHERE rn = 1),
    seq AS (
        SELECT user_id, day, value,
               lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
        FROM daily
    ),
    filled AS (
        SELECT user_id, day,
               unnest(generate_series(
                   day, COALESCE(next_day - 1, day), INTERVAL 1 DAY
               ))::DATE AS gen_day,
               value
        FROM seq
    )
    SELECT user_id,
           (gen_day - DATE '1970-01-01') AS epoch_day,
           CAST(gen_day = day AS INTEGER) AS is_observed,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM filled
    """,
    doc="X5+ hypertable-style daily LOCF gap fill per user over purchase "
    "events: densify each user's observed span to one row per day, "
    "carrying the day's last value across gaps. Single-exchange plan — "
    "gap days are generated from each key's own rows (sequence to the "
    "lead day), never from a dense-calendar cross join.",
    tags=("events",),
)
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev

    purchases = tables.load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return ev.gap_fill_locf(purchases)


@register(
    "events_funnel_steps",
    oracle="""
    WITH seq AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               string_agg(event_type, '|' ORDER BY ts, event_id) AS seq
        FROM events GROUP BY 1, 2
    ),
    f AS (
        SELECT CASE
            WHEN regexp_matches(seq, 'view.*click.*purchase') THEN 3
            WHEN regexp_matches(seq, 'view.*click') THEN 2
            WHEN regexp_matches(seq, 'view') THEN 1
            ELSE 0 END AS furthest_step
        FROM seq
    )
    SELECT furthest_step, count(*) AS n_user_days FROM f GROUP BY 1
    """,
    doc="X5+ ordered same-day funnel: furthest view->click->purchase "
    "subsequence step per (user, day) — ties broken by event_id for a "
    "deterministic sequence — user-days per step. One shuffle; the "
    "subsequence check is a JVM regex over the ordered type string, "
    "no UDF.",
    tags=("events",),
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev

    return ev.funnel_steps(tables.load(spark, sf_dir, "events"))


@register(
    "events_sliding_window_agg",
    oracle="""
    WITH expanded AS (
        SELECT event_type, value,
               unnest(generate_series(
                   time_bucket(INTERVAL '15 minutes', ts)
                       - INTERVAL '45 minutes',
                   time_bucket(INTERVAL '15 minutes', ts),
                   INTERVAL '15 minutes'
               )) AS w_start
        FROM events
    )
    SELECT CAST(epoch(w_start) AS BIGINT) AS window_start,
           event_type,
           count(*) AS n,
           CAST(round(sum(value) * 100) AS BIGINT) AS sum_cents
    FROM expanded
    GROUP BY 1, 2
    """,
    doc="X5 hopping windows: 1-hour windows sliding every 15 minutes "
    "per event type (each event in 4 overlapping windows, expanded "
    "narrowly pre-shuffle). The oracle expands memberships explicitly "
    "with generate_series.",
    tags=("events",),
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev

    return ev.sliding_type_agg(tables.load(spark, sf_dir, "events"))


@register(
    "events_peak_concurrency",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                     OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ),
    spans AS (
        SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
        FROM sessions GROUP BY 1, 2
    ),
    deltas AS (
        SELECT epoch_us(s) * 2 AS k, 1 AS delta, s AS ts FROM spans
        UNION ALL
        SELECT epoch_us(e) * 2 + 1 AS k, -1 AS delta, e AS ts FROM spans
    ),
    cum AS (
        SELECT ts,
               sum(delta) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                   AS concurrency
        FROM deltas
    )
    SELECT (CAST(ts AS DATE) - DATE '1970-01-01') AS epoch_day,
           CAST(max(concurrency) AS BIGINT) AS max_concurrent_sessions
    FROM cum GROUP BY 1
    """,
    doc="X5+ peak concurrent sessions per day by sweep line: +1/-1 "
    "deltas at session span boundaries, global running sum on the "
    "grouped two-phase prefix sum (constant group spread across range "
    "partitions — never a single-task Window.orderBy), day-max "
    "invariant to intra-instant tie order.",
    tags=("events",),
)
def q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev

    return ev.session_concurrency_by_day(
        tables.load(spark, sf_dir, "events")
    )


@register(
    "events_cohort_retention",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT user_id,
               (CAST(ts AS DATE) - DATE '1970-01-01') AS epoch_day
        FROM events
    ),
    first AS (
        SELECT user_id, min(epoch_day) AS cohort_day
        FROM activity GROUP BY 1
    )
    SELECT f.cohort_day,
           a.epoch_day - f.cohort_day AS day_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
    doc="X5+ cohort retention triangle: users bucketed by first active "
    "day, distinct-counted per later day offset. Per-user min-day "
    "aggregate (map-side combined) joined back on the same key, then "
    "the date-bounded (cohort, offset) cell aggregate.",
    tags=("events",),
)
def q_events_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev

    return ev.cohort_retention(tables.load(spark, sf_dir, "events"))


@register(
    "events_sessionization",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                     OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, event_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM (SELECT * FROM flagged ORDER BY user_id, event_id)
    ),
    per_session AS (
        SELECT user_id, session_id, count(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(max(session_id) AS BIGINT) AS n_sessions,
           max(n_events) AS max_session_events,
           CAST(sum(n_events) AS BIGINT) AS n_events
    FROM per_session GROUP BY user_id
    """,
    doc="X5 gap-based sessionization (30-min gap) via lag+cumsum windows; "
    "per-user session profile.",
    tags=("events",),
)
def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev

    return ev.session_stats(tables.load(spark, sf_dir, "events"), 1800)


@register(
    "events_user_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS n_click,
           count(*) FILTER (WHERE event_type = 'view') AS n_view,
           count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'error') AS n_error
    FROM events
    GROUP BY user_id
    """,
    doc="X5 pivot: per-user event-type count matrix with explicit pivot "
    "values (static schema, one shuffle).",
    tags=("events",),
)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev

    return ev.user_type_pivot(tables.load(spark, sf_dir, "events"))


@register(
    "events_value_ranking",
    oracle="""
    WITH ranked AS (
        SELECT event_type, event_id,
               round(value, 2) AS value,
               row_number() OVER w AS rank,
               round(lag(value) OVER w, 2) AS prev_value
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
    )
    SELECT event_type, rank, event_id, value, prev_value
    FROM ranked WHERE rank <= 5
    """,
    doc="X5 ranking windows: top-5 by value per event type with lag to "
    "the previous value.",
    tags=("events",),
)
def q_events_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev

    return ev.top_events_per_type(tables.load(spark, sf_dir, "events"), 5)


@register(
    "events_hourly_streaming",
    # bounded single-batch replay through run_bounded is deterministic:
    # the batch-twin SQL is a full hash-checked oracle, exactly the
    # events_dedup_streaming pattern
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value,
           -- DuckDB // floors, Spark DIV truncates toward zero: compute on
           -- abs() and reapply the sign so the two agree even if a
           -- (window, type) group ever sums negative
           CAST(sign(CAST(round(sum(value) * 100) AS BIGINT)) AS BIGINT)
             * (abs(CAST(round(sum(value) * 100) AS BIGINT)) * 10000
                // count(*)) AS avg_micro
    FROM events
    GROUP BY 1, 2
    """,
    doc="X6 Structured Streaming twin of events_hourly_agg: file-source "
    "replay -> watermark -> tumbling window -> memory sink. Bounded "
    "replay is deterministic, so the batch SQL is a full value oracle.",
    tags=("events", "streaming"),
)
def q_events_hourly_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    return es.run_bounded(es.hourly_type_agg_stream(stream))


@register(
    "events_dedup_streaming",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
    doc="X6 streaming exact dedup under at-least-once delivery: the "
    "source replays EVERY event twice across two micro-batches; "
    "watermarked dropDuplicates(event_id) must collapse the double "
    "feed back to the plain per-type aggregate over the original table "
    "— which is exactly what the DuckDB oracle computes, so this "
    "streaming query is fully hash-checked, not rows-only.",
    tags=("events", "streaming"),
)
def q_events_dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events_stream as es

    stream = es.read_events_stream_duplicated(spark, sf_dir)
    return es.run_bounded(es.dedup_counts_stream(stream))


@register(
    "snapshot_diff_cdc",
    oracle="""
    WITH old AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus
        FROM orders WHERE o_orderkey % 11 <> 0
    ),
    new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0
                    THEN CAST(round(o_totalprice * 100) AS BIGINT) + 500
                    ELSE CAST(round(o_totalprice * 100) AS BIGINT) END
                   AS cents,
               o_orderstatus
        FROM orders WHERE o_orderkey % 13 <> 0
    ),
    d AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN o.cents = n.cents
                     AND o.o_orderstatus = n.o_orderstatus THEN 'unchanged'
                    ELSE 'changed' END AS diff_status
        FROM old o FULL OUTER JOIN new n USING (o_orderkey)
    )
    SELECT diff_status, count(*) AS n_keys FROM d GROUP BY 1
    """,
    doc="Change-data-feed between two table snapshots: full-outer join "
    "on the key, struct-equality comparison -> added/removed/changed/"
    "unchanged per key (aggregated to counts here). Snapshots are "
    "deterministic arithmetic slices of orders so both engines build "
    "identical inputs.",
    tags=("relational",),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    old = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", cents.alias("cents"), "o_orderstatus"
    )
    new = orders.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, cents + 500)
        .otherwise(cents)
        .alias("cents"),
        "o_orderstatus",
    )
    d = rel.snapshot_diff(old, new, "o_orderkey", ["cents", "o_orderstatus"])
    return d.groupBy("diff_status").agg(F.count("*").alias("n_keys"))


@register(
    "pareto_frontier_suppliers",
    oracle="""
    WITH sup AS (
        SELECT l_suppkey,
               CAST(sum(l_quantity) AS BIGINT) AS total_qty,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM lineitem GROUP BY 1
    ),
    per_x AS (
        SELECT total_qty, max(revenue_cents) AS ymax
        FROM sup GROUP BY 1
    ),
    sweep AS (
        SELECT total_qty,
               max(ymax) OVER (
                   ORDER BY total_qty DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS sgm
        FROM per_x
    )
    SELECT s.l_suppkey, s.total_qty, s.revenue_cents
    FROM sup s JOIN sweep w USING (total_qty)
    WHERE w.sgm IS NULL OR w.sgm <= s.revenue_cents
    """,
    doc="2-D Pareto frontier over per-supplier (volume, revenue): the "
    "skyline sweep as relational ops (per-x max + descending running "
    "max) instead of an O(n^2) dominance self-join. Strict dominance "
    "in both dimensions.",
    tags=("relational",),
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    sup = li.groupBy("l_suppkey").agg(
        F.sum("l_quantity").cast("bigint").alias("total_qty"),
        F.expr("CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)").alias(
            "revenue_cents"
        ),
    )
    return rel.pareto_frontier_2d(sup, "total_qty", "revenue_cents")


@register(
    "data_quality_summary",
    oracle="""
    SELECT 'null_custkey' AS check_name,
           count(*) AS n_violations FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'nonpositive_quantity', count(*) FROM lineitem
    WHERE l_quantity <= 0
    UNION ALL
    SELECT 'negative_totalprice', count(*) FROM orders
    WHERE o_totalprice < 0
    UNION ALL
    SELECT 'duplicate_lineitem_key', count(*) FROM (
        SELECT l_orderkey, l_linenumber FROM lineitem
        GROUP BY 1, 2 HAVING count(*) > 1
    )
    UNION ALL
    SELECT 'orphan_lineitem', count(*) FROM lineitem
    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'orphan_order_customer', count(*) FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    UNION ALL
    SELECT 'ship_before_order', count(*)
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate < o_orderdate
    """,
    doc="Pipeline-gate constraint validation (dbt-tests/Deequ shape): "
    "null / range / uniqueness / referential-integrity / temporal-order "
    "checks as independent declarative aggregates unioned into one "
    "(check_name, n_violations) table.",
    tags=("relational",),
)
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.data_quality_summary(
        tables.load(spark, sf_dir, "orders"),
        tables.load(spark, sf_dir, "lineitem"),
        tables.load(spark, sf_dir, "customer"),
    )


_PAGERANK_STEP_SQL = """
    SELECT e.dst AS node,
           CAST(150000 + (850 * sum(r.rank // d.d)) // 1000 AS BIGINT) AS rank
    FROM {prev} r
    JOIN edges e ON e.src = r.node
    JOIN deg d ON d.src = r.node
    GROUP BY 1
"""


@register(
    "graph_pagerank_integer",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
               's' || CAST(l_suppkey AS VARCHAR) AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
    r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
    r1 AS ({_PAGERANK_STEP_SQL.format(prev="r0")}),
    r2 AS ({_PAGERANK_STEP_SQL.format(prev="r1")}),
    r3 AS ({_PAGERANK_STEP_SQL.format(prev="r2")})
    SELECT node, rank FROM r3
    """,
    doc="Graph analytics: 3-iteration PageRank over the bidirectional "
    "customer-supplier trade graph, in exact integer micro-rank units "
    "(bigint sums + integer division only) so the iterative result is "
    "bit-identical across engines — float PageRank depends on "
    "summation order, which no distributed engine guarantees. The "
    "oracle unrolls the iterations as chained CTEs.",
    tags=("graph",),
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import graph as g

    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return g.pagerank_integer(edges, iterations=3)


@register(
    "kfold_split_assignment",
    oracle="""
    SELECT (('0x' || substr(md5('cv|' || CAST(o_custkey AS VARCHAR)), 1, 8))
                ::UBIGINT % 5)::INTEGER AS fold,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
    FROM orders
    GROUP BY 1
    """,
    doc="O9+ k-fold cross-validation assignment: md5-derived fold per "
    "CUSTOMER (grouping key, not row key — a customer's orders never "
    "straddle folds, the leakage-safe grain), as a narrow no-shuffle "
    "transformation stable under repartitioning and subsetting.",
    tags=("relational",),
)
def q_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    folded = rel.kfold_assign(orders, "o_custkey", k=5)
    return folded.groupBy("fold").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias(
            "sum_price_cents"
        ),
    )


@register(
    "zorder_layout_stats",
    oracle="""
    WITH pts AS (
        SELECT l_orderkey, l_linenumber,
               (l_partkey * 131) % 65536 AS x,
               (l_suppkey * 7919) % 65536 AS y
        FROM lineitem
    ),
    spread AS (
        SELECT x, y,
               ((((((x | (x << 8)) & 16711935)
                 | (((x | (x << 8)) & 16711935) << 4)) & 252645135)
                 | ((((((x | (x << 8)) & 16711935)
                 | (((x | (x << 8)) & 16711935) << 4)) & 252645135)) << 2))
                 & 858993459) AS sx2,
               ((((((y | (y << 8)) & 16711935)
                 | (((y | (y << 8)) & 16711935) << 4)) & 252645135)
                 | ((((((y | (y << 8)) & 16711935)
                 | (((y | (y << 8)) & 16711935) << 4)) & 252645135)) << 2))
                 & 858993459) AS sy2
        FROM pts
    ),
    z AS (
        SELECT x, y,
               ((sx2 | (sx2 << 1)) & 1431655765)
             | (((sy2 | (sy2 << 1)) & 1431655765) << 1) AS zkey
        FROM spread
    )
    SELECT zkey // 67108864 AS bucket,
           count(*) AS n,
           min(x) AS min_x, max(x) AS max_x,
           min(y) AS min_y, max(y) AS max_y
    FROM z
    GROUP BY 1
    """,
    doc="Data-layout operator: Morton/Z-order key (bit interleave of two "
    "16-bit dims) and per-bucket extent stats — the min/max bounds a "
    "layout-aware reader uses for multi-dimensional file skipping. "
    "Bit-exact across engines (pure integer mask-shift arithmetic).",
    tags=("layout",),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import scalars as sc

    li = tables.load(spark, sf_dir, "lineitem")
    pts = li.select(
        ((F.col("l_partkey") * 131) % 65536).alias("x"),
        ((F.col("l_suppkey") * 7919) % 65536).alias("y"),
    )
    z = pts.withColumn("zkey", sc.zorder_key2(F.col("x"), F.col("y")))
    return (
        z.groupBy(F.expr("zkey DIV 67108864").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("min_x"), F.max("x").alias("max_x"),
            F.min("y").alias("min_y"), F.max("y").alias("max_y"),
        )
    )


# ---------------------------------------------------------------------------
# O14-O18 box geometry (SQL halves) + O16 collision theta-join.
# ---------------------------------------------------------------------------


@register(
    "box_geometry_transforms",
    oracle=f"""
    WITH boxes AS ({_BOXES_FROM_LINEITEM_SQL}),
    params AS (
        SELECT patient_id, box_id, x, y, width, height,
               (box_id % 21) - 10 AS rx,
               (box_id % 15) - 7 AS ry,
               1.0 + ((box_id % 5) - 2) * 0.03125 AS rf
        FROM boxes
    )
    SELECT patient_id, box_id,
           x + rx AS shift_x,
           y + ry AS shift_y,
           1024 - x - width AS flip_x,
           CAST(round(rf * (x - 512.0) + 512.0) AS INTEGER) AS affine_x,
           CAST(round(rf * (y - 512.0) + 512.0) AS INTEGER) AS affine_y,
           CAST(round(rf * width) AS INTEGER) AS affine_w,
           CAST(round(rf * height) AS INTEGER) AS affine_h,
           GREATEST(0, CAST(trunc(x + width/2.0 - round(width*rf)/2.0) AS INTEGER)) AS zoom_x,
           GREATEST(0, CAST(trunc(y + height/2.0 - round(height*rf)/2.0) AS INTEGER)) AS zoom_y
    FROM params
    """,
    doc="O14/O15/O17/O18 box arithmetic (generate_images_from_dicom.py:"
    "124-125,135,193-206,245-250): shift, horizontal flip, whole-image "
    "affine about center, per-box zoom recenter+clamp - all pure Column "
    "expressions, deterministic offsets keyed on box_id.",
    tags=("geometry",),
)
def q_box_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import geometry as geo

    boxes = _boxes_from_lineitem(spark, sf_dir)
    rx = (F.col("box_id") % 21 - 10).cast("int")
    ry = (F.col("box_id") % 15 - 7).cast("int")
    rf = 1.0 + ((F.col("box_id") % 5) - 2) * 0.03125
    x, y, w, h = F.col("x"), F.col("y"), F.col("width"), F.col("height")
    sx, sy = geo.shift_box(x, y, rx, ry)
    ax, ay, aw, ah = geo.scale_image_box_affine(x, y, w, h, rf, 1024, 1024)
    zx, zy, _, _ = geo.scale_bbox_recenter(x, y, w, h, rf)
    return boxes.select(
        "patient_id",
        "box_id",
        sx.alias("shift_x"),
        sy.alias("shift_y"),
        geo.flip_box_x(x, w, 1024).alias("flip_x"),
        ax.alias("affine_x"),
        ay.alias("affine_y"),
        aw.alias("affine_w"),
        ah.alias("affine_h"),
        zx.alias("zoom_x"),
        zy.alias("zoom_y"),
    )


@register(
    "box_collision_join",
    oracle=f"""
    WITH boxes AS ({_BOXES_FROM_LINEITEM_SQL})
    SELECT a.patient_id AS patient_id, a.box_id AS box_a, b.box_id AS box_b
    FROM boxes a
    JOIN boxes b ON a.patient_id = b.patient_id AND a.box_id <> b.box_id
    WHERE (b.x <= a.x AND a.x < b.x + b.width
           AND b.y <= a.y AND a.y < b.y + b.height)
       OR (b.x <= a.x + a.width AND a.x + a.width < b.x + b.width
           AND b.y <= a.y AND a.y < b.y + b.height)
       OR (b.x <= a.x AND a.x < b.x + b.width
           AND b.y <= a.y + a.height AND a.y + a.height < b.y + b.height)
       OR (b.x <= a.x + a.width AND a.x + a.width < b.x + b.width
           AND b.y <= a.y + a.height AND a.y + a.height < b.y + b.height)
    """,
    doc="O16 collision predicate (generate_images_from_dicom.py:144-145,"
    "158-163) as a within-patient self theta-join: corner-in-rectangle "
    "test. Equi-join on patient_id bounds the quadratic blow-up to "
    "per-patient box counts.",
    tags=("geometry",),
)
def q_box_collision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import geometry as geo

    boxes = _boxes_from_lineitem(spark, sf_dir)
    return geo.collision_pairs(boxes, "patient_id")


# ---------------------------------------------------------------------------
# X7 — multimodal columns: pandas-UDF pixel pipeline with a closed-form
# oracle (pixel[i] = (img_id*31 + i*7) % 256, so DuckDB recomputes the
# statistics the Python workers produce — the UDF plumbing is value-checked,
# not just rows-counted).
# ---------------------------------------------------------------------------


@register(
    "multimodal_pixel_stats",
    oracle="""
    WITH px AS (
        SELECT g.id AS img_id, (g.id * 31 + i.i * 7) % 256 AS v
        FROM (SELECT unnest(generate_series(0, 199)) AS id) g
        CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS i) i
    )
    SELECT img_id,
           CAST(sum(v) AS BIGINT) AS sum_px,
           round(avg(v), 6) AS mean_px,
           CAST(min(v) AS INTEGER) AS min_px,
           CAST(max(v) AS INTEGER) AS max_px
    FROM px GROUP BY img_id
    """,
    doc="X7 multimodal pipeline: binary pixel column + metadata -> "
    "mapInPandas feature extraction (Arrow batches, numpy inside). The "
    "deterministic synthetic corpus makes the Python-worker path "
    "value-checkable against SQL.",
    tags=("multimodal",),
)
def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    return mm.pixel_stats(mm.synth_images(spark, n=200, height=16, width=16))


@register(
    "xml_annotation_scan",
    oracle="""
    WITH docs AS (SELECT unnest(generate_series(0, 11)) AS i),
    objs AS (
        SELECT d.i, j.j
        FROM docs d
        JOIN (SELECT unnest(generate_series(0, 2)) AS j) j
          ON j.j < (d.i % 3)
    )
    SELECT 'img_' || d.i || '.png' AS filename,
           CAST(100 + d.i AS INTEGER) AS width,
           CAST(200 + d.i AS INTEGER) AS height,
           CASE WHEN o.j IS NULL THEN NULL
                ELSE 'cls_' || ((d.i + o.j) % 4) END AS obj_name,
           CAST(d.i * 10 + o.j AS INTEGER) AS xmin,
           CAST(d.i * 5 + o.j AS INTEGER) AS ymin,
           CAST(d.i * 10 + o.j + 20 + o.j AS INTEGER) AS xmax,
           CAST(d.i * 5 + o.j + 30 + o.j AS INTEGER) AS ymax
    FROM docs d LEFT JOIN objs o ON o.i = d.i
    """,
    doc="O37 XML annotation scan (ref create_pascal_tf_record.py dict_"
    "to_tf_example + dataset_util.recursive_parse_xml_to_dict:74-78): "
    "VOC-style XML documents parsed to typed nested records inside "
    "mapInPandas (repeated <object> tags become a list), then exploded "
    "one row per box — explode_outer keeps annotation-less images, the "
    "same outer semantics the reference's empty-object loop has. The "
    "fixture corpus is closed-form, so DuckDB re-derives every parsed "
    "value without seeing XML — a full parser-output hash check.",
    tags=("sources",),
)
def q_xml_annotation_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import readers

    def make_xml(i: int) -> str:
        objs = "".join(
            f"<object><name>cls_{(i + j) % 4}</name>"
            f"<bndbox><xmin>{i * 10 + j}</xmin><ymin>{i * 5 + j}</ymin>"
            f"<xmax>{i * 10 + j + 20 + j}</xmax>"
            f"<ymax>{i * 5 + j + 30 + j}</ymax></bndbox></object>"
            for j in range(i % 3)
        )
        return (
            f"<annotation><filename>img_{i}.png</filename>"
            f"<size><width>{100 + i}</width><height>{200 + i}</height></size>"
            f"{objs}</annotation>"
        )

    docs = spark.createDataFrame([(make_xml(i),) for i in range(12)], "xml string")
    parsed = readers.parse_voc_annotations(docs)
    return parsed.select(
        "filename",
        "width",
        "height",
        F.explode_outer("objects").alias("o"),
    ).select(
        "filename",
        "width",
        "height",
        F.col("o.name").alias("obj_name"),
        F.col("o.xmin").alias("xmin"),
        F.col("o.ymin").alias("ymin"),
        F.col("o.xmax").alias("xmax"),
        F.col("o.ymax").alias("ymax"),
    )


@register(
    "multimodal_codec_roundtrip",
    oracle="""
    WITH px AS (
        SELECT g.id AS img_id, (g.id * 31 + i.i * 7) % 256 AS v
        FROM (SELECT unnest(generate_series(0, 199)) AS id) g
        CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS i) i
    )
    SELECT img_id,
           CAST(sum(v) AS BIGINT) AS sum_px,
           round(avg(v), 6) AS mean_px,
           CAST(min(v) AS INTEGER) AS min_px,
           CAST(max(v) AS INTEGER) AS max_px
    FROM px GROUP BY img_id
    """,
    doc="O7+O10 executed for real: pixels -> PNG encode -> PNG decode -> "
    "DICOM encode -> DICOM decode -> stats, all inside Arrow batches "
    "using the stdlib-only codecs (functions/codecs.py: zlib+struct PNG "
    "with full filter support, explicit-VR-LE uncompressed DICOM; "
    "pydicom/PIL preferred when installed). Both formats are lossless, "
    "so the stats after two codec roundtrips must equal the closed-form "
    "synthetic corpus — hash-checked. Ref generate_images_from_dicom.py"
    ":48-51 (decode), :80 (PNG write).",
    tags=("multimodal",),
)
def q_multimodal_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    imgs = mm.synth_images(spark, n=200, height=16, width=16)
    return mm.pixel_stats(mm.codec_roundtrip(imgs))


@register(
    "multimodal_jpeg2000_lossy_roundtrip",
    oracle="""
    SELECT id AS img_id, CAST(256 AS BIGINT) AS n_px,
           TRUE AS within_bound, TRUE AS syntax_ok
    FROM (SELECT unnest(generate_series(0, 59)) AS id)
    UNION ALL
    SELECT 1000 + id, CAST(100 AS BIGINT), TRUE, TRUE
    FROM (SELECT unnest(generate_series(0, 59)) AS id)
    """,
    doc="O7 lossy archival syntax executed for real (round 9): uint8 "
    "and uint16 synthetic corpora -> irreversible-9/7 JPEG 2000 DICOM "
    "encode (.4.91, from-scratch functions/jpeg2000.py: float 9/7 DWT "
    "Annex F.4.8, dead-zone scalar quantization E.4, shared EBCOT) -> "
    "decode -> per-image error audit. The bounded-error oracle: every "
    "image must satisfy max|out-in| <= ceil(1.5*delta*2^prec) and "
    "carry the .4.91 UID, stated closed-form by the oracle so any "
    "codec regression hash-mismatches. The reference reaches this "
    "syntax through pydicom+openjpeg (generate_images_from_dicom.py"
    ":44-51); HTJ2K (.4.201-203) remains the only pydicom-gated "
    "syntax (COVERAGE.md).",
    tags=("multimodal",),
)
def q_multimodal_j2k_lossy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    u8 = mm.synth_images(spark, n=60, height=16, width=16)
    u16 = mm.synth_images16(spark, n=60, height=10, width=10).withColumn(
        "img_id", F.col("img_id") + 1000
    )
    return mm.j2k_lossy_roundtrip_check(u8.unionByName(u16), delta=1 / 64)


_RECURSIVE_BFS_SQL = """
    WITH RECURSIVE pairs AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS STRING) AS c,
                        's' || CAST(l_suppkey AS STRING) AS s
        FROM {lineitem} JOIN {orders} ON l_orderkey = o_orderkey
        WHERE o_orderkey % 5 = 0
    ),
    e AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    ),
    reach(node, hop) AS (
        SELECT DISTINCT 'c' || CAST(c_custkey AS STRING) AS node, 0 AS hop
        FROM {customer} WHERE c_nationkey = 0
        UNION ALL
        SELECT e.dst, r.hop + 1
        FROM reach r JOIN e ON r.node = e.src
        WHERE r.hop < 2
    )
    SELECT node, CAST(min(hop) AS INTEGER) AS hop
    FROM reach GROUP BY node
"""


@register(
    "sql_recursive_bfs",
    oracle=_RECURSIVE_BFS_SQL.format(
        lineitem="lineitem", orders="orders", customer="customer"
    ),
    doc="Recursive-CTE BFS through the SQL API: Spark 4's WITH RECURSIVE "
    "runs the IDENTICAL query text DuckDB runs as the oracle — min-hop "
    "reachability (<=2 hops) from nation-0 customers over a thinned "
    "bidirectional trade graph. Third formulation of the same semantics "
    "as graph_bfs_hops' level-synchronous frontier loop: the recursive "
    "CTE enumerates paths (cost grows with path count, the unguarded "
    "form of the oracle's unrolled joins), which is why the frontier "
    "loop with anti-join pruning remains the 100 TB path; the SQL-API "
    "surface exists for the queries where recursion depth and fan-out "
    "are small and known.",
    tags=("graph", "sql"),
)
def q_sql_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Path enumeration grows superlinearly with SF (the doc's central
    # caveat); Spark 4's default 1M recursion-row limit trips at sf1
    # (~13M path rows). Budget 100M — but ONLY for this query: the
    # raised limit is a weakened runaway-recursion guard, so it must
    # not leak into every subsequently built query on the shared
    # session (ADVICE r7). newSession() shares the SparkContext and
    # cache but has an ISOLATED SQLConf; parquet.`path` table refs
    # avoid temp views, which would land in whichever session built
    # the cached DataFrame.
    sub = spark.newSession()
    sub.conf.set("spark.sql.cteRecursionRowLimit", 100_000_000)
    return sub.sql(
        _RECURSIVE_BFS_SQL.format(
            lineitem=f"parquet.`{sf_dir}/lineitem.parquet`",
            orders=f"parquet.`{sf_dir}/orders.parquet`",
            customer=f"parquet.`{sf_dir}/customer.parquet`",
        )
    )


@register(
    "cogrouped_reconcile_diff",
    oracle="""
    WITH old AS (
        SELECT user_id, event_id, value FROM events WHERE event_id % 7 <> 0
    ),
    new AS (
        SELECT user_id, event_id,
               CASE WHEN event_id % 5 = 0 THEN value + 1.0 ELSE value END
                   AS value
        FROM events WHERE event_id % 3 <> 0
    )
    SELECT COALESCE(o.user_id, n.user_id) AS user_id,
           CAST(sum(CASE WHEN o.event_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_added,
           CAST(sum(CASE WHEN n.event_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN o.event_id IS NOT NULL
                          AND n.event_id IS NOT NULL
                          AND o.value <> n.value THEN 1 ELSE 0 END)
               AS BIGINT) AS n_changed,
           CAST(sum(CASE WHEN o.event_id IS NOT NULL
                          AND n.event_id IS NOT NULL
                          AND o.value = n.value THEN 1 ELSE 0 END)
               AS BIGINT) AS n_same
    FROM old o
    FULL JOIN new n
      ON o.user_id = n.user_id AND o.event_id = n.event_id
    GROUP BY 1
    """,
    doc="cogroup().applyInPandas per-key snapshot reconciliation: both "
    "snapshots' rows for a key arrive together in one pandas pair "
    "(empty frame when one side lacks the key — both directions occur "
    "in this fixture). The escape hatch for per-key logic joins can't "
    "express; this aggregate is deliberately join-expressible so the "
    "Python path hash-checks exactly against the full-outer SQL. "
    "Shuffle cost equals the join's; prefer snapshot_diff (pure JVM) "
    "when a join fits.",
    tags=("events", "pandas"),
)
def q_cogrouped_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    old = ev.filter(F.col("event_id") % 7 != 0)
    new = ev.filter(F.col("event_id") % 3 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 5 == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )
    return rel.cogrouped_reconcile(old, new)


@register(
    "events_gap_fill_linear",
    oracle="""
    WITH obs AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               value,
               row_number() OVER (
                   PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events WHERE event_type = 'purchase'
    ),
    daily AS (
        SELECT user_id, day,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM obs WHERE rn = 1
    ),
    seq AS (
        SELECT user_id, day, cents,
               lead(day) OVER w AS next_day,
               lead(cents) OVER w AS next_cents
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY day)
    ),
    filled AS (
        SELECT user_id, day, next_day, cents, next_cents,
               unnest(generate_series(
                   day, COALESCE(next_day - 1, day), INTERVAL 1 DAY
               ))::DATE AS gen_day
        FROM seq
    )
    SELECT user_id,
           (gen_day - DATE '1970-01-01') AS epoch_day,
           CAST(gen_day = day AS INTEGER) AS is_observed,
           CAST(CASE WHEN next_day IS NULL THEN cents
                ELSE cents * (next_day - gen_day)
                     + next_cents * (gen_day - day) END AS BIGINT)
               AS interp_num,
           CAST(COALESCE(next_day - day, 1) AS BIGINT) AS interp_den
    FROM filled
    """,
    doc="X5+ linear-interpolation gap fill (the resample-and-interpolate "
    "twin of events_gap_fill_locf): densify each user's daily purchase "
    "series, interpolating gap days linearly between the surrounding "
    "observations. The interpolated value is exported as an EXACT "
    "rational (num = c0*(t1-g) + c1*(g-t0) over den = t1-t0, integer "
    "cents x day counts) because the engines' integer-division rounding "
    "disagrees on negative slopes (truncate vs floor) — the consumer "
    "divides once at the edge. Gap days generate from each key's own "
    "rows, never a dense-calendar cross join; one user_id exchange "
    "serves the dedup window, the lead, and the aggregate.",
    tags=("events",),
)
def q_events_gap_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = tables.load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    day = F.col("ts").cast("date")
    wd = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        ev.select(
            "user_id",
            day.alias("day"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .drop("rn", "ts", "event_id")
    )
    wu = Window.partitionBy("user_id").orderBy("day")
    seq = daily.withColumn("next_day", F.lead("day").over(wu)).withColumn(
        "next_cents", F.lead("cents").over(wu)
    )
    filled = seq.withColumn(
        "gen_day",
        F.explode(
            F.sequence(
                F.col("day"),
                F.coalesce(
                    F.date_sub(F.col("next_day"), 1), F.col("day")
                ),
                F.expr("INTERVAL 1 DAY"),
            )
        ),
    )
    dd = F.datediff
    return filled.select(
        "user_id",
        dd(F.col("gen_day"), F.lit("1970-01-01")).alias("epoch_day"),
        (F.col("gen_day") == F.col("day")).cast("int").alias("is_observed"),
        F.when(F.col("next_day").isNull(), F.col("cents"))
        .otherwise(
            F.col("cents") * dd(F.col("next_day"), F.col("gen_day"))
            + F.col("next_cents") * dd(F.col("gen_day"), F.col("day"))
        )
        .cast("long")
        .alias("interp_num"),
        F.coalesce(
            dd(F.col("next_day"), F.col("day")), F.lit(1)
        )
        .cast("long")
        .alias("interp_den"),
    )


_LATERAL_TOPK_SQL = """
    SELECT n.n_name, c.c_name, c.bal_cents
    FROM {nation} n,
    LATERAL (
        SELECT c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM {customer}
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name
        LIMIT 2
    ) c
"""


@register(
    "lateral_topk_per_nation",
    oracle=_LATERAL_TOPK_SQL.format(nation="nation", customer="customer"),
    doc="Correlated LATERAL subquery through the SQL API — top-2 "
    "customers by balance per nation, the IDENTICAL query text running "
    "on both engines. Catalyst decorrelates the lateral into a ranked "
    "window under the hood (same physical shape as window_topk_per_"
    "group), so the per-outer-row LIMIT never executes row-at-a-time; "
    "deterministic tie-break on (balance, name) keeps the hash exact.",
    tags=("relational", "sql"),
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables.load(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    tables.load(spark, sf_dir, "customer").createOrReplaceTempView(
        "_lat_customer"
    )
    return spark.sql(
        _LATERAL_TOPK_SQL.format(
            nation="_lat_nation", customer="_lat_customer"
        )
    )


@register(
    "null_semantics_probe",
    oracle="""
    WITH base AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 13 = 0 THEN NULL
                    ELSE o_orderstatus END AS status,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_custkey END AS cust
        FROM orders
    ),
    dim AS (
        SELECT DISTINCT
               CASE WHEN o_orderkey % 13 = 0 THEN NULL
                    ELSE o_orderstatus END AS status,
               'grp_' || COALESCE(CASE WHEN o_orderkey % 13 = 0 THEN NULL
                                       ELSE o_orderstatus END, '?') AS label
        FROM orders
    )
    SELECT b.status,
           any_value(d.label) AS label,
           count(*) AS n_rows,
           count(b.cust) AS n_cust_nonnull,
           CAST(count(DISTINCT b.cust) AS BIGINT) AS n_cust_distinct,
           CAST(sum(CASE WHEN b.cust IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_cust_null
    FROM base b
    JOIN dim d ON b.status IS NOT DISTINCT FROM d.status
    GROUP BY b.status
    """,
    doc="Cross-engine NULL semantics pinned by oracle: aggregate NULL "
    "exclusion (count(col) vs count(*)), count(DISTINCT) ignoring "
    "nulls, NULL grouping keys collapsing to one group, and the "
    "null-safe equality join (Spark's <=> == SQL's IS NOT DISTINCT "
    "FROM) that matches the NULL dimension row a plain equi-join would "
    "drop. These are the semantics data-cleaning pipelines silently "
    "depend on; the probe makes an engine divergence a red gate row "
    "instead of a quiet data loss.",
    tags=("relational",),
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, None)
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("cust"),
    )
    dim = base.select(
        "status",
        F.concat(F.lit("grp_"), F.coalesce("status", F.lit("?"))).alias(
            "label"
        ),
    ).distinct()
    joined = base.alias("b").join(
        dim.alias("d"), F.col("b.status").eqNullSafe(F.col("d.status"))
    )
    return joined.groupBy(F.col("b.status").alias("status")).agg(
        F.any_value("d.label").alias("label"),
        F.count("*").alias("n_rows"),
        F.count("b.cust").alias("n_cust_nonnull"),
        F.countDistinct("b.cust").cast("long").alias("n_cust_distinct"),
        F.sum(F.when(F.col("b.cust").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_cust_null"),
    )


@register(
    "events_props_json_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(sum(CASE WHEN CAST(props->>'k' AS INTEGER) >= 50
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_k_ge_50,
           max(CAST(props->>'k' AS INTEGER)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured payload analytics: the events.props JSON string "
    "column parsed with from_json under a DECLARED schema (JVM-side, "
    "codegen — no Python, no schema inference pass) and aggregated per "
    "type. The declared-schema parse is the 100 TB idiom: inference "
    "would scan the corpus twice, and get_json_object per field would "
    "re-parse the document per extraction; from_json parses once into "
    "a struct all downstream expressions share.",
    tags=("events", "json"),
)
def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    parsed = ev.withColumn("j", F.from_json("props", "k INT"))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("j.k").cast("long")).alias("sum_k"),
        F.sum(F.when(F.col("j.k") >= 50, 1).otherwise(0))
        .cast("long")
        .alias("n_k_ge_50"),
        F.max("j.k").alias("max_k"),
    )


@register(
    "dicom_png_export_counts",
    oracle="""
    WITH pats AS (SELECT unnest(generate_series(0, 39)) AS pid),
    numbered AS (
        SELECT pid, row_number() OVER (ORDER BY pid) AS rn,
               count(*) OVER () AS n
        FROM pats
    ),
    px AS (
        SELECT p.pid, (p.pid * 31 + i.i * 7) % 256 AS v
        FROM pats p
        CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS i) i
    ),
    sums AS (SELECT pid, sum(v) AS s FROM px GROUP BY pid)
    SELECT CASE WHEN rn <= round(n * 0.8) THEN 'train' ELSE 'val' END
               AS split,
           count(*) AS n_images,
           CAST(sum(s) AS BIGINT) AS sum_px
    FROM numbered JOIN sums USING (pid)
    GROUP BY 1
    """,
    doc="The reference's generate_images_from_dicom job end-to-end with "
    "REAL files and REAL codecs: a directory of .dcm files (staged "
    "deterministic fixtures) -> binaryFile scan with suffix glob and "
    "patient-id derivation (O6/O8) -> stdlib DICOM decode in Arrow "
    "batches (O7) -> deterministic 80/20 split (O9, ref :70-78) -> PNG "
    "files written per split from executors with manifest accounting "
    "(O10/O13, ref :80). Output: per-split image count (from the "
    "written-file manifests, so the files really exist) and total pixel "
    "sum (from the decoded arrays) — both re-derived closed-form by "
    "DuckDB without touching a file.",
    tags=("multimodal", "core"),
)
def q_dicom_png_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pathlib

    from .operators import multimodal as mm
    from .sinks.images import write_png_dir

    src = mm.stage_dicom_fixture_dir(n=40)
    files = mm.read_binary_dir(spark, src, glob="*.dcm")
    # the decoded-pixels subtree feeds FOUR consumers (split derivation,
    # the two per-split PNG writers, pixel_stats): pin it with an
    # explicit persist instead of relying on exchange-output reuse, so
    # the Arrow decode UDF runs once (MEMORY_AND_DISK spills; the
    # CacheManager dedupes by canonical plan, so re-running the query
    # re-uses this entry rather than stacking copies). At 100 TB the
    # same persist stands but DISK_ONLY — decoded pixels are ~raw-size,
    # and recomputing a decode per consumer is still worse than disk.
    decoded = mm.decode_dicom_batch(files).persist()
    split = rel.deterministic_split(
        decoded.select("img_id"), "img_id"
    ).select("img_id", "split")
    with_split = decoded.join(split, "img_id")
    out_root = pathlib.Path("/tmp/spark_graft_out")
    manifests = []
    for s in ("train", "val"):
        m = write_png_dir(
            with_split.filter(F.col("split") == s).drop("split"),
            str(out_root / f"dicom_png_{s}"),
        )
        manifests.append(m.withColumn("split", F.lit(s)))
    manifest = manifests[0].unionByName(manifests[1])
    counts = manifest.groupBy("split").agg(F.count("*").alias("n_images"))
    sums = (
        mm.pixel_stats(with_split)
        .join(split, "img_id")
        .groupBy("split")
        .agg(F.sum("sum_px").alias("sum_px"))
    )
    return counts.join(sums, "split")


@register(
    "multimodal_augmented_stats",
    oracle="""
    WITH px AS (
        SELECT g.id AS img_id, (g.id * 31 + i.i * 7) % 256 AS v
        FROM (SELECT unnest(generate_series(0, 199)) AS id) g
        CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS i) i
    )
    SELECT img_id,
           CAST(sum(v) AS BIGINT) AS sum_px,
           round(avg(v), 6) AS mean_px,
           CAST(min(v) AS INTEGER) AS min_px,
           CAST(max(v) AS INTEGER) AS max_px
    FROM px GROUP BY img_id
    """,
    doc="X7+O15 flip-involution through the full UDF pipeline: "
    "flip(flip(img)) must reproduce every source pixel, so stats after a "
    "double flip equal the closed-form oracle of the source corpus - an "
    "end-to-end value check on kernel application.",
    tags=("multimodal",),
)
def q_multimodal_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    imgs = mm.synth_images(spark, n=200, height=16, width=16)
    flipped_twice = mm.apply_kernel(mm.apply_kernel(imgs, "flip"), "flip")
    return mm.pixel_stats(flipped_twice)


# ---------------------------------------------------------------------------
# O19/O20/O21 — the full 7-stage augmentation DAG; O33 — sharded sink.
# ---------------------------------------------------------------------------


@register(
    "augmentation_dag_counts",
    oracle=f"""
    WITH labels AS ({_LABELS_FROM_LINEITEM_SQL}),
    patients AS (
        SELECT patient_id, max(target) AS target FROM labels GROUP BY patient_id
    ),
    nb AS (
        SELECT patient_id, count(*) AS n_boxes
        FROM labels WHERE CAST(target AS INTEGER) <> 0 GROUP BY patient_id
    ),
    eligible AS (
        SELECT p.patient_id, s.stage, s.k, COALESCE(nb.n_boxes, 1) AS rows_per_img
        FROM patients p
        CROSS JOIN (VALUES (1,5,0),(2,25,1),(3,25,1),(4,5,0),(5,25,1),(6,5,1),(7,5,1))
             AS s(stage, k, pos_only)
        LEFT JOIN nb ON nb.patient_id = p.patient_id
        WHERE s.pos_only = 0 OR CAST(p.target AS INTEGER) <> 0
    )
    SELECT stage,
           CAST(count(*) AS BIGINT) AS n_patients,
           CAST(sum(k) * 2 AS BIGINT) AS n_images,
           CAST(sum(k * rows_per_img) * 2 AS BIGINT) AS n_rows
    FROM eligible GROUP BY stage
    """,
    doc="O19+O20+O21 full 7-stage augmentation DAG as ONE lazy plan "
    "(vs the reference's 7 rescans, generate_images_from_dicom.py:"
    "282-561): per-stage patient eligibility, explode fan-out x flip "
    "twin, synthetic ids, unionByName. Checked invariants: 20 variants "
    "per negative / 190 per positive, id uniqueness, box-row fan-out.",
    tags=("core", "headline"),
)
def q_augmentation_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import augmentation as aug

    # typed-labels subtree fans out to patients + boxes, each consumed
    # by all 7 augmentation stages: persist pins the one stringify+parse
    # shuffle instead of 14 statically re-derived copies (runtime
    # exchange reuse already collapses most, but the pin is explicit
    # and survives plan changes that would break reuse-by-canonical-form)
    labels = labels_ops.typed_labels(
        _lineitem_as_raw_labels(spark, sf_dir)
    ).persist()
    patients = labels_ops.captions_per_patient(labels)
    boxes = labels_ops.positive_boxes(labels).select(
        "patient_id", "x", "y", "width", "height"
    )
    out = aug.augment(patients, boxes)
    # Two-level exact aggregation (round 11, guide §2.3): the direct
    # two-countDistinct form plans an Expand ×3 — every fan-out row is
    # tripled (63M → 190M at sf0.1) before the partial aggregate. Level
    # 1 groups by (stage, patient_id, image_id) — the REAL synthesized
    # id strings, so the id-uniqueness invariant is still computed from
    # the ids themselves — and because image_id embeds patient_id, the
    # level-1 group count per stage IS countDistinct(image_id) and
    # sum(_c) IS count(*). Level 2 keeps one countDistinct(patient_id),
    # a single distinct group = no Expand anywhere. Values pinned
    # identical by the shared oracle; measured 63M-row fan-out at
    # sf0.1: ~9.8-13 s → ~6.5-7.9 s warm (Expand 1 → 0 in the plan).
    lvl1 = out.groupBy("stage", "patient_id", "image_id").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return lvl1.groupBy("stage").agg(
        F.countDistinct("patient_id").alias("n_patients"),
        F.count(F.lit(1)).alias("n_images"),
        F.sum("_c").alias("n_rows"),
    )


@register(
    "shard_assignment",
    oracle="""
    WITH numbered AS (
        SELECT o_orderkey,
               row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
        FROM orders
    )
    SELECT CAST(rn % 32 AS INTEGER) AS shard,
           count(*) AS n,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key
    FROM numbered GROUP BY 1
    """,
    doc="O33 round-robin shard assignment (images_to_tfrecord.py:252: "
    "idx % num_shards, 32 val shards): faithful modulo-of-global-index "
    "semantics; hash_shards is the scale path.",
    tags=("core",),
)
def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sinks import sharded

    orders = tables.load(spark, sf_dir, "orders").select("o_orderkey")
    return sharded.roundrobin_shards(orders, "o_orderkey", 32).groupBy(
        "shard"
    ).agg(
        F.count("*").alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# X2e — embedding-cosine near-duplicate detection (SRP-LSH + exact verify)
# ---------------------------------------------------------------------------

from .operators.similarity import srp_sign_vectors as _srp_signs  # noqa: E402

_SRP_BITS, _SRP_DIM, _SRP_BLOCKS = 16, 64, 4
_SIGNS = _srp_signs(_SRP_BITS, _SRP_DIM)


def _srp_sql_blocks() -> str:
    """blk0..blk3 expressions: 4 bits each from ±1-hyperplane dot signs."""
    bits_per = _SRP_BITS // _SRP_BLOCKS
    blocks = []
    for b in range(_SRP_BLOCKS):
        terms = []
        for r in range(bits_per):
            h = b * bits_per + r
            arr = "[" + ", ".join(str(s) for s in _SIGNS[h]) + "]::DOUBLE[]"
            terms.append(
                f"(CASE WHEN list_dot_product(ve, {arr}) > 0 "
                f"THEN {1 << r} ELSE 0 END)"
            )
        blocks.append(" + ".join(terms) + f" AS blk{b}")
    return ",\n           ".join(blocks)


_VECTOR_CORPUS_SQL = """
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
    UNION ALL
    SELECT vec_id + 100000, list_concat([ve[1] + 0.05], ve[2:])
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)
    WHERE vec_id % 10 = 0
"""


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH corpus AS ({_VECTOR_CORPUS_SQL}),
    sig AS (
        SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS norm,
           {{blocks}}
        FROM corpus
    ),
    blocks AS (
        SELECT vec_id, ve, norm, blk,
               CASE blk WHEN 0 THEN blk0 WHEN 1 THEN blk1
                        WHEN 2 THEN blk2 ELSE blk3 END AS blk_val
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS blk) t
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM blocks a
        JOIN blocks b ON a.blk = b.blk AND a.blk_val = b.blk_val
                     AND a.vec_id < b.vec_id
    ),
    verified AS (
        SELECT doc_a, doc_b,
               round(list_dot_product(ca.ve, cb.ve) / (ca.norm * cb.norm), 6)
                   AS cosine
        FROM cand
        JOIN sig ca ON ca.vec_id = doc_a
        JOIN sig cb ON cb.vec_id = doc_b
    )
    SELECT doc_a, doc_b, cosine FROM verified WHERE cosine >= 0.995
    """.format(blocks=_srp_sql_blocks()),
    doc="X2e embedding-cosine near-dup: 16-bit signed-random-projection "
    "signatures (deterministic md5-parity Rademacher hyperplanes, "
    "portable across engines), pigeonhole block join (max hamming 3 -> "
    "4 blocks), exact cosine verification at 0.995. Candidate-bound cost "
    "like MinHash-LSH, never O(n^2); blocking affects cost, not results.",
    tags=("dedup", "similarity"),
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.col("embedding")[0] + F.lit(0.05)),
            F.slice("embedding", 2, _SRP_DIM - 1),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    return sim.embedding_neardup_pairs(
        corpus, threshold=0.995, n_bits=_SRP_BITS, max_hamming=3,
        dim=_SRP_DIM,
    )


# ---------------------------------------------------------------------------
# O36 / O25 / O12+O23 — examples-list scan, metadata projection, JSON sinks
# ---------------------------------------------------------------------------


@register(
    "examples_list_tokens",
    oracle="""
    SELECT split_part(trim(o_orderkey || '  ' || o_orderpriority), ' ', 1)
               AS example_id,
           count(*) AS n
    FROM orders
    GROUP BY 1
    """,
    doc="O36 examples-list text scan (dataset_util.py:41-56): lines -> "
    "first whitespace token. Line content synthesized from orders "
    "(id + space + noise) so the token-extraction semantics are "
    "oracle-checked; the file-based reader is sources.readers."
    "read_examples_list, unit-tested on real text files.",
    tags=("core",),
)
def q_examples_list_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import readers

    orders = tables.load(spark, sf_dir, "orders")
    lines = orders.select(
        F.concat_ws(
            "  ", F.col("o_orderkey").cast("string"), F.col("o_orderpriority")
        ).alias("value")
    )
    return (
        lines.select(readers.first_token("value").alias("example_id"))
        .groupBy("example_id")
        .agg(F.count("*").alias("n"))
    )


@register(
    "image_metadata_projection",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS id,
           1024 AS height, 1024 AS width,
           'train_images/' || o_orderkey || '.png' AS file_name
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
    doc="O25 derived image-metadata projection (images_to_tfrecord.py:"
    "201): constant dims + synthesized file path per id. Pure narrow "
    "projection; Catalyst folds the constants.",
    tags=("core",),
)
def q_image_metadata_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.lit(1024).alias("height"),
        F.lit(1024).alias("width"),
        F.concat(
            F.lit("train_images/"),
            F.col("o_orderkey").cast("string"),
            F.lit(".png"),
        ).alias("file_name"),
    )


@register(
    "json_sink_roundtrip",
    oracle="""
    WITH ann AS (
        SELECT CAST(o_custkey AS VARCHAR) AS patient_id, o_orderpriority
        FROM orders WHERE o_orderkey % 50 = 0
    )
    SELECT o_orderpriority AS priority, count(*) AS n,
           min(patient_id) AS min_id
    FROM ann GROUP BY 1
    """,
    doc="O12+O23 JSON sink + scan: writes line-delimited annotation JSON "
    "(df.write.json, overwrite), reads it back with the explicit schema, "
    "aggregates. The oracle aggregates the same rows directly, so any "
    "write/read corruption or schema drift fails the value hash.",
    tags=("core", "sink"),
)
def q_json_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sinks import json_sink
    from pyspark.sql import types as T

    orders = tables.load(spark, sf_dir, "orders")
    ann = orders.filter(F.col("o_orderkey") % 50 == 0).select(
        F.col("o_custkey").cast("string").alias("patient_id"),
        "o_orderpriority",
    )
    path = _scratch_dir("json_roundtrip_") + "/ann"
    json_sink.write_json(ann, path, num_files=4)
    schema = T.StructType(
        [
            T.StructField("patient_id", T.StringType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n"), F.min("patient_id").alias("min_id")
    )


@register(
    "tfrecord_scan_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           md5(text) AS text_md5
    FROM documents
    """,
    doc="O35+ TFRecord write -> SCAN -> decode roundtrip (VERDICT r7 "
    "#4: the read side of the one asymmetric format): documents are "
    "encoded as tf.train.Example protos and framed into 8 CRC32C "
    "shards by the sink, scanned back with the tfrecord Python "
    "DataSource (one partition per shard, streamed Arrow batches, "
    "CRCs verified), payloads decoded by the from-scratch proto "
    "parser inside mapInPandas, and the reconstructed values are "
    "hashed per doc. The oracle hashes the SOURCE table directly, so "
    "any corruption in encode, framing, scan, or decode fails the "
    "value hash.",
    tags=("sink", "source", "multimodal"),
)
def q_tfrecord_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sinks import tfrecord as tfr
    from .sources import tfrecord_source as tfs

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    out = _scratch_dir("tfrec_roundtrip_") + "/shards"
    tfr.write_tfrecord_shards(
        docs,
        out,
        8,
        lambda r: {"doc_id": [r["doc_id"]], "text": [r["text"]]},
    )

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            rows = [tfr.decode_example(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": [r["doc_id"][0] for r in rows],
                    "text": [r["text"][0].decode("utf8") for r in rows],
                }
            )

    return (
        tfs.scan_tfrecords(spark, out)
        .mapInPandas(decode, "doc_id long, text string")
        .select(
            "doc_id",
            F.length("text").cast("bigint").alias("n_chars"),
            F.md5("text").alias("text_md5"),
        )
    )


# ---------------------------------------------------------------------------
# X6 extensions — session windows (batch [Q] + streaming twin) and a
# custom stateful operator.
# ---------------------------------------------------------------------------


@register(
    "events_session_agg",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         < 1800000000
                    THEN 0 ELSE 1 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM marked
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="X6 session-window aggregation, batch semantics: Spark's native "
    "session_window (merging gap-based sessions, end = last event + "
    "gap). Oracle derives identical sessions with lag/cumsum. A session "
    "splits when the gap is >= 30 min (session_window intervals are "
    "end-exclusive).",
    tags=("events",),
)
def q_events_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events_stream as es

    return es.session_agg_batch(tables.load(spark, sf_dir, "events"))


@register(
    "events_session_streaming",
    # bounded replay deterministic → events_session_agg's SQL is a full
    # value oracle (lag/cumsum-derived sessions == session_window)
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         < 1800000000
                    THEN 0 ELSE 1 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM marked
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="X6 Structured Streaming session windows: file-source replay -> "
    "watermark -> session_window -> memory sink. Bounded replay is "
    "deterministic, so the batch-twin SQL is a full value oracle.",
    tags=("events", "streaming"),
)
def q_events_session_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    return es.run_bounded(es.session_agg_stream(stream))


@register(
    "events_stateful_running_totals",
    # final per-user state of the bounded replay == the batch aggregate
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY user_id
    """,
    doc="X6 custom stateful operator (applyInPandasWithState): per-user "
    "running totals kept in explicit group state across micro-batches. "
    "The escape hatch for stateful logic built-in aggregations can't "
    "express; deliberately verifiable against groupBy().agg().",
    tags=("events", "streaming"),
)
def q_events_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    out = es.run_bounded(es.user_running_totals_stream(stream), mode="update")
    # update-mode emits one row per user per micro-batch; the final state
    # per user is the row with the max n_events
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("sum_value", F.round("sum_value", 2))
    )


# ---------------------------------------------------------------------------
# Temporal joins — as-of join and bucketed range join (operators Spark
# has no native primitive for; operators/temporal.py).
# ---------------------------------------------------------------------------


@register(
    "asof_join_last_purchase",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id AS event_id,
           c.user_id AS user_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
           round(COALESCE(p.value, -1.0), 2) AS last_purchase_value
    FROM clicks c
    ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    doc="As-of join (backward): every click gets the user's latest "
    "purchase value at-or-before its timestamp. Union-tag + running "
    "last_value composition - ONE shuffle on user_id, one window pass; "
    "never a per-key loop or theta join. Oracle: DuckDB's native ASOF "
    "LEFT JOIN.",
    tags=("temporal", "join"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import temporal

    ev = tables.load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    joined = temporal.asof_join(
        clicks, purch, key="user_id", value_cols=["purchase_value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("click_epoch"),
        F.round(F.coalesce("purchase_value_asof", F.lit(-1.0)), 2).alias(
            "last_purchase_value"
        ),
    )


@register(
    "range_join_attribution",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    windows AS (
        SELECT event_id AS purchase_id, user_id, ts AS start_ts,
               ts + INTERVAL 2 HOUR AS end_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id AS click_id, w.purchase_id AS purchase_id,
           c.user_id AS user_id
    FROM clicks c
    JOIN windows w ON c.user_id = w.user_id
                  AND c.ts >= w.start_ts AND c.ts < w.end_ts
    """,
    doc="Range join (point-in-interval, equi-key): attribute clicks to "
    "2-hour post-purchase windows. Bucketed implementation: intervals "
    "explode onto covering 1h buckets, points carry one bucket, join on "
    "(key,bucket) + exact containment - fan-out is span/bucket per "
    "interval, never |points|x|intervals|. Oracle: plain theta join.",
    tags=("temporal", "join"),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import temporal

    ev = tables.load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id"), "user_id", "ts"
    )
    windows = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    joined = temporal.range_join_bucketed(
        clicks, windows, key="user_id", bucket_seconds=3600
    )
    return joined.select(
        F.col("event_id").alias("click_id"), "purchase_id", "user_id"
    )


# ---------------------------------------------------------------------------
# X7 extensions — video frame sampling and audio features over synthetic
# multimodal corpora (closed-form pixels/samples -> exact SQL oracles).
# ---------------------------------------------------------------------------


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT v.vid_id AS vid_id, f.frame_idx AS frame_idx,
           CAST(sum((v.vid_id * 131 + f.frame_idx * 17 + j.j * 7) % 256)
               AS BIGINT) AS sum_px,
           min((v.vid_id * 131 + f.frame_idx * 17 + j.j * 7) % 256)
               AS min_px,
           max((v.vid_id * 131 + f.frame_idx * 17 + j.j * 7) % 256)
               AS max_px
    FROM (SELECT unnest(generate_series(0, 59)) AS vid_id) v
    CROSS JOIN (SELECT unnest(generate_series(0, 11, 3)) AS frame_idx) f
    CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
    GROUP BY 1, 2
    """,
    doc="X7 video frame sampling: binary frame-concatenated videos -> "
    "every 3rd frame sliced out by offset arithmetic inside mapInPandas "
    "(no codec, no shuffle) -> per-frame stats. The synthetic corpus is "
    "closed-form, so DuckDB recomputes every sampled frame's stats from "
    "the formula - the whole binary/Arrow path is value-checked.",
    tags=("multimodal",),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    videos = mm.synth_videos(spark, n=60, n_frames=12, height=8, width=8)
    return mm.frame_stats(mm.sample_frames(videos, stride=3))


@register(
    "multimodal_audio_features",
    oracle="""
    WITH samples AS (
        SELECT c.clip_id AS clip_id, i.i AS i,
               ((c.clip_id * 17 + i.i * 13) % 2048) - 1024 AS s
        FROM (SELECT unnest(generate_series(0, 99)) AS clip_id) c
        CROSS JOIN (SELECT unnest(generate_series(0, 1999)) AS i) i
    )
    , lagged AS (
        SELECT clip_id, i, s,
               lag(s) OVER (PARTITION BY clip_id ORDER BY i) AS prev_s
        FROM samples
    )
    SELECT clip_id,
           CAST(sum(s * s) AS BIGINT) AS energy,
           CAST(sum(CASE WHEN prev_s IS NOT NULL AND (s >= 0) <> (prev_s >= 0)
               THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           2000 AS n_samples
    FROM lagged
    GROUP BY clip_id
    """,
    doc="X7 audio columns: int16 waveforms as binary + metadata; "
    "integer-exact features (energy = sum of squares, zero-crossing "
    "count) computed in Arrow batches and value-checked against the "
    "closed-form synthetic waveform recomputed in SQL.",
    tags=("multimodal",),
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    return mm.audio_features(mm.synth_audio(spark, n=100, n_samples=2000))


# ---------------------------------------------------------------------------
# X8 extensions — cube/grouping sets, skew-salted aggregation, exact
# percentiles, scalar function library.
# ---------------------------------------------------------------------------


@register(
    "cube_aggregation",
    oracle="""
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS total
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    doc="X8 CUBE aggregation (all 4 grouping-set combinations in one "
    "pass): Spark plans a single Expand + aggregation - one shuffle "
    "for every subtotal level, not one job per level.",
    tags=("relational",),
)
def q_cube_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
                " AS DOUBLE) / 100.0"
            ).alias("total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
            "total",
        )
    )


@register(
    "skew_salted_aggregation",
    oracle="""
    SELECT l_returnflag AS returnflag,
           count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS revenue,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Skew handling: l_returnflag has 3 distinct values over the "
    "whole fact table - the textbook hot-key aggregation. Salted "
    "two-stage form: stage 1 groups by (key, salt16) spreading each "
    "hot key over 16 reducers, stage 2 merges <=16 partials per key. "
    "Oracle is the plain GROUP BY - identical results by construction "
    "(decomposable aggregates).",
    tags=("relational", "skew"),
)
def q_skew_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem").withColumn(
        "_cents", F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    )
    out = rel.salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "n": ("l_returnflag", "count"),
            "revenue_cents": ("_cents", "sum"),
            "min_qty": ("l_quantity", "min"),
            "max_qty": ("l_quantity", "max"),
        },
        n_salt=16,
    )
    return out.select(
        F.col("l_returnflag").alias("returnflag"),
        "n",
        F.expr("CAST(revenue_cents AS DOUBLE) / 100.0").alias("revenue"),
        "min_qty",
        "max_qty",
    )


@register(
    "exact_percentiles",
    oracle="""
    SELECT l_returnflag AS returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact linear-interpolation percentiles per group (Spark "
    "percentile == DuckDB quantile_cont semantics). At 100 TB swap in "
    "approx_percentile (t-digest sketch, mergeable, single pass) - "
    "declared here so the exact/approx pair share one call site.",
    tags=("relational",),
)
def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    # ONE percentile aggregate with an array of fractions: each exact
    # percentile() buffers the whole group's values independently, so
    # three scalar calls triple the buffer build/merge (measured
    # 3.6-4.3 s -> 1.7-2.1 s at sf0.1, identical values)
    return (
        li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))"
            ).alias("_p")
        )
        .selectExpr(
            "returnflag",
            "round(_p[0], 4) AS p50",
            "round(_p[1], 4) AS p90",
            "round(_p[2], 4) AS p99",
        )
    )


@register(
    "winsorized_outlier_clip",
    oracle="""
    WITH bounds AS (
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
               round(quantile_cont(l_extendedprice, 0.95), 4) AS hi
        FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag AS returnflag,
           count(*) FILTER (WHERE l_extendedprice < lo) AS n_clipped_low,
           count(*) FILTER (WHERE l_extendedprice > hi) AS n_clipped_high,
           CAST(sum(
               CASE WHEN l_extendedprice < lo
                        THEN CAST(round(lo * 10000) AS BIGINT)
                    WHEN l_extendedprice > hi
                        THEN CAST(round(hi * 10000) AS BIGINT)
                    ELSE CAST(round(l_extendedprice * 10000) AS BIGINT)
               END) AS BIGINT) AS winsorized_c4
    FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
    GROUP BY 1
    """,
    doc="Per-group winsorization: clamp values to the group's rounded "
    "[p05, p95] band (outlier clipping before training-statistics "
    "export). Two passes: a group-percentile aggregate (dim-sized -> "
    "broadcast back) then one clamped re-aggregate; at 100 TB the "
    "first pass swaps to approx_percentile with no shape change.",
    tags=("relational",),
)
def q_winsorized_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    # one array-fraction percentile buffer, not two (see
    # q_exact_percentiles — each scalar call buffers the group anew)
    bounds = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.05D, 0.95D))"
            ).alias("_p")
        )
        .selectExpr(
            "l_returnflag",
            "round(_p[0], 4) AS lo",
            "round(_p[1], 4) AS hi",
        )
    )
    j = li.join(F.broadcast(bounds), "l_returnflag")
    return j.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.when(F.col("l_extendedprice") < F.col("lo"), 1)).alias(
            "n_clipped_low"
        ),
        F.count(F.when(F.col("l_extendedprice") > F.col("hi"), 1)).alias(
            "n_clipped_high"
        ),
        F.expr(
            "CAST(sum(CASE WHEN l_extendedprice < lo "
            "THEN CAST(round(lo * 10000) AS BIGINT) "
            "WHEN l_extendedprice > hi "
            "THEN CAST(round(hi * 10000) AS BIGINT) "
            "ELSE CAST(round(l_extendedprice * 10000) AS BIGINT) "
            "END) AS BIGINT)"
        ).alias("winsorized_c4"),
    )


@register(
    "scalar_function_kernel",
    oracle="""
    SELECT regexp_replace(o_orderpriority || '.dcm', '\\.dcm$', '')
               AS priority_id,
           o_orderkey || '-shift-' || (o_orderkey % 5) || '-1' AS variant_id,
           trunc(CAST(o_totalprice AS DOUBLE) / 100.0)::INTEGER AS price_bucket,
           md5(o_orderpriority || '|' || o_orderkey) AS content_key,
           length(o_orderpriority) AS priority_len
    FROM orders
    WHERE o_orderkey % 97 = 0
    """,
    doc="Scalar function library (SURVEY.md scalar inventory, "
    "functions/scalars.py): suffix strip, variant-id synthesis, "
    "int(float()) truncation, content hashing - all JVM built-ins "
    "inside one codegen stage, no UDFs.",
    tags=("functions",),
)
def q_scalar_function_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import scalars as sc

    orders = tables.load(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") % 97 == 0).select(
        sc.strip_suffix(
            F.concat(F.col("o_orderpriority"), F.lit(".dcm"))
        ).alias("priority_id"),
        sc.synth_variant_id(
            F.col("o_orderkey"), "shift", F.col("o_orderkey") % 5, 1
        ).alias("variant_id"),
        sc.int_of_float(F.col("o_totalprice") / 100.0).alias("price_bucket"),
        F.md5(
            F.concat_ws(
                "|", "o_orderpriority", F.col("o_orderkey").cast("string")
            )
        ).alias("content_key"),
        F.length("o_orderpriority").alias("priority_len"),
    )


# ---------------------------------------------------------------------------
# O31 — nested training-record assembly (the tf.Example row shape)
# ---------------------------------------------------------------------------


@register(
    "nested_record_assembly",
    oracle="""
    WITH labels AS ({labels}),
    boxes AS (
        SELECT patient_id, x, y, width, height
        FROM labels
        WHERE CAST(target AS INTEGER) <> 0
          AND width > 0 AND height > 0
          AND x + width <= 1024 AND y + height <= 1024
    )
    SELECT patient_id AS image_id,
           1024 AS height, 1024 AS width,
           patient_id || '.png' AS file_name,
           count(*) AS n_boxes,
           string_agg(CAST(CAST(x AS BIGINT) * 1000000 // 1024 AS VARCHAR),
                      ';' ORDER BY x, y, width, height) AS xmins_u,
           string_agg(CAST(CAST(x + width AS BIGINT) * 1000000 // 1024
                           AS VARCHAR),
                      ';' ORDER BY x, y, width, height) AS xmaxs_u,
           string_agg(CAST(CAST(y AS BIGINT) * 1000000 // 1024 AS VARCHAR),
                      ';' ORDER BY x, y, width, height) AS ymins_u,
           string_agg('pneumonia', ';') AS class_names,
           string_agg(CAST(width * height AS VARCHAR), ';'
                      ORDER BY x, y, width, height) AS areas
    FROM boxes
    GROUP BY patient_id
    """.format(labels=_LABELS_FROM_LINEITEM_SQL),
    doc="O31 nested-record assembly (images_to_tfrecord.py:135-169): per "
    "image, scalars + parallel per-box arrays (normalized coords, class "
    "names, areas) - the tf.Example shape as one groupBy with multiple "
    "sorted collect_lists. Normalized coords exported as exact integer "
    "micro-units (x*1e6 DIV 1024) so the differential hash never "
    "depends on float-to-string formatting. Includes the O28 validity "
    "filter upstream; float normalization itself is covered by "
    "normalize_coords.",
    tags=("core",),
)
def q_nested_record_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _lineitem_as_raw_labels(spark, sf_dir)
    labels = labels_ops.typed_labels(raw)
    boxes = labels.filter(
        (F.col("target").cast("int") != 0) & rel.box_valid(1024, 1024)
    )
    x, y, w, h = (F.col(c).cast("long") for c in ("x", "y", "width", "height"))
    units = boxes.select(
        "patient_id",
        "x", "y", "width", "height",
        (x * 1_000_000 / 1024).cast("long").alias("xmin_u"),
        ((x + w) * 1_000_000 / 1024).cast("long").alias("xmax_u"),
        (y * 1_000_000 / 1024).cast("long").alias("ymin_u"),
        (F.col("width") * F.col("height")).alias("area"),
    )
    sort_key = F.struct("x", "y", "width", "height")

    def agg_str(col: str) -> F.Column:
        return F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(sort_key.alias("k"), F.col(col).alias("v"))
                    )
                ),
                lambda s: s.v.cast("string"),
            ),
            ";",
        )

    return units.groupBy(F.col("patient_id").alias("image_id")).agg(
        F.lit(1024).alias("height"),
        F.lit(1024).alias("width"),
        F.concat(F.col("patient_id"), F.lit(".png")).alias("file_name"),
        F.count("*").alias("n_boxes"),
        agg_str("xmin_u").alias("xmins_u"),
        agg_str("xmax_u").alias("xmaxs_u"),
        agg_str("ymin_u").alias("ymins_u"),
        F.array_join(
            F.transform(F.collect_list(F.lit("pneumonia")), lambda s: s), ";"
        ).alias("class_names"),
        agg_str("area").alias("areas"),
    )


# ---------------------------------------------------------------------------
# X2d — near-dup clustering (connected components over LSH candidates)
# ---------------------------------------------------------------------------


@register(
    "dedup_clusters",
    oracle=f"""
    WITH shingles AS ({{shingles}}),
    mh AS (
        SELECT doc_id, s.i AS i,
               min(substring(md5((s.i // 4) || '|' || shingle),
                             1 + 8 * (s.i % 4), 8)) AS mh
        FROM shingles CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) s
        GROUP BY doc_id, s.i
    ),
    bands AS (
        SELECT doc_id, i // 2 AS band,
               md5(string_agg(mh, '|' ORDER BY i)) AS band_hash
        FROM mh GROUP BY doc_id, i // 2
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                    AND a.doc_id <> b.doc_id
    ),
    nodes AS (SELECT DISTINCT u AS node FROM pairs),
    reach AS (
        WITH RECURSIVE r(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT p.v, r.label FROM r JOIN pairs p ON p.u = r.node
        )
        SELECT node, min(label) AS component FROM r GROUP BY node
    ),
    sized AS (
        SELECT component, count(*) AS cluster_size FROM reach GROUP BY 1
    )
    SELECT r.node AS doc_id, r.component AS component,
           s.cluster_size AS cluster_size,
           r.node = r.component AS is_keeper
    FROM reach r JOIN sized s USING (component)
    """.format(shingles=_SHINGLES_SQL),
    doc="X2d near-dup clustering: MinHash-LSH candidate pairs -> "
    "connected components by iterative min-label propagation "
    "(localCheckpoint per round so the plan stays flat; O(diameter) "
    "rounds, each one shuffle-join+agg) -> deterministic keeper per "
    "cluster. Oracle recomputes components with a recursive CTE "
    "(min reachable id over the symmetrized candidate graph).",
    tags=("dedup",),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    return dedup.dedup_clusters(_planted_corpus(spark, sf_dir))


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tokens AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
        FROM documents
    ),
    tok AS (SELECT doc_id, term FROM tokens WHERE term <> ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6),
                     6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term
               ) AS rank
        FROM scored
    )
    SELECT doc_id, rank, term, tfidf FROM ranked WHERE rank <= 3
    """,
    doc="X4 TF-IDF top-3 distinguishing terms per document: exploded "
    "token inverted index, tf and distinct-doc df aggregations, "
    "broadcast idf join, windowed top-k with total tie-break.",
    tags=("text",),
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    return ta.tfidf_top_terms(docs, k=3)


@register(
    "global_topk_orders",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="Global top-k: ORDER BY ... LIMIT plans as TakeOrderedAndProject "
    "- each partition keeps its local top-10, the driver merges k*P "
    "rows. Never a full global sort; the only safe 'global ORDER BY' "
    "at 100 TB.",
    tags=("relational",),
)
def q_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
        .limit(10)
    )


@register(
    "full_outer_join_recon",
    oracle="""
    WITH a AS (
        SELECT o_custkey AS custkey, count(*) AS n_orders
        FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
    ),
    b AS (
        SELECT o_custkey AS custkey, count(*) AS n_f
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
    )
    SELECT COALESCE(a.custkey, b.custkey) AS custkey,
           COALESCE(a.n_orders, 0) AS open_orders,
           COALESCE(b.n_f, 0) AS finished_orders
    FROM a FULL OUTER JOIN b ON a.custkey = b.custkey
    """,
    doc="Full-outer join reconciliation (the join type the reference "
    "never needed): customers with open and/or finished orders, nulls "
    "coalesced. Completes the join-type surface: inner/semi/anti/left/"
    "broadcast dim/theta/asof/range + full outer.",
    tags=("relational",),
)
def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").groupBy(
        F.col("o_custkey").alias("custkey")
    ).agg(F.count("*").alias("n_orders"))
    b = orders.filter(F.col("o_orderstatus") == "F").groupBy(
        F.col("o_custkey").alias("custkey")
    ).agg(F.count("*").alias("n_f"))
    return a.join(b, "custkey", "full_outer").select(
        "custkey",
        F.coalesce("n_orders", F.lit(0)).alias("open_orders"),
        F.coalesce("n_f", F.lit(0)).alias("finished_orders"),
    )


# ---------------------------------------------------------------------------
# EP1+EP2 — the full reference pipeline end-to-end (pipelines.py)
# ---------------------------------------------------------------------------


@register(
    "rsna_pipeline_counts",
    oracle=f"""
    WITH labels AS ({_LABELS_FROM_LINEITEM_SQL}),
    sub AS (
        SELECT * FROM labels WHERE CAST(patient_id AS BIGINT) % 101 = 0
    ),
    patients AS (
        SELECT patient_id, max(target) AS target FROM sub GROUP BY 1
    ),
    split AS (
        SELECT patient_id, target,
               CASE WHEN row_number() OVER (ORDER BY patient_id)
                         <= round(count(*) OVER () * 0.8)
                    THEN 'train' ELSE 'val' END AS split
        FROM patients
    )
    SELECT split,
           count(*) AS n_patients,
           CAST(sum(CASE WHEN CAST(target AS INTEGER) <> 0
                    THEN 190 ELSE 20 END) AS BIGINT) AS n_images
    FROM split
    GROUP BY split
    """,
    doc="EP1+EP2 end-to-end (pipelines.py::run_rsna_pipeline): labels "
    "ingest -> deterministic split -> 7-stage augmentation -> validity "
    "+ normalization -> nested assembly -> sharded TFRecord sink (real "
    "files, CRC-framed, written to /tmp). Returned counts must equal "
    "the reference's own fan-out accounting (20 images/negative, "
    "190/positive, 80/20 split) recomputed in SQL. Subsampled 1:101 so "
    "the gate stays fast.",
    tags=("core", "pipeline"),
)
def q_rsna_pipeline_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .pipelines import run_rsna_pipeline
    from .sinks import tfrecord as tfr

    raw = _lineitem_as_raw_labels(spark, sf_dir).filter(
        F.col("patientId").cast("bigint") % 101 == 0
    )
    out = tempfile.mkdtemp(prefix="rsna_e2e_")
    res = run_rsna_pipeline(spark, raw, out, train_shards=4, val_shards=2)
    # count back what the sink actually wrote - the result reflects files
    # on disk, not just the pre-sink DataFrame. The CRC-verified frame
    # walk runs ON EXECUTORS (one task per shard file): driver-side
    # pure-Python CRC over every record was 11 of this query's 40
    # seconds at sf0.1 (SCALING.md E2E audit).
    import glob as _glob

    def _count_shards(files: list[str]) -> int:
        if not files:
            return 0
        return (
            spark.sparkContext.parallelize(files, len(files))
            .map(tfr.count_tfrecords)
            .sum()
        )

    n_train = _count_shards(sorted(_glob.glob(f"{out}/train/*.tfrecord")))
    n_val = _count_shards(sorted(_glob.glob(f"{out}/val/*.tfrecord")))
    # the shard files only exist to be CRC-verified and counted back;
    # drop them now or every gate/bench invocation leaks ~80 MB of /tmp
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    labels = _lineitem_as_raw_labels(spark, sf_dir).filter(
        F.col("patientId").cast("bigint") % 101 == 0
    )
    typed = labels_ops.typed_labels(labels)
    patients = labels_ops.captions_per_patient(typed)
    split = rel.deterministic_split(patients, "patient_id")
    per_split = split.groupBy("split").agg(
        F.count("*").alias("n_patients")
    )
    written = spark.createDataFrame(
        [("train", n_train), ("val", n_val)], "split string, n_images long"
    )
    return per_split.join(written, "split")


@register(
    "events_attribution_streaming",
    # append-mode inner join emits each matched pair exactly once, so the
    # bounded result equals the batch range join regardless of batching
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    windows AS (
        SELECT event_id AS purchase_id, user_id, ts AS start_ts,
               ts + INTERVAL 2 HOUR AS end_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id AS click_id, w.purchase_id AS purchase_id,
           c.user_id AS user_id
    FROM clicks c
    JOIN windows w ON c.user_id = w.user_id
                  AND c.ts >= w.start_ts AND c.ts < w.end_ts
    """,
    doc="X6 stream-stream interval join: watermarked clicks x watermarked "
    "purchases, joined on user + 2h time bound. The time bound sizes the "
    "state store (watermark+interval horizon per side, then eviction). "
    "Equivalence with the batch range join asserted in "
    "tests/test_streaming.py.",
    tags=("events", "streaming"),
)
def q_events_attribution_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    return es.run_bounded(es.attribution_join_stream(stream), mode="append")


@register(
    "text_sequence_packing",
    oracle="""
    WITH toks AS (
        SELECT doc_id, doc_id % 32 AS shard,
               length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
                   AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM toks
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor((cum - n_tokens) / 2048.0) AS INTEGER) AS bin
    FROM packed
    """,
    doc="LLM training-data sequence packing: documents -> fixed-capacity "
    "(2048-token) bins, shard-parallel deterministic first-fit (32 "
    "independent shard windows, no global sort). Whitespace token "
    "counts; bins are shard-local so parallelism scales with n_shards.",
    tags=("text",),
)
def q_text_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    return ta.pack_sequences(docs, capacity=2048, n_shards=32)


@register(
    "ntile_quantile_binning",
    oracle="""
    SELECT bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM (
        SELECT o_totalprice,
               ntile(8) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey
               ) AS bucket
        FROM orders
    )
    GROUP BY bucket
    """,
    doc="Quantile binning via ntile per priority group (keyed window - "
    "never a global sort): equal-frequency buckets for stratified "
    "sampling / feature bucketization. Deterministic tie-break on the "
    "key.",
    tags=("relational",),
)
def q_ntile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = tables.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        orders.withColumn("bucket", F.ntile(8).over(w))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "fuzzy_string_match",
    oracle="""
    WITH dims AS (SELECT DISTINCT o_orderpriority AS name FROM orders),
    noisy AS (
        SELECT DISTINCT
               CASE WHEN o_orderkey % 2 = 0
                    THEN substring(o_orderpriority, 1,
                                   length(o_orderpriority) - 1)
                    ELSE o_orderpriority || 'X' END AS noisy_name
        FROM orders WHERE o_orderkey % 11 = 0
    )
    SELECT n.noisy_name, d.name,
           levenshtein(n.noisy_name, d.name) AS dist
    FROM noisy n JOIN dims d
      ON levenshtein(n.noisy_name, d.name) <= 1
    """,
    doc="Fuzzy dimension matching: noisy keys joined to a (broadcast) "
    "dimension by Levenshtein distance <= 1. The dim side is tiny, so "
    "the theta join is a broadcast nested loop over |noisy| x |dim| - "
    "the right plan when one side is dimension-sized; for fuzzy "
    "fact-fact matching use the n-gram inverted index (dedup.py) "
    "instead.",
    tags=("functions",),
)
def q_fuzzy_string_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    dims = orders.select(
        F.col("o_orderpriority").alias("name")
    ).distinct()
    noisy = (
        orders.filter(F.col("o_orderkey") % 11 == 0)
        .select(
            F.when(
                F.col("o_orderkey") % 2 == 0,
                F.expr(
                    "substring(o_orderpriority, 1,"
                    " length(o_orderpriority) - 1)"
                ),
            )
            .otherwise(F.concat(F.col("o_orderpriority"), F.lit("X")))
            .alias("noisy_name")
        )
        .distinct()
    )
    dist = F.levenshtein(F.col("noisy_name"), F.col("name"))
    return noisy.join(F.broadcast(dims), dist <= 1).select(
        "noisy_name", "name", dist.alias("dist")
    )


@register(
    "upsert_tombstone_merge",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               1 AS version, 0 AS is_delete
        FROM orders
    ),
    changes AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus
                    ELSE 'U' END AS o_orderstatus,
               o_totalprice + 500.0 AS o_totalprice,
               2 AS version,
               CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS is_delete
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    merged AS (
        SELECT *, row_number() OVER (
            PARTITION BY o_orderkey ORDER BY version DESC
        ) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM changes)
    )
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS total_cents
    FROM merged WHERE rn = 1 AND is_delete = 0
    GROUP BY o_orderstatus
    """,
    doc="CDC apply WITH DELETES: the change feed carries upserts and "
    "tombstones; latest version per key wins, and a winning tombstone "
    "removes the key from the merged view entirely (the MERGE ... WHEN "
    "MATCHED AND is_delete THEN DELETE semantics of a lakehouse table, "
    "as one keyed window + filter — same single shuffle as the plain "
    "upsert, the tombstone is just a column the filter reads). "
    "Verified by post-merge aggregate.",
    tags=("relational",),
)
def q_upsert_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = tables.load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).withColumn("version", F.lit(1)).withColumn("is_delete", F.lit(0))
    changes = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_orderstatus"))
        .otherwise(F.lit("U"))
        .alias("o_orderstatus"),
        (F.col("o_totalprice") + 500.0).alias("o_totalprice"),
        F.lit(2).alias("version"),
        F.when(F.col("o_orderkey") % 3 == 0, 1).otherwise(0).alias(
            "is_delete"
        ),
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    merged = (
        base.unionByName(changes)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("is_delete") == 0))
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("total_cents"),
    )


@register(
    "upsert_snapshot_merge",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version
        FROM orders
    ),
    updates AS (
        SELECT o_orderkey, 'X' AS o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice, 2 AS version
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    merged AS (
        SELECT *, row_number() OVER (
            PARTITION BY o_orderkey ORDER BY version DESC
        ) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
    )
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS total_cents
    FROM merged WHERE rn = 1
    GROUP BY o_orderstatus
    """,
    doc="CDC-style snapshot upsert: base union updates, latest version "
    "per key wins (one keyed window, one shuffle). The parquet-native "
    "merge pattern; verified by post-merge aggregate.",
    tags=("relational",),
)
def q_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).withColumn("version", F.lit(1))
    updates = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
            F.lit(2).alias("version"),
        )
    )
    merged = rel.upsert_snapshot(
        base, updates, ["o_orderkey"], "version"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        # integer cents: float sums are summation-order-dependent in the
        # last ulp; exact integates are not
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "total_cents"
        ),
    )


# ---------------------------------------------------------------------------
# The LLM-corpus curation flow as one composed query: quality gate ->
# exact-dedup keeper -> per-bucket token accounting.
# ---------------------------------------------------------------------------


@register(
    "corpus_curation_flow",
    oracle=f"""
    WITH corpus AS ({{corpus}}),
    scored AS (
        SELECT doc_id, text,
               string_split_regex(lower(text), '\\s+') AS ws
        FROM corpus
    ),
    gated AS (
        SELECT doc_id, text, len(ws) AS n_tokens
        FROM scored
        WHERE len(ws) >= 50
          AND len(list_distinct(ws)) / len(ws) >= 0.2
    ),
    keepers AS (
        SELECT min(doc_id) AS doc_id, any_value(n_tokens) AS n_tokens,
               count(*) AS n_copies
        FROM gated
        GROUP BY md5(text)
    )
    SELECT count(*) AS docs_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
           CAST(sum(n_copies - 1) AS BIGINT) AS dup_docs_removed,
           CAST(min(doc_id) AS BIGINT) AS first_keeper
    FROM keepers
    """.format(corpus=_CORPUS_SQL),
    doc="The full curation flow in one lazy plan: quality gate (length "
    "+ type-token ratio) -> exact dedup with deterministic min-id "
    "keeper -> corpus accounting (docs and tokens kept, dups removed). "
    "Each piece is oracle-checked alone elsewhere; this checks the "
    "COMPOSITION, which is what a real pipeline ships.",
    tags=("text", "dedup", "pipeline"),
)
def q_corpus_curation_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup
    from .operators import textanalysis as tx

    corpus = _planted_corpus(spark, sf_dir)
    gated = corpus.filter(
        (tx.ws_token_count() >= 50) & (tx.type_token_ratio() >= 0.2)
    ).select("doc_id", "text", tx.ws_token_count().alias("n_tokens"))
    keepers = (
        gated.groupBy(F.md5("text"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.first("n_tokens").alias("n_tokens"),
            F.count("*").alias("n_copies"),
        )
    )
    return keepers.agg(
        F.count("*").alias("docs_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_kept"),
        F.sum(F.col("n_copies") - 1).cast("long").alias("dup_docs_removed"),
        F.min("doc_id").alias("first_keeper"),
    )


@register(
    "events_unpivot_melt",
    oracle="""
    WITH wide AS (
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click') AS n_click,
               count(*) FILTER (WHERE event_type = 'view') AS n_view,
               count(*) FILTER (WHERE event_type = 'signup') AS n_signup
        FROM events
        GROUP BY user_id
    )
    SELECT user_id, kind, n FROM wide
    UNPIVOT (n FOR kind IN (n_click, n_view, n_signup))
    WHERE n > 0
    """,
    doc="X5 unpivot/melt (the reshape inverse of events_user_pivot): "
    "wide per-user counts back to long (user, kind, n) rows via the "
    "native unpivot - a narrow Expand, no shuffle beyond the upstream "
    "aggregate.",
    tags=("events",),
)
def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
        F.count(F.when(F.col("event_type") == "signup", 1)).alias("n_signup"),
    )
    return wide.unpivot(
        "user_id", ["n_click", "n_view", "n_signup"], "kind", "n"
    ).filter(F.col("n") > 0)


# ---------------------------------------------------------------------------
# Incremental view maintenance, window-function breadth, histograms.
# ---------------------------------------------------------------------------


@register(
    "incremental_agg_maintenance",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS total_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Incremental view maintenance: aggregate 'history' (orderkey % 5 "
    "!= 0), separately aggregate the 'delta' (% 5 = 0), merge partials "
    "(decomposable sums/counts). Oracle recomputes from scratch - the "
    "merge must be indistinguishable from full recomputation.",
    tags=("relational", "pipeline"),
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderpriority").alias("priority")).agg(
            F.count("*").alias("n"), F.sum(cents).alias("total_cents")
        )

    history = agg(orders.filter(F.col("o_orderkey") % 5 != 0))
    delta = agg(orders.filter(F.col("o_orderkey") % 5 == 0))
    return rel.incremental_agg_merge(
        history, delta, ["priority"], ["n", "total_cents"]
    )


@register(
    "window_function_breadth",
    oracle="""
    SELECT o_orderkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           lead(o_orderkey) OVER w AS next_key,
           CAST(round(first_value(o_totalprice) OVER w * 100) AS BIGINT)
               AS min_price_cents
    FROM orders
    WHERE o_orderkey % 20 = 0
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Window-function breadth beyond row_number/lag: percent_rank, "
    "cume_dist, lead, first_value over keyed ordered windows - all one "
    "shuffle on the partition key.",
    tags=("relational",),
)
def q_window_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = tables.load(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 20 == 0
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.round(F.first("o_totalprice").over(w) * 100)
        .cast("long")
        .alias("min_price_cents"),
    )


@register(
    "equal_width_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS INTEGER) AS bucket,
           count(*) AS n,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_finished
    FROM orders
    GROUP BY 1
    """,
    doc="Equal-width histogram: closed-form bucket = floor(v/width), one "
    "aggregation, no sort - the profile/EDA primitive at any scale "
    "(ntile_quantile_binning is the equal-frequency twin).",
    tags=("relational",),
)
def q_equal_width_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 50000.0).cast("int").alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).cast("long").alias("n_finished"),
        )
    )


@register(
    "multimodal_patch_tiling",
    oracle="""
    SELECT v.img_id AS img_id, pr.pr AS patch_row, pc.pc AS patch_col,
           CAST(sum((v.img_id * 31 +
                ((pr.pr * 8 + j.j // 8) * 16 + pc.pc * 8 + j.j % 8) * 7)
               % 256) AS BIGINT) AS sum_px
    FROM (SELECT unnest(generate_series(0, 49)) AS img_id) v
    CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS pr) pr
    CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS pc) pc
    CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
    GROUP BY 1, 2, 3
    """,
    doc="X7 ViT-style patch tiling: 16x16 synthetic images -> four 8x8 "
    "tiles each, one row per tile, sliced inside Arrow batches (narrow "
    "fan-out). Per-tile pixel sums are value-checked against the "
    "closed-form pixel formula re-indexed through the tile layout in "
    "SQL.",
    tags=("multimodal",),
)
def q_multimodal_patch_tiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    imgs = mm.synth_images(spark, n=50, height=16, width=16)
    patches = mm.tile_patches(imgs, patch=8)

    import pandas as pd  # noqa: F401

    def stats(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.pixels, dtype=np.dtype(r.dtype))
                out.append(
                    (r.img_id, r.patch_row, r.patch_col,
                     int(arr.sum(dtype=np.int64)))
                )
            yield pd.DataFrame(
                out, columns=["img_id", "patch_row", "patch_col", "sum_px"]
            )

    return patches.mapInPandas(
        stats, "img_id long, patch_row int, patch_col int, sum_px long"
    )


# ---------------------------------------------------------------------------
# Advanced text curation: PII redaction, repetition detection,
# sub-document dedup.
# ---------------------------------------------------------------------------


@register(
    "text_pii_tokenization",
    oracle="""
    WITH noisy AS (
        SELECT doc_id,
               'user' || (doc_id % 40) || '@example.com' AS email
        FROM documents WHERE doc_id % 2 = 0
    ),
    tok AS (
        SELECT doc_id, email,
               'tok_' || substr(md5('pepper|' || email), 1, 16) AS token
        FROM noisy
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT email) AS BIGINT) AS n_emails,
           CAST(count(DISTINCT token) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN token = 'tok_' ||
                    substr(md5('pepper|' || email), 1, 16)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_stable
    FROM tok
    """,
    doc="Deterministic PII tokenization (the referential-integrity "
    "complement of redaction): each email maps to a stable surrogate "
    "token via keyed md5, so joins across tables survive scrubbing. "
    "Distinct-token count must equal distinct-email count (injective on "
    "this domain) and every token must re-derive (stability) — both "
    "asserted in the output and hash-checked cross-engine. In "
    "production the pepper is a secret from a KMS, not a literal; the "
    "dataflow is identical.",
    tags=("text",),
)
def q_text_pii_tokenization(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    noisy = docs.select(
        "doc_id",
        F.concat(
            F.lit("user"), (F.col("doc_id") % 40).cast("string"),
            F.lit("@example.com")
        ).alias("email"),
    )
    token = F.concat(
        F.lit("tok_"),
        F.substring(F.md5(F.concat(F.lit("pepper|"), F.col("email"))), 1, 16),
    )
    tok = noisy.withColumn("token", token)
    return tok.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("email").cast("long").alias("n_emails"),
        F.countDistinct("token").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("token") == token, 1).otherwise(0))
        .cast("long")
        .alias("n_stable"),
    )


@register(
    "text_pii_redaction",
    oracle="""
    WITH noisy AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@example.com or +1-555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
               '\\+?1?[- ]?555[- ][0-9]{4}', '<PHONE>', 'g') AS redacted,
           length(text) - length(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '', 'g')) AS email_chars_removed
    FROM noisy
    """,
    doc="PII scrubbing: synthesize emails/phones into documents, redact "
    "with anchored regexes (regexp_replace is JVM-side codegen; the "
    "same patterns run identically in the oracle). The compliance "
    "primitive every training corpus needs before release.",
    tags=("text",),
)
def q_text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    noisy = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\+?1?[- ]?555[- ][0-9]{4}"
    return noisy.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), email_re, "<EMAIL>"),
            phone_re,
            "<PHONE>",
        ).alias("redacted"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), email_re, ""))
        ).alias("email_chars_removed"),
    )


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH shingles AS (
        SELECT doc_id,
               string_split_regex(lower(text), '\\s+') AS ws
        FROM ({{corpus}})
    )
    SELECT doc_id,
           len(ws) - 2 AS n_shingles,
           round(1.0 - len(list_distinct(
               [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                for i in generate_series(1, len(ws) - 2)]
           )) / (len(ws) - 2), 6) AS repetition_ratio
    FROM shingles
    WHERE len(ws) >= 3
    """.format(corpus=_CORPUS_SQL),
    doc="Repetition detection: 1 - distinct/total 3-gram shingles. High "
    "values flag degenerate (looping) documents - a standard LLM "
    "corpus-quality gate alongside the TTR/stopword filters.",
    tags=("text",),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import shingles_col, tokens_col

    corpus = _planted_corpus(spark, sf_dir)
    ws = tokens_col("text")
    all_shingles = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 3),
        lambda i: F.concat_ws(
            " ", F.slice(ws, i + 1, 3)
        ),
    )
    return corpus.filter(F.size(ws) >= 3).select(
        "doc_id",
        (F.size(ws) - 2).alias("n_shingles"),
        F.round(
            1.0
            - F.size(F.array_distinct(all_shingles))
            / (F.size(ws) - 2).cast("double"),
            6,
        ).alias("repetition_ratio"),
    )


@register(
    "dedup_sentence_level",
    oracle=f"""
    WITH sentences AS (
        SELECT doc_id, trim(s.sent) AS sent
        FROM ({{corpus}})
        CROSS JOIN unnest(string_split(text, '.')) AS s(sent)
        WHERE trim(s.sent) <> ''
    )
    SELECT md5(sent) AS sent_hash,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs,
           min(doc_id) AS first_doc
    FROM sentences
    GROUP BY md5(sent)
    HAVING count(DISTINCT doc_id) > 1
    """.format(corpus=_CORPUS_SQL),
    doc="Sub-document dedup: explode documents into sentences, find "
    "sentences shared across documents (boilerplate/quote detection). "
    "The shuffle carries 16-byte hashes; removal is a left_anti join "
    "back on (doc_id, sent_hash).",
    tags=("text", "dedup"),
)
def q_dedup_sentence_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _planted_corpus(spark, sf_dir)
    sentences = corpus.select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"\.")).alias("sent"),
    ).select("doc_id", F.trim(F.col("sent")).alias("sent")).filter(
        F.col("sent") != ""
    )
    return (
        sentences.groupBy(F.md5("sent").alias("sent_hash"))
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Frequent-itemset mining (operators/mining.py)
# ---------------------------------------------------------------------------


@register(
    "basket_association_rules",
    oracle="""
    WITH bi AS (
        SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pair AS (
        SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_support
        FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
    ),
    sup AS (SELECT item, count(*) AS item_support FROM bi GROUP BY 1),
    tot AS (SELECT count(DISTINCT basket) AS n_baskets FROM bi)
    SELECT item_a, item_b, pair_support,
           sa.item_support AS support_a,
           sb.item_support AS support_b,
           n_baskets,
           CAST(trunc(pair_support * 1000000.0 / sa.item_support) AS BIGINT)
               AS confidence_ab_ppm,
           CAST(trunc(pair_support * 1000000.0 / sb.item_support) AS BIGINT)
               AS confidence_ba_ppm,
           CAST(trunc(pair_support * n_baskets * 1000000.0
                      / (sa.item_support * sb.item_support)) AS BIGINT)
               AS lift_ppm
    FROM pair
    JOIN sup sa ON pair.item_a = sa.item
    JOIN sup sb ON pair.item_b = sb.item
    CROSS JOIN tot
    WHERE pair_support >= 2
    """,
    doc="Market-basket association rules over order baskets of part "
    "brands: pair/item supports, confidence and lift as trunc'd ppm "
    "integers (exact IEEE arithmetic both engines). One shuffle builds "
    "baskets, combination explode is bounded by the brand domain, "
    "supports join back via broadcast — never O(n^2) in baskets.",
    tags=("mining",),
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import mining

    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    items = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == part.p_partkey,
    ).select("l_orderkey", "p_brand")
    rules = mining.association_rules(items, "l_orderkey", "p_brand", min_support=2)
    return rules


# ---------------------------------------------------------------------------
# Probabilistic sketches (operators/sketches.py)
# ---------------------------------------------------------------------------


@register(
    "sketch_hll_distinct",
    oracle="""
    WITH h AS (
        SELECT l_returnflag AS grp,
               ('0x' || substr(md5('hll|' || CAST(l_partkey AS VARCHAR)), 1, 2))
                   ::UBIGINT::BIGINT AS register,
               61 - length(ltrim(bin(
                   ('0x' || substr(md5('hll|' || CAST(l_partkey AS VARCHAR)), 3, 15))
                       ::UBIGINT::BIGINT), '0')) AS rho
        FROM lineitem
    ),
    regs AS (
        SELECT grp, register, max(rho) AS max_rho FROM h GROUP BY 1, 2
    ),
    agg AS (
        SELECT grp,
               count(*) AS registers_used,
               sum(CAST(power(2.0, 48 - least(max_rho, 48)) AS BIGINT)) AS used_units
        FROM regs GROUP BY 1
    )
    SELECT grp,
           registers_used,
           CAST(256 - registers_used AS INTEGER) AS zero_registers,
           CAST(floor(1.3249790702834051e+19
                      / CAST(used_units + (256 - registers_used) * 281474976710656
                             AS DOUBLE)
                      * 1000.0) AS BIGINT) AS est_milli
    FROM agg
    """,
    doc="HyperLogLog distinct l_partkey per l_returnflag: md5-sliced "
    "register index + leading-zero rank, per-group max-merged registers "
    "(the shuffle carries <= groups x 256 rows regardless of input "
    "size), raw estimate floored to milli-units. 2^-rho terms summed as "
    "integer 2^-48 units so the result is order-independent and "
    "bit-identical cross-engine.",
    tags=("sketch",),
)
def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import sketches

    li = tables.load(spark, sf_dir, "lineitem")
    return sketches.hll_distinct(li, "l_returnflag", "l_partkey")


@register(
    "sketch_cms_heavy_hitters",
    oracle="""
    WITH cells AS (
        SELECT t.r AS row,
               ((('0x' || substr(md5('cms|' || event_type), 1 + 8 * t.r, 8))
                   ::UBIGINT) % 512)::INTEGER AS col
        FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) t
    ),
    regs AS (
        SELECT row, col, count(*) AS cnt FROM cells GROUP BY 1, 2
    ),
    probes AS (
        SELECT DISTINCT event_type AS key,
               t.r AS row,
               ((('0x' || substr(md5('cms|' || event_type), 1 + 8 * t.r, 8))
                   ::UBIGINT) % 512)::INTEGER AS col
        FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) t
    ),
    est AS (
        SELECT key, min(cnt) AS est_count
        FROM probes JOIN regs USING (row, col)
        GROUP BY key
    ),
    tru AS (
        SELECT event_type AS key, count(*) AS true_count FROM events GROUP BY 1
    )
    SELECT key, true_count, est_count
    FROM tru JOIN est USING (key)
    """,
    doc="Count-Min sketch frequency estimates for every event_type: "
    "depth-4 x width-512 register table built with one md5 per row "
    "(four 8-hex slices), map-side-merged partial sketches (shuffle is "
    "O(depth x width), never O(keys)), probe = min over rows of the "
    "addressed cells. est_count >= true_count by construction.",
    tags=("sketch",),
)
def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import sketches

    ev = tables.load(spark, sf_dir, "events")
    regs = sketches.cms_registers(ev, "event_type")
    keys = ev.select("event_type").distinct()
    est = sketches.cms_estimate(regs, keys, "event_type")
    tru = ev.groupBy(F.col("event_type").alias("key")).agg(
        F.count("*").alias("true_count")
    )
    return tru.join(est, "key").select("key", "true_count", "est_count")


# ---------------------------------------------------------------------------
# Spatial (operators/spatial.py)
# ---------------------------------------------------------------------------


@register(
    "spatial_radius_join",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS id,
               (('0x' || substr(md5('px|' || CAST(c_custkey AS VARCHAR)), 1, 8))
                   ::UBIGINT % 100000)::BIGINT AS x,
               (('0x' || substr(md5('py|' || CAST(c_custkey AS VARCHAR)), 1, 8))
                   ::UBIGINT % 100000)::BIGINT AS y
        FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= 1500 * 1500
    """,
    doc="All customer-point pairs within radius 1500 (integer "
    "coordinates md5-derived from the key): grid-cell equi-join over "
    "the 3x3 neighborhood (cost n x density, never O(n^2)); the oracle "
    "IS the O(n^2) brute force, so the blocking scheme's completeness "
    "is what the hash match proves.",
    tags=("spatial",),
)
def q_spatial_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import spatial

    cust = tables.load(spark, sf_dir, "customer")
    pts = spatial.synth_points(cust, "c_custkey")
    return spatial.radius_join(pts, 1500)


# ---------------------------------------------------------------------------
# EWMA smoothing + stratified sampling
# ---------------------------------------------------------------------------


@register(
    "events_ewma_smoothing",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS rn
        FROM events
    )
    SELECT a.user_id, a.event_id,
           CAST(sum(b.cents * CAST(power(2.0, 20 - (a.rn - b.rn)) AS BIGINT))
               AS BIGINT) AS ewma_units
    FROM v a JOIN v b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 19 AND a.rn
    GROUP BY a.user_id, a.event_id
    """,
    doc="Per-user EWMA (alpha=1/2, 20-event lookback) in exact integer "
    "units: cents x 2^(20-d) weights keep the weighted sum pure bigint "
    "arithmetic — bit-identical under any summation order, unlike the "
    "float recurrence. One user_id shuffle serves ordering + sliding "
    "frame; the weighted fold is a narrow higher-order projection.",
    tags=("events", "temporal"),
)
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev_ops

    ev = tables.load(spark, sf_dir, "events")
    return ev_ops.ewma_units(ev, lookback=20, scale_bits=20)


@register(
    "stratified_sample",
    oracle="""
    SELECT o_orderkey, o_orderstatus
    FROM orders
    WHERE ('0x' || substr(md5('strat|' || CAST(o_orderkey AS VARCHAR)), 1, 8))
              ::UBIGINT % 1000000
          < CASE o_orderstatus
                WHEN 'O' THEN 100000
                WHEN 'F' THEN 200000
                WHEN 'P' THEN 500000
                ELSE 0 END
    """,
    doc="Deterministic stratified sampling of orders by status (10%/20%"
    "/50%): membership is a pure function of the key (md5 threshold), "
    "stable under retries/repartitioning/subsets — unlike seeded "
    "sampleBy. Thresholds ride a broadcast dim; the filter is narrow.",
    tags=("relational", "sampling"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    sampled = rel.stratified_sample(
        orders,
        "o_orderstatus",
        "o_orderkey",
        {"O": 100_000, "F": 200_000, "P": 500_000},
    )
    return sampled.select("o_orderkey", "o_orderstatus")


# ---------------------------------------------------------------------------
# Time-weighted integral, rolling median, triangle counting
# ---------------------------------------------------------------------------


@register(
    "events_time_weighted_sum",
    oracle="""
    WITH seg AS (
        SELECT user_id,
               epoch_us(ts) AS t_us,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_us,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CASE WHEN next_us IS NOT NULL
                         THEN (next_us - t_us) * cents ELSE 0 END)
                AS BIGINT) AS twa_num_us_cents,
           max(t_us) - min(t_us) AS span_us
    FROM seg GROUP BY user_id
    """,
    doc="Per-user time-weighted value integral (step-function TWA "
    "numerator) in exact integer us x cents units: Spark unix_micros == "
    "DuckDB epoch_us, every term bigint. One user_id shuffle serves the "
    "lead() ordering and the final aggregate.",
    tags=("events", "temporal"),
)
def q_events_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import temporal

    ev = tables.load(spark, sf_dir, "events")
    return temporal.time_weighted_sum(ev)


@register(
    "events_rolling_median",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS rn
        FROM events
    )
    SELECT a.user_id, a.event_id,
           CAST(2 * median(b.cents) AS BIGINT) AS median_x2_cents
    FROM v a JOIN v b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 14 AND a.rn
    GROUP BY a.user_id, a.event_id
    """,
    doc="Per-user rolling median over the trailing 15 events, exported "
    "as 2x median in cents so both frame parities are exact integers "
    "(odd: middle element doubled; even: sum of the two middles) — no "
    "float interpolation to diverge cross-engine. Bounded sorted frame: "
    "cost independent of user history length.",
    tags=("events", "temporal"),
)
def q_events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev_ops

    ev = tables.load(spark, sf_dir, "events")
    return ev_ops.rolling_median_x2(ev, lookback=15)


@register(
    "graph_triangle_counts",
    oracle="""
    WITH bi AS (
        SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pair AS (
        SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_support
        FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
    ),
    tot AS (SELECT count(DISTINCT basket) AS n_baskets FROM bi),
    edges AS (
        SELECT item_a AS src, item_b AS dst
        FROM pair CROSS JOIN tot
        WHERE pair_support * 50 >= n_baskets
    ),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT node, count(*) AS n_triangles
    FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    GROUP BY node
    """,
    doc="Per-brand triangle participation in the co-purchase graph "
    "(edges: brand pairs co-occurring in >= 2% of baskets — a relative "
    "threshold so the graph is non-trivial at every SF). Ordered "
    "two-join enumeration produces each triangle once in a<b<c "
    "orientation; degree orientation is the documented scale path.",
    tags=("graph", "mining"),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import graph as g
    from .operators import mining

    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    items = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == part.p_partkey,
    ).select("l_orderkey", "p_brand")
    b = mining.baskets(items, "l_orderkey", "p_brand")
    pair = mining.pair_supports(b)
    total = b.agg(F.count("*").alias("n_baskets"))
    edges = (
        pair.crossJoin(F.broadcast(total))
        .filter(F.col("pair_support") * 50 >= F.col("n_baskets"))
        .select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
        # item-domain-sized (<= brands^2/2 rows): materialize once so the
        # three triangle-join branches don't each re-derive the whole
        # basket->pair pipeline (3x the heavy shuffles in the static plan).
        .transform(lineage_cut)
    )
    return g.triangle_counts(edges)


@register(
    "uniform_k_sample",
    oracle="""
    SELECT c_nationkey, c_custkey
    FROM (
        SELECT c_nationkey, c_custkey,
               row_number() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY md5('ks|' || CAST(c_custkey AS VARCHAR))
               ) AS rn
        FROM customer
    )
    WHERE rn <= 3
    """,
    doc="Fixed-size uniform sample: the 3 customers per nation with the "
    "smallest md5 — uniform w.r.t. any real attribute, reproducible "
    "across runs and engines, incremental-friendly (membership only "
    "changes when a smaller hash arrives). One group-key shuffle.",
    tags=("relational", "sampling"),
)
def q_uniform_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tables.load(spark, sf_dir, "customer")
    return rel.uniform_k_sample(cust, "c_nationkey", "c_custkey", 3).select(
        "c_nationkey", "c_custkey"
    )


@register(
    "interval_overlap_pairs",
    oracle="""
    WITH iv AS (
        SELECT o_orderkey AS id, o_custkey AS key,
               epoch_us(o_orderdate) AS s,
               epoch_us(o_orderdate)
                   + (o_orderkey % 7 + 1) * 86400000000 AS e
        FROM orders
    )
    SELECT a.key AS custkey, a.id AS id_a, b.id AS id_b,
           least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
    FROM iv a JOIN iv b ON a.key = b.key AND a.id < b.id
    WHERE a.s <= b.e AND b.s <= a.e
    """,
    doc="Overlapping order windows per customer (order date + 1..7 "
    "synthetic days): the double-booking detector. Equi-join "
    "co-partitioned on the customer key, quadratic only in "
    "intervals-per-key; exact bigint microsecond overlap spans. The "
    "unkeyed variant is the 1-D grid-cell blocking of "
    "spatial.radius_join (documented in the operator).",
    tags=("temporal",),
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import temporal

    orders = tables.load(spark, sf_dir, "orders")
    # o_orderdate is TIMESTAMP_NTZ; session tz is UTC, so the cast to
    # (tz-aware) timestamp preserves the epoch value unix_micros needs.
    us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    iv = orders.select(
        F.col("o_orderkey").alias("oid"),
        F.col("o_custkey").alias("ckey"),
        us.alias("s_us"),
        (us + (F.pmod(F.col("o_orderkey"), F.lit(7)) + 1) * F.lit(86_400_000_000))
        .alias("e_us"),
    )
    pairs = temporal.interval_overlap_pairs(iv, "ckey", "oid", "s_us", "e_us")
    return pairs.select(
        F.col("key").alias("custkey"),
        "id_a",
        "id_b",
        F.col("overlap").alias("overlap_us"),
    )


@register(
    "graph_bfs_hops",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                        's' || CAST(l_suppkey AS VARCHAR) AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    e AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    ),
    l0 AS (
        SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
        FROM customer WHERE c_nationkey = 0
    ),
    lv AS (
        SELECT node, 0 AS hop FROM l0
        UNION ALL
        SELECT e.dst, 1 FROM l0 JOIN e ON l0.node = e.src
        UNION ALL
        SELECT e2.dst, 2
        FROM l0 JOIN e ON l0.node = e.src
        JOIN e e2 ON e.dst = e2.src
        UNION ALL
        SELECT e3.dst, 3
        FROM l0 JOIN e ON l0.node = e.src
        JOIN e e2 ON e.dst = e2.src
        JOIN e e3 ON e2.dst = e3.src
    )
    SELECT node, CAST(min(hop) AS INTEGER) AS hop FROM lv GROUP BY node
    """,
    doc="Multi-source BFS over the bidirectionalized customer-supplier "
    "trade graph from nation-0 customers, min hop distance <= 3. The "
    "Spark side is the level-synchronous frontier loop (anti-join "
    "pruning, persisted edge layout, per-round localCheckpoint); the "
    "oracle is the UNROLLED path-join formulation whose round-k cost "
    "rescans every length-k path — correct at test scale, and exactly "
    "the blow-up the frontier algorithm avoids at 100 TB.",
    tags=("graph",),
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import graph as g

    li = tables.load(spark, sf_dir, "lineitem")
    orders = tables.load(spark, sf_dir, "orders")
    cust = tables.load(spark, sf_dir, "customer")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    sources = cust.filter(F.col("c_nationkey") == 0).select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
    )
    out = g.bfs_hops(edges, sources, max_hops=3)
    return out.select("node", F.col("hop").cast("int").alias("hop"))


@register(
    "model_lift_table",
    oracle="""
    WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) * 1000000
                   + o_orderkey % 1000000 AS sk,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
        FROM orders
    ),
    r AS (
        SELECT pos,
               row_number() OVER (ORDER BY sk) AS rn,
               count(*) OVER () AS n
        FROM v
    )
    SELECT CAST(((rn - 1) * 10) // n AS INTEGER) AS decile,
           count(*) AS n_orders,
           CAST(sum(pos) AS BIGINT) AS positives,
           CAST(trunc(sum(pos) * 1000000.0 / count(*)) AS BIGINT)
               AS pos_rate_ppm
    FROM r GROUP BY 1
    """,
    doc="Model-evaluation decile lift table: rank orders by a score "
    "(total price, tie-broken by key into a UNIQUE bigint sort key), "
    "cut into 10 equal-width rank deciles, report per-decile size / "
    "positives / positive-rate ppm. The global rank is the two-phase "
    "range-partitioned row_number (no single-partition window, unlike "
    "the oracle's count(*) OVER ()); decile boundaries are "
    "floor((rn-1)*10/N) in exact integer arithmetic on both engines.",
    tags=("relational", "ml-eval"),
)
def q_model_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    v = orders.select(
        (
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)") * F.lit(1_000_000)
            + F.pmod(F.col("o_orderkey"), F.lit(1_000_000))
        ).alias("sk"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("pos"),
    )
    ranked = rel.global_row_number(v, "sk")
    total = v.agg(F.count("*").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            F.floor((F.col("rn") - 1) * 10 / F.col("_n"))
            .cast("int")
            .alias("decile"),
            "pos",
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("pos").cast("bigint").alias("positives"),
            F.floor(F.sum("pos") * F.lit(1_000_000.0) / F.count("*"))
            .cast("bigint")
            .alias("pos_rate_ppm"),
        )
    )


@register(
    "grouping_sets_aggregation",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_cents,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS (
        (l_returnflag, l_linestatus),
        (l_returnflag, CAST(year(l_shipdate) AS INTEGER)),
        (CAST(year(l_shipdate) AS INTEGER)),
        ()
    )
    """,
    doc="Arbitrary GROUPING SETS (beyond rollup/cube's fixed lattices): "
    "Spark expands the sets into one Expand + single hash aggregate — "
    "one shuffle regardless of how many sets, each input row replicated "
    "only |sets| times map-side. Null group columns mark the "
    "aggregation level exactly as in the oracle.",
    tags=("relational",),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(year(l_shipdate) AS INTEGER) AS ship_year,
               CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_cents,
               count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS (
            (l_returnflag, l_linestatus),
            (l_returnflag, CAST(year(l_shipdate) AS INTEGER)),
            (CAST(year(l_shipdate) AS INTEGER)),
            ()
        )
    """)


@register(
    "events_range_frame_sum",
    oracle="""
    SELECT user_id, event_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS hour_sum_cents
    FROM events
    """,
    doc="Time-based sliding aggregate: per-user sum of value over the "
    "trailing hour via a RANGE frame on epoch microseconds — the frame "
    "is defined by VALUE distance, not row count, so bursty and sparse "
    "users get the same semantics. One user_id shuffle; frame state "
    "bounded by events-per-hour. Exact integer cents.",
    tags=("events", "temporal"),
)
def q_events_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .over(w)
        .cast("bigint")
        .alias("hour_sum_cents"),
    )


@register(
    "table_fingerprint",
    oracle="""
    SELECT 'lineitem' AS tbl,
           count(*) AS n_rows,
           CAST(sum(('0x' || substr(md5(
                   CAST(l_orderkey AS VARCHAR) || '|' ||
                   CAST(l_linenumber AS VARCHAR) || '|' ||
                   CAST(l_partkey AS VARCHAR) || '|' ||
                   CAST(round(l_extendedprice * 100) AS BIGINT)
               ), 1, 15))::UBIGINT % 1152921504606846976)
               % 1152921504606846976 AS BIGINT) AS fingerprint
    FROM lineitem
    """,
    doc="Order-independent table fingerprint: per-row md5 of the "
    "business key + price folded to 60 bits, summed mod 2^60 — an "
    "anti-entropy checksum two replicas (or two engines!) can compare "
    "without any ordering or single-point aggregation; commutative "
    "sum means map-side partials merge freely. The gate itself proves "
    "the property: Spark and DuckDB agree bit-for-bit.",
    tags=("relational", "ops"),
)
def q_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    row_h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                        F.col("l_partkey").cast("string"),
                        F.expr(
                            "CAST(round(l_extendedprice * 100) AS BIGINT)"
                        ).cast("string"),
                    )
                ),
                1, 15,
            ),
            16, 10,
        ).cast("bigint")
        % F.lit(1152921504606846976)
    )
    return li.agg(
        F.lit("lineitem").alias("tbl"),
        F.count("*").alias("n_rows"),
        # sum in decimal(38,0): row terms are < 2^60, so an int64 sum
        # overflows after ~8 rows under ANSI mode; decimal mirrors
        # DuckDB's hugeint accumulator, and the mod folds back to 60 bits
        (F.sum(row_h.cast("decimal(38,0)")) % F.lit(1152921504606846976))
        .cast("bigint")
        .alias("fingerprint"),
    )


@register(
    "events_median_mad",
    oracle="""
    WITH v AS (
        SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    med AS (
        SELECT user_id, CAST(2 * median(cents) AS BIGINT) AS median_x2_cents
        FROM v GROUP BY user_id
    )
    SELECT v.user_id,
           any_value(median_x2_cents) AS median_x2_cents,
           CAST(2 * median(abs(2 * cents - median_x2_cents)) AS BIGINT)
               AS mad_x4_cents
    FROM v JOIN med ON v.user_id = med.user_id
    GROUP BY v.user_id
    """,
    doc="Per-user median + median-absolute-deviation in doubled integer "
    "units (x2 / x4), exact for both parities — the robust "
    "location/dispersion pair outlier pipelines gate on. Two "
    "aggregates over the SAME user_id clustering: the med join is "
    "co-partitioned, so the whole thing is one data shuffle plus a "
    "|users|-row join.",
    tags=("events", "stats"),
)
def q_events_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    v = ev.select(
        "user_id", F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents")
    )
    med = v.groupBy("user_id").agg(
        F.expr("CAST(2 * percentile(cents, 0.5) AS BIGINT)").alias(
            "median_x2_cents"
        )
    )
    return (
        v.join(med, "user_id")
        .groupBy("user_id")
        .agg(
            F.any_value(F.col("median_x2_cents")).alias("median_x2_cents"),
            F.expr(
                "CAST(2 * percentile(abs(2 * cents - median_x2_cents), 0.5)"
                " AS BIGINT)"
            ).alias("mad_x4_cents"),
        )
    )


@register(
    "proportion_wilson_bound",
    oracle="""
    WITH agg AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS k
        FROM events
        GROUP BY event_type
    )
    SELECT event_type, n, k,
           CAST(floor(1000000.0 * (
               (k / CAST(n AS DOUBLE) + 3.8416 / (2.0 * n)
                - 1.96 * sqrt(
                    (k / CAST(n AS DOUBLE)) * (1.0 - k / CAST(n AS DOUBLE)) / n
                    + 3.8416 / (4.0 * n * n))
               ) / (1.0 + 3.8416 / n))) AS BIGINT) AS wilson_low_ppm
    FROM agg
    """,
    doc="Wilson-score lower confidence bound (z=1.96) for the per-type "
    "proportion of high-value events, floored to ppm. Every step is an "
    "IEEE-correctly-rounded op (+,-,*,/,sqrt) evaluated in the same "
    "literal order on both engines, so the result is bit-identical — "
    "the disciplined way to ship confidence intervals through a "
    "cross-engine gate. One shuffle (map-side combined counts).",
    tags=("stats",),
)
def q_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("value") >= 100.0, 1).otherwise(0)).alias("k"),
    )
    p = F.col("k") / F.col("n").cast("double")
    nn = F.col("n")
    wilson = (
        p
        + F.lit(3.8416) / (F.lit(2.0) * nn)
        - F.lit(1.96)
        * F.sqrt(p * (F.lit(1.0) - p) / nn + F.lit(3.8416) / (F.lit(4.0) * nn * nn))
    ) / (F.lit(1.0) + F.lit(3.8416) / nn)
    return agg.select(
        "event_type",
        "n",
        "k",
        F.floor(F.lit(1000000.0) * wilson).cast("bigint").alias("wilson_low_ppm"),
    )


# ---------------------------------------------------------------------------
# Decision-support breadth: the TPC-H-shaped multi-join/correlated-subquery
# workloads a warehouse engine must run. All money flows through the
# integer-cents convention (per-row round to cents, bigint sums) so the
# cross-engine gate is bit-exact regardless of summation order.
# ---------------------------------------------------------------------------

_REV_CENTS_SQL = "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"


@register(
    "shipping_priority_topk",
    oracle=f"""
    SELECT l_orderkey,
           CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS revenue_cents,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_cents DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-shaped shipping priority: 3-way join (customer filter "
    "semi-reduces orders, orders x lineitem co-keyed on orderkey), "
    "per-order revenue in exact integer cents, global top-10. The sort "
    "is TakeOrderedAndProject — per-partition heaps + driver merge of "
    "10 rows, never a global sort. Tie-broken on orderkey so LIMIT is "
    "deterministic cross-engine.",
    tags=("relational", "tpch"),
)
def q_shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1998-01-01")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > "1998-01-01")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("revenue_cents"))
        .select(
            "l_orderkey",
            "revenue_cents",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue_cents").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "small_order_part_revenue",
    oracle=f"""
    WITH part_avg AS (
        SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT count(*) AS n_small,
           CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM lineitem JOIN part_avg ON l_partkey = pk
    WHERE l_quantity < 0.3 * avg_qty
    """,
    doc="TPC-H Q17-shaped correlated aggregate: lineitems below 30% of "
    "their part's average quantity. The correlated subquery decorrelates "
    "to a per-part aggregate joined back on l_partkey — both sides hash "
    "on the same key, so AQE coalesces it into one co-partitioned "
    "exchange pair (no broadcast of an SF-scaled per-part table). "
    "avg(l_quantity) is exact: quantities are integral, sums stay under "
    "2^53, and the single division is correctly rounded on both engines.",
    tags=("relational", "tpch"),
)
def q_small_order_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(part_avg, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < 0.3 * F.col("avg_qty"))
        .agg(F.count("*").alias("n_small"), F.sum(rev).alias("revenue_cents"))
    )


@register(
    "customer_order_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
             AND o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
    doc="TPC-H Q13-shaped distribution: orders-per-customer histogram "
    "including zero-order customers (the LEFT JOIN with the filter IN "
    "the join condition — pushing it to WHERE would silently drop "
    "them). Double aggregation: the first groups on the join key the "
    "shuffle already clustered, the second reduces to at most "
    "max-orders-per-customer rows.",
    tags=("relational", "tpch"),
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "yearly_nation_revenue_growth",
    oracle=f"""
    WITH yearly AS (
        SELECT n_name,
               CAST(year(o_orderdate) AS INTEGER) AS order_year,
               CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS revenue_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY n_name, order_year
    )
    SELECT n_name, order_year, revenue_cents,
           CAST(floor(1000000.0 * (revenue_cents - lag(revenue_cents) OVER w)
                / lag(revenue_cents) OVER w) AS BIGINT) AS growth_ppm
    FROM yearly
    WINDOW w AS (PARTITION BY n_name ORDER BY order_year)
    """,
    doc="Period-over-period revenue per supplier nation with year-over-"
    "year growth in ppm. The lag window runs AFTER aggregation on a "
    "|nations| x |years| table — partitioned by nation, so no "
    "single-task window. Growth is floor(1e6*(cur-prev)/prev) through "
    "the identical IEEE op chain on both engines (bigints convert "
    "exactly to double below 2^53). nation is broadcast; supplier and "
    "orders co-partition with lineitem on their keys.",
    tags=("relational", "window"),
)
def q_yearly_nation_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    sup = tables.load(spark, sf_dir, "supplier")
    nation = tables.load(spark, sf_dir, "nation")
    orders = tables.load(spark, sf_dir, "orders")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    yearly = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(F.sum(rev).alias("revenue_cents"))
    )
    w = Window.partitionBy("n_name").orderBy("order_year")
    return (
        yearly.withColumn("prev_cents", F.lag("revenue_cents").over(w))
        .withColumn(
            "growth_ppm",
            F.expr(
                "CAST(floor(1000000.0 * (revenue_cents - prev_cents)"
                " / prev_cents) AS BIGINT)"
            ),
        )
        .select("n_name", "order_year", "revenue_cents", "growth_ppm")
    )


# ---------------------------------------------------------------------------
# Keyed sequence analytics: gaps-and-islands, run-length state intervals,
# Markov transitions. All three ride ONE user_id shuffle end-to-end.
# ---------------------------------------------------------------------------


@register(
    "events_user_streaks",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day
        FROM events
    ),
    islands AS (
        SELECT user_id, epoch_day,
               epoch_day - row_number() OVER (
                   PARTITION BY user_id ORDER BY epoch_day) AS island
        FROM active
    ),
    runs AS (
        SELECT user_id, island, count(*) AS run_len
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           max(run_len) AS longest_streak,
           count(*) AS n_streaks,
           CAST(sum(run_len) AS BIGINT) AS n_active_days
    FROM runs GROUP BY user_id
    """,
    doc="Gaps-and-islands longest consecutive-active-day streak per "
    "user via the rank-difference trick (epoch_day - row_number is "
    "constant on a consecutive run). No self-join, no iteration; all "
    "windows keyed on high-cardinality user_id.",
    tags=("events", "sequence"),
)
def q_events_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev_ops

    return ev_ops.user_streaks(tables.load(spark, sf_dir, "events"))


@register(
    "events_state_intervals",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT user_id, event_type, t_us,
               sum(chg) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS run_seq
        FROM flagged
    )
    SELECT user_id, CAST(run_seq AS BIGINT) AS run_seq,
           any_value(event_type) AS event_type,
           min(t_us) AS start_us,
           max(t_us) AS end_us,
           count(*) AS n_events
    FROM runs GROUP BY user_id, run_seq
    """,
    doc="SCD2-style run-length collapse: each maximal run of identical "
    "consecutive event_type per user becomes one [start_us, end_us] "
    "interval row (exact epoch micros, Spark unix_micros == DuckDB "
    "epoch_us). lag flags changes, a keyed running sum numbers runs, "
    "a grouped min/max collapses them — one user_id shuffle serves "
    "all three.",
    tags=("events", "sequence"),
)
def q_events_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev_ops

    return ev_ops.state_intervals(tables.load(spark, sf_dir, "events"))


@register(
    "events_transition_matrix",
    oracle="""
    WITH pairs AS (
        SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
               event_type AS next_type
        FROM events
    ),
    counts AS (
        SELECT prev_type, next_type, count(*) AS n
        FROM pairs WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           CAST((1000000 * n) // sum(n) OVER (PARTITION BY prev_type)
                AS BIGINT) AS share_ppm
    FROM counts
    """,
    doc="First-order Markov transition matrix over per-user event-type "
    "sequences: per-user lag emits transitions off one keyed shuffle, "
    "counts group on the bounded |types|^2 key space, and row "
    "probabilities are exact bigint integer division in ppm.",
    tags=("events", "sequence"),
)
def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev_ops

    return ev_ops.transition_matrix(tables.load(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# ML-evaluation + distributional statistics, all integer-exact: rank-sum
# AUC on the scale-safe prefix sum, market concentration (HHI), weighted
# median, first-digit (Benford) profile.
# ---------------------------------------------------------------------------


@register(
    "model_auc_exact",
    oracle="""
    WITH s AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS lab
        FROM orders
    ),
    g AS (
        SELECT score,
               CAST(sum(lab) AS BIGINT) AS pos,
               CAST(count(*) - sum(lab) AS BIGINT) AS neg
        FROM s GROUP BY score
    ),
    c AS (
        SELECT pos, neg,
               CAST(coalesce(sum(neg) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS below
        FROM g
    )
    SELECT CAST(sum(pos) AS BIGINT) AS npos,
           CAST(sum(neg) AS BIGINT) AS nneg,
           CAST(sum(pos * (2 * below + neg)) AS BIGINT) AS auc_num2,
           CAST((1000000 * CAST(sum(pos * (2 * below + neg)) AS HUGEINT))
                // (2 * CAST(sum(pos) AS HUGEINT) * sum(neg))
                AS BIGINT) AS auc_ppm
    FROM c
    """,
    doc="EXACT tie-aware ROC AUC via the rank-sum (Mann-Whitney) "
    "identity: aggregate to distinct scores (pos/neg counts), running "
    "negative count below each score, numerator = sum pos*(2*below + "
    "ties) in doubled units so tie halves stay integral. The running "
    "sum is the two-phase range-partitioned prefix sum — the oracle's "
    "unpartitioned OVER (ORDER BY score) would pin 100 TB of distinct "
    "scores on one task. auc_ppm is pure bigint floor division.",
    tags=("relational", "ml-eval"),
)
def q_model_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    s = orders.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("lab"),
    )
    return rel.exact_auc(s, "score", "lab")


@register(
    "market_concentration_hhi",
    oracle=f"""
    WITH per_sup AS (
        SELECT l_suppkey, sum({_REV_CENTS_SQL}) AS s_cents
        FROM lineitem GROUP BY l_suppkey
    ),
    j AS (
        SELECT n_name, s_cents
        FROM per_sup
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
    ),
    t AS (
        SELECT n_name, CAST(sum(s_cents) AS BIGINT) AS total_cents,
               count(*) AS n_suppliers
        FROM j GROUP BY n_name
    )
    SELECT j.n_name,
           any_value(total_cents) AS total_cents,
           any_value(n_suppliers) AS n_suppliers,
           CAST(sum(((1000000 * s_cents) // total_cents)
                    * ((1000000 * s_cents) // total_cents)) AS BIGINT)
               AS hhi_ppm2
    FROM j JOIN t ON j.n_name = t.n_name
    GROUP BY j.n_name
    """,
    doc="Herfindahl-Hirschman market-concentration index of supplier "
    "revenue within each nation, in exact ppm^2 units: per-supplier "
    "shares floor to ppm by bigint integer division, HHI = sum of "
    "squared shares (<= 1e12, overflow-safe). Supplier revenue "
    "aggregates map-side on l_suppkey; nation totals are a 25-row "
    "broadcast back — no data-sized shuffle after the first.",
    tags=("relational", "stats"),
)
def q_market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    sup = tables.load(spark, sf_dir, "supplier")
    nation = tables.load(spark, sf_dir, "nation")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    per_sup = li.groupBy("l_suppkey").agg(F.sum(rev).alias("s_cents"))
    j = (
        per_sup.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", "s_cents")
    )
    t = j.groupBy("n_name").agg(
        F.sum("s_cents").cast("bigint").alias("total_cents"),
        F.count("*").alias("n_suppliers"),
    )
    share = F.expr("(1000000 * s_cents) DIV total_cents")
    return (
        j.join(F.broadcast(t), "n_name")
        .groupBy("n_name")
        .agg(
            F.any_value("total_cents").alias("total_cents"),
            F.any_value("n_suppliers").alias("n_suppliers"),
            F.sum(share * share).cast("bigint").alias("hhi_ppm2"),
        )
    )


@register(
    "weighted_median_price",
    oracle="""
    WITH pj AS (
        SELECT p_brand,
               CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    g AS (
        SELECT p_brand, price_cents, CAST(sum(w) AS BIGINT) AS w
        FROM pj GROUP BY p_brand, price_cents
    ),
    c AS (
        SELECT p_brand, price_cents, w,
               CAST(sum(w) OVER (PARTITION BY p_brand ORDER BY price_cents
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
               CAST(sum(w) OVER (PARTITION BY p_brand) AS BIGINT) AS totw
        FROM g
    )
    SELECT p_brand,
           min(CASE WHEN 2 * cumw >= totw THEN price_cents END)
               AS wmedian_cents,
           any_value(totw) AS total_weight
    FROM c GROUP BY p_brand
    """,
    doc="Quantity-weighted (lower) median retail price per brand: "
    "smallest price whose cumulative weight reaches half the total, "
    "decided in exact integer arithmetic (2*cumw >= totw). p_brand "
    "is LOW-cardinality (25), so the cumulative weight rides the "
    "grouped two-phase prefix sum instead of a partitionBy(brand) "
    "window that would pin each brand's 100 TB slice on one task.",
    tags=("relational", "stats"),
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    pj = li.join(part, F.col("l_partkey") == F.col("p_partkey")).select(
        "p_brand",
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias("price_cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    return rel.weighted_median(pj, "p_brand", "price_cents", "w").select(
        "p_brand",
        F.col("wmedian").alias("wmedian_cents"),
        "total_weight",
    )


@register(
    "benford_first_digit",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                   AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders
    ),
    counts AS (
        SELECT digit, count(*) AS n FROM d GROUP BY digit
    )
    SELECT digit, n,
           CAST((1000000 * n) // sum(n) OVER () AS BIGINT) AS share_ppm
    FROM counts
    """,
    doc="First-significant-digit profile of order totals (the Benford "
    "fraud/data-quality screen). The digit comes from the DECIMAL "
    "STRING of integer cents — bigint-to-string is exact on both "
    "engines, dodging float log10/pow boundary hazards. 9-row output; "
    "the normalizing total is a 1-row broadcast, not a global window.",
    tags=("relational", "stats", "quality"),
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    d = orders.select(
        F.expr(
            "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS INT)"
        ).alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("_tot"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.expr("CAST((1000000 * n) DIV _tot AS BIGINT)").alias("share_ppm"),
    )


@register(
    "spatial_nearest_neighbor",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS id,
               (('0x' || substr(md5('px|' || CAST(c_custkey AS VARCHAR)), 1, 8))
                   ::UBIGINT % 100000)::BIGINT AS x,
               (('0x' || substr(md5('py|' || CAST(c_custkey AS VARCHAR)), 1, 8))
                   ::UBIGINT % 100000)::BIGINT AS y
        FROM customer
    ),
    pairs AS (
        SELECT a.id AS id, b.id AS nn_id,
               (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq,
               row_number() OVER (
                   PARTITION BY a.id
                   ORDER BY (a.x - b.x) * (a.x - b.x)
                            + (a.y - b.y) * (a.y - b.y), b.id) AS rk
        FROM pts a JOIN pts b ON a.id <> b.id
    )
    SELECT id, nn_id, dist_sq FROM pairs WHERE rk = 1
    """,
    doc="EXACT 1-nearest-neighbor per customer point: grid 3x3 "
    "candidates with a provable certification bound (an in-grid best "
    "at dist_sq <= cell^2 cannot be beaten from outside, where every "
    "point is > cell away), brute-force broadcast fallback ONLY for "
    "the uncertifiable sliver. The oracle is the full O(n^2) argmin, "
    "so the hash match proves both the blocking completeness and the "
    "tie-break (smallest neighbor id). The oracle is DELIBERATELY "
    "quadratic - at sf1 (150k points, 2.25e10 pairs) it needs ~900 GB "
    "for the window materialization and OOMs, so the differential "
    "check caps at sf0.1 (oracle_scale_cap); the engine side has no "
    "such ceiling (grid-blocked, candidate-bound).",
    tags=("spatial",),
    oracle_scale_cap=0.1,
)
def q_spatial_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import spatial

    cust = tables.load(spark, sf_dir, "customer")
    pts = spatial.synth_points(cust, "c_custkey")
    # No manual cell: the operator derives it from the data's count +
    # bounding box (spatial.auto_cell, ~4 points/cell) — the round-7
    # hand-tuned sqrt(n) rule, now automatic (VERDICT r7 #5).
    return spatial.nearest_neighbor(pts)


# ---------------------------------------------------------------------------
# Customer/inventory analytics: RFM segmentation, ABC classification on the
# global prefix sum, seasonality indices, exact OLS trend sufficient stats.
# ---------------------------------------------------------------------------


@register(
    "customer_rfm_segments",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey,
               coalesce(datediff('day', max(o_orderdate),
                        TIMESTAMP '2001-08-02 00:00:00'), 9999) AS rec_days,
               count(o_orderkey) AS freq,
               coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
                   AS mon_cents
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    ),
    scored AS (
        SELECT CAST(CASE WHEN rec_days <= 180 THEN 3
                         WHEN rec_days <= 540 THEN 2 ELSE 1 END AS VARCHAR)
               || CAST(CASE WHEN freq >= 12 THEN 3
                            WHEN freq >= 6 THEN 2 ELSE 1 END AS VARCHAR)
               || CAST(CASE WHEN mon_cents >= 20000000 THEN 3
                            WHEN mon_cents >= 8000000 THEN 2 ELSE 1
                       END AS VARCHAR) AS segment,
               mon_cents
        FROM per_cust
    )
    SELECT segment, count(*) AS n_customers,
           CAST(sum(mon_cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY segment
    """,
    doc="RFM (recency/frequency/monetary) segmentation at the customer "
    "grain rolled up to the 27-cell segment distribution. The LEFT "
    "join keeps never-purchased customers (recency coalesced to the "
    "1-score). Fixed data-independent thresholds keep the segment a "
    "pure function of each customer's rows — no global quantile "
    "dependency, so the cut points survive resharding and backfills.",
    tags=("relational", "growth"),
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.datediff(F.lit("2001-08-02"), F.max("o_orderdate")),
                F.lit(9999),
            ).alias("rec_days"),
            F.count("o_orderkey").alias("freq"),
            F.coalesce(
                F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")),
                F.lit(0),
            ).alias("mon_cents"),
        )
    )
    seg = F.concat(
        F.when(F.col("rec_days") <= 180, "3")
        .when(F.col("rec_days") <= 540, "2")
        .otherwise("1"),
        F.when(F.col("freq") >= 12, "3")
        .when(F.col("freq") >= 6, "2")
        .otherwise("1"),
        F.when(F.col("mon_cents") >= 20_000_000, "3")
        .when(F.col("mon_cents") >= 8_000_000, "2")
        .otherwise("1"),
    )
    return (
        per_cust.select(seg.alias("segment"), "mon_cents")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("mon_cents").cast("bigint").alias("segment_cents"),
        )
    )


@register(
    "inventory_abc_classification",
    oracle=f"""
    WITH per_part AS (
        SELECT l_partkey, sum({_REV_CENTS_SQL}) AS rev_cents
        FROM lineitem GROUP BY l_partkey
    ),
    keyed AS (
        SELECT rev_cents,
               -(rev_cents * 1000000 + l_partkey % 1000000) AS sk
        FROM per_part
    ),
    c AS (
        SELECT rev_cents,
               sum(rev_cents) OVER (ORDER BY sk ROWS UNBOUNDED PRECEDING)
                   AS cum,
               sum(rev_cents) OVER () AS total
        FROM keyed
    )
    SELECT CASE WHEN 20 * cum <= 16 * total THEN 'A'
                WHEN 20 * cum <= 19 * total THEN 'B'
                ELSE 'C' END AS abc_class,
           count(*) AS n_parts,
           CAST(sum(rev_cents) AS BIGINT) AS class_cents
    FROM c GROUP BY 1
    """,
    doc="ABC inventory classification: parts in descending revenue "
    "order, cumulative revenue share cut at 80%/95% — decided as "
    "20*cum <= 16|19*total in pure integer arithmetic. The descending "
    "order is encoded into one UNIQUE bigint sort key (-(rev*1e6 + "
    "partkey%1e6)) and the cumulative sum rides the two-phase "
    "range-partitioned prefix sum; the oracle's OVER (ORDER BY) "
    "single-task scan is exactly what the engine refuses to do.",
    tags=("relational", "inventory"),
)
def q_inventory_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("rev_cents"))
    keyed = per_part.select(
        "rev_cents",
        (
            -(
                F.col("rev_cents") * F.lit(1_000_000)
                + F.pmod(F.col("l_partkey"), F.lit(1_000_000))
            )
        ).alias("sk"),
        F.lit(1).alias("_all"),
    )
    c = rel.grouped_running_sum(keyed, "_all", "sk", "rev_cents", "cum")
    total = per_part.agg(F.sum("rev_cents").alias("total"))
    cls = (
        F.when(20 * F.col("cum") <= 16 * F.col("total"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("total"), "B")
        .otherwise("C")
    )
    return (
        c.crossJoin(F.broadcast(total))
        .groupBy(cls.alias("abc_class"))
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev_cents").cast("bigint").alias("class_cents"),
        )
    )


@register(
    "orders_seasonality_index",
    oracle="""
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mon,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS m_cents
        FROM orders GROUP BY yr, mon
    ),
    yearly AS (
        SELECT yr, CAST(sum(m_cents) AS BIGINT) AS y_cents,
               count(*) AS n_months
        FROM monthly GROUP BY yr
    )
    SELECT monthly.yr, mon, m_cents,
           CAST((1000000 * n_months * CAST(m_cents AS HUGEINT)) // y_cents AS BIGINT)
               AS seasonality_ppm
    FROM monthly JOIN yearly ON monthly.yr = yearly.yr
    """,
    doc="Monthly seasonality index: each month's revenue vs its year's "
    "monthly average, in exact integer ppm (1e6 = an average month; "
    "the n_months factor handles partial first/last years). Month "
    "aggregate map-side combines; the year totals re-aggregate the "
    "TINY month table and broadcast back.",
    tags=("relational", "window"),
)
def q_orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mon"),
    ).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("m_cents")
    )
    yearly = monthly.groupBy("yr").agg(
        F.sum("m_cents").cast("bigint").alias("y_cents"),
        F.count("*").alias("n_months"),
    )
    return monthly.join(F.broadcast(yearly), "yr").select(
        "yr",
        "mon",
        "m_cents",
        F.expr(
            "CAST((1000000 * n_months * CAST(m_cents AS DECIMAL(38,0)))"
            " DIV y_cents AS BIGINT)"
        ).alias("seasonality_ppm"),
    )


@register(
    "events_linear_trend",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS t,
               CAST(round(value * 100) AS BIGINT) AS val
        FROM events
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS DECIMAL(38,0)) AS n,
               CAST(sum(t) AS DECIMAL(38,0)) AS st,
               CAST(sum(val) AS DECIMAL(38,0)) AS sv,
               CAST(sum(t * val) AS DECIMAL(38,0)) AS stv,
               CAST(sum(t * t) AS DECIMAL(38,0)) AS stt
        FROM v GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(n * stv - st * sv AS BIGINT) AS slope_num,
           CAST(n * stt - st * st AS BIGINT) AS slope_den
    FROM s
    """,
    doc="Per-type OLS trend of event value (cents) over time (epoch "
    "days) as EXACT rational sufficient statistics: slope = "
    "(n*Sum(tv) - Sum(t)Sum(v)) / (n*Sum(t^2) - Sum(t)^2), shipped as "
    "decimal(38,0) numerator/denominator — no float in the pipeline, "
    "so the regression is reproducible and the sums are mergeable "
    "(incremental-view-friendly). One map-side-combined aggregate; "
    "per-row products stay in bigint, accumulation in decimal.",
    tags=("events", "stats", "ml-eval"),
)
def q_events_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("t"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("val"),
    )
    s = v.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("t").cast("decimal(38,0)").alias("st"),
        F.sum("val").cast("decimal(38,0)").alias("sv"),
        F.sum(F.col("t") * F.col("val")).cast("decimal(38,0)").alias("stv"),
        F.sum(F.col("t") * F.col("t")).cast("decimal(38,0)").alias("stt"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        # accumulation stays decimal(38,0); the OUTPUT is bigint — the
        # values are ~2e11 at sf0.1 (7 decades of int64 headroom through
        # sf1000), and an integral column crosses every engine/driver
        # boundary as a plain python int, where DECIMAL(38,0) is fetched
        # as Decimal by some DuckDB versions and int by others (r12 fix,
        # same class as privacy_t_closeness)
        (F.col("n") * F.col("stv") - F.col("st") * F.col("sv"))
        .cast("bigint")
        .alias("slope_num"),
        (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
        .cast("bigint")
        .alias("slope_den"),
    )


# ---------------------------------------------------------------------------
# SQL-API surface, inter-arrival profiling, revenue bridge, survivorship.
# ---------------------------------------------------------------------------


@register(
    "sql_exists_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4-shaped EXISTS correlated subquery, submitted through "
    "the engine's SQL entry point (spark.sql over registered views) "
    "rather than the DataFrame API — the same Catalyst plan either "
    "way: the EXISTS decorrelates to a LEFT SEMI join on l_orderkey, "
    "co-keyed with orders, never a per-row subquery execution.",
    tags=("relational", "tpch", "sql-api"),
)
def q_sql_exists_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables.register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """
    )


@register(
    "events_interarrival_histogram",
    oracle="""
    WITH d AS (
        SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
               // 1000000 AS delta_s
        FROM events
    )
    SELECT CASE WHEN delta_s = 0 THEN 0
                ELSE length(ltrim(bin(delta_s), '0')) END AS log2_bucket,
           count(*) AS n,
           CAST(min(delta_s) AS BIGINT) AS min_s,
           CAST(max(delta_s) AS BIGINT) AS max_s
    FROM d WHERE delta_s IS NOT NULL
    GROUP BY 1
    """,
    doc="Inter-arrival-time distribution in power-of-two buckets: "
    "per-user lag off one keyed shuffle, bucket = bit length of the "
    "whole-second gap (Spark length(bin(v)) == DuckDB "
    "length(ltrim(bin(v),'0')) for positive v; the zero gap is its "
    "own bucket). Log-scale latency/engagement histograms in pure "
    "integer arithmetic — no float log2 anywhere.",
    tags=("events", "stats"),
)
def q_events_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        (
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w))
            / F.lit(1_000_000)
        )
        .cast("bigint")
        .alias("delta_s")
    ).filter(F.col("delta_s").isNotNull())
    bucket = F.when(F.col("delta_s") == 0, 0).otherwise(
        F.length(F.bin(F.col("delta_s")))
    )
    return d.groupBy(bucket.alias("log2_bucket")).agg(
        F.count("*").alias("n"),
        F.min("delta_s").cast("bigint").alias("min_s"),
        F.max("delta_s").cast("bigint").alias("max_s"),
    )


@register(
    "revenue_bridge",
    oracle=f"""
    WITH y AS (
        SELECT l_partkey AS pk,
               sum(CASE WHEN year(l_shipdate) = 1996
                        THEN {_REV_CENTS_SQL} END) AS r96,
               sum(CASE WHEN year(l_shipdate) = 1997
                        THEN {_REV_CENTS_SQL} END) AS r97
        FROM lineitem
        WHERE year(l_shipdate) IN (1996, 1997)
        GROUP BY l_partkey
    )
    SELECT p_brand,
           CAST(sum(CASE WHEN r96 IS NOT NULL AND r97 IS NOT NULL
                         THEN r97 - r96 ELSE 0 END) AS BIGINT)
               AS carried_delta_cents,
           CAST(sum(CASE WHEN r96 IS NULL THEN r97 ELSE 0 END) AS BIGINT)
               AS new_cents,
           CAST(sum(CASE WHEN r97 IS NULL THEN -r96 ELSE 0 END) AS BIGINT)
               AS lapsed_cents,
           CAST(sum(coalesce(r97, 0) - coalesce(r96, 0)) AS BIGINT)
               AS total_delta_cents
    FROM y JOIN part ON pk = p_partkey
    GROUP BY p_brand
    """,
    doc="Revenue bridge (waterfall) decomposition per brand, 1996 -> "
    "1997: the year-over-year delta split into carried (parts selling "
    "in both years), new and lapsed components — the BI explain-the-"
    "change kernel. The two years PIVOT inside one conditional "
    "aggregate (NULL-when-absent is the presence flag), so the bridge "
    "costs one l_partkey shuffle and a brand-dim join, not a "
    "full-outer self-join of two year scans. Components and total "
    "reconcile exactly in integer cents.",
    tags=("relational", "growth"),
)
def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    yr = F.year("l_shipdate")
    y = (
        li.filter(yr.isin(1996, 1997))
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sum(F.when(yr == 1996, rev)).alias("r96"),
            F.sum(F.when(yr == 1997, rev)).alias("r97"),
        )
    )
    both = F.col("r96").isNotNull() & F.col("r97").isNotNull()
    return (
        y.join(part, F.col("pk") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(both, F.col("r97") - F.col("r96")).otherwise(0))
            .cast("bigint")
            .alias("carried_delta_cents"),
            F.sum(F.when(F.col("r96").isNull(), F.col("r97")).otherwise(0))
            .cast("bigint")
            .alias("new_cents"),
            F.sum(F.when(F.col("r97").isNull(), -F.col("r96")).otherwise(0))
            .cast("bigint")
            .alias("lapsed_cents"),
            F.sum(
                F.coalesce(F.col("r97"), F.lit(0))
                - F.coalesce(F.col("r96"), F.lit(0))
            )
            .cast("bigint")
            .alias("total_delta_cents"),
        )
    )


@register(
    "dedup_survivorship",
    oracle="""
    WITH d AS (
        SELECT doc_id, md5(text) AS h, lang, source, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 200000, md5(text), 'xx', 'mirror', n_chars
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 300000, md5(text), lang, 'crawl2', n_chars
        FROM documents WHERE doc_id % 20 = 0
    ),
    grp AS (
        SELECT h, count(*) AS n_copies, min(doc_id) AS canonical_id,
               string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM d GROUP BY h HAVING count(*) >= 2
    ),
    lc AS (
        SELECT h, lang, count(*) AS n FROM d GROUP BY h, lang
    ),
    mx AS (
        SELECT h, max(n) AS mxn FROM lc GROUP BY h
    ),
    top AS (
        SELECT lc.h, min(lang) AS top_lang
        FROM lc JOIN mx ON lc.h = mx.h AND lc.n = mx.mxn
        GROUP BY lc.h
    )
    SELECT canonical_id, n_copies, sources, total_chars, top_lang
    FROM grp JOIN top ON grp.h = top.h
    """,
    doc="Survivorship (golden-record) merge over exact-duplicate "
    "clusters: one surviving row per duplicated text with the keeper "
    "id (min), provenance union (sorted distinct sources — Spark "
    "sort_array(collect_set) == DuckDB ordered string_agg DISTINCT), "
    "merged char count, and majority language (ties to the "
    "alphabetically first — min-of-max, no engine-specific mode()). "
    "Every aggregation keys on the content hash the dedup shuffle "
    "already clustered. Duplicates are planted (mirror + second-crawl "
    "replicas via a narrow in-task explode, like _planted_corpus) so "
    "the expected survivors are known; majority-lang ties arise where "
    "the 'xx' mirror meets a single original.",
    tags=("dedup",),
)
def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    variants = F.array(
        F.struct("doc_id", F.col("lang"), F.col("source"), "n_chars"),
        F.struct(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.lit("xx").alias("lang"),
            F.lit("mirror").alias("source"),
            F.col("n_chars"),
        ),
        F.struct(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.col("lang"),
            F.lit("crawl2").alias("source"),
            F.col("n_chars"),
        ),
    )
    keep = F.filter(
        variants,
        lambda v, i: (i == 0)
        | ((i == 1) & (F.col("doc_id") % 10 == 0))
        | ((i == 2) & (F.col("doc_id") % 20 == 0)),
    )
    d = docs.select(F.md5("text").alias("h"), F.explode(keep).alias("v")).select(
        F.col("v.doc_id").alias("doc_id"),
        "h",
        F.col("v.lang").alias("lang"),
        F.col("v.source").alias("source"),
        F.col("v.n_chars").alias("n_chars"),
    )
    grp = (
        d.groupBy("h")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("canonical_id"),
            F.array_join(F.sort_array(F.collect_set("source")), ",").alias(
                "sources"
            ),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .filter(F.col("n_copies") >= 2)
    )
    lc = d.groupBy("h", "lang").agg(F.count("*").alias("n"))
    mx = lc.groupBy("h").agg(F.max("n").alias("mxn"))
    top = (
        lc.join(mx, "h")
        .filter(F.col("n") == F.col("mxn"))
        .groupBy("h")
        .agg(F.min("lang").alias("top_lang"))
    )
    return grp.join(top, "h").select(
        "canonical_id", "n_copies", "sources", "total_chars", "top_lang"
    )


# ---------------------------------------------------------------------------
# Disjunctive-predicate joins, anti-join cohorts, OHLC downsampling, IQR
# outlier gates.
# ---------------------------------------------------------------------------


@register(
    "disjunctive_predicate_join",
    oracle=f"""
    SELECT count(*) AS n, CAST(sum({_REV_CENTS_SQL}) AS BIGINT)
               AS revenue_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19-shaped disjunctive multi-predicate join. Catalyst "
    "extracts the common-subexpression bounds from the OR tree: the "
    "derived p_size <= 35 / l_quantity <= 30 envelope pushes to BOTH "
    "parquet scans before the join, so each side prunes row groups "
    "even though no single disjunct applies to all rows; the full OR "
    "evaluates post-join inside codegen.",
    tags=("relational", "tpch"),
)
def q_disjunctive_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(10, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.count("*").alias("n"),
            F.sum(rev).cast("bigint").alias("revenue_cents"),
        )
    )


@register(
    "idle_rich_customers",
    oracle="""
    WITH avg_bal AS (
        SELECT avg(CAST(round(c_acctbal * 100) AS BIGINT)) AS a_cents
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment, count(*) AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS bal_cents
    FROM customer, avg_bal
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) > a_cents
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
    doc="TPC-H Q22-shaped dormant-high-balance cohort: customers above "
    "the positive-balance average with NO orders since 2000. The "
    "scalar subquery "
    "is a 1-row broadcast (average computed on exact integer cents so "
    "the threshold is order-independent); the NOT EXISTS decorrelates "
    "to a LEFT ANTI join on the customer key. No sort, two shuffles "
    "total at any scale.",
    tags=("relational", "tpch"),
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders")
    cents = F.expr("CAST(round(c_acctbal * 100) AS BIGINT)")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg(cents).alias("a_cents")
    )
    recent = orders.filter(F.col("o_orderdate") >= "2000-01-01")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(cents > F.col("a_cents"))
        .join(recent, cust["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(cents).cast("bigint").alias("bal_cents"),
        )
    )


@register(
    "events_ohlc_bars",
    oracle="""
    WITH v AS (
        SELECT event_type, epoch_us(ts) AS t_us, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    l1 AS (
        SELECT event_type, (t_us // 3600000000) * 3600 AS bar_s, t_us,
               arg_min(cents, event_id) AS first_c,
               arg_max(cents, event_id) AS last_c,
               min(cents) AS min_c, max(cents) AS max_c,
               count(*) AS n
        FROM v GROUP BY event_type, bar_s, t_us
    )
    SELECT event_type, bar_s,
           arg_min(first_c, t_us) AS open_cents,
           CAST(max(max_c) AS BIGINT) AS high_cents,
           CAST(min(min_c) AS BIGINT) AS low_cents,
           arg_max(last_c, t_us) AS close_cents,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM l1 GROUP BY event_type, bar_s
    """,
    doc="OHLC candlestick downsampling to hourly bars per event type: "
    "open/close are argmin/argmax over event time, made DETERMINISTIC "
    "by a two-level aggregate — within one microsecond the unique "
    "event_id decides, across timestamps the now-unique t_us decides "
    "(Spark min_by/max_by == DuckDB arg_min/arg_max, safe only "
    "because each level's key is unique within its group). Both "
    "levels map-side combine; high/low/count merge trivially.",
    tags=("events", "timeseries"),
)
def q_events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev_ops

    return ev_ops.ohlc_bars(tables.load(spark, sf_dir, "events"))


@register(
    "events_iqr_outliers",
    oracle="""
    WITH v AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    q AS (
        SELECT event_type,
               CAST(4 * quantile_cont(cents, 0.25) AS BIGINT) AS q1x4,
               CAST(4 * quantile_cont(cents, 0.75) AS BIGINT) AS q3x4
        FROM v GROUP BY event_type
    )
    SELECT v.event_type, any_value(q1x4) AS q1x4, any_value(q3x4) AS q3x4,
           CAST(sum(CASE WHEN 8 * cents < 2 * q1x4 - 3 * (q3x4 - q1x4)
                         OR 8 * cents > 2 * q3x4 + 3 * (q3x4 - q1x4)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           count(*) AS n
    FROM v JOIN q ON v.event_type = q.event_type
    GROUP BY v.event_type
    """,
    doc="Tukey-fence (1.5 IQR) outlier gate per event type, decided "
    "entirely in integer arithmetic: quartiles ship in x4 units "
    "(linear interpolation of integers at p=.25/.75 is a multiple of "
    "1/4; Spark percentile and DuckDB quantile_cont share the (n-1)p "
    "convention), fences compare in x8 units so the 1.5 factor stays "
    "integral. The 5-row quartile table broadcasts back onto the "
    "scan; both aggregates map-side combine.",
    tags=("events", "stats", "quality"),
)
def q_events_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents")
    )
    # one array-fraction percentile buffer, not two (see
    # q_exact_percentiles)
    q = (
        v.groupBy("event_type")
        .agg(
            F.expr("percentile(cents, array(0.25D, 0.75D))").alias("_p")
        )
        .selectExpr(
            "event_type",
            "CAST(4 * _p[0] AS BIGINT) AS q1x4",
            "CAST(4 * _p[1] AS BIGINT) AS q3x4",
        )
    )
    lo = 2 * F.col("q1x4") - 3 * (F.col("q3x4") - F.col("q1x4"))
    hi = 2 * F.col("q3x4") + 3 * (F.col("q3x4") - F.col("q1x4"))
    out = (8 * F.col("cents") < lo) | (8 * F.col("cents") > hi)
    return (
        v.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("q1x4").alias("q1x4"),
            F.any_value("q3x4").alias("q3x4"),
            F.sum(F.when(out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
            F.count("*").alias("n"),
        )
    )


@register(
    "events_attribution_outer_streaming",
    # sentinel-flushed bounded replay emits every click exactly once
    # (matched or null-padded) → the batch LEFT JOIN is a full oracle
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    windows AS (
        SELECT event_id AS purchase_id, user_id, ts AS start_ts,
               ts + INTERVAL 2 HOUR AS end_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id AS click_id, w.purchase_id AS purchase_id,
           c.user_id AS user_id
    FROM clicks c
    LEFT JOIN windows w ON c.user_id = w.user_id
                       AND c.ts >= w.start_ts AND c.ts < w.end_ts
    """,
    doc="X6 stream-stream LEFT OUTER interval join: unmatched clicks "
    "are held in state and emitted null-padded only when the "
    "purchase-side watermark proves no match can still arrive — "
    "every click emits exactly once, none eagerly. Equivalence with "
    "the batch left join asserted in tests/test_streaming.py.",
    tags=("events", "streaming"),
)
def q_events_attribution_outer_streaming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .streaming import events_stream as es

    stream = es.read_events_stream_with_flush(spark, sf_dir)
    return es.run_bounded(
        es.attribution_left_outer_stream(stream), mode="append"
    ).filter(F.col("click_id") >= 0)


@register(
    "embedding_quantize_int8",
    oracle="""
    SELECT vec_id,
           round(CAST(list_aggregate(list_transform(
                     CAST(embedding AS DOUBLE[]), x -> abs(x)), 'max')
                 AS DOUBLE), 6) AS scale,
           CASE WHEN list_aggregate(list_transform(
                     CAST(embedding AS DOUBLE[]), x -> abs(x)), 'max') = 0
                THEN array_to_string(list_transform(
                     CAST(embedding AS DOUBLE[]), x -> '0'), ',')
                ELSE array_to_string(list_transform(
                     CAST(embedding AS DOUBLE[]),
                     x -> CAST(CAST(round(127.0 * x / list_aggregate(
                              list_transform(CAST(embedding AS DOUBLE[]),
                                             y -> abs(y)), 'max'))
                          AS INTEGER) AS VARCHAR)), ',')
           END AS q8
    FROM embeddings
    """,
    doc="Symmetric int8 vector quantization (the storage/serving format "
    "for billion-scale ANN): per-vector max-abs scale, q_i = "
    "round(127*x_i/scale) — 4x smaller than fp32 before any codec. "
    "Pure higher-order array functions inside codegen (no UDF, no "
    "explode — the vector never leaves its row), identical IEEE op "
    "chain on both engines; zero vectors quantize to zeros. Quantized "
    "dims export as a canonical comma string.",
    tags=("similarity", "multimodal"),
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    maxabs = F.array_max(F.transform(e, lambda x: F.abs(x)))
    quant = F.transform(
        e,
        lambda x: F.round(F.lit(127.0) * x / maxabs).cast("int").cast("string"),
    )
    zeros = F.transform(e, lambda x: F.lit("0"))
    return emb.select(
        "vec_id",
        F.round(maxabs, 6).alias("scale"),
        F.array_join(F.when(maxabs == 0, zeros).otherwise(quant), ",").alias(
            "q8"
        ),
    )


@register(
    "events_autocorr_lag1",
    oracle="""
    WITH daily AS (
        SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY d
    ),
    pairs AS (
        SELECT a.cents AS x, b.cents AS y
        FROM daily a JOIN daily b ON b.d = a.d + 1
    )
    SELECT count(*) AS n_pairs,
           CAST(CAST(count(*) AS DECIMAL(38,0)) * CAST(sum(x * y)
                    AS DECIMAL(38,0))
                - CAST(sum(x) AS DECIMAL(38,0)) * CAST(sum(y)
                    AS DECIMAL(38,0)) AS BIGINT) AS corr_num,
           CAST(CAST(count(*) AS DECIMAL(38,0)) * CAST(sum(x * x)
                    AS DECIMAL(38,0))
                - CAST(sum(x) AS DECIMAL(38,0)) * CAST(sum(x)
                    AS DECIMAL(38,0)) AS BIGINT) AS var_x,
           CAST(CAST(count(*) AS DECIMAL(38,0)) * CAST(sum(y * y)
                    AS DECIMAL(38,0))
                - CAST(sum(y) AS DECIMAL(38,0)) * CAST(sum(y)
                    AS DECIMAL(38,0)) AS BIGINT) AS var_y
    FROM pairs
    """,
    doc="Lag-1 autocorrelation of the daily revenue series as EXACT "
    "rational sufficient statistics: r = corr_num / "
    "sqrt(var_x*var_y), shipped unevaluated in decimal(38,0) so no "
    "float touches the pipeline. The lag pairing is an equi-join of "
    "the (tiny) daily aggregate with itself on d+1 — no window over "
    "an unpartitioned order, no collect. The day aggregate map-side "
    "combines; everything downstream is metadata-sized.",
    tags=("events", "stats", "timeseries"),
)
def q_events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("cents")
    )
    a = daily.select(F.col("d").alias("da"), F.col("cents").alias("x"))
    b = daily.select(F.col("d").alias("db"), F.col("cents").alias("y"))
    pairs = a.join(b, F.col("db") == F.col("da") + 1)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return agg.select(
        "n_pairs",
        # decimal(38,0) arithmetic, BIGINT output: values are ~1e14 at
        # sf0.1 (daily-sum pairs are day-count-bound, not row-bound), and
        # an integral column crosses the engine/driver boundary as a
        # plain int — DECIMAL(38,0) fetches as python Decimal in some
        # DuckDB versions and int in others (r12 fix)
        (dec(F.col("n_pairs")) * dec(F.col("sxy")) - dec(F.col("sx")) * dec(F.col("sy")))
        .cast("bigint")
        .alias("corr_num"),
        (dec(F.col("n_pairs")) * dec(F.col("sxx")) - dec(F.col("sx")) * dec(F.col("sx")))
        .cast("bigint")
        .alias("var_x"),
        (dec(F.col("n_pairs")) * dec(F.col("syy")) - dec(F.col("sy")) * dec(F.col("sy")))
        .cast("bigint")
        .alias("var_y"),
    )


@register(
    "returned_items_report",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10-shaped returned-items report: which customers "
    "returned the most revenue last quarter. Four-way join — nation "
    "broadcast, the quarter filter semi-reduces orders BEFORE the "
    "lineitem join (pushed to the scan), returnflag pushed to the "
    "lineitem scan — then top-20 via TakeOrderedAndProject with a "
    "key tie-break.",
    tags=("relational", "tpch"),
)
def q_returned_items_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    nation = tables.load(spark, sf_dir, "nation")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1997-04-01")
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_returnflag") == "R")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("bigint").alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H decision-support completion: the remaining canonical join/agg shapes
# (Q5 local-supplier volume, Q7 bilateral trade, Q8 market share, Q14 promo
# share), adapted to the driver's slimmed star schema. All money stays in
# exact bigint cents; all shares are exact bigint integer division in ppm.
# ---------------------------------------------------------------------------


@register(
    "local_supplier_volume",
    oracle=f"""
    SELECT n_name, CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue_cents DESC, n_name
    """,
    doc="TPC-H Q5-shaped local-supplier volume: revenue where customer "
    "and supplier share a nation inside one region, by nation. The "
    "order-year filter pushes to the orders scan and semi-reduces "
    "before the lineitem join; supplier/nation/region broadcast (the "
    "nation co-location predicate rides the supplier broadcast join, "
    "so no extra shuffle); the only exchanges are the two fact joins "
    "(custkey, then orderkey).",
    tags=("relational", "tpch"),
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    supp = tables.load(spark, sf_dir, "supplier")
    nation = tables.load(spark, sf_dir, "nation")
    region = tables.load(spark, sf_dir, "region")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return (
        cust.join(
            orders.filter(
                (F.col("o_orderdate") >= "1997-01-01")
                & (F.col("o_orderdate") < "1998-01-01")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("bigint").alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), "n_name")
    )


@register(
    "nation_pair_trade_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_nationkey <> n2.n_nationkey
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, ship_year
    ORDER BY supp_nation, cust_nation, ship_year
    """,
    doc="TPC-H Q7-shaped bilateral trade volume, generalized from one "
    "nation pair to the full (supplier nation, customer nation) "
    "matrix: cross-border revenue by pair and ship year. The shipdate "
    "range pushes to the lineitem scan; both nation lookups are the "
    "same broadcast dim aliased twice; the cross-border inequality is "
    "a cheap post-broadcast filter, never a join explosion (output "
    "key space is |nations|^2 x years, metadata-sized).",
    tags=("relational", "tpch"),
)
def q_nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    cust = tables.load(spark, sf_dir, "customer")
    li = tables.load(spark, sf_dir, "lineitem")
    supp = tables.load(spark, sf_dir, "supplier")
    nation = tables.load(spark, sf_dir, "nation")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("sn_key") != F.col("cn_key"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(F.sum(rev).cast("bigint").alias("revenue_cents"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@register(
    "market_share_ppm",
    oracle=f"""
    WITH sales AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
               {_REV_CENTS_SQL} AS rev,
               CASE WHEN n1.n_name = 'NATION_2' THEN {_REV_CENTS_SQL}
                    ELSE 0 END AS target_rev
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region ON n2.n_regionkey = r_regionkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT order_year,
           CAST(sum(target_rev) AS BIGINT) AS target_cents,
           CAST(sum(rev) AS BIGINT) AS total_cents,
           CAST((1000000 * CAST(sum(target_rev) AS HUGEINT)) // sum(rev) AS BIGINT)
               AS share_ppm
    FROM sales GROUP BY order_year ORDER BY order_year
    """,
    doc="TPC-H Q8-shaped market share: one supplier nation's share of "
    "PROMO-part revenue sold into one region's market, by order year, "
    "as exact bigint cents and integer-division ppm. The share is a "
    "conditional aggregate over ONE pass (no self-join of sales "
    "against sales): numerator rides a CASE inside the same "
    "groupBy. part/supplier/nation/region broadcast; p_type pushes "
    "to the part scan before the broadcast.",
    tags=("relational", "tpch"),
)
def q_market_share_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    supp = tables.load(spark, sf_dir, "supplier")
    nation = tables.load(spark, sf_dir, "nation")
    orders = tables.load(spark, sf_dir, "orders")
    cust = tables.load(spark, sf_dir, "customer")
    region = tables.load(spark, sf_dir, "region")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    asia = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("cn_key"))
    sales = (
        li.join(F.broadcast(part.filter(F.col("p_type") == "PROMO")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(
            orders.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1998-01-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia), F.col("c_nationkey") == F.col("cn_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            rev.alias("rev"),
            F.when(F.col("supp_nation") == "NATION_2", rev)
            .otherwise(F.lit(0))
            .alias("target_rev"),
        )
    )
    return (
        sales.groupBy("order_year")
        .agg(
            F.sum("target_rev").cast("bigint").alias("target_cents"),
            F.sum("rev").cast("bigint").alias("total_cents"),
        )
        .select(
            "order_year",
            "target_cents",
            "total_cents",
            F.expr("CAST((1000000 * CAST(target_cents AS DECIMAL(38,0)))"
                   " DIV total_cents AS BIGINT)")
            .alias("share_ppm"),
        )
        .orderBy("order_year")
    )


@register(
    "promo_revenue_ppm",
    oracle=f"""
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_CENTS_SQL}
                         ELSE 0 END) AS BIGINT) AS promo_cents,
           CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS total_cents,
           CAST((1000000 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                    THEN {_REV_CENTS_SQL} ELSE 0 END)
                                AS HUGEINT))
                // sum({_REV_CENTS_SQL}) AS BIGINT) AS promo_ppm
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY ship_month
    ORDER BY ship_month
    """,
    doc="TPC-H Q14-shaped promo-revenue share by ship month, in exact "
    "cents and integer-division ppm. One conditional aggregate over "
    "the part join — the classic sum(CASE)/sum shape with no second "
    "scan; shipdate range pushes to the lineitem scan, part "
    "broadcasts (at warehouse scale part-side would shuffle on "
    "partkey under AQE; the conditional-agg shape is unchanged).",
    tags=("relational", "tpch"),
)
def q_promo_revenue_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.to_date(F.date_trunc("month", "l_shipdate")).alias("ship_month")
        )
        .agg(
            F.sum(promo).cast("bigint").alias("promo_cents"),
            F.sum(rev).cast("bigint").alias("total_cents"),
        )
        .select(
            "ship_month",
            "promo_cents",
            "total_cents",
            F.expr("CAST((1000000 * CAST(promo_cents AS DECIMAL(38,0)))"
                   " DIV total_cents AS BIGINT)")
            .alias("promo_ppm"),
        )
        .orderBy("ship_month")
    )


@register(
    "top_revenue_supplier",
    oracle=f"""
    WITH srev AS (
        SELECT l_suppkey,
               CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS total_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_cents
    FROM supplier JOIN srev ON s_suppkey = l_suppkey
    WHERE total_cents = (SELECT max(total_cents) FROM srev)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15-shaped top supplier: quarterly revenue per supplier, "
    "keep the supplier(s) hitting the global max. The max is a 1-row "
    "scalar aggregate of the ALREADY-AGGREGATED supplier rollup "
    "(supplier-cardinality input, not a lineitem rescan) broadcast "
    "back as a cross join — the classic decorrelation of Q15's view. "
    "Exact cents make the max-equality tie semantics deterministic; "
    "all potential ties are kept, as in the spec.",
    tags=("relational", "tpch"),
)
def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    supp = tables.load(spark, sf_dir, "supplier")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    srev = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1997-04-01")
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev).cast("bigint").alias("total_cents"))
    )
    best = srev.agg(F.max("total_cents").alias("best_cents"))
    return (
        srev.join(F.broadcast(best))
        .filter(F.col("total_cents") == F.col("best_cents"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_cents")
        .orderBy("s_suppkey")
    )


@register(
    "supplier_part_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16-shaped supplier variety (partsupp absent from the "
    "slimmed schema, so actual shipment facts stand in for the "
    "part-supplier relation): distinct suppliers per (brand, type, "
    "size) bucket, excluding one brand, one type family, and "
    "complaint suppliers (negative balance) via a broadcast "
    "LEFT ANTI join — NOT IN decorrelated without a null trap since "
    "keys are non-null. count(DISTINCT) expands partially map-side; "
    "brand/type/size predicates push to the part scan before its "
    "broadcast.",
    tags=("relational", "tpch"),
)
def q_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    supp = tables.load(spark, sf_dir, "supplier")
    sizes = [1, 4, 9, 16, 25, 36, 49]
    keep_parts = part.filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(sizes)
    )
    complaints = supp.filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_suppkey")
    )
    return (
        li.join(
            F.broadcast(complaints),
            F.col("l_suppkey") == F.col("bad_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(keep_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "large_volume_customers",
    oracle="""
    WITH big AS (
        SELECT l_orderkey,
               CAST(round(sum(l_quantity)) AS BIGINT) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 300
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY total_qty DESC, o_orderkey
    """,
    doc="TPC-H Q18-shaped large-volume customers: orders whose total "
    "quantity tops 300, with their customer. The HAVING aggregate "
    "collapses lineitem to order grain FIRST (map-side combine on "
    "orderkey, the natural parquet order), so the orders/customer "
    "joins see only the tiny qualifying set — never a "
    "lineitem-x-orders join. Quantities are integral by "
    "construction; round() makes the bigint export exact.",
    tags=("relational", "tpch"),
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    orders = tables.load(spark, sf_dir, "orders")
    cust = tables.load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty_sum"))
        .filter(F.col("qty_sum") > 300)
        .select(
            "l_orderkey",
            F.round("qty_sum").cast("bigint").alias("total_qty"),
        )
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
    )


@register(
    "late_shipment_priority",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
    GROUP BY ship_year
    ORDER BY ship_year
    """,
    doc="TPC-H Q12-shaped late-shipment accounting (the slimmed schema "
    "has no shipmode/commit/receipt dates, so 'late' = shipped 60+ "
    "days after order placement): high- vs low-priority line counts "
    "per ship year via the Q12 double-CASE conditional aggregate. "
    "The lateness predicate is row-local after the orderkey join "
    "(one fact-fact shuffle); output is years-sized.",
    tags=("relational", "tpch"),
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    orders = tables.load(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.expr("o_orderdate + INTERVAL 60 DAY"))
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1))
            .cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("ship_year")
    )


@register(
    "min_price_supplier",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               min(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS min_price_cents
        FROM lineitem
        JOIN part ON p_partkey = l_partkey AND p_size = 15
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        GROUP BY l_partkey, l_suppkey
    )
    SELECT ps.l_partkey AS p_partkey, p_name,
           ps.l_suppkey AS s_suppkey, s_name, min_price_cents
    FROM ps
    JOIN part ON p_partkey = ps.l_partkey
    JOIN supplier ON s_suppkey = ps.l_suppkey
    WHERE min_price_cents = (SELECT min(ps2.min_price_cents) FROM ps ps2
                             WHERE ps2.l_partkey = ps.l_partkey)
    ORDER BY p_partkey, s_suppkey
    """,
    doc="TPC-H Q2-shaped groupwise-min supplier selection (lineitem "
    "shipment facts stand in for the absent partsupp): for each "
    "size-15 part served from one region, the supplier(s) offering "
    "the minimum price, ALL ties kept. The correlated min subquery "
    "decorrelates to a keyed min window over the (part, supplier) "
    "rollup — both the rollup and the window share ONE partkey-side "
    "shuffle (the window key prefixes the group key, no second "
    "exchange). Exact cents make min-equality deterministic.",
    tags=("relational", "tpch"),
)
def q_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    supp = tables.load(spark, sf_dir, "supplier")
    nation = tables.load(spark, sf_dir, "nation")
    region = tables.load(spark, sf_dir, "region")
    europe_supp = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name")
    )
    ps = (
        li.join(
            F.broadcast(part.filter(F.col("p_size") == 15)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(europe_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey", "p_name", "s_name")
        .agg(
            F.min(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias(
                "min_price_cents"
            )
        )
    )
    w = Window.partitionBy("l_partkey")
    return (
        ps.withColumn("part_min", F.min("min_price_cents").over(w))
        .filter(F.col("min_price_cents") == F.col("part_min"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            "min_price_cents",
        )
        .orderBy("p_partkey", "s_suppkey")
    )


@register(
    "product_type_profit",
    oracle="""
    SELECT n_name AS supp_nation,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(sum(10 * CAST(round(l_extendedprice * (1 - l_discount) * 100)
                              AS BIGINT)
                    - CAST(round(p_retailprice * 100) AS BIGINT)
                      * CAST(round(l_quantity) AS BIGINT))
                AS BIGINT) AS profit_tenth_cents
    FROM lineitem
    JOIN part ON p_partkey = l_partkey AND p_name LIKE '%gear%'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    GROUP BY supp_nation, order_year
    ORDER BY supp_nation, order_year
    """,
    doc="TPC-H Q9-shaped product-type profit (no partsupp supply cost "
    "in the slimmed schema, so cost is modeled as 10% of retail "
    "price x quantity — integer tenth-cents, exact): profit on "
    "'gear' parts by supplier nation and order year, in integer "
    "tenth-cents (10*rev_cents - retail_cents*qty) so every term and "
    "every partial sum is a bigint — no float ever enters, so "
    "partition order cannot perturb the total. The name pattern "
    "pushes to the part scan before broadcast; the lineitem-orders "
    "join is the one fact-fact shuffle.",
    tags=("relational", "tpch"),
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    supp = tables.load(spark, sf_dir, "supplier")
    nation = tables.load(spark, sf_dir, "nation")
    orders = tables.load(spark, sf_dir, "orders")
    profit = F.expr(
        "10 * CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) "
        "- CAST(round(p_retailprice * 100) AS BIGINT) "
        "  * CAST(round(l_quantity) AS BIGINT)"
    )
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_name").like("%gear%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(F.sum(profit).cast("bigint").alias("profit_tenth_cents"))
        .orderBy("supp_nation", "order_year")
    )


@register(
    "dominant_part_suppliers",
    oracle="""
    WITH pq AS (
        SELECT l_partkey, l_suppkey,
               CAST(round(sum(l_quantity)) AS BIGINT) AS supp_qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_partkey, l_suppkey
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM pq
    JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE 2 * supp_qty > (SELECT sum(pq2.supp_qty) FROM pq pq2
                          WHERE pq2.l_partkey = pq.l_partkey)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20-shaped dominant-supplier selection (shipment share "
    "stands in for the absent availqty-vs-half-of-shipped test): "
    "suppliers who shipped more than half of some PROMO part's 1997 "
    "volume. The correlated sum decorrelates to a keyed sum window "
    "over the (part, supplier) rollup sharing its shuffle; the "
    "majority test is the integer cross-multiplication 2*q > total "
    "(no division, no floats); DISTINCT collapses multi-part "
    "dominators.",
    tags=("relational", "tpch"),
)
def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    supp = tables.load(spark, sf_dir, "supplier")
    pq = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.sum("l_quantity")).cast("bigint").alias("supp_qty"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        pq.withColumn("part_qty", F.sum("supp_qty").over(w))
        .filter(2 * F.col("supp_qty") > F.col("part_qty"))
        .join(
            F.broadcast(part.filter(F.col("p_type") == "PROMO")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


@register(
    "sole_late_supplier",
    oracle="""
    WITH l AS (
        SELECT l_orderkey, l_suppkey,
               max(CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY
                        THEN 1 ELSE 0 END) AS is_late
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey AND o_orderstatus = 'F'
        GROUP BY l_orderkey, l_suppkey
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM l l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE l1.is_late = 1
      AND EXISTS (SELECT 1 FROM l l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.is_late = 1)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
    doc="TPC-H Q21-shaped suppliers-who-kept-orders-waiting (lateness "
    "= shipped 60+ days after placement of a finalized order, since "
    "the slimmed schema has no commit/receipt dates): late suppliers "
    "on multi-supplier orders where NO other supplier was late. The "
    "EXISTS / NOT EXISTS pair decorrelates to ONE order-grain "
    "window: per-order supplier count and late count over the "
    "(order, supplier) rollup — qualifying iff is_late=1 AND "
    "suppliers>=2 AND late_count=1 — one shuffle instead of two "
    "correlated rescans.",
    tags=("relational", "tpch"),
)
def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = tables.load(spark, sf_dir, "lineitem")
    orders = tables.load(spark, sf_dir, "orders")
    supp = tables.load(spark, sf_dir, "supplier")
    late = F.when(
        F.col("l_shipdate") >= F.expr("o_orderdate + INTERVAL 60 DAY"), 1
    ).otherwise(0)
    per_supplier = (
        li.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    return (
        per_supplier.withColumn("n_suppliers", F.count("*").over(w))
        .withColumn("n_late", F.sum("is_late").over(w))
        .filter(
            (F.col("is_late") == 1)
            & (F.col("n_suppliers") >= 2)
            & (F.col("n_late") == 1)
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@register(
    "forecast_revenue_change",
    oracle="""
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT))
                AS BIGINT) AS potential_revenue_e4
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 forecast-revenue-change: the canonical "
    "scan-filter-aggregate with NO join and NO shuffle beyond the "
    "final 1-row reduce — every predicate (shipdate range, discount "
    "band, quantity cap) pushes to the parquet scan, and the product "
    "is computed on integer cents x discount-basis-points (unit "
    "10^-4 currency) so the sum is exact. The query the scan layer "
    "is judged by: at 100 TB it reads only row groups whose min/max "
    "stats overlap the filters.",
    tags=("relational", "tpch"),
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    term = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) "
        "* CAST(round(l_discount * 100) AS BIGINT)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(term).cast("bigint").alias("potential_revenue_e4"))
    )


@register(
    "important_part_stock",
    oracle=f"""
    WITH pv AS (
        SELECT l_partkey,
               CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS part_value_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_7'
        GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey, part_value_cents
    FROM pv
    WHERE 10000 * part_value_cents >
          (SELECT sum(pv2.part_value_cents) FROM pv pv2)
    ORDER BY part_value_cents DESC, p_partkey
    """,
    doc="TPC-H Q11-shaped important stock (shipped value from one "
    "nation's suppliers stands in for the absent partsupp holdings): "
    "parts whose value exceeds 1/10000 of the nation's total. The "
    "correlated scalar-sum threshold decorrelates to a 1-row "
    "aggregate OF THE PART-GRAIN ROLLUP (not a second fact scan) "
    "broadcast back; the fraction test is the integer "
    "cross-multiplication 10000*v > total, so no float and no "
    "division. One fact shuffle (partkey rollup) total.",
    tags=("relational", "tpch"),
)
def q_important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    supp = tables.load(spark, sf_dir, "supplier")
    nation = tables.load(spark, sf_dir, "nation")
    rev = F.expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
    nation7_supp = supp.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_7")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    pv = (
        li.join(F.broadcast(nation7_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(rev).cast("bigint").alias("part_value_cents"))
    )
    total = pv.agg(F.sum("part_value_cents").alias("total_cents"))
    return (
        pv.join(F.broadcast(total))
        .filter(10000 * F.col("part_value_cents") > F.col("total_cents"))
        .select(F.col("l_partkey").alias("p_partkey"), "part_value_cents")
        .orderBy(F.col("part_value_cents").desc(), "p_partkey")
    )


@register(
    "events_stream_static_enrich",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
               AS window_start,
           c_mktsegment AS mktsegment,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY window_start, mktsegment
    """,
    doc="X6 stream-static enrichment: streaming events broadcast-join a "
    "static customer-segment dimension (no join state, dim re-resolved "
    "each micro-batch, stream never shuffled by the join), then "
    "aggregate revenue per (hour, segment) under a watermark. The "
    "streaming run's final materialized result is deterministic, so "
    "the batch join+agg SQL is a direct oracle, not just a twin.",
    tags=("events", "streaming"),
)
def q_events_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    customers = tables.load(spark, sf_dir, "customer")
    return es.run_bounded(es.enriched_segment_agg_stream(stream, customers))


@register(
    "sketch_histogram_quantiles",
    oracle="""
    WITH h AS (
        SELECT CAST(length(ltrim(bin(CAST(round(value * 100) AS BIGINT)),
                                '0')) AS INTEGER) AS bucket,
               count(*) AS cnt
        FROM events GROUP BY bucket
    ),
    c AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM h),
    t AS (SELECT sum(cnt) AS total FROM h),
    q AS (SELECT unnest([50, 90, 99]) AS q)
    SELECT q, CAST((total * q + 99) // 100 AS BIGINT) AS rank_needed,
           CAST(min(bucket) AS INTEGER) AS bucket,
           CAST(1::BIGINT << (CAST(min(bucket) AS INTEGER) - 1) AS BIGINT)
               AS lo_cents,
           CAST((1::BIGINT << CAST(min(bucket) AS INTEGER)) - 1 AS BIGINT)
               AS hi_cents
    FROM q, t, c
    WHERE cum >= (total * q + 99) // 100
    GROUP BY q, total
    ORDER BY q
    """,
    doc="Mergeable approximate quantiles (p50/p90/p99) from a "
    "power-of-two histogram sketch over event values in cents: "
    "bucket = bit_length(cents), partial histograms vector-add "
    "map-side (the one shuffle moves ~64-row partials, never data), "
    "quantile extraction is a triangular self-join prefix sum over "
    "the bucket rows — no unpartitioned window, no driver loop. "
    "Fully deterministic and integer-exact, so the sketch itself is "
    "oracle-checkable; true quantile provably inside the returned "
    "one-octave [lo, hi] bucket.",
    tags=("sketches", "stats"),
)
def q_sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import sketches as sk

    ev = tables.load(spark, sf_dir, "events")
    hist = sk.value_histogram(ev, "CAST(round(value * 100) AS BIGINT)")
    return sk.histogram_quantiles(hist, [50, 90, 99])


@register(
    "orc_sink_roundtrip",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    WHERE o_orderkey % 25 = 0
    GROUP BY priority
    """,
    doc="Multi-format IO: writes an orders sample as ORC via the typed "
    "format layer (sources/formats.py), reads it back with the pinned "
    "schema, aggregates. The oracle aggregates the same rows straight "
    "from parquet, so any ORC write/read value or type drift fails "
    "the hash. parquet/ORC are the self-describing columnar pair "
    "(pushdown + pruning); CSV/JSON roundtrips are covered by typed "
    "tests in tests/test_sources.py.",
    tags=("core", "sink"),
)
def q_orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import formats

    orders = tables.load(spark, sf_dir, "orders")
    sample = orders.filter(F.col("o_orderkey") % 25 == 0)
    path = _scratch_dir("orc_roundtrip_") + "/orders"
    formats.write_table(sample, path, "orc")
    back = formats.read_table(spark, path, "orc", sample.schema)
    return back.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# X4+ — benchmark decontamination, BPE merge statistics (training-data ops)
# ---------------------------------------------------------------------------


@register(
    "text_benchmark_contamination",
    oracle="""
    WITH bench AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
    ),
    train AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
        UNION ALL
        SELECT doc_id + 400000 AS doc_id, 'leaked copy: ' || text AS text
        FROM documents WHERE doc_id % 50 = 0
    ),
    bsh AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(
                   generate_series(1, len(ws) - 7),
                   i -> array_to_string(ws[i:i+7], ' ')))) AS shingle
        FROM (SELECT string_split_regex(lower(text), '\\s+') AS ws FROM bench)
        WHERE len(ws) >= 8
    ),
    tsh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(ws) - 7),
                   i -> array_to_string(ws[i:i+7], ' ')))) AS shingle
        FROM (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
            FROM train
        )
        WHERE len(ws) >= 8
    ),
    totals AS (
        SELECT doc_id, count(*) AS n_shingles FROM tsh GROUP BY 1
    ),
    overlap AS (
        SELECT t.doc_id, count(*) AS n_overlap
        FROM tsh t JOIN bsh USING (shingle) GROUP BY 1
    )
    SELECT t.doc_id AS doc_id, t.n_shingles, o.n_overlap,
           CAST(o.n_overlap * 1000000 // t.n_shingles AS BIGINT)
               AS contam_ppm
    FROM totals t JOIN overlap o USING (doc_id)
    """,
    doc="X4 benchmark decontamination (the GPT-3/PaLM-report n-gram "
    "procedure): every 50th document plays the evaluation benchmark; "
    "the training side is the rest PLUS planted leaks (benchmark text "
    "behind a 2-token prefix). 8-gram overlap flags exactly the leaks "
    "with contam_ppm near 10^6, in integer ppm (no float division). "
    "Scale shape: the benchmark's distinct shingle set broadcasts "
    "(benchmarks are ~10^6 rows vs a 100 TB corpus); the corpus "
    "streams — no shingle-keyed shuffle of the big side, so hot "
    "shingles cannot skew a reducer.",
    tags=("text",),
)
def q_text_benchmark_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    leaks = bench.select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.lit("leaked copy: "), F.col("text")).alias("text"),
    )
    train = docs.filter(F.col("doc_id") % 50 != 0).unionByName(leaks)
    return ta.benchmark_contamination(train, bench, n=8)


@register(
    "text_bpe_first_merges",
    oracle="""
    WITH words AS (
        SELECT w FROM (
            SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
            FROM documents
        ) WHERE len(w) >= 2
    ),
    pairs AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(w) - 1),
                   i -> substring(w, i, 2))) AS pair
        FROM words
    )
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
    doc="X4 first BPE iteration over the corpus: adjacent character-"
    "pair frequencies inside whitespace words — the statistic whose "
    "argmax is the first merge a byte-pair tokenizer learns. Pair "
    "cardinality is bounded by alphabet^2, so map-side combine "
    "collapses the count shuffle to near-nothing and the global top-20 "
    "is a TakeOrderedAndProject, not a single-partition sort.",
    tags=("text",),
)
def q_text_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    return ta.bpe_first_merge_pairs(docs, k=20)


@register(
    "multimodal_dhash_dedup",
    oracle="""
    WITH ids AS (
        SELECT id AS img_id, id AS src, 0 AS delta
        FROM (SELECT unnest(generate_series(0, 199)) AS id)
        UNION ALL
        SELECT 10000 + id, id, 3
        FROM (SELECT unnest(generate_series(0, 199)) AS id)
        WHERE id % 10 = 0
    ),
    grid AS (
        SELECT y.y, x.x
        FROM (SELECT unnest(generate_series(0, 7)) AS y) y
        CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x
    ),
    samples AS (
        SELECT i.img_id, g.y, g.x,
               (i.src * 31 + ((g.y * 2) * 16 + (g.x * 16) // 9) * 7) % 200
                   + i.delta AS v
        FROM ids i CROSS JOIN grid g
    ),
    bits AS (
        SELECT a.img_id, a.y, a.x,
               CASE WHEN a.v > b.v THEN '1' ELSE '0' END AS bit
        FROM samples a
        JOIN samples b ON a.img_id = b.img_id AND a.y = b.y
                      AND b.x = a.x + 1
        WHERE a.x < 8
    ),
    hashes AS (
        SELECT img_id, string_agg(bit, '' ORDER BY y, x) AS dhash
        FROM bits GROUP BY img_id
    )
    SELECT dhash, count(*) AS n_images, min(img_id) AS keeper_id
    FROM hashes GROUP BY dhash HAVING count(*) > 1
    """,
    doc="X2×X7 perceptual-hash image dedup: dHash (8×9 index-sampled "
    "downsample, one bit per adjacent-column comparison) computed in "
    "the Arrow decode pass over real pixel bytes, then exact-grouped "
    "like a text content hash. The corpus plants brightness-shifted "
    "twins (+3 gray, never saturating at mod-200 pixels) — dHash is "
    "invariant under order-preserving shifts, so every twin lands in "
    "its source's group while exact byte hashing would miss all of "
    "them. At 100 TB the dedup shuffle moves 64-char keys, never "
    "pixels; Hamming-banded blocking (the SimHash pigeonhole split) "
    "extends it to small distortions.",
    tags=("multimodal", "dedup"),
)
def q_multimodal_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    base = mm.synth_images(spark, n=200, mod=200)
    twins = mm.apply_kernel(
        base.filter(F.col("img_id") % 10 == 0).withColumn(
            "img_id", F.col("img_id") + 10000
        ),
        "brighten",
        delta=3,
    )
    hashes = mm.dhash_images(base.unionByName(twins))
    return (
        hashes.groupBy("dhash")
        .agg(
            F.count("*").alias("n_images"),
            F.min("img_id").alias("keeper_id"),
        )
        .filter(F.col("n_images") > 1)
    )


@register(
    "corpus_mixture_resample",
    oracle="""
    WITH rates AS (
        SELECT 'src' || CAST(i AS VARCHAR) AS source,
               CASE i % 4 WHEN 0 THEN 1000000 WHEN 1 THEN 750000
                          WHEN 2 THEN 500000 ELSE 250000 END AS ppm
        FROM (SELECT unnest(generate_series(0, 19)) AS i)
    )
    SELECT d.source, count(*) AS n_kept, sum(d.doc_id) AS sum_ids
    FROM documents d JOIN rates r USING (source)
    WHERE ('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 8))
              ::UBIGINT % 1000000 < r.ppm
    GROUP BY 1
    """,
    doc="X4 training-mixture resampling: per-source keep rates (1.0 / "
    "0.75 / 0.5 / 0.25 cycling over the 20 sources) applied through a "
    "per-document md5 threshold — deterministic, repartition-stable, "
    "and incremental-safe (a grown corpus never flips a kept doc). "
    "Zero shuffles: the mixture config is a literal map and the "
    "operator is a narrow filter; the aggregation here only exists to "
    "give the oracle a compact value surface.",
    tags=("text",),
)
def q_corpus_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    rates = {
        f"src{i}": [1.0, 0.75, 0.5, 0.25][i % 4] for i in range(20)
    }
    kept = ta.mixture_resample(docs, rates)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"), F.sum("doc_id").alias("sum_ids")
    )


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH shingles AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(ws) - 4),
                   i -> array_to_string(ws[i:i+4], ' ')))) AS shingle
        FROM (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
            FROM ({_CORPUS_SQL})
        )
        WHERE len(ws) >= 5
    )
    SELECT shingle AS gram, count(*) AS n_docs
    FROM shingles GROUP BY 1 HAVING count(*) >= 2
    ORDER BY n_docs DESC, gram LIMIT 50
    """,
    doc="X4 boilerplate mining (the ExactSubstr-dedup removal list): "
    "word 5-grams spread over >= 2 distinct documents, ranked by "
    "spread. Per-doc-distinct shingles + map-side combine keep the "
    "gram-keyed shuffle skew-free (a gram contributes one row per "
    "partition, however hot); global top-50 is a "
    "TakeOrderedAndProject.",
    tags=("text", "dedup"),
)
def q_text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    corpus = _planted_corpus(spark, sf_dir)
    return ta.boilerplate_ngrams(corpus, n=5, min_docs=2, k=50)


@register(
    "text_winnowing_fingerprints",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, len(ws) - 2),
                   i -> md5(array_to_string(ws[i:i+2], ' '))) AS hs
        FROM toks WHERE len(ws) >= 6
    ),
    winnowed AS (
        SELECT doc_id,
               list_sort(list_distinct(list_transform(
                   generate_series(1, len(hs) - 3),
                   j -> list_min(hs[j:j+3])))) AS fp
        FROM hashed
    )
    SELECT doc_id, len(fp) AS n_fp,
           md5(array_to_string(fp, '|')) AS fp_digest
    FROM winnowed
    """,
    doc="X4 full winnowing (MOSS): 3-gram hashes, window-4 minima, "
    "distinct selected hashes as the document fingerprint — guarantees "
    "a shared fingerprint for any shared 6-word run, the locality "
    "property the single-min sketch lacks. Pure narrow column work; "
    "fingerprints are a ~4x-smaller shingle set feeding the same "
    "inverted-index machinery at scale.",
    tags=("text", "dedup"),
)
def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    return ta.winnowing_fingerprints(docs, shingle_n=3, window=4)


@register(
    "text_gopher_quality_gates",
    oracle="""
    WITH scored AS (
        SELECT doc_id, text,
               string_split_regex(lower(text), '\\s+') AS ws
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(ws) AS n,
               list_sum(list_transform(ws, w -> len(w))) AS total_len,
               len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                   AS n_alpha,
               (len(text) - len(replace(text, '#', '')))
                   + ((len(text) - len(replace(text, '...', ''))) // 3)
                   AS n_sym,
               len(list_filter(ws,
                   w -> w IN ('the','a','and','of','to','in','is')))
                   AS n_stop
        FROM scored
    ),
    flagged AS (
        SELECT doc_id, n,
            CASE WHEN NOT (n >= 50 AND n <= 100000) THEN 'word_count'
                 WHEN NOT (total_len >= 3*n AND total_len <= 10*n)
                     THEN 'mean_word_length'
                 WHEN NOT (5*n_alpha >= 4*n) THEN 'alpha_ratio'
                 WHEN NOT (10*n_sym <= n) THEN 'symbol_ratio'
                 WHEN NOT (n_stop >= 2) THEN 'stopword_count'
                 ELSE 'kept' END AS reason
        FROM m
    )
    SELECT reason, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_words
    FROM flagged GROUP BY 1
    """,
    doc="X4 the published Gopher/MassiveText quality gates with reason "
    "codes: word count, mean word length, alphabetic-word ratio, "
    "symbol ratio, stopword presence — first failed rule in gate order "
    "is the document's reason, aggregated to the funnel a curation "
    "dashboard shows. Every threshold compares integers (3n <= L <= "
    "10n, never a float mean), which is what keeps the verdicts "
    "bit-identical across engines. Narrow scan-bound projection + one "
    "tiny aggregation shuffle.",
    tags=("text",),
)
def q_text_gopher_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    flags = ta.gopher_quality_flags(docs)
    return flags.groupBy(
        F.coalesce(F.col("reason"), F.lit("kept")).alias("reason")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
    )


@register(
    "multimodal_shot_boundaries",
    oracle="""
    WITH px AS (
        SELECT v.v, f.f, j.j,
               (v.v * 131 + f.f * 17 + j.j * 7) % 256 AS cur,
               (v.v * 131 + (f.f - 1) * 17 + j.j * 7) % 256 AS prev
        FROM (SELECT unnest(generate_series(0, 59)) AS v) v
        CROSS JOIN (SELECT unnest(generate_series(1, 11)) AS f) f
        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
    ),
    l1 AS (
        SELECT v, f, sum(abs(cur - prev)) AS l1
        FROM px GROUP BY 1, 2
    )
    SELECT v AS vid_id, CAST(f AS INTEGER) AS frame_idx,
           CAST(l1 AS BIGINT) AS l1
    FROM l1 WHERE l1 > 2000
    """,
    doc="X7 video shot-boundary detection over the synthetic corpus: "
    "consecutive-frame L1 distance, cut where it exceeds the "
    "threshold. Frames stay inside their video's single binary row — "
    "narrow Arrow-batch differencing, boundary-sparse output, pixels "
    "never shuffle. The closed-form corpus (uint8 wrap every 256/17 "
    "frames modulates the distance) gives DuckDB the exact expected "
    "cuts.",
    tags=("multimodal",),
)
def q_multimodal_shot_boundaries(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import multimodal as mm

    vids = mm.synth_videos(spark, n=60, n_frames=12, height=8, width=8)
    return mm.shot_boundaries(vids, threshold=2000)


@register(
    "training_order_shuffle",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, md5('ep0|' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, h, row_number() OVER (ORDER BY h) - 1 AS rn
        FROM hashed
    )
    SELECT CAST(rn % 8 AS INTEGER) AS shard,
           count(*) AS n_docs,
           min(h) AS first_hash,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h))
               AS order_digest
    FROM ranked GROUP BY 1
    """,
    doc="The epoch-shuffle step of a training pipeline: a deterministic "
    "global permutation (order by md5(epoch_salt|id) — reshuffleable "
    "per epoch by changing the salt, reproducible across runs) dealt "
    "round-robin into shards. Rides the mid-based two-phase rank: "
    "range-partition on the hash IS the permutation, no WindowExec, no "
    "single-task sort. The order_digest hashes ids in permuted order, "
    "so the oracle checks the ORDER itself, not just membership — at "
    "scale the digest drops and the write is a partitionBy(shard) "
    "parquet sink in rank order.",
    tags=("text", "relational"),
)
def q_training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents").select("doc_id")
    hashed = docs.select(
        "doc_id",
        F.md5(F.concat_ws("|", F.lit("ep0"), F.col("doc_id").cast("string")))
        .alias("h"),
    )
    ranked = rel.global_row_number(hashed, "h", "rn")
    with_shard = ranked.select(
        "doc_id", "h", ((F.col("rn") - 1) % 8).cast("int").alias("shard")
    )
    ordered = with_shard.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.min("h").alias("first_hash"),
        F.sort_array(
            F.collect_list(F.struct(F.col("h"), F.col("doc_id")))
        ).alias("_perm"),
    )
    return ordered.select(
        "shard",
        "n_docs",
        "first_hash",
        F.md5(
            F.array_join(
                F.transform(
                    F.col("_perm"), lambda s: s["doc_id"].cast("string")
                ),
                ",",
            )
        ).alias("order_digest"),
    )


@register(
    "snapshot_distribution_drift",
    oracle="""
    WITH bucketed AS (
        SELECT least(9, CAST(trunc(o_totalprice / 50000) AS INTEGER))
                   AS bucket,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                    THEN 1 ELSE 0 END AS in_a
        FROM orders
    ),
    counts AS (
        SELECT bucket,
               sum(in_a) AS n_a,
               sum(1 - in_a) AS n_b
        FROM bucketed GROUP BY bucket
    ),
    totals AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM counts)
    SELECT c.bucket,
           CAST(c.n_a AS BIGINT) AS n_a,
           CAST(c.n_b AS BIGINT) AS n_b,
           CAST(c.n_a * 1000000 // t.ta AS BIGINT) AS share_a_ppm,
           CAST(c.n_b * 1000000 // t.tb AS BIGINT) AS share_b_ppm,
           CAST(abs(c.n_a * 1000000 // t.ta - c.n_b * 1000000 // t.tb)
                AS BIGINT) AS drift_ppm
    FROM counts c CROSS JOIN totals t
    """,
    doc="Data-ops drift monitor: the order-value distribution of an "
    "early snapshot (orders before 1998) against a late one, as "
    "per-bucket shares and their absolute difference in exact ppm — "
    "the per-bucket terms of total-variation distance, integer-exact "
    "(no log/float PSI; engines agree bit-for-bit). One scan with "
    "conditional aggregation (never two passes), a 10-row counts "
    "table, and a broadcast 1-row totals join — the same shape at any "
    "corpus size; at 100 TB only the scan grows.",
    tags=("relational",),
)
def q_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    bucketed = orders.select(
        F.least(
            F.lit(9), (F.col("o_totalprice") / 50000).cast("int")
        ).alias("bucket"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("in_a"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.sum("in_a").alias("n_a"),
        F.sum(1 - F.col("in_a")).alias("n_b"),
    )
    totals = counts.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    share_a = F.expr("CAST(n_a * 1000000 DIV ta AS BIGINT)")
    share_b = F.expr("CAST(n_b * 1000000 DIV tb AS BIGINT)")
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        share_a.alias("share_a_ppm"),
        share_b.alias("share_b_ppm"),
        F.abs(share_a - share_b).cast("bigint").alias("drift_ppm"),
    )


@register(
    "events_session_finalizer_streaming",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS t,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         > 1800000000
                     OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, t, event_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, sid, min(t) AS session_start_us,
               max(t) AS session_end_us, count(*) AS n
        FROM sessions GROUP BY 1, 2
    ),
    wm AS (SELECT max(epoch_us(ts)) - 7200000000 AS wm_us FROM events),
    numbered AS (
        SELECT p.*, max(sid) OVER (PARTITION BY user_id) AS last_sid
        FROM per_session p
    )
    SELECT user_id, session_start_us, session_end_us,
           CAST(n AS INTEGER) AS n_events
    FROM numbered CROSS JOIN wm
    WHERE sid < last_sid
       OR (session_end_us // 1000 + 1800000) < (wm_us // 1000)
    """,
    doc="X6 event-time-TIMEOUT stateful sessionizer: sessions closed by "
    "a successor inside the data emit immediately; each user's trailing "
    "open session emits only when the watermark passes last_event + "
    "gap — exercising GroupStateTimeout.EventTimeTimeout, the state-"
    "store mechanism the NoTimeout operators never touch. The batch "
    "twin reproduces exactly which trailing sessions timed out from "
    "the final watermark (max ts - delay), so the streaming run is "
    "hash-checked, not rows-only. State = one open session per user, "
    "evicted on timeout.",
    tags=("events", "streaming"),
)
def q_events_session_finalizer_streaming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    return es.run_bounded(
        es.session_finalizer_stream(stream), mode="append"
    )


@register(
    "embedding_knn_label_accuracy",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe,
               label AS true_label
        FROM embeddings WHERE vec_id < 100
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce,
               label
        FROM embeddings
    ),
    sims AS (
        SELECT query_id, true_label, neighbor_id, label,
               round(list_dot_product(qe, ce)
                     / (sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(ce, ce))), 6) AS cosine
        FROM q CROSS JOIN c
        WHERE neighbor_id <> query_id
    ),
    knn AS (
        SELECT query_id, true_label, label,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
               ) AS rank
        FROM sims
    ),
    votes AS (
        SELECT query_id, true_label, label, count(*) AS n_votes
        FROM knn WHERE rank <= 5
        GROUP BY 1, 2, 3
    ),
    predicted AS (
        SELECT query_id, true_label, label AS predicted_label,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY n_votes DESC, label
               ) AS vr
        FROM votes
    )
    SELECT true_label,
           count(*) AS n_queries,
           CAST(sum(CASE WHEN predicted_label = true_label
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN predicted_label = true_label
                         THEN 1 ELSE 0 END) * 1000000 // count(*)
                AS BIGINT) AS accuracy_ppm
    FROM predicted WHERE vr = 1
    GROUP BY 1
    """,
    doc="X3+eval embedding-space quality probe: leave-one-out 5-NN "
    "majority-vote classification over the labeled embeddings, "
    "per-class accuracy in exact ppm — the metric that decides whether "
    "an embedding column is good enough to drive semantic dedup or "
    "similarity search. Exact brute-force kNN (the ANN baseline), "
    "deterministic tie-breaks (cosine desc/neighbor, votes desc/label). "
    "At 100 TB the same query rides the IVF candidate join instead of "
    "the exact scan; the eval shape is unchanged.",
    tags=("similarity",),
)
def q_embedding_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    knn = sim.cosine_topk(emb, queries, k=5)
    labeled = knn.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "label"),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "label").agg(
        F.count("*").alias("n_votes")
    )
    vw = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label")
    )
    predicted = (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("predicted_label"))
    )
    truth = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    correct = F.when(
        F.col("predicted_label") == F.col("true_label"), 1
    ).otherwise(0)
    return (
        predicted.join(truth, "query_id")
        .groupBy("true_label")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(correct).cast("bigint").alias("n_correct"),
            F.expr(
                "CAST(sum(CASE WHEN predicted_label = true_label THEN 1 "
                "ELSE 0 END) * 1000000 DIV count(*) AS BIGINT)"
            ).alias("accuracy_ppm"),
        )
    )


@register(
    "corpus_blocklist_impact",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN len(list_intersect(
                        string_split_regex(lower(text), '\\s+'),
                        ['slow', 'leak', 'broken'])) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
           CAST(sum(CASE WHEN len(list_intersect(
                        string_split_regex(lower(text), '\\s+'),
                        ['slow', 'leak', 'broken'])) > 0
                    THEN 1 ELSE 0 END) * 1000000 // count(*)
                AS BIGINT) AS blocked_ppm
    FROM documents
    GROUP BY source
    """,
    doc="X4 C4-style blocklist impact report: exact-token blocklist "
    "membership (never substring — 'class' must not trip an 'ass' "
    "entry) aggregated per source, the report that decides whether a "
    "blocklist is destroying a domain before it ships. Narrow "
    "scan-bound predicate with the list as expression literals; one "
    "tiny per-source aggregation shuffle.",
    tags=("text",),
)
def q_corpus_blocklist_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    blocked = ta.blocklist_flags(docs, ("slow", "leak", "broken"))
    flag = F.when(blocked, 1).otherwise(0)
    return docs.select("source", flag.alias("b")).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("b").cast("bigint").alias("n_blocked"),
        F.expr(
            "CAST(sum(b) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("blocked_ppm"),
    )


@register(
    "corpus_pipeline_funnel",
    oracle="""
    WITH s1 AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, source, text
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 100000, source,
               substr(text, position(' ' IN text) + 1) AS text
        FROM documents WHERE doc_id % 10 = 5
    ),
    gop AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   len(ws) AS n,
                   list_sum(list_transform(ws, w -> len(w))) AS total_len,
                   len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                       AS n_alpha,
                   (len(text) - len(replace(text, '#', '')))
                       + ((len(text) - len(replace(text, '...', ''))) // 3)
                       AS n_sym,
                   len(list_filter(ws,
                       w -> w IN ('the','a','and','of','to','in','is')))
                       AS n_stop
            FROM (SELECT doc_id,
                         string_split_regex(lower(text), '\\s+') AS ws,
                         text
                  FROM s1)
        )
        WHERE n >= 50 AND n <= 100000
          AND total_len >= 3*n AND total_len <= 10*n
          AND 5*n_alpha >= 4*n AND 10*n_sym <= n AND n_stop >= 2
    ),
    s2 AS (SELECT s1.* FROM s1 JOIN gop USING (doc_id)),
    s3 AS (
        SELECT * FROM s2
        WHERE len(list_intersect(string_split_regex(lower(text), '\\s+'),
                                 ['dup'])) = 0
    ),
    s4 AS (
        SELECT doc_id, source, text FROM (
            SELECT s3.*, row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM s3
        ) WHERE rn = 1
    ),
    shingles AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(ws) - 2),
                   i -> array_to_string(ws[i:i+2], ' ')))) AS shingle
        FROM (SELECT doc_id,
                     string_split_regex(lower(text), '\\s+') AS ws
              FROM s4)
        WHERE len(ws) >= 3
    ),
    mh AS (
        SELECT doc_id, s.i AS i,
               min(substring(md5((s.i // 4) || '|' || shingle),
                             1 + 8 * (s.i % 4), 8)) AS mh
        FROM shingles
        CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) s
        GROUP BY doc_id, s.i
    ),
    bands AS (
        SELECT doc_id, i // 2 AS band,
               md5(string_agg(mh, '|' ORDER BY i)) AS band_hash
        FROM mh GROUP BY doc_id, i // 2
    ),
    neardup_drops AS (
        SELECT DISTINCT b.doc_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 3
    ),
    s5 AS (
        SELECT * FROM s4
        WHERE doc_id NOT IN (SELECT doc_id FROM neardup_drops)
    ),
    s6 AS (
        SELECT s5.* FROM s5
        JOIN (SELECT 'src' || CAST(i AS VARCHAR) AS source,
                     CASE i % 4 WHEN 0 THEN 1000000 WHEN 1 THEN 750000
                                WHEN 2 THEN 500000 ELSE 250000 END AS ppm
              FROM (SELECT unnest(generate_series(0, 19)) AS i)) r
          USING (source)
        WHERE ('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8))
                  ::UBIGINT % 1000000 < r.ppm
    ),
    staged AS (
        SELECT 1 AS stage_id, 'raw' AS stage, * FROM s1
        UNION ALL SELECT 2, 'quality', * FROM s2
        UNION ALL SELECT 3, 'blocklist', * FROM s3
        UNION ALL SELECT 4, 'exact_dedup', * FROM s4
        UNION ALL SELECT 5, 'near_dedup', * FROM s5
        UNION ALL SELECT 6, 'mixture', * FROM s6
    )
    SELECT stage_id, stage,
           count(*) AS n_docs,
           CAST(sum(len(string_split_regex(lower(text), '\\s+')))
                AS BIGINT) AS n_tokens
    FROM staged GROUP BY 1, 2
    """,
    doc="The LLM-corpus curation cascade as ONE lazy DAG with funnel "
    "accounting — the composition a real training-data pipeline ships: "
    "Gopher quality gates -> blocklist -> exact dedup (min-id keeper) "
    "-> MinHash-LSH near-dup drop (>= 3 shared bands, keep-smallest) "
    "-> source-mixture resampling, with docs/tokens remaining at every "
    "stage. Each piece is oracle-checked alone elsewhere; this checks "
    "the INTERPLAY (dedup after gating, mixture after dedup). Scale "
    "shape inherits from the pieces: narrow gates, hash-keyed dedup "
    "shuffles, bucket-local LSH, narrow mixture filter.",
    tags=("text", "dedup", "pipeline"),
)
def q_corpus_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup
    from .operators import textanalysis as ta

    base = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # plant exact (+200000, every 10th) and near (+100000, first word
    # dropped, every 10th+5) duplicates WITH their source — so the dedup
    # stages have real work and mixture still sees the source column
    variants = F.array(
        F.struct("doc_id", "source", "text"),
        F.struct(
            (F.col("doc_id") + 200000).alias("doc_id"), F.col("source"),
            F.col("text"),
        ),
        F.struct(
            (F.col("doc_id") + 100000).alias("doc_id"), F.col("source"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        ),
    )
    keep = F.filter(
        variants,
        lambda v, i: (i == 0)
        | ((i == 1) & (F.col("doc_id") % 10 == 0))
        | ((i == 2) & (F.col("doc_id") % 10 == 5)),
    )
    s1 = base.select(F.explode(keep).alias("v")).select(
        "v.doc_id", "v.source", "v.text"
    )
    flags = ta.gopher_quality_flags(s1).filter(
        F.col("reason").isNull()
    ).select("doc_id")
    s2 = s1.join(flags, "doc_id")
    s3 = s2.filter(~ta.blocklist_flags(s2, ("dup",)))
    # s4 feeds FOUR consumers (the LSH candidate pipeline, the anti-join
    # left side, the mixture stage via s5, and its own funnel count):
    # pin it like the other wide pipelines instead of re-deriving the
    # gate+dedup subtree per branch
    s4 = dedup.exact_dedup(s3).persist()
    # drops feeds TWO union branches (the s5 funnel count and s6's
    # mixture input): without a cut the whole MinHash-LSH candidate
    # pipeline — the funnel's heaviest subtree — runs twice (r12,
    # guide §2.4). The cut is eager: both consumers sit in the ONE
    # final union action and can schedule concurrently. The rows are
    # doc_id-only (metadata-sized at any corpus) and the blocks free
    # with the result, never the session cache manager.
    drops = (
        dedup.minhash_lsh_candidates(s4, num_hashes=12, rows_per_band=2,
                                     shingle_n=3)
        .filter(F.col("n_shared_bands") >= 3)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .transform(lineage_cut)
    )
    s5 = s4.join(drops, "doc_id", "left_anti")
    rates = {f"src{i}": [1.0, 0.75, 0.5, 0.25][i % 4] for i in range(20)}
    s6 = ta.mixture_resample(s5, rates)
    stages = [
        (1, "raw", s1), (2, "quality", s2), (3, "blocklist", s3),
        (4, "exact_dedup", s4), (5, "near_dedup", s5), (6, "mixture", s6),
    ]
    parts = [
        df.select(
            F.lit(sid).alias("stage_id"),
            F.lit(name).alias("stage"),
            ta.ws_token_count("text").alias("_nt"),
        )
        for sid, name, df in stages
    ]
    staged = parts[0]
    for p in parts[1:]:
        staged = staged.unionByName(p)
    return staged.groupBy("stage_id", "stage").agg(
        F.count("*").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
    )


@register(
    "text_vocab_growth",
    oracle="""
    WITH first_seen AS (
        SELECT w, min(doc_id) AS first_doc
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\\s+')) AS w
            FROM documents
        )
        GROUP BY w
    ),
    thresholds AS (
        SELECT unnest(generate_series(1, 10)) AS decile
    )
    SELECT t.decile,
           CAST(count(*) FILTER (
               WHERE f.first_doc * 10 < t.decile
                     * (SELECT max(doc_id) + 1 FROM documents)
           ) AS BIGINT) AS vocab_size
    FROM thresholds t CROSS JOIN first_seen f
    GROUP BY 1
    """,
    doc="X4 Heaps'-law vocabulary-growth diagnostic: distinct-token "
    "count over growing corpus prefixes (doc-id deciles) — the curve "
    "that says whether a corpus keeps contributing new vocabulary or "
    "has gone stale. ONE pass: per-token first-seen doc (a token-keyed "
    "min aggregation with map-side combine), then the growth curve is "
    "a 10-threshold conditional count over the vocabulary table — "
    "never ten rescans of the corpus. At 100 TB the vocabulary table "
    "is the only shuffled data, bounded by |vocab|, not |tokens|.",
    tags=("text",),
)
def q_text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    # doc-count bound as a broadcast 1-row aggregate (projection-pruned
    # doc_id-only scan), NOT a driver pre-collect: the old scalar
    # .collect() serialized one extra job-floor latency ahead of the
    # real pass — this form is ONE Spark action end to end.
    bound = docs.agg((F.max("doc_id") + F.lit(1)).alias("_n_docs"))
    first_seen = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), r"\s+")
            ).alias("w"),
        )
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    # one conditional aggregate per decile in a SINGLE pass over the
    # vocabulary table, then a 10-row unpivot — the former
    # deciles×first_seen crossJoin expanded |vocab| 10× through a
    # shuffle just to re-group it (VERDICT r7 #7)
    wide = first_seen.crossJoin(F.broadcast(bound)).agg(
        *[
            F.sum(
                F.when(
                    F.col("first_doc") * 10 < d * F.col("_n_docs"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"_v{d}")
            for d in range(1, 11)
        ]
    )
    stack_expr = (
        "stack(10, "
        + ", ".join(f"{d}, _v{d}" for d in range(1, 11))
        + ") AS (decile, vocab_size)"
    )
    return wide.selectExpr(stack_expr)


@register(
    "multimodal_resize_stats",
    oracle="""
    WITH px AS (
        SELECT g.id AS img_id,
               (g.id * 31 + ((y.y * 2) * 16 + x.x * 2) * 7) % 256 AS v
        FROM (SELECT unnest(generate_series(0, 199)) AS id) g
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) x
    )
    SELECT img_id,
           CAST(sum(v) AS BIGINT) AS sum_px,
           round(avg(v), 6) AS mean_px,
           CAST(min(v) AS INTEGER) AS min_px,
           CAST(max(v) AS INTEGER) AS max_px
    FROM px GROUP BY img_id
    """,
    doc="X7 resize normalization (the pre-batching step of every "
    "multimodal training pipeline): 16x16 -> 8x8 nearest-neighbor "
    "index mapping (y*H//out, exact integer arithmetic) inside the "
    "Arrow batch, then per-image stats — the oracle re-derives the "
    "sampled grid closed-form, pinning the exact index-mapping "
    "convention (floor sampling at even indices here).",
    tags=("multimodal",),
)
def q_multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    imgs = mm.synth_images(spark, n=200, height=16, width=16)
    return mm.pixel_stats(mm.resize(imgs, 8, 8))


@register(
    "text_zipf_slope",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ),
    freq AS (
        SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY w
    ),
    ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM freq
    ),
    m AS (
        SELECT CAST(round(ln(r) * 1000000) AS BIGINT) AS x,
               CAST(round(ln(f) * 1000000) AS BIGINT) AS y
        FROM ranked
    ),
    s AS (
        SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               sum(CAST(x AS DECIMAL(38,0))) AS sx,
               sum(CAST(y AS DECIMAL(38,0))) AS sy,
               sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
               sum(CAST(x * x AS DECIMAL(38,0))) AS sxx
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS vocab_n,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
    FROM s
    """,
    doc="X4 Zipf rank-frequency diagnostic: OLS slope of ln(freq) over "
    "ln(rank) across the vocabulary (natural corpora sit near -1; a "
    "flat slope flags synthetic/templated text). The global rank never "
    "runs a window over the VOCABULARY: rank = (#tokens with strictly "
    "higher freq — an exclusive running sum over the O(sqrt(tokens))-"
    "row frequency-of-frequencies table, broadcast-joined back on f) "
    "+ row_number within the freq group (a partitioned window, "
    "parallel by freq). Regression ships as EXACT rational "
    "sufficient statistics over micro-unit (1e-6) fixed-point logs - "
    "bigint per row, decimal(38,0) accumulation, no float summation "
    "order anywhere - so the slope is bit-reproducible and mergeable. "
    "At 100 TB the only shuffled data is the vocabulary table "
    "(|vocab|, not |tokens|; token counting itself map-side combines).",
    tags=("text", "stats"),
)
def q_text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents").select("text")
    freq = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    # offsets: #tokens with freq strictly greater. Distinct frequency
    # values are O(sqrt(total tokens)) (sum of distinct f's <= total, so
    # <= sqrt(2T) of them) — but at 100 TB that is still ~1e6-1e7
    # values, far past what a driver-side literal map can hold (the
    # expression tree itself would blow plan size limits). So the
    # offsets stay a DATAFRAME: exclusive running sum over the
    # (f, count) table — one window task over the O(sqrt(T))-row
    # frequency-of-frequencies table, never over tokens or vocab — and
    # a broadcast join back on f. Same answer, bounded plan.
    w_off = Window.orderBy(F.col("f").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        freq.groupBy("f")
        .agg(F.count("*").alias("nf"))
        .select(
            "f",
            F.coalesce(F.sum("nf").over(w_off), F.lit(0))
            .cast("bigint")
            .alias("_off"),
        )
    )
    w_rank = Window.partitionBy("f").orderBy("w")
    ranked = freq.join(F.broadcast(offsets), "f").withColumn(
        "r", F.col("_off") + F.row_number().over(w_rank).cast("bigint")
    )
    m = ranked.select(
        F.expr("CAST(round(ln(r) * 1000000) AS BIGINT)").alias("x"),
        F.expr("CAST(round(ln(f) * 1000000) AS BIGINT)").alias("y"),
    )
    s = m.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("vocab_n"),
        # decimal(38,0) accumulation, BIGINT output: the statistics are
        # vocabulary-bound (~7e14 here, and the log-compressed x/y keep
        # them ~V·(1e6·lnV)² — int64-safe for any realistic vocab); an
        # integral output column crosses the engine/driver boundary as
        # a plain int, where DECIMAL(38,0) fetches as python Decimal in
        # some DuckDB versions and int in others (r12 fix)
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("slope_den"),
    )


@register(
    "text_encoding_anomalies",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text)
                - length(regexp_replace(text,
                    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'))
                AS BIGINT) AS n_ctrl,
           CAST(length(text)
                - length(regexp_replace(text, '�', '', 'g'))
                AS BIGINT) AS n_replacement,
           round((length(text)
                  - length(regexp_replace(text, '[^\\x00-\\x7f]', '', 'g')))
                 / greatest(length(text), 1), 6) AS non_ascii_ratio
    FROM documents
    """,
    doc="X4 encoding-anomaly audit, the mojibake gate every crawl "
    "pipeline needs before tokenization: stray C0/C1 control "
    "characters (legal \\t \\n \\r excluded), U+FFFD replacement "
    "characters (the scar a lossy transcode leaves), and the "
    "non-ASCII ratio. All counts via length-delta of a global "
    "regexp_replace - one scan, pure JVM expressions, "
    "embarrassingly parallel at any scale.",
    tags=("text",),
)
def q_text_encoding_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    t = F.col("text")
    n = F.length(t)

    def count_removed(pattern: str) -> F.Column:
        return (n - F.length(F.regexp_replace(t, pattern, ""))).cast("bigint")

    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_chars"),
        count_removed(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]").alias("n_ctrl"),
        count_removed("�").alias("n_replacement"),
        F.round(
            count_removed(r"[^\x00-\x7f]") / F.greatest(n, F.lit(1)), 6
        ).alias("non_ascii_ratio"),
    )


@register(
    "bloom_prefilter_semi_join",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 48)
    """,
    doc="Runtime-filter join: revenue of lineitem rows whose part is in "
    "a key set (p_size >= 48), computed as Bloom-prefilter -> exact "
    "semi-join verify (functions/bloom.py). The Bloom bits ship to "
    "every scan task (1.2 bytes/key at 1%% fpp vs ~8+ bytes/key for "
    "the keys), so at 100 TB the fact table drops ~99%% of its rows AT "
    "THE SCAN instead of shuffling them to a join; the exact verify "
    "join then runs on the ~1%% survivors, making the result exact - "
    "the filter affects cost, never answers. The explicit form of "
    "spark.sql.optimizer.runtime.bloomFilter, testable and usable on "
    "any expression.",
    tags=("core", "scale"),
)
def q_bloom_prefilter_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import bloom

    part = tables.load(spark, sf_dir, "part")
    block = part.filter(F.col("p_size") >= 48).select("p_partkey")
    # build side: one Spark job over the key set; only distinct bit
    # positions (bounded by m_bits) reach the driver
    n_keys = block.count()
    m_bits, k = bloom.bloom_params(n_keys, fpp=0.01)
    words = bloom.build_bloom_words(block, "p_partkey", m_bits, k)
    li = tables.load(spark, sf_dir, "lineitem")
    prefiltered = li.filter(
        bloom.bloom_might_contain(F.col("l_partkey"), words, m_bits, k)
    )
    verified = prefiltered.join(
        F.broadcast(block),
        prefiltered.l_partkey == block.p_partkey,
        "left_semi",
    )
    return verified.agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.expr(
            "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(round(l_discount * 100) AS BIGINT)))"
            " AS DOUBLE) / 10000.0"
        ).alias("revenue"),
    )


@register(
    "contrastive_negative_sampling",
    oracle="""
    WITH ring AS (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
    ),
    targets AS (
        SELECT a.doc_id AS anchor_id, s.i AS slot,
               md5(CAST(a.doc_id AS VARCHAR) || '|' || CAST(s.i AS VARCHAR))
                   AS t
        FROM documents a
        CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS i) s
    ),
    ring_ranked AS (
        SELECT doc_id, h, row_number() OVER (ORDER BY h) AS rk
        FROM ring
    ),
    n AS (SELECT count(*) AS n_ring FROM ring),
    merged AS (
        SELECT k, is_ring, anchor_id, slot,
               sum(is_ring) OVER (
                   ORDER BY k, is_ring, anchor_id, slot
                   ROWS UNBOUNDED PRECEDING) AS n_before
        FROM (
            SELECT h AS k, 1 AS is_ring,
                   -1 AS anchor_id, -1 AS slot
            FROM ring
            UNION ALL
            SELECT t AS k, 0 AS is_ring, anchor_id, slot FROM targets
        )
    ),
    looked AS (
        SELECT m.anchor_id, m.slot, r.doc_id AS negative_id
        FROM merged m
        CROSS JOIN n
        JOIN ring_ranked r
          ON r.rk = CASE WHEN m.n_before + 1 > n.n_ring
                         THEN 1 ELSE m.n_before + 1 END
        WHERE m.is_ring = 0
    )
    SELECT anchor_id, CAST(slot AS INT) AS slot, negative_id
    FROM looked
    WHERE negative_id <> anchor_id
    """,
    doc="Deterministic negative sampling for contrastive training: "
    "anchor x slot -> pseudo-random target md5(anchor|slot), negative "
    "= consistent-hash-ring successor of the target among all docs "
    "(ring_successor_join: prefix-bucketed partitioned window + "
    "metadata fallback map, no global sort, no per-anchor scan). "
    "The oracle is the same successor semantics as a LINEAR "
    "sort-merge (union ring+targets, running ring-count, rank join) - "
    "the original per-target correlated subquery was O(n) per lookup "
    "and filled the disk with DuckDB spill at sf1 (round-7 fix). "
    "Deterministic across runs/partitionings (resumable training "
    "epochs), uniform in expectation (md5 ring positions), O((n+nk) "
    "log) one-shuffle cost. Rare self-hits (anchor is its own "
    "successor, ~k/n of rows) are dropped, mirroring the i.i.d.-"
    "sample-then-filter convention.",
    tags=("text", "ml", "scale"),
)
def q_contrastive_negative_sampling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents").select("doc_id")
    ring = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    targets = (
        docs.select(F.col("doc_id").alias("anchor_id"))
        .select(
            "anchor_id",
            F.explode(F.sequence(F.lit(1), F.lit(4))).alias("slot"),
        )
        .select(
            "anchor_id",
            F.col("slot").cast("int").alias("slot"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("anchor_id").cast("string"),
                    F.col("slot").cast("string"),
                )
            ).alias("t"),
        )
    )
    out = rel.ring_successor_join(
        ring, targets, point_id="doc_id", point_hash="h", target_hash="t"
    )
    return (
        out.filter(F.col("doc_id_succ") != F.col("anchor_id"))
        .select(
            "anchor_id", "slot", F.col("doc_id_succ").alias("negative_id")
        )
    )


@register(
    "text_chunk_windows",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
        FROM documents
    ),
    sized AS (
        SELECT doc_id, ws, len(ws) AS n,
               CAST((greatest(len(ws) - 64, 0) + 47) // 48 AS INT) + 1
                   AS n_windows
        FROM d
    ),
    chunks AS (
        SELECT doc_id, ws,
               unnest(generate_series(0, n_windows - 1)) AS chunk_id
        FROM sized
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(chunk_id * 48 AS INT) AS start_token,
           CAST(len(list_slice(ws, chunk_id * 48 + 1, chunk_id * 48 + 64))
                AS INT) AS n_tokens,
           array_to_string(
               list_slice(ws, chunk_id * 48 + 1, chunk_id * 48 + 64), ' '
           ) AS chunk_text
    FROM chunks
    """,
    doc="X4 RAG/context-window chunker: 64-token windows, stride 48 "
    "(16-token overlap so no boundary sentence is orphaned), final "
    "short window kept. Pure narrow plan - split, integer window "
    "count, explode(sequence), slice, join - zero shuffles; at 100 TB "
    "chunking rides the scan and writes back partition-local "
    "(textanalysis.py::chunk_token_windows).",
    tags=("text",),
)
def q_text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as tx

    docs = tables.load(spark, sf_dir, "documents")
    return tx.chunk_token_windows(docs, size=64, stride=48)


@register(
    "dedup_minhash_incremental",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    mh AS (
        SELECT doc_id, s.i AS i,
               min(substring(md5((s.i // 4) || '|' || shingle),
                             1 + 8 * (s.i % 4), 8)) AS mh
        FROM shingles CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) s
        GROUP BY doc_id, s.i
    ),
    bands AS (
        SELECT doc_id, i // 2 AS band,
               md5(string_agg(mh, '|' ORDER BY i)) AS band_hash
        FROM mh GROUP BY doc_id, i // 2
    )
    SELECT n.doc_id AS doc_id,
           min(m.doc_id) AS matched_id,
           CAST(count(DISTINCT m.doc_id) AS BIGINT) AS n_matched_docs
    FROM bands n
    JOIN bands m ON n.band = m.band AND n.band_hash = m.band_hash
                -- index docs (below the plant stride) are prior art
                -- unconditionally; the earlier-id rule applies only
                -- within the batch
                AND (m.doc_id < (SELECT 1 + max(doc_id) FROM documents)
                     OR m.doc_id < n.doc_id)
    WHERE n.doc_id >= (SELECT 1 + max(doc_id) FROM documents)
    GROUP BY n.doc_id
    """,
    doc="X2f incremental near-dup ingest: today's batch (the planted "
    "dup/near-dup ids at >= stride) checked against the PERSISTED band "
    "index of the existing corpus plus earlier docs of the same batch "
    "(dedup.py::incremental_minhash_matches). Only the batch is "
    "shingled/hashed - cost tracks |batch|, not |corpus| - which is "
    "what makes LSH dedup sustainable on a growing 100 TB corpus; the "
    "index join prunes at the storage layer when the index is written "
    "partitionBy(band). The oracle recomputes the corpus bands "
    "wholesale (its privilege: correctness only needs the same "
    "collision set, not the same cost).",
    tags=("dedup", "scale"),
)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    stride = _corpus_stride(spark, sf_dir)
    existing = corpus.filter(F.col("doc_id") < stride)
    batch = corpus.filter(F.col("doc_id") >= stride)
    # the persisted index, built once per corpus life, read thereafter
    index_bands = dedup.lsh_band_buckets(
        dedup.minhash_signatures(existing, num_hashes=12, shingle_n=3),
        num_hashes=12,
        rows_per_band=2,
    )
    return dedup.incremental_minhash_matches(
        index_bands, batch, num_hashes=12, rows_per_band=2, shingle_n=3
    )


@register(
    "text_bigram_cross_entropy",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
        FROM documents
    ),
    doc_bigrams AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i + 1]
               )) AS bigram
        FROM d WHERE len(ws) >= 2
    ),
    c2 AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS c2
        FROM doc_bigrams GROUP BY bigram
    ),
    c1 AS (
        SELECT split_part(bigram, ' ', 1) AS w1,
               CAST(sum(c2) AS BIGINT) AS c1
        FROM c2 GROUP BY 1
    ),
    scored AS (
        SELECT b.doc_id,
               CAST(round((ln(c1.c1) - ln(c2.c2)) * 1000000) AS BIGINT)
                   AS xent_micro
        FROM doc_bigrams b
        JOIN c2 USING (bigram)
        JOIN c1 ON split_part(b.bigram, ' ', 1) = c1.w1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(xent_micro) AS BIGINT) AS sum_xent_micro,
           CAST(sum(xent_micro) // count(*) AS BIGINT) AS avg_xent_micro
    FROM scored GROUP BY doc_id
    """,
    doc="X4 perplexity-style quality filter (CCNet shape): per-doc "
    "average bigram cross-entropy against the corpus's own bigram LM, "
    "in exact micro-nat fixed point (terms provably >= 0, so DuckDB's "
    "floor-div and Spark's trunc-div agree). Low tail = boilerplate, "
    "high tail = noise (textanalysis.py::bigram_cross_entropy).",
    tags=("text", "ml"),
)
def q_text_bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as tx

    docs = tables.load(spark, sf_dir, "documents")
    return tx.bigram_cross_entropy(docs)


# script ranges shared verbatim by the Spark expression and the DuckDB
# oracle (raw chars, not escape syntax, so both regex engines see the
# same literal class)
_SCRIPT_RANGES = {
    "latin": "[A-Za-z]",
    "cyrillic": "[Ѐ-ӿ]",
    "cjk": "[一-鿿]",
    "arabic": "[؀-ۿ]",
}

_SCRIPT_ORACLE = f"""
    SELECT doc_id,
           {', '.join(
               f"CAST(length(text) - length(regexp_replace(text, "
               f"'{pat}', '', 'g')) AS BIGINT) AS n_{name}"
               for name, pat in _SCRIPT_RANGES.items()
           )}
    FROM documents
"""


@register(
    "text_script_profile",
    oracle=_SCRIPT_ORACLE,
    doc="X4 Unicode-script profile (the routing step BEFORE any "
    "language-id model: script mixes flag mojibake and spam, and the "
    "dominant script picks the lang-id model to run). Per-script "
    "character counts as length-delta regexp_replace over literal "
    "codepoint ranges shared verbatim with the oracle - one scan, "
    "embarrassingly parallel.",
    tags=("text",),
)
def q_text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    t = F.col("text")
    n = F.length(t)
    cols = [
        (n - F.length(F.regexp_replace(t, pat, "")))
        .cast("bigint")
        .alias(f"n_{name}")
        for name, pat in _SCRIPT_RANGES.items()
    ]
    return docs.select("doc_id", *cols)


@register(
    "exact_global_median_orderstat",
    oracle="""
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    r AS (
        SELECT c, row_number() OVER (ORDER BY c) AS rn FROM c
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n,
           (SELECT c FROM r
            WHERE rn = (SELECT (count(*) + 1) // 2 FROM c))
               AS median_cents
    """,
    doc="Exact global median (lower median, rank ceil(n/2)) of a fact "
    "column in integer cents via relational.py::exact_kth_smallest - "
    "the order statistic computed by iterative histogram refinement: "
    "~3 narrow metadata-sized aggregation rounds with range predicates "
    "pushed into the scan, NO global sort, NO shuffle of data rows at "
    "any scale. The oracle's row_number() over a full sort is the "
    "semantics; the engine's refinement is the 100 TB plan for them.",
    tags=("relational", "scale"),
)
def q_exact_global_median_orderstat(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cents = tables.load(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c")
    )
    # one fused job yields the count AND the first histogram round, so
    # the median rank (which depends on n) costs no extra count() job
    n, med = rel.exact_rank_statistic(cents, "c", lambda m: (m + 1) // 2)
    return spark.createDataFrame(
        [(n, med)], "n bigint, median_cents bigint"
    )


@register(
    "semantic_dedup_clusters",
    oracle=f"""
    WITH corpus AS ({_VECTOR_CORPUS_SQL}),
    sig AS (
        SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS norm,
           {{blocks}}
        FROM corpus
    ),
    blocks AS (
        SELECT vec_id, ve, norm, blk,
               CASE blk WHEN 0 THEN blk0 WHEN 1 THEN blk1
                        WHEN 2 THEN blk2 ELSE blk3 END AS blk_val
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS blk) t
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM blocks a
        JOIN blocks b ON a.blk = b.blk AND a.blk_val = b.blk_val
                     AND a.vec_id < b.vec_id
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM cand
        JOIN sig ca ON ca.vec_id = doc_a
        JOIN sig cb ON cb.vec_id = doc_b
        WHERE round(list_dot_product(ca.ve, cb.ve) / (ca.norm * cb.norm), 6)
              >= 0.995
    ),
    sym AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    reach AS (
        WITH RECURSIVE r(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT s.v, r.label FROM r JOIN sym s ON s.u = r.node
        )
        SELECT node, min(label) AS component FROM r GROUP BY node
    ),
    sized AS (
        SELECT component, count(*) AS cluster_size FROM reach GROUP BY 1
    )
    SELECT r.node AS vec_id, r.component AS component,
           s.cluster_size AS cluster_size,
           r.node = r.component AS is_keeper
    FROM reach r JOIN sized s USING (component)
    """.format(blocks=_srp_sql_blocks()),
    doc="X2e+ semantic dedup (SemDeDup shape): embedding near-dup pairs "
    "(SRP pigeonhole blocks + exact cosine >= 0.995, same machinery as "
    "dedup_embedding_cosine) clustered into semantic-duplicate groups "
    "by min-label connected components; one deterministic keeper per "
    "group survives. At 100 TB every stage is the already-analyzed "
    "scale shape: block join is candidate-bound, CC rounds are "
    "O(cluster diameter) shuffle-joins over the EDGE set (|near-dup "
    "pairs|, a tiny fraction of the corpus), keeper join broadcasts "
    "cluster sizes. The ORACLE's recursive-CTE closure enumerates "
    "(node x reachable-label) pairs - quadratic in clique size, and "
    "the sf1 replication turns every near-dup group into a 10x "
    "clique, so the differential caps at sf0.1 (DuckDB spilled to "
    "disk-full at sf1); the engine's min-label iteration is "
    "O(edges x diameter) and ran sf1 in 80 s.",
    tags=("dedup", "similarity", "scale"),
    oracle_scale_cap=0.1,
)
def q_semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.col("embedding")[0] + F.lit(0.05)),
            F.slice("embedding", 2, _SRP_DIM - 1),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    pairs = sim.embedding_neardup_pairs(
        corpus,
        threshold=0.995,
        n_bits=_SRP_BITS,
        max_hamming=3,
        id_col="vec_id",
        vec_col="embedding",
        dim=_SRP_DIM,
    )
    comps = dedup.connected_components(pairs)
    sizes = comps.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    return comps.join(F.broadcast(sizes), "component").select(
        F.col("node").alias("vec_id"),
        "component",
        "cluster_size",
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


@register(
    "text_oov_rate",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ),
    vocab AS (
        SELECT w FROM (
            SELECT w, count(*) AS f FROM toks GROUP BY w
        ) ORDER BY f DESC, w LIMIT 1000
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.w IS NULL) AS BIGINT) AS n_oov,
           round(count(*) FILTER (WHERE v.w IS NULL)
                 / greatest(count(*), 1), 6) AS oov_ratio
    FROM toks t LEFT JOIN vocab v ON t.w = v.w
    GROUP BY t.doc_id
    """,
    doc="X4 out-of-vocabulary rate against the corpus's own top-1000 "
    "token vocabulary (deterministic: freq desc, token asc) - the "
    "tokenizer-fit diagnostic (high OOV = domain shift or noise; "
    "drives vocab retraining decisions). Vocab selection is one "
    "TakeOrdered over the map-side-combined frequency table; the "
    "per-doc pass joins tokens against the BROADCAST 1000-row vocab - "
    "no shuffle of token occurrences at any corpus size.",
    tags=("text", "ml"),
)
def q_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count("*").alias("f"))
        .orderBy(F.col("f").desc(), F.col("w"))
        .limit(1000)
        .select("w", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
                / F.greatest(F.count("*"), F.lit(1)),
                6,
            ).alias("oov_ratio"),
        )
    )


@register(
    "text_duplicate_spans",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
        FROM ({_CORPUS_SQL})
    ),
    wins AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(ws[i:i+4], ' ')) AS h
        FROM (
            SELECT doc_id, ws,
                   unnest(generate_series(1, len(ws) - 4)) AS i
            FROM toks WHERE len(ws) >= 5
        )
    ),
    dup AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt
            FROM wins
        ) WHERE cnt >= 2
    ),
    isl AS (
        SELECT doc_id, pos,
               sum(brk) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS UNBOUNDED PRECEDING) AS island
        FROM (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (
                            PARTITION BY doc_id ORDER BY pos) <= 5
                        THEN 0 ELSE 1 END AS brk
            FROM dup
        )
    ),
    spans AS (
        SELECT doc_id, island, min(pos) AS s, max(pos) + 4 AS e,
               count(*) AS nw
        FROM isl GROUP BY doc_id, island
    )
    SELECT doc_id, count(*) AS n_spans, sum(nw) AS n_dup_windows,
           sum(e - s + 1) AS covered_tokens,
           max(e - s + 1) AS max_span_tokens
    FROM spans GROUP BY doc_id
    """,
    doc="X2 exact duplicated-substring spans (the shuffle-native form of "
    "Lee et al. 2022 suffix-array substring dedup): 5-token window "
    "hashes, corpus-wide occurrence flagging in one hash-partitioned "
    "window count, per-doc gaps-and-islands merge into maximal spans. "
    "The planted corpus guarantees signal: exact-dup plants produce "
    "whole-document spans, near-dup plants all-but-prefix spans.",
    tags=("dedup", "text"),
)
def q_text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    return dedup.duplicate_spans(corpus, window=5, min_count=2)


@register(
    "embedding_dim_moments",
    oracle="""
    SELECT d - 1 AS dim,
           count(*) AS n,
           round(avg(e[d]), 6) AS mean_val,
           round(var_pop(e[d]), 6) AS var_val,
           round(covar_pop(e[d], e[d + 1]), 6) AS cov_next
    FROM (
        SELECT e, unnest(generate_series(1, len(e))) AS d
        FROM (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    )
    GROUP BY d
    """,
    doc="X3 per-dimension moments + adjacent-dim covariance band of the "
    "embedding corpus - the PCA/whitening preprocessing inputs. One "
    "posexplode (d-fold, primitive doubles) + one groupBy(dim); every "
    "aggregate partial-aggregates map-side so the shuffle is d rows of "
    "accumulators per task at any corpus size. cov_next is NULL on the "
    "last dim in both engines (covar_pop over zero pairs).",
    tags=("similarity", "ml"),
)
def q_embedding_dim_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    return sim.dim_moments(emb)


@register(
    "embedding_covariance_matrix",
    oracle="""
    WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    x AS (SELECT e, unnest(generate_series(1, len(e))) AS i FROM v),
    p AS (SELECT e, i, unnest(generate_series(i, len(e))) AS j FROM x),
    t AS (
        SELECT i - 1 AS oi, j - 1 AS oj, e[i] AS xi, e[j] AS xj FROM p
    )
    SELECT oi AS i, oj AS j,
           round(covar_pop(xi, xj), 6) + 0.0 AS cov_val
    FROM t GROUP BY oi, oj
    """,
    doc="X3 full dxd covariance via per-partition Gram partials "
    "(mapInPandas, numpy X^T X per Arrow batch) summed driver-side - "
    "the distributed-PCA reduction (MLlib RowMatrix.computeCovariance "
    "shape). Partials are #partitions rows of d^2 doubles (metadata-"
    "sized); G/n - mu mu^T equals covar_pop algebraically, so DuckDB "
    "re-derives every upper-triangle entry. +0.0 normalizes -0.0 on "
    "both sides.",
    tags=("similarity", "ml"),
)
def q_embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    return sim.covariance_matrix(emb)


@register(
    "sketch_kmv_join_cardinality",
    oracle="""
    WITH sa AS (
        SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS h FROM orders
        ORDER BY h LIMIT 256
    ),
    sb AS (
        SELECT DISTINCT md5(CAST(c_custkey AS VARCHAR)) AS h FROM customer
        ORDER BY h LIMIT 256
    ),
    su AS (
        SELECT DISTINCT h FROM (
            SELECT h FROM sa UNION ALL SELECT h FROM sb
        ) ORDER BY h LIMIT 256
    ),
    st AS (
        SELECT (SELECT count(*) FROM sa) AS n_a,
               (SELECT max(h) FROM sa) AS max_a,
               (SELECT count(*) FROM sb) AS n_b,
               (SELECT max(h) FROM sb) AS max_b,
               (SELECT count(*) FROM su) AS n_u,
               (SELECT max(h) FROM su) AS max_u,
               (SELECT count(*) FROM su
                WHERE h IN (SELECT h FROM sa)
                  AND h IN (SELECT h FROM sb)) AS n_both
    )
    SELECT 256 AS k,
           round(CASE WHEN n_a < 256 THEN CAST(n_a AS DOUBLE)
                 ELSE 255 / (CAST(CAST('0x' || substr(max_a, 1, 12) AS BIGINT)
                                  AS DOUBLE) / 281474976710656.0) END,
                 2) AS est_distinct_a,
           round(CASE WHEN n_b < 256 THEN CAST(n_b AS DOUBLE)
                 ELSE 255 / (CAST(CAST('0x' || substr(max_b, 1, 12) AS BIGINT)
                                  AS DOUBLE) / 281474976710656.0) END,
                 2) AS est_distinct_b,
           round(CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
                 ELSE 255 / (CAST(CAST('0x' || substr(max_u, 1, 12) AS BIGINT)
                                  AS DOUBLE) / 281474976710656.0) END,
                 2) AS est_distinct_union,
           round(CAST(n_both AS DOUBLE) / n_u, 6) AS est_jaccard,
           round((CAST(n_both AS DOUBLE) / n_u)
                 * (CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
                    ELSE 255 / (CAST(CAST('0x' || substr(max_u, 1, 12)
                                          AS BIGINT)
                                     AS DOUBLE) / 281474976710656.0) END),
                 2) AS est_intersection
    FROM st
    """,
    doc="X8 KMV join-cardinality estimation (Bar-Yossef et al. k-minimum-"
    "values): per-side distinct estimates, union size, key-set Jaccard, "
    "and implied join intersection from two 256-row sketches - the "
    "planner inputs for broadcast-vs-shuffle decisions, computed with "
    "one TakeOrdered pass per table. Deterministic md5 hashing makes "
    "the estimate itself re-derivable in SQL, so the oracle checks the "
    "VALUE, not just the shape.",
    tags=("sketch", "relational"),
)
def q_sketch_kmv_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import sketches as sk

    orders = tables.load(spark, sf_dir, "orders")
    cust = tables.load(spark, sf_dir, "customer")
    return sk.kmv_join_cardinality(orders, "o_custkey", cust, "c_custkey", 256)


@register(
    "weighted_sample_ares",
    oracle="""
    SELECT source, doc_id, n_chars FROM (
        SELECT source, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY
                       ln(greatest(
                           CAST(CAST('0x' || substr(
                               md5('ws|' || CAST(doc_id AS VARCHAR)), 1, 12)
                               AS BIGINT) AS DOUBLE) / 281474976710656.0,
                           1.0 / 281474976710656.0)) / n_chars DESC,
                       doc_id
               ) AS rn
        FROM documents WHERE n_chars > 0
    ) WHERE rn <= 5
    """,
    doc="X4 weighted k-sample without replacement per source (Efraimidis-"
    "Spirakis A-Res): deterministic uniform u from md5, rank on "
    "ln(u)/weight, keep top-5 per group - the quality-weighted document "
    "selection step of a training mixture, reproducible across runs and "
    "engines. Same one-shuffle rank shape as uniform_k_sample (its "
    "w=const special case).",
    tags=("text", "sampling"),
)
def q_weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    return rel.weighted_k_sample(
        docs, "source", "doc_id", "n_chars", 5
    ).select("source", "doc_id", "n_chars")


@register(
    "embedding_standardize_stats",
    oracle="""
    WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    x AS (
        SELECT e, unnest(generate_series(1, len(e))) AS d FROM v
    ),
    st AS (
        SELECT d, round(avg(e[d]), 6) AS m, round(var_pop(e[d]), 6) AS s2
        FROM x GROUP BY d
    ),
    z AS (
        SELECT x.d, (x.e[x.d] - st.m)
               / CASE WHEN st.s2 > 0 THEN sqrt(st.s2) ELSE 1.0 END AS z
        FROM x JOIN st ON x.d = st.d
    )
    SELECT d - 1 AS dim,
           round(avg(z), 6) + 0.0 AS post_mean,
           round(var_pop(z), 6) + 0.0 AS post_var,
           round(min(z), 6) + 0.0 AS post_min,
           round(max(z), 6) + 0.0 AS post_max
    FROM z GROUP BY d
    """,
    doc="X3 whitening APPLY: standardize every embedding against the "
    "rounded dim_moments stats (broadcast length-d arrays + zip_with - "
    "the corpus transforms map-side, never exploded), then validate "
    "per-dim post-stats (mean 0, var 1, data-dependent min/max). The "
    "rounded stats make the transform a composition of correctly-"
    "rounded IEEE ops, so DuckDB re-derives z bit-for-bit via its "
    "join-based equivalent.",
    tags=("similarity", "ml"),
)
def q_embedding_standardize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    zs = sim.standardize(emb)
    per_dim = zs.selectExpr("posexplode(z) AS (dim, zv)")
    return per_dim.groupBy("dim").agg(
        (F.round(F.avg("zv"), 6) + 0.0).alias("post_mean"),
        (F.round(F.var_pop("zv"), 6) + 0.0).alias("post_var"),
        (F.round(F.min("zv"), 6) + 0.0).alias("post_min"),
        (F.round(F.max("zv"), 6) + 0.0).alias("post_max"),
    )


@register(
    "embedding_random_projection",
    oracle="""
    WITH signs AS (
        SELECT h.h AS h,
               list_transform(generate_series(0, 63), j ->
                   CASE WHEN substr(md5(CAST(h.h AS STRING) || '|' ||
                                        CAST(j AS STRING)), 1, 1) >= '8'
                        THEN 1.0 ELSE -1.0 END) AS sv
        FROM (SELECT unnest(generate_series(0, 15)) AS h) h
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    z AS (
        SELECT v.vec_id, v.e,
               list_transform(
                   (SELECT list(sv ORDER BY h) FROM signs),
                   sv -> list_dot_product(v.e, sv) * 0.25) AS zv
        FROM v
    )
    SELECT vec_id,
           round(sqrt(list_dot_product(e, e)), 6) AS orig_norm,
           round(sqrt(list_dot_product(zv, zv)), 6) AS proj_norm,
           round(sqrt(list_dot_product(zv, zv))
                 / sqrt(list_dot_product(e, e)), 6) AS norm_ratio
    FROM z
    """,
    doc="X3 Johnson-Lindenstrauss reduction 64->16 dims by deterministic "
    "Rademacher projection (Achlioptas 2003; the same md5-derived +-1 "
    "vectors as the SRP quantizer, so ANY engine re-derives the matrix). "
    "Scale 1/sqrt(16)=0.25 is exact binary - no sqrt-parity risk in the "
    "transform itself. Map-side narrow column op, no shuffle, no UDF; "
    "the output is the JL norm-preservation audit per vector.",
    tags=("similarity", "ml"),
)
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    pz = sim.random_project(emb, 16, 64, keep_vec=True)
    return pz.selectExpr(
        "vec_id",
        "round(sqrt(aggregate(zip_with(x, x, (a, b) -> a * b), 0.0D, "
        "(acc, v) -> acc + v)), 6) AS orig_norm",
        "round(sqrt(aggregate(zip_with(z, z, (a, b) -> a * b), 0.0D, "
        "(acc, v) -> acc + v)), 6) AS proj_norm",
        "round(sqrt(aggregate(zip_with(z, z, (a, b) -> a * b), 0.0D, "
        "(acc, v) -> acc + v)) / sqrt(aggregate(zip_with(x, x, "
        "(a, b) -> a * b), 0.0D, (acc, v) -> acc + v)), 6) AS norm_ratio",
    )


@register(
    "text_dedup_span_removal",
    oracle=f"""
    WITH toks0 AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
        FROM ({_CORPUS_SQL})
    ),
    wins AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(ws[i:i+4], ' ')) AS h
        FROM (
            SELECT doc_id, ws,
                   unnest(generate_series(1, len(ws) - 4)) AS i
            FROM toks0 WHERE len(ws) >= 5
        )
    ),
    flagged AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY h) AS cnt,
               row_number() OVER (
                   PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM wins
    ),
    removed AS (
        SELECT DISTINCT doc_id,
               unnest(generate_series(pos, pos + 4)) AS t
        FROM flagged WHERE cnt >= 2 AND rn > 1
    ),
    tok AS (
        SELECT doc_id, i - 1 AS t, ws[i] AS tok
        FROM (
            SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
            FROM toks0
        )
    ),
    kept AS (
        SELECT k.doc_id, k.t, k.tok
        FROM tok k LEFT JOIN removed r
          ON k.doc_id = r.doc_id AND k.t = r.t
        WHERE r.t IS NULL
    )
    SELECT a.doc_id AS doc_id, a.n_tokens AS n_tokens,
           a.n_tokens - COALESCE(b.n_kept, 0) AS n_removed,
           COALESCE(b.clean_hash, md5('')) AS clean_hash
    FROM (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id) a
    LEFT JOIN (
        SELECT doc_id, count(*) AS n_kept,
               md5(string_agg(tok, ' ' ORDER BY t)) AS clean_hash
        FROM kept GROUP BY doc_id
    ) b ON a.doc_id = b.doc_id
    """,
    doc="X2 substring-dedup REMOVAL (Lee et al. 2022 keep-one-occurrence): "
    "each duplicated 5-token window hash keeps its first (doc_id, pos) "
    "occurrence; all other occurrences' token ranges are deleted. One "
    "hash-partitioned window pass computes occurrence count + keeper "
    "rank together; only duplicated windows explode to covered indices; "
    "the cleaned text is returned as a value-checkable md5 per doc.",
    tags=("dedup", "text"),
)
def q_text_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    return dedup.remove_duplicate_spans(corpus, window=5, min_count=2)


@register(
    "dedup_ngram_containment",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    ),
    shared AS (
        SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
               count(*) AS shared
        FROM shingles a JOIN shingles b ON a.shingle = b.shingle
        WHERE a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.doc_small, s.doc_big, s.shared,
           round(s.shared / z.n_sh, 6) AS containment
    FROM shared s JOIN sizes z ON s.doc_small = z.doc_id
    WHERE round(s.shared / z.n_sh, 6) >= 0.8
    """,
    doc="X2 shingle-set containment |A∩B|/|A| (asymmetric Jaccard): the "
    "embedded-document detector - a near-dup PLANTED as a suffix of its "
    "source has containment ~1.0 while its Jaccard can sit under any "
    "symmetric threshold. Directed pairs over the same inverted-index "
    "join as the Jaccard verifier.",
    tags=("dedup", "text"),
)
def q_dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    return dedup.ngram_containment_pairs(corpus, threshold=0.8)


@register(
    "text_quality_gate_streaming",
    # bounded replay of the staged corpus -> byte-equivalent to the
    # batch funnel, so the batch SQL is a full value oracle (same
    # pattern as events_hourly_streaming)
    oracle="""
    WITH scored AS (
        SELECT doc_id, text,
               string_split_regex(lower(text), '\\s+') AS ws
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(ws) AS n,
               list_sum(list_transform(ws, w -> len(w))) AS total_len,
               len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                   AS n_alpha,
               (len(text) - len(replace(text, '#', '')))
                   + ((len(text) - len(replace(text, '...', ''))) // 3)
                   AS n_sym,
               len(list_filter(ws,
                   w -> w IN ('the','a','and','of','to','in','is')))
                   AS n_stop
        FROM scored
    ),
    flagged AS (
        SELECT doc_id, n,
            CASE WHEN NOT (n >= 50 AND n <= 100000) THEN 'word_count'
                 WHEN NOT (total_len >= 3*n AND total_len <= 10*n)
                     THEN 'mean_word_length'
                 WHEN NOT (5*n_alpha >= 4*n) THEN 'alpha_ratio'
                 WHEN NOT (10*n_sym <= n) THEN 'symbol_ratio'
                 WHEN NOT (n_stop >= 2) THEN 'stopword_count'
                 ELSE 'kept' END AS reason
        FROM flagged_src
    )
    SELECT reason, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_words
    FROM flagged GROUP BY 1
    """.replace("flagged_src", "m"),
    doc="X4+X6 the Gopher quality funnel computed on a document STREAM: "
    "per-micro-batch narrow gate projection, complete-mode funnel "
    "aggregation whose state is one row per reason code (bounded by "
    "the rule count, not stream length). Bounded replay is byte-"
    "equivalent to the batch funnel, so this streaming query is fully "
    "hash-checked against the same SQL oracle as "
    "text_gopher_quality_gates.",
    tags=("text", "streaming"),
)
def q_text_quality_gate_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events_stream as es
    from .streaming import text_stream as ts

    stream = ts.read_docs_stream(spark, sf_dir)
    return es.run_bounded(ts.quality_funnel_stream(stream))


@register(
    "asof_join_staleness_bound",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id AS event_id,
           c.user_id AS user_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
           round(COALESCE(
               CASE WHEN epoch(c.ts) - epoch(p.ts) <= 3600 THEN p.value END,
               -1.0), 2) AS fresh_purchase_value
    FROM clicks c
    ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    doc="Point-in-time (feature-store) as-of join: the backward match "
    "additionally carries a 1-hour staleness bound - a purchase older "
    "than the freshness contract nulls out instead of silently serving "
    "stale features. Same single-shuffle union-tag plan; the matched "
    "right timestamp rides the same last-value-forward window and the "
    "bound is one narrow predicate.",
    tags=("temporal", "join", "ml"),
)
def q_asof_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import temporal

    ev = tables.load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    joined = temporal.asof_join(
        clicks,
        purch,
        key="user_id",
        value_cols=["purchase_value"],
        tolerance_seconds=3600,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("click_epoch"),
        F.round(F.coalesce("purchase_value_asof", F.lit(-1.0)), 2).alias(
            "fresh_purchase_value"
        ),
    )


@register(
    "scd2_history_intervals",
    oracle="""
    WITH snaps AS (
        SELECT 1 AS version, o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus AS status
        FROM orders
        UNION ALL
        SELECT 2, o_orderkey,
               CASE WHEN o_orderkey % 7 = 0
                    THEN CAST(round(o_totalprice * 100) AS BIGINT) + 500
                    ELSE CAST(round(o_totalprice * 100) AS BIGINT) END,
               o_orderstatus
        FROM orders
        UNION ALL
        SELECT 3, o_orderkey,
               CASE WHEN o_orderkey % 7 = 0
                    THEN CAST(round(o_totalprice * 100) AS BIGINT) + 500
                    ELSE CAST(round(o_totalprice * 100) AS BIGINT) END,
               CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END
        FROM orders
    ),
    flagged AS (
        SELECT *,
               CASE WHEN lag(cents) OVER w IS DISTINCT FROM cents
                     OR lag(status) OVER w IS DISTINCT FROM status
                    THEN 1 ELSE 0 END AS chg
        FROM snaps
        WINDOW w AS (PARTITION BY o_orderkey ORDER BY version)
    ),
    runs AS (
        SELECT *,
               sum(chg) OVER (PARTITION BY o_orderkey ORDER BY version
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ),
    hist AS (
        SELECT o_orderkey, island,
               min(version) AS valid_from, max(version) AS valid_to
        FROM runs GROUP BY o_orderkey, island
    )
    SELECT valid_from, valid_to, count(*) AS n_intervals
    FROM hist GROUP BY valid_from, valid_to
    """,
    doc="X8 SCD2 history assembly: three deterministic snapshot versions "
    "of orders (v2 bumps %7 prices, v3 flips %5 statuses) fold into "
    "validity intervals via per-key gaps-and-islands on attribute "
    "change - one shuffle, interval count bounded by CHANGES not "
    "versions. Aggregated to the interval-shape histogram so the "
    "output is compact while every key's interval structure is "
    "value-checked.",
    tags=("relational",),
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    bumped = F.when(F.col("o_orderkey") % 7 == 0, cents + 500).otherwise(cents)
    v1 = orders.select(
        F.lit(1).alias("version"), "o_orderkey",
        cents.alias("cents"), F.col("o_orderstatus").alias("status"),
    )
    v2 = orders.select(
        F.lit(2).alias("version"), "o_orderkey",
        bumped.alias("cents"), F.col("o_orderstatus").alias("status"),
    )
    v3 = orders.select(
        F.lit(3).alias("version"), "o_orderkey",
        bumped.alias("cents"),
        F.when(F.col("o_orderkey") % 5 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
    )
    hist = rel.scd2_history(
        v1.unionByName(v2).unionByName(v3),
        "o_orderkey", "version", ["cents", "status"],
    )
    return hist.groupBy("valid_from", "valid_to").agg(
        F.count("*").alias("n_intervals")
    )


@register(
    "multimodal_image_entropy",
    oracle="""
    WITH px AS (
        SELECT g.id AS img_id, (g.id * 31 + i.i * 7) % 256 AS v
        FROM (SELECT unnest(generate_series(0, 199)) AS id) g
        CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS i) i
    ),
    hist AS (
        SELECT img_id, v, count(*) AS c FROM px GROUP BY img_id, v
    )
    SELECT img_id,
           CAST(count(*) AS INTEGER) AS n_levels,
           round(-sum((c / 256.0) * ln(c / 256.0)), 6) + 0.0
               AS entropy_nats
    FROM hist GROUP BY img_id
    """,
    doc="X7 per-image histogram entropy + distinct gray-level count: the "
    "blank/low-information frame detector of a multimodal curation "
    "gate. One numpy bincount per image inside the Arrow batch; the "
    "closed-form synthetic corpus lets DuckDB re-derive the histogram "
    "and entropy exactly (round 6, -0.0 normalized).",
    tags=("multimodal",),
)
def q_multimodal_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    return mm.image_entropy(mm.synth_images(spark, n=200, height=16, width=16))


# ---------------------------------------------------------------------------
# X8+ — distribution drift, information statistics, bootstrap (stats.py).
# The monitoring layer: KS / PSI drift gates, entropy/MI dependence audits,
# Poisson-bootstrap uncertainty — everything exported in exact integer units
# (cents, micro-nats, rational numerators) so both engines hash identically.
# ---------------------------------------------------------------------------


@register(
    "drift_ks_two_sample",
    oracle="""
    WITH v AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    c AS (SELECT cents, sum(a) AS ca, sum(b) AS cb FROM v GROUP BY cents),
    t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                 CAST(sum(cb) AS BIGINT) AS n_b FROM c),
    cum AS (
        SELECT n_a, n_b,
               sum(ca * n_b - cb * n_a) OVER (ORDER BY cents) AS cd
        FROM c CROSS JOIN t
    ),
    m AS (SELECT any_value(n_a) AS n_a, any_value(n_b) AS n_b,
                 CAST(max(abs(cd)) AS BIGINT) AS ks_num FROM cum)
    SELECT n_a, n_b, ks_num,
           CAST(CAST(ks_num AS HUGEINT) * 1000000 // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_ppm
    FROM m
    """,
    doc="X8+ exact two-sample Kolmogorov-Smirnov drift statistic "
    "(click vs purchase value distributions): per-distinct-cents count "
    "difference cross-multiplied and prefix-summed via the two-phase "
    "grouped_running_sum (no unpartitioned window), max |prefix| = "
    "D*n_a*n_b exported as integer numerator + ppm quotient. The "
    "new-snapshot-vs-serving-population admission gate.",
    tags=("stats", "drift"),
)
def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    ev = tables.load(spark, sf_dir, "events")
    return st.ks_two_sample(ev, "event_type", "click", "purchase")


@register(
    "drift_psi_buckets",
    oracle="""
    WITH v AS (
        SELECT CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS a,
               CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS b,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    bounds AS (SELECT min(cents) AS mn, max(cents) AS mx FROM v),
    bk AS (
        SELECT CAST(least(9, (cents - mn) * 10 // (mx - mn + 1))
                   AS INTEGER) AS bucket, a, b
        FROM v CROSS JOIN bounds
    ),
    cnt AS (SELECT bucket, sum(a) AS ca, sum(b) AS cb FROM bk
            GROUP BY bucket),
    dense AS (
        SELECT g.bucket AS bucket,
               CAST(COALESCE(ca, 0) AS BIGINT) AS ca,
               CAST(COALESCE(cb, 0) AS BIGINT) AS cb
        FROM (SELECT unnest(generate_series(0, 9)) AS bucket) g
        LEFT JOIN cnt ON cnt.bucket = g.bucket
    ),
    t AS (SELECT CAST(sum(ca) + 10 AS BIGINT) AS na,
                 CAST(sum(cb) + 10 AS BIGINT) AS nb FROM dense)
    SELECT bucket, ca, cb,
           CAST(round((ln(ca + 1) - ln(na) - ln(cb + 1) + ln(nb))
                * 1000000) AS BIGINT) AS x_micro,
           CAST(((ca + 1) * nb - (cb + 1) * na)
                * CAST(round((ln(ca + 1) - ln(na) - ln(cb + 1) + ln(nb))
                       * 1000000) AS BIGINT) AS BIGINT) AS term_num,
           na, nb
    FROM dense CROSS JOIN t
    ORDER BY bucket
    """,
    doc="X8+ Population Stability Index contributions, first half-month "
    "vs second over equal-width value buckets: integer floor-division "
    "bucketing from a 1-row pooled min/max broadcast, Laplace +1 "
    "smoothing over the dense bucket domain, per-bucket log-ratio in "
    "micro-nats and exact PSI-term numerators (full PSI = "
    "sum(term_num)/(na*nb*1e6), left rational). One map-side-combined "
    "shuffle over the fact table.",
    tags=("stats", "drift"),
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    ev = tables.load(spark, sf_dir, "events")
    v = ev.select(
        F.when(F.dayofmonth("ts") <= 15, "w1").otherwise("w2").alias(
            "period"
        ),
        "value",
    )
    return st.psi_buckets(v, "period", "w1", "w2")


@register(
    "categorical_entropy_sources",
    oracle="""
    WITH c AS (
        SELECT lang, source, count(*) AS c FROM documents
        GROUP BY lang, source
    ),
    g AS (
        SELECT lang, CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c * CAST(round(ln(c) * 1000000) AS BIGINT))
                   AS BIGINT) AS s
        FROM c GROUP BY lang
    )
    SELECT lang, n,
           CAST(CAST(round(ln(n) * 1000000) AS BIGINT) - s // n
               AS BIGINT) AS entropy_micro
    FROM g
    """,
    doc="X8+ per-language Shannon entropy of the source distribution in "
    "exact micro-nats (H = ln n - (sum c*ln c)/n over integer counts): "
    "the source-diversity audit — entropy collapsing toward 0 means "
    "one crawl source is taking over a language slice. Two aggregates "
    "riding one (lang, source) clustering.",
    tags=("stats",),
)
def q_categorical_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    docs = tables.load(spark, sf_dir, "documents")
    return st.categorical_entropy(docs, "lang", "source")


@register(
    "feature_mutual_information",
    oracle="""
    WITH cab AS (
        SELECT lang, source, count(*) AS cab FROM documents
        GROUP BY lang, source
    ),
    ca AS (SELECT lang, CAST(sum(cab) AS BIGINT) AS ca FROM cab
           GROUP BY lang),
    cb AS (SELECT source, CAST(sum(cab) AS BIGINT) AS cb FROM cab
           GROUP BY source),
    t AS (SELECT CAST(sum(cab) AS BIGINT) AS n FROM cab)
    SELECT any_value(n) AS n,
           CAST(sum(cab * (CAST(round(ln(cab) * 1000000) AS BIGINT)
                           + CAST(round(ln(n) * 1000000) AS BIGINT)
                           - CAST(round(ln(ca) * 1000000) AS BIGINT)
                           - CAST(round(ln(cb) * 1000000) AS BIGINT)))
               AS BIGINT) AS mi_sum_micro
    FROM cab JOIN ca USING (lang) JOIN cb USING (source) CROSS JOIN t
    """,
    doc="X8+ mutual information between document language and source in "
    "exact integer micro-nat-rows (MI = mi_sum_micro/(n*1e6), left "
    "rational because the rounded sum can dip below zero for "
    "independent columns and negative integer division differs between "
    "engines): the feature/label leakage detector. One contingency "
    "shuffle; marginals are broadcast re-aggregations of it.",
    tags=("stats",),
)
def q_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    docs = tables.load(spark, sf_dir, "documents")
    return st.mutual_information(docs, "lang", "source")


@register(
    "bootstrap_mean_ci",
    oracle="""
    WITH d AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               gg.g AS g,
               md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                   CAST(l_linenumber AS VARCHAR) || '|boot|' ||
                   CAST(gg.g AS VARCHAR)) AS dig
        FROM lineitem
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS g) gg
    ),
    r AS (
        SELECT cents, g * 4 + jj.j AS b,
               substr(dig, jj.j * 7 + 1, 7) AS h
        FROM d
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) jj
    ),
    w AS (
        SELECT b, cents,
               CASE WHEN h < '5e2d58e' THEN 0
                    WHEN h < 'bc5ab1b' THEN 1
                    WHEN h < 'eb715e2' THEN 2
                    WHEN h < 'fb23979' THEN 3
                    ELSE 4 END AS w
        FROM r
    )
    SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
           CAST(sum(w * cents) // sum(w) AS BIGINT) AS mean_cents
    FROM w GROUP BY b
    """,
    doc="X8+ Poisson bootstrap of the mean order-line price: 32 "
    "deterministic resample replicates in ONE pass — each row "
    "contributes truncated-Poisson(1) weight to each replicate, the "
    "weight a pure md5 function of (row key, replicate) compared "
    "against precomputed CDF thresholds in 2^28 units — one digest "
    "carries four 28-bit replicate draws (4x less hashing), and the "
    "draw is compared as the fixed-width hex substring itself (no "
    "radix parse per draw; lexicographic = numeric order) — "
    "reproducible in any engine and stable under retries/"
    "repartitioning. The default impl runs the md5 rounds as numpy "
    "uint32 vector ops in one mapInArrow pass (functions/md5np.py) "
    "and folds each task into B accumulator pairs - <= B rows shuffle "
    "per task, never B x n anywhere; the SQL-expression twin "
    "(impl='sql') is pinned value-identical in tests. The spread of "
    "the 32 means IS the sampling distribution of the estimator.",
    tags=("stats", "sampling"),
)
def q_bootstrap_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    li = tables.load(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "|", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    return st.bootstrap_means(li, key, value_col="l_extendedprice")


@register(
    "events_seasonal_anomalies",
    oracle="""
    WITH v AS (
        SELECT event_type, hour(ts) AS hod,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    base AS (
        SELECT event_type, hod, CAST(2 * median(c) AS BIGINT) AS med2
        FROM v GROUP BY event_type, hod
    ),
    s AS (
        SELECT v.event_type, v.hod, c, med2
        FROM v JOIN base USING (event_type, hod)
    ),
    mad AS (
        SELECT event_type, hod,
               CAST(2 * median(abs(2 * c - med2)) AS BIGINT) AS mad4
        FROM s GROUP BY event_type, hod
    )
    SELECT s.event_type AS event_type, s.hod AS hod, count(*) AS n,
           CAST(sum(CASE WHEN 2 * abs(2 * c - med2) > 3 * mad4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM s JOIN mad USING (event_type, hod)
    GROUP BY s.event_type, s.hod
    """,
    doc="X8+ seasonal robust-outlier monitor: per (event_type, "
    "hour-of-day) median/MAD baseline in doubled/quadrupled integer "
    "cents, rows flagged where 2*|2x - med2| > 3*mad4 — all-integer "
    "comparisons, exact for both median parities. Co-partitioned "
    "two-pass on one (type, hour) clustering, same shape as "
    "events_median_mad.",
    tags=("stats", "events"),
)
def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    ev = tables.load(spark, sf_dir, "events")
    return st.seasonal_anomalies(ev)


@register(
    "similarity_pq_topk",
    # the codebook is a deterministic md5-ordered sample of the corpus
    # itself and quantization is the established round(v*1000) integer
    # milli-unit cast, so DuckDB re-derives the centroids, the per-
    # subspace codes, the query distance tables, and the final ADC
    # ranks bit-for-bit — a full value oracle for a compressed-domain
    # ANN search
    oracle="""
    WITH vecs AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              v -> CAST(round(v * 1000) AS BIGINT)) AS xi
        FROM embeddings
    ),
    samp AS (
        SELECT xi, row_number() OVER (
                   ORDER BY md5('pqs|' || CAST(vec_id AS VARCHAR)),
                            vec_id) - 1 AS j
        FROM vecs
        ORDER BY md5('pqs|' || CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 8
    ),
    grid AS (
        SELECT m.m AS m, j.j AS j, d.d AS d
        FROM (SELECT unnest(generate_series(0, 3)) AS m) m
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j
        CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS d) d
    ),
    cent AS (
        SELECT g.m, g.j, g.d, s.xi[g.m * 16 + g.d + 1] AS c
        FROM grid g JOIN samp s ON s.j = g.j
    ),
    vdist AS (
        SELECT v.vec_id, c.m, c.j,
               sum((v.xi[c.m * 16 + c.d + 1] - c.c)
                   * (v.xi[c.m * 16 + c.d + 1] - c.c)) AS dist
        FROM vecs v CROSS JOIN cent c
        GROUP BY v.vec_id, c.m, c.j
    ),
    codes AS (
        SELECT vec_id, m, j AS code FROM (
            SELECT vec_id, m, j,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist, j) AS rn
            FROM vdist
        ) WHERE rn = 1
    ),
    adc AS (
        SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(sum(qd.dist) AS BIGINT) AS adc_dist
        FROM codes c
        JOIN vdist qd ON qd.m = c.m AND qd.j = c.code
        WHERE qd.vec_id < 5 AND c.vec_id <> qd.vec_id
        GROUP BY qd.vec_id, c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rank
        FROM adc
    )
    SELECT query_id, neighbor_id, rank, adc_dist
    FROM ranked WHERE rank <= 10
    """,
    doc="X3 product-quantization top-k (the memory side of 100 TB ANN): "
    "corpus vectors stored as 4 subspace codes (argmin of 8 sample-"
    "initialized centroids per 16-dim subvector), queries precompute "
    "4x8 integer distance tables, scoring is 4 table lookups per "
    "candidate (asymmetric-ADC shape) — never a dim-length loop. All "
    "arithmetic in exact milli-unit BIGINTs; map-side partial top-k "
    "before the k*|q|-row ranking window. Complements srp_ivf_topk "
    "(storage pruning) — IVF chooses WHAT to scan, PQ shrinks what "
    "each scanned row costs. This gate variant value-checks the "
    "code/ADC pipeline; the production quantizer is train_pq (per-"
    "subspace Lloyd on a bounded deterministic sample, recall-floor "
    "tested like build_ivf).",
    tags=("similarity",),
)
def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    cb = sim.pq_sample_codebook(emb)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.pq_topk(emb, queries, cb)


@register(
    "drift_chi2_categorical",
    oracle="""
    WITH v AS (
        SELECT event_type AS cat,
               CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS a,
               CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS b
        FROM events
    ),
    cells AS (
        SELECT cat, CAST(sum(a) AS BIGINT) AS oa,
               CAST(sum(b) AS BIGINT) AS ob
        FROM v GROUP BY cat
    ),
    t AS (SELECT CAST(sum(oa) AS BIGINT) AS na,
                 CAST(sum(ob) AS BIGINT) AS nb FROM cells)
    SELECT cat, oa, ob,
           CAST(floor(1000000.0 * (CAST(oa AS DOUBLE) * (na + nb)
                - CAST(oa + ob AS DOUBLE) * na)
                * (CAST(oa AS DOUBLE) * (na + nb)
                - CAST(oa + ob AS DOUBLE) * na)
                / (CAST(na + nb AS DOUBLE) * (oa + ob) * na))
               AS BIGINT) AS chi2_a_micro,
           CAST(floor(1000000.0 * (CAST(ob AS DOUBLE) * (na + nb)
                - CAST(oa + ob AS DOUBLE) * nb)
                * (CAST(ob AS DOUBLE) * (na + nb)
                - CAST(oa + ob AS DOUBLE) * nb)
                / (CAST(na + nb AS DOUBLE) * (oa + ob) * nb))
               AS BIGINT) AS chi2_b_micro
    FROM cells CROSS JOIN t
    ORDER BY cat
    """,
    doc="X8+ chi-squared categorical drift (event-type mix, first vs "
    "second half-month) — the companion of the numeric KS gate. "
    "Per-category observed-vs-expected contributions exported in micro "
    "units through one fixed IEEE op chain (the Wilson-bound "
    "technique): bit-identical cross-engine AND overflow-safe at "
    "petabyte counts where the integer d^2 would pass 2^63. One "
    "category-keyed map-side-combined shuffle; |categories|-row "
    "contingency table.",
    tags=("stats", "drift"),
)
def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    ev = tables.load(spark, sf_dir, "events")
    v = ev.select(
        F.col("event_type").alias("cat"),
        F.when(F.dayofmonth("ts") <= 15, "w1").otherwise("w2").alias(
            "period"
        ),
    )
    return st.chi2_categorical(v, "period", "w1", "w2", "cat")


@register(
    "drift_wasserstein_1d",
    oracle="""
    WITH v AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    c AS (SELECT cents, sum(a) AS ca, sum(b) AS cb FROM v GROUP BY cents),
    t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                 CAST(sum(cb) AS BIGINT) AS n_b FROM c),
    cum AS (
        SELECT n_a, n_b,
               sum(ca * n_b - cb * n_a) OVER (ORDER BY cents) AS cd,
               lead(cents) OVER (ORDER BY cents) - cents AS gap
        FROM c CROSS JOIN t
    ),
    m AS (
        SELECT any_value(n_a) AS n_a, any_value(n_b) AS n_b,
               CAST(sum(abs(cd) * gap) AS BIGINT) AS w1_num
        FROM cum WHERE gap IS NOT NULL
    )
    SELECT n_a, n_b, w1_num,
           CAST(CAST(w1_num AS HUGEINT) * 1000000 // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
               AS w1_micro_cents
    FROM m
    """,
    doc="X8+ exact 1-D Wasserstein (earth mover's) distance between the "
    "click and purchase value distributions — weighs how FAR the mass "
    "moved where KS only sees the worst CDF gap. Integer numerator "
    "sum(|cum_d|*gap) over distinct values; the prefix sum and the "
    "next-value lead come from ONE two-phase range-partitioned pass "
    "(per-partition window + two metadata broadcasts: earlier-"
    "partition subtotals and next-partition first values) — no "
    "unpartitioned window at any scale.",
    tags=("stats", "drift"),
)
def q_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    ev = tables.load(spark, sf_dir, "events")
    return st.wasserstein_1d(ev, "event_type", "click", "purchase")


@register(
    "text_bpe_apply",
    oracle=r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           w -> len(w) > 0) AS words
        FROM documents
    )
    SELECT doc_id,
           CAST(len(words) AS INTEGER) AS n_words,
           CAST(list_sum(list_transform(words, w -> len(w)))
               AS INTEGER) AS n_chars,
           CAST(list_sum(list_transform(words, w ->
               len(string_split(trim(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(concat(' ', regexp_replace(w, '(.)', '\1 ', 'g')), ' t h ', ' th '), ' th e ', ' the '), ' i n ', ' in '), ' e r ', ' er '), ' a n ', ' an '), ' r e ', ' re '), ' o n ', ' on '), ' e n ', ' en '), ' a t ', ' at '), ' o r ', ' or '), ' e s ', ' es '), ' s t ', ' st '), ' a r ', ' ar '), ' t e ', ' te '), ' n d ', ' nd '), ' t o ', ' to '), ' t h ', ' th '), ' th e ', ' the '), ' i n ', ' in '), ' e r ', ' er '), ' a n ', ' an '), ' r e ', ' re '), ' o n ', ' on '), ' e n ', ' en '), ' a t ', ' at '), ' o r ', ' or '), ' e s ', ' es '), ' s t ', ' st '), ' a r ', ' ar '), ' t e ', ' te '), ' n d ', ' nd '), ' t o ', ' to ')), ' '))))
               AS INTEGER) AS n_symbols
    FROM w
    """,
    doc="X4 frozen-merge-table BPE application: every word becomes a "
    "space-delimited symbol sequence and the 16-rule merge table "
    "rewrites it in rank order (replace() is leftmost-greedy in both "
    "engines = BPE order; 2 passes per rule close the odd-run "
    "alternation gap). The whole computation is one NARROW projection "
    "— per-word folds ride transform/aggregate higher-order functions, "
    "no explode, no shuffle, no Python — emitting the post-merge "
    "symbol counts a token-budget planner prices a corpus in. The "
    "merge table is config (a shipped tokenizer artifact), learning "
    "statistics live in text_bpe_first_merges.",
    tags=("text",),
)
def q_text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    return ta.bpe_apply(docs)


@register(
    "web_url_canonical_dedup",
    oracle="""
    WITH u AS (
        SELECT CASE CAST(doc_id % 4 AS INTEGER)
 WHEN 0 THEN 'HTTP://Example.COM:80/a/' || CAST(doc_id % 10 AS VARCHAR) || '/?b=2&a=1#frag'
 WHEN 1 THEN 'http://example.com/a/' || CAST(doc_id % 10 AS VARCHAR) || '?a=1&b=2'
 WHEN 2 THEN 'https://CDN.Example.com:443/img/' || CAST(doc_id % 7 AS VARCHAR) || '/'
 ELSE 'https://cdn.example.com/img/' || CAST(doc_id % 7 AS VARCHAR)
 END AS url
        FROM documents
    ),
    c AS (SELECT lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' || CASE WHEN lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'http' THEN regexp_replace(lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':80$', '') WHEN lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'https' THEN regexp_replace(lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':443$', '') ELSE lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) END || CASE WHEN regexp_extract(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1), '^([^?]*)', 1) IN ('', '/') THEN '/' WHEN regexp_extract(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1), '^([^?]*)', 1) LIKE '%/' THEN substr(regexp_extract(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1), '^([^?]*)', 1), 1, length(regexp_extract(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1), '^([^?]*)', 1)) - 1) ELSE regexp_extract(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1), '^([^?]*)', 1) END || CASE WHEN regexp_extract(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1), '\\?(.*)$', 1) = '' THEN '' ELSE '?' || array_to_string(list_sort(string_split(regexp_extract(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1), '\\?(.*)$', 1), '&')), '&') END AS canonical_url, url FROM u)
    SELECT canonical_url,
           count(*) AS n_raw,
           count(DISTINCT url) AS n_variants
    FROM c GROUP BY canonical_url
    """,
    doc="X4+ URL canonicalization + frontier dedup: the safe RFC-3986 "
    "normalization subset (fragment strip, scheme/host lowercase, "
    "default-port drop, query-param sort, trailing-slash trim) as ONE "
    "narrow regex/array expression that inlines into the scan, then a "
    "map-side-combined groupBy on the canonical string. The synthetic "
    "URL corpus derives deterministically from doc_id with spelling "
    "variants that must collapse pairwise — the oracle re-derives "
    "both the corpus and every normalization rule.",
    tags=("text", "web"),
)
def q_web_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import web

    docs = tables.load(spark, sf_dir, "documents")
    urls = docs.selectExpr(
        """CASE CAST(doc_id % 4 AS INTEGER)
 WHEN 0 THEN concat('HTTP://Example.COM:80/a/',
                    CAST(doc_id % 10 AS STRING), '/?b=2&a=1#frag')
 WHEN 1 THEN concat('http://example.com/a/',
                    CAST(doc_id % 10 AS STRING), '?a=1&b=2')
 WHEN 2 THEN concat('https://CDN.Example.com:443/img/',
                    CAST(doc_id % 7 AS STRING), '/')
 ELSE concat('https://cdn.example.com/img/', CAST(doc_id % 7 AS STRING))
 END AS url"""
    )
    return web.url_canonical_dedup(urls)


@register(
    "web_html_extract_stats",
    oracle=r"""
    WITH h AS (
        SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN
 '<html><head><title>t</title><script>var x = 1 < 2;</script><style>p { color: red; }</style></head><body><!-- nav --><p>' || text || '</p><div>footer &amp; nav &#39;q&#39;</div></body></html>'
 ELSE
 '<HTML><BODY><SCRIPT>alert("hi")</SCRIPT><P>' || text || '</P><DIV>&lt;tag&gt; &nbsp;x</DIV></BODY></HTML>'
 END AS html
        FROM documents
    )
    SELECT doc_id,
           length(html) AS n_chars_raw,
           length(trim(regexp_replace(replace(replace(replace(replace(replace(replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html, '(?is)<script.*?</script>', ' ', 'g'), '(?is)<style.*?</style>', ' ', 'g'), '(?s)<!--.*?-->', ' ', 'g'), '<[^>]*>', ' ', 'g'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'), '\s+', ' ', 'g'))) AS n_chars_text,
           CASE WHEN length(html) > 0 THEN CAST(length(trim(regexp_replace(replace(replace(replace(replace(replace(replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html, '(?is)<script.*?</script>', ' ', 'g'), '(?is)<style.*?</style>', ' ', 'g'), '(?s)<!--.*?-->', ' ', 'g'), '<[^>]*>', ' ', 'g'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'), '\s+', ' ', 'g'))) * 1000000 // length(html) AS BIGINT) END
               AS retained_ppm
    FROM h
    """,
    doc="X4+ HTML visible-text extraction + boilerplate accounting: "
    "script/style/comment BLOCKS removed before tags (a tag-only pass "
    "leaks javascript into the corpus), single-level entity decode "
    "with &amp; last (any other order double-decodes escaped markup), "
    "whitespace collapse — one narrow RE2/Java-portable regex chain, "
    "no UDF, no parser dependency. Emits per-doc raw/text sizes and "
    "the retained-ppm boilerplate share a curation pipeline tracks "
    "per site. Synthetic markup (both tag cases, live script, escaped "
    "entities) derives deterministically from doc_id; the oracle "
    "re-derives corpus and extraction.",
    tags=("text", "web"),
)
def q_web_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import web

    docs = tables.load(spark, sf_dir, "documents")
    html = docs.selectExpr(
        "doc_id",
        """CASE WHEN doc_id % 2 = 0 THEN
 concat('<html><head><title>t</title><script>var x = 1 < 2;</script>',
        '<style>p { color: red; }</style></head><body><!-- nav --><p>',
        text,
        '</p><div>footer &amp; nav &#39;q&#39;</div></body></html>')
 ELSE
 concat('<HTML><BODY><SCRIPT>alert("hi")</SCRIPT><P>', text,
        '</P><DIV>&lt;tag&gt; &nbsp;x</DIV></BODY></HTML>')
 END AS html"""
    )
    return web.html_extract_stats(html)


@register(
    "corpus_temperature_mixture",
    oracle="""
    WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
    w AS (SELECT lang, c, CAST(floor(sqrt(c)) AS BIGINT) AS w FROM c),
    t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w)
    SELECT lang, c, w,
           CAST(w * 1000000 // tw AS BIGINT) AS share_ppm
    FROM w CROSS JOIN t
    ORDER BY lang
    """,
    doc="X4+ temperature-sampled mixture shares (alpha=0.5, the "
    "XLM/mT5 multilingual rebalancing rule: share proportional to "
    "count^0.5 upweights rare languages). Exact at alpha=0.5: integer "
    "floor-sqrt weights (IEEE-correctly-rounded sqrt, both engines) "
    "and integer ppm floor-quotients — no float normalization sum. "
    "Feeds mixture_resample / token-budget quota sampling.",
    tags=("text",),
)
def q_corpus_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    return ta.temperature_mixture_shares(docs, "lang")


@register(
    "embedding_int8_quantization",
    oracle="""
    WITH vecs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    el AS (
        SELECT vec_id, d.d AS d, e[d.d + 1] AS x
        FROM vecs CROSS JOIN
             (SELECT unnest(generate_series(0, 63)) AS d) d
    ),
    rng AS (SELECT d, min(x) AS mn, max(x) AS mx FROM el GROUP BY d),
    err AS (
        SELECT vec_id,
               CASE WHEN mx > mn THEN
                   CAST(floor(abs(x - (mn + floor((x - mn) * 254.0
                        / (mx - mn) + 0.5) * (mx - mn) / 254.0))
                        * 1000000.0 + 0.5) AS BIGINT)
               ELSE 0 END AS em
        FROM el JOIN rng USING (d)
    )
    SELECT vec_id,
           CAST(sum(em) AS BIGINT) AS sum_abs_err_micro,
           CAST(max(em) AS BIGINT) AS max_err_micro
    FROM err GROUP BY vec_id
    """,
    doc="X3+ per-dimension affine int8 quantization audit: exact "
    "reconstruction-error accounting (micro-unit integer per-element "
    "errors, floor(x+0.5) in place of round() so .5 ties cannot split "
    "engines) for the serving-side compression decision. Per-dim "
    "ranges via a 64-group map-side-combined agg broadcast back as "
    "arrays; the quantization pass is a narrow transform fold — no "
    "UDF, one shuffle total. Complements embedding_quantize_int8 "
    "(per-vector SYMMETRIC max-abs codes, zero corpus passes): the "
    "affine per-dim scheme needs a corpus statistics pass but wastes "
    "no levels on unused range, and this query is the audit that "
    "prices that tradeoff.",
    tags=("similarity",),
)
def q_embedding_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    return sim.int8_quantization_stats(emb)


@register(
    "privacy_k_anonymity",
    oracle="""
    WITH classes AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS c
        FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below_k,
           CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
               AS rows_below_k,
           CAST(min(c) AS BIGINT) AS min_class_size
    FROM classes
    """,
    doc="X8+ k-anonymity audit (k=5) over the (nation, market-segment) "
    "quasi-identifier tuple: equivalence-class census, the below-k "
    "suppression set, and the worst-case class size — the governance "
    "gate people-derived training rows pass before release. One "
    "quasi-tuple shuffle; the class table is metadata-sized.",
    tags=("stats", "governance"),
)
def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    cust = tables.load(spark, sf_dir, "customer")
    return st.k_anonymity(cust, ["c_nationkey", "c_mktsegment"], k=5)


@register(
    "graph_clustering_coefficient",
    oracle="""
    WITH bi AS (
        SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pair AS (
        SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_support
        FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
    ),
    tot AS (SELECT count(DISTINCT basket) AS n_baskets FROM bi),
    edges AS (
        SELECT item_a AS src, item_b AS dst
        FROM pair CROSS JOIN tot
        WHERE pair_support * 50 >= n_baskets
    ),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    tcount AS (
        SELECT node, count(*) AS n_triangles
        FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        GROUP BY node
    ),
    deg AS (
        SELECT node, count(*) AS deg
        FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst FROM edges
        )
        GROUP BY node
    )
    SELECT d.node AS node, CAST(d.deg AS BIGINT) AS deg,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.deg >= 2 THEN
               CAST(COALESCE(t.n_triangles, 0) * 2000000
                    // (d.deg * (d.deg - 1)) AS BIGINT)
           ELSE 0 END AS cc_ppm
    FROM deg d LEFT JOIN tcount t ON t.node = d.node
    """,
    doc="X8+ local clustering coefficient over the co-purchase brand "
    "graph: cc(v) = 2*T(v)/(deg(v)*(deg(v)-1)) in exact integer ppm "
    "(floor quotient of triangle counts and degrees) — separates hub "
    "brands (bridges, low cc) from community cores (high cc). Degrees "
    "are one union+groupBy on the edge list; triangles reuse the "
    "ordered two-join; deg<2 defines cc=0.",
    tags=("graph", "mining"),
)
def q_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import graph as g
    from .operators import mining

    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    items = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == part.p_partkey,
    ).select("l_orderkey", "p_brand")
    b = mining.baskets(items, "l_orderkey", "p_brand")
    pair = mining.pair_supports(b)
    total = b.agg(F.count("*").alias("n_baskets"))
    edges = (
        pair.crossJoin(F.broadcast(total))
        .filter(F.col("pair_support") * 50 >= F.col("n_baskets"))
        .select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
        .transform(lineage_cut)
    )
    return g.clustering_coefficient(edges)


@register(
    "web_corpus_funnel",
    oracle=r"""
    WITH h AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 2 = 0 THEN
 '<html><head><title>t</title><script>var x = 1 < 2;</script><style>p { color: red; }</style></head><body><!-- nav --><p>' || text || '</p><div>footer &amp; nav &#39;q&#39;</div></body></html>'
               ELSE
 '<HTML><BODY><SCRIPT>alert("hi")</SCRIPT><P>' || text || '</P><DIV>&lt;tag&gt; &nbsp;x</DIV></BODY></HTML>'
               END AS html
        FROM documents
    ),
    ex AS (SELECT doc_id, source, trim(regexp_replace(replace(replace(replace(replace(replace(replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html, '(?is)<script.*?</script>', ' ', 'g'), '(?is)<style.*?</style>', ' ', 'g'), '(?s)<!--.*?-->', ' ', 'g'), '<[^>]*>', ' ', 'g'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'), '\s+', ' ', 'g')) AS txt FROM h)
    SELECT source,
           count(*) AS n_raw,
           CAST(sum(CASE WHEN length(txt) >= 50 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pass_gate,
           CAST(count(DISTINCT CASE WHEN length(txt) >= 50
                    THEN md5(txt) END) AS BIGINT) AS n_unique
    FROM ex GROUP BY source
    """,
    doc="X4+ end-to-end web-corpus admission funnel as ONE lazy DAG: "
    "markup -> visible-text extraction (strip_html_expr) -> minimum-"
    "length quality gate -> md5 exact-dedup accounting, rolled up per "
    "crawl source (raw / passed-gate / unique counts — the per-site "
    "yield report a curation dashboard tracks). Entirely narrow until "
    "the single per-source aggregation; the dedup is a count(DISTINCT "
    "hash) inside that same shuffle, not a second pass.",
    tags=("text", "web"),
)
def q_web_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import web

    docs = tables.load(spark, sf_dir, "documents")
    html = docs.selectExpr(
        "doc_id",
        "source",
        """CASE WHEN doc_id % 2 = 0 THEN
 concat('<html><head><title>t</title><script>var x = 1 < 2;</script>',
        '<style>p {{ color: red; }}</style></head><body><!-- nav --><p>',
        text,
        '</p><div>footer &amp; nav &#39;q&#39;</div></body></html>')
 ELSE
 concat('<HTML><BODY><SCRIPT>alert("hi")</SCRIPT><P>', text,
        '</P><DIV>&lt;tag&gt; &nbsp;x</DIV></BODY></HTML>')
 END AS html"""
    )
    ex = html.selectExpr(
        "doc_id", "source", f"{web.strip_html_expr('html')} AS txt"
    )
    return ex.groupBy("source").agg(
        F.count("*").alias("n_raw"),
        F.sum((F.length("txt") >= 50).cast("long")).alias("n_pass_gate"),
        F.countDistinct(
            F.when(F.length("txt") >= 50, F.md5("txt"))
        ).alias("n_unique"),
    )


@register(
    "data_profile_drift",
    oracle="""
    WITH base AS (
        SELECT CASE WHEN o_orderdate < DATE '1995-01-01'
                    THEN 'early' ELSE 'late' END AS period,
               o_orderstatus,
               o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
               o_orderdate
        FROM orders
    ),
    p AS (
        SELECT period, 'status' AS col_name, count(*) AS n_rows,
               sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS n_null,
               count(DISTINCT o_orderstatus) AS n_distinct,
               CAST(min(o_orderstatus) AS VARCHAR) AS min_str,
               CAST(max(o_orderstatus) AS VARCHAR) AS max_str
        FROM base GROUP BY period
        UNION ALL
        SELECT period, 'priority', count(*),
               sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT o_orderpriority),
               CAST(min(o_orderpriority) AS VARCHAR),
               CAST(max(o_orderpriority) AS VARCHAR)
        FROM base GROUP BY period
        UNION ALL
        SELECT period, 'price_cents', count(*),
               sum(CASE WHEN price_cents IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT price_cents),
               CAST(min(price_cents) AS VARCHAR),
               CAST(max(price_cents) AS VARCHAR)
        FROM base GROUP BY period
        UNION ALL
        SELECT period, 'orderdate', count(*),
               sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT o_orderdate),
               CAST(min(o_orderdate) AS VARCHAR),
               CAST(max(o_orderdate) AS VARCHAR)
        FROM base GROUP BY period
    )
    SELECT period, col_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_null AS BIGINT) AS n_null,
           CAST(n_null * 1000000 // n_rows AS BIGINT) AS null_ppm,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           min_str, max_str
    FROM p
    """,
    doc="X8+ per-period column-profile drift (the schema-drift "
    "detector): null count/ppm, distinct cardinality, canonical-"
    "string min/max for four orders columns across an early/late "
    "split. All profiles compute in ONE aggregation (multi-distinct "
    "plans as a single Expand) then stack-unpivot to (period, column) "
    "rows — a silent all-NULL column, cardinality explosion, or "
    "domain shift shows up as a profile diff before a model sees it.",
    tags=("stats", "governance"),
)
def q_data_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    orders = tables.load(spark, sf_dir, "orders")
    base = orders.selectExpr(
        "CASE WHEN o_orderdate < DATE '1995-01-01' "
        "THEN 'early' ELSE 'late' END AS period",
        "o_orderstatus",
        "o_orderpriority",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents",
        "o_orderdate",
    )
    return st.column_profiles(
        base,
        "period",
        {
            "status": "o_orderstatus",
            "priority": "o_orderpriority",
            "price_cents": "price_cents",
            "orderdate": "o_orderdate",
        },
    )


@register(
    "events_attribution_full_outer_streaming",
    # sentinel-flushed bounded replay emits every click AND every
    # unattributed purchase exactly once → the batch FULL OUTER join
    # is a complete value oracle
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    windows AS (
        SELECT event_id AS purchase_id, user_id, ts AS start_ts,
               ts + INTERVAL 2 HOUR AS end_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id AS click_id, w.purchase_id AS purchase_id,
           COALESCE(c.user_id, w.user_id) AS user_id
    FROM clicks c
    FULL JOIN windows w ON c.user_id = w.user_id
                       AND c.ts >= w.start_ts AND c.ts < w.end_ts
    """,
    doc="X6 stream-stream FULL OUTER interval join: both outer "
    "directions at once — unmatched clicks null-pad when the purchase "
    "watermark proves no match can arrive, and purchases that drew no "
    "click inside their 2-hour window null-pad symmetrically. The "
    "bounded replay (sentinel watermark flush) hashes against the "
    "batch FULL JOIN.",
    tags=("events", "streaming"),
)
def q_events_attribution_full_outer_streaming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .streaming import events_stream as es

    stream = es.read_events_stream_with_flush(spark, sf_dir)
    out = es.run_bounded(
        es.attribution_full_outer_stream(stream), mode="append"
    )
    # drop the sentinel rows (event_id = -1 on either side)
    return out.filter(
        (F.coalesce(F.col("click_id"), F.lit(0)) >= 0)
        & (F.coalesce(F.col("purchase_id"), F.lit(0)) >= 0)
    )


@register(
    "market_gini_coefficient",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                    * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, l_suppkey) AS rn
        FROM rev
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS sx,
               CAST(sum(rn * cents) AS BIGINT) AS six
        FROM ranked
    )
    SELECT n, sx,
           CAST(2 * six - (n + 1) * sx AS BIGINT) AS gini_num,
           CAST(n * sx AS BIGINT) AS gini_den,
           CAST((CAST(2 * six - (n + 1) * sx AS HUGEINT) * 1000000)
                // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_ppm
    FROM s
    """,
    doc="X8+ Gini coefficient of supplier revenue concentration — the "
    "companion of the HHI share metric (Gini reads inequality of the "
    "whole distribution; HHI reads top-heaviness). Exact: per-row "
    "cents BEFORE summation (no float accumulation), ranks from the "
    "two-phase global_row_number (never a one-task window; the rank "
    "key is the unique (cents, suppkey) composite), and the "
    "(2*Sum(i*x) - (n+1)*Sum(x)) / (n*Sum(x)) identity exported as "
    "integer numerator/denominator plus a ppm floor quotient.",
    tags=("stats", "relational"),
)
def q_market_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.expr(
            "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) "
            "* 100) AS BIGINT)) AS BIGINT)"
        ).alias("cents")
    )
    # unique composite rank key: cents dominate, suppkey breaks ties.
    # Ranked lexicographically on the two columns — an arithmetic
    # packed key (cents * K + suppkey) silently corrupts once suppkey
    # >= K or the multiply overflows int64 at large SF.
    ranked = rel.global_row_number(rev, ("cents", "l_suppkey"), out_col="rn")
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
        F.sum(F.col("rn").cast("bigint") * F.col("cents"))
        .cast("bigint")
        .alias("six"),
    )
    return s.selectExpr(
        "n",
        "sx",
        "CAST(2 * six - (n + 1) * sx AS BIGINT) AS gini_num",
        "CAST(n * sx AS BIGINT) AS gini_den",
        # ppm in decimal(38,0): gini_num carries data-scaled cent
        # totals, so num*1e6 passes int64 around sf0.1 (caught by the
        # sf1 gate as an ANSI ARITHMETIC_OVERFLOW — round-7 fix)
        "CAST((CAST(2 * six - (n + 1) * sx AS DECIMAL(38,0)) * 1000000)"
        " DIV (CAST(n AS DECIMAL(38,0)) * sx) AS BIGINT) AS gini_ppm",
    )


@register(
    "text_feature_hashing",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(
                   regexp_split_to_array(lower(text), '\\s+'),
                   w -> len(w) > 0)) AS w
        FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substr(md5('fh|' || w), 1, 15))::UBIGINT % 64
               AS INTEGER) AS bucket,
           count(*) AS n
    FROM tok GROUP BY doc_id, bucket
    """,
    doc="X4+ feature hashing (the hashing trick): tokens map to a "
    "fixed 64-bucket feature space via an md5 slice — the stateless, "
    "vocabulary-free featurization that needs no dictionary build, no "
    "broadcast, and never grows with corpus size; collisions are the "
    "documented tradeoff. One explode + map-side-combined groupBy; "
    "the bucket id is a pure function of the token, so the feature "
    "space is identical across engines, retries, and corpus subsets.",
    tags=("text",),
)
def q_text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    return (
        docs.selectExpr(
            "doc_id",
            "explode(filter(split(lower(text), '\\\\s+'), "
            "w -> length(w) > 0)) AS w",
        )
        .selectExpr(
            "doc_id",
            "CAST(conv(substr(md5(concat('fh|', w)), 1, 15), 16, 10) "
            "AS BIGINT) % 64 AS bucket",
        )
        .selectExpr("doc_id", "CAST(bucket AS INT) AS bucket")
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n"))
    )


@register(
    "events_props_variant_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(count(DISTINCT CAST(props->>'k' AS INTEGER)) AS BIGINT)
               AS distinct_k,
           CAST(sum(CASE WHEN props->>'missing' IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM events
    GROUP BY event_type
    """,
    doc="X8+ VARIANT-typed semi-structured analytics (Spark 4 native "
    "path): parse_json lifts props into the binary VARIANT encoding "
    "ONCE, then variant_get/try_variant_get extract typed fields — "
    "the schema-FREE twin of events_props_json_agg's declared-schema "
    "from_json. VARIANT is the 100 TB idiom for heterogeneous/"
    "evolving payloads: no schema to declare or migrate, the parse "
    "cost is paid once per row (not per extraction), and at the "
    "storage layer the encoding shreds to columns. try_variant_get "
    "on an absent path yields NULL, not an error — counted here as "
    "the missing-field audit.",
    tags=("events", "json"),
)
def q_events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    v = ev.withColumn("v", F.parse_json("props"))
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(
            F.variant_get("v", "$.k", "int").cast("long")
        ).alias("sum_k"),
        F.countDistinct(F.variant_get("v", "$.k", "int"))
        .cast("long")
        .alias("distinct_k"),
        F.sum(
            F.when(
                F.try_variant_get("v", "$.missing", "int").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_missing"),
    )


@register(
    "pyds_synthetic_scan",
    oracle="""
    WITH src AS (
        SELECT i AS event_id,
               (i * i) % 97 AS user_id,
               (i * 37) % 10000 + 1 AS cents
        FROM (SELECT unnest(generate_series(0, 19999)) AS i)
    )
    SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
           count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM src GROUP BY user_bucket
    """,
    doc="O44+ custom Python DataSource (Spark 4 extension point): a "
    "registered format with declared schema, scheduler-distributed "
    "input partitions, and Arrow-RecordBatch reads built from numpy "
    "(never per-row tuples — the same vectorization rule as every "
    "Python boundary in this engine). The source's closed-form rows "
    "(user = i^2 mod 97, cents = 37i mod 10^4 + 1) let DuckDB "
    "regenerate the corpus exactly, so the whole source+query "
    "pipeline is value-checked.",
    tags=("sources",),
)
def q_pyds_synthetic_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import pydatasource

    pydatasource.register(spark)
    src = (
        spark.read.format("synthetic_events")
        .option("rows", 20000)
        .option("partitions", 8)
        .load()
    )
    return (
        src.selectExpr(
            "user_id % 10 AS user_bucket", "cents", "event_id"
        )
        .groupBy("user_bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.max("event_id").cast("bigint").alias("max_id"),
        )
    )


@register(
    "similarity_recall_eval",
    # both sub-pipelines reuse the proven oracles of
    # similarity_topk_cosine and similarity_ivf_topk verbatim; the eval
    # joins ground truth to the approximate result set
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < 5
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings
    ),
    bsims AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(qe, ce)
                     / (sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(ce, ce))), 6) AS cosine
        FROM q CROSS JOIN c
        WHERE neighbor_id <> query_id
    ),
    brute AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
                   ) AS rank
            FROM bsims
        ) WHERE rank <= 10
    ),
    signs AS (
        SELECT h.h AS h,
               list_transform(generate_series(0, 63), j ->
                   CASE WHEN substr(md5(CAST(h.h AS VARCHAR) || '|' ||
                                        CAST(j AS VARCHAR)), 1, 1) >= '8'
                        THEN 1.0 ELSE -1.0 END) AS sv
        FROM (SELECT unnest(generate_series(0, 3)) AS h) h
    ),
    vecs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    bits AS (
        SELECT v.vec_id, s.h,
               CASE WHEN list_dot_product(v.e, s.sv) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM vecs v CROSS JOIN signs s
    ),
    cells AS (
        SELECT vec_id, CAST(sum(bit * (1 << h)) AS INTEGER) AS cell
        FROM bits GROUP BY vec_id
    ),
    qs AS (
        SELECT v.vec_id AS query_id, v.e AS qe2, c.cell AS qcell
        FROM vecs v JOIN cells c USING (vec_id) WHERE vec_id < 5
    ),
    probes AS (
        SELECT query_id, qe2, cell FROM (
            SELECT q.query_id, q.qe2, a.cell,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY bit_count(CAST(xor(q.qcell, a.cell)
                                               AS BIGINT)), a.cell
                   ) AS pr
            FROM qs q
            CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS cell) a
        ) WHERE pr <= 4
    ),
    isims AS (
        SELECT p.query_id, v.vec_id AS neighbor_id,
               round(list_dot_product(p.qe2, v.e)
                     / (sqrt(list_dot_product(p.qe2, p.qe2))
                        * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine
        FROM probes p
        JOIN cells c ON c.cell = p.cell
        JOIN vecs v ON v.vec_id = c.vec_id
        WHERE v.vec_id <> p.query_id
    ),
    approx AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
                   ) AS rank
            FROM isims
        ) WHERE rank <= 10
    )
    SELECT b.query_id AS query_id,
           count(*) AS k,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           CAST(count(a.neighbor_id) * 1000000 // count(*) AS BIGINT)
               AS recall_ppm,
           CAST(COALESCE(min(CASE WHEN a.neighbor_id IS NOT NULL
                                  THEN b.rank END), 0) AS BIGINT)
               AS first_hit_rank
    FROM brute b
    LEFT JOIN approx a
      ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
    doc="X3+ retrieval evaluation AS a query: per-query recall@10 of "
    "the SRP-IVF ANN path against the exact brute-force ground truth, "
    "plus the rank of the first recovered true neighbor — the metric "
    "loop every ANN deployment runs on every index build, expressed "
    "as one join of the two result sets (ground truth is k rows per "
    "query, so the eval join is output-sized, not corpus-sized). "
    "Exported as integer ppm.",
    tags=("similarity", "ml-eval"),
)
def q_similarity_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = sim.cosine_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id", "rank"
    )
    approx = sim.srp_ivf_topk(emb, queries, k=10, nprobe=4).select(
        F.col("query_id").alias("a_qid"),
        F.col("neighbor_id").alias("a_nid"),
    )
    j = brute.join(
        approx,
        (F.col("query_id") == F.col("a_qid"))
        & (F.col("neighbor_id") == F.col("a_nid")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("*").alias("k"),
        F.count("a_nid").alias("n_hit"),
        F.expr(
            "CAST(count(a_nid) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(COALESCE(min(CASE WHEN a_nid IS NOT NULL "
            "THEN rank END), 0) AS BIGINT)"
        ).alias("first_hit_rank"),
    )


@register(
    "events_conversion_latency",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
        SELECT CAST(epoch_us(c.ts) - epoch_us(p.ts) AS BIGINT)
                   // 1000000 AS lat_s
        FROM clicks c
        JOIN purchases p ON c.user_id = p.user_id
                        AND c.ts >= p.ts
                        AND c.ts < p.ts + INTERVAL 2 HOUR
    )
    SELECT count(*) AS n_pairs,
           CAST(min(lat_s) AS BIGINT) AS min_s,
           CAST(2 * median(lat_s) AS BIGINT) AS med2_s,
           CAST(max(lat_s) AS BIGINT) AS max_s
    FROM pairs
    """,
    doc="X5+ conversion-latency distribution over the attributed "
    "click/purchase interval-join pairs (the same bounded range join "
    "as the attribution queries): per-pair latency in whole seconds "
    "(integer microsecond floor-division), summarized as min / doubled "
    "median / max — doubled units keep both median parities exact. "
    "The interval bound keeps the join linear in matches, and the "
    "summary is one map-side-combined aggregate.",
    tags=("events", "temporal"),
)
def q_events_conversion_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    pairs = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND c_ts >= p_ts "
            "AND c_ts < p_ts + INTERVAL 2 HOURS"
        ),
    ).selectExpr(
        "(unix_micros(c_ts) - unix_micros(p_ts)) DIV 1000000 AS lat_s"
    )
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.min("lat_s").cast("bigint").alias("min_s"),
        F.expr("CAST(2 * percentile(lat_s, 0.5) AS BIGINT)").alias(
            "med2_s"
        ),
        F.max("lat_s").cast("bigint").alias("max_s"),
    )


@register(
    "sketch_hll_rolling_distinct",
    oracle="""
    WITH h AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS BIGINT) AS grp,
               ('0x' || substr(md5('hllr|' || CAST(user_id AS VARCHAR)),
                    1, 2))::UBIGINT::BIGINT AS register,
               61 - length(ltrim(bin(
                   ('0x' || substr(md5('hllr|' || CAST(user_id AS VARCHAR)),
                        3, 15))::UBIGINT::BIGINT), '0')) AS rho
        FROM events
    ),
    regs AS (
        SELECT grp, register, max(rho) AS max_rho FROM h GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT grp AS d FROM regs),
    merged AS (
        SELECT d.d AS grp, r.register, max(r.max_rho) AS max_rho
        FROM regs r JOIN days d
          ON r.grp <= d.d AND r.grp > d.d - 7
        GROUP BY d.d, r.register
    ),
    agg AS (
        SELECT grp,
               count(*) AS registers_used,
               sum(CAST(power(2.0, 48 - least(max_rho, 48)) AS BIGINT))
                   AS used_units
        FROM merged GROUP BY 1
    )
    SELECT grp,
           registers_used,
           CAST(256 - registers_used AS INTEGER) AS zero_registers,
           CAST(floor(1.3249790702834051e+19
                      / CAST(used_units + (256 - registers_used)
                             * 281474976710656 AS DOUBLE)
                      * 1000.0) AS BIGINT) AS est_milli
    FROM agg
    """,
    doc="X8+ rolling 7-day distinct users via HLL sketch UNION — the "
    "mergeable-sketch property doing real work: each day's estimate "
    "max-merges the trailing 7 daily register tables (days x 256 x 7 "
    "rows — sketch-sized, never a re-scan of raw data). The "
    "production shape of every rolling-uniques dashboard; estimates "
    "in the same exact integer-unit export as sketch_hll_distinct.",
    tags=("sketch", "events"),
)
def q_sketch_hll_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import sketches

    ev = tables.load(spark, sf_dir, "events")
    daily = ev.select(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("day"),
        "user_id",
    )
    regs = sketches.hll_registers(daily, "day", "user_id", salt="hllr")
    return sketches.hll_rolling_estimate(regs, window=7)


@register(
    "events_fingerprint_streaming",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(('0x' || substr(md5(
                   CAST(event_id AS VARCHAR) || '|' ||
                   CAST(user_id AS VARCHAR) || '|' ||
                   CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
               ), 1, 15))::UBIGINT % 1152921504606846976)
               % 1152921504606846976 AS BIGINT) AS fingerprint
    FROM events
    """,
    doc="X6+ streaming table fingerprint: the commutative 60-bit md5 "
    "fold maintained as a two-number streaming aggregate — the "
    "anti-entropy checksum an ingest pipeline exports continuously so "
    "replicas verify without re-reading the source. Commutativity IS "
    "the streamability: the sum mod 2^60 is arrival-order- and "
    "micro-batch-boundary-insensitive, so the bounded replay equals "
    "the batch fold bit-for-bit.",
    tags=("events", "streaming"),
)
def q_events_fingerprint_streaming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    return es.run_bounded(es.fingerprint_stream(stream), mode="complete")


@register(
    "model_auc_by_fold",
    oracle="""
    WITH s AS (
        SELECT (('0x' || substr(md5('cv|' || CAST(o_custkey AS VARCHAR)),
                    1, 8))::UBIGINT % 5)::INTEGER AS fold,
               CAST(round(o_totalprice * 100) AS BIGINT) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS lab
        FROM orders
    ),
    g AS (
        SELECT fold, score,
               CAST(sum(lab) AS BIGINT) AS pos,
               CAST(count(*) - sum(lab) AS BIGINT) AS neg
        FROM s GROUP BY fold, score
    ),
    c AS (
        SELECT fold, pos, neg,
               CAST(coalesce(sum(neg) OVER (PARTITION BY fold
                   ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS below
        FROM g
    )
    SELECT fold,
           CAST(sum(pos) AS BIGINT) AS npos,
           CAST(sum(neg) AS BIGINT) AS nneg,
           CAST(sum(pos * (2 * below + neg)) AS BIGINT) AS auc_num2,
           CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN
               CAST((1000000 * CAST(sum(pos * (2 * below + neg))
                                    AS HUGEINT))
                    // (2 * CAST(sum(pos) AS HUGEINT) * sum(neg))
                    AS BIGINT)
           END AS auc_ppm
    FROM c GROUP BY fold
    """,
    doc="X8+ per-fold exact AUC: the segment-level model evaluation "
    "(rank-sum identity, doubled-unit tie credit, integer ppm) "
    "grouped by the leakage-safe md5 customer fold of "
    "kfold_split_assignment — a model scoring 0.9 globally and 0.55 "
    "on one fold is a leak or a shift, and this is the query that "
    "sees it. The keyed running count rides grouped_running_sum: one "
    "fold spans many partitions, no fold pins a task.",
    tags=("relational", "ml-eval"),
)
def q_model_auc_by_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    s = orders.select(
        F.expr(
            "CAST(conv(substr(md5(concat('cv|', CAST(o_custkey AS STRING))),"
            " 1, 8), 16, 10) % 5 AS INT)"
        ).alias("fold"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("lab"),
    )
    return rel.exact_auc_by_group(s, "fold", "score", "lab")


@register(
    "model_calibration_bins",
    oracle="""
    WITH s AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS lab
        FROM orders
    ),
    bounds AS (SELECT min(score) AS mn, max(score) AS mx FROM s),
    b AS (
        SELECT CAST(least(9, (score - mn) * 10 // (mx - mn + 1))
                   AS INTEGER) AS bin,
               score, lab
        FROM s CROSS JOIN bounds
    )
    SELECT bin,
           count(*) AS n,
           CAST(sum(lab) AS BIGINT) AS n_pos,
           CAST(sum(lab) * 1000000 // count(*) AS BIGINT)
               AS pos_rate_ppm,
           CAST(sum(score) // count(*) AS BIGINT) AS mean_score_cents
    FROM b GROUP BY bin ORDER BY bin
    """,
    doc="X8+ calibration (reliability) bins: equal-width score buckets "
    "with observed positive rate vs mean score per bin — the "
    "complement of the rank-ordered lift table (lift asks 'does "
    "ordering work', calibration asks 'do the VALUES mean what they "
    "say'). Integer floor-division bucketing from a 1-row min/max "
    "broadcast, all exports integer ppm/cents — no float anywhere.",
    tags=("relational", "ml-eval"),
)
def q_model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    s = orders.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("lab"),
    )
    bounds = s.agg(F.min("score").alias("mn"), F.max("score").alias("mx"))
    return (
        s.crossJoin(F.broadcast(bounds))
        .selectExpr(
            "CAST(least(9, (score - mn) * 10 DIV (mx - mn + 1)) "
            "AS INTEGER) AS bin",
            "score",
            "lab",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("lab").cast("bigint").alias("n_pos"),
            F.expr(
                "CAST(sum(lab) * 1000000 DIV count(*) AS BIGINT)"
            ).alias("pos_rate_ppm"),
            F.expr(
                "CAST(sum(score) DIV count(*) AS BIGINT)"
            ).alias("mean_score_cents"),
        )
        .orderBy("bin")
    )


@register(
    "model_brier_score",
    oracle="""
    WITH s AS (
        SELECT CAST((('0x' || substr(md5('p|' ||
                   CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT
                   % 10001) AS BIGINT) AS p_bp,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS lab
        FROM orders
    )
    SELECT count(*) AS n,
           CAST(sum((p_bp - 10000 * lab) * (p_bp - 10000 * lab))
               AS BIGINT) AS brier_num_bp2,
           CAST(sum((p_bp - 10000 * lab) * (p_bp - 10000 * lab))
               // count(*) AS BIGINT) AS brier_bp2
    FROM s
    """,
    doc="X8+ exact Brier score: mean squared error between a predicted "
    "probability (deterministic md5-derived basis points, the "
    "stand-in for a model output column) and the outcome, entirely "
    "in integer basis-point-squared units — Sum((p_bp - 10000y)^2) "
    "DIV n. The proper-scoring-rule companion of AUC (AUC can't see "
    "miscalibration; Brier penalizes it). One map-side-combined "
    "aggregate.",
    tags=("relational", "ml-eval"),
)
def q_model_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    s = orders.select(
        F.expr(
            "CAST(conv(substr(md5(concat('p|', "
            "CAST(o_orderkey AS STRING))), 1, 8), 16, 10) % 10001 "
            "AS BIGINT)"
        ).alias("p_bp"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("lab"),
    )
    return s.agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("p_bp") - 10000 * F.col("lab"))
            * (F.col("p_bp") - 10000 * F.col("lab"))
        )
        .cast("bigint")
        .alias("brier_num_bp2"),
        F.expr(
            "CAST(sum((p_bp - 10000 * lab) * (p_bp - 10000 * lab)) "
            "DIV count(*) AS BIGINT)"
        ).alias("brier_bp2"),
    )


@register(
    "feature_information_value",
    oracle="""
    WITH s AS (
        SELECT o_orderpriority AS cat,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS lab
        FROM orders
    ),
    c AS (
        SELECT cat,
               CAST(sum(lab) AS BIGINT) AS pos,
               CAST(count(*) - sum(lab) AS BIGINT) AS neg
        FROM s GROUP BY cat
    ),
    t AS (SELECT CAST(sum(pos) AS BIGINT) AS tp,
                 CAST(sum(neg) AS BIGINT) AS tn FROM c)
    SELECT cat, pos, neg,
           CAST(round((ln(pos + 1) - ln(tp + 1) - ln(neg + 1)
                + ln(tn + 1)) * 1000000) AS BIGINT) AS woe_micro,
           CAST(((pos + 1) * (tn + 1) - (neg + 1) * (tp + 1))
                * CAST(round((ln(pos + 1) - ln(tp + 1) - ln(neg + 1)
                       + ln(tn + 1)) * 1000000) AS BIGINT)
               AS BIGINT) AS iv_term_num,
           tp, tn
    FROM c CROSS JOIN t
    ORDER BY cat
    """,
    doc="X8+ Weight of Evidence / Information Value per category (the "
    "credit-scoring feature-strength metric; IV > 0.3 = strong "
    "predictor, > 0.5 = suspicious leak): WoE in exact micro-nats "
    "with +1 Laplace smoothing (the PSI technique — ln never sees an "
    "empty cell) and the exact IV-term numerator "
    "(pos_share - neg_share)*WoE kept rational, IV = sum(iv_term_num)"
    "/((tp+1)(tn+1)*1e6). One category shuffle + a 1-row totals "
    "broadcast.",
    tags=("stats", "ml-eval"),
)
def q_feature_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    c = (
        orders.select(
            F.col("o_orderpriority").alias("cat"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .alias("lab"),
        )
        .groupBy("cat")
        .agg(
            F.sum("lab").cast("bigint").alias("pos"),
            (F.count("*") - F.sum("lab")).cast("bigint").alias("neg"),
        )
    )
    t = c.agg(
        F.sum("pos").cast("bigint").alias("tp"),
        F.sum("neg").cast("bigint").alias("tn"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .withColumn(
            "woe_micro",
            F.expr(
                "CAST(round((ln(pos + 1) - ln(tp + 1) - ln(neg + 1)"
                " + ln(tn + 1)) * 1000000) AS BIGINT)"
            ),
        )
        .selectExpr(
            "cat",
            "pos",
            "neg",
            "woe_micro",
            "CAST(((pos + 1) * (tn + 1) - (neg + 1) * (tp + 1))"
            " * woe_micro AS BIGINT) AS iv_term_num",
            "tp",
            "tn",
        )
        .orderBy("cat")
    )


@register(
    "multimodal_audio_frame_features",
    oracle="""
    WITH samp AS (
        SELECT c.c AS clip_id, i.i AS i,
               ((c.c * 17 + i.i * 13) % 2048) - 1024 AS s
        FROM (SELECT unnest(generate_series(0, 99)) AS c) c
        CROSS JOIN (SELECT unnest(generate_series(0, 1999)) AS i) i
    ),
    framed AS (
        SELECT clip_id, CAST(i // 256 AS INTEGER) AS frame_idx, i, s
        FROM samp WHERE i < 1792
    ),
    nxt AS (
        SELECT clip_id, frame_idx, s,
               lead(s) OVER (PARTITION BY clip_id, frame_idx
                             ORDER BY i) AS s2
        FROM framed
    )
    SELECT clip_id, frame_idx,
           CAST(sum(s * s) AS BIGINT) AS energy,
           CAST(sum(CASE WHEN s2 IS NOT NULL
                         AND ((s >= 0) <> (s2 >= 0))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross
    FROM nxt GROUP BY clip_id, frame_idx
    """,
    doc="X7 frame-level audio features (the framing step before any "
    "spectral transform): 256-sample windows per clip, per-frame "
    "integer energy and zero-crossing counts — numpy view reshape, "
    "vectorized frame-axis reductions inside one Arrow-batched pass. "
    "The closed-form synthetic waveform lets DuckDB re-derive every "
    "frame exactly (full frames only: 7 of a 2000-sample clip).",
    tags=("multimodal",),
)
def q_multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    return mm.audio_frame_features(mm.synth_audio(spark, n=100))


@register(
    "multimodal_hist_equalize",
    oracle="""
    WITH px AS (
        SELECT g.id AS img_id, (g.id * 31 + i.i * 7) % 256 AS v
        FROM (SELECT unnest(generate_series(0, 199)) AS id) g
        CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS i) i
    ),
    hist AS (SELECT img_id, v, count(*) AS c FROM px GROUP BY img_id, v),
    cdf AS (
        SELECT img_id, v, c,
               sum(c) OVER (PARTITION BY img_id ORDER BY v) AS cdf
        FROM hist
    ),
    m AS (SELECT img_id, min(cdf) AS cdf_min FROM cdf GROUP BY img_id),
    eq AS (
        SELECT c.img_id, c.c,
               ((c.cdf - m.cdf_min) * 255) // (256 - m.cdf_min) AS eqv
        FROM cdf c JOIN m USING (img_id)
    )
    SELECT img_id,
           CAST(sum(eqv * c) AS BIGINT) AS eq_pixel_sum,
           CAST(count(DISTINCT eqv) AS INTEGER) AS n_levels
    FROM eq GROUP BY img_id
    """,
    doc="X7 per-image histogram equalization with integer-exact "
    "accounting: lut[v] = (cdf[v]-cdf_min)*255 // (npx-cdf_min) — "
    "the classic contrast normalizer as pure integer floor "
    "arithmetic (OpenCV's equalizeHist kernel shape minus the float "
    "rounding that would break a differential gate). One bincount + "
    "cumsum + LUT gather per image inside the Arrow batch; the "
    "closed-form corpus lets DuckDB re-derive the CDF remap exactly.",
    tags=("multimodal",),
)
def q_multimodal_hist_equalize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import multimodal as mm

    return mm.hist_equalize_stats(
        mm.synth_images(spark, n=200, height=16, width=16)
    )


@register(
    "dedup_minhash_pr_eval",
    # truth and candidates share one shingles CTE; both sub-pipelines
    # reuse the proven dedup_ngram_jaccard / dedup_minhash_lsh oracles
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
        SELECT doc_a, doc_b
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(shared / (sa.n_sh + sb.n_sh - shared), 6) >= 0.5
    ),
    mh AS (
        SELECT doc_id, s.i AS i,
               min(substring(md5((s.i // 4) || '|' || shingle),
                             1 + 8 * (s.i % 4), 8)) AS mh
        FROM shingles CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) s
        GROUP BY doc_id, s.i
    ),
    bands AS (
        SELECT doc_id, i // 2 AS band,
               md5(string_agg(mh, '|' ORDER BY i)) AS band_hash
        FROM mh GROUP BY doc_id, i // 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                   AND a.doc_id < b.doc_id
    ),
    m AS (
        SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
               CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
               CAST((SELECT count(*) FROM cand JOIN truth
                     USING (doc_a, doc_b)) AS BIGINT) AS n_hit
    )
    SELECT n_truth, n_cand, n_hit,
           CAST(n_hit * 1000000 // n_cand AS BIGINT) AS precision_ppm,
           CAST(n_hit * 1000000 // n_truth AS BIGINT) AS recall_ppm
    FROM m
    """,
    doc="X2+ dedup-pipeline evaluation AS a query: precision/recall of "
    "the MinHash-LSH candidate set against the exact >=0.5-Jaccard "
    "ground truth on the planted corpus — the measure-your-dedup loop "
    "every banding-parameter change should re-run (precision prices "
    "wasted verification, recall prices missed duplicates; the "
    "S-curve trade is b x r). Both sub-pipelines share one shingle "
    "scan; the eval join touches only the two pair sets.",
    tags=("dedup", "ml-eval"),
)
def q_dedup_minhash_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    truth = dedup.ngram_jaccard_pairs(
        corpus, shingle_n=3, threshold=0.5
    ).select("doc_a", "doc_b")
    cand = (
        dedup.minhash_lsh_candidates(
            corpus, num_hashes=12, rows_per_band=2, shingle_n=3
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    j = cand.withColumn("_c", F.lit(1)).join(
        truth.withColumn("_t", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    return (
        j.agg(
            F.sum("_t").cast("bigint").alias("n_truth"),
            F.sum("_c").cast("bigint").alias("n_cand"),
            F.sum(F.col("_c") * F.col("_t")).cast("bigint").alias("n_hit"),
        )
        .selectExpr(
            "n_truth",
            "n_cand",
            "n_hit",
            "CAST(n_hit * 1000000 DIV n_cand AS BIGINT) AS precision_ppm",
            "CAST(n_hit * 1000000 DIV n_truth AS BIGINT) AS recall_ppm",
        )
    )


@register(
    "privacy_deletion_cascade",
    oracle="""
    WITH del AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
    ),
    ev AS (
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_purged
        FROM events
    ),
    cust AS (
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_purged
        FROM customer c LEFT JOIN del d ON c.c_custkey = d.user_id
    )
    SELECT 'events' AS tbl, n_rows, n_purged,
           CAST(n_purged * 1000000 // n_rows AS BIGINT) AS purged_ppm
    FROM ev
    UNION ALL
    SELECT 'customer', n_rows, n_purged,
           CAST(n_purged * 1000000 // n_rows AS BIGINT)
    FROM cust
    """,
    doc="X8+ deletion-cascade audit (the right-to-erasure workflow): "
    "given a deletion set (here the deterministic user_id % 97 == 0 "
    "cohort), report per table how many rows the purge touches and "
    "the remaining row counts — the pre-flight accounting a "
    "compliance pipeline runs before the destructive anti-join, and "
    "the post-flight proof afterwards. The deletion set drives a "
    "broadcast semi/anti join per table; counts are one aggregate "
    "each.",
    tags=("stats", "governance"),
)
def q_privacy_deletion_cascade(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    cust = tables.load(spark, sf_dir, "customer")
    del_set = (
        ev.filter(F.col("user_id") % 97 == 0)
        .select("user_id")
        .distinct()
    )
    ev_row = ev.agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("user_id") % 97 == 0).cast("long")).alias(
            "n_purged"
        ),
    ).selectExpr(
        "'events' AS tbl",
        "n_rows",
        "n_purged",
        "CAST(n_purged * 1000000 DIV n_rows AS BIGINT) AS purged_ppm",
    )
    cust_row = (
        cust.join(
            F.broadcast(del_set),
            cust.c_custkey == del_set.user_id,
            "left",
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("user_id").isNotNull().cast("long")).alias(
                "n_purged"
            ),
        )
        .selectExpr(
            "'customer' AS tbl",
            "n_rows",
            "n_purged",
            "CAST(n_purged * 1000000 DIV n_rows AS BIGINT) AS purged_ppm",
        )
    )
    return ev_row.unionAll(cust_row)


@register(
    "drift_topk_churn",
    oracle="""
    WITH spend AS (
        SELECT CASE WHEN day(ts) <= 15 THEN 'w1' ELSE 'w2' END AS period,
               user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY period, user_id
    ),
    ranked AS (
        SELECT period, user_id, cents,
               row_number() OVER (PARTITION BY period
                                  ORDER BY cents DESC, user_id) AS rnk
        FROM spend
    ),
    top AS (SELECT * FROM ranked WHERE rnk <= 10),
    j AS (
        SELECT COALESCE(a.user_id, b.user_id) AS user_id,
               a.rnk AS rnk_w1, b.rnk AS rnk_w2
        FROM (SELECT * FROM top WHERE period = 'w1') a
        FULL JOIN (SELECT * FROM top WHERE period = 'w2') b
          ON a.user_id = b.user_id
    )
    SELECT user_id,
           CAST(COALESCE(rnk_w1, 0) AS BIGINT) AS rnk_w1,
           CAST(COALESCE(rnk_w2, 0) AS BIGINT) AS rnk_w2,
           CASE WHEN rnk_w1 IS NULL THEN 'entrant'
                WHEN rnk_w2 IS NULL THEN 'dropout'
                ELSE 'stayed' END AS status
    FROM j
    """,
    doc="X8+ top-k churn report: the leaderboard diff every monitoring "
    "dashboard runs — top-10 spenders per half-month, full-outer "
    "joined into entrants / dropouts / stayers with both ranks "
    "(rank 0 = absent). Deterministic tie-break on (cents DESC, "
    "user_id); the churn join touches only the two k-row leaderboards.",
    tags=("stats", "drift"),
)
def q_drift_topk_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = tables.load(spark, sf_dir, "events")
    spend = (
        ev.select(
            F.when(F.dayofmonth("ts") <= 15, "w1")
            .otherwise("w2")
            .alias("period"),
            "user_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("period", "user_id")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    w = Window.partitionBy("period").orderBy(
        F.col("cents").desc(), F.col("user_id")
    )
    top = spend.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 10
    )
    a = top.filter("period = 'w1'").select(
        F.col("user_id").alias("u1"), F.col("rnk").alias("rnk_w1")
    )
    b = top.filter("period = 'w2'").select(
        F.col("user_id").alias("u2"), F.col("rnk").alias("rnk_w2")
    )
    j = a.join(b, a.u1 == b.u2, "full_outer")
    return j.select(
        F.coalesce("u1", "u2").alias("user_id"),
        F.coalesce("rnk_w1", F.lit(0)).cast("bigint").alias("rnk_w1"),
        F.coalesce("rnk_w2", F.lit(0)).cast("bigint").alias("rnk_w2"),
        F.when(F.col("rnk_w1").isNull(), "entrant")
        .when(F.col("rnk_w2").isNull(), "dropout")
        .otherwise("stayed")
        .alias("status"),
    )


@register(
    "sketch_hll_error_eval",
    oracle="""
    WITH h AS (
        SELECT l_returnflag AS grp,
               l_partkey,
               ('0x' || substr(md5('hll|' || CAST(l_partkey AS VARCHAR)), 1, 2))
                   ::UBIGINT::BIGINT AS register,
               61 - length(ltrim(bin(
                   ('0x' || substr(md5('hll|' || CAST(l_partkey AS VARCHAR)), 3, 15))
                       ::UBIGINT::BIGINT), '0')) AS rho
        FROM lineitem
    ),
    regs AS (
        SELECT grp, register, max(rho) AS max_rho FROM h GROUP BY 1, 2
    ),
    agg AS (
        SELECT grp,
               count(*) AS registers_used,
               sum(CAST(power(2.0, 48 - least(max_rho, 48)) AS BIGINT))
                   AS used_units
        FROM regs GROUP BY 1
    ),
    est AS (
        SELECT grp,
               CAST(floor(1.3249790702834051e+19
                          / CAST(used_units + (256 - registers_used)
                                 * 281474976710656 AS DOUBLE)
                          * 1000.0) AS BIGINT) AS est_milli
        FROM agg
    ),
    exact AS (
        SELECT grp, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact
        FROM h GROUP BY grp
    )
    SELECT e.grp AS grp, n_exact, est_milli,
           CAST(abs(est_milli - n_exact * 1000) * 1000
                // (n_exact * 1000) AS BIGINT) AS abs_err_milli
    FROM est e JOIN exact USING (grp)
    """,
    doc="X8+ sketch-accuracy evaluation AS a query: the HLL estimate "
    "joined to the exact distinct count per group, with the relative "
    "error in integer milli units — the honesty check a sketch rollout "
    "ships with (m=256 promises ~6.5% standard error; this query IS "
    "the evidence, re-runnable on any slice). The exact side is the "
    "expensive pass the sketch replaces — run at validation scale, "
    "trusted beyond it.",
    tags=("sketch", "ml-eval"),
)
def q_sketch_hll_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import sketches

    li = tables.load(spark, sf_dir, "lineitem")
    est = sketches.hll_distinct(li, "l_returnflag", "l_partkey").select(
        "grp", "est_milli"
    )
    exact = (
        li.groupBy(F.col("l_returnflag").alias("grp"))
        .agg(F.countDistinct("l_partkey").cast("bigint").alias("n_exact"))
    )
    return est.join(exact, "grp").selectExpr(
        "grp",
        "n_exact",
        "est_milli",
        "CAST(abs(est_milli - n_exact * 1000) * 1000 "
        "DIV (n_exact * 1000) AS BIGINT) AS abs_err_milli",
    )


@register(
    "drift_ks_by_segment",
    oracle="""
    WITH v AS (
        SELECT CASE WHEN user_id % 3 = 0 THEN 's0'
                    WHEN user_id % 3 = 1 THEN 's1'
                    ELSE 's2' END AS seg,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    c AS (SELECT seg, cents, sum(a) AS ca, sum(b) AS cb
          FROM v GROUP BY seg, cents),
    t AS (SELECT seg, CAST(sum(ca) AS BIGINT) AS n_a,
                 CAST(sum(cb) AS BIGINT) AS n_b FROM c GROUP BY seg),
    cum AS (
        SELECT c.seg, n_a, n_b,
               sum(ca * n_b - cb * n_a) OVER (PARTITION BY c.seg
                                              ORDER BY cents) AS cd
        FROM c JOIN t ON t.seg = c.seg
    )
    SELECT seg, any_value(n_a) AS n_a, any_value(n_b) AS n_b,
           CAST(max(abs(cd)) AS BIGINT) AS ks_num,
           CASE WHEN any_value(n_a) > 0 AND any_value(n_b) > 0 THEN
               CAST(max(abs(cd)) * 1000000
                    // (any_value(n_a) * any_value(n_b)) AS BIGINT)
           END AS ks_ppm
    FROM cum GROUP BY seg
    """,
    doc="X8+ per-segment exact KS in one pass — the drift gate sliced "
    "by cohort, where drift actually starts (a global KS stays flat "
    "while one source's distribution walks off). The keyed prefix sum "
    "is grouped_running_sum's contract: segments span partitions, no "
    "segment pins a task; per-segment totals join back broadcast; "
    "one-sided segments report NULL ks_ppm with counts intact.",
    tags=("stats", "drift"),
)
def q_drift_ks_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    ev = tables.load(spark, sf_dir, "events")
    v = ev.select(
        F.expr(
            "CASE WHEN user_id % 3 = 0 THEN 's0' "
            "WHEN user_id % 3 = 1 THEN 's1' ELSE 's2' END"
        ).alias("segment"),
        "event_type",
        "value",
    )
    return st.ks_two_sample_by_group(
        v, "segment", "event_type", "click", "purchase"
    )


@register(
    "annotation_agreement_kappa",
    oracle="""
    WITH r AS (
        SELECT CASE WHEN n_chars >= 500 THEN 'keep' ELSE 'drop' END AS a,
               CASE WHEN length(text) - length(replace(text, ' ', ''))
                         >= 79 THEN 'keep' ELSE 'drop' END AS b
        FROM documents
    ),
    cells AS (SELECT a, b, count(*) AS c FROM r GROUP BY a, b),
    ma AS (SELECT a, sum(c) AS na FROM cells GROUP BY a),
    mb AS (SELECT b, sum(c) AS nb FROM cells GROUP BY b),
    pe AS (
        SELECT coalesce(sum(CAST(na AS DECIMAL(38,0)) * nb),
                        CAST(0 AS DECIMAL(38,0))) AS pe_num
        FROM ma JOIN mb ON ma.a = mb.b
    ),
    t AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
                   AS agree
        FROM cells
    )
    SELECT n, agree,
           CAST(agree * 1000000 // n AS BIGINT) AS po_ppm,
           CAST(CAST(n AS DECIMAL(38,0)) * agree - pe_num
                AS BIGINT) AS kappa_num,
           CAST(CAST(n AS DECIMAL(38,0)) * n - pe_num
                AS BIGINT) AS kappa_den
    FROM t CROSS JOIN pe
    """,
    doc="X8+ inter-annotator agreement (Cohen's kappa) between two "
    "heuristic quality raters over the same documents — length-based "
    "vs word-count-based keep/drop. High kappa means the second "
    "filter adds no information; near zero flags a noisy gate. Exact "
    "rational (kappa_num, kappa_den) export, confusion cells are the "
    "only shuffle (map-side combined, |A|x|B| rows).",
    tags=("stats", "quality"),
)
def q_annotation_agreement_kappa(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import stats as st

    docs = tables.load(spark, sf_dir, "documents")
    rated = docs.selectExpr(
        "CASE WHEN n_chars >= 500 THEN 'keep' ELSE 'drop' END AS rater_a",
        "CASE WHEN length(text) - length(replace(text, ' ', '')) >= 79 "
        "THEN 'keep' ELSE 'drop' END AS rater_b",
    )
    return st.cohens_kappa(rated, "rater_a", "rater_b")


@register(
    "privacy_l_diversity",
    oracle="""
    WITH per_class AS (
        SELECT c_nationkey, c_mktsegment,
               count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                   AS n_sensitive,
               count(*) AS n_rows
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN n_sensitive < 8 THEN 1 ELSE 0 END)
                AS BIGINT) AS classes_below_l,
           CAST(sum(CASE WHEN n_sensitive < 8 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_below_l,
           CAST(min(n_sensitive) AS BIGINT) AS min_diversity
    FROM per_class
    """,
    doc="X8+ l-diversity audit (k-anonymity's sibling): every "
    "(nation, market segment) quasi-identifier class must span >= l "
    "distinct sensitive buckets (account balance in whole thousands) "
    "or class membership reveals the balance band — the homogeneity "
    "attack k-anonymity misses. Two bounded-key map-side-combined "
    "shuffles; summary is one row.",
    tags=("stats", "governance"),
)
def q_privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    cust = tables.load(spark, sf_dir, "customer").withColumn(
        "bal_k", F.expr("CAST(floor(c_acctbal / 1000) AS BIGINT)")
    )
    return st.l_diversity(
        cust, ["c_nationkey", "c_mktsegment"], "bal_k", l=8
    )


@register(
    "events_changepoint_cusum",
    oracle="""
    WITH s AS (
        SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
                   AS t,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS t_periods,
               CAST(sum(x) AS BIGINT) AS s_total
        FROM s
    ),
    c AS (
        SELECT t, t_periods, s_total,
               sum(t_periods * x - s_total)
                   OVER (ORDER BY t) AS c
        FROM s CROSS JOIN tot
    ),
    m AS (SELECT t, t_periods, s_total, abs(c) AS ac,
                 max(abs(c)) OVER () AS mx FROM c)
    SELECT any_value(t_periods) AS t_periods,
           any_value(s_total) AS s_total,
           min(CASE WHEN ac = mx THEN t END) AS changepoint_at,
           CAST(max(ac) AS BIGINT) AS cusum_max_scaled
    FROM m
    """,
    doc="X8+ CUSUM change-point locator on the hourly event-count "
    "series: the hour where the cumulative deviation from the global "
    "mean peaks (earliest on ties) plus the peak height — the "
    "single-shift estimate a volume monitor alarms on. All-integer "
    "(deviations scaled by T, no mean division); the prefix sum rides "
    "the two-phase grouped_running_sum, never an unpartitioned "
    "window.",
    tags=("stats", "events", "drift"),
)
def q_events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    ev = tables.load(spark, sf_dir, "events")
    series = ev.groupBy(
        F.expr(
            "CAST(to_unix_timestamp(date_trunc('HOUR', ts)) AS BIGINT)"
        ).alias("t")
    ).agg(F.count("*").cast("bigint").alias("x"))
    return st.cusum_changepoint(series, "t", "x")


@register(
    "embedding_outlier_scan",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(round(x * 1000000) AS BIGINT)) AS m
        FROM embeddings
    ),
    ex AS (
        SELECT vec_id, d, m[d] AS xm
        FROM (SELECT vec_id, m,
                     unnest(generate_series(1, len(m))) AS d
              FROM v)
    ),
    s AS (SELECT d, sum(xm) AS sx, count(*) AS n FROM ex GROUP BY d),
    sc AS (
        SELECT vec_id,
               sum(CAST((n * xm - sx) * (n * xm - sx) AS HUGEINT))
                   AS score
        FROM ex JOIN s USING (d)
        GROUP BY vec_id
    )
    SELECT vec_id, CAST(score AS DECIMAL(38,0)) AS score
    FROM sc ORDER BY score DESC, vec_id LIMIT 20
    """,
    doc="X3+ embedding outlier scan: top-20 vectors farthest from the "
    "corpus centroid by squared distance — the corrupt-row gate "
    "(all-zero vectors, encoder failures) before a similarity index "
    "is built. Integer-exact: micro-unit quantization, n-scaled "
    "deviations (no centroid division), decimal(38,0) accumulation; "
    "the only full shuffles are two d-bounded aggregations and the "
    "ranking is TakeOrdered, never a global sort.",
    tags=("similarity", "quality"),
)
def q_embedding_outlier_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    return sim.centered_norm_outliers(emb, top_n=20)


@register(
    "text_ngram_novelty",
    oracle="""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(ws) - 2),
                   i -> array_to_string(ws[i:i+2], ' ')))) AS shingle
        FROM (SELECT doc_id,
                     string_split_regex(lower(text), '\\s+') AS ws
              FROM documents)
        WHERE len(ws) >= 3
    ),
    dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS novelty_ppm
    FROM sh JOIN dfc USING (shingle)
    GROUP BY doc_id
    """,
    doc="X4+ per-document trigram novelty: the fraction of a doc's "
    "distinct word 3-grams appearing in no other document — the "
    "doc-level boilerplate/template signal (complement of the "
    "corpus-level boilerplate_ngrams). Inverted-index shape on the "
    "shared exploded_shingles base: df count + join back + per-doc "
    "agg, all map-side combined, nothing pairwise.",
    tags=("text", "quality"),
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    return ta.ngram_novelty(docs, n=3)


@register(
    "experiment_srm_check",
    oracle="""
    WITH assigned AS (
        SELECT DISTINCT
               CASE WHEN h < 5 THEN 'control'
                    WHEN h < 8 THEN 'variant_a'
                    ELSE 'variant_b' END AS arm,
               user_id
        FROM (
            SELECT user_id,
                   (('0x' || substr(md5('arm|' || CAST(user_id AS VARCHAR)),
                        1, 8))::UBIGINT % 10)::INTEGER AS h
            FROM events
        )
    ),
    obs AS (SELECT arm, CAST(count(*) AS BIGINT) AS o
            FROM assigned GROUP BY arm),
    design AS (
        SELECT * FROM (VALUES ('control', CAST(5 AS BIGINT)),
                              ('variant_a', CAST(3 AS BIGINT)),
                              ('variant_b', CAST(2 AS BIGINT))) d(arm, w)
    ),
    t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs)
    SELECT design.arm AS arm,
           CAST(coalesce(o, 0) AS BIGINT) AS n_units,
           CAST(w * 1000000 // 10 AS BIGINT) AS expected_ppm,
           CAST(coalesce(o, 0) * 1000000 // n AS BIGINT) AS observed_ppm,
           CAST(CAST(10 * coalesce(o, 0) - w * n AS HUGEINT)
                * CAST(10 * coalesce(o, 0) - w * n AS HUGEINT)
                * 1000000 // (10 * w * n) AS BIGINT) AS chi2_term_micro
    FROM design LEFT JOIN obs ON design.arm = obs.arm
    CROSS JOIN t
    """,
    doc="X8+ sample-ratio-mismatch audit: distinct users per md5-hashed "
    "experiment arm vs the 5/3/2 design split, with per-arm chi-squared "
    "contributions in exact integer micro-units — the validity gate "
    "read before ANY experiment metric. Distinct-units is two "
    "map-side-combined shuffles; design and totals join broadcast.",
    tags=("stats", "quality"),
)
def q_experiment_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    ev = tables.load(spark, sf_dir, "events")
    assigned = ev.selectExpr(
        "user_id",
        "CASE WHEN CAST(conv(substr(md5(concat('arm|', "
        "CAST(user_id AS STRING))), 1, 8), 16, 10) % 10 AS INT) < 5 "
        "THEN 'control' "
        "WHEN CAST(conv(substr(md5(concat('arm|', "
        "CAST(user_id AS STRING))), 1, 8), 16, 10) % 10 AS INT) < 8 "
        "THEN 'variant_a' ELSE 'variant_b' END AS arm",
    )
    return st.srm_check(
        assigned, "user_id", "arm",
        {"control": 5, "variant_a": 3, "variant_b": 2},
    )


@register(
    "dedup_lsh_bucket_histogram",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    mh AS (
        SELECT doc_id, s.i AS i,
               min(substring(md5((s.i // 4) || '|' || shingle),
                             1 + 8 * (s.i % 4), 8)) AS mh
        FROM shingles CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) s
        GROUP BY doc_id, s.i
    ),
    bands AS (
        SELECT doc_id, i // 2 AS band,
               md5(string_agg(mh, '|' ORDER BY i)) AS band_hash
        FROM mh GROUP BY doc_id, i // 2
    ),
    sizes AS (
        SELECT band, band_hash, CAST(count(*) AS BIGINT) AS bucket_size
        FROM bands GROUP BY band, band_hash
    )
    SELECT band, bucket_size, CAST(count(*) AS BIGINT) AS n_buckets
    FROM sizes GROUP BY band, bucket_size
    """,
    doc="X2+ LSH load diagnostic: per band, the bucket-size histogram "
    "of the MinHash(12)/2-row banding — the tail IS the mega-bucket "
    "mass (k-squared pair fan-out per size-k bucket), so this is how "
    "max_bucket gets tuned instead of guessed, and it never "
    "materializes pairs so it is safe exactly where the dedup job "
    "is not. Two bounded-key map-side-combined shuffles past the "
    "narrow signature pipeline.",
    tags=("dedup",),
)
def q_dedup_lsh_bucket_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    return dedup.lsh_bucket_histogram(
        corpus, num_hashes=12, rows_per_band=2, shingle_n=3
    )


@register(
    "text_doc_surprisal",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ),
    freq AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w),
    tot AS (
        SELECT CAST(round(ln(CAST(sum(c) AS BIGINT)) * 1000000) AS BIGINT)
                   AS ln_t
        FROM freq
    ),
    per AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CAST(round(ln(c) * 1000000) AS BIGINT)) AS BIGINT)
                   AS s
        FROM toks JOIN freq USING (w)
        GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(ln_t - s // n_tokens AS BIGINT) AS surprisal_micro
    FROM per CROSS JOIN tot
    """,
    doc="X4+ per-document mean token surprisal under the corpus's own "
    "unigram LM — the model-free perplexity proxy quality filters rank "
    "on (junk scores high: corpus-rare tokens; templates score low). "
    "Integer micro-nats end to end (ln of integer counts, exact sums, "
    "truncating division both engines agree on). Token-frequency "
    "'training' is one map-side-combined shuffle; the score join's hot "
    "keys are stopwords (split-join them at extreme skew).",
    tags=("text", "quality"),
)
def q_text_doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    return ta.unigram_doc_surprisal(docs)


@register(
    "feature_target_encoding_oof",
    oracle="""
    WITH s AS (
        SELECT o_orderpriority AS cat,
               (('0x' || substr(md5('cv|' || CAST(o_custkey AS VARCHAR)),
                    1, 8))::UBIGINT % 5)::INTEGER AS fold,
               CAST(round(o_totalprice * 100) AS BIGINT) AS t
        FROM orders
    ),
    cells AS (
        SELECT cat, fold, CAST(count(*) AS BIGINT) AS n_f,
               CAST(sum(t) AS BIGINT) AS s_f
        FROM s GROUP BY cat, fold
    ),
    tot AS (
        SELECT cat, CAST(sum(n_f) AS BIGINT) AS n_c,
               CAST(sum(s_f) AS BIGINT) AS s_c
        FROM cells GROUP BY cat
    )
    SELECT cat, fold,
           CAST(s_c - s_f AS BIGINT) AS enc_num,
           CAST(n_c - n_f AS BIGINT) AS enc_den,
           CASE WHEN n_c > n_f THEN
               CAST(sign(s_c - s_f) * (abs(s_c - s_f) * 1000000
                    // (n_c - n_f)) AS BIGINT) END AS enc_mean_ppm
    FROM cells JOIN tot USING (cat)
    """,
    doc="X8+ leakage-safe out-of-fold target encoding table: per "
    "(order priority, md5 customer fold), the mean target (total "
    "price, cents) over every OTHER fold as an exact rational + "
    "trunc-consistent ppm — the feature a serving join broadcasts "
    "back. One map-side-combined shuffle on (cat, fold); everything "
    "downstream is |cats|x|folds| metadata.",
    tags=("relational", "ml-eval"),
)
def q_feature_target_encoding_oof(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    s = orders.select(
        F.col("o_orderpriority").alias("cat"),
        F.expr(
            "CAST(conv(substr(md5(concat('cv|', CAST(o_custkey AS STRING))),"
            " 1, 8), 16, 10) % 5 AS INT)"
        ).alias("fold"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("t"),
    )
    return rel.oof_target_encoding(s, "cat", "fold", "t")


@register(
    "graph_degree_assortativity",
    oracle="""
    WITH bi AS (
        SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pair AS (
        SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_support
        FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
    ),
    tot AS (SELECT count(DISTINCT basket) AS n_baskets FROM bi),
    edges AS (
        SELECT item_a AS src, item_b AS dst
        FROM pair CROSS JOIN tot
        WHERE pair_support * 50 >= n_baskets
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT src AS node FROM edges
              UNION ALL SELECT dst FROM edges)
        GROUP BY node
    ),
    p AS (
        SELECT du.deg AS deg_u, dv.deg AS deg_v
        FROM edges JOIN deg du ON edges.src = du.node
                   JOIN deg dv ON edges.dst = dv.node
    )
    SELECT CAST(2 * count(*) AS BIGINT) AS n_ends,
           CAST(CAST(2 * count(*) AS DECIMAL(38,0))
                    * (2 * CAST(sum(deg_u * deg_v) AS DECIMAL(38,0)))
                - CAST(sum(deg_u + deg_v) AS DECIMAL(38,0))
                    * CAST(sum(deg_u + deg_v) AS DECIMAL(38,0))
                AS BIGINT) AS corr_num,
           CAST(CAST(2 * count(*) AS DECIMAL(38,0))
                    * CAST(sum(deg_u * deg_u + deg_v * deg_v)
                        AS DECIMAL(38,0))
                - CAST(sum(deg_u + deg_v) AS DECIMAL(38,0))
                    * CAST(sum(deg_u + deg_v) AS DECIMAL(38,0))
                AS BIGINT) AS var_x,
           CAST(CAST(2 * count(*) AS DECIMAL(38,0))
                    * CAST(sum(deg_u * deg_u + deg_v * deg_v)
                        AS DECIMAL(38,0))
                - CAST(sum(deg_u + deg_v) AS DECIMAL(38,0))
                    * CAST(sum(deg_u + deg_v) AS DECIMAL(38,0))
                AS BIGINT) AS var_y
    FROM p
    """,
    doc="X8+ degree assortativity of the brand co-purchase graph "
    "(Newman convention, both orientations per undirected edge): "
    "positive = hubs link hubs, negative = hub-and-spoke — the one "
    "number that says which topology the graph grew into and which "
    "skew strategy downstream joins need. Exact rational r export "
    "(corr_num / sqrt(var_x*var_y) left unevaluated in "
    "decimal(38,0)).",
    tags=("graph", "stats"),
)
def q_graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import graph as g
    from .operators import mining

    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    items = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == part.p_partkey,
    ).select("l_orderkey", "p_brand")
    b = mining.baskets(items, "l_orderkey", "p_brand")
    pair = mining.pair_supports(b)
    total = b.agg(F.count("*").alias("n_baskets"))
    edges = (
        pair.crossJoin(F.broadcast(total))
        .filter(F.col("pair_support") * 50 >= F.col("n_baskets"))
        .select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
        .transform(lineage_cut)
    )
    return g.degree_assortativity(edges)


@register(
    "events_acf_lags",
    oracle="""
    WITH daily AS (
        SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY d
    ),
    pairs AS (
        SELECT b.d - a.d AS lag, a.cents AS x, b.cents AS y
        FROM daily a JOIN daily b
          ON b.d > a.d AND b.d <= a.d + 7
    )
    SELECT lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(CAST(count(*) AS DECIMAL(38,0)) * CAST(sum(x * y)
                    AS DECIMAL(38,0))
                - CAST(sum(x) AS DECIMAL(38,0)) * CAST(sum(y)
                    AS DECIMAL(38,0)) AS BIGINT) AS corr_num,
           CAST(CAST(count(*) AS DECIMAL(38,0)) * CAST(sum(x * x)
                    AS DECIMAL(38,0))
                - CAST(sum(x) AS DECIMAL(38,0)) * CAST(sum(x)
                    AS DECIMAL(38,0)) AS BIGINT) AS var_x,
           CAST(CAST(count(*) AS DECIMAL(38,0)) * CAST(sum(y * y)
                    AS DECIMAL(38,0))
                - CAST(sum(y) AS DECIMAL(38,0)) * CAST(sum(y)
                    AS DECIMAL(38,0)) AS BIGINT) AS var_y
    FROM pairs GROUP BY lag
    """,
    doc="X5+ autocorrelation function of the daily revenue series, "
    "lags 1..7 in one band self-join of the metadata-sized day "
    "aggregate — the seasonality detector generalizing "
    "events_autocorr_lag1. Per-lag Pearson ships as exact rational "
    "sufficient statistics (decimal(38,0)); pair volume is |T|*7, "
    "never fact data.",
    tags=("events", "stats", "timeseries"),
)
def q_events_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev_ops

    ev = tables.load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')").alias("d")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("cents")
    )
    return ev_ops.acf_lags(daily, "d", "cents", max_lag=7)


@register(
    "feature_mi_ranking",
    oracle="""
    WITH base AS (
        SELECT 'linestatus' AS feature, CAST(l_linestatus AS VARCHAR) AS v,
               CAST(l_returnflag AS VARCHAR) AS t FROM lineitem
        UNION ALL
        SELECT 'ship_month', CAST(month(l_shipdate) AS VARCHAR),
               CAST(l_returnflag AS VARCHAR) FROM lineitem
        UNION ALL
        SELECT 'discount_pct',
               CAST(CAST(round(l_discount * 100) AS INTEGER) AS VARCHAR),
               CAST(l_returnflag AS VARCHAR) FROM lineitem
    ),
    cells AS (
        SELECT feature, v, t, count(*) AS cvt
        FROM base GROUP BY feature, v, t
    ),
    cvm AS (SELECT feature, v, sum(cvt) AS cv FROM cells
            GROUP BY feature, v),
    ctm AS (SELECT feature, t, sum(cvt) AS ct FROM cells
            GROUP BY feature, t),
    nm AS (SELECT feature, sum(cvt) AS n FROM cells GROUP BY feature)
    SELECT feature, CAST(any_value(n) AS BIGINT) AS n,
           CAST(sum(cvt * (CAST(round(ln(cvt) * 1000000) AS BIGINT)
                           + CAST(round(ln(n) * 1000000) AS BIGINT)
                           - CAST(round(ln(cv) * 1000000) AS BIGINT)
                           - CAST(round(ln(ct) * 1000000) AS BIGINT)))
                AS BIGINT) AS mi_sum_micro
    FROM cells
    JOIN cvm USING (feature, v)
    JOIN ctm USING (feature, t)
    JOIN nm USING (feature)
    GROUP BY feature
    """,
    doc="X8+ feature-selection sweep: MI(feature, return flag) for "
    "three candidate lineitem features (line status, ship month, "
    "discount percent) in ONE fact pass — the "
    "features unpivot via stack before the exchange, so one "
    "map-side-combined shuffle on (feature, value, target) serves "
    "all of them instead of k scans. Same exact micro-nat integer "
    "export as feature_mutual_information, one row per feature, "
    "rational (no quotient).",
    tags=("stats", "ml-eval"),
)
def q_feature_mi_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    li = tables.load(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag",
        "l_linestatus AS linestatus",
        "CAST(month(l_shipdate) AS STRING) AS ship_month",
        "CAST(CAST(round(l_discount * 100) AS INT) AS STRING)"
        " AS discount_pct",
    )
    return st.mutual_information_ranking(
        li, "l_returnflag", ["linestatus", "ship_month", "discount_pct"]
    )


@register(
    "record_linkage_blocked",
    oracle="""
    WITH noisy AS (
        SELECT DISTINCT
               CASE WHEN p_partkey % 2 = 0
                    THEN substring(p_name, 1, length(p_name) - 1)
                    ELSE p_name || 'x' END AS noisy_name
        FROM part WHERE p_partkey % 13 = 0
    ),
    names AS (SELECT DISTINCT p_name FROM part)
    SELECT noisy_name, p_name,
           levenshtein(noisy_name, p_name) AS dist
    FROM noisy JOIN names
      ON split_part(noisy_name, ' ', 1) = split_part(p_name, ' ', 1)
     AND abs(length(noisy_name) - length(p_name)) <= 2
     AND levenshtein(noisy_name, p_name) <= 2
    """,
    doc="X8+ fact-fact record linkage: noisy part names matched back "
    "to the catalog by first-token BLOCKING (hash equi-join), a "
    "length-gap prune, and Levenshtein <= 2 only inside surviving "
    "candidates — never a |L|x|R| nested loop. The recall bound "
    "(first-token typos escape the block) and the hot-block salt "
    "note are in the operator docstring.",
    tags=("relational", "dedup"),
)
def q_record_linkage_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = tables.load(spark, sf_dir, "part")
    noisy = part.filter(F.col("p_partkey") % 13 == 0).selectExpr(
        "CASE WHEN p_partkey % 2 = 0 "
        "THEN substring(p_name, 1, length(p_name) - 1) "
        "ELSE concat(p_name, 'x') END AS noisy_name"
    )
    return rel.blocked_levenshtein_join(
        noisy, part.select("p_name"), "noisy_name", "p_name", max_dist=2
    )


@register(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text),
                   '\\s+')) AS w
        FROM ({_CORPUS_SQL})
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
        FROM toks a JOIN toks b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(overlap AS BIGINT) AS overlap,
           round(overlap / (sa.sz + sb.sz - overlap), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE overlap * 20 >= 19 * (sa.sz + sb.sz - overlap)
    """,
    doc="X2+ exact token-set Jaccard pairs (>= 0.95) via PREFIX "
    "FILTERING: only the rarity-ordered first |x|-ceil(t|x|)+1 tokens "
    "enter the inverted index (the prefix theorem guarantees every "
    "qualifying pair still collides), then candidates verify exactly "
    "on full token arrays. The oracle recomputes the SAME answer with "
    "a plain full inverted-index join — agreement proves the "
    "blocking loses nothing. Deterministic-exact counterpart to "
    "MinHash-LSH for high thresholds. Oracle + output cap at sf0.1: "
    "the oracle's UNCOLLAPSED inverted-index join is quadratic in "
    "duplicate-class size (the sf1 replication makes every class 10x; "
    "DuckDB spilled to disk-full), and the true-pair output itself is "
    "~100x at sf1 - the engine's identical-set collapse handles both, "
    "and is proven by the sf0.01/sf0.1 differential plus the "
    "brute-force Hypothesis property.",
    tags=("dedup",),
    oracle_scale_cap=0.1,
)
def q_dedup_prefix_filter_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    return dedup.prefix_filter_jaccard_pairs(corpus, threshold=0.95)


@register(
    "text_vocab_coverage",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ),
    freq AS (
        SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY w
    ),
    ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM freq
    ),
    tot AS (SELECT CAST(sum(f) AS BIGINT) AS t_mass FROM freq),
    ks AS (SELECT unnest([10, 100, 1000]) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS covered_types,
           CAST(sum(f) AS BIGINT) AS covered_mass,
           CAST(sum(f) * 1000000 // t_mass AS BIGINT) AS mass_ppm
    FROM ranked CROSS JOIN ks CROSS JOIN tot
    WHERE r <= k
    GROUP BY k, t_mass
    """,
    doc="X4+ vocabulary coverage curve: share of token occurrences "
    "covered by the top-k types (k = 10/100/1000) — the vocab-size / "
    "tokenizer diagnostic. The global rank uses the zipf-slope trick "
    "(frequency-of-frequencies exclusive prefix + within-frequency "
    "row_number), never a window over the vocabulary.",
    tags=("text",),
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    return ta.vocab_coverage(docs, ks=(10, 100, 1000))


@register(
    "text_collocations_pmi",
    oracle="""
    WITH ws AS (
        SELECT string_split_regex(lower(text), '\\s+') AS ws
        FROM documents
    ),
    bigrams AS (
        SELECT ws[i] AS a, ws[i + 1] AS b, CAST(count(*) AS BIGINT) AS c_ab
        FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
              FROM ws WHERE len(ws) >= 2)
        GROUP BY 1, 2
        HAVING count(*) >= 5
    ),
    uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
              FROM documents)
        GROUP BY w
    ),
    nm AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               (SELECT CAST(sum(len(ws) - 1) AS BIGINT)
                FROM ws WHERE len(ws) >= 2) AS m
        FROM uni
    )
    SELECT a, b, c_ab, ua.c AS c_a, ub.c AS c_b,
           CAST(CAST(round(ln(c_ab) * 1000000) AS BIGINT)
                - CAST(round(ln(m) * 1000000) AS BIGINT)
                - CAST(round(ln(ua.c) * 1000000) AS BIGINT)
                - CAST(round(ln(ub.c) * 1000000) AS BIGINT)
                + 2 * CAST(round(ln(n) * 1000000) AS BIGINT)
                AS BIGINT) AS pmi_micro
    FROM bigrams
    JOIN uni ua ON ua.w = a
    JOIN uni ub ON ub.w = b
    CROSS JOIN nm
    ORDER BY pmi_micro DESC, a, b
    LIMIT 30
    """,
    doc="X4+ collocation mining: adjacent token pairs ranked by PMI "
    "in exact integer micro-nats (five bit-stable log terms; "
    "min_count 5 kills the hapax spike; deterministic tiebreak so "
    "both engines cut the same top-30). Two map-side-combined count "
    "shuffles + stopword-hot joins; ranking is TakeOrdered.",
    tags=("text",),
)
def q_text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    return ta.collocations_pmi(docs, min_count=5, top_n=30)


@register(
    "multimodal_audio_silence_gate",
    oracle="""
    WITH samp AS (
        SELECT c.c AS clip_id, i.i AS i,
               ((c.c * 17 + i.i * 13) % 2048) - 1024 AS s
        FROM (SELECT unnest(generate_series(0, 99)) AS c) c
        CROSS JOIN (SELECT unnest(generate_series(0, 1999)) AS i) i
    ),
    framed AS (
        SELECT clip_id, CAST(i // 256 AS INTEGER) AS frame_idx, s
        FROM samp WHERE i < 1792
    ),
    e AS (
        SELECT clip_id, frame_idx, sum(s * s) AS energy
        FROM framed GROUP BY clip_id, frame_idx
    )
    SELECT clip_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN energy < 89000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_silent,
           CAST(sum(CASE WHEN energy < 89000000 THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS silence_ppm
    FROM e GROUP BY clip_id
    """,
    doc="X7+ VAD-style audio silence gate: per clip, the share of "
    "256-sample frames whose integer energy falls below threshold — "
    "the speech-corpus dead-weight filter (an all-silent clip is "
    "usually a decode failure). Pure composition over the "
    "Arrow-batched framing pass + one map-side-combined "
    "groupBy(clip); the closed-form synthetic corpus re-derives "
    "every frame in SQL.",
    tags=("multimodal", "quality"),
)
def q_multimodal_audio_silence_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import multimodal as mm

    return mm.audio_silence_gate(mm.synth_audio(spark, n=100))


@register(
    "events_srm_streaming",
    oracle="""
    SELECT CASE WHEN h < 5 THEN 'control'
                WHEN h < 8 THEN 'variant_a'
                ELSE 'variant_b' END AS arm,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_units
    FROM (
        SELECT user_id,
               (('0x' || substr(md5('arm|' || CAST(user_id AS VARCHAR)),
                    1, 8))::UBIGINT % 10)::INTEGER AS h
        FROM events
    )
    GROUP BY 1
    """,
    doc="X6+ streaming SRM monitor: distinct experiment units per "
    "md5 arm maintained live (dropDuplicates state bounded by the "
    "watermark, design-sized complete-mode agg) — the "
    "assignment-health number watched WHILE an experiment runs "
    "instead of discovered at readout. Bounded replay equals the "
    "batch distinct-count exactly.",
    tags=("events", "streaming", "quality"),
)
def q_events_srm_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    return es.run_bounded(es.srm_monitor_stream(stream), mode="complete")


# ---------------------------------------------------------------------------
# Round 6 — deterministic sketch heavy hitters, ranking, mining, graph
# core decomposition, lakehouse maintenance, distributed PCA.
# ---------------------------------------------------------------------------


@register(
    "sketch_spacesaving_heavy_hitters",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS key
        FROM documents
    ),
    t AS (SELECT key FROM tok WHERE key <> ''),
    n AS (SELECT count(*) AS n_total FROM t)
    SELECT key, count(*) AS cnt, n.n_total
    FROM t CROSS JOIN n
    GROUP BY key, n.n_total
    HAVING count(*) * 40 > n.n_total
    """,
    doc="Exact phi=1/40 heavy-hitter vocabulary terms via two-pass "
    "Misra-Gries/space-saving: per-partition MG summaries (O(k) state "
    "per partition, mapInPandas) yield a DETERMINISTIC candidate "
    "superset of every term with count*k > n; a broadcast-semi-join "
    "recount restricted to candidates gives exact counts, so the "
    "output equals plain GROUP BY ... HAVING cnt*k > n without ever "
    "shuffling the full term domain. The 100 TB shape for frequent-"
    "vocabulary mining where the dictionary itself is shuffle-hostile.",
    tags=("sketch", "text"),
)
def q_sketch_spacesaving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import sketches

    docs = tables.load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return sketches.spacesaving_heavy_hitters(toks, "tok", k=40)


@register(
    "text_bm25_ranking",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '\\s+')) AS term
        FROM documents
    ),
    t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
    st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
    q AS (
        SELECT term,
               round(ln(1.0 + (st.n_docs - df + 0.5) / (df + 0.5)), 6)
                   AS idf,
               st.avgdl
        FROM df CROSS JOIN st
        ORDER BY df DESC, term LIMIT 3
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
    s AS (
        SELECT tf.doc_id,
               round(q.idf * (tf.tf * (1.2 + 1.0))
                     / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / q.avgdl)),
                     6) AS term_score
        FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
    ),
    sc AS (
        SELECT doc_id, round(sum(term_score), 6) AS bm25
        FROM s GROUP BY 1
    )
    SELECT doc_id, bm25 FROM sc ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
    doc="X4 Okapi BM25 (k1=1.2, b=0.75) top-20 documents for the "
    "3 highest-df corpus terms: inverted-index tf/df aggregations, a "
    "broadcast 3-row query-term table with Robertson idf, one "
    "groupBy(doc) score sum, TakeOrderedAndProject global top-k — the "
    "lexical-retrieval scorer (and the sparse half of hybrid search) "
    "with zero full-vocabulary shuffles past the df agg.",
    tags=("text",),
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    return ta.bm25_rank(docs)


@register(
    "text_readability_flesch",
    oracle="""
    WITH base AS (
        SELECT doc_id, lower(text) AS lt FROM documents
    ),
    words AS (
        SELECT doc_id, lt,
               list_filter(string_split_regex(lt, '\\s+'),
                           w -> w <> '') AS ws
        FROM base
    ),
    cnt AS (
        SELECT doc_id,
               greatest(len(regexp_extract_all(lt, '[.!?]+')), 1)
                   AS n_sentences,
               greatest(len(ws), 1) AS n_words,
               list_sum(list_transform(ws,
                   w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')),
                                 1)))::BIGINT AS n_syllables
        FROM words
    )
    SELECT doc_id, n_sentences, n_words, n_syllables,
           round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
               AS flesch
    FROM cnt
    """,
    doc="X4 Flesch reading-ease quality score per document from three "
    "exact integer counts (sentence runs, whitespace words, vowel-"
    "group syllables) — all regexp aggregations in whole-stage "
    "codegen, no UDF, no shuffle (embarrassingly parallel map). The "
    "deterministic readability gate of a corpus-filtering pass.",
    tags=("text", "quality"),
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    return ta.readability_scores(docs)


@register(
    "events_sequence_mining",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS n1,
               lead(event_type, 2) OVER w AS n2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pop AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
    seqs AS (
        SELECT DISTINCT user_id, event_type || '>' || n1 AS seq, 2 AS seq_len
        FROM ordered WHERE n1 IS NOT NULL
        UNION ALL
        SELECT DISTINCT user_id,
               event_type || '>' || n1 || '>' || n2 AS seq, 3 AS seq_len
        FROM ordered WHERE n2 IS NOT NULL
    ),
    sup AS (
        SELECT seq, seq_len, count(*) AS n_users_with
        FROM seqs GROUP BY 1, 2
    )
    SELECT seq, seq_len, n_users_with,
           CAST(floor(n_users_with * 1000000.0 / pop.n_users) AS BIGINT)
               AS support_ppm
    FROM sup CROSS JOIN pop
    WHERE floor(n_users_with * 1000000.0 / pop.n_users) >= 100000
    """,
    doc="X5 contiguous sequential-pattern mining (GSP/PrefixSpan "
    "bounded to length 2-3): lead() over the per-user (ts, event_id) "
    "window materializes every candidate window in ONE pass — no "
    "candidate-generation iteration — distinct-per-user support, "
    "ppm-thresholded. Two shuffles total (user window + map-side-"
    "combined sequence agg whose key domain is |event_type|^3).",
    tags=("events", "mining"),
)
def q_events_sequence_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev_ops

    ev = tables.load(spark, sf_dir, "events")
    return ev_ops.frequent_event_sequences(ev)


@register(
    "graph_kcore_decomposition",
    oracle="""
    WITH RECURSIVE m AS (
        SELECT 13 * (1 + max(user_id)) AS nb FROM events
    ),
    raw AS (
        SELECT user_id AS a,
               (('0x' || substr(md5('kc|' || CAST(event_id AS VARCHAR)),
                     1, 8))::UBIGINT % m.nb)::BIGINT AS b
        FROM events CROSS JOIN m
    ),
    pairs AS (SELECT DISTINCT a, b FROM raw WHERE a <> b),
    edges AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b, a FROM pairs
    ),
    surv(iter, v) AS (
        SELECT 0, src FROM (SELECT DISTINCT src FROM edges)
        UNION ALL
        SELECT s1.iter + 1, e.src
        FROM edges e
        JOIN surv s1 ON s1.v = e.src
        JOIN surv s2 ON s2.v = e.dst AND s2.iter = s1.iter
        WHERE s1.iter < 12
        GROUP BY s1.iter + 1, e.src
        HAVING count(*) >= 9
    )
    SELECT s1.v AS vertex, count(*) AS core_degree
    FROM edges e
    JOIN surv s1 ON s1.v = e.src AND s1.iter = 12
    JOIN surv s2 ON s2.v = e.dst AND s2.iter = 12
    GROUP BY s1.v
    """,
    doc="X8 9-core of a deterministic interaction graph (events hashed "
    "to partner ids, symmetrized, self-loops dropped) by synchronous "
    "peeling: 12 fixed rounds of degree-within-survivors recompute + "
    "threshold — past convergence (round 4 here) each round is the "
    "identity, so the fixed count IS the fixpoint and a recursive-CTE "
    "twin replays it exactly. Per round: two SEMI joins (AQE "
    "broadcasts the shrinking survivor side) + one groupBy; "
    "a lineage cut every round truncates the iterative lineage. "
    "Returns each core vertex with its within-core degree.",
    tags=("graph", "iterative"),
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import graph as g

    ev = tables.load(spark, sf_dir, "events")
    nb = ev.groupBy().agg(
        (F.lit(13) * (F.lit(1) + F.max("user_id"))).alias("nb")
    )
    raw = ev.join(F.broadcast(nb)).select(
        F.col("user_id").alias("a"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("kc|"), F.col("event_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % F.col("nb")
        ).alias("b"),
    )
    pairs = raw.where(F.col("a") != F.col("b")).distinct()
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    return g.kcore_vertices(edges, k=9, iterations=12)


@register(
    "lakehouse_compaction_plan",
    oracle="""
    WITH files AS (
        SELECT l_orderkey // 64 AS file_id,
               96 + sum(l_linenumber) AS size_bytes
        FROM lineitem GROUP BY 1
    ),
    binned AS (
        SELECT file_id, size_bytes,
               CAST(floor(
                   coalesce(sum(size_bytes) OVER (
                       ORDER BY size_bytes DESC, file_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / 4096.0) AS BIGINT) AS bin
        FROM files
    )
    SELECT bin, count(*) AS n_files, sum(size_bytes) AS total_bytes,
           min(file_id) AS min_file, max(file_id) AS max_file
    FROM binned GROUP BY bin
    """,
    doc="X8 lakehouse small-file compaction planning (the Delta "
    "OPTIMIZE / Iceberg rewrite_data_files planning step): a synthetic "
    "file inventory (one row per file — metadata-sized at any table "
    "size) is packed into target-sized rewrite groups by sorted-fill "
    "binning, ONE window cumsum, the distributable analogue of first-"
    "fit-decreasing. The unpartitioned window runs over the file "
    "inventory, never the data — the same metadata-window contract "
    "test_plans pins for histograms.",
    tags=("relational", "lakehouse"),
)
def q_lakehouse_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.floor(F.col("l_orderkey") / 64).cast("bigint").alias("file_id")
    ).agg((F.lit(96) + F.sum("l_linenumber")).alias("size_bytes"))
    return rel.compaction_plan(files, target_bytes=4096)


@register(
    "embedding_pca_power_iteration",
    oracle="""
    WITH RECURSIVE v0 AS (
        SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    x AS (SELECT e, unnest(generate_series(1, len(e))) AS i FROM v0),
    p AS (SELECT e, i, unnest(generate_series(i, len(e))) AS j FROM x),
    tri AS (
        SELECT i - 1 AS oi, j - 1 AS oj,
               round(covar_pop(e[i], e[j]), 6) + 0.0 AS val
        FROM p GROUP BY oi, oj
    ),
    covfull AS (
        SELECT oi AS i, oj AS j, val FROM tri
        UNION ALL
        SELECT oj, oi, val FROM tri WHERE oi <> oj
    ),
    d AS (SELECT count(DISTINCT i) AS d FROM covfull),
    pv(iter, i, v) AS (
        SELECT 0, i, round(1.0 / d.d, 9)
        FROM (SELECT DISTINCT i FROM covfull) CROSS JOIN d
        UNION ALL
        SELECT iter, i, round(u / sum(abs(u)) OVER (PARTITION BY iter), 9)
        FROM (
            SELECT t.iter + 1 AS iter, c.i AS i, sum(c.val * t.v) AS u
            FROM pv t JOIN covfull c ON c.j = t.i
            WHERE t.iter < 15
            GROUP BY 1, 2
        )
    ),
    fin AS (SELECT i, v FROM pv WHERE iter = 15),
    l2 AS (SELECT sqrt(sum(v * v)) AS nrm FROM fin),
    ray AS (
        SELECT sum(a.v * c.val * b.v) / (SELECT sum(v * v) FROM fin)
            AS eig
        FROM covfull c JOIN fin a ON a.i = c.i JOIN fin b ON b.i = c.j
    )
    SELECT f.i AS dim, round(f.v / l2.nrm, 6) + 0.0 AS loading,
           round(ray.eig, 6) + 0.0 AS eigval
    FROM fin f, l2, ray
    """,
    doc="X3 top principal component by power iteration: covariance via "
    "distributed per-partition Gram partials (one corpus pass, "
    "mapInPandas), then 15 driver-side v <- Cv/|Cv|_1 rounds on the "
    "metadata-sized d x d matrix — the MLlib computePrincipalComponents "
    "split. Rounding v to 9 decimals each round re-anchors every "
    "engine to the same grid, so a recursive-CTE twin replays the "
    "trajectory exactly; reported loading is L2-normalized, eigenvalue "
    "is the Rayleigh quotient.",
    tags=("similarity", "ml", "iterative"),
)
def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    return sim.pca_top_component(emb)


def _logreg_oracle_sql(steps: int = 3, lr_div: int = 16) -> str:
    """Unroll the fixed-point hard-sigmoid GD trajectory as K CTE
    rounds (gradient scalar-agg -> weight update), matching
    stats.logreg_gd_hard_sigmoid step for step. Pure integer
    arithmetic: DuckDB ``//`` and Spark ``DIV`` both truncate toward
    zero, BIGINT sums are associative, so the replay is bit-exact."""

    def p_expr(s: str) -> str:
        z = f"{s}.wb + {s}.w1 * x_qty + {s}.w2 * x_disc"
        return (
            "greatest(CAST(0 AS BIGINT), least(CAST(1000000 AS BIGINT), "
            f"CAST(500000 AS BIGINT) + ({z}) // 4))"
        )

    parts = [
        """f AS (
        SELECT CAST(l_quantity AS BIGINT) AS x_qty,
               CAST(round(l_discount * 100) AS BIGINT) AS x_disc,
               CASE WHEN l_returnflag = 'R'
                    THEN CAST(1000000 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS y
        FROM lineitem
    )""",
        """s0 AS (SELECT CAST(0 AS BIGINT) AS wb,
                   CAST(0 AS BIGINT) AS w1,
                   CAST(0 AS BIGINT) AS w2)""",
    ]
    for k in range(1, steps + 1):
        prev = f"s{k - 1}"
        parts.append(f"""g{k} AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(p - y) AS BIGINT) AS gb,
               CAST(sum((p - y) * x_qty) AS BIGINT) AS gq,
               CAST(sum((p - y) * x_disc) AS BIGINT) AS gd
        FROM (SELECT y, x_qty, x_disc, {p_expr(prev)} AS p
              FROM f CROSS JOIN {prev})
    )""")
        parts.append(f"""s{k} AS (
        SELECT {prev}.wb - g{k}.gb // g{k}.n // {lr_div} AS wb,
               {prev}.w1 - g{k}.gq // g{k}.n // {lr_div} AS w1,
               {prev}.w2 - g{k}.gd // g{k}.n // {lr_div} AS w2
        FROM {prev} CROSS JOIN g{k}
    )""")
    last = f"s{steps}"
    parts.append(f"""acc AS (
        SELECT CAST(sum(CASE WHEN (p >= 500000) = (y = 1000000)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        FROM (SELECT y, {p_expr(last)} AS p FROM f CROSS JOIN {last})
    )""")
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT g1.n AS n, {last}.wb AS w_bias, {last}.w1 AS w_x_qty,
           {last}.w2 AS w_x_disc, acc.n_correct AS n_correct
    FROM g1 CROSS JOIN {last} CROSS JOIN acc
    """
    )


@register(
    "model_logreg_gd_fixed_point",
    oracle=_logreg_oracle_sql(steps=3, lr_div=16),
    doc="X8+ distributed full-batch logistic regression (hard-sigmoid "
    "link, ppm fixed point): each GD step is ONE map-side-combined "
    "scalar aggregation (d+2 BIGINT sums -> a single shuffled row), "
    "the driver holds only the d+1 weights — the canonical Spark ML "
    "optimizer shape, exact in integers so the DuckDB twin (K "
    "unrolled CTE rounds) replays the trajectory bit-for-bit. "
    "Predicts l_returnflag='R' from quantity + discount; reports "
    "final weights and training accuracy.",
    tags=("ml", "iterative", "scale"),
)
def q_model_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    f = tables.load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS x_qty",
        "CAST(round(l_discount * 100) AS BIGINT) AS x_disc",
        "CASE WHEN l_returnflag = 'R' THEN CAST(1000000 AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS y",
    )
    return st.logreg_gd_hard_sigmoid(
        f, ["x_qty", "x_disc"], "y", steps=3, lr_div=16
    )


@register(
    "text_naive_bayes_lang",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents
    ),
    tr AS (SELECT * FROM toks WHERE doc_id % 5 < 4),
    te AS (SELECT * FROM toks WHERE doc_id % 5 >= 4),
    cnt AS (
        SELECT w, lang, CAST(count(*) AS BIGINT) AS cnt
        FROM tr GROUP BY 1, 2
    ),
    tokc AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS tok_c
        FROM tr GROUP BY 1
    ),
    docsc AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS docs_c
        FROM documents WHERE doc_id % 5 < 4 GROUP BY 1
    ),
    v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tr),
    tt AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k
        FROM te GROUP BY 1, 2
    ),
    dlen AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
        FROM te GROUP BY 1
    ),
    terms AS (
        SELECT tt.doc_id, c.lang,
               CAST(sum(tt.k * CAST(round(ln(coalesce(cnt.cnt, 0) + 1)
                   * 1000000) AS BIGINT)) AS BIGINT) AS s_term
        FROM tt
        CROSS JOIN tokc c
        LEFT JOIN cnt ON cnt.w = tt.w AND cnt.lang = c.lang
        GROUP BY 1, 2
    ),
    scores AS (
        SELECT t.doc_id, t.lang,
               CAST(round(ln(d.docs_c) * 1000000) AS BIGINT)
               - dl.n_tok * CAST(round(ln(tc.tok_c + v.v) * 1000000)
                                 AS BIGINT)
               + t.s_term AS score
        FROM terms t
        JOIN dlen dl ON dl.doc_id = t.doc_id
        JOIN tokc tc ON tc.lang = t.lang
        JOIN docsc d ON d.lang = t.lang
        CROSS JOIN v
    ),
    pred AS (
        SELECT doc_id, lang AS lang_pred,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang) AS rn
        FROM scores
    ),
    truth AS (
        SELECT doc_id, lang AS lang_true
        FROM documents WHERE doc_id % 5 >= 4
    )
    SELECT truth.lang_true, pred.lang_pred,
           CAST(count(*) AS BIGINT) AS n
    FROM pred JOIN truth USING (doc_id)
    WHERE rn = 1
    GROUP BY 1, 2
    """,
    doc="X4+ multinomial Naive Bayes language classifier, trained AND "
    "scored in one distributed DAG: the model is a (token, class) "
    "count TABLE (one map-side-combined shuffle), never a driver "
    "object — the fastText-style counts-based corpus router at "
    "unbounded vocabulary. Add-one smoothing, integer micro-nat log "
    "scores, deterministic argmax (score DESC, class ASC). 80/20 "
    "doc_id-hash split; output is the test-split confusion matrix.",
    tags=("text", "ml"),
)
def q_text_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    return ta.naive_bayes_lang_confusion(docs)


def _trunc_recall_oracle(dims: tuple[int, ...] = (8, 16)) -> str:
    """Per-dims CTE pairs reusing the proven brute-force cosine oracle
    shape, with ``list_slice`` truncation (= Spark ``slice``)."""
    blocks = []
    unions = []
    for d in dims:
        blocks.append(f"""t{d} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.neighbor_id,
                   round(list_dot_product(list_slice(q.qe, 1, {d}),
                                          list_slice(c.ce, 1, {d}))
                         / (sqrt(list_dot_product(list_slice(q.qe, 1, {d}),
                                                  list_slice(q.qe, 1, {d})))
                            * sqrt(list_dot_product(
                                  list_slice(c.ce, 1, {d}),
                                  list_slice(c.ce, 1, {d})))), 6) AS cosine
            FROM q CROSS JOIN c
            WHERE c.neighbor_id <> q.query_id
        ) s
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) <= 10
    )""")
        unions.append(f"""
    SELECT CAST({d} AS BIGINT) AS dims, b.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_hit,
           CAST(count(t.neighbor_id) * 1000000 // count(*) AS BIGINT)
               AS recall_ppm
    FROM brute b
    LEFT JOIN t{d} t
      ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
    GROUP BY b.query_id""")
    return (
        """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < 5
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings
    ),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.neighbor_id,
                   round(list_dot_product(q.qe, c.ce)
                         / (sqrt(list_dot_product(q.qe, q.qe))
                            * sqrt(list_dot_product(c.ce, c.ce))), 6)
                       AS cosine
            FROM q CROSS JOIN c
            WHERE c.neighbor_id <> q.query_id
        ) s
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) <= 10
    ),
    """
        + ",\n    ".join(blocks)
        + "\n"
        + "\n    UNION ALL\n".join(unions)
    )


@register(
    "similarity_truncated_dim_recall",
    oracle=_trunc_recall_oracle(dims=(8, 16)),
    doc="X3+ matryoshka-style truncation evaluation: recall@10 of "
    "exact cosine top-k computed on PREFIX-truncated embeddings (8 and "
    "16 dims) against the full-width ground truth — the dimensionality"
    "-vs-quality trade-off every embedding deployment measures before "
    "shipping a cheaper index. Reuses the exact top-k operator on "
    "sliced vectors (slice = list_slice, bit-identical float->double "
    "widening both engines); the eval join is output-sized (k rows "
    "per query per width).",
    tags=("similarity", "ml-eval"),
)
def q_similarity_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = sim.cosine_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    outs = []
    for d in (8, 16):
        te = emb.select(
            "vec_id", F.expr(f"slice(embedding, 1, {d})").alias("embedding")
        )
        tq = queries.select(
            "query_id",
            F.expr(f"slice(embedding, 1, {d})").alias("embedding"),
        )
        t = sim.cosine_topk(te, tq, k=10).select(
            F.col("query_id").alias("t_qid"),
            F.col("neighbor_id").alias("t_nid"),
        )
        j = brute.join(
            t,
            (F.col("t_qid") == F.col("query_id"))
            & (F.col("t_nid") == F.col("neighbor_id")),
            "left",
        )
        outs.append(
            j.groupBy("query_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("k"),
                F.count("t_nid").cast("bigint").alias("n_hit"),
                F.expr(
                    "CAST(count(t_nid) * 1000000 DIV count(1) AS BIGINT)"
                ).alias("recall_ppm"),
            ).select(
                F.lit(d).cast("bigint").alias("dims"),
                "query_id", "k", "n_hit", "recall_ppm",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "incremental_join_view_maintenance",
    oracle="""
    WITH a AS (
        SELECT o_orderkey AS k, o_orderpriority AS g,
               o_orderkey % 7 AS ha
        FROM orders
    ),
    b AS (
        SELECT l_orderkey AS k,
               CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) AS cents,
               l_linenumber % 3 AS hb
        FROM lineitem
    ),
    full_v AS (
        SELECT g, CAST(sum(cents) AS BIGINT) AS full_cents
        FROM a JOIN b USING (k) GROUP BY g
    ),
    old_v AS (
        SELECT g, CAST(sum(cents) AS BIGINT) AS c
        FROM a JOIN b USING (k) WHERE ha < 5 AND hb < 2 GROUP BY g
    ),
    d1 AS (
        SELECT g, CAST(sum(cents) AS BIGINT) AS c
        FROM a JOIN b USING (k) WHERE ha >= 5 AND hb < 2 GROUP BY g
    ),
    d2 AS (
        SELECT g, CAST(sum(cents) AS BIGINT) AS c
        FROM a JOIN b USING (k) WHERE ha < 5 AND hb >= 2 GROUP BY g
    ),
    d3 AS (
        SELECT g, CAST(sum(cents) AS BIGINT) AS c
        FROM a JOIN b USING (k) WHERE ha >= 5 AND hb >= 2 GROUP BY g
    ),
    incr AS (
        SELECT g, CAST(sum(c) AS BIGINT) AS incr_cents
        FROM (SELECT * FROM old_v UNION ALL SELECT * FROM d1
              UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3) u
        GROUP BY g
    )
    SELECT f.g AS o_orderpriority, f.full_cents, i.incr_cents,
           CAST(i.incr_cents - coalesce(o.c, 0) AS BIGINT) AS delta_cents,
           CAST(f.full_cents = i.incr_cents AS INTEGER) AS is_consistent
    FROM full_v f
    JOIN incr i ON i.g = f.g
    LEFT JOIN old_v o ON o.g = f.g
    """,
    doc="X8+ incremental view maintenance for a join-aggregate view "
    "(the lakehouse refresh pattern): with both join sides split into "
    "(old, delta), SUM over the join distributes over the disjoint "
    "cells, so the refreshed view = materialized old cell + three "
    "delta joins (dA><B_old, A_old><dB, dA><dB) — each shuffling only "
    "delta-sized inputs, never re-joining old><old. The query executes "
    "the delta plan AND the full recompute and proves them equal per "
    "group (is_consistent), with the deltas' contribution exported. "
    "At 100 TB the full recompute arm is exactly what IVM avoids; the "
    "old cell reads from the materialized view instead.",
    tags=("relational", "lakehouse", "scale"),
)
def q_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = tables.load(spark, sf_dir, "orders").selectExpr(
        "o_orderkey AS k", "o_orderpriority AS g",
        "pmod(o_orderkey, 7) AS ha",
    )
    b = tables.load(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey AS k",
        "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
        " AS cents",
        "pmod(l_linenumber, 3) AS hb",
    )

    def view(af, bf) -> DataFrame:
        return (
            a.filter(af).join(b.filter(bf), "k")
            .groupBy("g")
            .agg(F.sum("cents").cast("bigint").alias("c"))
        )

    ha, hb = F.col("ha"), F.col("hb")
    full = (
        a.join(b, "k").groupBy("g")
        .agg(F.sum("cents").cast("bigint").alias("full_cents"))
    )
    old = view(ha < 5, hb < 2)
    deltas = [view(ha >= 5, hb < 2), view(ha < 5, hb >= 2),
              view(ha >= 5, hb >= 2)]
    u = old
    for dv in deltas:
        u = u.unionByName(dv)
    incr = u.groupBy("g").agg(
        F.sum("c").cast("bigint").alias("incr_cents")
    )
    return (
        full.join(incr, "g")
        .join(old.withColumnRenamed("c", "old_c"), "g", "left")
        .select(
            F.col("g").alias("o_orderpriority"),
            "full_cents",
            "incr_cents",
            (F.col("incr_cents") - F.coalesce(F.col("old_c"), F.lit(0)))
            .cast("bigint")
            .alias("delta_cents"),
            (F.col("full_cents") == F.col("incr_cents"))
            .cast("int")
            .alias("is_consistent"),
        )
    )


@register(
    "model_pr_auc_exact",
    oracle="""
    WITH s AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS lab
        FROM orders
    ),
    g AS (
        SELECT score,
               CAST(sum(lab) AS BIGINT) AS pos,
               CAST(count(*) AS BIGINT) AS alln
        FROM s GROUP BY score
    ),
    c AS (
        SELECT pos,
               CAST(sum(pos) OVER (ORDER BY score DESC) AS BIGINT)
                   AS cum_pos,
               CAST(sum(alln) OVER (ORDER BY score DESC) AS BIGINT)
                   AS cum_all
        FROM g
    )
    SELECT CAST(sum(pos) AS BIGINT) AS npos,
           CAST((SELECT count(*) FROM s) AS BIGINT) AS n_total,
           CAST(sum(pos * ((1000000 * cum_pos) // cum_all)) AS BIGINT)
               AS ap_num,
           CAST(sum(pos * ((1000000 * cum_pos) // cum_all))
                // sum(pos) AS BIGINT) AS ap_ppm
    FROM c
    """,
    doc="EXACT tie-aware average precision (PR-AUC) — the ranking "
    "metric that matters when positives are rare and ROC AUC "
    "saturates: AP = mean over positives of precision at that "
    "positive's rank, tied blocks scored at block-end precision. "
    "Distinct-score aggregation (map-side combined), then ONE range "
    "exchange carries BOTH cumulative counts "
    "(relational.grouped_running_sums) — the oracle's unpartitioned "
    "OVER (ORDER BY score DESC) would pin 100 TB of distinct scores "
    "on one task. All-bigint floor arithmetic (every term "
    "non-negative, so DIV == //).",
    tags=("relational", "ml-eval"),
)
def q_model_pr_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    s = orders.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("lab"),
    )
    return rel.exact_average_precision(s, "score", "lab")


@register(
    "experiment_cuped_adjustment",
    oracle="""
    WITH v AS (
        SELECT user_id,
               CASE WHEN (('0x' || substr(md5('cuped|'
                        || CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT
                        % 2) = 0
                    THEN 'control' ELSE 'treatment' END AS arm,
               CASE WHEN datediff('day', DATE '1970-01-01',
                                  CAST(ts AS DATE)) % 2 = 0
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END AS pre_cents,
               CASE WHEN datediff('day', DATE '1970-01-01',
                                  CAST(ts AS DATE)) % 2 = 1
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END AS post_cents
        FROM events
    ),
    pu AS (
        SELECT user_id, arm,
               CAST(sum(pre_cents) AS BIGINT) AS x,
               CAST(sum(post_cents) AS BIGINT) AS y
        FROM v GROUP BY 1, 2
    ),
    g AS (
        SELECT CAST(count(*) AS HUGEINT) AS n_g,
               CAST(sum(x) AS HUGEINT) AS sx_g,
               CAST(sum(y) AS HUGEINT) AS sy_g,
               CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
                    AS HUGEINT) AS sxy_g,
               CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
                    AS HUGEINT) AS sxx_g
        FROM pu
    ),
    t AS (
        SELECT CAST(n_g AS BIGINT) AS n_g2,
               CAST(sx_g AS BIGINT) AS sx_g2,
               CAST((1000000 * (n_g * sxy_g - sx_g * sy_g))
                    // nullif(n_g * sxx_g - sx_g * sx_g, 0) AS BIGINT)
                   AS theta_ppm
        FROM g
    ),
    a AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(x) AS BIGINT) AS sum_x,
               CAST(sum(y) AS BIGINT) AS sum_y
        FROM pu GROUP BY arm
    )
    SELECT arm, n_units,
           sum_x AS sum_x_cents,
           sum_y AS sum_y_cents,
           theta_ppm,
           CAST((1000000 * sum_y) // n_units AS BIGINT) AS mean_y_micro,
           CAST((1000000 * sum_y) // n_units
                - (theta_ppm * ((1000000 * sum_x) // n_units
                                - (1000000 * sx_g2) // n_g2)) // 1000000
                AS BIGINT) AS adj_mean_micro
    FROM a CROSS JOIN t
    """,
    doc="X8+ CUPED variance-reduced experiment readout (Deng et al. "
    "WSDM'13): md5-bucketed 50/50 arms over event users, pre/post "
    "periods split on epoch-day parity, theta = cov(X,Y)/var(X) from "
    "exact decimal(38,0) sufficient statistics (mergeable — the "
    "moments are incremental-view-friendly), adjusted per-arm means "
    "in pure bigint fixed-point. Spark div and DuckDB // both "
    "truncate toward zero, so negative covariances stay "
    "bit-identical. One |units| shuffle; the global moment row "
    "broadcasts back to the 2-row arm table.",
    tags=("stats", "ml-eval"),
)
def q_experiment_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    ev = tables.load(spark, sf_dir, "events")
    day = "datediff(to_date(ts), DATE '1970-01-01')"
    v = ev.selectExpr(
        "user_id",
        "CASE WHEN CAST(conv(substr(md5(concat('cuped|', "
        "CAST(user_id AS STRING))), 1, 8), 16, 10) % 2 AS INT) = 0 "
        "THEN 'control' ELSE 'treatment' END AS arm",
        f"CASE WHEN pmod({day}, 2) = 0 "
        "THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS pre_cents",
        f"CASE WHEN pmod({day}, 2) = 1 "
        "THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS post_cents",
    )
    return st.cuped_adjusted_means(
        v, "user_id", "arm", "pre_cents", "post_cents"
    )


@register(
    "corpus_dsir_selection",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang = 'en' AS is_t,
               unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ),
    tb AS (
        SELECT doc_id, is_t,
               CAST(('0x' || substr(md5(w), 1, 4))::UBIGINT % 256
                    AS BIGINT) AS bkt
        FROM toks
    ),
    b AS (
        SELECT bkt, CAST(count(*) AS BIGINT) AS c_raw,
               CAST(count(*) FILTER (WHERE is_t) AS BIGINT) AS c_t
        FROM tb GROUP BY bkt
    ),
    tot AS (
        SELECT CAST(round(ln(sum(c_raw) + 256) * 1000000) AS BIGINT)
             - CAST(round(ln(sum(c_t) + 256) * 1000000) AS BIGINT)
               AS const_micro
        FROM b
    ),
    d AS (
        SELECT bkt,
               CAST(round(ln(c_t + 1) * 1000000) AS BIGINT)
             - CAST(round(ln(c_raw + 1) * 1000000) AS BIGINT) AS d_micro
        FROM b
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(d_micro) + count(*) * const_micro AS BIGINT)
               AS dsir_weight_micro
    FROM tb JOIN d USING (bkt) CROSS JOIN tot
    GROUP BY doc_id, const_micro
    """,
    doc="X4+ DSIR data selection (Xie et al. 2023, Data Selection via "
    "Importance Resampling): per-document hashed-unigram importance "
    "weight ln(p_target/p_raw) with the 'en' slice as the target "
    "domain, add-one smoothing over 256 md5 feature buckets, integer "
    "micro-nats end to end. Both n-gram distributions train in ONE "
    "map-side-combined pass (the target's counts are a conditional sum "
    "in the same aggregate); scoring joins a broadcast 256-row "
    "log-ratio dim. The canonical way to up-sample domain-matched "
    "pretraining data at 100 TB without a model in the loop.",
    tags=("text", "quality", "selection"),
)
def q_corpus_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    return ta.dsir_importance_weights(docs, target_pred="lang = 'en'")


@register(
    "join_skew_diagnosis",
    oracle="""
    WITH lc AS (
        SELECT l_partkey AS join_key, CAST(count(*) AS BIGINT) AS n_left
        FROM lineitem GROUP BY 1
    ),
    rc AS (
        SELECT l_partkey AS join_key, CAST(count(*) AS BIGINT) AS n_right
        FROM lineitem GROUP BY 1
    ),
    pk AS (
        SELECT join_key, n_left, n_right,
               CAST(n_left * n_right AS BIGINT) AS est_rows
        FROM lc JOIN rc USING (join_key)
    ),
    t AS (
        SELECT CAST(sum(est_rows) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_keys
        FROM pk
    )
    SELECT join_key, n_left, n_right, est_rows,
           CAST((1000000 * est_rows) // total AS BIGINT) AS share_ppm,
           CAST((est_rows * n_keys + total - 1) // total AS BIGINT)
               AS salt_factor
    FROM pk CROSS JOIN t
    ORDER BY est_rows DESC, join_key
    LIMIT 10
    """,
    doc="X8+ pre-flight join-skew audit: exact per-key output "
    "cardinality (n_left x n_right) for a planned self-join of "
    "lineitem on part key (the co-purchase pair explosion), each hot "
    "key's output share in ppm, and the salt factor a skew-aware "
    "repartition should use. Runs on the per-key COUNT tables, never "
    "the data tables - two map-side-combined aggregations plus a "
    "distinct-key-sized join, so the audit costs two scans at any "
    "data size. AQE splits oversized sort-merge inputs but not the "
    "pair explosion itself; this query is how you see it coming.",
    tags=("relational", "scale"),
)
def q_join_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import relational as rel

    li = tables.load(spark, sf_dir, "lineitem")
    return rel.join_skew_diagnosis(li, li, "l_partkey", "l_partkey")


@register(
    "model_conformal_calibration",
    oracle="""
    WITH base AS (
        SELECT event_type AS g,
               CAST(round(value * 100) AS BIGINT) AS v,
               event_id % 2 = 0 AS is_cal
        FROM events
    ),
    m AS (
        SELECT g, CAST((1000000 * sum(v)) // count(*) AS BIGINT)
                      AS mean_micro
        FROM base WHERE is_cal GROUP BY g
    ),
    r AS (
        SELECT is_cal, CAST(abs(v * 1000000 - mean_micro) AS BIGINT) AS r
        FROM base JOIN m USING (g)
    ),
    calr AS (
        SELECT r, row_number() OVER (ORDER BY r) AS rn,
               count(*) OVER () AS n
        FROM r WHERE is_cal
    ),
    q AS (
        SELECT CAST(n AS BIGINT) AS n_cal, CAST(r AS BIGINT) AS q_micro
        FROM calr
        WHERE rn = least((9 * (n + 1) + 9) // 10, n)
    )
    SELECT n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           q_micro,
           CAST((1000000 * sum(CASE WHEN r.r <= q_micro THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS coverage_ppm
    FROM r CROSS JOIN q
    WHERE NOT is_cal
    GROUP BY n_cal, q_micro
    """,
    doc="X8+ split conformal prediction (Lei et al. 2018): "
    "group-conditional mean model trained on the even-id calibration "
    "half of events, conformal half-width = ceil(0.9(n+1))-th smallest "
    "absolute residual via the histogram order-statistic (no global "
    "sort), empirical coverage of the +-q interval on the odd-id half "
    "in ppm. Integer micro-cents end to end; the rank index is pure "
    "integer arithmetic so both engines pick the identical residual.",
    tags=("stats", "ml-eval"),
)
def q_model_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    ev = tables.load(spark, sf_dir, "events")
    return st.split_conformal_interval(
        ev, "event_type", "value", "event_id % 2 = 0"
    )


@register(
    "stratified_neyman_allocation",
    oracle="""
    WITH per AS (
        SELECT c_nationkey AS stratum,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(round(sqrt(CAST(
                   count(*) * sum(CAST(CAST(round(c_acctbal * 100) AS BIGINT)
                                       AS HUGEINT)
                                  * CAST(round(c_acctbal * 100) AS BIGINT))
                   - sum(CAST(CAST(round(c_acctbal * 100) AS BIGINT)
                              AS HUGEINT))
                     * sum(CAST(CAST(round(c_acctbal * 100) AS BIGINT)
                                AS HUGEINT))
                   AS DOUBLE)) * 1000000) AS BIGINT) AS w_micro
        FROM customer
        GROUP BY c_nationkey
    ),
    t AS (SELECT sum(CAST(w_micro AS HUGEINT)) AS tw FROM per)
    SELECT stratum, n_rows, w_micro,
           CAST((1000000 * CAST(w_micro AS HUGEINT)) // tw AS BIGINT)
               AS alloc_ppm,
           CAST((1000 * CAST(w_micro AS HUGEINT)) // tw AS BIGINT)
               AS alloc_n
    FROM per CROSS JOIN t
    """,
    doc="X8+ Neyman-optimal stratified allocation (Neyman 1934): "
    "per-nation sampling budget proportional to N_h*sigma_h of "
    "customer balance, where N_h*sigma_h = sqrt(N*sum(x^2) - "
    "(sum(x))^2) collapses to one sqrt of an exact decimal(38,0) "
    "integer - no cross-row float sums; the cross-strata total is an "
    "integer sum of once-rounded micro-weights, so allocations are "
    "bit-stable. The profiling plan a sampled 100 TB pass computes "
    "before spending its budget.",
    tags=("stats", "sampling"),
)
def q_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    cust = tables.load(spark, sf_dir, "customer")
    return st.neyman_allocation(cust, "c_nationkey", "c_acctbal")


@register(
    "experiment_diff_in_diff",
    oracle="""
    WITH base AS (
        SELECT ('0x' || substr(md5('did|' || CAST(user_id AS VARCHAR)),
                    1, 8))::UBIGINT % 2 = 1 AS is_t,
               ts >= TIMESTAMP '2024-01-16 00:00:00' AS is_post,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events
    ),
    agg AS (
        SELECT
            CAST(count(*) FILTER (WHERE NOT is_t AND NOT is_post) AS BIGINT) AS n_c_pre,
            CAST(count(*) FILTER (WHERE NOT is_t AND is_post) AS BIGINT) AS n_c_post,
            CAST(count(*) FILTER (WHERE is_t AND NOT is_post) AS BIGINT) AS n_t_pre,
            CAST(count(*) FILTER (WHERE is_t AND is_post) AS BIGINT) AS n_t_post,
            CAST(coalesce(sum(v) FILTER (WHERE NOT is_t AND NOT is_post), 0) AS BIGINT) AS s_c_pre,
            CAST(coalesce(sum(v) FILTER (WHERE NOT is_t AND is_post), 0) AS BIGINT) AS s_c_post,
            CAST(coalesce(sum(v) FILTER (WHERE is_t AND NOT is_post), 0) AS BIGINT) AS s_t_pre,
            CAST(coalesce(sum(v) FILTER (WHERE is_t AND is_post), 0) AS BIGINT) AS s_t_post
        FROM base
    )
    SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
           CAST((1000000 * s_c_pre) // n_c_pre AS BIGINT) AS m_c_pre_micro,
           CAST((1000000 * s_c_post) // n_c_post AS BIGINT) AS m_c_post_micro,
           CAST((1000000 * s_t_pre) // n_t_pre AS BIGINT) AS m_t_pre_micro,
           CAST((1000000 * s_t_post) // n_t_post AS BIGINT) AS m_t_post_micro,
           CAST(((1000000 * s_t_post) // n_t_post - (1000000 * s_t_pre) // n_t_pre)
              - ((1000000 * s_c_post) // n_c_post - (1000000 * s_c_pre) // n_c_pre)
              AS BIGINT) AS did_micro
    FROM agg
    """,
    doc="X8+ difference-in-differences causal readout: md5-bucketed "
    "50/50 arms over event users, pre/post split at the rollout "
    "timestamp, DiD = (treat post-pre) - (control post-pre) from four "
    "conditional cent sums computed in ONE full-table 1-row aggregate "
    "- no groupBy, no join, one streaming pass at any scale. "
    "Truncating micro-cent division keeps both engines bit-identical.",
    tags=("stats", "ml-eval"),
)
def q_experiment_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    ev = tables.load(spark, sf_dir, "events")
    arm = (
        "CAST(conv(substr(md5(concat('did|', CAST(user_id AS STRING))), "
        "1, 8), 16, 10) AS BIGINT) % 2 = 1"
    )
    return st.diff_in_diff(
        ev, arm, "ts >= TIMESTAMP '2024-01-16 00:00:00'", "value"
    )


@register(
    "events_late_arrival_audit",
    oracle="""
    WITH arr AS (
        SELECT epoch_us(ts) AS tsu,
               CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
                   AS window_start,
               max(epoch_us(ts)) OVER (
                   ORDER BY date_trunc('day', ts), user_id, ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS hwm
        FROM events
    )
    SELECT window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN hwm > tsu THEN 1 ELSE 0 END) AS BIGINT)
               AS n_out_of_order,
           CAST(sum(CASE WHEN hwm - 600000000
                            > (window_start + 3600) * 1000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(max(hwm - tsu) // 1000000 AS BIGINT) AS max_lateness_sec
    FROM arr
    GROUP BY window_start
    """,
    doc="X5/X6 watermark lateness audit: replay events in a batched "
    "per-device upload order (day, user, ts) and report, per event-time "
    "hour, the rows that arrived behind the high-watermark and the rows "
    "a withWatermark('10 minutes') stream would have dropped (watermark "
    "past their window close at arrival). The global running max rides "
    "the two-phase range-partition prefix pattern - local running max "
    "per slice, slice maxima as a metadata-row broadcast - never a "
    "single-task global window. How you SIZE a production watermark "
    "from history instead of guessing.",
    tags=("events", "streaming", "scale"),
)
def q_events_late_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev_ops

    ev = tables.load(spark, sf_dir, "events").selectExpr(
        "*", "date_trunc('day', ts) AS arr_day"
    )
    return ev_ops.late_arrival_audit(
        ev,
        arrival_cols=["arr_day", "user_id", "ts", "event_id"],
        allowed_lateness_sec=600,
    )


@register(
    "dedup_tfidf_cosine_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_transform(
                   generate_series(1, len(ws) - 2),
                   i -> array_to_string(ws[i:i+2], ' '))) AS term
        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
              FROM ({_CORPUS_SQL}))
        WHERE len(ws) >= 3
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    dfq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    nd AS (
        SELECT CAST(round(ln(count(DISTINCT doc_id)) * 1000) AS BIGINT)
                   AS ln_n_milli
        FROM tf
    ),
    post AS (
        SELECT doc_id, term,
               CAST(tf * (ln_n_milli
                          - CAST(round(ln(df) * 1000) AS BIGINT))
                    AS BIGINT) AS w
        FROM tf JOIN dfq USING (term) CROSS JOIN nd
    ),
    posit AS (SELECT * FROM post WHERE w > 0),
    norm AS (
        SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2
        FROM posit GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               sum(CAST(a.w AS HUGEINT) * b.w) AS dot
        FROM posit a JOIN posit b
          ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(floor(1000000 * CAST(dot AS DOUBLE)
                / (sqrt(CAST(na.n2 AS DOUBLE))
                   * sqrt(CAST(nb.n2 AS DOUBLE)))) AS BIGINT)
               AS cosine_ppm
    FROM pairs
    JOIN norm na ON doc_a = na.doc_id
    JOIN norm nb ON doc_b = nb.doc_id
    WHERE 25 * dot * dot >= 16 * na.n2 * nb.n2
    """,
    doc="X2+ all-pairs TF-IDF cosine similarity join at t=0.8 over "
    "3-shingle terms of the planted corpus (Bayardo et al. WWW'07 "
    "prefix filter): integer milli-nat idf weights, exact decimal "
    "norms/dots, acceptance by integer cross-multiplication "
    "den^2*dot^2 >= num^2*n2a*n2b - floats touch only the conservative "
    "pruning bound and the display ppm. Docs index shingles in "
    "decreasing-maxweight order only while the suffix could still "
    "reach t, so the candidate join is bucket-local per indexed rare "
    "shingle instead of n^2 (shingling keeps the posting lists sparse "
    "- the unigram form of this corpus is degenerately dense and "
    "defeats ANY exact filter). The weighted near-dup sweep that "
    "Jaccard-on-sets underweights; finds every planted near-copy.",
    tags=("dedup", "text", "scale"),
)
def q_dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup as dd

    corpus = _planted_corpus(spark, sf_dir)
    return dd.tfidf_cosine_pairs(
        corpus, threshold_num=4, threshold_den=5, shingle_n=3
    )


@register(
    "lakehouse_file_skipping_stats",
    oracle="""
    WITH base AS (
        SELECT l_orderkey // 4096 AS f,
               datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                   AS d,
               datediff('day', DATE '1970-01-01',
                        date_trunc('month', CAST(l_shipdate AS DATE)))
                   AS m
        FROM lineitem
    ),
    zones AS (
        SELECT f, min(d) AS lo, max(d) AS hi,
               CAST(count(*) AS BIGINT) AS rws
        FROM base GROUP BY f
    ),
    months AS (
        SELECT m AS probe_month,
               CAST(count(*) AS BIGINT) AS rows_in_range,
               min(d) AS mstart, max(d) AS mend
        FROM base GROUP BY m
    ),
    nf AS (SELECT CAST(count(*) AS BIGINT) AS n_files FROM zones),
    sc AS (
        SELECT probe_month, rows_in_range,
               CAST(count(*) AS BIGINT) AS files_scanned,
               CAST(sum(rws) AS BIGINT) AS rows_scanned
        FROM months JOIN zones
          ON lo <= mend AND hi >= mstart
        GROUP BY probe_month, rows_in_range
    )
    SELECT probe_month, n_files, files_scanned,
           CAST((1000000 * (n_files - files_scanned)) // n_files AS BIGINT)
               AS file_skip_ppm,
           rows_in_range, rows_scanned,
           CAST((1000000 * rows_scanned) // rows_in_range AS BIGINT)
               AS read_amp_ppm
    FROM sc CROSS JOIN nf
    """,
    doc="X8+ zone-map pruning audit: per ship-month probe, the files an "
    "insertion-clustered layout (file = orderkey DIV 4096) must scan "
    "under min/max pruning, the skip ratio, and the read amplification "
    "vs rows actually in range. Both the zone map (per-file min/max/"
    "count) and the probe table are map-side-combined METADATA "
    "aggregations; the overlap join never touches data rows - the same "
    "math parquet row-group pruning runs on footers at 100 TB. "
    "Complements zorder_layout_stats (candidate layout) by measuring "
    "the incumbent's skipping power.",
    tags=("relational", "scale", "lakehouse"),
)
def q_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import relational as rel

    li = tables.load(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey DIV 4096 AS f",
        "datediff(to_date(l_shipdate), DATE '1970-01-01') AS d",
        "datediff(to_date(date_trunc('month', l_shipdate)), "
        "DATE '1970-01-01') AS m",
    )
    return rel.file_skipping_stats(li, "f", "d", "m")


@register(
    "events_slo_burn_rate",
    oracle="""
    WITH hourly AS (
        SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
                   AS window_start,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors
        FROM events
        GROUP BY 1
    ),
    rolled AS (
        SELECT window_start, n_events, n_errors,
               sum(n_events) OVER (
                   ORDER BY window_start
                   RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW
               ) AS n_slow,
               sum(n_errors) OVER (
                   ORDER BY window_start
                   RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW
               ) AS e_slow
        FROM hourly
    )
    SELECT window_start, n_events, n_errors,
           CAST((1000000 * n_errors) // n_events AS BIGINT) AS err_ppm,
           CAST((1000000000 * n_errors) // (n_events * 10000) AS BIGINT)
               AS burn_fast_milli,
           CAST((1000000000 * e_slow) // (n_slow * 10000) AS BIGINT)
               AS burn_slow_milli,
           (1000000000 * n_errors) // (n_events * 10000) >= 14400
               AND (1000000000 * e_slow) // (n_slow * 10000) >= 6000
               AS page
    FROM rolled
    """,
    doc="X5+ multi-window SLO error-budget burn rate (the Google SRE "
    "alerting recipe): hourly error rate as a multiple of a 1% SLO in "
    "exact integer milli-burn, a 6h CALENDAR (RANGE-frame) slow "
    "window, and the two-window page condition (fast >= 14.4x AND "
    "slow >= 6x) that kills flappy alerts. The rolling window runs "
    "over the bounded hourly rollup, never raw events; quiet hours "
    "carry zero budget consumption so skipping them matches the SRE "
    "recipe's wall-clock window exactly.",
    tags=("events", "scale"),
)
def q_events_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev_ops

    ev = tables.load(spark, sf_dir, "events")
    return ev_ops.slo_burn_rate(ev)


@register(
    "part_cooccurrence_similarity",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    pairs AS (
        SELECT a.p AS item_a, c.p AS item_b,
               CAST(count(*) AS BIGINT) AS co
        FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    np AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY p),
    nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS nbk FROM b)
    SELECT item_a, item_b, co, na.n AS n_a, nbp.n AS n_b,
           CAST(floor(1000000 * CAST(co AS DOUBLE)
                / (sqrt(CAST(na.n AS DOUBLE))
                   * sqrt(CAST(nbp.n AS DOUBLE)))) AS BIGINT)
               AS cosine_ppm,
           CAST((1000000 * CAST(co AS HUGEINT) * nbk)
                // (CAST(na.n AS HUGEINT) * nbp.n) AS BIGINT) AS lift_ppm
    FROM pairs
    JOIN np na ON item_a = na.p
    JOIN np nbp ON item_b = nbp.p
    CROSS JOIN nb
    """,
    doc="X8+ item-item collaborative similarity from order baskets: "
    "for part pairs co-purchased in >= 2 orders, binary-vector cosine "
    "co/sqrt(n_a*n_b) and exact-integer lift co*N/(n_a*n_b) in ppm - "
    "the 'bought X also bought Y' kernel / item-graph edge builder. "
    "The basket self-join is bucket-local per order and fans out "
    "|basket|^2/2 with TPC-H's <= 7-item baskets; unbounded carts get "
    "the same cap guard as MinHash mega-buckets (docstring).",
    tags=("mining", "relational"),
)
def q_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import mining

    li = tables.load(spark, sf_dir, "lineitem")
    return mining.cooccurrence_similarity(
        li, "l_orderkey", "l_partkey", min_co=2
    )


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH q AS (
        SELECT label, vec_id % 2 = 0 AS s1, d.i AS dim,
               CAST(round(CAST(embedding[d.i + 1] AS DOUBLE) * 1000000)
                    AS BIGINT) AS qv
        FROM embeddings,
             (SELECT unnest(generate_series(0, 63)) AS i) d
    ),
    per_dim AS (
        SELECT label, dim,
               CAST(sum(CASE WHEN s1 THEN qv ELSE 0 END) AS BIGINT) AS sa,
               CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN s1 THEN 0 ELSE qv END) AS BIGINT) AS sb,
               CAST(sum(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS nb
        FROM q GROUP BY label, dim
    )
    SELECT label,
           CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b,
           CAST(sum((CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na)
                    * (CAST(sa AS HUGEINT) * nb
                       - CAST(sb AS HUGEINT) * na))
                AS DECIMAL(38,0)) AS l2sq_num,
           CAST(floor(sqrt(CAST(sum(
                    (CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na)
                    * (CAST(sa AS HUGEINT) * nb
                       - CAST(sb AS HUGEINT) * na)) AS DOUBLE))
                / (CAST(max(na) AS DOUBLE) * max(nb))) AS BIGINT)
               AS l2_micro
    FROM per_dim
    WHERE na > 0 AND nb > 0
    GROUP BY label
    """,
    doc="X3+ per-label embedding-centroid drift between the even/odd "
    "vector halves: exact micro-quantized component sums, squared "
    "centroid distance with cleared denominators (s_a*n_b - s_b*n_a)^2 "
    "summed as decimal(38,0) - the embedding-space drift gate a "
    "retrieval index or classifier rollout checks alongside the scalar "
    "KS/PSI family. One posexplode + one map-side-combined shuffle of "
    "labels x dims x 2 accumulator rows.",
    tags=("similarity", "drift"),
)
def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = tables.load(spark, sf_dir, "embeddings")
    return sim.centroid_drift(emb, "vec_id % 2 = 0")


@register(
    "orders_survival_kaplan_meier",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               list_sort(list(datediff('day', DATE '1970-01-01',
                                       CAST(o_orderdate AS DATE)))) AS ds
        FROM orders GROUP BY o_custkey
    ),
    mx AS (
        SELECT max(datediff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE))) AS mxd
        FROM orders
    ),
    subj AS (
        SELECT CASE WHEN len(ds) >= 2 THEN ds[2] - ds[1]
                    ELSE mxd - ds[1] END AS t,
               CASE WHEN len(ds) >= 2 THEN 1 ELSE 0 END AS e
        FROM per_cust CROSS JOIN mx
    ),
    per_t AS (
        SELECT CAST(t AS BIGINT) AS t,
               CAST(sum(CASE WHEN e = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_events,
               CAST(sum(CASE WHEN e = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_censored
        FROM subj GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_events + n_censored) AS BIGINT) n FROM per_t),
    stepped AS (
        SELECT t, n_events, n_censored,
               n - coalesce(sum(n_events + n_censored) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n_risk
        FROM per_t CROSS JOIN tot
    ),
    termed AS (
        SELECT *,
               CASE WHEN n_events = 0 THEN 0
                    WHEN n_risk > n_events THEN
                        CAST(round(ln(n_risk - n_events) * 1000000)
                             AS BIGINT)
                        - CAST(round(ln(n_risk) * 1000000) AS BIGINT)
               END AS term
        FROM stepped
    ),
    rolled AS (
        SELECT t, n_risk, n_events, n_censored,
               max(CASE WHEN term IS NULL THEN 1 ELSE 0 END) OVER (
                   ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead,
               sum(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                   AS lnsum
        FROM termed
    )
    SELECT t, CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
           CAST(CASE WHEN dead = 0 THEN lnsum END AS BIGINT) AS s_lnmicro,
           CAST(CASE WHEN dead = 1 THEN 0 ELSE
                floor(1000000 * exp(CAST(lnsum AS DOUBLE) / 1000000)) END
                AS BIGINT) AS s_ppm
    FROM rolled
    """,
    doc="X8+ Kaplan-Meier survival curve for time-to-second-order, "
    "right-censored at the catalog's last order date - the honest "
    "churn/repeat-purchase readout when many subjects are still "
    "one-order customers. Integer-exact: per-duration death/censor "
    "counts, prefix-sum at-risk table over the BOUNDED distinct-"
    "duration rollup (the documented unpartitioned-window exception), "
    "ln S as summed once-rounded micro-nat integers; s_ppm is the "
    "display exp. Survival drops to exactly 0 when the last at-risk "
    "subject converts (NULL lnS from there, guarded in both engines).",
    tags=("stats", "relational"),
)
def q_orders_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    orders = tables.load(spark, sf_dir, "orders")
    days = "datediff(to_date(o_orderdate), DATE '1970-01-01')"
    per_cust = orders.selectExpr(
        "o_custkey", f"{days} AS d"
    ).groupBy("o_custkey").agg(
        F.expr("slice(sort_array(collect_list(d)), 1, 2)").alias("ds")
    )
    mx = orders.selectExpr(f"max({days}) AS mxd")
    subj = per_cust.crossJoin(F.broadcast(mx)).selectExpr(
        "CASE WHEN size(ds) >= 2 THEN ds[1] - ds[0] "
        "ELSE mxd - ds[0] END AS t",
        "CASE WHEN size(ds) >= 2 THEN 1 ELSE 0 END AS e",
    )
    return st.kaplan_meier(subj, "t", "e")


@register(
    "events_burstiness_fano",
    oracle="""
    WITH per_min AS (
        SELECT event_type,
               epoch(time_bucket(INTERVAL '1 minute', ts)) // 60 AS m,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT CAST(max(m) - min(m) + 1 AS BIGINT) AS sp FROM per_min
    )
    SELECT event_type,
           CAST(sum(c) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS active_minutes,
           sp AS span_minutes,
           CAST(((CAST(sp AS HUGEINT) * sum(c * c)
                  - CAST(sum(c) AS HUGEINT) * sum(c)) * 1000000)
                // (CAST(sp AS HUGEINT) * sum(c)) AS BIGINT)
               AS fano_ppm
    FROM per_min CROSS JOIN span
    GROUP BY event_type, sp
    """,
    doc="X5+ per-type burstiness as the exact-rational Fano factor of "
    "per-minute counts over the full minute span (empty minutes count, "
    "no dense table materialized): 1e6 = Poisson, above = bursty "
    "(retry storms, batch uploads), below = paced. One map-side "
    "combined (type, minute) count + per-type reduce + broadcast span.",
    tags=("events", "stats"),
)
def q_events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import events as ev_ops

    ev = tables.load(spark, sf_dir, "events")
    return ev_ops.burstiness_fano(ev)


@register(
    "graph_link_prediction_jaccard",
    oracle="""
    WITH strong AS (
        SELECT a.p AS u, c.p AS v
        FROM (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem) c
          ON a.o = c.o AND a.p < c.p
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    und AS (
        SELECT u AS nu, v AS nv FROM strong
        UNION
        SELECT v AS nu, u AS nv FROM strong
    ),
    deg AS (SELECT nu, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY nu),
    wedges AS (
        SELECT a.nu AS node_a, b.nv AS node_b,
               CAST(count(*) AS BIGINT) AS common_neighbors
        FROM und a JOIN und b ON a.nv = b.nu AND a.nu < b.nv
        GROUP BY 1, 2
        HAVING count(*) >= 2
    )
    SELECT node_a, node_b, common_neighbors,
           da.d AS deg_a, db.d AS deg_b,
           CAST((1000000 * common_neighbors)
                // (da.d + db.d - common_neighbors) AS BIGINT)
               AS jaccard_ppm
    FROM wedges
    JOIN deg da ON node_a = da.nu
    JOIN deg db ON node_b = db.nu
    WHERE NOT EXISTS (
        SELECT 1 FROM strong s
        WHERE s.u = node_a AND s.v = node_b
    )
    """,
    doc="X8+ neighbor-set Jaccard link prediction (Liben-Nowell & "
    "Kleinberg 2003) over the strong-tie co-purchase graph (part pairs "
    "co-ordered >= 2 times): non-edges sharing >= 2 neighbors, scored "
    "by exact-rational Jaccard ppm - the related-item backfill edge "
    "recommender. The wedge join's sum-deg^2 fan-out is tamed by the "
    "strong-tie weight floor (the same guard family as MinHash "
    "mega-buckets); existing edges leave via an anti-join.",
    tags=("graph", "mining"),
)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import graph as g

    li = tables.load(spark, sf_dir, "lineitem")
    b = li.selectExpr("l_orderkey AS o", "l_partkey AS p").distinct()
    strong = (
        b.selectExpr("o", "p AS u")
        .join(b.selectExpr("o", "p AS v"), "o")
        .filter("u < v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("_co"))
        .filter("_co >= 2")
        .select("u", "v")
    )
    return g.jaccard_link_prediction(strong, "u", "v")


@register(
    "text_rake_keyphrases",
    oracle="""
    WITH ws AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
        FROM documents
    ),
    toks AS (
        SELECT doc_id, u.i AS pos, a[u.i + 1] AS w,
               a[u.i + 1] IN ('a', 'the', 'and', 'of', 'in') AS stop
        FROM ws, unnest(generate_series(0, len(a) - 1)) AS u(i)
    ),
    runs AS (
        SELECT doc_id, pos, w,
               sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS UNBOUNDED PRECEDING) AS run
        FROM toks
        QUALIFY NOT stop AND w != ''
    ),
    phrases AS (
        SELECT doc_id, run,
               string_agg(w, ' ' ORDER BY pos) AS phrase,
               CAST(count(*) AS BIGINT) AS plen
        FROM runs GROUP BY doc_id, run
    ),
    members AS (
        SELECT r.w, p.plen, r.doc_id, r.run
        FROM runs r JOIN phrases p USING (doc_id, run)
    ),
    wscores AS (
        SELECT w, CAST((1000000 * sum(plen)) // count(*) AS BIGINT)
                      AS wscore
        FROM members GROUP BY w
    ),
    scored AS (
        SELECT m.doc_id, m.run, CAST(sum(wscore) AS BIGINT) AS score
        FROM members m JOIN wscores USING (w)
        GROUP BY m.doc_id, m.run
    )
    SELECT phrase,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(score) AS BIGINT) AS score_ppm
    FROM scored JOIN phrases USING (doc_id, run)
    GROUP BY phrase
    ORDER BY score_ppm DESC, phrase
    LIMIT 25
    """,
    doc="X4+ RAKE keyphrase extraction (Rose et al. 2010), exact-integer "
    "variant: candidate phrases are maximal stopword-free runs "
    "(per-doc prefix sum of the stopword flag), word score = "
    "degree/frequency truncated ONCE to ppm, phrase score = exact "
    "integer sum - ranking is bit-stable where canonical RAKE's "
    "rational sums float-reorder. Segmentation windows partition by "
    "doc; word stats are one map-side shuffle; global top-25 is a "
    "TakeOrdered.",
    tags=("text", "mining"),
)
def q_text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import textanalysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    return ta.rake_keyphrases(docs)


@register(
    "privacy_t_closeness",
    oracle="""
    WITH base AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
    ),
    bounds AS (SELECT min(v) AS mn, max(v) AS mx FROM base),
    bucketed AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(least(9, (v - mn) * 10 // (mx - mn + 1)) AS INTEGER)
                   AS b
        FROM base CROSS JOIN bounds
    ),
    per_cb AS (
        SELECT c_nationkey, c_mktsegment, b,
               CAST(count(*) AS BIGINT) AS ncb
        FROM bucketed GROUP BY 1, 2, 3
    ),
    per_b AS (
        SELECT b, CAST(count(*) AS BIGINT) AS nb FROM bucketed GROUP BY b
    ),
    tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n FROM per_b),
    per_c AS (
        SELECT c_nationkey, c_mktsegment, CAST(sum(ncb) AS BIGINT) AS nc
        FROM per_cb GROUP BY 1, 2
    ),
    dense AS (
        SELECT p.c_nationkey, p.c_mktsegment, p.nc,
               CAST(d.b AS INTEGER) AS b
        FROM per_c p
        CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS b) d
    ),
    cums AS (
        SELECT dn.c_nationkey, dn.c_mktsegment, dn.b, t.n, dn.nc,
               sum(COALESCE(pc.ncb, 0)) OVER (
                   PARTITION BY dn.c_nationkey, dn.c_mktsegment
                   ORDER BY dn.b ROWS UNBOUNDED PRECEDING) AS cum_cb,
               sum(COALESCE(pb.nb, 0)) OVER (
                   PARTITION BY dn.c_nationkey, dn.c_mktsegment
                   ORDER BY dn.b ROWS UNBOUNDED PRECEDING) AS cum_b
        FROM dense dn
        LEFT JOIN per_cb pc ON pc.c_nationkey = dn.c_nationkey
            AND pc.c_mktsegment = dn.c_mktsegment AND pc.b = dn.b
        LEFT JOIN per_b pb ON pb.b = dn.b
        CROSS JOIN tot t
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(max(nc) AS BIGINT) AS class_size,
           CAST(sum(abs(CAST(cum_cb AS HUGEINT) * n
                        - CAST(cum_b AS HUGEINT) * nc))
                AS BIGINT) AS emd_num,
           CAST(CAST(sum(abs(CAST(cum_cb AS HUGEINT) * n
                             - CAST(cum_b AS HUGEINT) * nc))
                     AS HUGEINT) * 1000000
                // (CAST(max(nc) AS HUGEINT) * max(n) * 9)
               AS BIGINT) AS t_ppm
    FROM cums
    WHERE b < 9
    GROUP BY c_nationkey, c_mktsegment
    """,
    doc="X8+ t-closeness (Li, Li & Venkatasubramanian ICDE'07), "
    "completing the k-anonymity / l-diversity privacy triad: per "
    "(nation, segment) equivalence class, exact-integer EMD between "
    "the class's balance histogram and the global one over 10 ordered "
    "equal-width buckets - sum |cum_class*N - cum_global*N_c| cross-"
    "multiplied, no float CDFs, t_ppm by truncating decimal division. "
    "One bucket pass + broadcast global histogram + per-class prefix "
    "sums over the bounded bucket domain.",
    tags=("stats", "privacy"),
)
def q_privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats as st

    cust = tables.load(spark, sf_dir, "customer")
    return st.t_closeness(
        cust, ["c_nationkey", "c_mktsegment"], "c_acctbal"
    )


@register(
    "multimodal_watermark_patches",
    oracle="""
    WITH imgs AS (SELECT unnest(generate_series(0, 199)) AS img_id),
    grid AS (
        SELECT pr.pr, pc.pc, sy.sy, sx.sx
        FROM (SELECT unnest(generate_series(0, 1)) AS pr) pr
        CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS pc) pc
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sy) sy
        CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS sx) sx
    ),
    samples AS (
        SELECT i.img_id, g.pr, g.pc, g.sy, g.sx,
               CASE WHEN i.img_id % 5 = 0 AND g.pr = 1 AND g.pc = 1
                    THEN (g.sy * 8 + (g.sx * 8) // 9) * 13 % 200
                    ELSE (i.img_id * 31
                          + ((g.pr * 8 + g.sy) * 16
                             + (g.pc * 8 + (g.sx * 8) // 9)) * 7) % 200
               END AS v
        FROM imgs i CROSS JOIN grid g
    ),
    bits AS (
        SELECT a.img_id, a.pr, a.pc, a.sy, a.sx,
               CASE WHEN a.v > b.v THEN '1' ELSE '0' END AS bit
        FROM samples a
        JOIN samples b
          ON a.img_id = b.img_id AND a.pr = b.pr AND a.pc = b.pc
             AND a.sy = b.sy AND b.sx = a.sx + 1
        WHERE a.sx < 8
    ),
    hashes AS (
        SELECT img_id, pr AS patch_row, pc AS patch_col,
               string_agg(bit, '' ORDER BY sy, sx) AS dhash
        FROM bits GROUP BY img_id, pr, pc
    )
    SELECT patch_row, patch_col, dhash,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(min(img_id) AS BIGINT) AS example_img
    FROM hashes
    GROUP BY patch_row, patch_col, dhash
    HAVING count(*) >= 10
    """,
    doc="X7+ watermark/logo detection: per-tile dHash keyed by grid "
    "position, grouped across the corpus - a patch hash repeating in "
    "many otherwise-distinct images at the same position is shared "
    "boilerplate imagery (the pixel analogue of a boilerplate n-gram). "
    "The corpus plants a fixed 8x8 logo into tile (1,1) of every 5th "
    "synthetic image; the query recovers exactly that tile with "
    "n_images = 40 while natural tiles stay below threshold. All "
    "pixels are closed-form, so DuckDB re-derives every hash bit; at "
    "100 TB the detection shuffle moves 64-char tile keys, never "
    "pixels.",
    tags=("multimodal", "dedup"),
)
def q_multimodal_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    imgs = mm.synth_images(spark, n=200, height=16, width=16, mod=200)
    marked = mm.plant_watermark(imgs, every=5)
    tiles = mm.tile_patches(marked, patch=8)
    hashes = mm.patch_dhash(tiles)
    return (
        hashes.groupBy("patch_row", "patch_col", "dhash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.min("img_id").cast("bigint").alias("example_img"),
        )
        .filter("n_images >= 10")
    )


_HITS_AUTH_SQL = """
        SELECT s AS node, CAST(sum(score) AS BIGINT) AS raw
        FROM pairs JOIN {hubs} ON c = {hubs}.node
        GROUP BY s
"""

_HITS_HUB_SQL = """
        SELECT c AS node, CAST(sum(score) AS BIGINT) AS raw
        FROM pairs JOIN {auth} ON s = {auth}.node
        GROUP BY c
"""

_HITS_NORM_SQL = """
        SELECT node,
               CAST((raw * 1000000) // max(raw) OVER () AS BIGINT) AS score
        FROM {raw}
"""


@register(
    "graph_hits_hubs_authorities",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
               's' || CAST(l_suppkey AS VARCHAR) AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    h0 AS (
        SELECT DISTINCT c AS node, CAST(1000000 AS BIGINT) AS score
        FROM pairs
    ),
    a1r AS ({_HITS_AUTH_SQL.format(hubs="h0")}),
    a1 AS ({_HITS_NORM_SQL.format(raw="a1r")}),
    h1r AS ({_HITS_HUB_SQL.format(auth="a1")}),
    h1 AS ({_HITS_NORM_SQL.format(raw="h1r")}),
    a2r AS ({_HITS_AUTH_SQL.format(hubs="h1")}),
    a2 AS ({_HITS_NORM_SQL.format(raw="a2r")}),
    h2r AS ({_HITS_HUB_SQL.format(auth="a2")}),
    h2 AS ({_HITS_NORM_SQL.format(raw="h2r")})
    SELECT 'hub' AS role, node, score AS score_micro FROM h2
    UNION ALL
    SELECT 'authority' AS role, node, score AS score_micro FROM a2
    """,
    doc="X8+ HITS hubs & authorities (Kleinberg 1999) over the "
    "customer-supplier bipartite trade graph, 2 iterations in exact "
    "integer micro-score fixed point: bigint sums, per-iteration "
    "rescale to max=1e6 by truncating division - bit-identical across "
    "engines where float HITS depends on summation order. The oracle "
    "unrolls the iterations as chained CTEs (the PageRank pattern). "
    "Two aggregate-joins per iteration + broadcast 1-row max.",
    tags=("graph",),
)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import graph as g

    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .selectExpr(
            "concat('c', CAST(o_custkey AS STRING)) AS c",
            "concat('s', CAST(l_suppkey AS STRING)) AS s",
        )
        .distinct()
    )
    return g.hits_scores(pairs, "c", "s", iters=2)


@register(
    "cohort_cumulative_ltv",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               min(date_trunc('month', CAST(o_orderdate AS DATE)))
                   AS cohort
        FROM orders GROUP BY o_custkey
    ),
    sized AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
        FROM firsts GROUP BY cohort
    ),
    rev AS (
        SELECT f.cohort,
               CAST((year(CAST(o.o_orderdate AS DATE)) - year(f.cohort))
                    * 12 + (month(CAST(o.o_orderdate AS DATE))
                            - month(f.cohort)) AS BIGINT) AS age_months,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2
    )
    SELECT CAST(epoch(cohort) AS BIGINT) AS cohort_month,
           age_months, cohort_size, rev_cents,
           CAST(sum(rev_cents) OVER (
               PARTITION BY cohort ORDER BY age_months
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents,
           CAST((1000000 * sum(rev_cents) OVER (
               PARTITION BY cohort ORDER BY age_months
               ROWS UNBOUNDED PRECEDING)) // cohort_size AS BIGINT)
               AS ltv_micro_per_customer
    FROM rev JOIN sized USING (cohort)
    """,
    doc="X8+ cohort lifetime-value curve: customers grouped by first-"
    "order month, exact cent revenue per (cohort, age-in-months), "
    "cumulative LTV per customer in truncating micro-cents. The "
    "running sum windows over the BOUNDED (cohort x age) rollup - "
    "months, not customers - after one map-side-combined revenue "
    "aggregation and a first-order join. The standard growth-"
    "accounting readout next to events_cohort_retention.",
    tags=("relational", "events"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = tables.load(spark, sf_dir, "orders")
    firsts = orders.selectExpr(
        "o_custkey", "date_trunc('month', to_date(o_orderdate)) AS _m"
    ).groupBy("o_custkey").agg(F.min("_m").alias("cohort"))
    sized = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    rev = (
        orders.join(firsts, "o_custkey")
        .selectExpr(
            "cohort",
            "CAST((year(to_date(o_orderdate)) - year(cohort)) * 12 "
            "+ (month(to_date(o_orderdate)) - month(cohort)) AS BIGINT) "
            "AS age_months",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS _cents",
        )
        .groupBy("cohort", "age_months")
        .agg(F.sum("_cents").cast("bigint").alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(sized, "cohort")
        .withColumn(
            "cum_rev_cents", F.sum("rev_cents").over(w).cast("bigint")
        )
        .selectExpr(
            "CAST(unix_seconds(cohort) AS BIGINT) AS cohort_month",
            "age_months",
            "cohort_size",
            "rev_cents",
            "cum_rev_cents",
            "CAST((1000000 * cum_rev_cents) DIV cohort_size AS BIGINT) "
            "AS ltv_micro_per_customer",
        )
    )


_MARKOV_STEP_SQL = """
        SELECT t.q AS event_type,
               CAST(sum(({pi}.pi * t.n_pq) // t.n_p) AS BIGINT) AS pi
        FROM t JOIN {pi} ON t.p = {pi}.event_type
        GROUP BY t.q
"""


@register(
    "events_markov_stationary",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    t0 AS (
        SELECT event_type AS p, next_type AS q,
               CAST(count(*) AS BIGINT) AS n_pq
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    t AS (
        SELECT p, q, n_pq,
               CAST(sum(n_pq) OVER (PARTITION BY p) AS BIGINT) AS n_p
        FROM t0
    ),
    pi0 AS (
        SELECT DISTINCT p AS event_type, CAST(1000000 AS BIGINT) AS pi
        FROM t
    ),
    pi1 AS ({_MARKOV_STEP_SQL.format(pi="pi0")}),
    pi2 AS ({_MARKOV_STEP_SQL.format(pi="pi1")}),
    pi3 AS ({_MARKOV_STEP_SQL.format(pi="pi2")}),
    pi4 AS ({_MARKOV_STEP_SQL.format(pi="pi3")})
    SELECT event_type, CAST(pi AS BIGINT) AS pi_micro FROM pi4
    """,
    doc="X5+ stationary distribution of the per-user event-type Markov "
    "chain: transition counts from lead() per user (ts, event_id "
    "order), then 4 unrolled power-iteration steps in exact integer "
    "micro-probability fixed point - each term (pi*n_pq) DIV n_p "
    "truncates identically in both engines, so the iterate is "
    "bit-stable (float power iteration depends on summation order). "
    "Where the chain's long-run mass settles - the demand forecast "
    "behind per-type capacity planning. The transition table is "
    "|types|^2 rows; every step is a broadcast-sized join.",
    tags=("events", "graph"),
)
def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t0 = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter("next_type IS NOT NULL")
        .groupBy(
            F.col("event_type").alias("p"),
            F.col("next_type").alias("q"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pq"))
    )
    t = t0.withColumn(
        "n_p",
        F.sum("n_pq").over(Window.partitionBy("p")).cast("bigint"),
    ).transform(lineage_cut)  # 4 iterations re-consume the matrix
    pi = t.select(F.col("p").alias("event_type")).distinct().withColumn(
        "pi", F.lit(1_000_000).cast("bigint")
    )
    for _ in range(4):
        pi = (
            t.join(pi, t.p == pi.event_type)
            .selectExpr("q", "CAST((pi * n_pq) DIV n_p AS BIGINT) AS _c")
            .groupBy(F.col("q").alias("event_type"))
            .agg(F.sum("_c").cast("bigint").alias("pi"))
        )
    return pi.selectExpr("event_type", "CAST(pi AS BIGINT) AS pi_micro")


@register(
    "events_slo_burn_streaming",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
               AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors,
           CAST((1000000 * sum(CASE WHEN event_type = 'error'
                                    THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS err_ppm,
           CAST((1000000000 * sum(CASE WHEN event_type = 'error'
                                       THEN 1 ELSE 0 END))
                // (count(*) * 10000) AS BIGINT) AS burn_fast_milli
    FROM events
    GROUP BY 1
    """,
    doc="X6+ live SLO error-budget burn: the fast-window milli-burn per "
    "tumbling event-time hour maintained in a streaming aggregate "
    "(state = hourly rows inside the watermark), the number the pager "
    "watches. The slow rolling window stays batch-side over the sink "
    "(a window over a streaming agg is a second stateful stage) - "
    "events_slo_burn_rate is that reader. Bounded replay hashes equal "
    "to the batch fast-window twin.",
    tags=("events", "streaming", "scale"),
)
def q_events_slo_burn_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    return es.run_bounded(es.slo_burn_stream(stream))


@register(
    "multimodal_jpeg_roundtrip",
    oracle="""
    WITH px AS (
        SELECT g.id AS img_id, (g.id * 37 + b.b * 11) % 256 AS v
        FROM (SELECT unnest(generate_series(0, 149)) AS id) g
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) b
    )
    SELECT img_id,
           CAST(sum(v) * 64 AS BIGINT) AS sum_px,
           round(sum(v) / 4.0, 6) AS mean_px,
           CAST(min(v) AS INTEGER) AS min_px,
           CAST(max(v) AS INTEGER) AS max_px
    FROM px GROUP BY img_id
    """,
    doc="O7+ JPEG Baseline transfer syntax executed for real: block-"
    "constant pixels -> JPEG-Baseline DICOM encode (encapsulated "
    "PixelData, 1.2.840.10008.1.2.4.50) -> decode -> stats, using the "
    "from-scratch ITU T.81 codec (functions/jpeg.py: Huffman entropy "
    "coding, Annex-K tables, numpy IDCT) inside Arrow batches. A "
    "constant 8x8 block carries only its DC coefficient, which the "
    "quantizer reconstructs to < 0.5 gray levels, so even the lossy "
    "codec roundtrips this corpus bit-exactly and the oracle is the "
    "closed-form block stats (64 px per block, 4 blocks per 16x16 "
    "image). Closes the compressed-DICOM gap: the reference reaches "
    "this input class through pydicom (generate_images_from_dicom.py"
    ":44-51); the engine now decodes it with zero optional deps.",
    tags=("multimodal", "codec"),
)
def q_multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    imgs = mm.synth_block_images(spark, n=150, height=16, width=16)
    return mm.pixel_stats(mm.jpeg_roundtrip(imgs))


@register(
    "multimodal_jpeg_lossless_roundtrip",
    oracle="""
    WITH px AS (
        SELECT g.id AS img_id, (g.id * 523 + i.i * 659) % 65536 AS v
        FROM (SELECT unnest(generate_series(0, 119)) AS id) g
        CROSS JOIN (SELECT unnest(generate_series(0, 99)) AS i) i
    )
    SELECT img_id,
           CAST(sum(v) AS BIGINT) AS sum_px,
           round(avg(v), 6) AS mean_px,
           CAST(min(v) AS INTEGER) AS min_px,
           CAST(max(v) AS INTEGER) AS max_px
    FROM px GROUP BY img_id
    """,
    doc="O7+ JPEG-Lossless SV1 transfer syntax (VERDICT r7 #3, the "
    "archival CR/DX syntax 1.2.840.10008.1.2.4.70): 16-bit pixels -> "
    "SOF3 predictive encode (T.81 process 14, predictor 1, "
    "functions/jpeg.py) in encapsulated PixelData -> decode -> stats. "
    "LOSSLESS, so the oracle is the closed-form pixel grid itself and "
    "the hash match asserts EXACT 16-bit recovery of an arbitrary "
    "(modulus-wrapping) corpus — strictly stronger than the baseline "
    "roundtrip's block-constant construction. The reference reaches "
    "this input class through pydicom (generate_images_from_dicom.py"
    ":44-51); the engine decodes it with zero optional deps.",
    tags=("multimodal", "codec"),
)
def q_multimodal_jpeg_lossless_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import multimodal as mm

    imgs = mm.synth_images16(spark, n=120, height=10, width=10)
    return mm.pixel_stats(mm.jpeg_lossless_roundtrip(imgs))


@register(
    "multimodal_jpegls_roundtrip",
    oracle="""
    WITH px AS (
        SELECT g.id AS img_id, (g.id * 523 + i.i * 659) % 65536 AS v
        FROM (SELECT unnest(generate_series(0, 99)) AS id) g
        CROSS JOIN (SELECT unnest(generate_series(0, 131)) AS i) i
    )
    SELECT img_id,
           CAST(sum(v) AS BIGINT) AS sum_px,
           round(avg(v), 6) AS mean_px,
           CAST(min(v) AS INTEGER) AS min_px,
           CAST(max(v) AS INTEGER) AS max_px
    FROM px GROUP BY img_id
    """,
    doc="O7+ JPEG-LS lossless transfer syntax (1.2.840.10008.1.2.4.80, "
    "ITU-T T.87 / LOCO-I — functions/jpegls.py, from scratch: MED "
    "prediction, 365-context adaptive Golomb, run mode, T.87 bit "
    "stuffing): 16-bit pixels -> JPEG-LS encode in encapsulated "
    "PixelData -> decode -> stats. LOSSLESS, so the oracle is the "
    "closed-form pixel grid itself and the hash match asserts EXACT "
    "16-bit recovery of a modulus-wrapping corpus. With jpeg.py this "
    "closes the whole compressed-DICOM family the reference reaches "
    "through pydicom (generate_images_from_dicom.py:44-51) except "
    "JPEG 2000; the 12x11 shape exercises run mode at line "
    "boundaries and the adaptive contexts across 100 images.",
    tags=("multimodal", "codec"),
)
def q_multimodal_jpegls_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import multimodal as mm

    imgs = mm.synth_images16(spark, n=100, height=12, width=11)
    return mm.pixel_stats(mm.jpegls_roundtrip(imgs))


@register(
    "multimodal_jpeg2000_roundtrip",
    oracle="""
    WITH px AS (
        SELECT g.id AS img_id, (g.id * 523 + i.i * 659) % 65536 AS v
        FROM (SELECT unnest(generate_series(0, 99)) AS id) g
        CROSS JOIN (SELECT unnest(generate_series(0, 125)) AS i) i
    )
    SELECT img_id,
           CAST(sum(v) AS BIGINT) AS sum_px,
           round(avg(v), 6) AS mean_px,
           CAST(min(v) AS INTEGER) AS min_px,
           CAST(max(v) AS INTEGER) AS max_px
    FROM px GROUP BY img_id
    """,
    doc="O7+ JPEG 2000 Lossless transfer syntax (1.2.840.10008.1.2.4.90, "
    "ISO 15444-1 — functions/jpeg2000.py, from scratch: reversible 5/3 "
    "lifting DWT, EBCOT Tier-1 with all three coding passes and 19 "
    "contexts, MQ arithmetic coder, tag-tree packet headers): 16-bit "
    "pixels -> J2K encode in encapsulated PixelData -> decode -> stats. "
    "LOSSLESS, so the oracle is the closed-form pixel grid itself and "
    "the hash match asserts EXACT 16-bit recovery of a modulus-wrapping "
    "corpus. Closes the whole compressed-DICOM family the reference "
    "reaches through pydicom (generate_images_from_dicom.py:44-51) "
    "except HTJ2K; the 9x14 shape at 2 decomposition levels exercises "
    "partial stripes, odd-length 5/3 boundaries and multi-band packets "
    "across 100 images.",
    tags=("multimodal", "codec"),
)
def q_multimodal_jpeg2000_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import multimodal as mm

    imgs = mm.synth_images16(spark, n=100, height=9, width=14)
    return mm.pixel_stats(mm.j2k_roundtrip(imgs))


@register(
    "multimodal_multiframe_roundtrip",
    oracle="""
    WITH px AS (
        SELECT g.id AS img_id, f.f AS frame_id,
               (g.id * 523 + f.f * 277 + i.i * 659) % 65536 AS v
        FROM (SELECT unnest(generate_series(0, 39)) AS id) g
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS f) f
        CROSS JOIN (SELECT unnest(generate_series(0, 62)) AS i) i
    )
    SELECT img_id, CAST(frame_id AS INTEGER) AS frame_id,
           CAST(sum(v) AS BIGINT) AS sum_px,
           CAST(min(v) AS INTEGER) AS min_px,
           CAST(max(v) AS INTEGER) AS max_px
    FROM px GROUP BY img_id, frame_id
    """,
    doc="O7+ multi-frame DICOM (the CT/MR series shape): 4-frame "
    "uint16 stacks -> ONE encapsulated multi-frame file per image "
    "(JPEG 2000 per-frame fragments + populated Basic Offset Table, "
    "NumberOfFrames IS element) -> decode_dicom_frames -> per-(img, "
    "frame) stats. LOSSLESS and closed-form, so the hash match pins "
    "exact per-frame recovery through the container bookkeeping "
    "(fragment split, BOT offsets) that single-frame roundtrips never "
    "exercise. The reference reaches multi-frame series through "
    "pydicom's (F,H,W) pixel_array (generate_images_from_dicom.py"
    ":48-51).",
    tags=("multimodal", "codec"),
)
def q_multimodal_multiframe_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import multimodal as mm

    return mm.multiframe_roundtrip_stats(
        spark, n=40, frames=4, height=9, width=7, syntax="j2k"
    )
