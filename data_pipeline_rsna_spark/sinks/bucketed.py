"""Bucketed-table layout: the exchange-free co-located join (SCALING.md).

At 100 TB the single most expensive repeated cost in a star-schema
workload is re-shuffling the same fact table on the same join key for
every query. Spark's answer is storage bucketing: ``bucketBy(n, key)``
at write time hash-partitions rows into a fixed number of files per
partition and records the layout in the catalog, so every later join or
aggregation on that key reads the bucket files as already-clustered
input — the planner drops BOTH Exchange nodes of a sort-merge join and
the shuffle of a groupBy. One shuffle is paid once at layout time, then
amortized over every query that touches the key.

Rules the helpers below encode (and `tests/test_bucketing.py` pins):

- Both sides of a join must be bucketed INTO THE SAME BUCKET COUNT on
  the join key; mismatched counts re-shuffle the smaller side (Spark
  can coalesce 2x counts when ``bucketing.coalesceBucketsInJoin`` is
  on, but same-count is the predictable contract).
- ``sortBy`` the key too: bucket files arrive pre-sorted, so the
  sort-merge join also skips its Sort — the join becomes a pure
  streaming zip of bucket pairs.
- Bucket count is a layout-time commitment: size it so one bucket of
  the BIGGEST table a key joins against fits an executor core's
  working set (~128-256 MB compressed). 100 TB / 256 MB ≈ 400k would
  exceed sane file counts — in practice combine with date partitioning
  (``partitionBy(day) + bucketBy(1024, key)``) so the product stays
  bounded and time-range queries prune partitions first.

Cite: reference pipeline re-reads its inputs per stage
(generate_images_from_dicom.py's per-stage directory walks); bucketing
is the Spark-native answer to that re-read amplification.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed+sorted parquet table (managed, or
    external at ``path`` — the warehouse dir is a static conf, so tests
    and ad-hoc layouts pass an explicit location).

    The one-time shuffle this write pays (hash on ``key`` into
    ``n_buckets``) is exactly the shuffle every subsequent join on
    ``key`` no longer pays.

    The explicit ``repartition(n_buckets, key)`` below matters for the
    sort elision: Spark's bucket id and its hash-repartitioning use the
    same Murmur3+pmod formula, so after it each write task holds exactly
    one bucket and emits ONE file per bucket. Readers only trust (and
    reuse) the ``sortBy`` ordering when a bucket is a single file —
    multi-file buckets would need a merge, so the planner re-sorts."""
    df = df.repartition(n_buckets, key)
    w = (
        df.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, key).sortBy(key)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


_SPEC_FILE = "_BUCKET_SPEC.json"
# stale in-progress build dirs older than this are removed at ensure
# time (a crashed writer's leftovers)
_STALE_TMP_SECONDS = 24 * 3600
# live-reader grace for completed layouts: an over-cap layout younger
# than this is never pruned (it may be registered mid-read in another
# application's catalog). Deliberately separate from the crashed-build
# policy above — tuning tmp cleanup must not change reader safety.
_PRUNE_GRACE_SECONDS = 3600
# demo-lifecycle growth cap: keep this many layout dirs per layout
# root, oldest-deleted-first (each sf_dir hash contributes two)
_MAX_LAYOUT_DIRS = 16


def _read_spec(path: str) -> dict | None:
    try:
        with open(os.path.join(path, _SPEC_FILE)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _register_external_bucketed(
    spark: SparkSession, table: str, path: str, spec: dict
) -> None:
    """Register an EXISTING bucketed layout as an external table. The
    bucketing metadata lives in the catalog, not in the files, so a
    fresh session must re-declare CLUSTERED BY/SORTED BY to get the
    exchange-free join back — the files themselves (bucket-id-suffixed
    part files from a previous Spark bucketed write) are reused as-is."""
    sort_clause = (
        f"SORTED BY (`{spec['key']}`) " if spec.get("sorted") else ""
    )
    spark.sql(
        f"CREATE TABLE `{table}` ({spec['schema_ddl']}) USING PARQUET "
        f"CLUSTERED BY (`{spec['key']}`) {sort_clause}"
        f"INTO {int(spec['n_buckets'])} BUCKETS "
        f"LOCATION '{path}'"
    )


def _prune_layout_root(root: str) -> None:
    """Bound on-disk growth of a layout root: drop crashed writers'
    stale ``*.tmp-*`` build dirs and, beyond ``_MAX_LAYOUT_DIRS``,
    the oldest completed layouts. Local demo lifecycle only — a real
    deployment owns its warehouse retention."""
    try:
        entries = [
            os.path.join(root, d) for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))
        ]
    except OSError:
        return
    now = time.time()
    done = []
    for p in entries:
        try:
            if ".tmp-" in os.path.basename(p):
                if now - os.path.getmtime(p) > _STALE_TMP_SECONDS:
                    shutil.rmtree(p, ignore_errors=True)
            else:
                done.append((os.path.getmtime(p), p))
        except OSError:
            continue
    done.sort(reverse=True)
    for mtime, p in done[_MAX_LAYOUT_DIRS:]:
        # age grace: a layout touched recently may be registered (and
        # mid-read) in ANOTHER application's catalog, which this
        # process cannot inspect — never delete it out from under a
        # live reader. Same-session deletions are healed by tier-1's
        # on-disk re-validation in ensure_bucketed_layout.
        if now - mtime <= _PRUNE_GRACE_SECONDS:
            continue
        shutil.rmtree(p, ignore_errors=True)


def ensure_bucketed_layout(
    spark: SparkSession,
    table: str,
    key: str,
    n_buckets: int,
    path: str,
    df_fn,
) -> bool:
    """Idempotent, cross-session, concurrency-safe bucketed layout.
    Returns True when this call materialized the layout (paid the
    one-time shuffle), False when an existing layout was reused.

    Three-tier resolution:

    1. catalog already has ``table`` → reuse (same-session hit);
    2. a COMPLETE layout exists on disk at ``path`` (its
       ``_BUCKET_SPEC.json`` marker matches key/n_buckets) → register
       it as an external bucketed table, NO rewrite. Gating only on
       ``tableExists`` (session-catalog state) would make every fresh
       session re-pay the full layout write (17.5 s at sf10) and leak
       one more copy under the layout root;
    3. otherwise materialize via ``df_fn()`` into
       ``path + '.tmp-' + applicationId`` (the marker is written LAST,
       so a dir without it is an incomplete build), then atomically
       ``os.rename`` into place. Two concurrent applications gating
       the same path can both reach step 3; exactly one rename wins —
       the loser deletes its build and registers the winner's layout
       (both ``overwrite``-writing ``path`` directly would race
       overwrite-vs-read on live bucket files).
    """
    spec = _read_spec(path)
    wanted = {"key": key, "n_buckets": int(n_buckets)}
    on_disk_ok = bool(spec) and {k: spec.get(k) for k in wanted} == wanted
    if spark.catalog.tableExists(table):
        # re-validate against disk: the catalog entry is session state,
        # but the files can disappear under it (another application's
        # prune, manual cleanup). A registered table over a missing or
        # mismatched layout would fail at scan time with a
        # FileNotFound — drop it and fall through to rebuild instead.
        if on_disk_ok:
            return False
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    _prune_layout_root(os.path.dirname(path))
    if on_disk_ok:
        _register_external_bucketed(spark, table, path, spec)
        return False
    df = df_fn()
    app = re.sub(r"\W+", "_", spark.sparkContext.applicationId)
    tmp_path = f"{path}.tmp-{app}"
    tmp_table = f"{table}__build_{app}"
    shutil.rmtree(tmp_path, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS `{tmp_table}`")
    write_bucketed(df, tmp_table, key, n_buckets, path=tmp_path)
    spec = {
        "key": key,
        "n_buckets": int(n_buckets),
        "sorted": True,
        "schema_ddl": spark.table(tmp_table)._jdf.schema().toDDL(),
    }
    with open(os.path.join(tmp_path, _SPEC_FILE), "w") as f:
        json.dump(spec, f)
    # the build table served only to write the files; drop the catalog
    # entry (external → files stay) before the dir moves out from
    # under it
    spark.sql(f"DROP TABLE IF EXISTS `{tmp_table}`")
    try:
        os.rename(tmp_path, path)
        built = True
    except OSError:
        # a concurrent writer won the rename — use theirs if complete,
        # else clear the corrupt remnant and install ours
        existing = _read_spec(path)
        if existing and {k: existing.get(k) for k in wanted} == wanted:
            shutil.rmtree(tmp_path, ignore_errors=True)
            spec = existing
            built = False
        else:
            shutil.rmtree(path, ignore_errors=True)
            os.rename(tmp_path, path)
            built = True
    _register_external_bucketed(spark, table, path, spec)
    return built
