"""Checkpoint-resumable stage tables with per-file lineage + metrics.

The reference checkpoints a whole VoxelGrid as one MessagePack blob with
an atomic .tmp rename (S11, VoxelGrid/VoxelGrid.cs:347-366).  The engine
equivalent (north rule) is the Iceberg layout: data files, per-file
counts and bounds from their footers, and a manifest.  Each stage writes

- its output as a Parquet table holding one row per completed key, so
  the completed key set is a key-only (column-projected) read of the data
  files — consumed by Spark jobs only; at the 100 TB / ~10^9-tile target
  the key set alone is GBs, so it must never materialize on the driver
  (neither as a collect() nor as a JSON array),
- ``_lineage/``  one parquet file with one row per non-empty data file:
  its row count and key range, read from the file's parquet footer right
  after the write and written by the driver (no Spark job re-reads the
  data for them),
- ``_manifest.json``  lineage header only: stage name, input paths,
  parameter hash, aggregate counts (summed from the same footers) —
  O(1) regardless of scale,
- a _SUCCESS marker written last (atomic completion point).

Resume = Spark anti-join of the wanted keys against the data files' key
column — only missing tiles are recomputed, no driver-side key
materialization.  On a real cluster the same layout maps 1:1 onto an
Iceberg table + snapshot metadata; plain Parquet-plus-manifest keeps the
sandbox dependency-free.  (Subdirectories starting with ``_`` are
ignored by Spark's parquet scan of the stage path, so ``_lineage/`` never
pollutes the data read.)
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type
from pyspark.sql.types import StructType

log = logging.getLogger(__name__)

MANIFEST = "_manifest.json"
SUCCESS = "_SUCCESS_STAGE"
LINEAGE_DIR = "_lineage"


def _params_hash(params: dict) -> str:
    return hashlib.sha256(
        json.dumps(params, sort_keys=True).encode()
    ).hexdigest()[:16]


def write_stage(
    df: DataFrame,
    path: str,
    stage: str,
    inputs: list[str],
    params: dict | None = None,
    key: str = "cell_id",
) -> dict:
    """Write a stage table + ``_lineage/`` + manifest; returns the manifest.

    One Spark action, the data write.  Row counts and the ``_lineage/``
    rows come from the parquet footers of the files just written.  A
    stage table holds one row per ``key`` — tiles are grouped by cell id,
    and a resume computes only the keys that are absent — so its row
    count is also its completed-key count."""
    params = params or {}
    df.write.mode("overwrite").parquet(path)
    row_count, lin = _footer_lineage(path, sorted(_data_files(path)), key)
    _write_lineage(path, lin, df.schema[key].dataType)
    manifest = {
        "stage": stage,
        "inputs": inputs,
        "params": params,
        "params_hash": _params_hash(params),
        "written_at": time.time(),
        "row_count": row_count,
        "n_completed_keys": row_count,
        "n_partitions": len(lin),
        "lineage_table": LINEAGE_DIR,
        # Iceberg-style snapshot log: one entry per commit (initial write
        # or incremental resume append)
        "snapshots": [
            {"snapshot": 1, "written_at": time.time(), "rows": row_count,
             "n_keys": row_count}
        ],
    }
    _write_manifest(path, manifest)
    open(os.path.join(path, SUCCESS), "w").close()  # atomic completion (S11)
    return manifest


def _footer_lineage(path: str, files: list[str], key: str) -> tuple[int, list[tuple]]:
    """Total rows of ``files`` and one lineage row (pid, rows, min_key,
    max_key) per non-empty file, read from their parquet footers (the
    Iceberg manifest model: per-file counts and column bounds).  ``pid``
    is the file's position among the commit's non-empty files."""
    total, lin = 0, []
    for f in files:
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        if md.num_rows == 0:
            continue
        ci = [md.schema.column(i).name for i in range(md.num_columns)].index(key)
        lo = hi = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ci).statistics
            if st is None or not st.has_min_max:
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        total += md.num_rows
        lin.append((len(lin), md.num_rows, lo, hi))
    return total, lin


def _write_lineage(path: str, lin: list[tuple], key_type) -> None:
    """Add lineage rows to ``_lineage/``, which is always one parquet file
    written from the driver: the rows are O(data files), like an Iceberg
    manifest list, so no Spark job is needed.  The old file(s) are read
    and written back with ``lin`` appended under a new name, then
    deleted, so the table never fans out over many small files."""
    lin_dir = os.path.join(path, LINEAGE_DIR)
    old = sorted(_data_files(lin_dir))
    os.makedirs(lin_dir, exist_ok=True)
    pid, rows, lo, hi = zip(*lin) if lin else ((), (), (), ())
    kt = to_arrow_type(key_type)
    table = pa.table({
        "pid": pa.array(pid, pa.int32()),
        "rows": pa.array(rows, pa.int64()),
        "min_key": pa.array(lo, kt),
        "max_key": pa.array(hi, kt),
    })
    table = pa.concat_tables(
        [pq.read_table(os.path.join(lin_dir, f), schema=table.schema) for f in old]
        + [table]
    )
    pq.write_table(table, os.path.join(lin_dir, f"part-{uuid.uuid4().hex}.parquet"))
    for f in old:
        os.remove(os.path.join(lin_dir, f))


def _write_manifest(path: str, manifest: dict) -> None:
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, MANIFEST))


def load_manifest(path: str) -> dict | None:
    """Manifest if the checkpoint is complete, else None.

    A path that has data/manifest files but no ``_SUCCESS_STAGE`` marker
    is a TORN checkpoint (crash mid-write or mid-append): still returns
    None (all work recomputed — correct), but emits a distinguishable
    warning so a discarded 10^9-tile stage does not pass silently."""
    if not os.path.exists(os.path.join(path, SUCCESS)):
        if os.path.exists(os.path.join(path, MANIFEST)) or (
            os.path.isdir(path) and any(not e.startswith(".") for e in os.listdir(path))
        ):
            log.warning(
                "checkpoint invalidated: %s has data but no %s marker "
                "(torn write) — ALL completed work there will be recomputed",
                path, SUCCESS,
            )
        return None
    with open(os.path.join(path, MANIFEST)) as f:
        return json.load(f)


def _valid_manifest(path: str, params: dict | None) -> dict | None:
    """Manifest if the checkpoint is complete and, when ``params`` is
    given, was written with them; else None, after one warning that says
    why the checkpoint was invalidated."""
    m = load_manifest(path)
    if m is not None and params is not None and m["params_hash"] != _params_hash(params):
        log.warning(
            "checkpoint invalidated: %s was written with params_hash=%s, "
            "resume requested with params_hash=%s — ALL work will be recomputed",
            path, m["params_hash"], _params_hash(params),
        )
        return None
    return m


def completed_keys(spark: SparkSession, path: str, key: str = "cell_id") -> DataFrame:
    """The checkpoint's completed key set as a DataFrame (never collected):
    the ``key`` column of the data files.  Its schema comes from one
    file's footer, so no inference job runs, and the column projection
    reads only the key column chunks, never the tile bytes."""
    first = os.path.join(path, min(_data_files(path)))
    field = from_arrow_schema(pq.read_schema(first))[key]
    return spark.read.schema(StructType([field])).parquet(path)


def lineage(spark: SparkSession, path: str) -> DataFrame:
    """Per-file lineage metrics (pid, rows, min_key, max_key)."""
    return spark.read.parquet(os.path.join(path, LINEAGE_DIR))


def _pending(spark: SparkSession, wanted: DataFrame, path: str,
             m: dict | None, key: str) -> DataFrame:
    if m is None:
        return wanted
    return wanted.join(completed_keys(spark, path, key), key, "left_anti")


def pending_keys(
    spark: SparkSession, wanted: DataFrame, path: str, params: dict | None = None,
    key: str = "cell_id",
) -> DataFrame:
    """Resume support: which of ``wanted``'s keys still need computing?

    Anti-join against the data files' key column — a pure Spark plan, so
    a 10^9-key checkpoint resumes without the key set ever touching the
    driver.  A parameter-hash mismatch invalidates the checkpoint
    entirely (recompute all).
    """
    return _pending(spark, wanted, path, _valid_manifest(path, params), key)


def _data_files(path: str) -> set[str]:
    """Parquet data files directly under ``path`` (side tables and
    markers start with ``_`` and are excluded)."""
    if not os.path.isdir(path):
        return set()
    return {
        e for e in os.listdir(path)
        if not e.startswith(("_", ".")) and os.path.isfile(os.path.join(path, e))
    }


def resume_stage(
    spark: SparkSession,
    wanted: DataFrame,
    path: str,
    compute,
    stage: str,
    inputs: list[str],
    params: dict | None = None,
    key: str = "cell_id",
) -> DataFrame:
    """Compute-or-reuse: run ``compute(pending)`` only for missing keys.

    O(new-work) resume: the fresh rows are APPENDED to the stage table
    as new parquet files (plus their ``_lineage`` rows and a new
    manifest snapshot entry) — resuming a 10^9-tile stage with 1%
    pending keys writes ~1% of the bytes, never a full rewrite.  The
    commit protocol stays atomic-by-marker: the ``_SUCCESS_STAGE``
    marker is removed before mutation and re-created after the manifest
    lands, so a crash mid-append leaves a torn checkpoint that
    :func:`load_manifest` flags and the next resume recomputes.
    (On a real cluster this is exactly an Iceberg append snapshot.)
    """
    m = _valid_manifest(path, params)
    todo = _pending(spark, wanted, path, m, key)
    if m is not None and todo.isEmpty():
        return spark.read.parquet(path)
    fresh = compute(todo)
    # the stage table has fresh's schema: giving it saves an inference job
    table = spark.read.schema(fresh.schema)
    if m is None:
        # first write, or a torn or stale-params checkpoint whose rows
        # must not be kept (appending onto it would duplicate keys): full
        # stage write via the .next + atomic-rename protocol
        write_stage(fresh, path + ".next", stage, inputs, params, key)
        if os.path.exists(path):
            # marker first: a crash inside rmtree must leave a torn
            # checkpoint, never a manifest over missing data files
            marker = os.path.join(path, SUCCESS)
            if os.path.exists(marker):
                os.remove(marker)
            shutil.rmtree(path)
        os.rename(path + ".next", path)
        return table.parquet(path)

    # incremental append commit
    os.remove(os.path.join(path, SUCCESS))  # invalidate during mutation
    before = _data_files(path)
    fresh.write.mode("append").parquet(path)
    new_files = sorted(_data_files(path) - before)
    d_rows, lin = _footer_lineage(path, new_files, key)
    if not d_rows:
        # compute(todo) produced zero rows (valid: e.g. every pending key
        # filtered out upstream) — there is no delta to commit.  Restore
        # the marker instead of tearing the checkpoint on an
        # empty-but-valid append.
        open(os.path.join(path, SUCCESS), "w").close()
        return table.parquet(path)
    _write_lineage(path, lin, fresh.schema[key].dataType)
    snapshots = list(m.get("snapshots", []))
    snapshots.append(
        {"snapshot": len(snapshots) + 1, "written_at": time.time(),
         "rows": d_rows, "n_keys": d_rows, "files": new_files}
    )
    m.update(
        row_count=m["row_count"] + d_rows,
        n_completed_keys=m["n_completed_keys"] + d_rows,
        n_partitions=m["n_partitions"] + len(lin),
        written_at=time.time(),
        snapshots=snapshots,
    )
    _write_manifest(path, m)
    open(os.path.join(path, SUCCESS), "w").close()
    return table.parquet(path)
