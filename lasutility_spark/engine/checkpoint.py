"""Checkpoint-resumable stage tables with per-file lineage + metrics.

The reference checkpoints a whole VoxelGrid as one MessagePack blob with
an atomic .tmp rename (S11, VoxelGrid/VoxelGrid.cs:347-366).  The engine
equivalent (north rule): each stage writes its output as a Parquet table
plus two Parquet SIDE TABLES and a small JSON manifest:

- ``_keys/``     completed key set (one row per cell id) — written and
  consumed entirely by Spark jobs; at the 100 TB / ~10^9-tile target the
  key set alone is GBs, so it must never materialize on the driver
  (neither as a collect() nor as a JSON array),
- ``_lineage/``  one row per non-empty data file: its row count and key
  range, read from the file's parquet footer right after the write (the
  Iceberg manifest model — no Spark job re-reads the data for them),
- ``_manifest.json``  lineage header only: stage name, input paths,
  parameter hash, aggregate counts (summed from the same footers) —
  O(1) regardless of scale,
- a _SUCCESS marker written last (atomic completion point).

Resume = Spark anti-join of the wanted keys against ``_keys/`` — only
missing tiles are recomputed, no driver-side key materialization.  On a
real cluster the same layout maps 1:1 onto an Iceberg table + snapshot
metadata; plain Parquet-plus-manifest keeps the sandbox dependency-free.
(Subdirectories starting with ``_`` are ignored by Spark's parquet scan
of the stage path, so the side tables never pollute the data read.)
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
KEYS_DIR = "_keys"
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
    """Write a stage table + side tables + manifest; returns the manifest.

    Two Spark actions: the data write, then the ``_keys/`` write (one
    ``distinct()`` over the written key column).  Row and key counts and
    the ``_lineage/`` rows come from the parquet footers of the files
    just written."""
    params = params or {}
    df.write.mode("overwrite").parquet(path)
    spark = df.sparkSession
    files = sorted(_data_files(path))
    row_count, lin = _footer_lineage(path, files, key)
    n_keys = _write_keys(spark, path, files, df.schema[key], "overwrite")
    _write_lineage(path, lin, df.schema[key].dataType, "overwrite")
    manifest = {
        "stage": stage,
        "inputs": inputs,
        "params": params,
        "params_hash": _params_hash(params),
        "written_at": time.time(),
        "row_count": row_count,
        "n_completed_keys": n_keys,
        "n_partitions": len(lin),
        "keys_table": KEYS_DIR,
        "lineage_table": LINEAGE_DIR,
        # Iceberg-style snapshot log: one entry per commit (initial write
        # or incremental resume append)
        "snapshots": [
            {"snapshot": 1, "written_at": time.time(), "rows": row_count,
             "n_keys": n_keys}
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


def _write_keys(spark: SparkSession, path: str, files: list[str], key_field,
                mode: str) -> int:
    """Write the distinct keys of the data ``files`` to ``_keys/``;
    returns how many were written (from the new files' footers).  The
    read is given its schema, so no schema-inference job runs."""
    keys_dir = os.path.join(path, KEYS_DIR)
    before = _data_files(keys_dir) if mode == "append" else set()
    spark.read.schema(StructType([key_field])).parquet(
        *[os.path.join(path, f) for f in files]
    ).distinct().write.mode(mode).parquet(keys_dir)
    new = sorted(_data_files(keys_dir) - before)
    return _footer_lineage(keys_dir, new, key_field.name)[0]


def _write_lineage(path: str, lin: list[tuple], key_type, mode: str) -> None:
    """Write lineage rows as one parquet file from the driver: they are
    O(data files), like an Iceberg manifest, so no Spark job is needed."""
    lin_dir = os.path.join(path, LINEAGE_DIR)
    if mode == "overwrite":
        shutil.rmtree(lin_dir, ignore_errors=True)
    os.makedirs(lin_dir, exist_ok=True)
    pid, rows, lo, hi = zip(*lin) if lin else ((), (), (), ())
    kt = to_arrow_type(key_type)
    table = pa.table({
        "pid": pa.array(pid, pa.int32()),
        "rows": pa.array(rows, pa.int64()),
        "min_key": pa.array(lo, kt),
        "max_key": pa.array(hi, kt),
    })
    pq.write_table(table, os.path.join(lin_dir, f"part-{uuid.uuid4().hex}.parquet"))


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


def completed_keys(spark: SparkSession, path: str) -> DataFrame:
    """The checkpoint's completed key set as a DataFrame (never collected).
    Its schema comes from one file's footer, so no inference job runs."""
    keys_dir = os.path.join(path, KEYS_DIR)
    first = os.path.join(keys_dir, min(_data_files(keys_dir)))
    schema = from_arrow_schema(pq.read_schema(first))
    return spark.read.schema(schema).parquet(keys_dir)


def lineage(spark: SparkSession, path: str) -> DataFrame:
    """Per-file lineage metrics (pid, rows, min_key, max_key)."""
    return spark.read.parquet(os.path.join(path, LINEAGE_DIR))


def pending_keys(
    spark: SparkSession, wanted: DataFrame, path: str, params: dict | None = None,
    key: str = "cell_id",
) -> DataFrame:
    """Resume support: which of ``wanted``'s keys still need computing?

    Anti-join against the ``_keys/`` side table — a pure Spark plan, so
    a 10^9-key checkpoint resumes without the key set ever touching the
    driver.  A parameter-hash mismatch invalidates the checkpoint
    entirely (recompute all).
    """
    m = load_manifest(path)
    if m is None:
        return wanted
    if params is not None and m["params_hash"] != _params_hash(params):
        log.warning(
            "checkpoint invalidated: %s was written with params_hash=%s, "
            "resume requested with params_hash=%s — ALL work will be recomputed",
            path, m["params_hash"], _params_hash(params),
        )
        return wanted
    return wanted.join(completed_keys(spark, path), key, "left_anti")


def _data_files(path: str) -> set[str]:
    """Parquet data files directly under the stage path (side tables and
    markers start with ``_`` and are excluded)."""
    if not os.path.isdir(path):
        return set()
    return {
        e for e in os.listdir(path)
        if not e.startswith(("_", ".")) and os.path.isfile(os.path.join(path, e))
    }


def _compact_side_table(spark: SparkSession, path: str, subdir: str) -> None:
    """Rewrite a ``_keys``/``_lineage`` side table into few files.

    Each incremental resume appends small parquet deltas to the side
    tables; after many resumes the ``_keys`` read fans out over hundreds
    of tiny files.  Compaction rewrites ONLY the side table (never the
    data files) via the same .next + rename protocol; it runs inside the
    marker-removed mutation window, so a crash mid-compact leaves a torn
    checkpoint that is recomputed — never silently wrong."""
    full = os.path.join(path, subdir)
    nxt = full + ".next"
    if os.path.exists(nxt):
        shutil.rmtree(nxt)
    spark.read.parquet(full).coalesce(4).write.parquet(nxt)
    shutil.rmtree(full)
    os.rename(nxt, full)


def resume_stage(
    spark: SparkSession,
    wanted: DataFrame,
    path: str,
    compute,
    stage: str,
    inputs: list[str],
    params: dict | None = None,
    key: str = "cell_id",
    compact_after: int = 16,
) -> DataFrame:
    """Compute-or-reuse: run ``compute(pending)`` only for missing keys.

    O(new-work) resume: the fresh rows are APPENDED to the stage table
    as new parquet files (plus ``_keys``/``_lineage`` deltas and a new
    manifest snapshot entry) — resuming a 10^9-tile stage with 1%
    pending keys writes ~1% of the bytes, never a full rewrite.  The
    commit protocol stays atomic-by-marker: the ``_SUCCESS_STAGE``
    marker is removed before mutation and re-created after the manifest
    lands, so a crash mid-append leaves a torn checkpoint that
    :func:`load_manifest` flags and :func:`pending_keys` recomputes.
    (On a real cluster this is exactly an Iceberg append snapshot.)
    """
    todo = pending_keys(spark, wanted, path, params, key)
    m = load_manifest(path)
    # a params-hash mismatch means todo == ALL keys: the existing table's
    # rows were computed under different params and must not be kept, so
    # invalidate the manifest here and take the full .next+rename rewrite
    # below (appending the full recompute onto the stale table would
    # duplicate keys and keep stale-params rows)
    if (
        m is not None
        and params is not None
        and m["params_hash"] != _params_hash(params)
    ):
        m = None
    if m is not None and todo.isEmpty():
        return spark.read.parquet(path)
    fresh = compute(todo)
    # the stage table has fresh's schema: giving it saves an inference job
    table = spark.read.schema(fresh.schema)
    if m is None:
        # first write (or invalidated checkpoint): full stage write via
        # the .next + atomic-rename protocol
        write_stage(fresh, path + ".next", stage, inputs, params, key)
        if os.path.exists(path):
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
    d_keys = _write_keys(spark, path, new_files, fresh.schema[key], "append")
    _write_lineage(path, lin, fresh.schema[key].dataType, "append")
    snapshots = list(m.get("snapshots", []))
    snapshots.append(
        {"snapshot": len(snapshots) + 1, "written_at": time.time(),
         "rows": d_rows, "n_keys": d_keys, "files": new_files}
    )
    # side-table compaction: after ``compact_after`` snapshots the
    # accumulated per-resume deltas are rewritten into few files (data
    # files are never touched).  Still inside the mutation window.
    if compact_after and len(snapshots) % compact_after == 0:
        _compact_side_table(spark, path, KEYS_DIR)
        _compact_side_table(spark, path, LINEAGE_DIR)
        snapshots[-1]["compacted_side_tables"] = True
    m.update(
        row_count=m["row_count"] + d_rows,
        n_completed_keys=m["n_completed_keys"] + d_keys,
        n_partitions=m["n_partitions"] + len(lin),
        written_at=time.time(),
        snapshots=snapshots,
    )
    _write_manifest(path, m)
    open(os.path.join(path, SUCCESS), "w").close()
    return table.parquet(path)
