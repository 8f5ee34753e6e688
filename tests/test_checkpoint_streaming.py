"""Checkpoint/resume contract: commit, resume, invalidation and fault
injection at every filesystem step."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lasutility_spark.engine import checkpoint


def test_checkpoint_write_and_resume(spark, tmp_path):
    path = str(tmp_path / "stage1")
    df = spark.createDataFrame(
        pd.DataFrame({"cell_id": [1, 2, 3], "v": [10, 20, 30]})
    )
    m = checkpoint.write_stage(df, path, "tin", ["in.parquet"], {"px": 64})
    assert m["row_count"] == 3
    assert m["n_completed_keys"] == 3
    keys = checkpoint.completed_keys(spark, path)
    assert sorted(r["cell_id"] for r in keys.collect()) == [1, 2, 3]
    lin = checkpoint.lineage(spark, path)
    assert all(r["rows"] >= 1 for r in lin.collect())
    assert m["n_partitions"] == lin.count()
    # footer-derived counts agree with a scan of the written data, and
    # each lineage row is exactly one data file's count and key range
    assert m["row_count"] == spark.read.parquet(path).count() == sum(
        r["rows"] for r in lin.collect()
    )
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name())
        .agg(F.count("*"), F.min("cell_id"), F.max("cell_id"))
    )
    assert sorted(tuple(r)[1:] for r in per_file.collect()) == sorted(
        (r["rows"], r["min_key"], r["max_key"]) for r in lin.collect()
    )
    assert os.path.exists(os.path.join(path, checkpoint.SUCCESS))
    # the _lineage side table must NOT pollute the data read
    assert set(spark.read.parquet(path).columns) == {"cell_id", "v"}

    wanted = spark.createDataFrame(pd.DataFrame({"cell_id": [1, 2, 3, 4, 5]}))
    todo = checkpoint.pending_keys(spark, wanted, path, {"px": 64})
    assert sorted(r["cell_id"] for r in todo.collect()) == [4, 5]
    # parameter change invalidates the checkpoint
    todo_all = checkpoint.pending_keys(spark, wanted, path, {"px": 128})
    assert todo_all.count() == 5

    calls = []

    def compute(pending):
        keys = [r["cell_id"] for r in pending.collect()]
        calls.append(sorted(keys))
        return spark.createDataFrame(
            pd.DataFrame({"cell_id": keys, "v": [k * 10 for k in keys]})
        )

    out = checkpoint.resume_stage(
        spark, wanted, path, compute, "tin", ["in.parquet"], {"px": 64}
    )
    assert calls == [[4, 5]]  # only missing tiles recomputed
    assert sorted(r["cell_id"] for r in out.collect()) == [1, 2, 3, 4, 5]
    # second resume: nothing pending, no recompute
    out2 = checkpoint.resume_stage(
        spark, wanted, path, compute, "tin", ["in.parquet"], {"px": 64}
    )
    assert calls == [[4, 5]]
    assert out2.count() == 5


def test_checkpoint_empty_write_then_resume(spark, tmp_path):
    """An empty stage commits zero rows, keys and lineage rows (Spark's
    empty part file is no lineage row); a resume onto it appends the
    computed keys with matching counts."""
    path = str(tmp_path / "empty_write")
    empty = spark.createDataFrame([], "cell_id long, v long")
    m = checkpoint.write_stage(empty, path, "tin", ["in.parquet"], {"px": 64})
    lin = checkpoint.lineage(spark, path)
    assert (
        m["row_count"] == m["n_completed_keys"] == m["n_partitions"]
        == lin.count() == 0
    )
    assert checkpoint.completed_keys(spark, path).count() == 0

    wanted = spark.createDataFrame(pd.DataFrame({"cell_id": [1, 2, 3]}))
    out = checkpoint.resume_stage(
        spark, wanted, path,
        lambda todo: todo.select("cell_id", (F.col("cell_id") * 10).alias("v")),
        "tin", ["in.parquet"], {"px": 64},
    )
    assert sorted(tuple(r) for r in out.collect()) == [(1, 10), (2, 20), (3, 30)]
    m = checkpoint.load_manifest(path)
    lin = checkpoint.lineage(spark, path)
    assert m["row_count"] == m["n_completed_keys"] == 3
    assert m["n_partitions"] == lin.count() >= 1
    assert sum(r["rows"] for r in lin.collect()) == 3
    keys = checkpoint.completed_keys(spark, path)
    assert sorted(r["cell_id"] for r in keys.collect()) == [1, 2, 3]


def _spark_jobs(spark, group, fn):
    """Number of Spark jobs ``fn()`` runs, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_commit_job_budget(spark, tmp_path):
    """A commit is one Spark write: counts and lineage come from parquet
    footers, and resume's key set is a key-only read of the data files,
    so no job rewrites or re-reads the keys."""
    path = str(tmp_path / "budget_stage")
    df = spark.createDataFrame(
        pd.DataFrame({"cell_id": [1, 2, 3], "v": [10, 20, 30]})
    )
    n_write = _spark_jobs(
        spark, "ckpt-budget-write",
        lambda: checkpoint.write_stage(df, path, "tin", ["in.parquet"], {"px": 64}),
    )
    wanted = spark.createDataFrame(pd.DataFrame({"cell_id": [1, 2, 3, 4, 5]}))
    extra = spark.createDataFrame(pd.DataFrame({"cell_id": [4, 5], "v": [40, 50]}))
    n_resume = _spark_jobs(
        spark, "ckpt-budget-resume",
        lambda: checkpoint.resume_stage(
            spark, wanted, path,
            lambda todo: extra.join(todo, "cell_id", "left_semi"),
            "tin", ["in.parquet"], {"px": 64},
        ),
    )
    assert n_write <= 1, n_write
    assert n_resume <= 5, n_resume
    assert checkpoint.load_manifest(path)["row_count"] == 5


def test_checkpoint_resume_scales_without_driver_keys(spark, tmp_path):
    """10^6-key checkpoint resumes through a pure Spark anti-join plan —
    the manifest JSON stays O(1) and no key list crosses the driver."""
    path = str(tmp_path / "big_stage")
    n = 1_000_000
    df = spark.range(n).select(
        F.col("id").alias("cell_id"), (F.col("id") * 2).alias("v")
    )
    m = checkpoint.write_stage(df, path, "tin", ["in.parquet"], {"px": 64})
    assert m["n_completed_keys"] == n
    assert os.path.getsize(os.path.join(path, checkpoint.MANIFEST)) < 4096
    wanted = spark.range(n + 10).select(F.col("id").alias("cell_id"))
    todo = checkpoint.pending_keys(spark, wanted, path, {"px": 64})
    plan = todo._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan  # resume is a join, not a collected key list
    assert sorted(r["cell_id"] for r in todo.collect()) == list(range(n, n + 10))


def _stage_bytes(path):
    """Total size + file set of the stage's data and _lineage files."""
    total, names = 0, set()
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
            names.add(os.path.relpath(os.path.join(root, f), path))
    return total, names


def test_checkpoint_resume_is_o_new_work(spark, tmp_path):
    """Resuming a 1M-row stage with 1% pending keys appends ~1% of the
    bytes — the old data files are untouched, never rewritten."""
    path = str(tmp_path / "incr_stage")
    n = 1_000_000
    df = spark.range(n).select(
        F.col("id").alias("cell_id"), (F.col("id") * 2).alias("v")
    )
    checkpoint.write_stage(df, path, "tin", ["in.parquet"], {"px": 64})
    size0, files0 = _stage_bytes(path)

    wanted = spark.range(n + n // 100).select(F.col("id").alias("cell_id"))

    def compute(pending):
        return pending.select("cell_id", (F.col("cell_id") * 2).alias("v"))

    out = checkpoint.resume_stage(
        spark, wanted, path, compute, "tin", ["in.parquet"], {"px": 64}
    )
    assert out.count() == n + n // 100
    size1, files1 = _stage_bytes(path)
    # every original data file survives byte-identical paths (no rewrite)
    kept = {f for f in files0 if not f.startswith("_") and "/" not in f}
    assert kept <= files1
    # appended bytes are a small fraction of the original table
    # (1% of rows; parquet per-file overhead allows some slack)
    assert size1 - size0 < 0.25 * size0
    # manifest gained an append snapshot and stayed O(1)
    m = checkpoint.load_manifest(path)
    assert len(m["snapshots"]) == 2
    assert m["snapshots"][1]["n_keys"] == n // 100
    assert m["row_count"] == n + n // 100
    assert m["n_completed_keys"] == n + n // 100
    assert os.path.getsize(os.path.join(path, checkpoint.MANIFEST)) < 8192
    # a further resume with the same wanted set is a no-op
    out2 = checkpoint.resume_stage(
        spark, wanted, path, compute, "tin", ["in.parquet"], {"px": 64}
    )
    assert out2.count() == n + n // 100
    assert len(checkpoint.load_manifest(path)["snapshots"]) == 2


def test_resume_params_mismatch_rewrites_not_appends(spark, tmp_path):
    """Resume with different params must take the full rewrite path:
    no duplicate keys, no stale-params rows kept, manifest params_hash
    refreshed (round-3 ADVICE: the append path was taken instead)."""
    path = str(tmp_path / "params_stage")
    df = spark.createDataFrame(
        pd.DataFrame({"cell_id": [1, 2, 3], "v": [10, 20, 30]})
    )
    checkpoint.write_stage(df, path, "tin", ["in.parquet"], {"px": 64})
    wanted = spark.createDataFrame(pd.DataFrame({"cell_id": [1, 2, 3]}))

    def compute(pending):
        return pending.select(
            "cell_id", (F.col("cell_id") * 100).alias("v")
        )

    out = checkpoint.resume_stage(
        spark, wanted, path, compute, "tin", ["in.parquet"], {"px": 128}
    )
    rows = {r["cell_id"]: r["v"] for r in out.collect()}
    assert rows == {1: 100, 2: 200, 3: 300}  # no stale px=64 rows
    assert out.count() == 3  # no duplicated keys
    m = checkpoint.load_manifest(path)
    assert m["params_hash"] == checkpoint._params_hash({"px": 128})
    assert m["row_count"] == 3 and m["n_completed_keys"] == 3
    # a same-params re-resume is now a no-op against the NEW table
    out2 = checkpoint.resume_stage(
        spark, wanted, path,
        lambda p: (_ for _ in ()).throw(AssertionError("recompute")),
        "tin", ["in.parquet"], {"px": 128},
    )
    assert out2.count() == 3


def test_resume_empty_delta_keeps_checkpoint_intact(spark, tmp_path):
    """compute(todo) returning zero rows is an empty-but-valid append:
    the SUCCESS marker is restored and nothing tears (round-3 ADVICE)."""
    path = str(tmp_path / "empty_stage")
    df = spark.createDataFrame(
        pd.DataFrame({"cell_id": [1, 2], "v": [10, 20]})
    )
    checkpoint.write_stage(df, path, "tin", ["in.parquet"], {"px": 64})
    wanted = spark.createDataFrame(pd.DataFrame({"cell_id": [1, 2, 3]}))

    def compute(pending):
        # every pending key filtered out upstream -> zero-row delta
        return pending.select(
            "cell_id", (F.col("cell_id") * 2).alias("v")
        ).filter(F.lit(False))

    out = checkpoint.resume_stage(
        spark, wanted, path, compute, "tin", ["in.parquet"], {"px": 64}
    )
    assert sorted(r["cell_id"] for r in out.collect()) == [1, 2]
    assert os.path.exists(os.path.join(path, checkpoint.SUCCESS))
    # checkpoint still valid: a further resume sees only key 3 pending
    todo = checkpoint.pending_keys(spark, wanted, path, {"px": 64})
    assert sorted(r["cell_id"] for r in todo.collect()) == [3]


def test_resume_side_table_compaction_bounds_files(spark, tmp_path):
    """Many sequential 1-key resumes keep ``_lineage/`` at one file (each
    append rewrites it; data files are never rewritten), write no key
    side table, and resume semantics stay identical."""
    path = str(tmp_path / "compact_stage")
    df = spark.createDataFrame(pd.DataFrame({"cell_id": [0], "v": [0]}))
    checkpoint.write_stage(df, path, "tin", ["in.parquet"], {"px": 64})

    def compute(pending):
        return pending.select("cell_id", (F.col("cell_id") * 2).alias("v"))

    n_resumes = 12
    for k in range(1, n_resumes + 1):
        wanted = spark.createDataFrame(
            pd.DataFrame({"cell_id": list(range(k + 1))})
        )
        checkpoint.resume_stage(
            spark, wanted, path, compute, "tin", ["in.parquet"], {"px": 64},
        )
    assert len(os.listdir(os.path.join(path, checkpoint.LINEAGE_DIR))) == 1
    assert not any(e.startswith("_keys") for e in os.listdir(path))
    keys = checkpoint.completed_keys(spark, path)
    assert sorted(r["cell_id"] for r in keys.collect()) == list(
        range(n_resumes + 1)
    )
    out = spark.read.parquet(path)
    assert {r["cell_id"]: r["v"] for r in out.collect()} == {
        k: k * 2 if k else 0 for k in range(n_resumes + 1)
    }
    m = checkpoint.load_manifest(path)
    assert m["n_completed_keys"] == n_resumes + 1
    lin = checkpoint.lineage(spark, path).collect()
    assert sum(r["rows"] for r in lin) == m["row_count"] == n_resumes + 1


def test_torn_checkpoint_is_flagged(spark, tmp_path, caplog):
    """A checkpoint missing its _SUCCESS_STAGE marker (torn write) is
    recomputed AND logged as invalidated — never a silent discard."""
    import logging

    path = str(tmp_path / "torn_stage")
    df = spark.createDataFrame(pd.DataFrame({"cell_id": [1, 2], "v": [1, 2]}))
    checkpoint.write_stage(df, path, "tin", ["in.parquet"], {"px": 64})
    os.remove(os.path.join(path, checkpoint.SUCCESS))  # simulate the crash
    wanted = spark.createDataFrame(pd.DataFrame({"cell_id": [1, 2, 3]}))
    with caplog.at_level(logging.WARNING, logger="lasutility_spark.engine.checkpoint"):
        todo = checkpoint.pending_keys(spark, wanted, path, {"px": 64})
    assert todo.count() == 3  # everything recomputed (correct)
    assert any("checkpoint invalidated" in r.message for r in caplog.records)
    # a resume checks the manifest once: one warning, not one per lookup
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="lasutility_spark.engine.checkpoint"):
        out = checkpoint.resume_stage(
            spark, wanted, path,
            lambda todo: todo.select("cell_id", F.col("cell_id").alias("v")),
            "tin", ["in.parquet"], {"px": 64},
        )
    assert sorted(tuple(r) for r in out.collect()) == [(1, 1), (2, 2), (3, 3)]
    warnings = [r for r in caplog.records if "checkpoint invalidated" in r.message]
    assert len(warnings) == 1, [r.message for r in warnings]


class _Fault(Exception):
    """An injected crash."""


def _inject_faults(mp, root, k):
    """Make the k-th filesystem step that ``checkpoint`` takes under
    ``root`` raise :class:`_Fault` instead of running; returns the list of
    step names taken so far (the faulted one last).  The steps: Spark
    parquet writes, ``pq.write_table``, ``os.makedirs``/``remove``/
    ``replace``/``rename``, ``shutil.rmtree``, each ``os.unlink``/
    ``os.rmdir`` that rmtree makes inside it, and every ``open`` for
    writing (the manifest write and the marker creation).

    Filesystems list a directory in any order (ext4 by name hash), so
    rmtree here sees each directory under ``root`` in reverse name
    order: the data files go before the ``_SUCCESS_STAGE`` marker, the
    order that tears a commit which removes its marker last."""
    import contextlib

    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    steps = []

    def fd_dir(fd):
        return os.readlink(f"/proc/self/fd/{fd}")

    def target(a, kw, arg):
        # rmtree unlinks by name relative to an open directory fd
        if kw.get("dir_fd") is not None:
            return os.path.join(fd_dir(kw["dir_fd"]), a[arg])
        return str(a[arg])

    scandir = os.scandir

    def listing(p="."):
        if not (isinstance(p, int) and fd_dir(p).startswith(root)):
            return scandir(p)
        with scandir(p) as it:
            return contextlib.nullcontext(sorted(it, key=lambda e: e.name, reverse=True))

    def wrap(name, fn, arg=0, counts=lambda a, kw: True):
        def step(*a, **kw):
            if target(a, kw, arg).startswith(root) and counts(a, kw):
                steps.append(name)
                if len(steps) == k:
                    raise _Fault(name)
            return fn(*a, **kw)
        return step

    mp.setattr(DataFrameWriter, "parquet", wrap("spark_write", DataFrameWriter.parquet, 1))
    mp.setattr(pq, "write_table", wrap("write_table", pq.write_table, 1))
    for name in ("makedirs", "remove", "replace", "rename", "unlink", "rmdir"):
        mp.setattr(os, name, wrap(name, getattr(os, name)))
    mp.setattr(checkpoint.shutil, "rmtree", wrap("rmtree", checkpoint.shutil.rmtree))
    mp.setattr(os, "scandir", listing)
    mp.setattr(
        checkpoint, "open",
        wrap("open", open, counts=lambda a, kw: a[1:] == ("w",)),
        raising=False,
    )
    return steps


def test_checkpoint_fault_injection_recovers(spark, tmp_path, monkeypatch):
    """Crash at every filesystem step of a direct ``write_stage``, of
    ``resume_stage``'s .next + rename rewrite and of its append commit:
    a checkpoint left valid is consistent, and a clean resume afterwards
    computes only the keys it lacks (all of them when the crash tore it),
    gives the uninterrupted run's values with no duplicate keys, a
    consistent manifest and no ``.next`` wreckage."""
    wanted = spark.createDataFrame(pd.DataFrame({"cell_id": list(range(6))}))
    want = {k: 10 * k for k in range(6)}
    calls = []

    def compute(todo):
        calls.append(sorted(r["cell_id"] for r in todo.collect()))
        return todo.select("cell_id", (F.col("cell_id") * 10).alias("v"))

    def first(n, v=None):
        return spark.createDataFrame(pd.DataFrame(
            {"cell_id": list(range(n)), "v": [10 * k if v is None else v for k in range(n)]}
        ))

    def consistent(path):
        m = checkpoint.load_manifest(path)
        lin = checkpoint.lineage(spark, path).collect()
        n = spark.read.parquet(path).count()
        assert m["row_count"] == n == sum(r["rows"] for r in lin)
        assert m["n_completed_keys"] == n

    px = {"px": 64}
    scenarios = {
        "write_stage": (
            lambda p: None,
            lambda p: checkpoint.write_stage(first(6), p, "tin", ["in"], px),
            {"spark_write", "makedirs", "write_table", "open", "replace"},
        ),
        # stale rows (v=-1) under other params: taken to the full rewrite
        "resume_rewrite": (
            lambda p: checkpoint.write_stage(first(3, -1), p, "tin", ["in"], {"px": 32}),
            lambda p: checkpoint.resume_stage(spark, wanted, p, compute, "tin", ["in"], px),
            {"spark_write", "makedirs", "write_table", "open", "replace",
             "remove", "rmtree", "unlink", "rmdir", "rename"},
        ),
        "resume_append": (
            lambda p: checkpoint.write_stage(first(3), p, "tin", ["in"], px),
            lambda p: checkpoint.resume_stage(spark, wanted, p, compute, "tin", ["in"], px),
            {"remove", "spark_write", "makedirs", "write_table", "open",
             "replace"},
        ),
    }
    for name, (setup, op, required) in scenarios.items():
        faulted = []
        for k in range(1, 40):
            root = str(tmp_path / f"{name}-{k}")
            path = os.path.join(root, "stage")
            setup(path)
            with monkeypatch.context() as mp:
                steps = _inject_faults(mp, root, k)
                try:
                    op(path)
                except _Fault:
                    pass
            if len(steps) < k:  # no k-th step: the run completed
                break
            faulted.append(steps[-1])
            m = checkpoint.load_manifest(path)
            missing = sorted(want)
            if m is not None:
                consistent(path)
                if m["params"] == px:
                    done = {r["cell_id"] for r in spark.read.parquet(path).collect()}
                    missing = sorted(set(want) - done)
            calls.clear()
            out = checkpoint.resume_stage(
                spark, wanted, path, compute, "tin", ["in"], px
            ).collect()
            assert len(out) == len({r["cell_id"] for r in out}), (name, steps)
            assert {r["cell_id"]: r["v"] for r in out} == want, (name, steps)
            assert calls == ([missing] if missing else []), (name, steps)
            consistent(path)
            assert not os.path.exists(path + ".next"), (name, steps)
        else:
            pytest.fail(f"{name}: no fault-free run within 39 steps")
        assert faulted == steps, (name, faulted, steps)
        assert set(steps) == required, (name, steps)


def test_old_layout_checkpoint_resumes(spark, tmp_path):
    """A checkpoint with a leftover ``_keys/`` side table and two
    ``_lineage`` files resumes from its data files: a key listed only in
    ``_keys/`` is computed, and the lineage merges into one file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "old_layout")
    df = spark.createDataFrame(
        pd.DataFrame({"cell_id": [1, 2, 3], "v": [10, 20, 30]})
    ).repartitionByRange(2, "cell_id")
    checkpoint.write_stage(df, path, "tin", ["in.parquet"], {"px": 64})
    lin_dir = os.path.join(path, checkpoint.LINEAGE_DIR)
    (only,) = os.listdir(lin_dir)
    lin = pq.read_table(os.path.join(lin_dir, only))
    assert lin.num_rows == 2
    pq.write_table(lin.slice(0, 1), os.path.join(lin_dir, "part-a.parquet"))
    pq.write_table(lin.slice(1), os.path.join(lin_dir, "part-b.parquet"))
    os.remove(os.path.join(lin_dir, only))
    os.makedirs(os.path.join(path, "_keys"))
    pq.write_table(
        pa.table({"cell_id": pa.array([1, 2, 3, 4], pa.int64())}),
        os.path.join(path, "_keys", "part-0.parquet"),
    )

    calls = []

    def compute(todo):
        calls.append(sorted(r["cell_id"] for r in todo.collect()))
        return todo.select("cell_id", (F.col("cell_id") * 10).alias("v"))

    wanted = spark.createDataFrame(pd.DataFrame({"cell_id": [1, 2, 3, 4, 5]}))
    out = checkpoint.resume_stage(
        spark, wanted, path, compute, "tin", ["in.parquet"], {"px": 64}
    )
    assert calls == [[4, 5]]
    assert {r["cell_id"]: r["v"] for r in out.collect()} == {
        k: 10 * k for k in range(1, 6)
    }
    assert len(os.listdir(lin_dir)) == 1
    m = checkpoint.load_manifest(path)
    lin = checkpoint.lineage(spark, path).collect()
    assert sum(r["rows"] for r in lin) == m["row_count"] == 5
    assert out.count() == 5
