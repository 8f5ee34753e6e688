"""Every module of the package imports, and every relative import in it
resolves — including imports inside function bodies, which otherwise
only fail when a test happens to call that function."""

import ast
import importlib
import importlib.util
import os
import pkgutil

import pytest

import lasutility_spark

PKG_DIR = os.path.dirname(lasutility_spark.__file__)
MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(lasutility_spark.__path__, "lasutility_spark.")
)


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, os.path.dirname(PKG_DIR))
    parts = rel[: -len(".py")].split(os.sep)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _relative_imports():
    """(module, lineno, target module, imported names) for every
    ``from .x import y`` anywhere in the package source."""
    out = []
    for root, _dirs, files in os.walk(PKG_DIR):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            mod = _module_name(path)
            is_pkg = fname == "__init__.py"
            tree = ast.parse(open(path).read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom) and node.level > 0:
                    base = mod if is_pkg else mod.rpartition(".")[0]
                    for _ in range(node.level - 1):
                        base = base.rpartition(".")[0]
                    target = f"{base}.{node.module}" if node.module else base
                    names = [a.name for a in node.names]
                    out.append((mod, node.lineno, target, names))
    return out


def test_walk_finds_the_package_layers():
    assert {
        "lasutility_spark.datagen",
        "lasutility_spark.engine.tin_stage",
        "lasutility_spark.gridlib.laz",
        "lasutility_spark.pipelines.geosql",
    } <= set(MODULES)


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    importlib.import_module(name)


def test_relative_imports_resolve():
    found = _relative_imports()
    assert len(found) > 20  # the walk really saw the package's imports
    dangling = []
    for mod, lineno, target, names in found:
        if importlib.util.find_spec(target) is None:
            dangling.append(f"{mod}:{lineno}: no module {target}")
            continue
        m = importlib.import_module(target)
        for n in names:
            if n == "*" or hasattr(m, n):
                continue
            if importlib.util.find_spec(f"{target}.{n}") is None:
                dangling.append(f"{mod}:{lineno}: {target} has no {n}")
    assert not dangling, "\n".join(dangling)


def test_deleted_names_stay_gone():
    """The duplicate strategy paths deleted from pip_stage, tin_stage and
    sources, and the text, dedup and streaming modules, are not named
    anywhere in the code or the top-level docs."""
    deleted = [
        "classify_images_fused", "classify_images_joined",
        "classify_images_scanlocal", "classify_images_broadcast",
        "parent_cell_col", "rasterize_features_broadcast",
        "rasterize_images_scanlocal", "parquet_row_group_splits",
        "scan_row_groups", "_decoded_feats", "_rasterize_tiles_pdf",
        "minhash_bands_spark", "minhash_pairs_spark",
        "ngram_jaccard_pairs_spark", "components_spark", "keep_one_spark",
        "exact_dedup_sql", "simhash_sql", "doc_stats_sql", "bpe_tokens_sql",
        "SPARK_GRAFT_Q4_FAT",
        "events_hourly_stream", "events_sessions_stream",
        "user_totals_stream", "tiles_stream", "write_batch_idempotent",
        "run_stream_once",
    ]
    for mod in ("pipelines.text", "pipelines.dedup", "engine.streaming"):
        assert importlib.util.find_spec(f"lasutility_spark.{mod}") is None, mod
    repo = os.path.dirname(PKG_DIR)
    paths = [os.path.join(repo, f) for f in ("__spark_entry__.py", "README.md", "SURVEY.md")]
    for top in ("lasutility_spark", "scripts", "tests"):
        for root, _dirs, files in os.walk(os.path.join(repo, top)):
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    assert len(paths) > 40  # the walk really saw the source tree
    found = []
    for path in paths:
        if os.path.samefile(path, __file__):
            continue
        text = open(path, encoding="utf-8").read()
        found += [f"{os.path.relpath(path, repo)}: {n}" for n in deleted if n in text]
    assert not found, "\n".join(found)
