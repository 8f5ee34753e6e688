"""The native unit is required: a node that cannot build ``_delaunay.c``
and ``_laszip.c`` gets an exception, never triangles or points from
another path, and the ``--py-files`` zip carries the kernel sources each
executor compiles.

Each case runs in a fresh interpreter with a fresh ``TMPDIR``, so no
build cached by this process or an earlier run is reused."""

import os
import shutil
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# triangulate twice: a build error must be raised, and the second call
# must re-raise the stored error instead of building again
_TRIANGULATE_TWICE = """
import numpy as np
from lasutility_spark.gridlib.delaunay import delaunay
errors = []
for _ in range(2):
    try:
        tri = delaunay(np.array([0.0, 1.0, 0.0]), np.array([0.0, 0.0, 1.0]))
    except RuntimeError as e:
        errors.append(e)
    else:
        print("TRIANGLES", tri.tolist())
        raise SystemExit(3)
assert errors[0] is errors[1]
print(errors[0])
"""

# the LASzip chunk decoder raises the same stored error: no Python decoder
_DECODE_AFTER_FAILED_BUILD = """
import numpy as np
from lasutility_spark.gridlib import laz
data = laz.write_laz(np.arange(5.0), np.arange(5.0), np.arange(5.0),
                     np.full(5, 2, np.uint8), chunk_size=2)
_h, vlr, chunks = laz.laz_chunk_plan(data)
s, c = chunks[0]
try:
    laz.decode_laz_chunk(data, vlr, s, c)
except RuntimeError as e:
    print(e)
else:
    raise SystemExit(3)
"""

def _run(code, tmp_path, path, pythonpath=None):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PATH"] = path
    env["TMPDIR"] = str(tmp_path / "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    if pythonpath:
        env["PYTHONPATH"] = pythonpath
    work = tmp_path / "work"
    work.mkdir(exist_ok=True)
    return subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=work,
        capture_output=True, text=True, timeout=300,
    )


def test_no_compiler_on_path_raises(tmp_path):
    empty = tmp_path / "bin"
    empty.mkdir()
    r = _run(_TRIANGULATE_TWICE, tmp_path, str(empty), pythonpath=REPO)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "no C compiler (cc, gcc or clang) found on PATH" in r.stdout
    r = _run(_DECODE_AFTER_FAILED_BUILD, tmp_path, str(empty), pythonpath=REPO)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "no C compiler (cc, gcc or clang) found on PATH" in r.stdout


def test_failing_compiler_stderr_in_error(tmp_path):
    bindir = tmp_path / "bin"
    bindir.mkdir()
    shim = bindir / "cc"
    shim.write_text(
        "#!/bin/sh\necho 'cc-shim: simulated compile failure' >&2\nexit 1\n"
    )
    shim.chmod(0o755)
    r = _run(_TRIANGULATE_TWICE, tmp_path, str(bindir), pythonpath=REPO)
    assert r.returncode == 0, r.stdout + r.stderr
    assert str(shim) in r.stdout and "exit 1" in r.stdout
    assert "cc-shim: simulated compile failure" in r.stdout


def test_pyfiles_zip_ships_kernel_source(tmp_path):
    """make_pyfiles writes dist/ next to its own checkout, so it runs in
    a copy; the package then imports from the zip alone, compiles
    _delaunay.c and _laszip.c read through pkgutil, triangulates and
    decodes one LAZ chunk."""
    copy = tmp_path / "checkout"
    shutil.copytree(
        os.path.join(REPO, "lasutility_spark"), copy / "lasutility_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    (copy / "scripts").mkdir()
    shutil.copy(os.path.join(REPO, "scripts", "make_pyfiles.py"), copy / "scripts")
    subprocess.run(
        [sys.executable, str(copy / "scripts" / "make_pyfiles.py")],
        check=True, capture_output=True, timeout=120,
    )
    zpath = str(copy / "dist" / "lasutility_spark.zip")
    names = zipfile.ZipFile(zpath).namelist()
    assert "lasutility_spark/gridlib/_delaunay.c" in names
    assert "lasutility_spark/gridlib/_laszip.c" in names
    shutil.rmtree(copy / "lasutility_spark")  # only the zip remains

    code = f"""
import os, sys
sys.path.insert(0, {zpath!r})
assert not any(os.path.abspath(p) == {REPO!r} for p in sys.path), sys.path
import numpy as np
from lasutility_spark.gridlib import _native
from lasutility_spark.gridlib.delaunay import delaunay
assert _native.__file__.startswith({zpath!r}), _native.__file__
tri = delaunay(np.array([0.0, 1.0, 0.0]), np.array([0.0, 0.0, 1.0]))
assert sorted(tri[0].tolist()) == [0, 1, 2], tri
from lasutility_spark.gridlib import laz
x = np.arange(7.0)
data = laz.write_laz(x, x, x, np.full(7, 2, np.uint8), chunk_size=4)
_h, vlr, chunks = laz.laz_chunk_plan(data)
s, c = chunks[1]
xs = laz.decode_laz_chunk(data, vlr, s, c)[0]
assert xs.tolist() == [400, 500, 600], xs
"""
    r = _run(code, tmp_path, os.environ["PATH"])
    assert r.returncode == 0, r.stdout + r.stderr
