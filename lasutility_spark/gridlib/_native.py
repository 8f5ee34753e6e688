"""Build-on-first-use loader for the C kernels in ``_delaunay.c``.

Why compile at first use: executors receive the package via
``spark-submit --py-files`` as a zip of sources; shipping a prebuilt
``.so`` would pin one glibc/arch.  Compiling the single-file unit with
the node's ``cc`` takes ~200 ms once per node, and the artifact is cached
in a content-addressed, per-uid private temp path (atomic rename, safe
under concurrent first builds).

The unit is required: every node needs ``cc`` (or ``gcc``/``clang``) on
``PATH``.  A build or load failure — no compiler, a failed compile, a
``.so`` that is not privately owned — raises at first use, naming the
compiler and its stderr, and the same error is raised again on every
later call rather than recompiling.  The Delaunay kernel has no Python
twin, so no failure can silently change a tile's triangles.

``LSU_NO_NATIVE=1`` switches the other kernels (sample, DEM rasterize,
polygon fill, polyline stamp, clip) to their bit-identical numpy twins,
which stay the semantics definition and compute datagen's oracle side
tables.  It does not reach :func:`triangulate`.
"""

from __future__ import annotations

import contextlib
import ctypes
import hashlib
import os
import shutil
import subprocess
import tempfile

import numpy as np

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_delaunay.c")
# ctypes handles, set together by _ensure_loaded
_fn = _raster_fn = _fill_fn = _line_fn = _sample_fn = None
_clip_ring_fn = _clip_line_fn = None
_load_error: Exception | None = None  # first build/load failure, re-raised

# sentinel: "LSU_NO_NATIVE=1, run the Python clip" — needed because clip
# results legitimately include None (empty after clip)
UNAVAILABLE = object()


def _read_source() -> bytes:
    """Read _delaunay.c zip-safely: plain open() when the package is a
    directory, pkgutil when it was shipped inside a --py-files zip."""
    try:
        with open(_SRC, "rb") as f:
            return f.read()
    except OSError:
        import pkgutil

        data = pkgutil.get_data(__package__, "_delaunay.c")
        if data is None:
            raise FileNotFoundError("_delaunay.c not in package")
        return data


def _owned_and_private(path: str) -> bool:
    """True iff ``path`` is owned by the current uid and not group/world
    writable — the load-time precondition for executing code from it."""
    try:
        st = os.stat(path)
    except OSError:
        return False
    return st.st_uid == os.getuid() and not (st.st_mode & 0o022)


def _build_and_load():
    src = _read_source()
    tag = hashlib.sha256(src).hexdigest()[:16]
    # Per-uid cache dir, mode 0700: the tag is derived from public source,
    # so a shared-path cache would let another local user pre-plant a .so
    # at the predictable path. Never CDLL anything we don't own outright.
    cache_dir = os.path.join(
        tempfile.gettempdir(), f"lasutility_native_{os.getuid()}"
    )
    os.makedirs(cache_dir, mode=0o700, exist_ok=True)
    if not _owned_and_private(cache_dir):
        # dir pre-existed with wrong owner/perms — build in a fresh
        # private mkdtemp instead (uncached, still correct)
        cache_dir = tempfile.mkdtemp(prefix="lasutility_native_")
    so_path = os.path.join(cache_dir, f"_delaunay_{tag}.so")
    if not (os.path.exists(so_path) and _owned_and_private(so_path)):
        cc = shutil.which("cc") or shutil.which("gcc") or shutil.which("clang")
        if cc is None:
            raise RuntimeError(
                "no C compiler (cc, gcc or clang) found on PATH: the native "
                "kernel _delaunay.c is required on every node"
            )
        fd, tmp = tempfile.mkstemp(suffix=".so", dir=cache_dir)
        os.close(fd)
        # private source copy per build: a shared path would be
        # truncated by a concurrent build while cc reads it
        fd, c_src = tempfile.mkstemp(suffix=".c", dir=cache_dir)
        with os.fdopen(fd, "wb") as f:
            f.write(src)
        try:
            # -ffp-contract=off: no FMA contraction, so C results match the
            # numpy twins' double arithmetic operation-for-operation
            proc = subprocess.run(
                [cc, "-O2", "-ffp-contract=off", "-shared", "-fPIC",
                 "-o", tmp, c_src, "-lm"],
                capture_output=True,
                timeout=120,
            )
            if proc.returncode != 0:
                raise RuntimeError(
                    f"{cc} could not build _delaunay.c (exit {proc.returncode}): "
                    + proc.stderr.decode(errors="replace").strip()
                )
            os.chmod(tmp, 0o600)
            os.replace(tmp, so_path)  # atomic under concurrent builders
        finally:
            os.unlink(c_src)
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
    if not _owned_and_private(so_path):
        raise RuntimeError(f"refusing to load {so_path}: not owned by uid "
                           f"{os.getuid()} or group/world writable")
    lib = ctypes.CDLL(so_path)
    fn = lib.lsu_triangulate
    fn.restype = ctypes.c_int64
    fn.argtypes = [
        ctypes.c_int64,
        np.ctypeslib.ndpointer(dtype=np.float64, flags="C_CONTIGUOUS"),
        np.ctypeslib.ndpointer(dtype=np.float64, flags="C_CONTIGUOUS"),
        np.ctypeslib.ndpointer(dtype=np.int64, flags="C_CONTIGUOUS"),
    ]
    rfn = lib.lsu_rasterize_dem
    rfn.restype = None
    f64 = np.ctypeslib.ndpointer(dtype=np.float64, flags="C_CONTIGUOUS")
    rfn.argtypes = [
        ctypes.c_int64,                                             # n_tri
        np.ctypeslib.ndpointer(dtype=np.int64, flags="C_CONTIGUOUS"),
        f64, f64, f64,                                              # x y z
        ctypes.c_void_p,                                            # cls
        ctypes.c_int64, ctypes.c_int64,                             # rows cols
        ctypes.c_double, ctypes.c_double,                           # minx miny
        ctypes.c_double, ctypes.c_double,                           # maxx maxy
        ctypes.c_double,                                            # eps
        np.ctypeslib.ndpointer(dtype=np.float32, flags=("C_CONTIGUOUS", "WRITEABLE")),
        ctypes.c_void_p,                                            # locked
        ctypes.c_void_p,                                            # classification
    ]
    # raw pointers for the per-ring hot kernels: ndpointer.from_param
    # flag validation costs ~10 us per call, called ~70x per tile; the
    # Python wrappers below enforce dtype/contiguity themselves
    pfn = lib.lsu_fill_polygon_cells
    pfn.restype = None
    pfn.argtypes = [
        ctypes.c_void_p, ctypes.c_int64, ctypes.c_int64, ctypes.c_int,
        ctypes.c_int64, ctypes.c_int64, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_int64,
    ]
    lfn = lib.lsu_rasterize_polyline
    lfn.restype = None
    lfn.argtypes = [
        ctypes.c_void_p, ctypes.c_int64, ctypes.c_int64, ctypes.c_int,
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_int64,
    ]
    sfn = lib.lsu_sample_points
    sfn.restype = ctypes.c_int64
    sfn.argtypes = [
        ctypes.c_int64, ctypes.c_void_p,
        ctypes.c_double, ctypes.c_double, ctypes.c_double, ctypes.c_double,
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
    ]
    crfn = lib.lsu_clip_ring
    crfn.restype = ctypes.c_int64
    crfn.argtypes = [
        ctypes.c_int64, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_double, ctypes.c_double, ctypes.c_double, ctypes.c_double,
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
    ]
    cpfn = lib.lsu_clip_polyline
    cpfn.restype = ctypes.c_int64
    cpfn.argtypes = [
        ctypes.c_int64, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_double, ctypes.c_double, ctypes.c_double, ctypes.c_double,
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
    ]
    return fn, rfn, pfn, lfn, sfn, crfn, cpfn


def _ensure_loaded():
    """Load the unit once; re-raise the first build/load error ever after."""
    global _fn, _raster_fn, _fill_fn, _line_fn, _sample_fn
    global _clip_ring_fn, _clip_line_fn, _load_error
    if _fn is not None:
        return
    if _load_error is not None:
        raise _load_error
    try:
        handles = _build_and_load()
    except Exception as e:
        _load_error = e
        raise
    (_fn, _raster_fn, _fill_fn, _line_fn, _sample_fn,
     _clip_ring_fn, _clip_line_fn) = handles


def _native_on() -> bool:
    """False under ``LSU_NO_NATIVE=1`` (the caller runs its numpy twin);
    otherwise loads the unit, raising if it cannot be built."""
    if os.environ.get("LSU_NO_NATIVE") == "1":
        return False
    _ensure_loaded()
    return True


def sample_points(
    dem: np.ndarray, minx: float, miny: float, cs: float, rate: float
):
    """C decode-to-points subsample; None => caller uses the numpy path.
    Bit-identical to imagetile.sample_points_from_tile's numpy arithmetic."""
    if not _native_on():
        return None
    dem = np.ascontiguousarray(dem, dtype=np.float32)
    px = dem.shape[0]
    if dem.ndim != 2 or dem.shape[1] != px:
        return None
    cap = px * px
    x = np.empty(cap, dtype=np.float64)
    y = np.empty(cap, dtype=np.float64)
    z = np.empty(cap, dtype=np.float64)
    cls = np.empty(cap, dtype=np.uint8)
    n = _sample_fn(
        px, dem.ctypes.data, float(minx), float(miny), float(cs), float(rate),
        x.ctypes.data, y.ctypes.data, z.ctypes.data, cls.ctypes.data,
    )
    return x[:n], y[:n], z[:n], cls[:n]


def triangulate(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """C sweep-hull triangulation -> (n_tri, 3) int64 point indices.

    The only triangulator, so ``LSU_NO_NATIVE`` does not apply; raises
    ``MemoryError`` when the kernel cannot allocate its buffers."""
    _ensure_loaded()
    n = len(x)
    if n < 3:
        return np.empty((0, 3), dtype=np.int64)
    x = np.ascontiguousarray(x, dtype=np.float64)
    y = np.ascontiguousarray(y, dtype=np.float64)
    out = np.empty((2 * n, 3), dtype=np.int64)
    rc = _fn(n, x, y, out)
    if rc == -2:  # fully collinear
        return np.empty((0, 3), dtype=np.int64)
    if rc == -1:
        raise MemoryError(f"lsu_triangulate: allocation failed for {n} points")
    return out[:rc].copy()


def rasterize_dem(
    tri: np.ndarray,
    x: np.ndarray,
    y: np.ndarray,
    z: np.ndarray,
    cls: np.ndarray | None,
    dem: np.ndarray,
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    eps: float,
    locked: np.ndarray | None,
    classification: np.ndarray | None,
) -> bool:
    """C triangle-push rasterization into ``dem`` in place.

    Returns False under ``LSU_NO_NATIVE=1`` (caller runs the numpy
    path).  ``dem`` must be C-contiguous float32."""
    if not _native_on():
        return False
    rows, cols = dem.shape
    tri = np.ascontiguousarray(tri, dtype=np.int64)
    x = np.ascontiguousarray(x, dtype=np.float64)
    y = np.ascontiguousarray(y, dtype=np.float64)
    z = np.ascontiguousarray(z, dtype=np.float64)
    cls_p = None
    if classification is not None:
        cls_arr = np.ascontiguousarray(
            cls if cls is not None else np.zeros(len(x), dtype=np.uint8),
            dtype=np.uint8,
        )
        cls_p = cls_arr.ctypes.data
        cf = np.ascontiguousarray(classification, dtype=np.uint8)
        if cf is not classification:
            raise ValueError("classification plane must be C-contiguous uint8")
    lk = None
    if locked is not None:
        lk_arr = np.ascontiguousarray(locked, dtype=np.uint8)
        lk = lk_arr.ctypes.data
    _raster_fn(
        len(tri), tri, x, y, z, cls_p, rows, cols,
        float(minx), float(miny), float(maxx), float(maxy), float(eps),
        dem, lk,
        classification.ctypes.data if classification is not None else None,
    )
    return True


def fill_polygon_cells(
    dest: np.ndarray,
    value: int,
    row_bot: int,
    row_top: int,
    poly_x: np.ndarray,
    poly_y: np.ndarray,
) -> bool:
    """C even-odd scanline fill; False => caller uses the numpy path."""
    if not _native_on() or dest.dtype != np.uint8 or not dest.flags["C_CONTIGUOUS"]:
        return False
    px = np.ascontiguousarray(poly_x, dtype=np.float64)
    py = np.ascontiguousarray(poly_y, dtype=np.float64)
    if len(px) > 1024:
        # the C kernel caps node_x[1024] per scanline; crossings are
        # bounded by the vertex count, so refuse the fast path rather
        # than risk silently mispaired even-odd spans on huge rings
        return False
    rows, cols = dest.shape
    _fill_fn(dest.ctypes.data, rows, cols, int(value), int(row_bot),
             int(row_top), px.ctypes.data, py.ctypes.data, len(px))
    return True


def rasterize_polyline(
    dest: np.ndarray, value: int, vrows: np.ndarray, vcols: np.ndarray
) -> bool:
    """C Bresenham polyline stamp; False => caller uses the numpy path."""
    if not _native_on() or dest.dtype != np.uint8 or not dest.flags["C_CONTIGUOUS"]:
        return False
    vr = np.ascontiguousarray(vrows, dtype=np.int64)
    vc = np.ascontiguousarray(vcols, dtype=np.int64)
    rows, cols = dest.shape
    _line_fn(dest.ctypes.data, rows, cols, int(value), vr.ctypes.data,
             vc.ctypes.data, len(vr))
    return True


def clip_ring(xs: np.ndarray, ys: np.ndarray, minx, miny, maxx, maxy):
    """C Sutherland-Hodgman ring clip; returns UNAVAILABLE under
    ``LSU_NO_NATIVE=1``, None when the clipped ring is empty, else (x, y)."""
    if not _native_on():
        return UNAVAILABLE
    xs = np.ascontiguousarray(xs, dtype=np.float64)
    ys = np.ascontiguousarray(ys, dtype=np.float64)
    n = len(xs)
    cap = 16 * n + 8
    out_x = np.empty(cap, dtype=np.float64)
    out_y = np.empty(cap, dtype=np.float64)
    wx = np.empty(cap, dtype=np.float64)
    wy = np.empty(cap, dtype=np.float64)
    m = _clip_ring_fn(
        n, xs.ctypes.data, ys.ctypes.data,
        float(minx), float(miny), float(maxx), float(maxy),
        out_x.ctypes.data, out_y.ctypes.data, wx.ctypes.data, wy.ctypes.data,
    )
    if m == 0:
        return None
    return out_x[:m], out_y[:m]


def clip_polyline(xs: np.ndarray, ys: np.ndarray, minx, miny, maxx, maxy):
    """C Liang-Barsky polyline clip; UNAVAILABLE under ``LSU_NO_NATIVE=1``,
    else a list of (x, y) parts (possibly empty)."""
    if not _native_on():
        return UNAVAILABLE
    xs = np.ascontiguousarray(xs, dtype=np.float64)
    ys = np.ascontiguousarray(ys, dtype=np.float64)
    n = len(xs)
    cap = 2 * max(n, 1) + 2
    out_x = np.empty(cap, dtype=np.float64)
    out_y = np.empty(cap, dtype=np.float64)
    lens = np.empty(max(n, 1), dtype=np.int64)
    k = _clip_line_fn(
        n, xs.ctypes.data, ys.ctypes.data,
        float(minx), float(miny), float(maxx), float(maxy),
        out_x.ctypes.data, out_y.ctypes.data, lens.ctypes.data,
    )
    parts = []
    off = 0
    for i in range(k):
        ln = int(lens[i])
        parts.append((out_x[off : off + ln].copy(), out_y[off : off + ln].copy()))
        off += ln
    return parts
