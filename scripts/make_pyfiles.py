#!/usr/bin/env python
"""Package lasutility_spark into dist/lasutility_spark.zip for
``spark-submit --py-files``: the Python sources plus the C kernel sources
``gridlib/_delaunay.c`` and ``gridlib/_laszip.c``, which every node
compiles on first use with its own ``cc`` (required; no prebuilt native
wheels to ship)."""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> str:
    out_dir = os.path.join(REPO, "dist")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "lasutility_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "lasutility_spark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                # .c: the build-on-first-use native kernel source must
                # ship with the package (compiled per node; a node
                # without a compiler raises at first use)
                if f.endswith((".py", ".c")):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    print(out)
    return out


if __name__ == "__main__":
    main()
