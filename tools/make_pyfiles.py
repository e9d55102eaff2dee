"""Package the engine for spark-submit --py-files: zips
search_engine_spark/ into dist/engine.zip (pure-Python, no build step).

The zip is deterministic — members in sorted order with a fixed
timestamp and permissions — so unchanged sources give a byte-identical
artifact and regenerating it never dirties the tracked copy."""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EPOCH = (1980, 1, 1, 0, 0, 0)  # earliest timestamp the zip format stores


def main() -> str:
    out_dir = os.path.join(REPO, "dist")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "engine.zip")
    pkg = os.path.join(REPO, "search_engine_spark")
    sources = sorted(
        os.path.relpath(os.path.join(root, f), REPO)
        for root, _dirs, files in os.walk(pkg)
        if "__pycache__" not in root
        for f in files
        if f.endswith(".py")
    )
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for rel in sources:
            info = zipfile.ZipInfo(rel, date_time=_EPOCH)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            with open(os.path.join(REPO, rel), "rb") as fh:
                z.writestr(info, fh.read())
    print(out)
    return out


if __name__ == "__main__":
    main()
