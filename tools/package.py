"""Build engine.zip for spark-submit --py-files (SURVEY.md §7 step 4).

    python tools/package.py          # writes dist/engine.zip
    spark-submit --py-files dist/engine.zip jobs/rollup.py --tokens ... --warehouse ...

Only ``.py`` files go in: ``engine/jvm/NoForkLocalFileSystem.java`` is
compiled and loaded only for ``local`` masters, whose driver runs from a
checkout, and a cluster's executors write through their own FileSystems.
Run from the zip, ``get_spark`` finds no source and keeps Hadoop's class.
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def main() -> None:
    out_dir = REPO / "dist"
    out_dir.mkdir(exist_ok=True)
    out = out_dir / "engine.zip"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for py in sorted((REPO / "engine").glob("*.py")):
            z.write(py, f"engine/{py.name}")
        for py in sorted((REPO / "jobs").glob("*.py")):
            z.write(py, f"jobs/{py.name}")
    print(f"wrote {out} ({out.stat().st_size} bytes)")


if __name__ == "__main__":
    main()
