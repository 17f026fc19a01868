"""Package the engine for `spark-submit --py-files` (north_rule).

Creates dist/abstracts_search_spark.zip containing the package so executors
can import it on a real multi-executor cluster.
"""

from __future__ import annotations

import os
import zipfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# every entry carries this timestamp instead of its file's mtime, so the
# zip is byte-identical for identical sources (the zip format's epoch)
_ZIP_DATE_TIME = (1980, 1, 1, 0, 0, 0)


def make_zip(out_path: str | None = None) -> str:
    """Write the package's .py files into a zip whose bytes depend only on
    their paths and contents: entries in sorted path order, each with a
    fixed timestamp and permission bits."""
    out_path = out_path or os.path.join(_REPO, "dist", "abstracts_search_spark.zip")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pkg = os.path.join(_REPO, "abstracts_search_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    info = zipfile.ZipInfo(os.path.relpath(full, _REPO), _ZIP_DATE_TIME)
                    info.compress_type = zipfile.ZIP_DEFLATED
                    info.external_attr = 0o644 << 16
                    with open(full, "rb") as fh:
                        z.writestr(info, fh.read())
    return out_path


if __name__ == "__main__":
    print(make_zip())
