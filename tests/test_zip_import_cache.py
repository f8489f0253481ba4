"""The package's zip-directory cache (``fakepilot_spark._install_zip_directory_cache``).

A PySpark worker calls ``importlib.invalidate_caches()`` before every task;
without the wrapper each ``zipimporter`` re-reads its archive's whole
central directory on every call. Each test runs in a fresh interpreter that
imports only ``fakepilot_spark.crawl.sketches``, so importing any submodule
must be enough to install the wrapper. No Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# argv[1] = the archive path. Builds a zip holding a package and a
# subpackage, imports both (three zipimporters over one archive: its root,
# the package and the subpackage), runs one warm-up invalidate_caches() and
# counts _read_directory calls on that archive from then on.
_PRELUDE = """
import importlib, json, os, sys, zipfile, zipimport
import fakepilot_spark.crawl.sketches

archive = sys.argv[1]

def write_zip(files):
    with zipfile.ZipFile(archive, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)

FILES = {"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "",
         "zpkg/sub/mod.py": "X = 1\\n"}
write_zip(FILES)
sys.path.insert(0, archive)
import zpkg.sub.mod

reads = []
_read = zipimport._read_directory
def _counting(path):
    if path == archive:
        reads.append(path)
    return _read(path)
zipimport._read_directory = _counting
importlib.invalidate_caches()
warm_reads = len(reads)
"""


def _run(body: str, tmp_path: Path) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _PRELUDE + body, str(tmp_path / "pkgs.zip")],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(REPO)},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_unchanged_archive_is_not_reread(tmp_path):
    out = _run(
        """
for _ in range(5):
    importlib.invalidate_caches()
print(json.dumps({"warm": warm_reads, "after": len(reads) - warm_reads}))
""",
        tmp_path,
    )
    # the warm-up reads the archive once for all three of its importers
    assert out == {"warm": 1, "after": 0}


def test_rewritten_archive_is_reread(tmp_path):
    out = _run(
        """
write_zip({**FILES, "zpkg/sub/new.py": "Y = 2\\n"})
importlib.invalidate_caches()
import zpkg.sub.new
print(json.dumps({"y": zpkg.sub.new.Y, "reads": len(reads) - warm_reads}))
""",
        tmp_path,
    )
    assert out == {"y": 2, "reads": 1}


def test_deleted_archive_drops_cache_entry(tmp_path):
    out = _run(
        """
os.remove(archive)
importlib.invalidate_caches()
print(json.dumps({"cached": archive in zipimport._zip_directory_cache}))
""",
        tmp_path,
    )
    assert out == {"cached": False}
