"""Build the spark-submit --py-files zip of the fakepilot_spark package.

    python scripts/build_dist.py [OUT]   # default: dist/fakepilot_spark.zip
"""

from __future__ import annotations

import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def build(out: Path) -> None:
    out.parent.mkdir(parents=True, exist_ok=True)
    # Deterministic archive: fixed per-entry timestamps and sorted entries,
    # so rebuilding unchanged sources yields the same entries and bytes.
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted((REPO / "fakepilot_spark").rglob("*.py")):
            info = zipfile.ZipInfo(
                py.relative_to(REPO).as_posix(), date_time=(2020, 1, 1, 0, 0, 0)
            )
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            zf.writestr(info, py.read_bytes())


def main() -> None:
    out = Path(sys.argv[1]) if len(sys.argv) > 1 else REPO / "dist" / "fakepilot_spark.zip"
    build(out)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
