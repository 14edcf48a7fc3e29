"""Rebuild the local-filesystem jar that ``session.get_spark`` installs.

Compiles ``apache_flink_datastream_api_spark/jvm/src`` with
``javac --release 17`` against the Hadoop classes in pyspark's ``jars/`` and
packs the class files with fixed timestamps, so two builds from the same
sources give the same jar. Run it after editing any ``.java`` file there
(``tests/test_localfs.py`` fails while the committed jar is stale):

    python scripts/build_localfs_jar.py
"""

from __future__ import annotations

import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

import pyspark

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from apache_flink_datastream_api_spark.session import LOCALFS_JAR  # noqa: E402

SOURCES = LOCALFS_JAR.parent / "src"


def compile_classes(out: Path) -> dict[str, bytes]:
    """Compile every source into ``out``; return class bytes by jar entry name."""
    jars = Path(pyspark.__file__).parent / "jars"
    sources = sorted(str(p) for p in SOURCES.rglob("*.java"))
    subprocess.run(["javac", "--release", "17", "-cp", f"{jars}/*", "-d", str(out), *sources],
                   check=True)
    return {p.relative_to(out).as_posix(): p.read_bytes() for p in sorted(out.rglob("*.class"))}


def main() -> None:
    with tempfile.TemporaryDirectory() as tmp:
        classes = compile_classes(Path(tmp))
    with zipfile.ZipFile(LOCALFS_JAR, "w") as jar:
        for name, data in classes.items():
            entry = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            entry.external_attr = 0o644 << 16
            jar.writestr(entry, data, compress_type=zipfile.ZIP_DEFLATED)
    print(f"wrote {LOCALFS_JAR} ({len(classes)} classes)")


if __name__ == "__main__":
    main()
