"""Rebuild the NIO local filesystem jar from its Java source.

    python tools/build_jar.py [OUT_JAR]

Compiles ``spring_and_kafka_spark/jvm/NioLocalFileSystem.java`` with
``javac --release 17`` against the ``hadoop-client-api`` jar that ships
with the installed pyspark, and packs the classes with fixed entry
timestamps and no manifest, so the same source gives the same class
bytes. ``OUT_JAR`` defaults to the committed jar beside the source;
session.py says what the class is for.
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import tempfile
from pathlib import Path

JVM_DIR = Path(__file__).resolve().parent.parent / "spring_and_kafka_spark" / "jvm"
SOURCE = JVM_DIR / "NioLocalFileSystem.java"
JAR = JVM_DIR / "nio-local-fs.jar"
DATE = "2026-01-01T00:00:00Z"


def hadoop_api_jar() -> str:
    import pyspark

    found = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    if len(found) != 1:
        raise SystemExit(f"expected one hadoop-client-api jar, found {found}")
    return found[0]


def build(out: Path) -> None:
    with tempfile.TemporaryDirectory(prefix="build_jar-") as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", hadoop_api_jar(),
             "-d", classes, str(SOURCE)],
            check=True,
        )
        out.unlink(missing_ok=True)
        subprocess.run(
            ["jar", "--create", "--no-manifest", f"--date={DATE}",
             "--file", str(out), "-C", classes, "."],
            check=True,
        )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out", nargs="?", type=Path, default=JAR)
    build(ap.parse_args(argv).out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
