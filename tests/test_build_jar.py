"""The committed NIO filesystem jar is what its Java source compiles
to: tools/build_jar.py rebuilds it and every class must be byte-equal
(no Spark)."""

from __future__ import annotations

import shutil
import zipfile

import pytest

from tools.build_jar import JAR, build


def _classes(jar) -> dict:
    with zipfile.ZipFile(jar) as z:
        return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}


@pytest.mark.skipif(
    not (shutil.which("javac") and shutil.which("jar")),
    reason="needs a JDK's javac and jar to rebuild",
)
def test_committed_jar_matches_its_source(tmp_path):
    rebuilt = tmp_path / "rebuilt.jar"
    build(rebuilt)
    assert _classes(rebuilt) == _classes(JAR)
    assert _classes(JAR)
