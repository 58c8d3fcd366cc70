"""Rebuild ``etl_acordos_spark/jvm/in-jvm-local-fs.jar`` from its source.

The jar is committed so no session start pays for ``javac``. This tool
is how it is made: ``javac --release 17`` against the
``hadoop-client-api`` jar that ships inside pyspark, then a zip with
fixed timestamps and sorted entries, so the same source and JDK give
the same bytes. The manifest records the sha256 of the ``.java`` it was
built from (``Source-SHA256``); ``tests/test_session.py`` fails when
that no longer matches the committed source.

Usage::

    python tools/build_jvm.py
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import sys
import tempfile
import zipfile

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(_REPO_ROOT, "etl_acordos_spark", "jvm")
SOURCE = os.path.join(JVM_DIR, "InJvmLocalFileSystem.java")
JAR = os.path.join(JVM_DIR, "in-jvm-local-fs.jar")
#: zip entries carry this DOS timestamp instead of the build time
FIXED_TIME = (1980, 1, 1, 0, 0, 0)


def source_sha256() -> str:
    with open(SOURCE, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _hadoop_api_jar() -> str:
    import pyspark

    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    if len(jars) != 1:
        sys.exit(f"expected one hadoop-client-api jar in pyspark, found {jars}")
    return jars[0]


def _entry(name: str, data: bytes, zf: zipfile.ZipFile) -> None:
    info = zipfile.ZipInfo(name, date_time=FIXED_TIME)
    info.compress_type = zipfile.ZIP_DEFLATED
    info.external_attr = 0o644 << 16
    zf.writestr(info, data)


def build() -> str:
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", _hadoop_api_jar(),
             "-d", classes, SOURCE],
            check=True,
        )
        manifest = (
            "Manifest-Version: 1.0\r\n"
            f"Source-SHA256: {source_sha256()}\r\n\r\n"
        ).encode()
        with zipfile.ZipFile(JAR, "w") as zf:
            _entry("META-INF/MANIFEST.MF", manifest, zf)
            for path in sorted(glob.glob(os.path.join(classes, "**", "*.class"), recursive=True)):
                with open(path, "rb") as f:
                    _entry(os.path.relpath(path, classes).replace(os.sep, "/"), f.read(), zf)
    return JAR


if __name__ == "__main__":
    print(build())
