"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import hashlib
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Mock object store (tests/javasupport/MockObjectStoreFileSystem.java):
# compiled once per source content into a stable /tmp location (the jar's
# name holds a digest of the source, so a checkout whose source is older
# than a jar built from other source never loads that jar) and loaded
# into the shared session's JVM (extraClassPath binds at JVM launch, so
# it must happen at fixture-creation time, not in the test). Physical
# storage for mocks3:// objects lives under MOCKS3_ROOT.
MOCKS3_BUILD_DIR = Path("/tmp/spark-graft-mocks3")
MOCKS3_ROOT = str(MOCKS3_BUILD_DIR / "objects")
MOCKS3_IMPL = "sparkgraft.testfs.MockObjectStoreFileSystem"


def build_mocks3_jar() -> str | None:
    """Compile the mock-object-store FileSystem; None if the toolchain
    (javac/jar, hadoop-client-api) is unavailable in this environment."""
    if shutil.which("javac") is None or shutil.which("jar") is None:
        return None
    import pyspark

    src = Path(__file__).parent / "javasupport" / "MockObjectStoreFileSystem.java"
    hadoop = next(
        (Path(pyspark.__file__).parent / "jars").glob("hadoop-client-api-*.jar"),
        None,
    )
    if hadoop is None or not src.exists():
        return None
    digest = hashlib.sha256(src.read_bytes()).hexdigest()[:16]
    jar = MOCKS3_BUILD_DIR / f"mocks3-test-fs-{digest}.jar"
    if jar.exists():
        return str(jar)
    classes = MOCKS3_BUILD_DIR / f"classes-{digest}"
    classes.mkdir(parents=True, exist_ok=True)
    try:
        subprocess.run(
            ["javac", "-encoding", "UTF-8", "-cp", str(hadoop),
             "-d", str(classes), str(src)],
            check=True, capture_output=True,
        )
        # Built beside the jar and renamed into place: a build cut short
        # leaves no jar that would be taken as complete.
        partial = jar.with_suffix(".partial")
        subprocess.run(
            ["jar", "cf", str(partial), "-C", str(classes), "sparkgraft"],
            check=True, capture_output=True,
        )
        partial.replace(jar)
    except (OSError, subprocess.CalledProcessError):
        return None
    return str(jar)


@pytest.fixture(scope="session")
def spark():
    from parquet_compactor_spark.session import get_spark

    extra_conf = {}
    jar = build_mocks3_jar()
    if jar is not None:
        extra_conf = {
            "spark.driver.extraClassPath": jar,
            "spark.hadoop.fs.mocks3.impl": MOCKS3_IMPL,
            "spark.hadoop.fs.mocks3.root": MOCKS3_ROOT,
        }
    spark = get_spark(app_name="pcs-tests", extra_conf=extra_conf)
    yield spark
    spark.stop()
