from __future__ import annotations

import os
import shlex
import shutil
import subprocess
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from redis_streams_spark.session import TABLES, get_spark  # noqa: E402
from redis_streams_spark.streaming.stateful import ensure_protobuf  # noqa: E402

# Must run BEFORE any SparkSession: transformWithStateInPandas workers
# need google.protobuf, and they inherit PYTHONPATH/env from the JVM at
# launch.  Discovers the gcloud-bundled pure-Python runtime when no
# protobuf wheel exists (returns False harmlessly when neither does).
ensure_protobuf()

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The test tables are tiny; a 16g default heap only lets cached blocks and
# dead broadcasts pile up (the ContextCleaner frees them on GC) until the
# JVM holds most of a small host's memory.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


FAST_FS_SRC = os.path.join(ROOT, "tests", "jvm", "FastLocalFileSystem.java")


def _bind_fast_local_fs(out: str) -> None:
    """Compile tests/jvm/FastLocalFileSystem into ``out`` and bind
    ``file:`` to it through PYSPARK_SUBMIT_ARGS, which pyspark reads when
    it launches the JVM.

    Without the native hadoop library every directory and output file
    Spark creates costs a forked ``chmod``; the tests create tens of
    thousands.  Leaves the stock file system when no JDK compiler is
    available or the build fails."""
    from pyspark.find_spark_home import _find_spark_home

    javac = shutil.which("javac")
    if javac is None:
        return
    jars = os.path.join(_find_spark_home(), "jars", "*")
    try:
        subprocess.run(
            [javac, "-nowarn", "-d", out, "-cp", jars, FAST_FS_SRC],
            check=True, capture_output=True, timeout=120,
        )
    except (OSError, subprocess.SubprocessError):
        return
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    args = args.strip().removesuffix("pyspark-shell").strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        args,
        "--driver-class-path", shlex.quote(out),
        "--conf", "spark.hadoop.fs.file.impl=rss.testfs.FastLocalFileSystem",
        "--conf", shlex.quote(
            "spark.hadoop.fs.AbstractFileSystem.file.impl="
            "rss.testfs.FastLocalFileSystem$Fs"
        ),
        "pyspark-shell",
    ]).strip()


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    _bind_fast_local_fs(str(tmp_path_factory.mktemp("fast-local-fs")))
    spark = get_spark("pytest", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
