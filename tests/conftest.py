import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdmx_airquality_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# Build the MERGE-capable catalog double BEFORE any SparkSession exists:
# extraClassPath is a JVM-launch setting, so the jar must be on disk when
# the session fixture first runs. Round 11: session.py additionally
# requires the SPARK_GRAFT_ACID_DOUBLE=1 opt-in (ADVICE closure — the
# non-durable in-memory catalog must never ride a production session
# just because the jar exists on disk), which the test suite sets here.
# Skipped silently when javac is unavailable — the graftmem merge test
# then skips on the missing catalog, mirroring the delta gating.
os.environ.setdefault("SPARK_GRAFT_ACID_DOUBLE", "1")

_ACID_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "acid_double"
)
_ACID_JAR = os.path.join(_ACID_DIR, "graft-acid-double.jar")
_ACID_SRC = os.path.join(
    _ACID_DIR, "src", "sparkgraft", "acid", "MemoryRowLevelCatalog.java"
)
if shutil.which("javac") and (
    not os.path.exists(_ACID_JAR)
    or os.path.getmtime(_ACID_JAR) < os.path.getmtime(_ACID_SRC)
):
    try:
        subprocess.run(
            [os.path.join(_ACID_DIR, "build.sh")],
            check=True,
            capture_output=True,
            timeout=120,
        )
    except Exception:  # noqa: BLE001 — the dependent test will skip loudly
        pass


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session", autouse=True)
def _ann_index_dir(tmp_path_factory):
    """Persisted ANN indexes (q_similarity_ann_ivfpq_probe) go to a
    session tmp dir, never into the user's default index cache."""
    mp = pytest.MonkeyPatch()
    mp.setenv("SPARK_GRAFT_ANN_INDEX_DIR", str(tmp_path_factory.mktemp("annindex")))
    yield
    mp.undo()
