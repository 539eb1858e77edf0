import os
import sys
import uuid

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TESTS = os.path.join(_REPO, "tests")
sys.path.insert(0, _REPO)

# Spark python workers unpickle UDF callables defined in test modules; the
# workers inherit PYTHONPATH from the environment (not the driver's sys.path),
# so export it BEFORE the JVM/session starts.
_existing = os.environ.get("PYTHONPATH", "")
_wanted = os.pathsep.join(p for p in (_REPO, _TESTS, _existing) if p)
os.environ["PYTHONPATH"] = _wanted

from kioss_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # lighter for unit tests
    spark = get_spark("kioss_spark_tests", shuffle_partitions=8)
    spark.conf.set("spark.executorEnv.PYTHONPATH", _wanted)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def viewfs_root(spark, tmp_path):
    """``tmp_path`` mounted at ``viewfs://<authority>/m``: a non-``file``
    scheme over local disk, so manifest code runs its portable Hadoop
    ``FileSystem`` path.  The authority is unique per test because Hadoop
    caches one FileSystem per (scheme, authority)."""
    authority = f"kt{uuid.uuid4().hex[:12]}"
    key = f"fs.viewfs.mounttable.{authority}.link./m"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(key, f"file://{tmp_path}")
    yield f"viewfs://{authority}/m"
    hconf.unset(key)


@pytest.fixture(params=["bare", "viewfs"])
def fs_root(request, tmp_path):
    """A writable root, once as a bare local path and once on viewfs."""
    if request.param == "bare":
        return str(tmp_path)
    return request.getfixturevalue("viewfs_root")
