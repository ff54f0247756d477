import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def _host_driver_memory() -> str:
    """Half the host's physical memory, between 2g and 8g.  get_spark's
    48g default lets the local JVM's heap grow past physical memory on a
    small host, where the kernel OOM-kills it mid-suite (seen during
    test_functions' iterative graph operators on a 16 GB host) and every
    later Spark test fails."""
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return f"{max(2, min(8, phys_gb // 2))}g"


@pytest.fixture(scope="session")
def spark():
    from recrun_spark.session import get_spark
    # get_spark sizes the driver heap from SPARK_GRAFT_DRIVER_MEM; an
    # explicit setting wins
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _host_driver_memory())
    s = get_spark("recrun_tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="recrun_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def corpus_parquet():
    from recrun_spark.fixtures.generator import write_corpus_parquet
    d = tempfile.mkdtemp(prefix="recrun_corpus_")
    path = os.path.join(d, "documents.parquet")
    write_corpus_parquet(path, 200)
    yield path
    shutil.rmtree(d, ignore_errors=True)
