from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from near_duplicate_detection_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # the tier-1 command exports SPARK_GRAFT_CPUS; unset, get_spark sizes
    # the master from the CPUs this process may use
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    s = get_spark(
        app_name="ndd-tests",
        master=f"local[{cpus}]" if cpus else None,
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture()
def tmp_catalog_dir(tmp_path):
    d = str(tmp_path / "catalog")
    yield d
    shutil.rmtree(d, ignore_errors=True)
