from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from moloch_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("moloch_spark_tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture
def manifest_protocol(monkeypatch):
    """Every PartitionCommitter in the test picks the manifest protocol,
    as it does on an object store, while its I/O stays on the local
    filesystem (sources.fs keeps its own is_posix_path)."""
    import moloch_spark.sources.commit as commit_mod

    monkeypatch.setattr(commit_mod, "is_posix_path", lambda path: False)
