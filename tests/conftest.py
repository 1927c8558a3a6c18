from __future__ import annotations

import pytest

from kubernetes_logs_datalake_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kld-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def registry_frames(spark):
    """Every registered query built once at sf0.001, shared by the
    whole-registry gates (each ``fn(spark, sf)`` call re-runs any eager
    fit/collect the query does, so each gate building its own 200+
    frames would multiply suite time)."""
    import __spark_entry__ as entrymod

    return {
        name: fn(spark, "/root/testdata/sf0.001")
        for name, fn in entrymod.queries().items()
    }
