from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from kafka_metrics_exporter_spark.session import get_spark

    s = get_spark(
        app_name="kme-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/kme-spark-warehouse"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# The reference checkout: the original exporter's CLI source, Grafana
# dashboards and Kibana export.  Every test that reads it is marked
# ``reference`` and skips on its own, with this one reason, when the
# checkout is missing.
REFERENCE_DIR = "/root/reference"
REFERENCE_ABSENT = f"reference checkout not present at {REFERENCE_DIR}"
HAVE_REFERENCE = os.path.isdir(REFERENCE_DIR)


def reference_path(*parts: str) -> str:
    return os.path.join(REFERENCE_DIR, *parts)


GRAFANA_DASHBOARDS = reference_path(
    "Prometheus", "jmxexporter_configs", "grafana", "dashboards"
)


def reference_cases(cases: list) -> list:
    """A parameter set drawn from the reference.  Without the checkout
    it is one placeholder case, so the marked test reports a named skip
    rather than an empty parameter set."""
    return cases if HAVE_REFERENCE else [pytest.param(None, id="reference-absent")]


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "reference: reads the reference checkout (REFERENCE_DIR)"
    )


def pytest_runtest_setup(item):
    if not HAVE_REFERENCE and item.get_closest_marker("reference"):
        pytest.skip(REFERENCE_ABSENT)
