from __future__ import annotations

import os
import sys
import time
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from env_event_stream_spark.session import get_spark
from env_event_stream_spark.tables import prepare_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    prepare_session(s)
    yield s


@pytest.fixture
def host_tz(request):
    """Run the test body with the Python process in another zone
    (parametrize it with ``indirect=True``)."""
    if not hasattr(time, "tzset"):
        pytest.skip("tzset not available")
    old = os.environ.get("TZ")
    os.environ["TZ"] = request.param
    time.tzset()
    yield request.param
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def require_default_broadcast(spark):
    """Plan-shape pins assume size-based broadcast is available; under
    the `nobroadcast` invariance sweep (autoBroadcastJoinThreshold=-1)
    every broadcast leg legitimately becomes a shuffle, so the pinned
    shapes don't apply — skip rather than fail, and say why."""
    thr = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", ""))
    if thr.removesuffix("b").lstrip("-").isdigit() and int(thr.removesuffix("b")) <= 0:
        pytest.skip("size-based broadcast disabled (nobroadcast sweep) — "
                    "plan shapes pinned under the default config only")


def require_wholestage_codegen(spark):
    """Codegen-marker pins are vacuous under the `nocodegen` sweep."""
    if str(spark.conf.get("spark.sql.codegen.wholeStage", "true")).lower() == "false":
        pytest.skip("whole-stage codegen disabled (nocodegen sweep)")


class JobBudget:
    """Counts the Spark jobs started in a job group of its own."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = f"budget-{uuid.uuid4().hex}"

    def __enter__(self):
        self.sc.setJobGroup(self.group, "job budget")
        return self

    def __exit__(self, *exc):
        self.sc._jsc.clearJobGroup()

    def jobs(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))
