"""The benchmark's own test: shoreline_full must keep paying for the
as-of tide join. A `.count()` sink lets Spark prune the join's window;
writing every output column keeps it, so the plan the benchmark writes
must still hold the Window.

    python3 -m pytest perfbench/test_sink_plan.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import MONTHS, ShorelineFull, row_start, write_months  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from coastsat_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    s = get_spark(
        app_name="perfbench-test",
        cpus=2,
        extra_conf={"spark.local.dir": str(tmp_path_factory.mktemp("local"))},
    )
    yield s
    s.stop()


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_shoreline_sink_keeps_asof_window(spark, tmp_path):
    wl = ShorelineFull(str(tmp_path), seed=0)
    write_months(row_start(0), 3_000, wl.docs_path, MONTHS)
    wl.spark = spark
    res, corrected = wl.sink_plan()
    assert "Window" in _plan(corrected)
    assert "tide" in corrected.columns and "chainage_corrected" in corrected.columns
    # the sink the benchmark replaces: counting rows drops the as-of window
    assert "Window" not in _plan(corrected.groupBy().count())
    res.pixels.unpersist()
