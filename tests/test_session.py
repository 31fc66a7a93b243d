"""Session plumbing: the tests import this checkout's package, and the
local scratch default never reaches a non-local master."""

from __future__ import annotations

import os

import live_market_data_orderflow_analysis_big_data_project__spark as pkg
from live_market_data_orderflow_analysis_big_data_project__spark.session import (  # noqa: E501
    _session_confs,
)

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_imported_from_this_checkout():
    assert os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) == HERE


def test_non_local_master_leaves_local_dir_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    confs = _session_confs("spark://spark-master:7077", 8, None)
    assert "spark.local.dir" not in confs
    assert "java.io.tmpdir" not in confs["spark.driver.extraJavaOptions"]
    if os.access("/dev/shm", os.W_OK):
        local = _session_confs("local[2]", 2, None)
        assert local["spark.local.dir"].startswith("/dev/shm/")


def test_extra_java_options_are_appended_not_replaced(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "")
    confs = _session_confs(
        "local[2]", 2, {"spark.driver.extraJavaOptions": "-Dx=1"}
    )
    assert confs["spark.driver.extraJavaOptions"] == (
        "-Dx=1 -XX:ReservedCodeCacheSize=512m"
    )
