"""Session plumbing: the tests import this checkout's package, the
local scratch and checkpoint-manager defaults never reach a non-local
master, and a failing concurrent family cancels its siblings' jobs."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

import live_market_data_orderflow_analysis_big_data_project__spark as pkg
from live_market_data_orderflow_analysis_big_data_project__spark.session import (  # noqa: E501
    _session_confs,
    run_concurrent,
    scratch_dir,
)

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CKPT_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
SHM_WRITABLE = os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
SHM_DEFAULT = "/dev/shm/spark_graft_local" if SHM_WRITABLE else None


def test_package_imported_from_this_checkout():
    assert os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) == HERE


def test_non_local_master_leaves_local_dir_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    confs = _session_confs("spark://spark-master:7077", 8, None)
    assert "spark.local.dir" not in confs
    assert "java.io.tmpdir" not in confs["spark.driver.extraJavaOptions"]
    assert CKPT_KEY not in confs
    local = _session_confs("local[2]", 2, None)
    assert local[CKPT_KEY] == FS_MANAGER
    if SHM_WRITABLE:
        assert local["spark.local.dir"].startswith("/dev/shm/")


@pytest.mark.parametrize(
    "master,env,want",
    [
        ("local[2]", None, SHM_DEFAULT),
        ("local", None, SHM_DEFAULT),
        ("spark://spark-master:7077", None, None),
        ("yarn", None, None),
        ("local[2]", "", None),
        ("spark://spark-master:7077", "", None),
        ("local[*]", "{tmp}/s", "{tmp}/s"),
        ("spark://spark-master:7077", "{tmp}/s", "{tmp}/s"),
    ],
)
def test_scratch_dir(monkeypatch, tmp_path, master, env, want):
    """One resolver serves the session confs and bench.py's TMPDIR: an
    explicit SPARK_GRAFT_SCRATCH holds for any master, the /dev/shm
    default and the checkpoint manager for a local master only."""
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SCRATCH", env.format(tmp=tmp_path))
    want = want and want.format(tmp=tmp_path)
    assert scratch_dir(master) == want
    if want:
        assert os.path.isdir(want)
    confs = _session_confs(master, 2, None)
    assert confs.get("spark.local.dir") == want
    assert (CKPT_KEY in confs) == master.startswith("local")


def test_extra_java_options_are_appended_not_replaced(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "")
    confs = _session_confs(
        "local[2]", 2, {"spark.driver.extraJavaOptions": "-Dx=1"}
    )
    assert confs["spark.driver.extraJavaOptions"] == (
        "-Dx=1 -XX:ReservedCodeCacheSize=512m"
    )


def test_checkpoint_manager_refuses_to_overwrite(spark, tmp_path):
    """Built the way streaming builds it, the local session's manager
    keeps the no-overwrite commit the offsets/commits logs rely on to
    detect a second writer."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    assert conf.get(CKPT_KEY) == FS_MANAGER
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(  # noqa: E501
        jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}"), conf
    )
    assert fm.getClass().getName() == FS_MANAGER
    entry = jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}/0")

    def commit(payload: bytes):
        out = fm.createAtomic(entry, False)
        out.write(payload)
        out.close()

    commit(b"first")
    with pytest.raises(Exception, match="FileAlreadyExists"):
        commit(b"second")
    assert (tmp_path / "0").read_bytes() == b"first"


def test_llmops_imports_pyspark_ml_eagerly():
    """The recall families call the ml-backed operators on worker threads
    at the same moment; the module import must have loaded pyspark.ml
    already, so no thread runs its first import concurrently."""
    code = (
        "import sys\n"
        "import live_market_data_orderflow_analysis_big_data_project__spark"
        ".operators.llmops\n"
        "print('pyspark.ml.feature' in sys.modules,"
        " 'pyspark.ml.clustering' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=HERE, capture_output=True,
        text=True, check=True, timeout=120,
    )
    assert out.stdout.split() == ["True", "True"]


def test_run_concurrent_order_tags_and_properties(spark):
    sc = spark.sparkContext
    before = set(sc.getJobTags())

    def probe(i):
        time.sleep(0.2 * (3 - i))  # finish in reverse order
        props = sc.getLocalProperty("spark.test.caller")
        return i, set(sc.getJobTags()), props

    sc.setLocalProperty("spark.test.caller", "yes")
    try:
        out = run_concurrent(spark, *(lambda i=i: probe(i) for i in range(3)))
    finally:
        sc.setLocalProperty("spark.test.caller", None)
    assert [i for i, _, _ in out] == [0, 1, 2]
    added = {frozenset(tags - before) for _, tags, _ in out}
    assert len(added) == 1 and len(next(iter(added))) == 1
    assert all(prop == "yes" for _, _, prop in out)
    assert set(sc.getJobTags()) == before


def _sleeping_job(spark, seconds):
    def slow(batches):
        import time

        time.sleep(seconds)
        yield from batches

    return spark.range(1, numPartitions=1).mapInPandas(slow, "id long").collect()


def _active_jobs(spark, settle_s=10.0):
    """Active job ids, once the listener bus has caught up."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + settle_s
    while tracker.getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.1)
    return tracker.getActiveJobsIds()


@pytest.mark.parametrize("sibling_starts_first", [True, False])
def test_run_concurrent_failure_cancels_sibling_jobs(
    spark, sibling_starts_first
):
    """The sibling's 60 s job is cancelled whether it was already running
    when the family failed or was submitted after the failure."""
    tracker = spark.sparkContext.statusTracker()
    assert not _active_jobs(spark)

    def sibling():
        if not sibling_starts_first:
            time.sleep(2)  # Python work first: the failure comes before the job
        return _sleeping_job(spark, 60)

    def failing():
        if sibling_starts_first:
            deadline = time.time() + 30
            while not tracker.getActiveJobsIds() and time.time() < deadline:
                time.sleep(0.05)
            assert tracker.getActiveJobsIds(), "sibling job never started"
        raise ValueError("family failed")

    t0 = time.time()
    with pytest.raises(ValueError, match="family failed"):
        run_concurrent(spark, sibling, failing)
    assert time.time() - t0 < 30
    assert not _active_jobs(spark)
