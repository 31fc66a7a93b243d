"""Session plumbing: the tests import this checkout's package, the
local scratch, checkpoint-manager and NIO file system defaults never
reach a non-local master, a failing concurrent family cancels its
siblings' jobs, and a query scope tags its entry's jobs."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import time
import warnings

import pytest
from py4j.protocol import Py4JJavaError

import live_market_data_orderflow_analysis_big_data_project__spark as pkg
from live_market_data_orderflow_analysis_big_data_project__spark import session
from live_market_data_orderflow_analysis_big_data_project__spark.session import (  # noqa: E501
    ENGINE_CONFS,
    _nio_fs_classes,
    _session_confs,
    query_scope,
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
ECP_KEY = "spark.driver.extraClassPath"
FS_KEY = "spark.hadoop.fs.file.impl"
NIO_FS = (
    "live_market_data_orderflow_analysis_big_data_project__spark.jvm."
    "NioLocalFileSystem"
)
STOCK_FS = "org.apache.hadoop.fs.LocalFileSystem"
# what _session_confs adds to ENGINE_CONFS when the NIO build is absent
STOCK_FS_KEYS = {
    "spark.sql.shuffle.partitions", "spark.driver.memory", "spark.local.dir",
    CKPT_KEY, "spark.driver.extraJavaOptions", "spark.ui.enabled",
}
needs_javac = pytest.mark.skipif(
    shutil.which("javac") is None,
    reason="no JDK: local sessions run on the stock file system",
)


def test_package_imported_from_this_checkout():
    assert os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) == HERE


def test_non_local_master_leaves_local_dir_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    confs = _session_confs("spark://spark-master:7077", 8, None)
    assert "spark.local.dir" not in confs
    assert "java.io.tmpdir" not in confs["spark.driver.extraJavaOptions"]
    assert CKPT_KEY not in confs
    assert ECP_KEY not in confs and FS_KEY not in confs
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


@pytest.fixture
def fresh_build(monkeypatch, tmp_path):
    """An empty scratch directory and no remembered NIO build."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    _nio_fs_classes.cache_clear()
    yield tmp_path / "scratch"
    _nio_fs_classes.cache_clear()


def test_extra_java_options_are_appended_not_replaced(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "")
    confs = _session_confs(
        "local[2]", 2, {"spark.driver.extraJavaOptions": "-Dx=1"}
    )
    assert confs["spark.driver.extraJavaOptions"] == (
        "-Dx=1 -XX:ReservedCodeCacheSize=512m"
    )


@needs_javac
def test_extra_class_path_is_appended_not_replaced(fresh_build):
    theirs = {ECP_KEY: "/opt/their.jar"}
    local = _session_confs("local[2]", 2, theirs)
    assert local[ECP_KEY].split(os.pathsep) == [
        "/opt/their.jar", _nio_fs_classes(str(fresh_build))
    ]
    cluster = _session_confs("spark://spark-master:7077", 2, theirs)
    assert cluster[ECP_KEY] == "/opt/their.jar"


@needs_javac
def test_nio_fs_build_is_reused(fresh_build, monkeypatch):
    confs = _session_confs("local[2]", 2, None)
    classes = confs[ECP_KEY]
    assert confs[FS_KEY] == NIO_FS
    assert os.path.dirname(classes) == str(fresh_build)
    assert os.path.isfile(os.path.join(classes, *NIO_FS.split(".")) + ".class")
    assert os.listdir(fresh_build) == [os.path.basename(classes)]

    def no_compile(*args, **kwargs):
        raise AssertionError("recompiled an existing build")

    _nio_fs_classes.cache_clear()  # as a new process would
    monkeypatch.setattr(subprocess, "run", no_compile)
    assert _session_confs("local[2]", 2, None) == confs


@pytest.mark.parametrize("case", ["spark master", "no javac", "bad source"])
def test_nio_fs_fallback_keeps_stock_confs(fresh_build, monkeypatch, case):
    """Without a build, or on a real cluster, the session confs are the
    ones Hadoop's own file system ran with; a failed build warns once."""
    local = case != "spark master"
    master = "local[2]" if local else "spark://spark-master:7077"
    if case == "no javac":
        monkeypatch.setattr(shutil, "which", lambda name: None)
    if case == "bad source":
        bad = fresh_build.parent / "Broken.java"
        bad.write_text("class Broken { syntax error }\n")
        monkeypatch.setattr(session, "_NIO_FS_SRC", str(bad))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        confs = _session_confs(master, 2, None)
        assert _session_confs(master, 2, None) == confs
    assert ECP_KEY not in confs and FS_KEY not in confs
    assert set(confs) - set(ENGINE_CONFS) == (
        STOCK_FS_KEYS if local else STOCK_FS_KEYS - {CKPT_KEY}
    )
    built = [n for n in os.listdir(fresh_build) if "nio-fs-" in n]
    assert built == []
    assert len(caught) == (1 if local else 0)


def _hadoop_fs(spark, impl, umask):
    """A new ``impl`` instance on a fresh Hadoop Configuration."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    conf.set("fs.file.impl", impl)
    fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(
        jvm.java.net.URI("file:///"), conf
    )
    assert fs.getClass().getName() == impl
    return fs


@needs_javac
@pytest.mark.parametrize("umask", ["022", "077"])
def test_nio_fs_modes_match_stock_local_fs(spark, tmp_path, umask):
    """The session's file system is the NIO one, and what it creates gets
    the mode bits the stock LocalFileSystem gives, .crc files included."""
    jvm = spark._jvm
    assert jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    ).getClass().getName() == NIO_FS
    modes = {}
    for impl in (NIO_FS, STOCK_FS):
        root = tmp_path / impl.rsplit(".", 1)[1]
        fs = _hadoop_fs(spark, impl, umask)
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(f"file://{root}/a/b"))
        for rel in ("a/b/part-0", "c/d/_SUCCESS"):
            path = jvm.org.apache.hadoop.fs.Path(f"file://{root}/{rel}")
            fs.create(path, True).close()
        fs.close()
        modes[impl] = {
            str(p.relative_to(root)): stat.S_IMODE(p.stat().st_mode)
            for p in root.rglob("*")
        }
    assert modes[NIO_FS] == modes[STOCK_FS]
    d, f = (0o755, 0o644) if umask == "022" else (0o700, 0o600)
    assert modes[NIO_FS]["a/b"] == modes[NIO_FS]["c/d"] == d
    assert modes[NIO_FS]["a/b/part-0"] == modes[NIO_FS]["a/b/.part-0.crc"] == f


@needs_javac
def test_nio_fs_set_permission(spark, tmp_path):
    """setPermission applies nine-bit modes, keeps a sticky bit, and on a
    missing path raises Hadoop's FileNotFoundException."""
    jvm = spark._jvm
    fs = _hadoop_fs(spark, NIO_FS, "022")
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission

    def path(rel):
        return jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}/{rel}")

    fs.create(path("f"), True).close()
    fs.setPermission(path("f"), perm(0o640))
    fs.mkdirs(path("shared"))
    fs.setPermission(path("shared"), perm(0o1777))
    assert stat.S_IMODE((tmp_path / "f").stat().st_mode) == 0o640
    assert stat.S_IMODE((tmp_path / "shared").stat().st_mode) == 0o1777
    with pytest.raises(Py4JJavaError) as err:
        fs.setPermission(path("missing"), perm(0o640))
    assert (
        err.value.java_exception.getClass().getName()
        == "java.io.FileNotFoundException"
    )
    fs.close()


@needs_javac
def test_nio_fs_renames_like_the_file_system_it_replaces(spark, tmp_path):
    """Without the NIO class a session's file:// is Hive's
    ProxyLocalFileSystem (registered by pyspark's jars), whose rename
    refuses an existing file; the NIO one renames the same way."""
    jvm = spark._jvm
    proxy = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"
    outcomes = {}
    for impl in (NIO_FS, proxy):
        root = tmp_path / impl.rsplit(".", 1)[1]
        (root / "d").mkdir(parents=True)
        for name in ("a", "b", "c"):
            (root / name).write_text(name)
        fs = _hadoop_fs(spark, impl, "022")

        def path(rel, root=root):
            return jvm.org.apache.hadoop.fs.Path(f"file://{root}/{rel}")

        renamed = [
            fs.rename(path("a"), path("b")),  # onto a file: refused
            fs.rename(path("a"), path("d")),  # into a directory
            fs.rename(path("c"), path("e")),  # to a new name
        ]
        fs.close()
        outcomes[impl] = renamed, {
            str(p.relative_to(root)): p.read_text()
            for p in root.rglob("*") if p.is_file()
        }
    assert outcomes[NIO_FS] == outcomes[proxy]
    assert outcomes[NIO_FS] == (
        [False, True, True], {"b": "b", "d/a": "a", "e": "c"}
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


def test_query_scope_tags_the_entry_and_its_workers(spark):
    sc = spark.sparkContext
    key = "q00_scope_probe"
    with query_scope(spark, key):
        inside = set(sc.getJobTags())
        (worker,) = run_concurrent(spark, lambda: set(sc.getJobTags()))
    assert key in inside and key in worker
    assert key not in sc.getJobTags()
    with pytest.raises(ValueError):
        with query_scope(spark, key):
            raise ValueError("entry failed")
    assert key not in sc.getJobTags()


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
