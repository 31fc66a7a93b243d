"""SparkSession factory + runtime conf normalization.

The reference hand-tunes for an 8 GB host (reference README.md:501-504:
``spark.default.parallelism=2``, ``spark.sql.shuffle.partitions=4``).  We
instead enable AQE and let runtime statistics coalesce/skew-split partitions,
which is the posture that survives a 1000-executor / 100 TB scale-up.

``ensure_engine_confs`` exists because the correctness driver hands us *its*
SparkSession: every conf the engine depends on must be runtime-settable and
is (re)applied there before any table is read.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Runtime-settable confs the engine depends on.  Notes:
# - session.timeZone=UTC: fixture timestamps are naive UTC; DuckDB oracle
#   agrees only under UTC (SURVEY.md section 7.3 "Timestamp semantics").
# - nanosAsLong: older fixture builds carried TIMESTAMP(NANOS) which Spark's
#   vectorized reader rejects; we read the raw int64 and convert to
#   microseconds ourselves (sources/tables.py), matching DuckDB's ns->us
#   truncation.  Harmless when the fixture is already microseconds.
# - inferTimestampNTZ off: current fixtures store naive TIMESTAMP(MICROS)
#   (isAdjustedToUTC=false), which Spark 4 would otherwise surface as
#   TIMESTAMP_NTZ — a type withWatermark rejects and DuckDB doesn't model.
#   Reading it as session-tz TIMESTAMP under the enforced UTC zone preserves
#   the wall-clock values exactly (sources/tables.py also casts any stray
#   NTZ column defensively).
# - AQE on: runtime partition coalescing + skew-join splitting instead of
#   hand-tuned shuffle partition counts.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# Confs whose absence silently corrupts results (wrong timestamps / failed
# nanos reads) rather than just slowing things down: these must fail loudly.
_CORRECTNESS_CRITICAL = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally created session.

    Correctness-critical confs are verified by reading them back; a mismatch
    raises instead of letting every events-table query return
    wrong-but-plausible results.
    """
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            if k in _CORRECTNESS_CRITICAL:
                raise RuntimeError(
                    f"engine conf {k}={v} could not be set ({exc}); "
                    "results would be silently wrong — refusing to continue"
                ) from exc
            warnings.warn(f"engine conf {k}={v} not applied: {exc}", stacklevel=2)
    for k in _CORRECTNESS_CRITICAL:
        got = spark.conf.get(k, None)
        want = ENGINE_CONFS[k]
        if got is None or got.lower() != want.lower():
            raise RuntimeError(
                f"engine conf {k} reads back as {got!r}, expected {want!r}"
            )
    return spark


def get_spark(
    app_name: str = "orderflow-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine defaults.

    local[$SPARK_GRAFT_CPUS] by default; on a real cluster pass the master
    URL (the reference submits to spark://spark-master:7077,
    docker-compose.yml:156-161).
    """
    if master is None:
        master = default_master()
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in _session_confs(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_engine_confs(spark)


def run_concurrent(spark: SparkSession, *fns) -> list:
    """Run independent blocking Spark work concurrently; return the
    results in argument order.

    Spark job submission is thread-safe, so the scheduler interleaves
    the workers' jobs.  Each worker inherits the caller's local
    properties and tags its jobs with one tag unique to this call.  On
    the first failure every sibling's jobs are cancelled by that tag,
    repeatedly until all siblings have finished (a sibling may submit
    its job only after the first cancel), and the original exception
    is raised, not a sibling's cancellation error."""
    import uuid
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    from pyspark.util import inheritable_thread_target

    sc = spark.sparkContext
    tag = f"run_concurrent_{uuid.uuid4().hex}"

    def tagged(fn):
        # one wrap per worker: each gets its own copy of the properties
        @inheritable_thread_target(spark)
        def run():
            sc.addJobTag(tag)
            try:
                return fn()
            finally:
                sc.removeJobTag(tag)

        return run

    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futs = [pool.submit(tagged(fn)) for fn in fns]
        done, pending = wait(futs, return_when=FIRST_EXCEPTION)
        failed = next((f for f in futs if f in done and f.exception()), None)
        if failed is None:
            return [f.result() for f in futs]
        while pending:
            sc.cancelJobsWithTag(tag)
            _, pending = wait(pending, timeout=0.5)
        raise failed.exception()


@contextmanager
def query_scope(spark: SparkSession, key: str):
    """Tag every Spark job this thread submits inside the block with
    ``key`` (one ``queries()`` entry), so its jobs can be attributed or
    cancelled by entry; ``run_concurrent`` workers started inside
    inherit the tag."""
    sc = spark.sparkContext
    sc.addJobTag(key)
    try:
        yield
    finally:
        sc.removeJobTag(key)


def default_master() -> str:
    """$SPARK_MASTER_URL, else local[$SPARK_GRAFT_CPUS] (default 32)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return os.environ.get("SPARK_MASTER_URL", f"local[{cpus}]")


def _is_local(master: str) -> bool:
    return master == "local" or master.startswith("local[")


def scratch_dir(master: str) -> str | None:
    """The engine's scratch directory for ``master``, created; None when
    there is none.

    $SPARK_GRAFT_SCRATCH wins for any master (empty string disables).
    Unset, a local master gets /dev/shm/spark_graft_local when /dev/shm is
    writable; on a real cluster scratch is the deployment's and the
    engine leaves it alone."""
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH")
    if (
        scratch is None
        and _is_local(master)
        and os.path.isdir("/dev/shm")
        and os.access("/dev/shm", os.W_OK)
    ):
        scratch = "/dev/shm/spark_graft_local"
    if not scratch:
        return None
    os.makedirs(scratch, exist_ok=True)
    return scratch


_NIO_FS_SRC = os.path.join(
    os.path.dirname(__file__), "jvm", "NioLocalFileSystem.java")
_NIO_FS_CLASS = f"{__package__}.jvm.NioLocalFileSystem"


@functools.cache
def _nio_fs_classes(base: str) -> str | None:
    """NioLocalFileSystem compiled against pyspark's Hadoop jar, in a
    directory under ``base`` keyed by the source and the jar's name (so
    a build is reused) and renamed into place whole (so a concurrent
    session never sees half of one); None, with one warning, without
    `javac` or when the compile fails."""
    import pyspark

    jars = glob.glob(os.path.join(
        os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
    javac = shutil.which("javac")
    if not (javac and jars):
        warnings.warn("no javac: Hadoop's local file system forks a chmod "
                      "per file", stacklevel=4)
        return None
    with open(_NIO_FS_SRC, "rb") as f:
        key = hashlib.sha256(f.read() + os.path.basename(jars[0]).encode())
    out = os.path.join(base, f"nio-fs-{key.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    tmp = tempfile.mkdtemp(prefix=".nio-fs-", dir=base)
    try:
        subprocess.run(
            [javac, "--release", "17", "-cp", jars[0], "-d", tmp, _NIO_FS_SRC],
            check=True, capture_output=True, timeout=300)
        os.rename(tmp, out)
    except (OSError, subprocess.SubprocessError) as exc:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(out):  # else another session renamed first
            warnings.warn(f"NioLocalFileSystem did not compile ({exc}): "
                          "Hadoop's local file system forks a chmod per file",
                          stacklevel=4)
            return None
    return out


def _session_confs(
    master: str, shuffle_partitions: int, extra_conf: dict[str, str] | None
) -> dict[str, str]:
    """Every builder conf ``get_spark`` applies for ``master``; later
    keys of ``extra_conf`` override the engine defaults."""
    confs = dict(ENGINE_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Driver heap (guide §5 "memory layout"): in local[N] mode the
    # driver JVM *is* the executor — all N task threads share its heap,
    # and Spark's default is a bare -Xmx1g.  At N=32 that is ~13 MB of
    # execution memory per concurrent task: every hash aggregate/join
    # build spills, and GC time compounds across a long suite (measured
    # on a 32-core host: the same queries run 2-5x slower late-suite
    # under the 1g heap; full bench 314 s -> 186 s with the heap sized
    # to the task count).  Size the heap to the local core count
    # (384 MB/task-slot, floor 2g) capped at 1/4 of host RAM;
    # SPARK_GRAFT_DRIVER_MEM_MB overrides.  On a real cluster
    # (SPARK_MASTER_URL) executor memory is the deployment's knob and
    # the driver does no data work, so the same default is simply a
    # sane driver size there.  Only effective at JVM launch — a
    # pre-existing session keeps its heap.
    mem_mb = os.environ.get("SPARK_GRAFT_DRIVER_MEM_MB")
    if mem_mb is None:
        local_cores = 0
        if master.startswith("local["):
            n = master[len("local["):-1]
            local_cores = os.cpu_count() or 8 if n == "*" else int(n)
        want = max(2048, 384 * local_cores)
        try:
            with open("/proc/meminfo") as f:
                host_kb = int(f.readline().split()[1])
            want = min(want, host_kb // 1024 // 4)
        except (OSError, ValueError, IndexError):
            pass
        mem_mb = str(want)
    confs["spark.driver.memory"] = f"{mem_mb}m"
    # JIT code cache: a long-lived session running hundreds of
    # distinct queries generates thousands of Janino/whole-stage-codegen
    # classes; the JVM default ReservedCodeCacheSize (240 MB) fills
    # mid-suite, after which the JIT flushes/stops compiling and hot
    # codegen loops run cold — the measured late-suite 2-5x per-query
    # degradation.  512 MB keeps the whole suite's generated code
    # resident.  Appended (not overwritten) if the caller passed its own
    # extraJavaOptions via extra_conf.
    _jvm_opts = "-XX:ReservedCodeCacheSize=512m"
    # Scratch space (guide §2.1/§6): spark.local.dir (shuffle files,
    # spills) and java.io.tmpdir (streaming temp checkpoints — offset/
    # commit logs and state-store deltas, several small files created and
    # renamed per micro-batch) default to /tmp; the streaming suite
    # measured 2.5-3.7x faster with scratch on a local tmpfs (s02
    # 7.4 s -> 2.9 s, s19 19.1 s -> 5.1 s under disk contention).
    # See scratch_dir for which master gets which directory.
    scratch = scratch_dir(master)
    if scratch:
        confs["spark.local.dir"] = scratch
        _jvm_opts += f" -Djava.io.tmpdir={scratch}"
    # Forked processes per file on a local master.  Without libhadoop,
    # Hadoop's local file system forks a process for each link probe
    # and each permission change, and streaming creates and renames
    # several checkpoint files per micro-batch (offsets and commits
    # entries, each state-store delta and checksum, their `.crc` files).
    # Two confs remove the two forks:
    # - the FileSystem checkpoint manager drops the `readlink` that
    #   Spark's default FileContext manager forks to probe each rename's
    #   source; it keeps the no-overwrite check (exists(dst), then
    #   rename).  JFR over one perfbench tick_feed run (4 vCPUs): 5,612
    #   forked processes -> 1,956, none of them `readlink`.
    # - NioLocalFileSystem (jvm/, compiled by _nio_fs_classes) makes the
    #   `chmod` that create and mkdirs fork for every file and directory
    #   a system call.  JFR over one untraced tick_feed run (4 vCPUs):
    #   2,312 `chmod` forks -> 0.  Without `javac` the stock file
    #   system stays.
    # A real cluster keeps Spark's default manager, the one with an
    # atomic no-overwrite rename on HDFS, and Hadoop's own file system.
    _ecp_key = "spark.driver.extraClassPath"
    if _is_local(master):
        confs["spark.sql.streaming.checkpointFileManagerClass"] = (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        )
        classes = _nio_fs_classes(scratch or tempfile.gettempdir())
        if classes:
            confs[_ecp_key] = classes
            confs["spark.hadoop.fs.file.impl"] = _NIO_FS_CLASS
    _ejo_key = "spark.driver.extraJavaOptions"
    confs[_ejo_key] = _jvm_opts
    confs["spark.ui.enabled"] = "false"
    extra_conf = dict(extra_conf or {})
    if _ejo_key in extra_conf:
        extra_conf[_ejo_key] = f"{extra_conf[_ejo_key]} {_jvm_opts}"
    if _ecp_key in confs and _ecp_key in extra_conf:
        extra_conf[_ecp_key] += os.pathsep + confs[_ecp_key]
    confs.update(extra_conf)
    return confs
