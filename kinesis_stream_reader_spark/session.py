"""SparkSession construction with scale-oriented defaults.

The engine is designed for a multi-executor cluster reading ~100 TB;
locally it runs ``local[$SPARK_GRAFT_CPUS]``. All tuning lives here so
tests, bench and the driver share one profile.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession
from .scratch import scratch

# The driver's synthetic parquet writes TIMESTAMP(NANOS), which Spark
# rejects at schema inference unless this legacy conf is set. We read the
# nano-epoch longs and convert explicitly in sources.tables.
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _ensure_protobuf() -> bool:
    """Best-effort `google.protobuf` for transformWithStateInPandas.

    The TWS Python worker speaks a protobuf state-server protocol
    (pyspark.sql.streaming.proto), but this container ships no protobuf
    wheel and installs are disallowed. The google-cloud-sdk on the image
    bundles a modern pure-Python protobuf (6.32) under its appengine
    platform dir; putting that on sys.path AND PYTHONPATH (so local-mode
    Python workers, which inherit the JVM's env, resolve it too) makes
    the whole TWS path executable. The one-minor-version gencode gap
    (pyspark's pb2 files are 6.33) is waived with protobuf's own
    documented escape hatch. Everything is gated: absent the SDK dir
    this is a no-op and TWS tests skip as before.

    Must run BEFORE the JVM starts for the env to reach workers — hence
    module import time, not first use."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    gae = "/usr/lib/google-cloud-sdk/platform/google_appengine"
    if not os.path.isdir(os.path.join(gae, "google", "protobuf")):
        return False
    if gae not in sys.path:
        sys.path.append(gae)
    os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if gae not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in [gae, *parts] if p)
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


HAVE_PROTOBUF = _ensure_protobuf()

# Large numpy buffers (GEMM outputs, argpartition scratch in the kNN /
# media kernels) default to mmap'd allocations that glibc returns to the
# OS on free — on this sandbox's VM, re-faulting those pages costs
# ~45 MB/s (measured: a 200 MB astype = 9 s cold, 0.06 s warm). Raising
# the mmap/trim thresholds keeps big allocations on the reusable heap,
# so a long-lived Python worker pays the fault cost once, not per task.
# Must be in the environment BEFORE the JVM forks workers.
for _var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
    os.environ.setdefault(_var, "1073741824")

# The env vars above only reach processes forked AFTER this point (the
# Python workers); the DRIVER process itself already parsed its mallopt
# tunables at startup, so driver-side numpy kernels (the census-algebra
# EAGER queries: dense Brandes, Lloyd reductions, BPE driver training)
# still mmap'd every large temporary and re-paid the ~45 MB/s fault cost
# per allocation (measured: the 64 MB Brandes dependency tensor swung
# 0.2 -> 3.7 s run-over-run). glibc exposes the same knobs at runtime
# via mallopt(3) — apply them to THIS process too (optimization round
# 13, guide §1.2 fixed overhead). Best-effort: non-glibc platforms just
# skip.
try:
    import ctypes

    _libc = ctypes.CDLL("libc.so.6", use_errno=True)
    _libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
    _libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
except Exception:  # pragma: no cover - platform without glibc mallopt
    pass

# Ephemeral engine scratch (shuffle files, localCheckpoint blocks,
# streaming checkpoint/WAL dirs, sink temp dirs) defaults to tempfile's
# /tmp — DISK-backed on this sandbox, so every micro-batch pays offset/
# commit-log fsyncs to disk and every localCheckpoint writes through
# the page cache (round 13, guide §6). /dev/shm is a tmpfs sized to
# half of RAM; the engine's ephemeral I/O at bench scale is tens of MB,
# so redirect BOTH spark.local.dir and tempfile there when available.
# Production: spark.local.dir belongs on fast local SSDs and streaming
# checkpoints on durable storage — both stay overridable
# (SPARK_GRAFT_LOCAL_DIR=- disables the redirect entirely). Durable
# cross-invocation fixtures (KSR_SCRATCH) are NOT moved.
def _fast_tmp() -> str | None:
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override == "-":
        return None
    if override:
        return override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            # implicit default only when the tmpfs has real headroom
            # (>= 4 GiB free) — a small /dev/shm would turn shuffle
            # spill into instant OOM
            if st.f_bavail * st.f_frsize < 4 << 30:
                return None
        except OSError:  # pragma: no cover - statvfs unsupported
            return None
        return os.path.join(shm, "ksr_local")
    return None


def _local_dir_for(master: str) -> str | None:
    """spark.local.dir (shuffle spill!) only defaults to tmpfs under a
    LOCAL master — on a cluster node the same default would silently
    put 100 TB-scale spill in RAM. An explicit SPARK_GRAFT_LOCAL_DIR
    override is honored for any master (the operator said so), read at
    call time like the decision itself; ``-`` disables the redirect."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override == "-":
        return None
    if override:
        return override
    if FAST_TMP and master.startswith("local"):
        return FAST_TMP
    return None


# Every streaming trigger writes an offset-log entry, a commit-log entry
# and a delta file per state store. pip PySpark ships no libhadoop, so
# Hadoop's local filesystem falls back to shell commands for what the
# native library would do: RawLocalFileSystem.setPermission runs
# `chmod` for every file it creates (a data file and its .crc), under
# any checkpoint manager, and its link-status lookup runs `readlink`.
# Spark's default manager for `file:` paths,
# FileContextBasedCheckpointFileManager, resolves link status through
# FileContext on every create and rename-with-overwrite: 8 `readlink`
# processes per atomic checkpoint write, on top of the 2 `chmod`s.
# FileSystemBasedCheckpointFileManager makes only the `chmod`s. On a local
# filesystem that manager commits with rename(2), atomic for the single
# writer a local master has. A cluster master keeps Spark's FileContext
# manager, whose rename-with-overwrite is the atomic commit on
# HDFS-class storage.
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def checkpoint_confs_for(master: str) -> dict[str, str]:
    """Checkpoint-manager confs for a session on `master`: the
    FileSystem-based manager under a local master, nothing otherwise —
    the same local-master rule as ``_local_dir_for``."""
    if master.startswith("local"):
        return {CHECKPOINT_MANAGER_CONF: FS_CHECKPOINT_MANAGER}
    return {}


FAST_TMP = _fast_tmp()
if FAST_TMP:
    import tempfile

    os.makedirs(FAST_TMP, exist_ok=True)
    os.environ.setdefault("TMPDIR", FAST_TMP)
    tempfile.tempdir = FAST_TMP

# transformWithStateInPandas needs a state store with multiple column
# families — only RocksDB (bundled with Spark 4) supports that; the
# HDFS-backed default rejects it at task start.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def env_int(var: str, default, minimum: int = 1):
    """Integer setting ``var`` from the environment, validated where it
    is read: unset or blank gives ``default``; anything else must be a
    decimal integer >= ``minimum`` (1, or 0 where 0 disables a fast
    path), else a ValueError names the variable."""
    raw = os.environ.get(var, "").strip()
    if not raw:
        return default
    if not raw.isdecimal() or int(raw) < minimum:
        kind = "positive" if minimum > 0 else "non-negative"
        raise ValueError(f"{var} must be a {kind} integer, got {raw!r}")
    return int(raw)


def default_parallelism() -> int:
    return env_int("SPARK_GRAFT_CPUS", 32)


def get_spark(app_name: str = "kinesis_stream_reader_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    AQE is on (runtime coalescing + skew-join splitting), shuffle
    partitions sized to the local core count (a cluster deployment would
    size this to 2-3x total cores), Arrow enabled for the few pandas-UDF
    operators (KPL protobuf decode, multimodal stubs).
    """
    n = cpus or default_parallelism()
    master = f"local[{n}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config(NANOS_CONF, "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", scratch("ksr_warehouse"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    local_dir = _local_dir_for(master)
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for key, value in checkpoint_confs_for(master).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def get_host_spark(app_name: str) -> SparkSession:
    """`get_spark` at SPARK_GRAFT_CPUS, or the host's cores when that is
    unset — the session of tools/check.py, explain.py and timequery.py,
    so they check, plan and time at this host's task slots. The count is
    exported, so in-process readers (`default_parallelism`,
    `ensure_confs`) agree."""
    cpus = env_int("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    return get_spark(app_name, cpus=cpus)


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs the engine needs on a session we did not
    build (the correctness driver passes its own SparkSession). Under a
    local master that includes the checkpoint manager of
    ``checkpoint_confs_for``, unless the session already names one."""
    runtime_confs = [
        (NANOS_CONF, "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.shuffle.partitions", str(default_parallelism())),
    ]
    try:
        master = spark.conf.get("spark.master", "")
        runtime_confs += [
            (key, value)
            for key, value in checkpoint_confs_for(master).items()
            if spark.conf.get(key, None) is None
        ]
    except Exception:
        pass
    for key, value in runtime_confs:
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    return spark
