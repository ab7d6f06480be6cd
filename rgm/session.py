"""Tuned SparkSession factory.

Defaults encode the engine's scale posture: AQE on (skew-join splitting +
partition coalescing), Arrow transfer for the vectorized UDF path, shuffle
partition count matched to parallelism rather than the 200 default.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip the rgm package for --py-files-style shipping to executors.

    On a real cluster this is the artifact passed to ``spark-submit
    --py-files``; locally we ``addPyFile`` it so Python workers can import
    ``rgm`` inside pandas UDFs.

    The artifact is content-addressed (``rgm_pkg_<sha>.zip``) and written
    atomically: SparkContext.addFile rejects a path whose bytes changed
    since it was first registered, so a shared fixed path is a race on any
    multi-session host — one session rewriting the zip (or a reader seeing
    a half-written archive) aborts another session's running jobs with
    "exists and does not match contents". Same source bytes always produce
    the same file (sorted walk, fixed zip timestamps, __pycache__
    excluded); different sources get different names.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    members = []
    digest = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".pyc"):
                continue
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, root).replace(os.sep, "/")
            with open(full, "rb") as f:
                data = f.read()
            digest.update(rel.encode())
            digest.update(b"\0")
            digest.update(data)
            members.append((rel, data))
    final = os.path.join(
        tempfile.gettempdir(), f"rgm_pkg_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(final):
        tmp = f"{final}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel, data in members:
                info = zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0))
                info.external_attr = 0o644 << 16
                zf.writestr(info, data)
        os.replace(tmp, final)
    return final


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def host_mem_mb() -> int | None:
    """MemTotal from /proc/meminfo in MiB; None where there is none."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def default_driver_memory() -> str:
    """Half the host's RAM, between 1g and 48g (48g where MemTotal is
    unknown): local mode runs every executor inside the driver JVM, and
    the other half stays for its Python workers and the OS."""
    mem_mb = host_mem_mb()
    if mem_mb is None:
        return "48g"
    return f"{min(max(mem_mb // 2048, 1), 48)}g"


def get_spark(
    app_name: str = "rgm",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session with ``cpus`` local slots (default: $SPARK_GRAFT_CPUS, else
    the host's CPUs) and ``driver_memory`` (default: half the host's RAM)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", host_cpus()))
    if driver_memory is None:
        driver_memory = default_driver_memory()
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    # getOrCreate returns the live context on repeat calls; re-adding the
    # same zip is a no-op Spark warns about on every query, so ship once.
    path = package_zip()
    if getattr(sc, "_rgm_shipped_zip", None) != path:
        sc.addPyFile(path)
        sc._rgm_shipped_zip = path
    return spark
