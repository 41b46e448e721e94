"""SparkSession factory with scale-oriented defaults.

Tuned for the target workload: wide binary payload scans + Arrow-batched
Python kernels + dimension broadcast joins. Local-mode values are set for
the sandbox (local[N], single JVM); on a real cluster the same conf names
apply with cluster-appropriate values (see PLAN notes in plans/pipeline.py).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


_SHIPPED_APPS: set[str] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship ``ocr_platform_spark`` to the session's executors if not done.

    Safe to call on ANY session — including one the test driver created
    without this factory: without it, mapInArrow kernels and pandas UDFs
    fail executor-side import whenever the worker's PYTHONPATH lacks the
    repo root. Idempotent per application."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APPS:
        return
    _ship_package(spark)
    # Timestamp-rendering queries (events_hourly, …) agree
    # with the DuckDB oracle only under UTC; a bare foreign session may carry
    # any timezone. Runtime-settable conf, so pin it here — parity must not
    # depend on how the session was built.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _SHIPPED_APPS.add(app_id)


def _ship_package(spark: SparkSession) -> None:
    """Ship ``ocr_platform_spark`` to executors (the ``spark-submit
    --py-files`` story, self-served): zip the package and ``addPyFile`` it,
    so kernels unpickle on workers regardless of the driver's cwd."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"{pkg_name}-pyfiles.zip")
    newest_src = max(
        os.path.getmtime(os.path.join(root, fn))
        for root, _d, files in os.walk(pkg_dir)
        for fn in files
        if fn.endswith(".py")
    )
    if not os.path.exists(zpath) or os.path.getmtime(zpath) < newest_src:
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)


def _default_master() -> str:
    """``local[SPARK_GRAFT_CPUS]``, else one task slot per host core."""
    return f"local[{os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count() or 1}]"


def _default_driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else half the host's RAM, capped at 24 GB: a
    fixed large heap gets the JVM OOM-killed on a small host."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, ram_mb // 2)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "ocr-platform-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or _default_master()
    # Derive core count from the master string for shuffle sizing.
    cores = 32
    if master.startswith("local["):
        inner = master[6:-1]
        cores = (os.cpu_count() or 1) if inner == "*" else int(inner)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores * 2, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing of small shuffle partitions + skew-join splits.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow: the only Python hop is whole-partition mapInArrow kernels.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Cap Arrow batch size so a batch of html blobs (~KBs..16MB each,
        # cf. reference MAX_CONTENT_LENGTH ocr_backend/app/config.py:23)
        # fits comfortably in the Python worker.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Byte-bound batches too: with 16 MB max payloads a record-count
        # bound alone could build a 32 GB batch. Whichever limit hits first
        # closes the batch (Spark 4 honors both).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        # UTC everywhere: required for DuckDB-oracle timestamp agreement.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", _default_driver_memory())
        # ~100MB parquet split targets keep scan tasks uniform at scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
