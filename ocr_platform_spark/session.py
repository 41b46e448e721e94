"""SparkSession factory with scale-oriented defaults.

Tuned for the target workload: wide binary payload scans + Arrow-batched
Python kernels + dimension broadcast joins. Local-mode values are set for
the sandbox (local[N], single JVM); on a real cluster the same conf names
apply with cluster-appropriate values (see PLAN notes in plans/pipeline.py).
Local sessions also run their Python workers under the package's own
daemon (``_daemon.py``), which skips PySpark's per-task import-cache reset.
"""

from __future__ import annotations

import hashlib
import os
import re
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
    spark.sparkContext.addPyFile(_package_zip())
    # Timestamp-rendering queries (events_hourly, …) agree
    # with the DuckDB oracle only under UTC; a bare foreign session may carry
    # any timezone. Runtime-settable conf, so pin it here — parity must not
    # depend on how the session was built. A session whose SparkConf already
    # says UTC (every get_spark session) starts with it; touching the runtime
    # conf there would build the session state now (~0.3 s) instead of in the
    # first query.
    if spark.sparkContext.getConf().get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    _SHIPPED_APPS.add(app_id)


def _package_zip() -> str:
    """Zip ``ocr_platform_spark`` for ``addPyFile`` (the ``spark-submit
    --py-files`` story, self-served) and return the zip's path.

    The name carries a hash of the sources, so two checkouts (or two versions
    of one) never ship each other's code, and an existing zip of that name is
    reused as is. Written under a unique name and renamed into place, so a
    concurrent builder never sees a partial zip."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    sources: dict[str, bytes] = {}
    for root, dirs, files in os.walk(pkg_dir):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                with open(full, "rb") as fh:
                    sources[os.path.join(pkg_name, os.path.relpath(full, pkg_dir))] = fh.read()
    digest = hashlib.sha256()
    for rel in sorted(sources):
        digest.update(f"{rel}\0{len(sources[rel])}\0".encode() + sources[rel])
    zpath = os.path.join(tempfile.gettempdir(), f"{pkg_name}-{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zpath):
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(zpath), suffix=".zip.tmp")
        try:
            with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w", zipfile.ZIP_DEFLATED) as zf:
                for rel in sorted(sources):
                    zf.writestr(rel, sources[rel])
            os.chmod(tmp, 0o644)  # mkstemp's 0600 would hide it from other users
            os.replace(tmp, zpath)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    return zpath


def local_cores(master: str) -> int | None:
    """Task slots of a ``local`` master (``local``, ``local[N]``,
    ``local[*]``, ``local[N,F]``, ``local[*,F]``); ``None`` for any other.
    Same forms as Spark's own master parser (``SparkContext``)."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:\s*,\s*\d+)?\])?", master)
    if m is None:
        return None
    n = m.group(1)
    if n == "*":
        return os.cpu_count() or 1
    return int(n) if n else 1


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


def session_conf(
    master: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The Spark conf ``get_spark`` builds a session with (no session needed)."""
    cores = local_cores(master)
    if shuffle_partitions is None:
        # non-local masters: sized for a 32-core cluster
        shuffle_partitions = max((cores or 32) * 2, 8)
    conf = {
        # AQE: runtime coalescing of small shuffle partitions + skew-join splits.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow: the only Python hop is whole-partition mapInArrow kernels.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Cap Arrow batch size so a batch of html blobs (~KBs..16MB each,
        # cf. reference MAX_CONTENT_LENGTH ocr_backend/app/config.py:23)
        # fits comfortably in the Python worker.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        # Byte-bound batches too: with 16 MB max payloads a record-count
        # bound alone could build a 32 GB batch. Whichever limit hits first
        # closes the batch (Spark 4 honors both).
        "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
        # UTC everywhere: required for DuckDB-oracle timestamp agreement.
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": _default_driver_memory(),
        # ~100MB parquet split targets keep scan tasks uniform at scale.
        "spark.sql.files.maxPartitionBytes": "134217728",
    }
    conf.update(extra_conf or {})
    if cores is not None:
        # Python workers fork from the package's own daemon (_daemon.py), which
        # pays importlib's per-task cache invalidation once per worker. The
        # workers import it from the driver's copy of the package, so only a
        # local master can use it: elsewhere a missing module fails every task.
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        paths = [p for p in conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep) if p]
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            [root] + [p for p in paths if p != root]
        )
        conf.setdefault("spark.python.daemon.module", "ocr_platform_spark._daemon")
    return conf


def get_spark(
    master: str | None = None,
    app_name: str = "ocr-platform-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or _default_master()
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_shipped(spark)
    return spark
