"""SparkSession factory with scale-oriented defaults.

Local mode is a stand-in for a multi-executor cluster: AQE, skew-join
handling and partial aggregation behave the same way, so plans tuned here
carry over. Arrow batch size is capped because the ``bytes`` column of the
image table is MB-scale per row (SURVEY.md §4 item 4).
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "xmlschema_spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 256,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` maps to ``local[N]``; ``"*"`` means the cores this process
    may run on. ``shuffle_partitions`` defaults to 2× cores locally (on a
    real cluster you would size it to data volume: ~target 128–256 MB per
    shuffle partition). ``spark.driver.memory`` is ``SPARK_DRIVER_MEM`` if
    set, else half the host's physical memory, capped at 48g.
    """
    if isinstance(cores, str) and cores != "*":
        cores = int(cores)
    n_cores = len(os.sched_getaffinity(0)) if cores == "*" else cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * n_cores)

    # one BLAS thread per Python worker: each executor core runs its own
    # worker process, so intra-op BLAS pools would oversubscribe the box
    # N_workers × N_blas_threads (observed anti-scaling local[8]→local[32]).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records)
        )
        # cache batches row-capped to the Arrow batch size: the 10000-row
        # default builds ~hundreds-of-MB columnar batches when rows carry
        # MB-scale binary payloads — humongous G1 allocations that turn GC
        # into a serial bottleneck exactly when every core is scanning
        .config("spark.sql.inMemoryColumnarStorage.batchSize", str(arrow_max_records))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _host_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _host_driver_memory() -> str:
    """Half the host's physical memory in whole GiB (at least 1), capped at
    48g: the driver JVM shares the host with the Python workers."""
    half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return f"{max(1, min(48, half))}g"


def package_zip() -> Path | None:
    """Zip the installed package for shipping (``--py-files`` / addPyFile).

    Content-fingerprinted filename so repeat calls are free and Spark's
    addPyFile dedup works. Returns None when the package is ALREADY being
    imported from a zip (a ``spark-submit --py-files`` run): there is no
    source tree to re-zip — and no need, spark-submit has already shipped
    the original archive to every executor."""
    import hashlib

    pkg_dir = Path(__file__).resolve().parent
    if not pkg_dir.is_dir():  # zipimport: __file__ points inside the archive
        return None
    files = sorted(pkg_dir.rglob("*.py"))
    fingerprint = hashlib.sha256(
        "".join(f"{p}:{p.stat().st_mtime_ns}:{p.stat().st_size}" for p in files).encode()
    ).hexdigest()[:12]
    zip_path = Path(tempfile.gettempdir()) / f"xmlschema_spark_{fingerprint}.zip"
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for py in files:
                zf.write(py, f"xmlschema_spark/{py.relative_to(pkg_dir)}")
    return zip_path


def _ship_package(spark: SparkSession) -> None:
    """Make ``xmlschema_spark`` importable on executor Python workers.

    The pandas-UDF closures reference this package, so workers must be
    able to import it regardless of the driver's cwd — the same problem
    ``spark-submit --py-files xmlschema_spark.zip`` solves on a real
    cluster. Zips the installed package once per session and addPyFile's
    it (idempotent: Spark dedups by filename)."""
    zip_path = package_zip()
    if zip_path is not None:
        spark.sparkContext.addPyFile(str(zip_path))
